package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** splitmix64 finalizer as a codegen'd expression — wrapping 64-bit
  * arithmetic (which ANSI-mode Column arithmetic correctly refuses), used
  * for deterministic hash-derived geocodes and salts. */
case class SplitMix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(x: Any): Any =
    graft.synth.Pages.mix(x.asInstanceOf[Number].longValue())
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SplitMix64.mix($c)")
  override protected def withNewChildInternal(c: Expression): SplitMix64 = copy(c)
  override def prettyName: String = "splitmix64"
}

object SplitMix64 {
  /** Referenced from generated code. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def col(x: Column): Column = Catalyst.column(SplitMix64(Catalyst.expr(x)))
}
