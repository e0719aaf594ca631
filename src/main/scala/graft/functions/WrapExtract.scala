package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Round-trips a text through the engine's html wrap + extract path
  * (graft.synth.Pages.htmlOf / extractText): the per-url byte-identical
  * extracted-text invariant (BASELINE.json input_hint) surfaces as
  * sha256(wrap_extract(text, url)) == sha256(text). */
case class WrapExtract(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType

  /** Codegen + interpreted kernel (public so generated Java can call it). */
  def roundtrip(text: UTF8String, url: UTF8String): UTF8String =
    UTF8String.fromString(
      graft.synth.Pages.extractText(graft.synth.Pages.htmlOf(text.toString, url.toString)))

  override def nullSafeEval(text: Any, url: Any): Any =
    roundtrip(text.asInstanceOf[UTF8String], url.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wrapExtract", this, classOf[WrapExtract].getName)
    nullSafeCodeGen(ctx, ev, (t, u) => s"${ev.value} = $ref.roundtrip($t, $u);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): WrapExtract =
    copy(l, r)
  override def prettyName: String = "wrap_extract"
}

object WrapExtract {
  def col(text: Column, url: Column): Column =
    Catalyst.column(WrapExtract(Catalyst.expr(text), Catalyst.expr(url)))
}
