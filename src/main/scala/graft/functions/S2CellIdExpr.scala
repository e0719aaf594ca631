package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** S2 cell id of (lon, lat) at a plan-time level, as a codegen'd Catalyst
  * expression (core/S2.scala): the hierarchical sphere index the north
  * rule's "batch-encoded into H3/S2 cells" calls for. Level is a literal
  * so the generated code is a straight static-kernel call with no per-row
  * branching on parameters; grouping/joining on the result is a plain
  * long equi-key, and parent/containment tests stay arithmetic
  * (S2.parent / S2.rangeMin..rangeMax) — no UDF anywhere.
  */
case class S2CellIdExpr(left: Expression, right: Expression, level: Int)
    extends BinaryExpression with ImplicitCastInputTypes {
  require(level >= 0 && level <= graft.core.S2.MaxLevel)
  override def dataType: DataType = LongType
  // analyzer-inserted casts keep interpreted eval and codegen consistent
  // for non-double lon/lat inputs (int/float columns)
  override def inputTypes: Seq[DataType] = Seq(DoubleType, DoubleType)

  /** Codegen + interpreted kernel (public so generated Java can call it). */
  def cell(lon: Double, lat: Double): Long = graft.core.S2.cellId(lon, lat, level)

  override def nullSafeEval(lon: Any, lat: Any): Any =
    cell(lon.asInstanceOf[Double], lat.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("s2CellId", this, classOf[S2CellIdExpr].getName)
    nullSafeCodeGen(ctx, ev, (lon, lat) => s"${ev.value} = $ref.cell($lon, $lat);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): S2CellIdExpr =
    copy(left = l, right = r)
  override def prettyName: String = s"s2_cell_$level"
}

object S2CellIdExpr {
  def col(lon: Column, lat: Column, level: Int): Column =
    Catalyst.column(S2CellIdExpr(Catalyst.expr(lon), Catalyst.expr(lat), level))
}
