package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import graft.core.PreparedPolygon

/** Point-in-polygon predicate as a native Catalyst expression over a
  * polygon baked in at plan time (polygons are small broadcast-like values,
  * mirroring the reference's per-tile polygon masks,
  * /root/reference/pyhgtmap/hgt/file.py:310-365).
  *
  * Even-odd ray cast through a PreparedPolygon (band-indexed edges, same
  * answer as graft.core.Geometry.contains), prepared once by the caller
  * and baked into the plan; `PipContains.col` builds the Column directly
  * (through Catalyst, the one Column/Expression crossing).
  */
case class PipContains(left: Expression, right: Expression, poly: PreparedPolygon)
    extends BinaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(lon: Any, lat: Any): Any =
    poly.contains(lon.asInstanceOf[Double], lat.asInstanceOf[Double])
  // stays inside whole-stage codegen: the prepared polygon is a plan-time
  // reference object and the ray cast a final-class call
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val polyRef = ctx.addReferenceObj("pipPoly", poly, classOf[PreparedPolygon].getName)
    nullSafeCodeGen(ctx, ev, (lon, lat) =>
      s"${ev.value} = $polyRef.contains($lon, $lat);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PipContains =
    copy(left = l, right = r)
  override def prettyName: String = "pip_contains"
}

object PipContains {
  def col(lon: Column, lat: Column, poly: PreparedPolygon): Column =
    Catalyst.column(PipContains(Catalyst.expr(lon), Catalyst.expr(lat), poly))
}
