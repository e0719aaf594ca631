package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{BooleanType, DataType}
import scala.collection.immutable.LongMap
import graft.core.{Geometry, PreparedPolygon}

/** Point-in-polygon where the polygon comes from a column
  * (array<double>, interleaved lon,lat) — the exact-residual predicate of
  * the cell-prejoin + PIP spatial join (SURVEY.md §2.3 J3). */
case class PipContainsCol(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(lon: Any, lat: Any, poly: Any): Any = {
    val arr = poly.asInstanceOf[ArrayData].toDoubleArray()
    Geometry.contains(arr,
      lon.asInstanceOf[Number].doubleValue(), lat.asInstanceOf[Number].doubleValue())
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat, poly) =>
      s"${ev.value} = graft.core.Geometry.contains($poly.toDoubleArray(), $lon, $lat);")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PipContainsCol = copy(f, s, t)
  override def prettyName: String = "pip_contains_col"
}

/** PIP against a broadcast polygon dictionary: the candidate rows carry
  * only (lon, lat, poly_id); each polygon lives once per executor in the
  * torrent broadcast, prepared (PreparedPolygon: the ring's edges indexed
  * by y-band, built once on the driver) instead of being replicated into
  * every cover-cell row (which would make the cover broadcast
  * O(cells x vertices)). The prepared ray cast visits only the edges of
  * the probe's band and returns exactly Geometry.contains' answer (the
  * argument is on PreparedPolygon), so the join's rows do not depend on
  * the index. */
case class PipLookup(
    first: Expression, second: Expression, third: Expression,
    polys: Broadcast[LongMap[PreparedPolygon]])
    extends TernaryExpression {
  override def dataType: DataType = BooleanType

  // Broadcast.value takes a lock on every call; read it once per task
  @transient private lazy val table = polys.value

  /** Codegen + interpreted entry point (public so generated Java can call it). */
  def test(lon: Double, lat: Double, polyId: Long): Boolean = {
    val p = table.getOrElse(polyId, null)
    p != null && p.contains(lon, lat)
  }

  override def nullSafeEval(lon: Any, lat: Any, polyId: Any): Any =
    test(lon.asInstanceOf[Number].doubleValue(), lat.asInstanceOf[Number].doubleValue(),
      polyId.asInstanceOf[Number].longValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the broadcast handle rides along as a reference object; the lookup
    // stays a virtual call but the surrounding stage remains codegen'd
    val ref = ctx.addReferenceObj("pipLookup", this, classOf[PipLookup].getName)
    nullSafeCodeGen(ctx, ev, (lon, lat, id) =>
      s"${ev.value} = $ref.test($lon, $lat, $id);")
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PipLookup = copy(f, s, t)
  override def prettyName: String = "pip_lookup"
}

object PipLookup {
  def col(
      lon: Column, lat: Column, polyId: Column,
      polys: Broadcast[LongMap[PreparedPolygon]]): Column =
    Catalyst.column(
      PipLookup(Catalyst.expr(lon), Catalyst.expr(lat), Catalyst.expr(polyId), polys))
}
