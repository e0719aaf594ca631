package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, LongType}
import graft.core.Geometry

/** Point-in-polygon where the polygon comes from a column (array<double>,
  * interleaved lon,lat): SQL's `pip_contains_col`. */
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

/** The exact step of the cell-prefiltered spatial join (SURVEY.md §2.3 J3):
  * the ids of the polygons whose cell cover holds `cell` and that contain
  * (lon, lat), in the index's fixed order, for `explode` to make rows of.
  * The index's one broadcast is held by this expression alone. */
case class PipProbe(
    first: Expression, second: Expression, third: Expression,
    index: Broadcast[_ <: PipProbe.Index])
    extends TernaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // Broadcast.value takes a lock on every call; read it once per task
  @transient private lazy val table = index.value

  /** Codegen + interpreted entry point (public so generated Java can call it). */
  def probe(cell: Long, lon: Double, lat: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(table.probe(cell, lon, lat))

  override def nullSafeEval(cell: Any, lon: Any, lat: Any): Any = probe(cell.asInstanceOf[Number].longValue(),
    lon.asInstanceOf[Number].doubleValue(), lat.asInstanceOf[Number].doubleValue())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pipProbe", this, classOf[PipProbe].getName)
    nullSafeCodeGen(ctx, ev, (cell, lon, lat) => s"${ev.value} = $ref.probe($cell, $lon, $lat);")
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): PipProbe = copy(f, s, t)
  override def prettyName: String = "pip_probe"
}

object PipProbe {
  trait Index extends Serializable {
    def probe(cell: Long, lon: Double, lat: Double): Array[Long]
  }

  def col(cell: Column, lon: Column, lat: Column, index: Broadcast[_ <: Index]): Column =
    Catalyst.column(PipProbe(Catalyst.expr(cell), Catalyst.expr(lon), Catalyst.expr(lat), index))
}
