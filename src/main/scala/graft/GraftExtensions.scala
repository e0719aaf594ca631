package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import graft.functions.{ShingleHashes, SplitMix64, PipContainsCol, WrapExtract, CosineSim, SqDistVec}

/** Session extension registering the engine's Catalyst expressions, so any
  * session (including spark-submit with
  * `--conf spark.sql.extensions=graft.GraftExtensions`) gets the SQL
  * surface: splitmix64, shingle_hashes_4/8, pip_contains_col, wrap_extract,
  * cosine_sim, sq_dist_vec and s2_cell.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (FunctionIdentifier("splitmix64"), info("splitmix64"),
        (exprs: Seq[Expression]) => SplitMix64(exprs.head)))
    ext.injectFunction(
      (FunctionIdentifier("shingle_hashes_4"), info("shingle_hashes_4"),
        (exprs: Seq[Expression]) => ShingleHashes(exprs.head, 4)))
    ext.injectFunction(
      (FunctionIdentifier("shingle_hashes_8"), info("shingle_hashes_8"),
        (exprs: Seq[Expression]) => ShingleHashes(exprs.head, 8)))
    ext.injectFunction(
      (FunctionIdentifier("pip_contains_col"), info("pip_contains_col"),
        (exprs: Seq[Expression]) => PipContainsCol(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction(
      (FunctionIdentifier("wrap_extract"), info("wrap_extract"),
        (exprs: Seq[Expression]) => WrapExtract(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier("cosine_sim"), info("cosine_sim"),
        (exprs: Seq[Expression]) => CosineSim(exprs(0), exprs(1))))
    ext.injectFunction(
      (FunctionIdentifier("sq_dist_vec"), info("sq_dist_vec"),
        (exprs: Seq[Expression]) => SqDistVec(exprs(0), exprs(1))))
    // s2_cell(lon, lat, level): level must fold to a constant at plan time
    // (it parameterizes the generated kernel)
    ext.injectFunction(
      (FunctionIdentifier("s2_cell"), info("s2_cell"),
        (exprs: Seq[Expression]) => {
          require(exprs.length == 3 && exprs(2).foldable,
            "s2_cell(lon, lat, level): level must be a literal")
          val lvl = exprs(2).eval() match {
            case n: Number => n.intValue
            case d: org.apache.spark.sql.types.Decimal => d.toInt
            case other => throw new IllegalArgumentException(
              s"s2_cell(lon, lat, level): level must be an integer literal, got $other")
          }
          graft.functions.S2CellIdExpr(exprs(0), exprs(1), lvl)
        }))
  }
}
