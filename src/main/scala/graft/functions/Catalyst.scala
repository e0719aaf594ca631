package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, ColumnConversions}

/** The one crossing between the Column API and Catalyst expressions.
  *
  * Spark 4 builds a Column from a `ColumnNode`, and the node that wraps an
  * Expression (`ExpressionColumnNode`, `ExpressionUtils.column`) is
  * `private[sql]`. The classic session's two `@DeveloperApi` conversions
  * below are the public route: every kernel's Column builder (for example
  * `SplitMix64.col`, `S2CellIdExpr.col`, `PipProbe.col`) goes through
  * them, so engine code gets a kernel column without registering a
  * function in the session. The SQL surface (`spark.sql`, `selectExpr`)
  * is GraftExtensions'. */
object Catalyst {

  /** The expression behind a column (unresolved until the plan is analyzed). */
  def expr(c: Column): Expression = ColumnConversions.expression(c)

  /** A column over a kernel expression. (`Column`'s companion is not
    * visible outside `org.apache.spark.sql`; the extension never reads it.) */
  def column(e: Expression): Column = ClassicConversions.ColumnConstructorExt(null)(e)
}
