package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Vector kernels for the embedding operators. Spark's higher-order
  * functions (zip_with / aggregate / transform) are CodegenFallback and
  * allocate per evaluation — per-PAIR in an all-pairs similarity join,
  * which is exactly the hot loop. These are tight primitive loops with
  * doGenCode, so the whole similarity stage stays in whole-stage codegen. */
object VecOps {
  /** Cosine similarity over two double arrays (static forwarder callable
    * from generated Java). */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  def sqDist(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { val d = a.getDouble(i) - b.getDouble(i); s += d * d; i += 1 }
    s
  }

  /** L2 norm with the SAME ascending accumulation order as `cosine`'s
    * na/nb terms, so dot(a,b) / (norm(a) * norm(b)) is BIT-IDENTICAL to
    * cosine(a,b) — the r7 pair stages precompute norms once per VECTOR
    * instead of twice per PAIR (guide §1.2 step 2: per-task work). */
  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = a.getDouble(i); s += x * x; i += 1 }
    math.sqrt(s)
  }
}

case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecOps.cosine($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(l, r)
  override def prettyName: String = "cosine_sim"
}

case class DotVec(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecOps.dot($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotVec =
    copy(l, r)
  override def prettyName: String = "dot_vec"
}

case class VecNorm(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = VecOps.norm(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.VecOps.norm($a);")
  override protected def withNewChildInternal(c: Expression): VecNorm = copy(c)
  override def prettyName: String = "vec_norm"
}

case class SqDistVec(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecOps.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VecOps.sqDist($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistVec =
    copy(l, r)
  override def prettyName: String = "sq_dist_vec"
}
