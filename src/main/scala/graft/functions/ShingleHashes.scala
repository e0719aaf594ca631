package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** All n-gram polynomial hashes of a string in one rolling pass:
  *   h_i = sum_{k<n} code(c_{i+k}) * 31^(n-1-k)
  * equivalent to the ascii(substr(...)) chain the DuckDB oracle evaluates,
  * but O(len) instead of O(len * n) substring extractions — the scale path
  * for minhash/LSH shingling. */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1 && n <= 16)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // wrapping integer power, matching the modular arithmetic of the rolling
  // recurrence for every allowed n (math.pow is inexact past 31^11 and the
  // Long product overflows by design, exactly like the additive chain)
  private val topPow: Long = {
    var p = 1L
    var k = 0
    while (k < n - 1) { p *= 31L; k += 1 }
    p
  }

  /** Codegen + interpreted kernel (public so generated Java can call it). */
  def hashAll(v: UTF8String): ArrayData = {
    val s = v.toString
    val len = s.length
    if (len < n) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](len - n + 1)
    var h = 0L
    var i = 0
    while (i < n) { h = h * 31L + s.charAt(i).toLong; i += 1 }
    out(0) = h
    i = 1
    while (i <= len - n) {
      h = (h - s.charAt(i - 1).toLong * topPow) * 31L + s.charAt(i + n - 1).toLong
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = hashAll(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $ref.hashAll($s);")
  }

  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
  override def prettyName: String = s"shingle_hashes_$n"
}

object ShingleHashes {
  def col(text: Column, n: Int): Column = Catalyst.column(ShingleHashes(Catalyst.expr(text), n))
}
