package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{MinHashSig, ShingleHashes, SimHashPack}

/** The r7 one-pass sketch kernels (functions/TextSketch.scala) must equal
  * the explode + aggregation forms they replaced BIT-FOR-BIT — on ASCII
  * text AND on hash values the rolling polynomial can produce from wider
  * chars (negative longs, where Spark's `div`/`%` truncate-toward-zero /
  * dividend-sign semantics bite). */
class TextSketchSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("textsketch-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false").getOrCreate()

  private val P = 1000003L
  private val Params = Seq((131L, 7L), (137L, 11L), (139L, 13L), (149L, 17L))

  /** Docs incl. non-ASCII chars that push the rolling hash negative, an
    * exact dup pair, and a minimum-length doc. */
  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs and data"),
      (3L, "￿￮ꯍ wide chars drive the polynomial hash negative ￿￮"),
      (4L, "12345678"),
      (5L, "short")).toDF("doc_id", "text")
  }

  private def shingleRows(n: Int) = {
    docs.filter(length(col("text")) >= n)
      .select(col("doc_id"), explode(ShingleHashes.col(col("text"), n)).as("h"))
  }

  private def shingleArrs(n: Int) = {
    docs.filter(length(col("text")) >= n)
      .select(col("doc_id"), ShingleHashes.col(col("text"), n).as("hs"))
  }

  test("kernels match Spark div/% semantics on NEGATIVE hash values") {
    // ShingleHashes itself cannot go negative for n <= 12 (65535 * 31^7
    // < 2^63), but the kernels must not assume that: pin the truncating
    // div / dividend-sign % behaviour on crafted negative longs.
    import spark.implicits._
    // values stay inside |h| * 149 < 2^63: under ANSI the exploded form
    // would ERROR on overflow, and the reachable ShingleHashes domain
    // (<= 65535 * 31^7) never overflows either
    val crafted = Seq((0L, Seq(-7L, -1000003L - 5L, -50000000000000000L, 42L)))
      .toDF("doc_id", "hs")
    val rows = crafted.select(col("doc_id"), explode(col("hs")).as("h"))
    val aggs = Params.zipWithIndex.map { case ((a, b), j) =>
      min((col("h") * lit(a) + lit(b)) % lit(P)).as(s"mh$j")
    }
    val oldMh = rows.groupBy("doc_id").agg(aggs.head, aggs.tail: _*).collect().toSeq
    val neuMh = crafted
      .select(col("doc_id") +: Params.indices.map(j =>
        element_at(MinHashSig.col(col("hs"), Params, P, preMod = false), j + 1).as(s"mh$j")): _*)
      .collect().toSeq
    assert(neuMh == oldMh)
    val oldSh = rows
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(31))).as("b"))
      .withColumn("w",
        expr("CASE WHEN (h div shiftleft(CAST(1 AS BIGINT), b)) % 2 = 1 THEN 1 ELSE -1 END"))
      .groupBy("doc_id", "b").agg(sum("w").as("sw"))
      .withColumn("bitval",
        when(col("sw") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(lit(0L)))
      .groupBy("doc_id").agg(sum("bitval").as("simhash")).collect().toSeq
    val neuSh = crafted
      .select(col("doc_id"), SimHashPack.col(col("hs"), 32).as("simhash")).collect().toSeq
    assert(neuSh == oldSh)
  }

  test("MinHashSig (gate form, preMod = false) == explode + min((h*a+b) % P)") {
    val aggs = Params.zipWithIndex.map { case ((a, b), j) =>
      min((col("h") * lit(a) + lit(b)) % lit(P)).as(s"mh$j")
    }
    val old = shingleRows(8).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val neu = shingleArrs(8)
      .select(col("doc_id") +: Params.indices.map(j =>
        element_at(MinHashSig.col(col("hs"), Params, P, preMod = false), j + 1).as(s"mh$j")): _*)
    assert(neu.orderBy("doc_id").collect().toSeq == old.orderBy("doc_id").collect().toSeq)
  }

  test("MinHashSig (Lsh form, preMod = true) == explode + min(pmod(pmod(h,P)*a+b, P))") {
    val lshParams = (0 until 8).map(Lsh.params)
    val aggs = lshParams.zipWithIndex.map { case ((a, b), j) =>
      min(pmod(pmod(col("h"), lit(P)) * lit(a) + lit(b), lit(P))).as(s"mh$j")
    }
    val old = shingleRows(8).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val neu = shingleArrs(8)
      .select(col("doc_id") +: lshParams.indices.map(j =>
        element_at(MinHashSig.col(col("hs"), lshParams, P, preMod = true), j + 1).as(s"mh$j")): _*)
    assert(neu.orderBy("doc_id").collect().toSeq == old.orderBy("doc_id").collect().toSeq)
  }

  test("Lsh.signatures (rewritten) still matches the aggregation arithmetic") {
    val sig = Lsh.signatures(docs, "doc_id", "text", n = 8, numHashes = 8)
    val lshParams = (0 until 8).map(Lsh.params)
    val aggs = lshParams.zipWithIndex.map { case ((a, b), j) =>
      min(pmod(pmod(col("h"), lit(P)) * lit(a) + lit(b), lit(P))).as(s"mh$j")
    }
    val old = shingleRows(8).groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    assert(sig.orderBy("doc_id").collect().toSeq == old.orderBy("doc_id").collect().toSeq)
  }

  test("SimHashPack == explode-bits + vote-sum + bit pack (8 and 32 bits)") {
    for (bits <- Seq(8, 32)) {
      val old = shingleRows(8)
        .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(bits - 1))).as("b"))
        .withColumn("w",
          expr("CASE WHEN (h div shiftleft(CAST(1 AS BIGINT), b)) % 2 = 1 THEN 1 ELSE -1 END"))
        .groupBy("doc_id", "b").agg(sum("w").as("sw"))
        .withColumn("bitval",
          when(col("sw") > 0, expr("shiftleft(CAST(1 AS BIGINT), b)")).otherwise(lit(0L)))
        .groupBy("doc_id").agg(sum("bitval").as("simhash"))
      val neu = shingleArrs(8)
        .select(col("doc_id"), SimHashPack.col(col("hs"), bits).as("simhash"))
      assert(neu.orderBy("doc_id").collect().toSeq == old.orderBy("doc_id").collect().toSeq,
        s"bits=$bits")
    }
  }

  test("array_distinct set intersection == (doc,h)-distinct intersection join") {
    // the q27/q37 verify rewrite: |array_intersect(distinct sets)| must be
    // the old distinct-rows intersection count, incl. duplicate shingles
    val sh = shingleRows(8).distinct()
    val old = sh.toDF("a", "h").join(sh.toDF("b", "h"), Seq("h"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_inter"))
    val sets = shingleArrs(8).select(col("doc_id"), array_distinct(col("hs")).as("set"))
    val neu = sets.toDF("a", "set_a").crossJoin(sets.toDF("b", "set_b"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        size(array_intersect(col("set_a"), col("set_b"))).cast("long").as("n_inter"))
      .filter(col("n_inter") > 0)
    assert(neu.orderBy("a", "b").collect().toSeq == old.orderBy("a", "b").collect().toSeq)
  }
}
