package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.{MinHashSig, ShingleHashes}

/** Banded MinHash-LSH near-duplicate detection, the production
  * generalization of gate q22 (which pins a single 4-row band against the
  * DuckDB oracle): `numHashes` minhash functions split into `bands` bands
  * of r rows; documents sharing ANY band bucket become candidates, so a
  * pair with Jaccard J is caught with probability 1 - (1 - J^r)^bands —
  * more bands = higher recall at a given similarity.
  *
  * Scale shape: shingling is the O(len) rolling-hash expression
  * (functions/ShingleHashes), signatures are one hash-aggregation, and
  * candidates come from an equi-join on (band, bucket) — never an
  * all-pairs comparison. Exact-Jaccard verification of candidates is
  * gate q27's intersection join.
  */
object Lsh {

  private val P = 1000003L

  /** Deterministic (a, b) parameters for hash j (odd a, nonzero); exposed
    * so gate oracles can inline the SAME constants into DuckDB SQL. */
  private[graft] def params(j: Int): (Long, Long) = {
    val a = (graft.functions.SplitMix64.mix(2L * j + 1) & 0x7fffffffL) | 1L
    val b = graft.functions.SplitMix64.mix(3L * j + 7) & 0x7fffffffL
    (a, b)
  }

  /** MinHash signatures: (idCol, mh0..mh{numHashes-1}) from n-char
    * rolling-hash shingles of `textCol`. Docs shorter than n are absent.
    *
    * r7: one-pass MinHashSig kernel (functions/TextSketch.scala) over the
    * shingle array — a narrow projection with NO Generate and NO exchange,
    * where the old explode + numHashes-way min aggregation shipped one row
    * per corpus character into a hash aggregate (guide §2.3/§2.4). The
    * pmod(pmod(h, P) * a + b, P) arithmetic is unchanged (the inner pmod
    * keeps the affine step inside a Long for 31-bit a; LshSpec pins the
    * values). */
  def signatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int): DataFrame = {
    val sig = MinHashSig.col(
      ShingleHashes.col(col(textCol), n), (0 until numHashes).map(params), P, preMod = true)
    // coalesce: non-nullable key columns (sentinel can never fire — the
    // sig array always holds numHashes minima for rows past the length
    // filter), so downstream joins infer NO isnotnull key filters; those
    // filters would inline the whole kernel tree once per key per row
    // (see Queries.minhashSig, guide §4.4 duplication class)
    docs
      .filter(length(col(textCol)) >= n)
      .select(col(idCol), sig.as("__sig"))
      .select(col(idCol) +: (0 until numHashes).map(j =>
        coalesce(element_at(col("__sig"), j + 1), lit(-1L)).as(s"mh$j")): _*)
  }

  /** Candidate pairs (doc_a < doc_b) sharing at least one band bucket. */
  def candidatePairs(sig: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, s"bands $bands must divide numHashes $numHashes")
    val r = numHashes / bands
    val sigArr = sig.select(col(idCol),
      array((0 until numHashes).map(j => col(s"mh$j")): _*).as("sig"))
    // one row per (doc, band): bucket = hash of (band id, the band's r-slice)
    val banded = sigArr.select(
      col(idCol),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b, slice(sig, b * $r + 1, $r)))"))
        .as(Seq("band", "bucket")))
    banded.as("l")
      .join(banded.as("r"), Seq("band", "bucket"))
      .filter(col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
      .distinct()
  }
}
