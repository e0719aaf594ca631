package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

class AnnSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[8]").appName("ann-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false").getOrCreate()

  private lazy val vectors = {
    val df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("vec"))
      .cache()
    df.count()
    df
  }
  private lazy val queries = vectors.filter(col("vec_id") < 5)
    .select(col("vec_id").as("q_id"), col("vec").as("qvec"))

  test("cosineFromNorms is BIT-identical to cosine (r7 precomputed-norm path)") {
    val pairs = vectors.toDF("a", "va").crossJoin(
      vectors.filter(col("vec_id") < 20).toDF("b", "vb"))
    val both = pairs.select(
      Ann.cosine(col("va"), col("vb")).as("c0"),
      Ann.cosineFromNorms(col("va"), col("vb"),
        Ann.norm(col("va")), Ann.norm(col("vb"))).as("c1"))
    // exact double equality, not a tolerance: the whole point is that the
    // refactor cannot move a rounded gate value by even one ulp
    assert(both.filter(expr("c0 IS DISTINCT FROM c1")).count() == 0)
  }

  test("ivf with nprobe = k equals brute force exactly") {
    val centroids = Ann.trainCentroids(vectors, k = 8, iters = 3)
    assert(centroids.size == 8)
    val index = Ann.assign(vectors, centroids)
    assert(index.count() == vectors.count()) // every vector in exactly one cluster
    val ivf = Ann.ivfTopK(index, centroids, queries, k = 10, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val brute = Ann.bruteTopK(vectors, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(ivf == brute)
  }

  test("ivf with nprobe = 2 keeps useful recall at an 4x candidate cut") {
    val centroids = Ann.trainCentroids(vectors, k = 8, iters = 3)
    val index = Ann.assign(vectors, centroids)
    val ivf = Ann.ivfTopK(index, centroids, queries, k = 10, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val brute = Ann.bruteTopK(vectors, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("ivfPairs at full probe is exactly the (a < b) pair space, once each") {
    val centroids = Ann.trainCentroids(vectors, k = 8, iters = 2)
    val pairs = Ann.ivfPairs(vectors, centroids, nprobe = 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val n = vectors.count()
    assert(pairs.length == (n * (n - 1) / 2).toInt) // exactly once per pair
    assert(pairs.distinct.length == pairs.length)
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("ivfPairs at nprobe = 2 prunes the pair space but keeps near-dups") {
    val centroids = Ann.trainCentroids(vectors, k = 8, iters = 2)
    def dups(nprobe: Int): Set[(Long, Long)] =
      Ann.ivfPairs(vectors, centroids, nprobe)
        .select(col("a"), col("b"), Ann.cosine(col("va"), col("vb")).as("cos"))
        .filter(col("cos") >= 0.44)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = dups(8)
    val pruned = dups(2)
    val n = vectors.count()
    val candCount = Ann.ivfPairs(vectors, centroids, nprobe = 2).count()
    assert(candCount < n * (n - 1) / 2, s"nprobe=2 did not prune: $candCount")
    assert(pruned.subsetOf(full))
    // near-dups are cosine-close, hence usually same/nearby cluster: the
    // pruned candidate set must retain most of them
    val recall = if (full.isEmpty) 1.0 else (pruned & full).size.toDouble / full.size
    assert(recall >= 0.5, s"near-dup recall $recall")
  }

  test("angle-banded pairs equal the brute-force cosine filter exactly") {
    import spark.implicits._
    // corpus + perturbed twins + a zero vector + band-boundary cases
    val twins = vectors.select((col("vec_id") + 100000L).as("vec_id"),
      expr("transform(vec, x -> x * 0.999 + 0.0005)").as("vec"))
    val zero = Seq((999999L, Seq.fill(64)(0.0))).toDF("vec_id", "vec")
    val allV = vectors.unionByName(twins).unionByName(zero).cache()
    for (tau <- Seq(0.98, 0.9, 0.6)) {
      // the operator applies the exact cosine filter itself — no
      // caller-side re-filter (the round-4 ADVICE doc/behavior gap)
      val banded = Ann.pairsAngleBanded(allV, tau, bandWidthDeg = 2.0)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = allV.toDF("a", "va")
        .join(allV.toDF("b", "vb"), col("a") < col("b"))
        .filter(expr("aggregate(va, 0D, (s, x) -> s + x * x)") > 0 &&
          expr("aggregate(vb, 0D, (s, x) -> s + x * x)") > 0)
        .withColumn("cos", Ann.cosine(col("va"), col("vb")))
        .filter(col("cos") >= tau)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute, s"tau=$tau: banded ${banded.size} vs brute ${brute.size}")
    }
    allV.unpersist()
  }

  test("angle-banded pairs stay exact on the MULTI-pivot path (m=1 production width)") {
    import spark.implicits._
    // The 2.0-deg width above makes m large, so the explode budget clamps
    // to ONE pivot and the test never runs the band-TUPLE equi-join. At
    // width = acos(tau) (m = 1, q57's production setting) all 3 pivots
    // are admitted — a p>=2-specific false-negative bug (e.g. bands
    // mispaired across pivots) is only catchable here.
    val twins = vectors.select((col("vec_id") + 100000L).as("vec_id"),
      expr("transform(vec, x -> x * 0.999 + 0.0005)").as("vec"))
    val allV = vectors.unionByName(twins).cache()
    def brute(df: org.apache.spark.sql.DataFrame, tau: Double) = df.toDF("a", "va")
      .join(df.toDF("b", "vb"), col("a") < col("b"))
      .filter(expr("aggregate(va, 0D, (s, x) -> s + x * x)") > 0 &&
        expr("aggregate(vb, 0D, (s, x) -> s + x * x)") > 0)
      .withColumn("cos", Ann.cosine(col("va"), col("vb")))
      .filter(col("cos") >= tau)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (tau <- Seq(0.98, 0.6)) {
      val width = math.toDegrees(math.acos(tau)) // m = 1 -> 3 pivots admitted
      val banded = Ann.pairsAngleBanded(allV, tau, bandWidthDeg = width)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == brute(allV, tau), s"tau=$tau multi-pivot")
    }
    allV.unpersist()
    // and exact under RANK DEFICIENCY with >1 admitted pivot: the rank-2
    // fan yields exactly 2 pivots at the m=1 width
    val spread2 = (0 until 120).map { i =>
      val ang = math.toRadians(i * 180.0 / 120.0)
      val v = Array.fill(64)(0.0)
      v(0) = math.cos(ang); v(1) = math.sin(ang)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "vec")
    val tau2 = 0.9
    val w2 = math.toDegrees(math.acos(tau2))
    val b2 = Ann.pairsAngleBanded(spread2, tau2, bandWidthDeg = w2)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b2 == brute(spread2, tau2), "rank-2 corpus, 2 pivots")
  }

  test("shuffled-hash fetch path (vector side over the broadcast bound) stays exact") {
    import spark.implicits._
    // pairsAngleBanded picks the fetch-join strategy from plan-time size
    // vs spark.graft.fetchBroadcastBytes (r7, guide §3): broadcast when
    // the vector side fits, SHUFFLE_HASH otherwise so the candidate
    // stream is never sort-merge-sorted at width. Force the over-bound
    // branch and pin it pair-identical (ids AND cosines) to the
    // broadcast-path result.
    val tau = 0.9
    val width = math.toDegrees(math.acos(tau))
    def run(): Set[(Long, Long, Double)] =
      Ann.pairsAngleBanded(vectors, tau, bandWidthDeg = width)
        .select("a", "b", "cos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaBroadcast = run()
    spark.conf.set("spark.graft.fetchBroadcastBytes", "1")
    try {
      val viaShj = run()
      assert(viaShj == viaBroadcast, "forced shuffle-hash fetch diverged")
    } finally spark.conf.unset("spark.graft.fetchBroadcastBytes")
  }

  test("a malformed fetchBroadcastBytes fails naming the key and the value") {
    spark.conf.set("spark.graft.fetchBroadcastBytes", "128MB")
    try {
      val e = intercept[IllegalArgumentException](Ann.fetchSide(spark.range(3).toDF()))
      assert(e.getMessage.contains("spark.graft.fetchBroadcastBytes") &&
        e.getMessage.contains("'128MB'"), e.getMessage)
    } finally spark.conf.unset("spark.graft.fetchBroadcastBytes")
  }

  test("precomputed pivots reproduce the per-call pivot selection exactly") {
    import spark.implicits._
    // loop callers precompute once (ADVICE: skip the per-call driver
    // collect); the operator must yield the identical pair set, and a
    // NON-orthogonal pivot set must stay exact too (orthogonality is a
    // pruning choice, not a correctness one)
    val tau = 0.9
    val width = math.toDegrees(math.acos(tau))
    val expected = Ann.pairsAngleBanded(vectors, tau, bandWidthDeg = width)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pre = Ann.orthoPivots(vectors, 3)
    val viaPre = Ann.pairsAngleBanded(vectors, tau, bandWidthDeg = width,
      pivots = Some(pre))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPre == expected)
    // skewed (non-orthogonal, non-unit-spread) fixed directions
    val skewed = Seq(
      Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0),
      Array.tabulate(64)(i => if (i <= 1) math.sqrt(0.5) else 0.0))
    val viaSkew = Ann.pairsAngleBanded(vectors, tau, bandWidthDeg = width,
      pivots = Some(skewed))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaSkew == expected)
  }

  test("angle banding: strong pruning on spread data, graceful degradation on isotropic") {
    import spark.implicits._
    // angleBandCandidates IS the candidate set (its only filters are
    // band tuple + |dTheta_i|), so counting it measures the pruning.
    //
    // (1) structured data — angles genuinely spread (the natural-
    // embedding regime: low intrinsic dimension): 400 vectors fanned
    // over [0, 180] degrees in a 2-D subspace of the 64-dim space.
    // Rank 2 ⇒ orthoPivots yields at most 2 pivots even when 3 are
    // requested — the operator must stay exact under rank deficiency
    // (pinned by the multi-pivot exactness test above at the m=1 width;
    // the 2-deg width HERE clamps the budget to one pivot).
    val spread = (0 until 400).map { i =>
      val ang = math.toRadians(i * 180.0 / 400.0)
      val v = Array.fill(64)(0.0)
      v(0) = math.cos(ang); v(1) = math.sin(ang)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "vec")
    assert(Ann.orthoPivots(spread, 3).length == 2, "rank-2 corpus caps the pivot count")
    val nS = 400L
    val candS = Ann.angleBandCandidates(spread, 0.98, bandWidthDeg = 2.0, numPivots = 1).count()
    // theory: candidates ~ the 2*acos(0.98)+2*bandWidth degree strip of
    // the uniform [0,180] pair space = ~15% -> ~6.5x; measured 8.2x
    assert(candS * 6 < nS * (nS - 1) / 2,
      s"spread data must prune >6x: $candS of ${nS * (nS - 1) / 2}")
    // (2) isotropic high-dim data (the synthetic embeddings table):
    // concentration of measure pins every angle near 90 deg (d=64:
    // std ~7 deg), so a SINGLE pivot keeps most of the pair space —
    // the round-4 scale finding. Orthogonal pivots give approximately
    // independent angles here, so the per-pivot retentions MULTIPLY:
    // p=3 must cut meaningfully below p=1 while staying a correct
    // superset (exactness is the test above; this one pins the model).
    val n = vectors.count()
    val allPairs = n * (n - 1) / 2
    // width = acos(tau) (the m = 1 production setting, q57's): the combo
    // budget admits all 3 pivots; a 2-degree width would spend the whole
    // explode budget on band resolution and clamp back to 1 pivot
    val cand1 = Ann.angleBandCandidates(vectors, 0.98, bandWidthDeg = 11.5, numPivots = 1).count()
    val cand3 = Ann.angleBandCandidates(vectors, 0.98, bandWidthDeg = 11.5, numPivots = 3).count()
    assert(cand1 <= allPairs, s"candidates must never exceed the pair space")
    assert(cand1 < allPairs, s"even isotropic data prunes a little")
    // multiplied retention: with per-pivot retention r < 1, p=3 keeps
    // ~r^3 — require at least a 0.8-factor-per-extra-pivot cut so the
    // assertion survives distribution noise while still rejecting a
    // broken (correlated-pivot) implementation
    assert(cand3 < cand1 * 0.8 * 0.8,
      s"3 orthogonal pivots must multiply the pruning: $cand3 vs $cand1 (of $allPairs)")
  }

  test("training is deterministic") {
    val a = Ann.trainCentroids(vectors, k = 4, iters = 2).map(_._2.toSeq)
    val b = Ann.trainCentroids(vectors, k = 4, iters = 2).map(_._2.toSeq)
    assert(a == b)
  }
}
