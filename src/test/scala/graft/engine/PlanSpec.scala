package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-plan shape checks: filters reach the parquet scan, projections
  * prune columns, small sides broadcast, hot paths stay in whole-stage
  * codegen — the properties that keep the 100 TB plan viable. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = {
    // other suites may have built a session already; extensions apply at
    // session construction, so force a fresh one over the shared context
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[4]").appName("plan-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.ui.enabled", "false").getOrCreate()
  }

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  private lazy val pipPages = graft.synth.Pages.geocoded(
    spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("concat('https://x.example/page/', doc_id) AS url", "doc_id"), 6)
  private val pipPolys = Seq(SpatialJoin.Poly(1L, Array(6.2, 43.2, 6.8, 43.2, 6.5, 43.8)))

  test("pip join broadcasts the cell cover, keeps pages un-shuffled") {
    // the cover travels inside the broadcast polygon index that the probe
    // reads: the plan has no exchange, no join and no cover relation
    val p = plan(SpatialJoin.pipJoin(pipPages, pipPolys, 6))
    for (node <- Seq("Exchange", "Join", "LocalTableScan")) assert(!p.contains(node), p)
    assert(p.contains("Generate explode(pip_probe("), p)
  }

  test("a pip join aggregate runs 2 jobs") {
    val q = SpatialJoin.pipJoin(pipPages, pipPolys, 6).agg(count(lit(1)), sum(col("poly_id")))
    val run = graft.Measure(spark, "plan-spec-pip-jobs")(q.collect()(0))
    assert(run.result.getLong(0) > 0)
    // one job scans and probes, one merges the aggregate: the index
    // is broadcast by the driver, not by a job of its own
    assert(run.jobs == 2, s"${run.jobs} jobs")
  }

  test("gate queries keep whole-stage codegen on the hot path") {
    val q = Queries.all.find(_.name == "q01_pricing_agg").get
    val df = q.impl(spark, dir)
    df.collect() // finalize this exact adaptive plan before inspecting it
    val p = plan(df)
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the tree
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_sum"), p) // map-side combine before the shuffle
  }

  test("extensions expose the custom functions in SQL") {
    assert(spark.sql("SELECT splitmix64(42)").collect()(0).getLong(0) ==
      graft.synth.Pages.mix(42L))
    assert(spark.sql("SELECT size(shingle_hashes_4('abcdef'))").collect()(0).getInt(0) == 3)
    assert(spark.sql("SELECT pip_contains_col(0.5D, 0.5D, array(0D,0D,1D,0D,1D,1D,0D,1D))")
      .collect()(0).getBoolean(0))
    assert(spark.sql("SELECT wrap_extract('a<b&c', 'u')").collect()(0).getString(0) == "a<b&c")
    assert(spark.sql("SELECT s2_cell(6.5D, 43.5D, 11)").collect()(0).getLong(0) ==
      graft.core.S2.cellId(6.5, 43.5, 11))
    // non-literal level is rejected at plan time, not silently mis-planned
    assertThrows[Exception](spark.sql("SELECT s2_cell(6.5D, 43.5D, CAST(rand()*10 AS INT))").collect())
  }

  test("splitmix64 codegen matches interpreted eval") {
    import spark.implicits._
    val df = spark.range(0, 1000).selectExpr("id", "splitmix64(id) AS h")
    val rows = df.as[(Long, Long)].collect()
    rows.foreach { case (id, h) => assert(h == graft.synth.Pages.mix(id)) }
  }

  test("q20 dedup: one scan, one hash-keyed exchange, no join, no text in keys") {
    val q = Queries.all.find(_.name == "q20_dedup_exact").get
    val df = q.impl(spark, dir)
    val p = plan(df)
    // r7 shape: min/count over a whole-partition window on (tk64, tkey)
    // — ONE exchange of hash keys, where the groupBy + join-back form
    // scanned (and sha2'd) the table twice and shuffled twice
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    assert(p.linesIterator.count(_.contains("Scan parquet")) == 1, p)
    // every hashpartitioning key must be a hash column, not text
    val exchanges = p.linesIterator.filter(_.contains("hashpartitioning")).toSeq
    assert(exchanges.nonEmpty, p)
    assert(exchanges.forall(l => !l.contains("text#")),
      s"text column in an exchange key:\n${exchanges.mkString("\n")}")
  }

  test("ann assign/argmin is exchange-free") {
    import spark.implicits._
    val vecs = Seq((1L, Seq(0.0, 1.0)), (2L, Seq(1.0, 0.0)), (3L, Seq(0.7, 0.7)))
      .toDF("vec_id", "vec")
    val assigned = Ann.assign(vecs, Seq((0, Array(0.0, 1.0)), (1, Array(1.0, 0.0))))
    val p = plan(assigned)
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Window"), p)
    // and it still picks the right clusters
    val got = assigned.orderBy("vec_id").collect().map(r => r.getInt(0)).toSeq
    assert(got == Seq(0, 1, 0))
  }

  test("q31 runs the broadcast whole-vector cosine, not a dims explode") {
    val q = Queries.all.find(_.name == "q31_ann_cosine_topk").get
    val df = q.impl(spark, dir)
    df.collect() // finalize the adaptive plan
    val p = plan(df)
    assert(!p.contains("Generate"), p) // no explode anywhere in the plan
    assert(p.contains("cosine_sim"), p) // the codegen'd vector kernel
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("q34 candidates come from a cluster equi-join, not an n x n nested loop") {
    val q = Queries.all.find(_.name == "q34_emb_neardup").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    // the pair space must be keyed by cluster: a BroadcastNestedLoopJoin
    // would be the O(n^2)-at-scale shape the gate exists to forbid
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q57 angle-band candidates come from a band-tuple equi-join, not an n x n nested loop") {
    val q = Queries.all.find(_.name == "q57_emb_neardup_banded").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    // the pair space must be keyed by the pivot band tuple; the only
    // acceptable join shapes are hash/sort-merge equi-joins (band keys +
    // the two post-prune vector fetches by id)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("cosine_sim"), p) // codegen'd kernel, not a HOF
  }

  test("q43 quantization is narrow: no explode, no join") {
    val q = Queries.all.find(_.name == "q43_emb_quantize").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Generate"), p)
    assert(!p.contains("Join"), p)
  }

  test("q39 language-ID classifies via a broadcast profile join") {
    val q = Queries.all.find(_.name == "q39_lang_id").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q16 s2-cell agg is a single narrow projection + hash agg, no join") {
    val q = Queries.all.find(_.name == "q16_s2_cells").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    assert(!p.contains("Join"), p)
    assert(!p.contains("Generate"), p)
    assert(p.contains("s2_cell_11"), p) // the codegen'd index expression
    assert(p.contains("partial_count") || p.contains("partial_avg"), p) // map-side combine
  }

  test("s2_cell codegen matches interpreted eval") {
    import spark.implicits._
    def s2(lon: Column, lat: Column) = graft.functions.S2CellIdExpr.col(lon, lat, 13).as("c")
    def run(): Seq[Long] = spark.range(0, 500)
      .select(s2(col("id").cast("double") * 0.7 - 175.0, col("id").cast("double") * 0.33 - 82.0))
      .as[Long].collect().toSeq
    val c1 = run()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(c1 == run())
    finally spark.conf.unset("spark.sql.codegen.factoryMode")
    // and both equal the plain-Scala kernel
    val expect = (0 until 500).map(i => graft.core.S2.cellId(i * 0.7 - 175.0, i * 0.33 - 82.0, 13))
    assert(c1 == expect)
    // non-double inputs take the analyzer's implicit cast in BOTH paths
    def runInt(): Seq[Long] = spark.range(0, 50)
      .select(s2(col("id").cast("int"), (col("id") % 60).cast("float")))
      .as[Long].collect().toSeq
    val i1 = runInt()
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try assert(i1 == runInt())
    finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  test("q19 sequence packing never runs a global single-partition window over the data") {
    val q = Queries.all.find(_.name == "q19_seq_pack").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    // the DATA window is partitioned by band; the only unpartitioned
    // window runs over the per-band summary (one row per band)
    assert(p.contains("windowspecdefinition(__band"), p)
    assert(p.contains("BroadcastHashJoin"), p) // offsets join back broadcast
    // and the packing math is exact vs a driver-side fold
    import spark.implicits._
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "n_chars").as[(Long, Long)].collect().sortBy(_._1)
    var run = 0L
    val expect = rows.map { case (id, n) => val c = run / 4096L; run += n; (id, c) }.toMap
    val got = Pack.chunkIds(
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "n_chars"),
      "doc_id", "n_chars", 4096L, 64L)
      .select("doc_id", "chunk").as[(Long, Long)].collect().toMap
    assert(got == expect)
  }

  test("q45 domain cap runs a partial top-k before the exchange (WindowGroupLimit)") {
    val q = Queries.all.find(_.name == "q45_domain_cap").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    // Spark 4 plans rank<=k as WindowGroupLimit in Partial mode below the
    // shuffle: each map task ships at most k rows per domain
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
  }

  test("q39 lang-id exchanges key on hashed grams, never raw gram strings") {
    val q = Queries.all.find(_.name == "q39_lang_id").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    // the q46 rule applied to q39: every shuffle (train count groupBy,
    // classify distinct, scoring windows) partitions on ghash/lang/doc_id —
    // the raw 3-gram string must appear in NO partitioning expression
    val partitionings = "(?:hash|range)partitioning\\([^)]*\\)".r.findAllIn(p).toSeq
    assert(partitionings.nonEmpty, p)
    partitionings.foreach { part =>
      assert(!part.contains("gram#"), s"raw gram used as exchange key: $part")
    }
    // profile side broadcasts; the corpus never sort-merge joins
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q47 decontamination broadcasts the benchmark, never shuffles the corpus grams") {
    val q = Queries.all.find(_.name == "q47_decontam").get
    val df = q.impl(spark, dir)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pip/shingle/wrap codegen matches interpreted eval") {
    import spark.implicits._
    // force both paths: default (codegen) vs spark.sql.codegen.factoryMode
    def run(): (Seq[Boolean], Seq[Seq[Long]], Seq[String]) = {
      val df = spark.range(0, 200)
        .selectExpr(
          "pip_contains_col(CAST(id % 20 AS DOUBLE) / 10.0, CAST(id % 13 AS DOUBLE) / 10.0, array(0D,0D,1D,0D,1D,1D,0D,1D)) AS inside",
          "shingle_hashes_4(concat('doc ', id, ' lorem ipsum')) AS sh",
          "wrap_extract(concat('t<&', id), concat('u', id)) AS w")
      df.as[(Boolean, Seq[Long], String)].collect().toSeq.unzip3
    }
    val (in1, sh1, w1) = run()
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val (in2, sh2, w2) = run()
      assert(in1 == in2 && sh1 == sh2 && w1 == w2)
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
