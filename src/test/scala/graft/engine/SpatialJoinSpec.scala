package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{Cells, Geometry}
import graft.synth.Pages
import graft.engine.SpatialJoin.Poly

class SpatialJoinSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .appName("spatial-join-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Res = 7 // 1/128 degree cells
  private lazy val pages = {
    val df = Pages.geocoded(Pages.generate(spark, 4000).toDF(), Res).cache()
    df.count()
    df
  }

  private def poly(pts: (Double, Double)*): Array[Double] =
    pts.flatMap(p => Seq(p._1, p._2)).toArray

  private val polys = Seq(
    Poly(1L, poly((6.2, 43.2), (6.4, 43.2), (6.4, 43.4), (6.2, 43.4))), // hot cluster box
    Poly(2L, poly((6.5, 43.5), (6.9, 43.6), (6.7, 43.9))), // triangle
    Poly(3L, poly((6.05, 43.8), (6.15, 43.8), (6.15, 43.9), (6.05, 43.9))),
    Poly(-4L, poly((6.3, 43.3), (6.45, 43.28), (6.38, 43.45)))) // shares cells with 1

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("page_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def variants(pages: DataFrame, ps: Seq[Poly]): Seq[(String, () => DataFrame)] = Seq(
    "pipJoin" -> (() => SpatialJoin.pipJoin(pages, ps, Res)),
    "pipJoinSalted" -> (() => SpatialJoin.pipJoinSalted(pages, ps, Res, salts = 8)),
    "pipJoinShuffled shuffle_hash" -> (() => SpatialJoin.pipJoinShuffled(pages, ps, Res)),
    "pipJoinShuffled merge" -> (() => SpatialJoin.pipJoinShuffled(pages, ps, Res, joinHint = "merge")))

  /** Naive oracle: Geometry.contains on every page x polygon. */
  private def naive(ps: Seq[Poly]): Set[(Long, Long)] =
    (for {
      r <- pages.select("page_id", "lon", "lat").collect()
      p <- ps
      if graft.core.Geometry.contains(p.coords, r.getDouble(1), r.getDouble(2))
    } yield (r.getLong(0), p.polyId)).toSet

  /** Brute-force reference kNN: the oracle for the ring-expansion kNN. */
  private def knnBrute(
      pages: DataFrame,
      queries: Seq[(Long, Double, Double)],
      k: Int): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val q = queries.toDF("q_id", "q_lon", "q_lat")
    val joined = pages.crossJoin(broadcast(q))
      .withColumn(
        "dist",
        sqrt((col("lon") - col("q_lon")) * (col("lon") - col("q_lon")) +
          (col("lat") - col("q_lat")) * (col("lat") - col("q_lat"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("dist").asc, col("page_id").asc)
    joined.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("q_id", "rank", "page_id", "dist")
      .orderBy("q_id", "rank")
  }

  test("synthetic pages are deterministic and text roundtrips byte-identically") {
    val a = Pages.pageOf(1234L)
    val b = Pages.pageOf(1234L)
    assert(a == b.copy(html = a.html) && java.util.Arrays.equals(a.html, b.html))
    // per-url byte-identical extracted text invariant
    (0L until 500L).foreach { i =>
      val p = Pages.pageOf(i)
      assert(Pages.extractText(p.html) == p.text, s"roundtrip failed for id $i")
    }
    // column-derived geocode matches the scala generator
    val rows = pages.select("page_id", "lon", "lat").collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getDouble(1) == Pages.lonOf(id), s"lon mismatch id=$id")
      assert(r.getDouble(2) == Pages.latOf(id), s"lat mismatch id=$id")
    }
  }

  test("hot cluster exists (salting is justified)") {
    val top = pages.groupBy("cell").count().orderBy(col("count").desc).first()
    assert(top.getLong(1) > 400, s"expected a hot cell, got ${top.getLong(1)}")
  }

  test("cell-prejoin PIP join equals naive full scan") {
    val got = rows(SpatialJoin.pipJoin(pages, polys, Res))
    assert(got == naive(polys))
    assert(got.nonEmpty)
  }

  test("salted shuffle PIP join equals broadcast variant") {
    assert(rows(SpatialJoin.pipJoin(pages, polys, Res)) ==
      rows(SpatialJoin.pipJoinSalted(pages, polys, Res, salts = 8)))
  }

  test("unsalted shuffled PIP join equals broadcast variant (both hints)") {
    val a = rows(SpatialJoin.pipJoin(pages, polys, Res))
    for (hint <- Seq("shuffle_hash", "merge"))
      assert(a == rows(SpatialJoin.pipJoinShuffled(pages, polys, Res, joinHint = hint)), s"hint=$hint")
  }

  test("every join variant equals the naive oracle on 1,000+ vertex contour rings") {
    // the 3-4 vertex polygons above get one PIP band each; these rings get
    // hundreds, so the prepared polygons' band index decides the rows
    val rings = graft.core.SynthRings.rings.take(6).zipWithIndex.map { case (c, i) => Poly(10L + i, c) }
    assert(rings.size == 6 && rings.forall(_.coords.length >= 2000))
    val expected = naive(rings)
    // pages inside a ring's bbox but outside the ring: the residual matters
    val inBbox = pages.select("lon", "lat").collect().count(r => rings.exists { p =>
      val b = p.bbox
      r.getDouble(0) >= b.minLon && r.getDouble(0) <= b.maxLon && r.getDouble(1) >= b.minLat && r.getDouble(1) <= b.maxLat
    })
    assert(expected.nonEmpty && inBbox > expected.map(_._1).size)
    assert(rows(SpatialJoin.pipJoin(pages, rings, Res)) == expected, "pipJoin")
    assert(rows(SpatialJoin.pipJoinSalted(pages, rings, Res, salts = 8)) == expected, "pipJoinSalted")
    for (hint <- Seq("shuffle_hash", "merge"))
      assert(rows(SpatialJoin.pipJoinShuffled(pages, rings, Res, joinHint = hint)) == expected, s"pipJoinShuffled $hint")
  }

  test("join variants leave no pip_lookup function registered and still equal the oracle") {
    // each call's probe closes over a broadcast of its polygon index; a
    // registry entry left behind would pin that broadcast for the life of
    // the session, so the variants build the probe column directly
    val frames = Seq(
      "pipJoin" -> SpatialJoin.pipJoin(pages, polys, Res),
      "pipJoinShuffled" -> SpatialJoin.pipJoinShuffled(pages, polys, Res),
      "pipJoinSalted" -> SpatialJoin.pipJoinSalted(pages, polys, Res, salts = 8))
    val left = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(n => n.startsWith("pip_lookup") || n.startsWith("pip_probe"))
    assert(left.isEmpty, s"registered lookups left behind: $left")
    val expected = naive(polys)
    for ((name, df) <- frames) {
      assert(df.count() == expected.size, name)
      assert(rows(df) == expected, name)
    }
  }

  test("duplicate polyIds are refused by every join variant") {
    // with two polygons under one id, the second's test would stand in for
    // the first's, and a cell in both covers would give duplicate rows
    val dup = polys :+ Poly(2L, poly((6.1, 43.1), (6.2, 43.1), (6.2, 43.2)))
    for ((name, df) <- variants(pages, dup)) {
      val e = intercept[IllegalArgumentException](df())
      assert(e.getMessage.contains("duplicate polyId 2"), s"$name: ${e.getMessage}")
    }
  }

  test("no polygons give no rows and the joined schema from every variant") {
    val schema = StructType(pages.schema("cell") +: pages.schema.filter(_.name != "cell") :+
      StructField("poly_id", LongType, nullable = false))
    for ((name, df) <- variants(pages, Nil)) {
      assert(df().schema == schema, name)
      assert(df().count() == 0, name)
    }
  }

  test("the polygon index's probe equals brute force on cell edges and shared cells") {
    // non-contiguous and negative ids; one polygon is exactly one cell, and
    // every polygon shares cells with another
    val cell = 1.0 / 128
    val shared = Seq(
      Poly(-3L, poly((6.25, 43.25), (6.25 + cell, 43.25), (6.25 + cell, 43.25 + cell), (6.25, 43.25 + cell))),
      Poly(1L << 40, poly((6.24, 43.24), (6.27, 43.245), (6.26, 43.27))),
      Poly(7L, poly((6.2, 43.2), (6.3, 43.2), (6.3, 43.3), (6.2, 43.3))),
      Poly(-1000000007L, poly((6.253, 43.22), (6.29, 43.26), (6.22, 43.29), (6.23, 43.24))),
      Poly(Long.MinValue, poly((6.21, 43.29), (6.31, 43.21), (6.31, 43.29))))
    val rnd = new scala.util.Random(12)
    val onEdges = for (a <- 24 to 41; b <- 24 to 41; f <- Seq(0.0, 0.5)) yield
      (6.0 + (a + f) * cell, 43.0 + a % 3 * f * cell + b * cell)
    val pts = onEdges ++ shared.flatMap(_.coords.grouped(2).map(c => (c(0), c(1)))) ++
      Seq.fill(3000)((6.18 + 0.14 * rnd.nextDouble(), 43.18 + 0.14 * rnd.nextDouble()))
    val expected = pts.map { case (x, y) =>
      shared.filter(p => Cells.cover(p.bbox, Res).contains(Cells.cellId(x, y, Res)) &&
        Geometry.contains(p.coords, x, y)).map(_.polyId)
    }
    val index = SpatialJoin.PolygonIndex(shared, Res)
    assert(pts.map { case (x, y) => index.probe(Cells.cellId(x, y, Res), x, y).toSeq } == expected)
    assert(expected.count(_.size >= 2) > 100 && expected.count(_.isEmpty) > 100)
    assert(onEdges.indices.count(expected(_).nonEmpty) > 20)

    // the same rows, duplicates included, from every variant, codegen'd
    // and interpreted
    import spark.implicits._
    val df = pts.zipWithIndex.map { case ((x, y), i) => (i.toLong, s"u$i", x, y, Cells.cellId(x, y, Res)) }
      .toDF("page_id", "url", "lon", "lat", "cell")
    val want = expected.zipWithIndex.flatMap { case (ids, i) => ids.map(i.toLong -> _) }.sorted
    for (interpreted <- Seq(false, true)) {
      if (interpreted) {
        spark.conf.set("spark.sql.codegen.wholeStage", "false")
        spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      }
      try for ((name, join) <- variants(df, shared)) {
        val got = join().select("page_id", "poly_id").as[(Long, Long)].collect().toSeq.sorted
        assert(got == want, s"$name, interpreted = $interpreted")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }
  }

  test("ring-expansion kNN equals brute force") {
    import spark.implicits._
    val qSeq = Seq(
      (0L, 6.1, 43.2), (1L, 6.5, 43.5), (2L, 6.9, 43.8), (3L, 6.253, 43.253),
      (4L, 6.7, 43.1), (5L, 6.0001, 43.9999), (6L, 6.42, 43.66), (7L, 6.99, 43.01))
    val got = SpatialJoin.knnBatch(pages, qSeq.toDF("q_id", "q_lon", "q_lat"), k = 5, res = Res)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val brute = knnBrute(pages, qSeq, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == brute && got.length == 5 * qSeq.length, s"got $got vs brute $brute")
  }

  test("ring-expansion kNN terminates and stays exact with all mass in one far cell") {
    import spark.implicits._
    // the query's own neighbourhood is empty for 115 rings: every page sits
    // in a single cell at the opposite corner of the tile (1/128-deg
    // cells), so radius discovery must walk out to ring 115 and the
    // candidate ring must still hold the exact top-k
    val far = (0 until 20).map { i =>
      val lon = 6.9 + (i % 5) * 1e-4; val lat = 43.9 + (i / 5) * 1e-4
      (100L + i, lon, lat, graft.core.Cells.cellId(lon, lat, Res))
    }.toDF("page_id", "lon", "lat", "cell")
    val qSeq = Seq((0L, 6.0, 43.0))
    val queries = qSeq.toDF("q_id", "q_lon", "q_lat")
    val got = SpatialJoin.knnBatch(far, queries, k = 5, res = Res, maxR = 128)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val brute = knnBrute(far, qSeq, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == brute && got.length == 5, s"got $got vs brute $brute")
    // a maxR neighbourhood holding < k pages leaves the query out of the
    // output rather than returning an unproven short result
    assert(SpatialJoin.knnBatch(far, queries, k = 5, res = Res, maxR = 4).count() == 0)
  }

  test("batch kNN near the antimeridian matches brute force (no lon wrap)") {
    import spark.implicits._
    // points straddling lon +/-180: under the plain-Euclidean metric the
    // far side is genuinely ~360 deg away — candidate cells must NOT wrap
    val res = 7
    val pts = Seq(
      (1L, -179.99, 10.0), (2L, -179.0, 10.0), (3L, -178.5, 10.1),
      (4L, 179.99, 10.0), (5L, 179.5, 10.0), (6L, 178.9, 9.9),
      (7L, -179.95, 10.05), (8L, -179.2, 9.8))
      .toDF("page_id", "lon", "lat")
      .withColumn("cell", graft.functions.GeoCols.cellId(col("lon"), col("lat"), res))
    val queries = Seq((0L, -179.98, 10.0), (1L, 179.9, 10.0)).toDF("q_id", "q_lon", "q_lat")
    val got = SpatialJoin.knnBatch(pts, queries, k = 3, res = res, maxR = 256)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val brute = knnBrute(pts,
        Seq((0L, -179.98, 10.0), (1L, 179.9, 10.0)), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == brute, s"got $got vs brute $brute")
  }

  test("batch kNN at the pole/antimeridian domain boundary matches brute force") {
    import spark.implicits._
    // lat = 90.0 floors to latIdx = 180<<res, one past the last row: the
    // clamp (Cells.cellId / GeoCols.cellId / knnBatch query idx) keeps
    // such points in the last valid row so ring joins still reach them —
    // both as data points AND as query points. Same for lon = 180.0.
    val res = 7
    val pts = Seq(
      (1L, 10.0, 90.0), (2L, 10.05, 89.99), (3L, 9.9, 89.95),
      (4L, 10.2, 89.9), (5L, 180.0, 89.98), (6L, 179.9, 89.97),
      (7L, 10.1, 89.2), (8L, 11.0, 89.0), (9L, 179.5, 89.5))
      .toDF("page_id", "lon", "lat")
      .withColumn("cell", graft.functions.GeoCols.cellId(col("lon"), col("lat"), res))
    // column codec still equals the scala codec at the boundary
    pts.select("page_id", "lon", "lat", "cell").collect().foreach { r =>
      assert(r.getLong(3) == graft.core.Cells.cellId(r.getDouble(1), r.getDouble(2), res))
    }
    val qSeq = Seq((0L, 10.0, 90.0), (1L, 180.0, 90.0), (2L, 9.95, 89.96))
    val got = SpatialJoin.knnBatch(pts, qSeq.toDF("q_id", "q_lon", "q_lat"),
        k = 3, res = res, maxR = 256)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val brute = knnBrute(pts, qSeq, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == brute, s"got $got vs brute $brute")
  }

  test("s2-clustered write serves a bbox from contiguous id ranges with file pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("s2layout").toString
    val cols = pages.select("page_id", "lon", "lat")
    val hashPath = s"$tmp/hash"
    val s2Path = s"$tmp/s2"
    cols.repartition(16, col("page_id")).write.mode("overwrite").parquet(hashPath)
    SpatialJoin.writeClusteredS2(cols, s2Path, "lon", "lat", partitions = 16)
    val (lo0, la0, lo1, la1) = (6.40, 43.40, 6.60, 43.60)
    val pred = SpatialJoin.s2RangePredicate(lo0, la0, lo1, la1, level = 10)
    // file pruning on the stored s2 column's min/max stats
    def s2Candidates(dir: String): Int = {
      val ranges = graft.core.S2.coverRect(lo0, la0, lo1, la1, 10)
        .map(c => (graft.core.S2.rangeMin(c), graft.core.S2.rangeMax(c)))
      new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).count { f =>
        val st = spark.read.parquet(f.toString).agg(min("s2"), max("s2")).collect()(0)
        !st.isNullAt(0) && ranges.exists { case (lo, hi) =>
          !(st.getLong(1) < lo || st.getLong(0) > hi) }
      }
    }
    val nTouched = s2Candidates(s2Path)
    val nTotal = new java.io.File(s2Path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(nTouched >= 1 && nTotal >= 2 * nTouched, s"touched=$nTouched of $nTotal")
    // the hash layout can prune only on lon/lat min/max stats (what parquet
    // footers carry), and a bbox scan still touches >= 2x as many files
    val nHash = new java.io.File(hashPath).listFiles().filter(_.getName.endsWith(".parquet")).count { f =>
      val st = spark.read.parquet(f.toString)
        .agg(min("lon"), max("lon"), min("lat"), max("lat")).collect()(0)
      !st.isNullAt(0) &&
        !(st.getDouble(1) < lo0 || st.getDouble(0) > lo1 || st.getDouble(3) < la0 || st.getDouble(2) > la1)
    }
    assert(nHash >= 2 * nTouched, s"hash=$nHash s2=$nTouched")
    // range predicate + exact refilter == plain bbox scan of the hash layout
    val viaS2 = spark.read.parquet(s2Path)
      .filter(pred) // the pushed-down pruning disjunction
      .filter(col("lon").between(lo0, lo1) && col("lat").between(la0, la1))
      .select("page_id").collect().map(_.getLong(0)).sorted.toSeq
    val plain = spark.read.parquet(hashPath)
      .filter(col("lon").between(lo0, lo1) && col("lat").between(la0, la1))
      .select("page_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaS2 == plain && viaS2.nonEmpty)
    // and the range disjunction reaches the parquet scan as pushed filters
    val p = spark.read.parquet(s2Path).filter(pred)
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("s2"), p)
  }

  test("batch-table kNN equals brute force on a query TABLE") {
    import spark.implicits._
    // query side is a table: 60 pages themselves plus off-lattice points
    // (incl. a query whose nearest neighbours straddle several rings)
    val fromPages = pages.select(col("page_id").as("q_id"),
      col("lon").as("q_lon"), col("lat").as("q_lat"))
      .filter(col("q_id") < 50)
    val extra = Seq(
      (1000L, 6.0001, 43.9999), (1001L, 6.99, 43.01), (1002L, 6.253, 43.253),
      (1003L, 6.42, 43.66), (1004L, 6.1, 43.2), (1005L, 6.5, 43.5),
      (1006L, 6.9, 43.8), (1007L, 6.7, 43.1)).toDF("q_id", "q_lon", "q_lat")
    val queries = fromPages.unionAll(extra)
    val got = SpatialJoin.knnBatch(pages, queries, k = 5, res = Res)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val qSeq = queries.collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    val brute = knnBrute(pages, qSeq, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    assert(got == brute)
    // and it is a real batch operator: no driver loop means the plan is a
    // single DAG — just sanity-check it contains the candidate equi-join
    val plan = SpatialJoin.knnBatch(pages, queries, k = 5, res = Res)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }
}
