package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.LongMap
import graft.core.{BBox, Cells, PreparedPolygon}
import graft.functions.{PipLookup, S2CellIdExpr}

/** Pages x polygons spatial join and kNN, built the way they must run at
  * 10^12-row scale (SURVEY.md §2.3 J3/J5, north rule):
  *
  *  - polygons are covered by grid cells at a chosen resolution; the
  *    cell-cover equi-join prunes the candidate set BEFORE the exact
  *    point-in-polygon residual (the reference's clip-before-PIP pattern,
  *    /root/reference/pyhgtmap/hgt/file.py:329-331, as a join plan);
  *  - the residual probes a PreparedPolygon, which ray-casts over one
  *    y-band's edges instead of the whole ring and gives exactly
  *    Geometry.contains' answer; all three join variants share it;
  *  - the cover side is broadcast when small, else salted: pages get a
  *    deterministic hash(url)-based salt, the cover side is replicated
  *    per salt — dense cells (urban clusters) spread over `salt` reducers;
  *  - kNN joins each query's cell neighbourhood on `cell`: per-cell
  *    counts fix a ring radius that provably holds the k nearest pages,
  *    and a windowed top-k over that ring equals brute force.
  */
object SpatialJoin {

  final case class Poly(polyId: Long, coords: Array[Double]) {
    def bbox: BBox = {
      var minLon = Double.MaxValue; var minLat = Double.MaxValue
      var maxLon = Double.MinValue; var maxLat = Double.MinValue
      var i = 0
      while (i < coords.length) {
        val x = coords(i); val y = coords(i + 1)
        if (x < minLon) minLon = x; if (x > maxLon) maxLon = x
        if (y < minLat) minLat = y; if (y > maxLat) maxLat = y
        i += 2
      }
      BBox(minLon, minLat, maxLon, maxLat)
    }
  }

  /** Cell cover of each polygon's bbox at `res` (coarse prefilter; exact
    * residual is the PIP predicate). Carries only ids — the prepared
    * polygons travel once via a torrent broadcast (see PipLookup). */
  def coverDf(spark: SparkSession, polys: Seq[Poly], res: Int): DataFrame = {
    import spark.implicits._
    polys.flatMap { p =>
      Cells.cover(p.bbox, res).map(c => (c, p.polyId))
    }.toDF("cell", "poly_id")
  }

  /** The PIP residual every join variant ends with: each polygon is
    * prepared once here on the driver (PreparedPolygon, whose band-indexed
    * ray cast equals Geometry.contains bit for bit) and the poly_id ->
    * prepared polygon dictionary travels in one torrent broadcast, held by
    * the PipLookup in the returned plan and by nothing else. */
  private def pipResidual(candidates: DataFrame, polys: Seq[Poly]): DataFrame = {
    val bc = candidates.sparkSession.sparkContext.broadcast(
      LongMap(polys.map(p => p.polyId -> PreparedPolygon(p.coords)): _*))
    candidates.filter(PipLookup.col(col("lon"), col("lat"), col("poly_id"), bc))
  }

  /** pages(cell, lon, lat, ...) x polygons -> rows inside each polygon.
    * Broadcast cover variant (cover side small). */
  def pipJoin(pages: DataFrame, polys: Seq[Poly], res: Int): DataFrame = {
    val cover = coverDf(pages.sparkSession, polys, res)
    pipResidual(pages.join(broadcast(cover), Seq("cell")), polys)
  }

  /** Unsalted shuffle variant — what a cover too large to broadcast forces
    * WITHOUT skew handling: both sides exchange on `cell`, so a hot cell
    * (urban cluster) lands every one of its rows on a single reducer. Kept
    * as the honest baseline for the skew A/B (SkewBench; BENCH.md skew
    * section) and for AQE's skew-join mitigation (`joinHint` = "merge"
    * lets AdaptiveSparkPlan split the skewed partition; "shuffle_hash"
    * pins the non-adaptive worst case). Same broadcast semi prefilter as
    * the salted variant so the two differ ONLY in skew handling. */
  def pipJoinShuffled(
      pages: DataFrame, polys: Seq[Poly], res: Int, joinHint: String = "shuffle_hash"): DataFrame = {
    val cover = coverDf(pages.sparkSession, polys, res)
    pipResidual(pages
      .join(broadcast(cover.select("cell").distinct()), Seq("cell"), "leftsemi")
      .join(cover.hint(joinHint), Seq("cell")), polys)
  }

  /** Salted shuffle variant for covers too large to broadcast / dense
    * cells: deterministic salt = pmod(xxhash64(url), salts).
    *
    * A broadcast semi-join on the cover's cell set prunes pages BEFORE the
    * wide exchange: only rows whose cell is covered by some polygon enter
    * the shuffle. At 10^12 pages where polygons cover a fraction of the
    * globe this is the difference between shuffling everything and
    * shuffling the candidate set. */
  def pipJoinSalted(pages: DataFrame, polys: Seq[Poly], res: Int, salts: Int): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    val cover0 = coverDf(spark, polys, res)
    val saltsDf = spark.range(0, salts).toDF("salt")
    val cover = cover0.crossJoin(saltsDf)
    pipResidual(pages
      .join(broadcast(cover0.select("cell").distinct()), Seq("cell"), "leftsemi")
      .withColumn("salt", pmod(xxhash64(col("url")), lit(salts.toLong)))
      .join(cover.hint("shuffle_hash"), Seq("cell", "salt")), polys)
      .drop("salt")
  }

  /** Spatially clustered parquet write: rows are range-partitioned and
    * sorted by their S2 leaf cell id, which is kept as a column (`s2`), so
    * every file and row group covers a compact patch of the sphere. A
    * lat/lon rectangle maps to a handful of CONTIGUOUS id ranges (one per
    * cover cell, S2.coverRect), so a bbox scan becomes a pushed-down
    * `s2 BETWEEN lo AND hi OR ...` predicate (s2RangePredicate) that
    * parquet row-group stats answer without decoding — file pruning AND
    * row-group pruning from the same sorted long column. */
  def writeClusteredS2(
      df: DataFrame,
      path: String,
      lonCol: String,
      latCol: String,
      partitions: Int): Unit = {
    df.withColumn("s2", S2CellIdExpr.col(col(lonCol), col(latCol), 30))
      .repartitionByRange(partitions, col("s2"))
      .sortWithinPartitions("s2")
      .write.mode("overwrite").parquet(path)
  }

  /** Pushdown predicate for a bbox scan of an S2-clustered table: the
    * disjunction of the cover cells' leaf-id ranges. Callers AND an exact
    * lon/lat re-filter after it (the covering is a superset). */
  def s2RangePredicate(
      minLon: Double, minLat: Double, maxLon: Double, maxLat: Double,
      level: Int, cellCol: String = "s2"): org.apache.spark.sql.Column = {
    val cells = graft.core.S2.coverRect(minLon, minLat, maxLon, maxLat, level)
    require(cells.nonEmpty)
    cells.map(c => col(cellCol).between(
      graft.core.S2.rangeMin(c), graft.core.S2.rangeMax(c))).reduce(_ || _)
  }

  /** Exact batch-table kNN — both sides cell-indexed, candidates from a
    * per-query k-ring EQUI-JOIN on cell, top-k by window; no driver loop,
    * no per-query driver state, so the query side can be a 10^9-row table
    * (gates q12 and q14).
    *
    * Two fully-columnar passes make it exact, not approximate:
    *  1. radius discovery — queries explode to their (2·maxR+1)^2 cell
    *     neighbourhood, equi-join the PRE-AGGREGATED per-cell page counts
    *     (tiny vs pages), and a cumulative window over Chebyshev ring
    *     distance finds r_q = the smallest ring holding >= k pages;
    *  2. candidate join — any point within the k-th-neighbour distance
    *     bound D = sqrt(2)·(r_q+1)·cellSize lies within Chebyshev radius
    *     R_q = floor(sqrt(2)·(r_q+1)) + 1 cells, so the ring(R_q) equi-join
    *     provably contains the true top-k; the window then ranks by exact
    *     squared distance (ties by page_id).
    *
    * Queries whose maxR neighbourhood holds < k pages are absent from the
    * output (raise maxR / coarsen res for sparse data). Returns
    * (q_id, rank, page_id, d2).
    *
    * `res` is a pure density/cost knob — results are EXACT at any res.
    * Coarser cells shrink pass 1's per-query fanout (2·maxR+1)^2
    * quadratically while growing the pass-2 candidate set linearly with
    * cell area; size res so the expected k-NN radius spans a few cells
    * (and maxR·cellSize still covers the sparsest query's k-neighbourhood). */
  def knnBatch(
      pages: DataFrame, // needs page_id, lon, lat, cell (at `res`)
      queries: DataFrame, // (q_id, q_lon, q_lat)
      k: Int,
      res: Int,
      maxR: Int = 64): DataFrame = {
    val w = Cells.lonWidth(res)
    val maxLatIdx = 180L << res
    val scale = (1L << res).toDouble
    val cellCounts = pages.groupBy("cell").agg(count(lit(1)).as("cnt"))
    // index arithmetic mirrors GeoCols.cellId exactly (floor on the raw
    // coordinate, domain-boundary CLAMP — a query at lat = 90.0 must index
    // the last row, not the nonexistent one past it, or its northern cells
    // become unreachable by every ring join) — deriving idx from the cell
    // id via double division loses integer precision once cell ids pass
    // 2^53 (res >= 19)
    val q = queries
      .withColumn("q_lon_idx",
        least(greatest(floor((col("q_lon") + lit(180.0)) * lit(scale)).cast("long"), lit(0L)), lit(w - 1)))
      .withColumn("q_lat_idx",
        least(greatest(floor((col("q_lat") + lit(90.0)) * lit(scale)).cast("long"), lit(0L)), lit(maxLatIdx - 1)))
    // NO longitude wrap: the ranking metric below is plain Euclidean d2,
    // under which points across the antimeridian are genuinely far —
    // wrapping the candidate cells would count them as near in pass 1 and
    // shrink the covering radius below the true k-th neighbour
    def ringCells(src: DataFrame, radius: org.apache.spark.sql.Column, carry: Seq[String]) =
      src
        .select((col("q_id") +: carry.map(col) :+
          col("q_lon_idx") :+ col("q_lat_idx") :+ radius.as("rr")): _*)
        .withColumn("dy", explode(sequence(-col("rr"), col("rr"))))
        .filter(col("q_lat_idx") + col("dy") >= 0 && col("q_lat_idx") + col("dy") < maxLatIdx)
        .withColumn("dx", explode(sequence(-col("rr"), col("rr"))))
        .filter(col("q_lon_idx") + col("dx") >= 0 && col("q_lon_idx") + col("dx") < w)
        .withColumn("d", greatest(abs(col("dy")), abs(col("dx"))))
        .withColumn("cell",
          (col("q_lat_idx") + col("dy")) * lit(w) + col("q_lon_idx") + col("dx"))
    // pass 1: smallest ring with >= k candidates, from per-cell counts
    val wcum = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy("d")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val rq = ringCells(q, lit(maxR), Nil)
      .join(cellCounts, Seq("cell"))
      .groupBy("q_id", "d").agg(sum("cnt").as("nc"))
      .withColumn("cum", sum("nc").over(wcum))
      .filter(col("cum") >= k)
      .groupBy("q_id").agg(min("d").as("rq"))
    // pass 2: ring(R_q) candidates, exact distance, windowed top-k
    val qr = q.join(rq, Seq("q_id"))
      .withColumn("bigR",
        (floor((col("rq") + lit(1)).cast("double") * lit(math.sqrt(2.0))) + lit(1)).cast("int"))
    val cand = ringCells(qr, col("bigR"), Seq("q_lon", "q_lat"))
      .select("q_id", "q_lon", "q_lat", "cell")
    val joined = pages.join(cand, Seq("cell"))
      .withColumn("d2",
        (col("lon") - col("q_lon")) * (col("lon") - col("q_lon")) +
          (col("lat") - col("q_lat")) * (col("lat") - col("q_lat")))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("d2").asc, col("page_id").asc)
    joined
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "page_id", "d2")
  }

  /** Brute-force reference kNN (test oracle / small inputs). */
  def knnBrute(
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
}
