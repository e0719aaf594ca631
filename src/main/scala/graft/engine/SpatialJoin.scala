package graft.engine

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{BBox, Cells, PreparedPolygon}
import graft.functions.{PipProbe, S2CellIdExpr}

/** Pages x polygons spatial join and kNN, built the way they must run at
  * 10^12-row scale (SURVEY.md §2.3 J3/J5, north rule):
  *
  *  - a join broadcasts one PolygonIndex (each polygon's bbox cell cover
  *    keyed to the prepared polygon, whose ray cast equals
  *    Geometry.contains) and ends in its probe: a page's cell picks the
  *    candidates, the exact point-in-polygon test keeps those holding it
  *    (pyhgtmap clips before PIP too, hgt/file.py:329-331). The
  *    variants differ only in how pages reach the probe: in place, or
  *    through an exchange on `cell`, plain or salted;
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

  /** Cell cover of each polygon's bbox at `res`: the (cell, poly_id) pairs
    * a PolygonIndex holds, as a table (perfbench times and joins it). */
  def coverDf(spark: SparkSession, polys: Seq[Poly], res: Int): DataFrame = {
    import spark.implicits._
    polys.flatMap { p =>
      Cells.cover(p.bbox, res).map(c => (c, p.polyId))
    }.toDF("cell", "poly_id")
  }

  /** coverDf's cells, sorted and distinct; `slots(from(i) until from(i + 1))`
    * are the polygons covering `cells(i)` in input order, `ids`/`prepared`
    * the polygon behind each slot. */
  private[engine] final class PolygonIndex private (val cells: Array[Long], from: Array[Int],
      slots: Array[Int], ids: Array[Long], prepared: Array[PreparedPolygon]) extends PipProbe.Index {
    def probe(cell: Long, lon: Double, lat: Double): Array[Long] = {
      val i = java.util.Arrays.binarySearch(cells, cell)
      if (i < 0) return Array.emptyLongArray
      val out = new Array[Long](from(i + 1) - from(i))
      var n = 0
      var k = from(i)
      while (k < from(i + 1)) {
        if (prepared(slots(k)).contains(lon, lat)) { out(n) = ids(slots(k)); n += 1 }
        k += 1
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }
    def cellsDf(spark: SparkSession): DataFrame = spark.createDataset(cells.toSeq)(Encoders.scalaLong).toDF("cell")
  }

  private[engine] object PolygonIndex {
    def apply(polys: Seq[Poly], res: Int): PolygonIndex = {
      val ids = polys.map(_.polyId).toArray
      val dup = ids.diff(ids.distinct)
      require(dup.isEmpty, s"duplicate polyId ${dup.head}: every polygon needs its own id")
      val pairs = ids.indices.flatMap(s => Cells.cover(polys(s).bbox, res).map(c => (c, s))).sorted
      val from = (pairs.indices.filter(k => k == 0 || pairs(k)._1 != pairs(k - 1)._1) :+ pairs.size).toArray
      new PolygonIndex(from.init.map(pairs(_)._1), from, pairs.map(_._2).toArray, ids,
        polys.map(p => PreparedPolygon(p.coords)).toArray)
    }
  }

  /** Every variant's last step: a row per page and polygon holding it, in
    * the column order a join of pages and coverDf on `cell` gives. */
  private def probe(pages: DataFrame, index: PolygonIndex): DataFrame = {
    val bc = pages.sparkSession.sparkContext.broadcast(index)
    val ids = explode(PipProbe.col(col("cell"), col("lon"), col("lat"), bc))
    pages.select(col("cell") +: pages.columns.toSeq.filter(_ != "cell").map(col) :+ ids.as("poly_id"): _*)
  }

  /** pages(cell, lon, lat, ...) x polygons -> rows inside each polygon.
    * Pages probe the broadcast index where they are: no exchange, no join. */
  def pipJoin(pages: DataFrame, polys: Seq[Poly], res: Int): DataFrame =
    probe(pages, PolygonIndex(polys, res))

  /** Unsalted shuffle variant: pages exchange on `cell` on their way to the
    * probe, so a hot cell lands all its rows on one reducer: the baseline
    * of the skew A/B (SkewBench, BENCH.md) and of AQE's skew split
    * (`joinHint` "merge" lets it split the hot partition, "shuffle_hash"
    * pins the worst case). Same semi prefilter as the salted variant. */
  def pipJoinShuffled(
      pages: DataFrame, polys: Seq[Poly], res: Int, joinHint: String = "shuffle_hash"): DataFrame = {
    val index = PolygonIndex(polys, res)
    val cells = index.cellsDf(pages.sparkSession)
    probe(pages.join(broadcast(cells), Seq("cell"), "leftsemi")
      .join(cells.hint(joinHint), Seq("cell"), "leftsemi"), index)
  }

  /** Salted shuffle variant: pages exchange on (cell, salt =
    * pmod(xxhash64(url), salts)) against the covered cells x salts, so one
    * dense cell spreads over `salts` reducers. A broadcast semi-join on the
    * covered cells first keeps uncovered pages out of the wide exchange. */
  def pipJoinSalted(pages: DataFrame, polys: Seq[Poly], res: Int, salts: Int): DataFrame = {
    val index = PolygonIndex(polys, res)
    val cells = index.cellsDf(pages.sparkSession)
    probe(pages.join(broadcast(cells), Seq("cell"), "leftsemi")
      .withColumn("salt", pmod(xxhash64(col("url")), lit(salts.toLong)))
      .join(cells.withColumn("salt", explode(sequence(lit(0L), lit(salts - 1L)))).hint("shuffle_hash"),
        Seq("cell", "salt"), "leftsemi").drop("salt"), index)
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
}
