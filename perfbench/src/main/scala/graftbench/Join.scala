package graftbench

import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cells, Geometry, JobConfig}
import graft.engine.{RasterPipeline, SpatialJoin}
import graft.synth.Pages

/** join_bcast: the spatial-join user's query. A seeded pages table (the
  * full north-star schema, ~20% of rows in one hot cell) is geocoded and
  * joined against contour polygons traced from the seeded DEM; every row
  * of the output (url, poly_id, sha2(text)) is computed and hashed.
  *
  * The timed variant is `SpatialJoin.pipJoin`: the cover is broadcast and
  * no page crosses an exchange. The other variant, `pipJoinSalted` with
  * 2 x cores salts (`salted = true`, the path for covers too large to
  * broadcast: the hot cell crosses a salted exchange), must give the same
  * output once per run. */
final class Join(work: Path, seed: Long, cores: Int, salted: Boolean) extends Workload {
  /** (rows, order-independent checksum, output bytes) of one query. */
  type Out = (Long, Long, Long)

  val NPages = 200000L
  val Res = 7
  val NPolys = 500
  val Salts = 2 * cores
  /** The polygon layer comes from one fixed DEM seed. Across terrain seeds
    * 1-8 the 500 largest closed 200 m rings hold 0.66-1.62 join rows per
    * page (the hot cell sits inside 0-3 of them), so a seeded layer would
    * swing the join size by +-40% between runs. Seed 6 puts the hot cell
    * inside 2 rings and 3 ring bboxes, so it reaches the salted exchange. */
  val PolygonSeed = 6L
  /** Page ids are disjoint between seeds: urls, texts and geocodes all
    * derive from the id. */
  val IdBase: Long = java.lang.Math.floorMod(seed, 1000000L) * 1000000000L

  private var dem: String = _
  private def pagesDir: String = work.resolve("pages").toString
  private var polys: Seq[SpatialJoin.Poly] = Nil
  private var expected: Out = null

  def prepare(spark: SparkSession): Unit = {
    import spark.implicits._
    dem = Dem.writeHgt(work.resolve("dem"), PolygonSeed, 43, 6)
    spark.range(IdBase, IdBase + NPages, 1, 4 * cores).map(i => Pages.pageOf(i))
      .write.parquet(pagesDir)
  }

  /** The 500 largest closed 200 m contours of the tile, and their cover. */
  def setup(spark: SparkSession): Unit = {
    val cfg = JobConfig(contourStepSize = 200, maxNodesPerTile = 0, maxNodesPerWay = 0, rdpEpsilon = None)
    val rings = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(dem), cfg), cfg)
      .filter(col("closed")).select("elevation", "pathIdx", "coords").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    polys = rings.sortBy { case (e, i, c) => (-math.abs(Geometry.signedArea(c)), e, i) }
      .take(NPolys).zipWithIndex
      .map { case ((_, _, c), i) => SpatialJoin.Poly(i.toLong, c) }.toSeq
    SpatialJoin.coverDf(spark, polys, Res).collect()
  }

  private def pages(spark: SparkSession): DataFrame = Pages.geocoded(spark.read.parquet(pagesDir), Res)

  private def join(geo: DataFrame, useSalts: Boolean): DataFrame =
    (if (useSalts) SpatialJoin.pipJoinSalted(geo, polys, Res, Salts) else SpatialJoin.pipJoin(geo, polys, Res))
      .select(col("url"), col("poly_id"), sha2(col("text"), 256).as("sha"))

  /** Every output column of every row feeds the hash, so nothing of the
    * join is pruned; only a few numbers reach the driver. The hash sum
    * keeps 32 bits per row, so it cannot overflow under ANSI arithmetic. */
  private val summaryCols = Seq(count(lit(1)),
    sum(xxhash64(col("url"), col("poly_id"), col("sha")).bitwiseAND(lit(0xffffffffL))),
    sum(length(col("url")) + length(col("sha")) + 8))

  private def summary(out: DataFrame, extra: Column*): (Out, Row) = {
    val r = out.agg(summaryCols.head, summaryCols.tail ++ extra: _*).collect()(0)
    def long(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    ((long(0), long(1), long(2)), r)
  }

  def run(spark: SparkSession, i: Int): Out = summary(join(pages(spark), salted))._1

  def check(out: Out): (Long, Long) = {
    Check(out._1 > 0, "join returned no rows")
    if (expected == null) expected = out
    else Check(out == expected, s"rows/checksum/bytes $out differ from the first query's $expected")
    (NPages, out._3)
  }

  /** The other join variant, the page text invariant and a brute-force
    * sample must all agree with the timed query's output. */
  def finalCheck(spark: SparkSession): Unit = {
    import spark.implicits._
    val textSha = udf((url: String) => Join.sha256Hex(Pages.textOf(Join.idOf(url))))
    val (otherOut, r) = summary(join(pages(spark), !salted),
      sum((col("sha") =!= textSha(col("url"))).cast("long")))
    Check(r.getLong(3) == 0, s"${r.getLong(3)} rows whose sha2(text) is not the sha of Pages.textOf")
    Check(otherOut == expected,
      s"${if (salted) "pipJoin" else "pipJoinSalted"} gives $otherOut, this variant $expected")
    // a join is per page, so joining only the sampled pages gives their rows
    val ids = sampleIds(20000).distinct
    val sample = pages(spark).join(broadcast(ids.map(Pages.urlOf).toDF("url")), Seq("url"), "leftsemi")
    val got = join(sample, salted).select("url", "poly_id").collect()
      .groupBy(_.getString(0)).map { case (u, rs) => u -> rs.map(_.getLong(1)).toSet }
    val boxes = polys.map(p => p -> p.bbox)
    ids.foreach { id =>
      val lon = Pages.lonOf(id)
      val lat = Pages.latOf(id)
      val want = boxes.collect {
        case (p, b) if lon >= b.minLon && lon <= b.maxLon && lat >= b.minLat && lat <= b.maxLat &&
          Geometry.contains(p.coords, lon, lat) => p.polyId
      }.toSet
      val have = got.getOrElse(Pages.urlOf(id), Set.empty[Long])
      Check(want == have, s"page $id: join gives polygons $have, brute force $want")
    }
  }

  private def sampleIds(n: Int): Seq[Long] =
    (0 until n).map(k => IdBase + java.lang.Math.floorMod(Pages.mix(seed * 7919L + k), NPages))

  /** pages x cover on `cell`, no residual: the candidates PIP must test. */
  private def prejoin(geo: DataFrame, cover: DataFrame): DataFrame =
    if (!salted) geo.join(broadcast(cover), Seq("cell"))
    else geo.join(broadcast(cover.select("cell").distinct()), Seq("cell"), "leftsemi")
      .withColumn("salt", pmod(xxhash64(col("url")), lit(Salts.toLong)))
      .join(cover.crossJoin(geo.sparkSession.range(0, Salts).toDF("salt")).hint("shuffle_hash"),
        Seq("cell", "salt"))

  def traced(spark: SparkSession, cores: Int, untracedWall: Double): Map[String, Double] = {
    val tr = new Tracer(spark)
    try {
      val t0 = System.nanoTime()
      val (geo, sGeo) = tr.layer("Pages.geocoded") {
        val g = pages(spark).select("url", "text", "lon", "lat", "cell").persist()
        g.count()
        g
      }
      val ((cover, cells), sCover) = tr.layer("SpatialJoin.coverDf") {
        val c = SpatialJoin.coverDf(spark, polys, Res)
        (c, c.collect().length)
      }
      val (candidates, sPre) = tr.layer("SpatialJoin.prejoin") {
        prejoin(geo, cover)
          .agg(count(lit(1)), sum(xxhash64(col("url"), col("poly_id")).bitwiseAND(lit(0xffffffffL))))
          .collect()(0).getLong(0)
      }
      val (joined, sJoin) = tr.layer("SpatialJoin.pip")(summary(join(geo, salted))._1)
      val tracedWall = (System.nanoTime() - t0) / 1e9
      geo.unpersist()
      Check(joined == expected, "layer-by-layer join differs from the untraced query")
      val rows = joined._1
      // the pip layer re-runs the prejoin inside the engine's join
      val sPip = sJoin - sPre

      val gc0 = Jvm.gcSeconds()
      val (e2eOut, sE2e) = tr.layer("e2e")(run(spark, -1))
      val gcS = Jvm.gcSeconds() - gc0
      check(e2eOut)

      val k = kernels(candidates, rows)
      val layers = sGeo + sCover + sPre + sPip
      Map(
        "Pages.geocoded.s" -> sGeo,
        "scan.bytes" -> tr.tasksOf("Pages.geocoded").map(_.inputBytes).sum.toDouble,
        "SpatialJoin.coverDf.s" -> sCover,
        "SpatialJoin.coverDf.cells" -> cells.toDouble,
        "SpatialJoin.coverDf.cells_per_poly" -> cells.toDouble / polys.size,
        "SpatialJoin.prejoin.s" -> sPre,
        "SpatialJoin.prejoin.candidates" -> candidates.toDouble,
        "SpatialJoin.prejoin.candidates_per_page" -> candidates.toDouble / NPages,
        "SpatialJoin.pip.s" -> sPip,
        "SpatialJoin.pip.evals_per_row" -> candidates.toDouble / rows,
        "SpatialJoin.pip.rows" -> rows.toDouble,
        "SpatialJoin.pip.rows_per_candidate" -> rows.toDouble / candidates,
        "Geometry.contains.ns_per_eval" -> k.nsPerEval,
        "kernel.cpu_s" -> k.cpuS,
        "spark.overhead_frac" -> (1 - k.cpuS / (cores * layers))
      ) ++ tr.sparkMetrics(cores, sE2e, gcS) ++ Tracer.traceMetrics(tracedWall, layers, untracedWall)
    } finally tr.close()
  }

  private final case class KernelCost(nsPerEval: Double, cpuS: Double)

  /** Single-thread cost of the join's own work, from a seeded page sample:
    * geocode every page, PIP every candidate, sha every output row. */
  private def kernels(candidates: Long, rows: Long): KernelCost = {
    val ids = sampleIds(20000)
    def nsPer(n: Long)(body: => Unit): Double = {
      var reps = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < 200000000L || reps < 2) { body; reps += 1 }
      (System.nanoTime() - t0).toDouble / reps / n
    }
    var sink = 0L
    val geocodeNs = nsPer(ids.size) {
      ids.foreach(id => sink += Cells.cellId(Pages.lonOf(id), Pages.latOf(id), Res))
    }
    val cover = polys.flatMap(p => Cells.cover(p.bbox, Res).map(_ -> p)).groupBy(_._1)
    val pairs = ids.flatMap { id =>
      val lon = Pages.lonOf(id)
      val lat = Pages.latOf(id)
      cover.getOrElse(Cells.cellId(lon, lat, Res), Nil).map { case (_, p) => (p.coords, lon, lat) }
    }
    val evalNs = if (pairs.isEmpty) 0.0 else nsPer(pairs.size) {
      pairs.foreach { case (c, x, y) => if (Geometry.contains(c, x, y)) sink += 1 }
    }
    val texts = ids.take(2000).map(Pages.textOf)
    val shaNs = nsPer(texts.size)(texts.foreach(t => sink += Join.sha256Hex(t).length))
    if (sink == 42) System.err.println("")
    KernelCost(evalNs, (geocodeNs * NPages + evalNs * candidates + shaNs * rows) / 1e9)
  }
}

object Join {
  def idOf(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong

  private val Hex = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
    val out = new Array[Char](2 * d.length)
    var i = 0
    while (i < d.length) { out(2 * i) = Hex((d(i) >> 4) & 15); out(2 * i + 1) = Hex(d(i) & 15); i += 1 }
    new String(out)
  }
}
