package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.MarchingSquares.{GridView, Scratch}
import graft.engine.{Checkpoint, RasterPipeline}
import graft.sinks.{PreparedWay, TileSink}

/** tile_pbf: the tiling user's job and the reference's one published
  * anchor (PACA: step 10 m, RDP eps 1e-5, PBF) over seeded 1x1 degree
  * tiles, run with `RasterPipeline.runResumable` into a fresh directory. */
final class TilePbf(work: Path, state: Path, seed: Long, buildId: String) extends Workload {
  type Out = (Path, RasterPipeline.RunReport)

  val Tiles = 2
  val cfg = JobConfig(contourStepSize = 10, rdpEpsilon = Some(1e-5))
  private var paths: Seq[String] = Nil
  private var digest: String = null

  def prepare(spark: SparkSession): Unit =
    paths = (0 until Tiles).map(k => Dem.writeHgt(work.resolve("dem"), seed, 43, 6 + k))

  def setup(spark: SparkSession): Unit = ()

  def run(spark: SparkSession, i: Int): Out = {
    val out = work.resolve(s"out-$i")
    (out, RasterPipeline.runResumable(spark, paths, out.toString, cfg, TileSink.PbfFormat))
  }

  def check(o: Out): (Long, Long) = {
    val (out, report) = o
    try {
      Check(report.tilesWritten > 0, "no tile written")
      val commits = Checkpoint.readCommits(out.toString)
      Check(commits.size == report.tilesWritten,
        s"${commits.size} commit records for ${report.tilesWritten} tiles")
      val nodes = commits.map(_.nodes).sum
      val ways = commits.map(_.ways).sum
      Check(nodes > 0 && ways > 0, s"empty output: $nodes nodes, $ways ways")
      val d = TilePbf.digest(report.files)
      if (digest == null) {
        // first output of the run: decode it, recount it without Spark, and
        // hold it to the digest an earlier run of this build and seed left
        val decoded = report.files.map(f => PbfCount.count(Files.readAllBytes(java.nio.file.Paths.get(f))))
        val dn = decoded.map(_.nodes).sum
        val dw = decoded.map(_.ways).sum
        Check(dn == nodes && dw == ways, s"decoded $dn nodes / $dw ways, traced $nodes / $ways")
        // one thread per tile: only the counts matter here, not the timings
        val k = paths.map(p => java.util.concurrent.CompletableFuture.supplyAsync(() => Kernels.run(Seq(p), cfg, None)))
          .map(_.join()).reduce((a, b) => a.copy(nodes = a.nodes + b.nodes, ways = a.ways + b.ways))
        Check(k.nodes == nodes && k.ways == ways,
          s"pure-JVM kernels give ${k.nodes} nodes / ${k.ways} ways, Spark $nodes / $ways")
        val saved = state.resolve(s"tile_pbf-$seed-$buildId.sha256")
        if (Files.exists(saved)) Check(Files.readString(saved) == d, "output differs from an earlier run at this seed")
        else Files.writeString(Files.createDirectories(state).resolve(saved.getFileName), d)
        digest = d
      } else Check(d == digest, "output differs between queries of one run")
      (nodes, report.files.map(f => Files.size(java.nio.file.Paths.get(f))).sum)
    } finally TilePbf.delete(out)
  }

  def finalCheck(spark: SparkSession): Unit = ()

  def traced(spark: SparkSession, cores: Int, untracedWall: Double): Map[String, Double] = {
    val tr = new Tracer(spark)
    try {
      val out = work.resolve("out-traced")
      Fs.mkdirs(out.toString)
      val t0 = System.nanoTime()
      val (ts, sTiles) = tr.layer("RasterPipeline.tiles") {
        val d = RasterPipeline.tiles(spark, paths, cfg).persist()
        (d, d.count())
      }
      val ((cs, nodes, ways), sContours) = tr.layer("RasterPipeline.contours") {
        val c = RasterPipeline.contours(ts._1, cfg).persist()
        val r = c.agg(sum("nbNodes"), count(lit(1)), sum(size(col("coords")))).collect()(0)
        (c, r.getLong(0), r.getLong(1))
      }
      val (offsets, sIds) = tr.layer("RasterPipeline.idOffsets")(RasterPipeline.idOffsets(cs, cfg))
      val (files, sWrite) = tr.layer("RasterPipeline.writeOsmXml") {
        RasterPipeline.writeOsmXml(cs, offsets, out.toString, cfg, commit = true, format = TileSink.PbfFormat)
      }
      val tracedWall = (System.nanoTime() - t0) / 1e9
      cs.unpersist()
      ts._1.unpersist()
      Check(TilePbf.digest(files) == digest, "layer-by-layer output differs from runResumable's")
      val outBytes = files.map(f => Files.size(java.nio.file.Paths.get(f))).sum
      TilePbf.delete(out)

      val e2eOut = work.resolve("out-e2e")
      val gc0 = Jvm.gcSeconds()
      val (report, sE2e) = tr.layer("e2e")(RasterPipeline.runResumable(spark, paths, e2eOut.toString, cfg, TileSink.PbfFormat))
      val gcS = Jvm.gcSeconds() - gc0
      check((e2eOut, report))

      val k = Kernels.run(paths, cfg, sinkDir = Some(work.resolve("kernel-sink")))
      val layers = sTiles + sContours + sIds + sWrite
      Map(
        "RasterPipeline.tiles.s" -> sTiles,
        "RasterPipeline.tiles.count" -> ts._2.toDouble,
        "RasterPipeline.contours.s" -> sContours,
        "RasterPipeline.contours.nodes" -> nodes.toDouble,
        "RasterPipeline.contours.ways" -> ways.toDouble,
        "RasterPipeline.contours.task_skew" -> Tracer.taskSkew(tr.tasksOf("RasterPipeline.contours")),
        "RasterPipeline.contours.shuffle_bytes" ->
          tr.tasksOf("RasterPipeline.contours").map(_.shuffleWriteBytes).sum.toDouble,
        "RasterPipeline.idOffsets.s" -> sIds,
        "RasterPipeline.writeOsmXml.s" -> sWrite,
        "RasterPipeline.writeOsmXml.bytes" -> outBytes.toDouble,
        "RasterPipeline.writeOsmXml.task_skew" -> Tracer.taskSkew(tr.tasksOf("RasterPipeline.writeOsmXml")),
        "Hgt.decode.s" -> k.decodeS,
        "Chop.chop.s" -> k.chopS,
        "MarchingSquares.trace.s" -> k.traceS,
        "MarchingSquares.trace.nodes" -> k.rawNodes.toDouble,
        "Rdp.simplify.s" -> k.rdpS,
        "Rdp.simplify.keep_ratio" -> k.rdpOut.toDouble / k.rdpIn,
        "WaySplit.split.s" -> k.splitS,
        "TileSink.pbf.s" -> k.sinkS,
        "TileSink.pbf.mb_per_s" -> k.sinkBytes / 1e6 / k.sinkS,
        "kernel.cpu_s" -> k.cpuS,
        "spark.overhead_frac" -> (1 - k.cpuS / (cores * layers))
      ) ++ tr.sparkMetrics(cores, sE2e, gcS) ++ Tracer.traceMetrics(tracedWall, layers, untracedWall)
    } finally tr.close()
  }
}

object TilePbf {
  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** sha256 over the output files in name order (name, then bytes). */
  def digest(files: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.sorted.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      md.update(p.getFileName.toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** The raster kernels on one thread, without Spark, over the same tiles and
  * slices the engine makes: decode -> chop -> trace -> RDP -> way split ->
  * PBF sink, each timed on its own. */
object Kernels {
  final case class Result(
      decodeS: Double, chopS: Double, traceS: Double, rdpS: Double, splitS: Double, sinkS: Double,
      rawNodes: Long, rdpIn: Long, rdpOut: Long, nodes: Long, ways: Long, sinkBytes: Long) {
    def cpuS: Double = decodeS + chopS + traceS + rdpS + splitS + sinkS
  }

  def run(paths: Seq[String], cfg: JobConfig, sinkDir: Option[Path]): Result = {
    var decodeS, chopS, traceS, rdpS, splitS, sinkS = 0.0
    var rawNodes, rdpIn, rdpOut, nodes, ways, sinkBytes = 0L
    var t = 0L
    def start(): Unit = t = System.nanoTime()
    def stop(): Double = (System.nanoTime() - t) / 1e9
    val scratch = new Scratch
    sinkDir.foreach(d => Files.createDirectories(d))
    paths.foreach { path =>
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(path))
      start(); val grid = Hgt.decode(bytes, cfg.voidMax); decodeS += stop()
      val bbox = Hgt.parseHgtFilename(path)
      val lonInc = (bbox.maxLon - bbox.minLon) / (grid.cols - 1)
      val latInc = (bbox.maxLat - bbox.minLat) / (grid.rows - 1)
      start()
      val slices = Chop.chop(grid, Chop.truncate(None, bbox, grid.rows, grid.cols, lonInc, latInc),
        latInc, cfg.contourStepSize, cfg.maxNodesPerTile)
      chopS += stop()
      slices.zipWithIndex.foreach { case (s, idx) =>
        val gv = new GridView(grid.values, grid.mask, s.rowOff * grid.cols + s.colOff, grid.cols, s.rows, s.cols)
        val out = ArrayBuffer.empty[(Int, Array[Double])]
        // the per-tile preamble of ContourGen.tileContours counts as trace
        start()
        val (minEle, maxEle) = Chop.elevRange(gv)
        val levels = Levels.levels(minEle, maxEle, cfg.contourStepSize, cfg.noZero, cfg.minCont, cfg.maxCont)
        val xs = Hgt.xData(s.bbox.minLon, lonInc, gv.cols)
        val ys = Hgt.yData(s.bbox.maxLat, latInc, gv.rows)
        val stats = MarchingSquares.rowStats(gv)
        traceS += stop()
        levels.foreach { level =>
          start()
          val raw = MarchingSquares.trace(gv, xs, ys, level.toDouble, cornerMask = true, scratch, stats)
          traceS += stop()
          raw.foreach { p0 =>
            val n0 = p0.length / 2
            rawNodes += (if (WaySplit.isClosed(p0)) n0 - 1 else n0)
            start()
            val p = cfg.rdpEpsilon.map(Rdp.simplify(p0, _)).getOrElse(p0)
            rdpS += stop()
            rdpIn += n0
            rdpOut += p.length / 2
            start()
            val sp = WaySplit.split(p, cfg.maxNodesPerWay)
            splitS += stop()
            nodes += sp.nbNodes
            ways += sp.nbPaths
            sp.paths.foreach(q => out += level -> q)
          }
        }
        sinkDir.foreach { d =>
          val f = d.resolve(s"${Hgt.tileKey(bbox.minLat.toInt, bbox.minLon.toInt)}-$idx.osm.pbf")
          start()
          val sink = TileSink.open(f.toString, s.bbox, TileSink.PbfFormat)
          var id = 1L
          val prepared = new ArrayBuffer[PreparedWay](out.size)
          out.foreach { case (level, q) =>
            val (next, way) = sink.writePath(q, id, level.toLong)
            id = next
            prepared += way
          }
          sink.finish(prepared.toSeq, 1L, e => Levels.elevClassifier(cfg.lineCatsMajor, cfg.lineCatsMedium)(e.toInt))
          sinkS += stop()
          sinkBytes += Files.size(f)
          Files.delete(f)
        }
      }
    }
    Result(decodeS, chopS, traceS, rdpS, splitS, sinkS, rawNodes, rdpIn, rdpOut, nodes, ways, sinkBytes)
  }
}
