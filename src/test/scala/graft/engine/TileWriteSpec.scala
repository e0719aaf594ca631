package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.core.JobConfig
import graft.sinks.TileSink
import java.nio.file.{Files, Paths}

/** The per-tile write runs on the trace stage's partitions, with no
  * exchange of its own, and refuses a Dataset that splits a tile. Inputs
  * are synthetic .hgt tiles, so this runs without external fixtures. */
class TileWriteSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("tile-write-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val dem = {
    val dir = Files.createTempDirectory("tilewrite-dem").toString
    Seq(graft.synth.SynthDem.writeHgt(dir, 43, 6, side = 301),
      graft.synth.SynthDem.writeHgt(dir, 43, 7, side = 301))
  }
  // several slices per source file, so partitions hold more than one tile
  private val cfg = JobConfig(contourStepSize = 20, maxNodesPerTile = 20000L,
    maxNodesPerWay = 500, rdpEpsilon = None)

  private def contents(files: Seq[String]): Seq[(String, Seq[Byte])] =
    files.map(f => Paths.get(f).getFileName.toString -> Files.readAllBytes(Paths.get(f)).toSeq)

  test("the per-tile write adds no exchange to the trace stage's plan") {
    val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, dem, cfg), cfg)
    val plan = RasterPipeline.arrangeForWrite(cs, single = false).queryExecution.executedPlan.toString
    assert("Exchange ".r.findAllIn(plan).size == 1, plan) // contours()'s range exchange
    assert(plan.contains("Exchange rangepartitioning"), plan)
  }

  test("shuffle-free pbf files equal those of a write after a tile-key exchange") {
    val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, dem, cfg), cfg).persist()
    try {
      val offs = RasterPipeline.idOffsets(cs, cfg)
      assert(offs.size > 4)
      def write(ds: org.apache.spark.sql.Dataset[RasterPipeline.ContourRow]): Seq[String] = {
        val out = Files.createTempDirectory("tilewrite").toString
        RasterPipeline.writeOsmXml(ds, offs, out, cfg, format = TileSink.PbfFormat)
      }
      val direct = write(cs)
      val exchanged = write(cs.repartition(col("key"), col("tileIdx")))
      assert(direct.size == offs.size)
      assert(contents(direct) == contents(exchanged))
    } finally cs.unpersist()
  }

  test("a Dataset that splits tiles across partitions fails the write, naming a tile") {
    val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, dem, cfg), cfg).persist()
    try {
      val offs = RasterPipeline.idOffsets(cs, cfg)
      val out = Files.createTempDirectory("tilewrite-split").toString
      val e = intercept[IllegalStateException] {
        RasterPipeline.writeOsmXml(cs.repartition(3), offs, out, cfg, format = TileSink.PbfFormat)
      }
      assert(e.getMessage.matches("(?s)tile \\(N43E00[67],\\d+\\) was written by [23] partitions to .*"),
        e.getMessage)
    } finally cs.unpersist()
  }
}
