package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.JobConfig
import java.nio.file.{Files, Paths}

class RasterPipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .appName("raster-pipeline-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val fixture = "/root/reference/tests/data/N43E006.hgt"
  private lazy val available = Files.exists(Paths.get(fixture))

  test("SPARK_GRAFT_GRID_CACHE_MB: unset means 2048; anything but a positive integer is refused by name") {
    assert(RasterPipeline.gridCacheMb(Map.empty) == 2048)
    assert(RasterPipeline.gridCacheMb(Map("SPARK_GRAFT_GRID_CACHE_MB" -> "512")) == 512)
    for (bad <- Seq("0", "-1", "abc")) {
      val e = intercept[IllegalArgumentException](
        RasterPipeline.gridCacheMb(Map("SPARK_GRAFT_GRID_CACHE_MB" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_GRID_CACHE_MB") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("tiles(): decode + chop reproduces the golden 4-tile layout") {
    assume(available)
    val cfg = JobConfig(maxNodesPerTile = 500000L)
    val ts = RasterPipeline.tiles(spark, Seq(fixture), cfg).collect().sortBy(_.tileIdx)
    assert(ts.length == 4)
    assert(ts.map(t => (t.rows, t.cols)).toSeq ==
      Seq((601, 1201), (301, 1201), (151, 1201), (151, 1201)))
    assert(ts.forall(_.key == "N43E006"))
  }

  test("end-to-end single tile matches the golden totals through Spark") {
    assume(available)
    val cfg = JobConfig(maxNodesPerTile = 0L, maxNodesPerWay = 0, rdpEpsilon = None)
    val ts = RasterPipeline.tiles(spark, Seq(fixture), cfg)
    val cs = RasterPipeline.contours(ts, cfg)
    val agg = cs.groupBy("key").sum("nbNodes").collect()
    assert(agg.length == 1)
    assert(agg.head.getLong(1) == 1264395L)
    assert(cs.count() == 10798L)
  }

  test("id offsets are contiguous, non-overlapping, deterministic") {
    assume(available)
    val cfg = JobConfig(maxNodesPerTile = 500000L, maxNodesPerWay = 2000,
      rdpEpsilon = None, startNodeId = 10000000L, startWayId = 10000000L)
    val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(fixture), cfg), cfg).persist()
    val offs = RasterPipeline.idOffsets(cs, cfg)
    val counts = cs.groupBy("key", "tileIdx").sum("nbNodes").collect()
      .map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    // invariant check ported from the reference
    // (tests/hgt/test_processor.py:105-130): pairwise non-overlap of ranges
    val ranges = offs.toSeq.sortBy(_._1).map { case (k, o) => (o.nodeStart, o.nodeStart + counts(k)) }
    ranges.sliding(2).foreach {
      case Seq((_, e1), (s2, _)) => assert(e1 == s2) // contiguous AND non-overlapping
      case _ =>
    }
    assert(ranges.head._1 == 10000000L)
    // deterministic across re-computation
    val offs2 = RasterPipeline.idOffsets(cs, cfg)
    assert(offs == offs2)
    cs.unpersist()
  }

  test("per-tile OSM XML files with reference naming, nodes before ways") {
    assume(available)
    val outDir = Files.createTempDirectory("graftxml").toString
    val cfg = JobConfig(area = Some("6.2:43.1:6.4:43.3"), maxNodesPerTile = 500000L,
      maxNodesPerWay = 2000, rdpEpsilon = None)
    val files = RasterPipeline.runResumable(spark, Seq(fixture), outDir, cfg).files
    assert(files.nonEmpty)
    files.foreach { f =>
      val content = new String(Files.readAllBytes(Paths.get(f)), "UTF-8")
      assert(content.startsWith("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n<osm version=\"0.6\""))
      assert(content.endsWith("</osm>\n"))
      val firstWay = content.indexOf("<way id=")
      val lastNode = content.lastIndexOf("<node id=")
      assert(firstWay > 0 && lastNode < firstWay, "all nodes must precede all ways")
      // closed ways re-use their first node ref
      assert(content.contains("<nd ref="))
      assert(f.split('/').last.matches("lon\\d+\\.\\d\\d_\\d+\\.\\d\\dlat\\d+\\.\\d\\d_\\d+\\.\\d\\d_N43E006\\.osm"))
    }
    // node count in file equals sum over ways of unique refs accounting
    val all = files.map(f => new String(Files.readAllBytes(Paths.get(f)), "UTF-8")).mkString
    val nodeCount = "<node id=".r.findAllIn(all).size
    val wayCount = "<way id=".r.findAllIn(all).size
    assert(nodeCount > 0 && wayCount > 0)
  }
}
