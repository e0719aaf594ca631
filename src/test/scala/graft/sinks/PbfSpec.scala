package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import graft.core.{BBox, Bytes, Levels}

/** PBF content-contract tests mirroring the reference's osmium-decoded
  * checks (tests/test_output.py:96-161, 233-270, 272-298). */
class PbfSpec extends AnyFunSuite {

  private def path(pts: (Double, Double)*): Array[Double] =
    pts.flatMap(p => Seq(p._1, p._2)).toArray

  private val fixture: Seq[(Long, Seq[Array[Double]])] = Seq(
    0L -> Seq(
      path((1, 1), (1, 2), (2, 2), (2, 1), (1, 1)),
      path((3, 1), (3, 2))),
    50L -> Seq(path((4, 1), (4, 2))),
    -50L -> Seq(path((5, 5), (5, 7), (7, 7), (7, 5), (5, 5))))

  private def write(startNodeId: Long): (Array[Byte], Long) = {
    val bos = new ByteArrayOutputStream()
    val sink = new PbfTileSink(bos, BBox(1, 1, 4, 2))
    var nodeId = startNodeId
    val ways = scala.collection.mutable.ArrayBuffer.empty[PreparedWay]
    fixture.foreach { case (elev, paths) =>
      paths.foreach { p =>
        val (next, w) = sink.writePath(p, nodeId, elev)
        nodeId = next
        ways += w
      }
    }
    sink.finish(ways.toSeq, 2000L, e => Levels.elevClassifier(100, 50)(e.toInt))
    (bos.toByteArray, nodeId)
  }

  test("decoded content matches the reference oracle") {
    val (bytes, nextId) = write(1000L)
    assert(nextId == 1012L)
    val dec = PbfReader.decode(bytes)
    // header bbox: left, right, top, bottom in nanodegrees
    assert(dec.bboxNano == Seq(1000000000L, 4000000000L, 2000000000L, 1000000000L))
    assert(dec.features.contains("OsmSchema-V0.6") && dec.features.contains("DenseNodes"))
    // nodes: (id, lat, lon) pairs as the reference asserts (1e-7 units)
    val nodeMap = dec.nodes.map(n => n._1 -> ((n._3 / 10000000.0, n._2 / 10000000.0))).toMap
    assert(nodeMap == Map(
      1000L -> ((1.0, 1.0)), 1001L -> ((2.0, 1.0)), 1002L -> ((2.0, 2.0)),
      1003L -> ((1.0, 2.0)), 1004L -> ((1.0, 3.0)), 1005L -> ((2.0, 3.0)),
      1006L -> ((1.0, 4.0)), 1007L -> ((2.0, 4.0)), 1008L -> ((5.0, 5.0)),
      1009L -> ((7.0, 5.0)), 1010L -> ((7.0, 7.0)), 1011L -> ((5.0, 7.0))))
    // ways: refs with closed-loop first-id reuse + tags
    val wayMap = dec.ways.map(w => w._1 -> ((w._2, w._3.toMap))).toMap
    assert(wayMap(2000L)._1 == Seq(1000L, 1001L, 1002L, 1003L, 1000L))
    assert(wayMap(2000L)._2 == Map(
      "ele" -> "0", "contour" -> "elevation", "contour_ext" -> "elevation_major"))
    assert(wayMap(2001L)._1 == Seq(1004L, 1005L))
    assert(wayMap(2002L)._1 == Seq(1006L, 1007L))
    assert(wayMap(2002L)._2("contour_ext") == "elevation_medium")
    assert(wayMap(2003L)._1 == Seq(1008L, 1009L, 1010L, 1011L, 1008L))
    assert(wayMap(2003L)._2("ele") == "-50")
    // dense encoding efficiency floor (reference: < 420 bytes)
    assert(bytes.length < 420, s"pbf size ${bytes.length}")
  }

  test("node ids cross the int32 boundary") {
    val (bytes, nextId) = write(2147483647L)
    assert(nextId == 2147483659L)
    val dec = PbfReader.decode(bytes)
    assert(dec.nodes.map(_._1).min == 2147483647L)
    assert(dec.nodes.map(_._1).max == 2147483658L)
  }

  test("southern/western hemisphere: negative coords round-trip exactly (pbf + o5m)") {
    // negative lon/lat drive the sign paths of the zigzag/varint delta
    // coding that the all-positive fixtures never touch (an S34 W71 tile)
    // binary-exact fractions so quantize truncation is unambiguous
    val pts = path((-71.25, -34.5), (-71.125, -34.375), (-70.5, -33.0625))
    val expected = Seq((-712500000L, -345000000L), (-711250000L, -343750000L),
      (-705000000L, -330625000L)) // (lon, lat) in 1e-7 units
    val bbox = BBox(-72, -35, -70, -33)
    // pbf
    val bosP = new ByteArrayOutputStream()
    val pb = new PbfTileSink(bosP, bbox)
    val (_, wayP) = pb.writePath(pts, 10L, -400L)
    pb.finish(Seq(wayP), 99L, _ => "elevation")
    val decP = PbfReader.decode(bosP.toByteArray)
    assert(decP.bboxNano == Seq(-72000000000L, -70000000000L, -33000000000L, -35000000000L))
    assert(decP.nodes.sortBy(_._1).map(n => (n._2, n._3)) == expected)
    // o5m
    val bosO = new ByteArrayOutputStream()
    val ob = new O5mTileSink(bosO, bbox)
    val (_, wayO) = ob.writePath(pts, 10L, -400L)
    ob.finish(Seq(wayO), 99L, _ => "elevation")
    val decO = O5mReader.decode(bosO.toByteArray)
    assert(decO.nodes.sortBy(_._1).map(n => (n._2, n._3)) == expected)
  }

  test("a truncated file or zlib stream refuses instead of decoding wrong coordinates") {
    val bos = new ByteArrayOutputStream()
    val w = new PbfWriter(bos, BBox(1, 1, 4, 2))
    val n = 20000
    w.writeDenseNodes(1L, Array.tabulate(n)(i => 10000000L + i * 7L), Array.tabulate(n)(i => 20000000L - i * 3L), n)
    w.done()
    val whole = bos.toByteArray
    assert(PbfReader.decode(whole).nodes.size == n)
    Seq(10, whole.length / 4).foreach { cut =>
      val e = intercept[IllegalArgumentException](PbfReader.decode(whole.take(whole.length - cut)))
      assert(e.getMessage.contains("corrupt PBF"), e.getMessage)
    }
    // the inflate loop used to spin on a stream with its tail cut off
    val raw = Array.tabulate[Byte](50000)(i => (i * 31 % 251).toByte)
    val d = new java.util.zip.Deflater(); d.setInput(raw); d.finish()
    val z = new Array[Byte](60000); val zn = d.deflate(z); d.end()
    val e = intercept[IllegalArgumentException](Bytes.inflate(z, 0, zn / 2, raw.length, "PBF zlib_data"))
    assert(e.getMessage.contains("stops at"), e.getMessage)
    assert(Bytes.inflate(z, 0, zn, raw.length, "PBF zlib_data").sameElements(raw))
  }

  test("pipeline writes decodable pbf tiles") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("pbf-pipe")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    val fixtureHgt = "/root/reference/tests/data/N43E006.hgt"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(fixtureHgt)))
    val outDir = java.nio.file.Files.createTempDirectory("pbfout").toString
    val cfg = graft.core.JobConfig(area = Some("6.2:43.1:6.5:43.4"),
      maxNodesPerTile = 0L, maxNodesPerWay = 2000, rdpEpsilon = None)
    import graft.engine.RasterPipeline
    val ts = RasterPipeline.tiles(spark, Seq(fixtureHgt), cfg)
    val cs = RasterPipeline.contours(ts, cfg).persist()
    val offs = RasterPipeline.idOffsets(cs, cfg)
    val expectedNodes = cs.groupBy().sum("nbNodes").collect()(0).getLong(0)
    val expectedWays = cs.count()
    val files = RasterPipeline.writeOsmXml(cs, offs, outDir, cfg, format = TileSink.PbfFormat)
    cs.unpersist()
    assert(files.nonEmpty && files.forall(_.endsWith(".osm.pbf")))
    val dec = PbfReader.decode(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(files.head)))
    assert(dec.nodes.size.toLong == expectedNodes)
    assert(dec.ways.size.toLong == expectedWays)
    val nodeIds = dec.nodes.map(_._1).toSet
    assert(dec.ways.flatMap(_._2).toSet.subsetOf(nodeIds))
  }
}
