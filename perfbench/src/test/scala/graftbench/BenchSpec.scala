package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.BBox
import graft.sinks.TileSink

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val tmp = Files.createTempDirectory(
    Files.createDirectories(Path.of(sys.props("user.dir"), "..", ".bench_build")), "spec")
  private lazy val spark = Session.start(2, tmp)

  override def afterAll(): Unit = {
    Session.stop(spark)
    TilePbf.delete(tmp)
  }

  test("inputs are deterministic per seed and differ between seeds") {
    assert(java.util.Arrays.equals(Dem.hgtBytes(7, 43, 6), Dem.hgtBytes(7, 43, 6)))
    assert(!java.util.Arrays.equals(Dem.hgtBytes(7, 43, 6), Dem.hgtBytes(8, 43, 6)))
    def ids(seed: Long) = new Join(tmp, seed, 4, salted = false).IdBase
    assert(ids(7) == ids(7) && ids(7) != ids(8))
  }

  test("the printed metric names and units are the ones BENCHMARK.json lists") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(sys.props("user.dir"), "../BENCHMARK.json"))
    def listed(key: String): Seq[(String, String)] =
      json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed("end_to_end") == Metrics.EndToEnd)
    assert(listed("per_layer") == Metrics.PerLayer)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Main.Workloads)
    val line = Metrics.resultJson(true, 3, 0, Metrics.EndToEnd, Metrics.EndToEnd.map(_._1 -> 1.5).toMap)
    val printed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(printed.get("metrics").fieldNames().asScala.toSeq == Metrics.EndToEnd.map(_._1))
  }

  test("a corrupted tile_pbf output fails its check") {
    val w = new TilePbf(tmp.resolve("tile"), tmp.resolve("state"), 3, "spec")
    w.prepare(spark)
    val (nodes, _) = w.check(w.run(spark, 1))
    assert(nodes > 0)
    // a later query whose file lost a byte differs from the verified first one
    val flipped = w.run(spark, 2)
    val f = Path.of(flipped._2.files.head)
    val bytes = Files.readAllBytes(f)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
    Files.write(f, bytes)
    intercept[CheckFailed](w.check(flipped))
    // a fresh run whose tile file holds fewer ways than its commit record says
    val fresh = new TilePbf(tmp.resolve("tile2"), tmp.resolve("state"), 3, "spec")
    fresh.prepare(spark)
    val short = fresh.run(spark, 1)
    val g = short._2.files.head
    val sink = TileSink.open(g, BBox(6, 43, 7, 44), TileSink.PbfFormat)
    val (_, way) = sink.writePath(Array(6.1, 43.1, 6.2, 43.2), 1L, 100L)
    sink.finish(Seq(way), 1L, _ => "elevation_major")
    intercept[CheckFailed](fresh.check(short))
  }

  test("a join output that changes between queries, or is empty, fails its check") {
    val w = new Join(tmp, 1, 4, salted = false)
    w.check((10L, 1234L, 990L))
    intercept[CheckFailed](w.check((10L, 1235L, 990L)))
    intercept[CheckFailed](new Join(tmp, 1, 4, salted = true).check((0L, 0L, 0L)))
  }
}
