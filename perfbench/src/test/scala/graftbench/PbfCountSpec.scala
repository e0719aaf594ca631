package graftbench

import org.scalatest.funsuite.AnyFunSuite
import graft.core.BBox
import graft.sinks.{PbfReader, PreparedWay, TileSink}

class PbfCountSpec extends AnyFunSuite {
  test("counts the nodes and ways the engine's PBF reader decodes") {
    val f = java.nio.file.Files.createTempFile("count", ".osm.pbf")
    val sink = TileSink.open(f.toString, BBox(6, 43, 7, 44), TileSink.PbfFormat)
    var id = 100L
    val ways = (0 until 30).map { k =>
      val n = 2 + k * 700 // crosses the 8000-node block size
      val coords = Array.tabulate(2 * n)(i => if (i % 2 == 0) 6 + i * 1e-6 else 43 + k * 1e-3)
      val (next, w) = sink.writePath(coords, id, 10L * k)
      id = next
      w
    }
    sink.finish(ways, 1L, _ => "elevation_minor")
    val bytes = java.nio.file.Files.readAllBytes(f)
    java.nio.file.Files.delete(f)
    val want = PbfReader.decode(bytes)
    assert(PbfCount.count(bytes) == PbfCount.Counts(want.nodes.size.toLong, want.ways.size.toLong))
  }
}
