package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import java.io.ByteArrayOutputStream
import graft.core.{BBox, Levels}

/** Byte goldens for the binary sinks over generated paths, so the
  * encoders' exact output is pinned without any external fixture. The
  * input covers the edges the writers chunk and delta-code on: node
  * chunks that fill to exactly 8000 and 32000 nodes, a path straddling a
  * chunk flush, more than 8000 ways (two PBF way blocks, each with its
  * own string table), closed rings, negative coordinates and elevations,
  * and node/way ids crossing int32. */
class SinkGoldenSpec extends AnyFunSuite {
  import SinkGoldenSpec._

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  test("generated input covers the chunking and id edge cases") {
    assert(paths.size > 8000, "two PBF way blocks")
    assert(paths.count(p => closed(p._2)) > 1000)
    assert(paths.exists(p => p._2.exists(_ < 0)))
    assert(StartNodeId <= Int.MaxValue && StartNodeId + totalNodes > Int.MaxValue)
    assert(StartWayId <= Int.MaxValue && StartWayId + paths.size > Int.MaxValue)
    // ChunkedNodeSink's rule: a chunk flushes once a path carries it PAST
    // its size, so a chunk that fills to exactly the size stays open
    def fills(size: Int): Seq[(Long, Long)] = { // pending (before, after) per path
      var pending = 0L
      paths.map { p =>
        val before = pending
        pending += emitted(p._2)
        val r = (before, pending)
        if (pending > size) pending = 0
        r
      }
    }
    assert(fills(8000).exists(_._2 == 8000), "a pbf chunk fills to exactly 8000")
    assert(fills(8000).exists { case (b, a) => b < 8000 && a > 8000 }, "a path straddles a flush")
    assert(fills(32000).exists(_._2 == 32000), "an o5m chunk fills to exactly 32000")
    // past the o5m chunk too, and enough for >= 3 PBF dense blocks
    assert(totalNodes > 32000 && totalNodes > 3 * (8000 + paths.map(p => emitted(p._2)).max))
  }

  test("pbf sink output matches its golden") {
    assert(sha256(write(new PbfTileSink(_, Bounds))) == PbfGolden)
  }

  test("o5m sink output matches its goldens, with and without timestamps") {
    assert(sha256(write(new O5mTileSink(_, Bounds))) == O5mGolden)
    assert(sha256(write(new O5mTileSink(_, Bounds, 1600000000L, true))) == O5mTsGolden)
  }

  test("pbf round trip over several dense and way blocks") {
    val dec = PbfReader.decode(write(new PbfTileSink(_, Bounds)))
    assert(dec.nodes == expectedNodes)
    assert(dec.ways == expectedWays)
  }

  test("o5m round trip over several node chunks") {
    val dec = O5mReader.decode(write(new O5mTileSink(_, Bounds)))
    assert(dec.nodes == expectedNodes)
    assert(dec.ways == expectedWays)
  }
}

object SinkGoldenSpec {
  // sha256 of each output, recorded with the earlier tuple-buffer encoders:
  // the current ones must stay byte-identical to them
  val PbfGolden = "7c57dcf479e72b609b360bd7386ccae69f38d993a06e66c97f834be9c4e3dbce"
  val O5mGolden = "ccf094cc32996b1b8acf25cae38155e75f1bf199874bfecde111d8de47c29269"
  val O5mTsGolden = "3a8087246a735b19ac3eaf33ed1e81b617691103062f18e71c9e786d0f6f55a4"

  val Bounds = BBox(-2.5, -2.0, 2.5, 2.0)
  val StartNodeId: Long = Int.MaxValue - 20000L
  val StartWayId: Long = Int.MaxValue - 4000L
  val classifier: Long => String = e => Levels.elevClassifier(100, 50)(e.toInt)

  /** (elevation, coords): 8200 walks around the origin, every third one
    * closed. The first 3200 emit 10 nodes each, so chunks fill to exactly
    * 8000 and 32000 nodes; the rest have 2-13 points, and every
    * thousandth of them 1500. */
  val paths: IndexedSeq[(Long, Array[Double])] = {
    val rnd = new java.util.Random(20261017L)
    (0 until 8200).map { k =>
      val ring = k % 3 == 0
      val n =
        if (k < 3200) 10
        else if (k % 1000 == 999) 1500
        else (if (ring) 3 else 2) + rnd.nextInt(11)
      val xy = new Array[Double](2 * n + (if (ring) 2 else 0))
      var lon = -2.0 + 4.0 * rnd.nextDouble()
      var lat = -1.5 + 3.0 * rnd.nextDouble()
      var i = 0
      while (i < n) {
        xy(2 * i) = lon; xy(2 * i + 1) = lat
        lon += (rnd.nextDouble() - 0.5) * 1e-3
        lat += (rnd.nextDouble() - 0.5) * 1e-3
        i += 1
      }
      if (ring) { xy(2 * n) = xy(0); xy(2 * n + 1) = xy(1) }
      ((k % 37 - 10) * 10L, xy)
    }
  }

  def closed(p: Array[Double]): Boolean = {
    val n = p.length / 2
    n >= 2 && p(0) == p(2 * (n - 1)) && p(1) == p(2 * (n - 1) + 1)
  }
  def emitted(p: Array[Double]): Int = p.length / 2 - (if (closed(p)) 1 else 0)
  val totalNodes: Long = paths.map(p => emitted(p._2).toLong).sum

  def write(open: ByteArrayOutputStream => TileSink): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val sink = open(bos)
    var id = StartNodeId
    val ways = paths.map { case (ele, p) =>
      val (next, w) = sink.writePath(p, id, ele)
      id = next
      w
    }
    sink.finish(ways, StartWayId, classifier)
    bos.toByteArray
  }

  /** (id, lon1e7, lat1e7) in write order. */
  val expectedNodes: Seq[(Long, Long, Long)] = {
    var id = StartNodeId
    paths.flatMap { case (_, p) =>
      (0 until emitted(p)).map { i =>
        id += 1
        (id - 1, O5m.quantize(p(2 * i)), O5m.quantize(p(2 * i + 1)))
      }
    }
  }

  /** (id, refs, tags) in write order. */
  val expectedWays: Seq[(Long, Seq[Long], Seq[(String, String)])] = {
    var node = StartNodeId
    paths.zipWithIndex.map { case ((ele, p), k) =>
      val refs = (node until node + emitted(p)) ++ (if (closed(p)) Seq(node) else Nil)
      node += emitted(p)
      (StartWayId + k, refs,
        Seq("ele" -> ele.toString, "contour" -> "elevation", "contour_ext" -> classifier(ele)))
    }
  }
}
