package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the kernels the reference lacks them for
  * (SURVEY.md §5 port strategy): RDP, way split, varint codecs, cells.
  * Raw ScalaCheck generators driven with fixed seeds (the scalatestplus
  * bridge isn't in the offline cache). */
class PropertySpec extends AnyFunSuite {

  private val params = Gen.Parameters.default
  /** Deterministic forAll: 100 seeded samples per property. */
  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    (1 to 100).foreach { i =>
      ga.apply(params, Seed(i.toLong)).foreach(a => f(a))
    }
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (1 to 100).foreach { i =>
      for {
        a <- ga.apply(params, Seed(i.toLong))
        b <- gb.apply(params, Seed(i.toLong + 10000))
      } f(a, b)
    }

  private val coordGen = Gen.chooseNum(-180.0, 180.0)
  private val pathGen: Gen[Array[Double]] = for {
    n <- Gen.chooseNum(2, 60)
    pts <- Gen.listOfN(n * 2, coordGen)
  } yield pts.toArray

  test("rdp: output is a subsequence keeping endpoints; epsilon=0 idempotent") {
    forAll(pathGen, Gen.chooseNum(0.0, 1.0)) { (path, eps) =>
      val out = Rdp.simplify(path, eps)
      val n = path.length / 2
      val m = out.length / 2
      assert(m >= 2 || n < 2)
      // endpoints preserved
      assert(out(0) == path(0) && out(1) == path(1))
      assert(out(2 * m - 2) == path(2 * n - 2) && out(2 * m - 1) == path(2 * n - 1))
      // subsequence of input points
      val inPts = path.grouped(2).map(a => (a(0), a(1))).toList
      val outPts = out.grouped(2).map(a => (a(0), a(1))).toList
      var i = 0
      outPts.foreach { p =>
        i = inPts.indexOf(p, i)
        assert(i >= 0, s"$p not found in order")
      }
      // idempotence
      val again = Rdp.simplify(out, eps)
      assert(again.toSeq == out.toSeq)
    }
  }

  test("way split: chunks reassemble to the path; node accounting consistent") {
    forAll(pathGen, Gen.chooseNum(0, 10)) { (path, maxRaw) =>
      val max = if (maxRaw < 2) 0 else maxRaw // 0 = no split (reference semantics)
      val s = WaySplit.split(path, max)
      val n = path.length / 2
      if (n >= 2) {
        assert(s.nbPaths == s.paths.size)
        // adjacent chunks share a boundary point; concatenation minus the
        // duplicated boundaries equals the original
        val rebuilt = s.paths.zipWithIndex.flatMap { case (p, i) =>
          val pts = p.grouped(2).map(a => (a(0), a(1))).toSeq
          if (i == 0) pts else pts.drop(1)
        }
        val orig = path.grouped(2).map(a => (a(0), a(1))).toSeq
        assert(rebuilt == orig)
        // unique-node accounting: sum(len) - closedChunks
        val closed = s.paths.count { p =>
          val m = p.length / 2
          m >= 2 && p(0) == p(2 * m - 2) && p(1) == p(2 * m - 1)
        }
        assert(s.nbNodes == s.paths.map(_.length / 2).sum - closed)
        if (max > 0) assert(s.paths.forall(_.length / 2 <= max))
      }
    }
  }

  test("varint: unsigned and signed round-trip any long") {
    forAll(Gen.chooseNum(Long.MinValue / 4, Long.MaxValue / 4)) { v =>
      assert(Bytes.Reader(graft.sinks.Varint.signed(v), "o5m").zigzag() == v)
      if (v >= 0)
        assert(Bytes.Reader(graft.sinks.Varint.unsigned(v), "o5m").varint() == v)
    }
  }

  test("cells: cellId consistent with cellBBox containment") {
    val res = 6
    forAll(Gen.chooseNum(-179.9, 179.9), Gen.chooseNum(-89.9, 89.9)) { (lon, lat) =>
      val c = Cells.cellId(lon, lat, res)
      val b = Cells.cellBBox(c, res)
      assert(b.minLon <= lon && lon < b.maxLon + 1e-9)
      assert(b.minLat <= lat && lat < b.maxLat + 1e-9)
    }
  }

  test("marching squares: total crossings equal emitted nodes on random grids") {
    val gridGen = for {
      rows <- Gen.chooseNum(3, 12)
      cols <- Gen.chooseNum(3, 12)
      vals <- Gen.listOfN(rows * cols, Gen.chooseNum(0, 100))
      voids <- Gen.listOfN(rows * cols, Gen.chooseNum(0, 9))
    } yield (rows, cols, vals.map(_.toFloat).toArray, voids.map(_ == 0).toArray)
    // count crossings independently: edges whose endpoint classes differ,
    // among the edges of a valid quad's geometry (no masked endpoint, a
    // quad with at most one masked corner beside it, and the diagonal of a
    // one-masked-corner quad that avoids its masked corner)
    def crossings(g: Grid, level: Double): Int = {
      def m(r: Int, c: Int) = g.mask != null && g.mask(r * g.cols + c)
      def up(r: Int, c: Int) = g(r, c) > level
      def maskedCorners(r: Int, c: Int) =
        Seq((r, c), (r, c + 1), (r + 1, c), (r + 1, c + 1)).count { case (a, b) => m(a, b) }
      def valid(r: Int, c: Int) =
        r >= 0 && c >= 0 && r < g.rows - 1 && c < g.cols - 1 && maskedCorners(r, c) <= 1
      var n = 0
      for (r <- 0 until g.rows; c <- 0 until g.cols - 1)
        if (!m(r, c) && !m(r, c + 1) && (valid(r - 1, c) || valid(r, c)) && up(r, c) != up(r, c + 1)) n += 1
      for (r <- 0 until g.rows - 1; c <- 0 until g.cols)
        if (!m(r, c) && !m(r + 1, c) && (valid(r, c - 1) || valid(r, c)) && up(r, c) != up(r + 1, c)) n += 1
      for (r <- 0 until g.rows - 1; c <- 0 until g.cols - 1 if valid(r, c) && maskedCorners(r, c) == 1) {
        val trBl = m(r, c) || m(r + 1, c + 1) // masked TL or BR: diagonal TR-BL
        if (trBl) { if (up(r, c + 1) != up(r + 1, c)) n += 1 }
        else if (up(r, c) != up(r + 1, c + 1)) n += 1
      }
      n
    }
    def nodes(paths: Iterable[Array[Double]]): Int = paths.map { p =>
      val n = p.length / 2
      val closed = n >= 2 && p(0) == p(2 * n - 2) && p(1) == p(2 * n - 1)
      if (closed) n - 1 else n
    }.sum
    // half-integer levels: with integer grid values no crossing sits exactly
    // on a grid point, so distinct crossings have distinct coordinates and
    // the first==last "closed" test (the reference's own convention,
    // output/__init__.py:130) cannot be confused by coincident endpoints
    val allLevels = (0 until 100).map(_ + 0.5).toArray
    val sweepScratch = new MarchingSquares.Scratch
    forAll(gridGen, Gen.chooseNum(1, 99)) { case ((rows, cols, vals, voids), levelInt) =>
      val level = levelInt + 0.5
      val xs = Array.tabulate(cols)(_.toDouble)
      val ys = Array.tabulate(rows)(_.toDouble)
      Seq(Grid(rows, cols, vals, null), Grid(rows, cols, vals, voids)).foreach { g =>
        val what = s"grid ${rows}x$cols${if (g.mask == null) "" else " with voids"}"
        val gv = MarchingSquares.GridView.full(g)
        val paths = MarchingSquares.trace(gv, xs, ys, level, cornerMask = true, new MarchingSquares.Scratch)
        assert(nodes(paths) == crossings(g, level), s"$what level $level")
        // every level of the grid from one sweep
        MarchingSquares.traceLevels(gv, xs, ys, allLevels, cornerMask = true, sweepScratch) { (i, ps) =>
          assert(nodes(ps) == crossings(g, allLevels(i)), s"$what, sweep level ${allLevels(i)}")
        }
      }
    }
  }
}
