package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** PreparedPolygon.contains must equal the reference ray cast
  * Geometry.contains on every probe: contour rings of 1,000+ vertices,
  * random simple and self-intersecting rings, horizontal edges and
  * repeated vertices, degenerate rings, and probes on vertices, on edges,
  * on minY / maxY, exactly on band boundaries, and NaN. */
class PreparedPolygonSpec extends AnyFunSuite {

  /** Every probe y the index can get wrong, with a spread of px for each. */
  private def probes(poly: Array[Double], prep: PreparedPolygon, rnd: scala.util.Random): Seq[(Double, Double)] = {
    val n = poly.length / 2
    val xs = (0 until n).map(i => poly(2 * i)).filterNot(_.isNaN)
    val ys = (0 until n).map(i => poly(2 * i + 1)).filterNot(_.isNaN)
    val (minX, maxX) = if (xs.isEmpty) (0.0, 1.0) else (xs.min, xs.max)
    val (minY, maxY) = if (ys.isEmpty) (0.0, 1.0) else (ys.min, ys.max)
    def spread(y: Double): Seq[(Double, Double)] =
      (Seq(minX - 1, maxX + 1, Double.NaN) ++ Seq.fill(6)(minX + rnd.nextDouble() * (maxX - minX)) ++
        Seq.fill(4)(if (xs.isEmpty) 0.0 else xs(rnd.nextInt(xs.size)))).map(x => (x, y))
    val vertices = (0 until n).map(i => (poly(2 * i), poly(2 * i + 1)))
    val onEdges = (0 until n).flatMap { i =>
      val j = if (i == 0) n - 1 else i - 1
      val t = rnd.nextDouble()
      Seq((poly(2 * j) + t * (poly(2 * i) - poly(2 * j)), poly(2 * j + 1) + t * (poly(2 * i + 1) - poly(2 * j + 1))),
        ((poly(2 * i) + poly(2 * j)) / 2, (poly(2 * i + 1) + poly(2 * j + 1)) / 2))
    }
    // the exact first y of each band (bisection on the monotone bandOf)
    // and its neighbours on either side
    val boundaries = (1 until prep.bands).flatMap { b =>
      var lo = minY
      var hi = maxY
      var mid = lo + (hi - lo) / 2
      while (mid != lo && mid != hi) {
        if (prep.bandOf(mid) >= b) hi = mid else lo = mid
        mid = lo + (hi - lo) / 2
      }
      assert(prep.bandOf(math.nextDown(hi)) < b && prep.bandOf(hi) == b)
      Seq(math.nextDown(hi), hi, math.nextUp(hi))
    }
    val rowYs = Seq(minY, maxY, math.nextDown(minY), math.nextUp(minY), math.nextDown(maxY), math.nextUp(maxY),
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity) ++
      ys.take(64) ++ Seq.fill(32)(minY + rnd.nextDouble() * (maxY - minY))
    vertices ++ onEdges ++ (rowYs ++ boundaries).flatMap(spread) ++
      Seq.fill(200)((minX - 0.1 + rnd.nextDouble() * (maxX - minX + 0.2), minY - 0.1 + rnd.nextDouble() * (maxY - minY + 0.2)))
  }

  private def assertAgrees(name: String, poly: Array[Double], seed: Long): PreparedPolygon = {
    val prep = PreparedPolygon(poly)
    val rnd = new scala.util.Random(seed)
    probes(poly, prep, rnd).foreach { case (x, y) =>
      val want = Geometry.contains(poly, x, y)
      assert(prep.contains(x, y) == want, s"$name: ($x, $y) prepared ${!want}, reference $want")
    }
    prep
  }

  /** Star-shaped around the origin: vertices sorted by angle, so simple. */
  private def starRing(rnd: scala.util.Random, n: Int): Array[Double] =
    Array.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted.flatMap { a =>
      val r = 1 + rnd.nextDouble() * 9
      Array(r * math.cos(a), r * math.sin(a))
    }

  test("SynthDem contour rings of 1,000+ vertices: prepared == reference, several bands each") {
    assert(SynthRings.rings.size >= 3, s"only ${SynthRings.rings.size} contour rings of 1,000+ vertices")
    SynthRings.rings.zipWithIndex.foreach { case (ring, k) =>
      val prep = assertAgrees(s"contour ring $k (${ring.length / 2} vertices)", ring, k)
      assert(prep.bands >= 16, s"contour ring $k has only ${prep.bands} bands")
    }
  }

  test("random simple and self-intersecting rings") {
    val rnd = new scala.util.Random(20261017L)
    (0 until 60).foreach { k =>
      val n = 3 + rnd.nextInt(400)
      assertAgrees(s"star $k", starRing(rnd, n), k)
      assertAgrees(s"random $k", Array.fill(2 * n)(rnd.nextGaussian() * 50), 1000 + k)
    }
  }

  test("vertices on a lattice: band boundaries fall on vertices and edges") {
    // integer y in [0, 64] with 0, 32 and 64 forced: the band count is a
    // power of two, so band boundaries are integers and 32 is one of them
    val rnd = new scala.util.Random(7)
    (0 until 40).foreach { k =>
      val n = 16 + rnd.nextInt(300)
      val ring = Array.tabulate(n) { i =>
        val y = if (i == 0) 0 else if (i == n / 2) 64 else if (i == n / 4) 32 else rnd.nextInt(65)
        Array(rnd.nextInt(33).toDouble, y.toDouble)
      }.flatten
      val prep = assertAgrees(s"lattice $k", ring, k)
      assert(prep.bands > 1)
      assert((0 until n).exists { i =>
        val y = ring(2 * i + 1)
        prep.bandOf(math.nextDown(y)) < prep.bandOf(y)
      }, s"lattice $k: no vertex starts a band")
    }
  }

  test("horizontal edges and repeated vertices") {
    val rnd = new scala.util.Random(11)
    (0 until 40).foreach { k =>
      // a rectilinear staircase walk: every other edge horizontal, with
      // vertices repeated in place
      val n = 8 + rnd.nextInt(500)
      var x = 0.0; var y = 0.0
      val ring = (0 until n).flatMap { i =>
        if (i % 2 == 0) x += rnd.nextInt(7) - 3 else y += rnd.nextInt(7) - 3
        val p = Seq(x, y)
        if (rnd.nextInt(5) == 0) p ++ p else p
      }.toArray
      assertAgrees(s"staircase $k", ring, k)
    }
    // a closed contour path repeats its first vertex as its last
    assertAgrees("closed square", Array(0.0, 0, 2, 0, 2, 2, 0, 2, 0, 0), 1)
    assertAgrees("all on one row", Array(0.0, 1, 2, 1, 5, 1, 3, 1), 2)
  }

  test("degenerate rings: fewer than 3 vertices, NaN and infinite coordinates") {
    for (ring <- Seq(Array.emptyDoubleArray, Array(1.0, 2.0), Array(0.0, 0.0, 1.0, 1.0), Array(0.0, 0.0, 1.0, 1.0, 2.0))) {
      val prep = PreparedPolygon(ring)
      for (x <- Seq(0.0, 0.5, 1.0, Double.NaN); y <- Seq(0.0, 0.5, 1.0, Double.NaN))
        assert(!prep.contains(x, y) && !Geometry.contains(ring, x, y), ring.toSeq)
    }
    val nan = Double.NaN; val inf = Double.PositiveInfinity
    assertAgrees("NaN vertex", Array(0.0, 0, 4, 0, nan, 2, 4, 4, 0, 4), 1)
    assertAgrees("NaN y only", Array(0.0, 0, 4, nan, 4, 4, 0, 4, 2, 1), 2)
    assertAgrees("infinite y", Array(0.0, 0, 4, 0, 4, inf, 2, 3, 0, 4), 3)
    assertAgrees("infinite x and y", Array(0.0, -inf, 4, 0, inf, 2, 4, 4, 0, 4), 4)
    assertAgrees("all NaN", Array.fill(8)(nan), 5)
  }

  test("index stays O(n) on zig-zag rings") {
    // every edge spans the whole y-range: the band count halves to fit
    val n = 4000
    val ring = Array.tabulate(n)(i => Array(i.toDouble, if (i % 2 == 0) 0.0 else 1.0)).flatten
    val prep = assertAgrees("zig-zag", ring, 1)
    assert(prep.indexEntries <= 4 * n, s"${prep.indexEntries} index entries for $n vertices")
  }

  test("polygonMask with a many-vertex ring equals the reference cell by cell") {
    val ring = SynthRings.rings.head
    val xs = Array.tabulate(120)(i => 6.0 + i / 119.0)
    val ys = Array.tabulate(120)(i => 44.0 - i / 119.0)
    // the mask ray-casts the ring as clipped to the grid bbox + 0.1
    val clipped = Geometry.clipToRect(ring, 5.9, 42.9, 7.1, 44.1).get
    val expected = for (y <- ys; x <- xs) yield !Geometry.contains(clipped, x, y)
    Geometry.polygonMask(xs, ys, Seq(ring)) match {
      case Geometry.Mixed(m) => assert(m.toSeq == expected.toSeq)
      case other => fail(s"expected a mixed mask, got $other")
    }
  }
}
