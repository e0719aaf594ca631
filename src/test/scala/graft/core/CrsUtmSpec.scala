package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Transverse Mercator (UTM) correctness, anchored WITHOUT an external
  * projection library: the Krüger-series northing is cross-checked against
  * a direct numerical integration of the meridian arc (a genuinely
  * independent formulation), plus frame constants, round-trip closure, and
  * the published quarter-meridian length. */
class CrsUtmSpec extends AnyFunSuite {

  /** Python math.isclose default semantics (rel_tol 1e-9). */
  private def isClose(a: Double, b: Double, relTol: Double = 1e-9, absTol: Double = 0.0): Boolean =
    math.abs(a - b) <= math.max(relTol * math.max(math.abs(a), math.abs(b)), absTol)

  /** The reference's strict bbox transform (ensure_aligned_coordinates +
    * transform_lon_lats, hgt/__init__.py:20-68): corner-wise, requiring the
    * result to stay an axis-aligned rectangle; envelopeBBox must equal it
    * on separable CRSs. */
  private def transformBBox(b: BBox, f: (Double, Double) => (Double, Double)): BBox = {
    val lowLeft = f(b.minLon, b.minLat)
    val highLeft = f(b.minLon, b.maxLat)
    val highRight = f(b.maxLon, b.maxLat)
    val lowRight = f(b.maxLon, b.minLat)
    require(
      isClose(lowLeft._2, lowRight._2) && isClose(lowLeft._1, highLeft._1) &&
        isClose(highLeft._2, highRight._2) && isClose(highRight._1, lowRight._1),
      "Tile doesn't map to an aligned rectangle in WGS84 coordinates")
    val lons = Seq(lowLeft._1, highLeft._1, highRight._1, lowRight._1)
    val lats = Seq(lowLeft._2, highLeft._2, highRight._2, lowRight._2)
    BBox(lons.min, lats.min, lons.max, lats.max)
  }

  private val A = 6378137.0
  private val F = 1.0 / 298.257223563
  private val E2 = F * (2.0 - F)

  /** Meridian arc length 0..phi by Simpson integration of
    * a(1-e^2)/(1-e^2 sin^2 t)^(3/2) — no series shared with Crs. */
  private def meridianArc(phiDeg: Double, steps: Int = 20000): Double = {
    val phi = math.toRadians(phiDeg)
    def f(t: Double): Double = {
      val s = math.sin(t)
      A * (1.0 - E2) / math.pow(1.0 - E2 * s * s, 1.5)
    }
    val h = phi / steps
    var sum = f(0.0) + f(phi)
    var i = 1
    while (i < steps) { sum += (if (i % 2 == 1) 4.0 else 2.0) * f(i * h); i += 1 }
    sum * h / 3.0
  }

  test("quarter meridian matches the published WGS84 value") {
    assert(math.abs(meridianArc(90.0) - 10001965.7293) < 0.01)
  }

  test("northing on the central meridian equals k0 x meridian arc") {
    for (lat <- Seq(0.5, 10.0, 27.3, 43.5, 60.0, 75.0, 84.0)) {
      val (e, n) = Crs.projection(32632).get.forward(9.0, lat) // 9 deg = zone 32 cm
      assert(math.abs(e - 500000.0) < 1e-6, s"easting at cm, lat=$lat: $e")
      val expected = 0.9996 * meridianArc(lat)
      assert(math.abs(n - expected) < 1e-3, s"lat=$lat: northing $n vs arc $expected")
    }
  }

  test("southern hemisphere carries the 10,000,000 m false northing") {
    val (_, nS) = Crs.projection(32732).get.forward(9.0, -43.5)
    val (_, nN) = Crs.projection(32632).get.forward(9.0, 43.5)
    assert(math.abs((10000000.0 - nS) - nN) < 1e-6)
  }

  test("scale on the central meridian is k0 = 0.9996") {
    val (_, n1) = Crs.projection(32632).get.forward(9.0, 43.49995)
    val (_, n2) = Crs.projection(32632).get.forward(9.0, 43.50005)
    val ground = meridianArc(43.50005) - meridianArc(43.49995)
    // 1e-7: the finite difference subtracts two ~4.8e6 m values, so a few
    // ulps of cancellation noise are expected; k0 still pins to 7 digits
    assert(math.abs((n2 - n1) / ground - 0.9996) < 1e-7)
  }

  test("round-trip closes to sub-nanometer angular error across the zone") {
    for {
      lat <- Seq.tabulate(21)(i => -80.0 + i * 8.2)
      dLon <- Seq(-2.9, -1.3, 0.0, 0.7, 2.9) // within zone 32 (6..12 E)
    } {
      val lon = 9.0 + dLon
      val north = lat >= 0
      val (x, y) = Crs.projection(if (north) 32632 else 32732).get.forward(lon, lat)
      val (lon2, lat2) = Crs.projection(if (north) 32632 else 32732).get.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-10, s"lon drift at ($lon,$lat): $lon2")
      assert(math.abs(lat2 - lat) < 1e-10, s"lat drift at ($lon,$lat): $lat2")
    }
  }

  test("toWgs84/fromWgs84 dispatch the EPSG ranges and fail loudly otherwise") {
    val rev = Crs.projection(32632).get.forward _
    val (x, y) = rev(6.5, 43.5)
    val (lo2, la2) = Crs.projection(32632).get.inverse(x, y)
    assert(math.abs(lo2 - 6.5) < 1e-10 && math.abs(la2 - 43.5) < 1e-10)
    val (xs, ys) = Crs.projection(32732).get.forward(9.0, -20.0)
    assert(ys > 7000000.0, "south zone false northing")
    intercept[IllegalArgumentException] { Crs.projection(2056) } // Swiss LV95: not in the table
    intercept[IllegalArgumentException] { Crs.projection(29902) } // Irish grid: not in the table
    assert(Crs.projection(4326).isEmpty)
    assert(!Crs.projection(32632).get.axisSeparable && Crs.projection(3857).get.axisSeparable &&
      Crs.projection(4326).forall(_.axisSeparable))
  }

  test("ETRS89/NAD83 UTM (258xx/269xx): GRS80 meridian-arc anchor, round-trip, dispatch") {
    // GRS80 Simpson integration — independent of the Krüger series
    val f80 = 1.0 / 298.257222101
    val e280 = f80 * (2.0 - f80)
    def arc80(phiDeg: Double): Double = {
      val phi = math.toRadians(phiDeg)
      def f(t: Double): Double = {
        val s = math.sin(t)
        A * (1.0 - e280) / math.pow(1.0 - e280 * s * s, 1.5)
      }
      val steps = 20000; val h = phi / steps
      var sum = f(0.0) + f(phi)
      var i = 1
      while (i < steps) { sum += (if (i % 2 == 1) 4.0 else 2.0) * f(i * h); i += 1 }
      sum * h / 3.0
    }
    // central-meridian anchor for EPSG:25832 (zone 32, cm = 9E)
    for (lat <- Seq(47.0, 50.5, 54.9)) {
      val (e, n) = Crs.projection(25832).get.forward(9.0, lat)
      assert(math.abs(e - 500000.0) < 1e-6)
      assert(math.abs(n - 0.9996 * arc80(lat)) < 1e-3, s"lat=$lat northing $n")
    }
    // round-trip closure through the dispatch (ETRS89 and NAD83 ranges)
    for ((epsg, lon, lat) <- Seq((25832, 11.57, 48.14), (26910, -122.3, 47.6))) {
      val (x, y) = Crs.projection(epsg).get.forward(lon, lat)
      val (lo2, la2) = Crs.projection(epsg).get.inverse(x, y)
      assert(math.abs(lo2 - lon) < 1e-10 && math.abs(la2 - lat) < 1e-10, s"EPSG:$epsg")
    }
    // the GRS80 instance is the WGS84 instance to sub-mm (the ellipsoids
    // differ in the 12th digit of 1/f) — the 258xx/269xx value is the
    // EPSG-code acceptance + documented null datum shift, not new math
    val (xw, yw) = Crs.projection(32632).get.forward(10.7, 52.3)
    val (xg, yg) = Crs.projection(25832).get.forward(10.7, 52.3)
    assert(math.hypot(xw - xg, yw - yg) < 1e-3)
    // projected CRSs: not axis-separable (clip polygons AND --area rects
    // take the densify-reproject path)
    assert(!Crs.projection(25832).get.axisSeparable && !Crs.projection(26910).get.axisSeparable)
  }

  test("NZTM 2193: GRS80 arc anchor with the 10M false northing, round-trip, dispatch") {
    // the frame exercises the TM family's lat0=0 + large-FN + southern
    // configuration: northing = FN + k0 * (negative) meridian arc
    val f80 = 1.0 / 298.257222101
    val e280 = f80 * (2.0 - f80)
    def arc80(phiDeg: Double): Double = {
      val phi = math.toRadians(phiDeg)
      def f(t: Double): Double = {
        val s = math.sin(t)
        A * (1.0 - e280) / math.pow(1.0 - e280 * s * s, 1.5)
      }
      val steps = 20000; val h = phi / steps
      var sum = f(0.0) + f(phi)
      var i = 1
      while (i < steps) { sum += (if (i % 2 == 1) 4.0 else 2.0) * f(i * h); i += 1 }
      sum * h / 3.0
    }
    for (lat <- Seq(-34.5, -41.3, -46.6)) { // NZ span
      val (e, n) = Crs.projection(2193).get.forward(173.0, lat)
      assert(math.abs(e - 1600000.0) < 1e-6)
      assert(math.abs(n - (10000000.0 + 0.9996 * arc80(lat))) < 1e-3, s"lat=$lat: $n")
    }
    val (x, y) = Crs.projection(2193).get.forward(174.76, -36.85) // Auckland
    val (lo2, la2) = Crs.projection(2193).get.inverse(x, y)
    assert(math.abs(lo2 - 174.76) < 1e-10 && math.abs(la2 + 36.85) < 1e-10)
    assert(!Crs.projection(2193).get.axisSeparable)
  }

  test("densifyReproject bounds the chord error under a meter") {
    val toUtm: (Double, Double) => (Double, Double) =
      (lo, la) => Crs.projection(32632).get.forward(lo, la)
    val square = Array(6.0, 43.0, 7.0, 43.0, 7.0, 44.0, 6.0, 44.0)
    val dense = Crs.densifyReproject(square, toUtm) // default 0.01 deg step
    assert(dense.length / 2 >= 396, s"${dense.length / 2} points") // ~100 per edge
    // between consecutive output vertices the straight projected chord
    // must stay within a meter of the true curve (sampled at mid-chord)
    val n = dense.length / 2
    // recover the lon/lat parameterization by walking the same edges
    val latEdgeMid = toUtm(6.005, 43.0) // mid of the first densified step
    val chordMid = ((dense(0) + dense(2)) / 2, (dense(1) + dense(3)) / 2)
    val err = math.hypot(latEdgeMid._1 - chordMid._1, latEdgeMid._2 - chordMid._2)
    assert(err < 1.0, s"sagitta $err m")
    // the CLOSING edge [p_{n-1}, p_0) is emitted: the last output vertex
    // must sit one densify step before the first (~0.01 deg ~ 1.1 km),
    // neither coincident (the next edge owns p_0) nor a full edge away
    // (which would mean the wrap-around edge was dropped, leaving the
    // projected ring open and corrupting PIP along it)
    val closeGap = math.hypot(dense(2 * n - 2) - dense(0), dense(2 * n - 1) - dense(1))
    assert(closeGap > 100.0 && closeGap < 2500.0, s"closing-edge gap $closeGap m")
  }

  test("envelopeBBox equals transformBBox for separable CRSs, bounds UTM tiles") {
    val b = BBox(6.2, 43.2, 6.8, 43.8)
    val m = Crs.envelopeBBox(b, Crs.projection(3857).get.forward)
    val s = transformBBox(b, Crs.projection(3857).get.forward)
    assert(m == s)
    // UTM corners tilt: strict form refuses, envelope contains all corners
    val toUtm: (Double, Double) => (Double, Double) =
      (lo, la) => Crs.projection(32632).get.forward(lo, la)
    intercept[IllegalArgumentException] { transformBBox(b, toUtm) }
    val env = Crs.envelopeBBox(b, toUtm)
    for ((lo, la) <- Seq((6.2, 43.2), (6.2, 43.8), (6.8, 43.8), (6.8, 43.2))) {
      val (x, y) = toUtm(lo, la)
      assert(x >= env.minLon - 1e-9 && x <= env.maxLon + 1e-9)
      assert(y >= env.minLat - 1e-9 && y <= env.maxLat + 1e-9)
    }
  }
}
