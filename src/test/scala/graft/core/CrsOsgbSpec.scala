package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** British National Grid (EPSG:27700) correctness. The projection core is
  * the SAME parameterized Krüger TM class UTM uses, instantiated with the
  * EPSG registry constants for OSGB (Airy 1830, k0 = 0.9996012717, origin
  * 49N 2W, FE 400000, FN -100000), so this spec anchors exactly what
  * parameterization added: (1) the published OS worked-example point
  * (OSGB36 geodetic -> grid, the projection step of "A guide to coordinate
  * systems in Great Britain"), (2) a meridian-arc Simpson integration with
  * AIRY constants (independent of the Krüger series) for the lat0 != 0
  * northing offset, and (3) the Helmert datum-shift composition in the
  * WGS84 entry points. */
class CrsOsgbSpec extends AnyFunSuite {

  private val A = Crs.Airy1830.a
  private val E2 = Crs.Airy1830.e2
  private val K0 = 0.9996012717

  /** Meridian arc length 0..phi on AIRY 1830 by Simpson integration —
    * no series shared with Crs. */
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

  test("natural origin (2W, 49N) maps to exactly (400000, -100000)") {
    val (e, n) = Crs.Osgb36Grid.forward(-2.0, 49.0)
    assert(math.abs(e - 400000.0) < 1e-6, s"e=$e")
    assert(math.abs(n - (-100000.0)) < 1e-6, s"n=$n")
  }

  test("OS worked example: OSGB36 geodetic -> grid matches the published mm") {
    // "A guide to coordinate systems in Great Britain" worked example:
    // phi = 52 39' 27.2531" N, lambda = 1 43' 4.5177" E (OSGB36)
    // E = 651409.903, N = 313177.270 (published to mm via the Redfearn
    // series; Krüger agrees within series truncation at 3.7 deg from
    // the central meridian)
    val lat = 52.0 + 39.0 / 60.0 + 27.2531 / 3600.0
    val lon = 1.0 + 43.0 / 60.0 + 4.5177 / 3600.0
    val (e, n) = Crs.Osgb36Grid.forward(lon, lat)
    assert(math.abs(e - 651409.903) < 0.005, s"easting $e vs 651409.903")
    assert(math.abs(n - 313177.270) < 0.005, s"northing $n vs 313177.270")
  }

  test("northing on the central meridian equals k0 x (arc - arc(49N)) - 100000") {
    for (lat <- Seq(50.0, 52.5, 55.0, 58.0)) {
      val (e, n) = Crs.Osgb36Grid.forward(-2.0, lat)
      val expected = K0 * (meridianArc(lat) - meridianArc(49.0)) - 100000.0
      assert(math.abs(e - 400000.0) < 1e-6)
      assert(math.abs(n - expected) < 1e-3, s"lat=$lat: $n vs $expected")
    }
  }

  test("scale on the central meridian is k0 = 0.9996012717") {
    val d = 1e-4
    val (_, n1) = Crs.Osgb36Grid.forward(-2.0, 54.0 - d / 2)
    val (_, n2) = Crs.Osgb36Grid.forward(-2.0, 54.0 + d / 2)
    // ds on the ellipsoid = M(phi) dphi
    val s = math.sin(math.toRadians(54.0))
    val mRad = A * (1.0 - E2) / math.pow(1.0 - E2 * s * s, 1.5)
    val scale = (n2 - n1) / (mRad * math.toRadians(d))
    assert(math.abs(scale - K0) < 1e-9, s"scale $scale")
  }

  test("projection round-trip closes over the GB extent") {
    for (lon <- Seq(-7.0, -4.0, -2.0, 0.0, 1.8); lat <- Seq(50.0, 53.0, 56.0, 60.0)) {
      val (e, n) = Crs.Osgb36Grid.forward(lon, lat)
      val (lon2, lat2) = Crs.Osgb36Grid.inverse(e, n)
      assert(math.abs(lon2 - lon) < 1e-11 && math.abs(lat2 - lat) < 1e-11,
        s"($lon,$lat) -> ($e,$n) -> ($lon2,$lat2)")
    }
  }

  test("WGS84 entry points: Helmert shift is ~100 m, round-trip closes") {
    // Greenwich: OSGB36 and WGS84 geodetic coordinates differ by the
    // datum realization (~120 m ground distance over SE England)
    val (e, n) = Crs.projection(27700).get.forward(0.0, 51.4769)
    val (eNoShift, nNoShift) = Crs.Osgb36Grid.forward(0.0, 51.4769)
    val shift = math.hypot(e - eNoShift, n - nNoShift)
    assert(shift > 50.0 && shift < 200.0, s"datum shift $shift m")
    for (lon <- Seq(-5.0, -2.0, 0.5); lat <- Seq(50.5, 54.0, 57.5)) {
      val (ee, nn) = Crs.projection(27700).get.forward(lon, lat)
      val (lon2, lat2) = Crs.projection(27700).get.inverse(ee, nn)
      // Helmert inv solves the forward system exactly; the residual is
      // the h=0 convention — the grid carries no ellipsoidal height, so
      // the ~50 m Airy/WGS84 separation re-enters through the Helmert
      // scale (20 ppm x 50 m ~ 1 mm), inherent to ANY heightless 27700
      // round trip and 3 orders below the published datum accuracy
      assert(math.abs(lon2 - lon) < 5e-8 && math.abs(lat2 - lat) < 5e-8,
        s"($lon,$lat) -> ($lon2,$lat2)")
    }
  }

  test("toWgs84/fromWgs84 dispatch EPSG:27700") {
    val fwd = Crs.projection(27700).get.forward _
    val inv = Crs.projection(27700).get.inverse _
    val (e, n) = fwd(-3.0, 55.0)
    val (lon, lat) = inv(e, n)
    // 5e-8 deg: the h=0 closure bound (see the round-trip test)
    assert(math.abs(lon - -3.0) < 5e-8 && math.abs(lat - 55.0) < 5e-8)
  }
}
