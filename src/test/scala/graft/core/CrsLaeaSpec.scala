package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** EPSG:3035 (ETRS89-LAEA Europe) correctness, anchored WITHOUT an
  * external projection library. The defining property of the projection
  * IS the anchor: equal-area means the forward Jacobian determinant must
  * equal the ellipsoidal area element a²(1-e²)cosφ/(1-e²sin²φ)²
  * everywhere — a condition derived from differential geometry alone,
  * sharing no formula with the Snyder implementation under test. Plus the
  * EPSG natural-origin constants, round-trip closure (Newton authalic
  * inverse, not the truncated sin-series), and dispatch. */
class CrsLaeaSpec extends AnyFunSuite {

  private val A = 6378137.0
  private val F = 1.0 / 298.257222101 // GRS80
  private val E2 = F * (2.0 - F)

  test("natural origin maps to the EPSG false easting/northing exactly") {
    val (x, y) = Crs.projection(3035).get.forward(10.0, 52.0)
    assert(math.abs(x - 4321000.0) < 1e-6, s"E $x")
    assert(math.abs(y - 3210000.0) < 1e-6, s"N $y")
  }

  test("equal-area: forward Jacobian equals the ellipsoidal area element") {
    // central-difference Jacobian of (lon,lat)->(x,y) vs the exact area
    // element; 1e-6 relative across Europe (Lisbon to Nordkapp)
    val h = 1e-5
    for ((lon, lat) <- Seq((-9.1, 38.7), (2.35, 48.85), (10.0, 52.0),
        (25.0, 71.1), (34.0, 35.1), (6.5, 43.5))) {
      def p(lo: Double, la: Double) = Crs.projection(3035).get.forward(lo, la)
      val (xE, yE) = p(lon + h, lat); val (xW, yW) = p(lon - h, lat)
      val (xN, yN) = p(lon, lat + h); val (xS, yS) = p(lon, lat - h)
      val dxdl = (xE - xW) / (2 * h); val dydl = (yE - yW) / (2 * h)
      val dxdp = (xN - xS) / (2 * h); val dydp = (yN - yS) / (2 * h)
      val jac = math.abs(dxdl * dydp - dxdp * dydl) // m^2 per deg^2
      val phi = math.toRadians(lat)
      val s = math.sin(phi); val d = 1.0 - E2 * s * s
      val areaElement = A * A * (1.0 - E2) * math.cos(phi) / (d * d) *
        math.pow(math.Pi / 180.0, 2) // m^2 per deg^2
      assert(math.abs(jac / areaElement - 1.0) < 1e-6,
        s"($lon,$lat): jacobian $jac vs area element $areaElement")
    }
  }

  test("round-trip closes to sub-nanometer angular error across Europe") {
    for {
      lat <- Seq(35.0, 43.5, 52.0, 60.0, 70.9)
      lon <- Seq(-10.0, 0.0, 10.0, 24.0, 40.0)
    } {
      val (x, y) = Crs.projection(3035).get.forward(lon, lat)
      val (lo2, la2) = Crs.projection(3035).get.inverse(x, y)
      assert(math.abs(lo2 - lon) < 1e-10, s"lon drift at ($lon,$lat): $lo2")
      assert(math.abs(la2 - lat) < 1e-10, s"lat drift at ($lon,$lat): $la2")
    }
    // the exact origin inverts cleanly (rho ~ 0 guard)
    val (lo0, la0) = Crs.projection(3035).get.inverse(4321000.0, 3210000.0)
    assert(math.abs(lo0 - 10.0) < 1e-10 && math.abs(la0 - 52.0) < 1e-10)
  }

  test("EPSG:3035 dispatches; not axis-separable") {
    val (x, y) = Crs.projection(3035).get.forward(6.5, 43.5)
    val (lo2, la2) = Crs.projection(3035).get.inverse(x, y)
    assert(math.abs(lo2 - 6.5) < 1e-10 && math.abs(la2 - 43.5) < 1e-10)
    assert(!Crs.projection(3035).get.axisSeparable)
  }
}
