package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Albers equal-area conic (EPSG:5070 Conus Albers / EPSG:3577 Australian
  * Albers) correctness, anchored WITHOUT an external projection library by
  * properties the Snyder forms under test do not encode:
  *
  *  - equal-area: the forward Jacobian determinant must equal the
  *    ellipsoidal area element a²(1-e²)cosφ/(1-e²sin²φ)² everywhere
  *    (differential geometry, no shared formula);
  *  - the parallel scale factor k = n·ρ/(a·m(φ)) measured NUMERICALLY
  *    (∂x/∂λ magnitude over the parallel arc length) must be exactly 1
  *    along BOTH standard parallels — the defining 2SP constraint;
  *  - round-trip closure via the exact-q Newton inverse;
  *  - EPSG dispatch for both instances, including the southern-parallel
  *    cone (n < 0) whose inverse flips the atan2 operands.
  */
class CrsAlbersSpec extends AnyFunSuite {

  private val A = 6378137.0
  private val F = 1.0 / 298.257222101 // GRS80
  private val E2 = F * (2.0 - F)

  test("natural origin maps to (0, 0) exactly for both instances") {
    val (x, y) = Crs.projection(5070).get.forward(-96.0, 23.0)
    assert(math.abs(x) < 1e-9 && math.abs(y) < 1e-9, s"5070 origin ($x,$y)")
    val (xa, ya) = Crs.projection(3577).get.forward(132.0, 0.0)
    assert(math.abs(xa) < 1e-9 && math.abs(ya) < 1e-9, s"3577 origin ($xa,$ya)")
  }

  test("equal-area: forward Jacobian equals the ellipsoidal area element (both cones)") {
    val h = 1e-5
    def check(p: (Double, Double) => (Double, Double), lon: Double, lat: Double): Unit = {
      val (xE, yE) = p(lon + h, lat); val (xW, yW) = p(lon - h, lat)
      val (xN, yN) = p(lon, lat + h); val (xS, yS) = p(lon, lat - h)
      val dxdl = (xE - xW) / (2 * h); val dydl = (yE - yW) / (2 * h)
      val dxdp = (xN - xS) / (2 * h); val dydp = (yN - yS) / (2 * h)
      val jac = math.abs(dxdl * dydp - dxdp * dydl)
      val phi = math.toRadians(lat)
      val s = math.sin(phi); val d = 1.0 - E2 * s * s
      val areaElement = A * A * (1.0 - E2) * math.cos(phi) / (d * d) *
        math.pow(math.Pi / 180.0, 2)
      assert(math.abs(jac / areaElement - 1.0) < 1e-6,
        s"($lon,$lat): jacobian $jac vs area element $areaElement")
    }
    // CONUS: coast-to-coast + the standard parallels + outside the domain
    for ((lon, lat) <- Seq((-124.0, 48.0), (-104.99, 39.74), (-96.0, 23.0),
        (-75.0, 40.7), (-96.0, 29.5), (-96.0, 45.5), (6.5, 43.5)))
      check(Crs.projection(5070).get.forward, lon, lat)
    // Australia (southern cone, n < 0)
    for ((lon, lat) <- Seq((115.9, -31.9), (132.0, -18.0), (132.0, -36.0),
        (151.2, -33.9), (147.0, -42.9)))
      check(Crs.projection(3577).get.forward, lon, lat)
  }

  test("parallel scale is exactly 1 along both standard parallels") {
    val h = 1e-6
    def k(p: (Double, Double) => (Double, Double), lon: Double, lat: Double): Double = {
      // numeric |d(x,y)/dλ| over the true parallel arc length a·m(φ)·dλ
      val (xE, yE) = p(lon + h, lat); val (xW, yW) = p(lon - h, lat)
      val dPerDeg = math.hypot(xE - xW, yE - yW) / (2 * h)
      val phi = math.toRadians(lat)
      val s = math.sin(phi)
      val mm = math.cos(phi) / math.sqrt(1.0 - E2 * s * s)
      dPerDeg / (A * mm * math.Pi / 180.0)
    }
    for (lon <- Seq(-120.0, -96.0, -70.0)) {
      assert(math.abs(k(Crs.projection(5070).get.forward, lon, 29.5) - 1.0) < 1e-7, s"k@29.5N lon=$lon")
      assert(math.abs(k(Crs.projection(5070).get.forward, lon, 45.5) - 1.0) < 1e-7, s"k@45.5N lon=$lon")
      // between the parallels the scale dips BELOW 1 (secant cone)
      assert(k(Crs.projection(5070).get.forward, lon, 37.5) < 1.0 - 1e-4, s"k@37.5N lon=$lon")
    }
    for (lon <- Seq(115.0, 132.0, 150.0)) {
      assert(math.abs(k(Crs.projection(3577).get.forward, lon, -18.0) - 1.0) < 1e-7, s"k@18S lon=$lon")
      assert(math.abs(k(Crs.projection(3577).get.forward, lon, -36.0) - 1.0) < 1e-7, s"k@36S lon=$lon")
    }
  }

  test("round-trip closes to sub-nanodegree error, both hemispheres") {
    for {
      lat <- Seq(24.0, 29.5, 37.5, 45.5, 49.0)
      lon <- Seq(-124.0, -105.0, -96.0, -80.0, -66.0)
    } {
      val (x, y) = Crs.projection(5070).get.forward(lon, lat)
      val (lo2, la2) = Crs.projection(5070).get.inverse(x, y)
      assert(math.abs(lo2 - lon) < 1e-10, s"lon drift at ($lon,$lat): $lo2")
      assert(math.abs(la2 - lat) < 1e-10, s"lat drift at ($lon,$lat): $la2")
    }
    for {
      lat <- Seq(-10.0, -18.0, -27.0, -36.0, -43.7)
      lon <- Seq(113.0, 122.0, 132.0, 145.0, 153.6)
    } {
      val (x, y) = Crs.projection(3577).get.forward(lon, lat)
      val (lo2, la2) = Crs.projection(3577).get.inverse(x, y)
      assert(math.abs(lo2 - lon) < 1e-10, s"lon drift at ($lon,$lat): $lo2")
      assert(math.abs(la2 - lat) < 1e-10, s"lat drift at ($lon,$lat): $la2")
    }
    // the exact origin inverts cleanly
    val (lo0, la0) = Crs.projection(5070).get.inverse(0.0, 0.0)
    assert(math.abs(lo0 + 96.0) < 1e-10 && math.abs(la0 - 23.0) < 1e-10)
  }

  test("axis orientation: x grows east of lon0, y grows north (and the n<0 cone agrees)") {
    val (xE, _) = Crs.projection(5070).get.forward(-90.0, 39.0)
    val (xW, _) = Crs.projection(5070).get.forward(-102.0, 39.0)
    assert(xE > 0 && xW < 0)
    val (_, yN) = Crs.projection(5070).get.forward(-96.0, 45.0)
    val (_, yS) = Crs.projection(5070).get.forward(-96.0, 25.0)
    assert(yN > yS)
    val (xe, _) = Crs.projection(3577).get.forward(140.0, -27.0)
    val (xw, _) = Crs.projection(3577).get.forward(124.0, -27.0)
    assert(xe > 0 && xw < 0, s"3577 east/west ($xe,$xw)")
    val (_, yn) = Crs.projection(3577).get.forward(132.0, -18.0)
    val (_, ys) = Crs.projection(3577).get.forward(132.0, -36.0)
    assert(yn > ys, s"3577 north/south ($yn,$ys)")
  }

  test("EPSG:5070 and 3577 dispatch; not axis-separable; spec family 'aea' matches") {
    for (epsg <- Seq(5070, 3577)) {
      val (x, y) = Crs.projection(epsg).get.forward(-96.5, 38.5)
      val (lo2, la2) = Crs.projection(epsg).get.inverse(x, y)
      assert(math.abs(lo2 + 96.5) < 1e-10 && math.abs(la2 - 38.5) < 1e-10, s"epsg $epsg")
      assert(!Crs.projection(epsg).get.axisSeparable)
    }
    val spec = Crs.projSpecString("aea", Seq(
      "a" -> 6378137.0, "invf" -> 298.257222101, "lat0" -> 23.0, "lon0" -> -96.0,
      "lat1" -> 29.5, "lat2" -> 45.5, "fe" -> 0.0, "fn" -> 0.0))
    val (sx, sy) = Crs.projection(32767, spec).get.forward(-104.99, 39.74)
    val (cx, cy) = Crs.projection(5070).get.forward(-104.99, 39.74)
    assert(sx == cx && sy == cy)
    val (slo, sla) = Crs.projection(32767, spec).get.inverse(sx, sy)
    assert(math.abs(slo + 104.99) < 1e-10 && math.abs(sla - 39.74) < 1e-10)
  }
}
