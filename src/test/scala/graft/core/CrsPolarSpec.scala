package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** EPSG:3413 / 3031 (polar stereographic, the ArcticDEM / REMA grids),
  * anchored WITHOUT an external projection library. The anchors are
  * differential-geometry properties the implementation does not encode
  * directly: the MERIDIAN scale at the standard parallel must be exactly
  * 1 (parallel scale is 1 by construction of rho; meridian scale is 1
  * only if the conformal-latitude function t is right — a spherical
  * tan(pi/4 - phi/2) substitute would pass the parallel and fail this),
  * and the Jacobian must be a scaled rotation everywhere (conformality).
  * Plus the pole -> false-origin constant, EPSG axis orientations,
  * round-trip closure, and dispatch. */
class CrsPolarSpec extends AnyFunSuite {

  private val A = 6378137.0
  private val F = 1.0 / 298.257223563
  private val E2 = F * (2.0 - F)

  /** Meridian radius of curvature M(phi). */
  private def mRad(phiDeg: Double): Double = {
    val s = math.sin(math.toRadians(phiDeg))
    A * (1.0 - E2) / math.pow(1.0 - E2 * s * s, 1.5)
  }
  /** Parallel radius r(phi) = nu cos(phi). */
  private def pRad(phiDeg: Double): Double = {
    val phi = math.toRadians(phiDeg)
    val s = math.sin(phi)
    A * math.cos(phi) / math.sqrt(1.0 - E2 * s * s)
  }

  test("pole maps to the false origin; EPSG axis orientations hold") {
    val (xn, yn) = Crs.projection(3413).get.forward(123.0, 90.0)
    assert(math.abs(xn) < 1e-6 && math.abs(yn) < 1e-6)
    val (xs, ys) = Crs.projection(3031).get.forward(-57.0, -90.0)
    assert(math.abs(xs) < 1e-6 && math.abs(ys) < 1e-6)
    // 3413: lon0 = 45W points down the -y axis; 90W-45W=45W of grid north
    val (x1, y1) = Crs.projection(3413).get.forward(-45.0, 80.0)
    assert(math.abs(x1) < 1e-6 && y1 < 0, s"45W must project to -y: ($x1, $y1)")
    // 3031: lon0 = 0E points UP the +y axis (south aspect flips N)
    val (x2, y2) = Crs.projection(3031).get.forward(0.0, -80.0)
    assert(math.abs(x2) < 1e-6 && y2 > 0, s"0E must project to +y: ($x2, $y2)")
    // and east longitudes have positive easting in BOTH aspects
    val (x3, _) = Crs.projection(3413).get.forward(-45.0 + 90.0, 80.0)
    val (x4, _) = Crs.projection(3031).get.forward(90.0, -80.0)
    assert(x3 > 0 && x4 > 0, "E = rho sin(lam - lam0) keeps its sign in the south aspect")
  }

  test("meridian scale at the standard parallel is exactly 1 (true-scale anchor)") {
    // h sized against FLOATING-POINT cancellation, not truncation: the
    // chord is ~22 m out of ~2e6 m coordinates, so the difference keeps
    // ~8 clean digits while the O(h^2) truncation term sits at ~5e-13
    val h = 1e-4 // degrees
    for ((ps, latTs, lon) <- Seq(
        (Crs.projection(3413).get, 70.0, 31.0), (Crs.projection(3031).get, -71.0, 157.0))) {
      val (x1, y1) = ps.forward(lon, latTs - h)
      val (x2, y2) = ps.forward(lon, latTs + h)
      val projected = math.hypot(x2 - x1, y2 - y1)
      val ground = mRad(latTs) * math.toRadians(2 * h)
      assert(math.abs(projected / ground - 1.0) < 1e-8,
        s"meridian scale at $latTs: ${projected / ground}")
    }
  }

  test("conformality: the Jacobian is a scaled rotation everywhere sampled") {
    val h = 1e-6
    for ((ps, pts) <- Seq(
        (Crs.projection(3413).get, Seq((0.0, 85.0), (-45.0, 70.0), (120.0, 62.0), (-170.0, 75.0))),
        (Crs.projection(3031).get, Seq((0.0, -85.0), (90.0, -71.0), (-135.0, -66.0))))) {
      for ((lon, lat) <- pts) {
        def p(lo: Double, la: Double) = ps.forward(lo, la)
        val (xE, yE) = p(lon + h, lat); val (xW, yW) = p(lon - h, lat)
        val (xN, yN) = p(lon, lat + h); val (xS, yS) = p(lon, lat - h)
        // columns of the Jacobian in locally ISOMETRIC ground coordinates
        val r = pRad(lat); val m = mRad(lat)
        val ux = (xE - xW) / (2 * h * math.toRadians(1) * r)
        val uy = (yE - yW) / (2 * h * math.toRadians(1) * r)
        val vx = (xN - xS) / (2 * h * math.toRadians(1) * m)
        val vy = (yN - yS) / (2 * h * math.toRadians(1) * m)
        val nu = math.hypot(ux, uy); val nv = math.hypot(vx, vy)
        assert(math.abs(nu / nv - 1.0) < 1e-6, s"anisotropy at ($lon,$lat): $nu vs $nv")
        val cosAngle = (ux * vx + uy * vy) / (nu * nv)
        assert(math.abs(cosAngle) < 1e-6, s"shear at ($lon,$lat): $cosAngle")
      }
    }
  }

  test("round-trip closes to sub-nanometer angular error across both domains") {
    // NO modulo on the comparison: inverses must return PRINCIPAL-range
    // longitudes (a 3413 cell at 150E must come back 150, not -210 —
    // lon points here sit both sides of the lon0-induced seam)
    for {
      lat <- Seq(60.0, 70.0, 80.0, 89.0)
      lon <- Seq(-170.0, -45.0, 0.0, 60.0, 150.0, 179.0)
    } {
      val (x, y) = Crs.projection(3413).get.forward(lon, lat)
      val (lo2, la2) = Crs.projection(3413).get.inverse(x, y)
      assert(math.abs(lo2 - lon) < 1e-10 && math.abs(la2 - lat) < 1e-10,
        s"3413 ($lon,$lat) -> ($lo2,$la2)")
      val (xs, ys) = Crs.projection(3031).get.forward(lon, -lat)
      val (lo3, la3) = Crs.projection(3031).get.inverse(xs, ys)
      assert(math.abs(lo3 - lon) < 1e-10 && math.abs(la3 + lat) < 1e-10,
        s"3031 ($lon,${-lat}) -> ($lo3,$la3)")
    }
    // the exact poles invert cleanly (rho ~ 0 guard)
    assert(Crs.projection(3413).get.inverse(0.0, 0.0)._2 == 90.0)
    assert(Crs.projection(3031).get.inverse(0.0, 0.0)._2 == -90.0)
  }

  test("EPSG:3413/3031 dispatch; not axis-separable") {
    val (x, y) = Crs.projection(3413).get.forward(-50.0, 72.0)
    val (lo2, la2) = Crs.projection(3413).get.inverse(x, y)
    assert(math.abs(lo2 + 50.0) < 1e-10 && math.abs(la2 - 72.0) < 1e-10)
    val (xs, ys) = Crs.projection(3031).get.forward(45.0, -77.0)
    val (lo3, la3) = Crs.projection(3031).get.inverse(xs, ys)
    assert(math.abs(lo3 - 45.0) < 1e-10 && math.abs(la3 + 77.0) < 1e-10)
    assert(!Crs.projection(3413).get.axisSeparable && !Crs.projection(3031).get.axisSeparable)
  }

  // ----------------------------------- variant A (scale at the pole) ---

  test("variant A (UPS): scale is 1 at the PUBLISHED true-scale parallel 81°06'52.3\"") {
    // UPS North (EPSG:5041 shape): k0 = 0.994 at the pole, FE = FN = 2e6.
    // DMA TM 8358.2 publishes that UPS scale is true at about
    // 81°06'52.3" N — a constant the variant-A coefficient formula
    // (2 k0 / sqrt((1+e)^(1+e)(1-e)^(1-e))) does not contain, so this is
    // an independent anchor: a coefficient missing the sqrt term is off
    // by ~0.3%, three orders above the tolerance.
    val ups = new Crs.PolarStereographic(Crs.Wgs84, 90.0, 0.0, 2000000.0, 2000000.0, Some(0.994))
    val latTrue = 81.0 + 6.0 / 60.0 + 52.3 / 3600.0
    val h = 1e-4
    val (xa, ya) = ups.forward(10.0 - h, latTrue)
    val (xb, yb) = ups.forward(10.0 + h, latTrue)
    val k = math.hypot(xb - xa, yb - ya) / (pRad(latTrue) * math.toRadians(2 * h))
    assert(math.abs(k - 1.0) < 2e-5, s"UPS parallel scale at $latTrue: $k")
    // and k0 itself holds near the pole (parallel scale -> k0 as phi -> 90)
    val (xc, yc) = ups.forward(10.0 - h, 89.999)
    val (xd, yd) = ups.forward(10.0 + h, 89.999)
    val kPole = math.hypot(xd - xc, yd - yc) / (pRad(89.999) * math.toRadians(2 * h))
    assert(math.abs(kPole - 0.994) < 1e-6, s"UPS scale at the pole: $kPole")
  }

  test("variant A: pole maps to the false origin; aspects mirror; round-trip closes") {
    val upsN = new Crs.PolarStereographic(Crs.Wgs84, 90.0, 0.0, 2000000.0, 2000000.0, Some(0.994))
    val upsS = new Crs.PolarStereographic(Crs.Wgs84, -90.0, 0.0, 2000000.0, 2000000.0, Some(0.994))
    val (x0, y0) = upsN.forward(37.0, 90.0)
    assert(math.abs(x0 - 2e6) < 1e-6 && math.abs(y0 - 2e6) < 1e-6)
    // south aspect mirrors northing about FN and keeps easting (EPSG:5042
    // vs 5041 symmetry: E = rho sin(lam - lam0) in both aspects)
    for ((lon, lat) <- Seq((0.0, 84.0), (77.0, 88.5), (-130.0, 82.0))) {
      val (xn, yn) = upsN.forward(lon, lat)
      val (xs2, ys2) = upsS.forward(lon, -lat)
      assert(math.abs(xn - xs2) < 1e-9, s"easting asymmetry at ($lon,$lat)")
      assert(math.abs((yn - 2e6) + (ys2 - 2e6)) < 1e-9, s"northing mirror at ($lon,$lat)")
      val (lo2, la2) = upsN.inverse(xn, yn)
      assert(math.abs(lo2 - lon) < 1e-10 && math.abs(la2 - lat) < 1e-10,
        s"UPS-N round trip ($lon,$lat) -> ($lo2,$la2)")
      val (lo3, la3) = upsS.inverse(xs2, ys2)
      assert(math.abs(lo3 - lon) < 1e-10 && math.abs(la3 + lat) < 1e-10,
        s"UPS-S round trip ($lon,${-lat}) -> ($lo3,$la3)")
    }
  }

  test("variant A: conformality holds (shared-core sanity)") {
    val ups = new Crs.PolarStereographic(Crs.Wgs84, 90.0, 0.0, 2000000.0, 2000000.0, Some(0.994))
    val h = 1e-6
    for ((lon, lat) <- Seq((0.0, 85.0), (120.0, 83.0), (-60.0, 88.0))) {
      def p(lo: Double, la: Double) = ups.forward(lo, la)
      val (xE, yE) = p(lon + h, lat); val (xW, yW) = p(lon - h, lat)
      val (xN, yN) = p(lon, lat + h); val (xS, yS) = p(lon, lat - h)
      val r = pRad(lat); val m = mRad(lat)
      val ux = (xE - xW) / (2 * h * math.toRadians(1) * r)
      val uy = (yE - yW) / (2 * h * math.toRadians(1) * r)
      val vx = (xN - xS) / (2 * h * math.toRadians(1) * m)
      val vy = (yN - yS) / (2 * h * math.toRadians(1) * m)
      val nu = math.hypot(ux, uy); val nv = math.hypot(vx, vy)
      assert(math.abs(nu / nv - 1.0) < 1e-6, s"anisotropy at ($lon,$lat)")
      assert(math.abs((ux * vx + uy * vy) / (nu * nv)) < 1e-6, s"shear at ($lon,$lat)")
    }
  }

  test("EPSG:5041/5042 (UPS) dispatch; not axis-separable") {
    val (x, y) = Crs.projection(5041).get.forward(45.0, 87.0)
    val (dx, dy) = new Crs.PolarStereographic(
      Crs.Wgs84, 90.0, 0.0, 2000000.0, 2000000.0, Some(0.994)).forward(45.0, 87.0)
    assert(x == dx && y == dy)
    val (lo, la) = Crs.projection(5041).get.inverse(x, y)
    assert(math.abs(lo - 45.0) < 1e-10 && math.abs(la - 87.0) < 1e-10)
    val (xs, ys) = Crs.projection(5042).get.forward(-120.0, -85.0)
    val (dxs, dys) = new Crs.PolarStereographic(
      Crs.Wgs84, -90.0, 0.0, 2000000.0, 2000000.0, Some(0.994)).forward(-120.0, -85.0)
    assert(xs == dxs && ys == dys)
    val (lo2, la2) = Crs.projection(5042).get.inverse(xs, ys)
    assert(math.abs(lo2 + 120.0) < 1e-10 && math.abs(la2 + 85.0) < 1e-10)
    assert(!Crs.projection(5041).get.axisSeparable && !Crs.projection(5042).get.axisSeparable)
  }

  test("variant B at the pole refuses loudly (the 0/0 degeneracy) and the spec-string k0 form parses") {
    val e = intercept[IllegalArgumentException](
      new Crs.PolarStereographic(Crs.Wgs84, 90.0, 0.0, 0.0, 0.0))
    assert(e.getMessage.contains("variant A"), e.getMessage)
    // "ps" spec with k0 builds variant A through the spec-string path
    val spec = Crs.projSpecString("ps", Seq(
      "a" -> 6378137.0, "invf" -> 298.257223563, "k0" -> 0.994,
      "lat0" -> 90.0, "lon0" -> 0.0, "fe" -> 2000000.0, "fn" -> 2000000.0))
    val ups = new Crs.PolarStereographic(Crs.Wgs84, 90.0, 0.0, 2000000.0, 2000000.0, Some(0.994))
    val (sx, sy) = Crs.projection(32767, spec).get.forward(45.0, 85.0)
    val (dx, dy) = ups.forward(45.0, 85.0)
    assert(sx == dx && sy == dy, s"spec path ($sx,$sy) vs direct ($dx,$dy)")
    val (lo, la) = Crs.projection(32767, spec).get.inverse(sx, sy)
    assert(math.abs(lo - 45.0) < 1e-10 && math.abs(la - 85.0) < 1e-10)
    // a NON-POLAR lat0 with k0 must refuse: variant A's math is only
    // valid at the pole; accepting lat0=70 would silently compute
    // scale-at-pole coordinates from lat0's sign alone (r7 ADVICE —
    // the same guard the GeoKey path applies via its pole test)
    val nonPolar = Crs.projSpecString("ps", Seq(
      "a" -> 6378137.0, "invf" -> 298.257223563, "k0" -> 0.994,
      "lat0" -> 70.0, "lon0" -> 0.0, "fe" -> 0.0, "fn" -> 0.0))
    val eNp = intercept[IllegalArgumentException](Crs.projection(32767, nonPolar))
    assert(eNp.getMessage.contains("variant A"), eNp.getMessage)
  }
}
