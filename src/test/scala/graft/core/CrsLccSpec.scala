package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Lambert-93 (EPSG:2154) correctness without an external projection
  * library: frame constants pin the grid origin, finite-difference scale
  * factors verify the defining LCC properties (k = 1 exactly on both
  * standard parallels, < 1 between, > 1 outside; conformality = equal
  * scale along meridian and parallel), and round-trips close over the
  * full France extent. The ellipsoid radii used for ground truth are
  * computed directly from the GRS80 definition — no code shared with
  * `Crs`'s Snyder closed forms. */
class CrsLccSpec extends AnyFunSuite {

  private val A = 6378137.0
  private val F = 1.0 / 298.257222101
  private val E2 = F * (2.0 - F)

  /** Radius of the parallel circle at lat (meters per radian of lon). */
  private def parallelRadius(latDeg: Double): Double = {
    val phi = math.toRadians(latDeg)
    val nu = A / math.sqrt(1.0 - E2 * math.sin(phi) * math.sin(phi))
    nu * math.cos(phi)
  }

  /** Meridional radius of curvature at lat (meters per radian of lat). */
  private def meridianRadius(latDeg: Double): Double = {
    val phi = math.toRadians(latDeg)
    val s2 = math.sin(phi) * math.sin(phi)
    A * (1.0 - E2) / math.pow(1.0 - E2 * s2, 1.5)
  }

  /** Projected scale along the parallel at (lon, lat), finite difference. */
  private def scaleAlongParallel(lon: Double, lat: Double): Double = {
    val d = 1e-5
    val (x1, y1) = Crs.projection(2154).get.forward(lon - d, lat)
    val (x2, y2) = Crs.projection(2154).get.forward(lon + d, lat)
    math.hypot(x2 - x1, y2 - y1) / (parallelRadius(lat) * math.toRadians(2 * d))
  }

  private def scaleAlongMeridian(lon: Double, lat: Double): Double = {
    val d = 1e-5
    val (x1, y1) = Crs.projection(2154).get.forward(lon, lat - d)
    val (x2, y2) = Crs.projection(2154).get.forward(lon, lat + d)
    math.hypot(x2 - x1, y2 - y1) / (meridianRadius(lat) * math.toRadians(2 * d))
  }

  test("grid origin: (3E, 46.5N) maps to exactly (700000, 6600000)") {
    val (x, y) = Crs.projection(2154).get.forward(3.0, 46.5)
    assert(math.abs(x - 700000.0) < 1e-6 && math.abs(y - 6600000.0) < 1e-6)
  }

  test("scale is 1 on both standard parallels, <1 between, >1 outside") {
    for (lon <- Seq(-1.0, 3.0, 7.5)) {
      assert(math.abs(scaleAlongParallel(lon, 44.0) - 1.0) < 1e-7, s"k(44N) at lon $lon")
      assert(math.abs(scaleAlongParallel(lon, 49.0) - 1.0) < 1e-7, s"k(49N) at lon $lon")
    }
    assert(scaleAlongParallel(3.0, 46.5) < 1.0 - 1e-4)
    assert(scaleAlongParallel(3.0, 42.0) > 1.0 + 1e-4)
    assert(scaleAlongParallel(3.0, 51.0) > 1.0 + 1e-4)
  }

  test("conformal: meridian and parallel scales agree everywhere") {
    for {
      lat <- Seq(41.5, 44.0, 46.5, 49.0, 51.0)
      lon <- Seq(-4.0, 3.0, 8.5)
    } {
      val kp = scaleAlongParallel(lon, lat)
      val km = scaleAlongMeridian(lon, lat)
      assert(math.abs(kp - km) < 1e-6, s"anisotropy at ($lon,$lat): $kp vs $km")
    }
  }

  test("round-trip closes over the France extent") {
    for {
      lat <- Seq(41.2, 43.5, 46.5, 48.85, 51.4)
      lon <- Seq(-5.0, -1.5, 2.35, 6.0, 9.5)
    } {
      val (x, y) = Crs.projection(2154).get.forward(lon, lat)
      val (lon2, lat2) = Crs.projection(2154).get.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-10 && math.abs(lat2 - lat) < 1e-10,
        s"drift at ($lon,$lat): ($lon2,$lat2)")
    }
    // metropolitan France lands inside the published grid envelope
    val (xp, yp) = Crs.projection(2154).get.forward(2.3522, 48.8566) // Paris
    assert(xp > 100000 && xp < 1300000 && yp > 6000000 && yp < 7200000)
    val (xt, yt) = Crs.projection(2154).get.forward(5.93, 43.12) // Toulon
    assert(xt > 100000 && xt < 1300000 && yt > 6000000 && yt < 7200000)
  }

  test("toWgs84/fromWgs84 dispatch EPSG:2154") {
    val fwd = Crs.projection(2154).get.forward _
    val inv = Crs.projection(2154).get.inverse _
    val (x, y) = fwd(6.5, 43.5)
    val (lon, lat) = inv(x, y)
    assert(math.abs(lon - 6.5) < 1e-10 && math.abs(lat - 43.5) < 1e-10)
    assert(!Crs.projection(2154).get.axisSeparable)
  }
}
