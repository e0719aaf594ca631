package graft.core

/** CRS transforms between WGS84 and a DEM's source CRS (reference F10:
  * hgt/file.py:132-166 get_transform, applied per traced path in
  * hgt/contour.py:133-134). The reference delegates to osgeo/proj and gets
  * back one transformer that it uses in both directions; here that is one
  * trait and one table.
  *
  *  - [[Projection]]: `forward` (WGS84 lon/lat degrees to native
  *    coordinates), `inverse` (back) and `axisSeparable`. The families are
  *    ellipsoidal transverse Mercator (6th-order Krüger series — the
  *    formulation GeographicLib/proj use, accurate to nanometers inside a
  *    zone), Lambert conformal conic 2SP, Lambert azimuthal equal-area,
  *    Albers equal-area conic and polar stereographic (EPSG variants A and
  *    B), the last four on Snyder's series, which [[Ellipsoid]] holds once;
  *    plus spherical web Mercator and British National Grid (the published
  *    OSGB Helmert datum shift, then an Airy 1830 TM).
  *  - [[projection]]`(epsg, spec)`: a non-empty user-defined spec (GeoKey
  *    parameters, see [[projSpecString]]) wins; otherwise the one EPSG table
  *    resolves the code, `None` for EPSG:4326. Other codes fail loudly
  *    rather than silently mis-projecting.
  *
  * These matter because lidar-derived national DEMs ship in national
  * projected grids. All formulas public; independent implementation.
  */
object Crs {

  private def atanh(x: Double): Double = 0.5 * math.log((1.0 + x) / (1.0 - x))
  private def asinh(x: Double): Double = math.log(x + math.hypot(1.0, x))

  /** Normalize a longitude into (-180, 180]. Azimuthal inverses
    * (polar stereographic, LAEA) produce lon0 + atan2-angle, which walks
    * outside the principal range for points more than 180 - |lon0|
    * degrees from the central meridian — e.g. an ArcticDEM grid cell at 150E
    * would otherwise come back as -210.
    *
    * Convention note: (-180, 180] (the seam itself maps to +180) is pinned
    * by the round-trip specs, which compare without modulo. It is safe
    * here because no consumer bins a NORMALIZED longitude into tile keys:
    * key enumeration derives from user --area strings / .poly files /
    * filename parsing (PipelineCli -> TileKeys.enumerate), never from an
    * azimuthal inverse; normalized values only reach traced node coords
    * and naming-metadata bboxes, where an exact +180 is measure-zero and
    * well-formed. If a future consumer floors normalized lon into
    * [-180, 180) keys, wrap +180 to -180 at that consumer. */
  def normalizeLon(lon: Double): Double = {
    var l = lon % 360.0
    if (l <= -180.0) l += 360.0
    else if (l > 180.0) l -= 360.0
    l
  }

  /** A source CRS. `forward` maps WGS84 (lon, lat) degrees to native
    * coordinates and `inverse` maps them back. `axisSeparable` is true
    * when inverse lon depends only on x and inverse lat only on y — the
    * property that lets a grid reproject its AXES to WGS84
    * (RasterPipeline.sliceMask's separable branch) and crop an --area rect
    * by index. It holds for web Mercator (cylindrical, equator-aligned),
    * not for TM/LCC/LAEA/Albers/polar, where meridian convergence or the
    * azimuthal geometry mixes the axes; those sources clip through the
    * densify-reprojected polygon (sliceMask's projected branch). */
  trait Projection extends Serializable {
    def forward(lon: Double, lat: Double): (Double, Double)
    def inverse(x: Double, y: Double): (Double, Double)
    def axisSeparable: Boolean = false
  }

  /** Reference ellipsoids (public geodesy constants) and the Snyder 1987
    * series that the conic, azimuthal and polar projections share. */
  final case class Ellipsoid(a: Double, invF: Double) {
    val f: Double = 1.0 / invF
    val e2: Double = f * (2.0 - f)
    val e: Double = math.sqrt(e2)

    /** Snyder eq. 14-15: m(phi), the parallel radius over a. */
    def m(phi: Double): Double = {
      val s = math.sin(phi)
      math.cos(phi) / math.sqrt(1.0 - e2 * s * s)
    }

    /** Snyder eq. 15-9: t(phi), the conformal-latitude term. */
    def t(phi: Double): Double = {
      val s = math.sin(phi)
      math.tan(math.Pi / 4.0 - phi / 2.0) /
        math.pow((1.0 - e * s) / (1.0 + e * s), e / 2.0)
    }

    /** Snyder eq. 3-12: q(phi), proportional to the area between the
      * equator and phi. */
    def q(phi: Double): Double = {
      val s = math.sin(phi)
      (1.0 - e2) * (s / (1.0 - e2 * s * s) -
        (1.0 / (2.0 * e)) * math.log((1.0 - e * s) / (1.0 + e * s)))
    }

    /** q at the pole. */
    val qp: Double = q(math.Pi / 2.0)

    /** The phi with t(phi) = tP: Snyder's conformal fixed-point iteration
      * (eq. 7-9; converges in ~4 steps). */
    def phiFromT(tP: Double): Double = {
      var phi = math.Pi / 2.0 - 2.0 * math.atan(tP)
      var i = 0
      var prev = Double.NaN
      while (i < 10 && phi != prev) {
        prev = phi
        val s = math.sin(phi)
        phi = math.Pi / 2.0 - 2.0 * math.atan(
          tP * math.pow((1.0 - e * s) / (1.0 + e * s), e / 2.0))
        i += 1
      }
      phi
    }

    /** The phi with q(phi) = target: Newton on the exact q from `seed`
      * (an authalic latitude) instead of Snyder's sin-series, which
      * truncates at e^6 (~1 cm), so round trips close to machine precision.
      * dq/dphi = 2(1-e^2) cos(phi) / (1 - e^2 sin^2 phi)^2. */
    def phiFromQ(target: Double, seed: Double): Double = {
      var phi = seed
      var i = 0
      var delta = 1.0
      while (i < 10 && math.abs(delta) > 1e-16) {
        val s = math.sin(phi); val d = 1.0 - e2 * s * s
        val dq = 2.0 * (1.0 - e2) * math.cos(phi) / (d * d)
        if (dq < 1e-18) { i = 10 } // at the pole cos -> 0; phi is already there
        else {
          delta = (q(phi) - target) / dq
          phi -= delta
          i += 1
        }
      }
      phi
    }
  }
  val Wgs84: Ellipsoid = Ellipsoid(6378137.0, 298.257223563)
  val Grs80: Ellipsoid = Ellipsoid(6378137.0, 298.257222101)
  val Airy1830: Ellipsoid = Ellipsoid(6377563.396, 299.3249646)

  // ---------------------------------------- transverse Mercator (TM) ---
  /** Ellipsoidal transverse Mercator, parameterized the way EPSG defines
    * a TM instance: ellipsoid, scale at the central meridian k0, central
    * meridian/latitude of origin, false easting/northing. UTM is the
    * (WGS84, 0.9996, zone meridian, 0N, 500000, 0|10M) instance; British
    * National Grid is (Airy, 0.9996012717, 2W, 49N, 400000, -100000).
    * Forward/inverse via the 6th-order Krüger series (Karney 2011,
    * eqs. 35/36 coefficient sets — published series). */
  final class TransverseMercator(
      val ell: Ellipsoid,
      val k0: Double,
      val lon0Deg: Double,
      val lat0Deg: Double,
      val falseE: Double,
      val falseN: Double) extends Projection {
    private val E2 = ell.e2
    private val Ecc = ell.e
    private val N3 = ell.f / (2.0 - ell.f) // third flattening n
    /** Rectifying radius A = a/(1+n)·(1 + n²/4 + n⁴/64 + n⁶/256). */
    private val RectA = {
      val n2 = N3 * N3
      ell.a / (1.0 + N3) * (1.0 + n2 / 4.0 + n2 * n2 / 64.0 + n2 * n2 * n2 / 256.0)
    }
    // Krüger forward coefficients α1..α6 (Karney 2011, eq. 35 series)
    private val Alpha: Array[Double] = {
      val n = N3; val n2 = n * n; val n3 = n2 * n; val n4 = n3 * n; val n5 = n4 * n; val n6 = n5 * n
      Array(
        n / 2 - 2 * n2 / 3 + 5 * n3 / 16 + 41 * n4 / 180 - 127 * n5 / 288 + 7891 * n6 / 37800,
        13 * n2 / 48 - 3 * n3 / 5 + 557 * n4 / 1440 + 281 * n5 / 630 - 1983433 * n6 / 1935360,
        61 * n3 / 240 - 103 * n4 / 140 + 15061 * n5 / 26880 + 167603 * n6 / 181440,
        49561 * n4 / 161280 - 179 * n5 / 168 + 6601661 * n6 / 7257600,
        34729 * n5 / 80640 - 3418889 * n6 / 1995840,
        212378941 * n6 / 319334400)
    }
    // Krüger inverse coefficients β1..β6
    private val Beta: Array[Double] = {
      val n = N3; val n2 = n * n; val n3 = n2 * n; val n4 = n3 * n; val n5 = n4 * n; val n6 = n5 * n
      Array(
        n / 2 - 2 * n2 / 3 + 37 * n3 / 96 - n4 / 360 - 81 * n5 / 512 + 96199 * n6 / 604800,
        n2 / 48 + n3 / 15 - 437 * n4 / 1440 + 46 * n5 / 105 - 1118711 * n6 / 3870720,
        17 * n3 / 480 - 37 * n4 / 840 - 209 * n5 / 4480 + 5569 * n6 / 90720,
        4397 * n4 / 161280 - 11 * n5 / 504 - 830251 * n6 / 7257600,
        4583 * n5 / 161280 - 108847 * n6 / 3991680,
        20648693 * n6 / 638668800)
    }
    /** tau' (tangent of the conformal latitude) from tau = tan(phi). */
    private def tauPrime(tau: Double): Double = {
      val sigma = math.sinh(Ecc * atanh(Ecc * tau / math.hypot(1.0, tau)))
      tau * math.hypot(1.0, sigma) - sigma * math.hypot(1.0, tau)
    }
    /** Meridian-arc offset of the latitude of origin: xi at (lat0, lam=0)
      * scaled to meters — EPSG's "northing at the natural origin". Zero
      * for UTM (lat0 = 0). */
    private val M0 = {
      val tauP0 = tauPrime(math.tan(math.toRadians(lat0Deg)))
      val xiP0 = math.atan(tauP0)
      var xi = xiP0
      var j = 1
      while (j <= 6) { xi += Alpha(j - 1) * math.sin(2.0 * j * xiP0); j += 1 }
      k0 * RectA * xi
    }

    /** (lon, lat) degrees on this frame's DATUM -> (easting, northing) m. */
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val lam = math.toRadians(lon - lon0Deg)
      val tauP = tauPrime(math.tan(math.toRadians(lat)))
      val xiP = math.atan2(tauP, math.cos(lam))
      val etaP = asinh(math.sin(lam) / math.hypot(tauP, math.cos(lam)))
      var xi = xiP
      var eta = etaP
      var j = 1
      while (j <= 6) {
        xi += Alpha(j - 1) * math.sin(2.0 * j * xiP) * math.cosh(2.0 * j * etaP)
        eta += Alpha(j - 1) * math.cos(2.0 * j * xiP) * math.sinh(2.0 * j * etaP)
        j += 1
      }
      (falseE + k0 * RectA * eta, falseN - M0 + k0 * RectA * xi)
    }

    /** (easting, northing) m -> (lon, lat) degrees on this frame's DATUM. */
    def inverse(easting: Double, northing: Double): (Double, Double) = {
      val xi0 = (northing - falseN + M0) / (k0 * RectA)
      val eta0 = (easting - falseE) / (k0 * RectA)
      var xiP = xi0
      var etaP = eta0
      var j = 1
      while (j <= 6) {
        xiP -= Beta(j - 1) * math.sin(2.0 * j * xi0) * math.cosh(2.0 * j * eta0)
        etaP -= Beta(j - 1) * math.cos(2.0 * j * xi0) * math.sinh(2.0 * j * eta0)
        j += 1
      }
      val sinhEta = math.sinh(etaP)
      val tauP = math.sin(xiP) / math.hypot(sinhEta, math.cos(xiP))
      // invert the conformal-latitude map by Newton iteration on tau
      // (Karney's scheme: 2-3 iterations reach double precision)
      var tau = tauP / (1.0 - E2) // good first guess (spherical would be tauP)
      var i = 0
      var delta = 1.0
      while (i < 8 && math.abs(delta) > 1e-16) {
        // one sigma evaluation serves both f and f' (this runs per traced
        // contour node on projected sources — the hot inverse)
        val sigma = math.sinh(Ecc * atanh(Ecc * tau / math.hypot(1.0, tau)))
        val fTau = tau * math.hypot(1.0, sigma) - sigma * math.hypot(1.0, tau) - tauP
        val dTau = (math.sqrt((1.0 + sigma * sigma) * (1.0 + tau * tau)) - sigma * tau) *
          (1.0 - E2) * math.hypot(1.0, tau) / (1.0 + (1.0 - E2) * tau * tau)
        delta = fTau / dTau
        tau -= delta
        i += 1
      }
      val phi = math.atan(tau)
      val lam = math.atan2(sinhEta, math.cos(xiP))
      (lon0Deg + math.toDegrees(lam), math.toDegrees(phi))
    }
  }

  /** British National Grid's projection frame (OSGB36 datum): Airy 1830,
    * k0 = 0.9996012717, origin 49N 2W, FE 400000, FN -100000 (EPSG
    * registry constants). `forward`/`inverse` speak OSGB36 geodetic
    * coordinates; [[BritishNationalGrid]] composes the datum shift. */
  val Osgb36Grid: TransverseMercator =
    new TransverseMercator(Airy1830, 0.9996012717, -2.0, 49.0, 400000.0, -100000.0)

  // ------------------------------------------- Helmert datum shifts ---
  /** 7-parameter Helmert transformation (position-vector convention) via
    * geocentric cartesian coordinates, for datums that are NOT WGS84-
    * coincident (OSGB36). Parameters are the published OS values; the
    * transformation itself carries the OS-stated ~3.5 m real-world
    * distortion bound — the same bound pyproj's default (non-OSTN15)
    * British National Grid path has. `inv` solves the forward 3x3 system
    * EXACTLY (adjugate inverse of M = (1+s)I + skew(r)) rather than
    * negating the parameters, so forward∘inverse closes to double
    * precision. */
  final class Helmert7(
      txM: Double, tyM: Double, tzM: Double,
      rxSec: Double, rySec: Double, rzSec: Double,
      sPpm: Double) extends Serializable {
    private val rx = math.toRadians(rxSec / 3600.0)
    private val ry = math.toRadians(rySec / 3600.0)
    private val rz = math.toRadians(rzSec / 3600.0)
    private val s1 = 1.0 + sPpm * 1e-6
    // row-major M and its exact inverse (det is ~1, never near zero)
    private val m = Array(s1, -rz, ry, rz, s1, -rx, -ry, rx, s1)
    private val mInv = {
      val Array(a, b, c, d, e, f, g, h, i) = m
      val det = a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
      Array(
        (e * i - f * h) / det, (c * h - b * i) / det, (b * f - c * e) / det,
        (f * g - d * i) / det, (a * i - c * g) / det, (c * d - a * f) / det,
        (d * h - e * g) / det, (b * g - a * h) / det, (a * e - b * d) / det)
    }
    def apply(x: Double, y: Double, z: Double): (Double, Double, Double) = (
      txM + m(0) * x + m(1) * y + m(2) * z,
      tyM + m(3) * x + m(4) * y + m(5) * z,
      tzM + m(6) * x + m(7) * y + m(8) * z)
    def inv(x2: Double, y2: Double, z2: Double): (Double, Double, Double) = {
      val x = x2 - txM; val y = y2 - tyM; val z = z2 - tzM
      (mInv(0) * x + mInv(1) * y + mInv(2) * z,
        mInv(3) * x + mInv(4) * y + mInv(5) * z,
        mInv(6) * x + mInv(7) * y + mInv(8) * z)
    }
  }

  /** WGS84 -> OSGB36 (OS Guide A Helmert parameters, public). */
  val Wgs84ToOsgb36: Helmert7 =
    new Helmert7(-446.448, 125.157, -542.060, -0.1502, -0.2470, -0.8421, 20.4894)

  /** Geodetic (lon, lat, h=0) on `ell` -> geocentric cartesian meters. */
  def geodeticToEcef(ell: Ellipsoid, lon: Double, lat: Double): (Double, Double, Double) = {
    val phi = math.toRadians(lat)
    val lam = math.toRadians(lon)
    val s = math.sin(phi)
    val nu = ell.a / math.sqrt(1.0 - ell.e2 * s * s)
    (nu * math.cos(phi) * math.cos(lam),
      nu * math.cos(phi) * math.sin(lam),
      (1.0 - ell.e2) * nu * s)
  }

  /** Geocentric cartesian -> geodetic (lon, lat) on `ell`, height
    * discarded (fixed-point iteration on phi, sub-mm in <10 rounds). */
  def ecefToGeodetic(ell: Ellipsoid, x: Double, y: Double, z: Double): (Double, Double) = {
    val lam = math.atan2(y, x)
    val p = math.hypot(x, y)
    var phi = math.atan2(z, p * (1.0 - ell.e2))
    var i = 0
    var prev = Double.NaN
    while (i < 12 && phi != prev) {
      prev = phi
      val s = math.sin(phi)
      val nu = ell.a / math.sqrt(1.0 - ell.e2 * s * s)
      phi = math.atan2(z + ell.e2 * nu * s, p)
      i += 1
    }
    (math.toDegrees(lam), math.toDegrees(phi))
  }

  /** British National Grid: WGS84 -> OSGB36 by the Helmert shift, then
    * the Airy TM projection [[Osgb36Grid]]; the inverse runs the same
    * steps backwards. */
  object BritishNationalGrid extends Projection {
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val (x, y, z) = geodeticToEcef(Wgs84, lon, lat)
      val (x2, y2, z2) = Wgs84ToOsgb36(x, y, z)
      val (lonO, latO) = ecefToGeodetic(Airy1830, x2, y2, z2)
      Osgb36Grid.forward(lonO, latO)
    }
    def inverse(e: Double, n: Double): (Double, Double) = {
      val (lonO, latO) = Osgb36Grid.inverse(e, n)
      val (x, y, z) = geodeticToEcef(Airy1830, lonO, latO)
      val (x2, y2, z2) = Wgs84ToOsgb36.inv(x, y, z)
      ecefToGeodetic(Wgs84, x2, y2, z2)
    }
  }

  /** Spherical web Mercator, exact closed form, on the WGS84 semi-major
    * axis. */
  object WebMercator extends Projection {
    private val R = 6378137.0
    def forward(lon: Double, lat: Double): (Double, Double) = {
      val x = R * math.toRadians(lon)
      val y = R * math.log(math.tan(math.Pi / 4.0 + math.toRadians(lat) / 2.0))
      (x, y)
    }
    def inverse(x: Double, y: Double): (Double, Double) = {
      val lon = math.toDegrees(x / R)
      val lat = math.toDegrees(2.0 * math.atan(math.exp(y / R)) - math.Pi / 2.0)
      (lon, lat)
    }
    override def axisSeparable: Boolean = true
  }

  // -------------------------------- Lambert conformal conic (LCC-2SP) ---
  /** Ellipsoidal LCC with 2 standard parallels, parameterized the way
    * EPSG defines an LCC-2SP instance. Closed forms per Snyder, "Map
    * Projections — A Working Manual", pp. 107-109 (public). */
  final class LambertConformal2SP(
      val ell: Ellipsoid,
      lat0Deg: Double, lon0Deg: Double,
      lat1Deg: Double, lat2Deg: Double,
      falseE: Double, falseN: Double) extends Projection {
    private val Lon0 = math.toRadians(lon0Deg)
    private val Lat1 = math.toRadians(lat1Deg)
    private val Lat2 = math.toRadians(lat2Deg)
    private val N = (math.log(ell.m(Lat1)) - math.log(ell.m(Lat2))) /
      (math.log(ell.t(Lat1)) - math.log(ell.t(Lat2)))
    private val Fc = ell.m(Lat1) / (N * math.pow(ell.t(Lat1), N))
    private val Rho0 = ell.a * Fc * math.pow(ell.t(math.toRadians(lat0Deg)), N)

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val rho = ell.a * Fc * math.pow(ell.t(math.toRadians(lat)), N)
      val gamma = N * (math.toRadians(lon) - Lon0)
      (falseE + rho * math.sin(gamma), falseN + Rho0 - rho * math.cos(gamma))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val dx = x - falseE
      val dy = Rho0 - (y - falseN)
      val rho = math.signum(N) * math.hypot(dx, dy)
      val tP = math.pow(rho / (ell.a * Fc), 1.0 / N)
      val theta = math.atan2(dx, dy)
      val lon = theta / N + Lon0
      (math.toDegrees(lon), math.toDegrees(ell.phiFromT(tP)))
    }
  }

  // ------------------------- Lambert azimuthal equal-area (LAEA) ---
  /** Ellipsoidal Lambert azimuthal equal-area, oblique aspect (the
    * pan-European grid, which EU-DEM / Copernicus European mosaics ship
    * in). Snyder 1987 closed forms (eqs. 3-12, 24-2..24-6 forward;
    * 24-16..24-21 inverse) via the authalic latitude, inverted by
    * [[Ellipsoid.phiFromQ]]. Equal-area is the anchor: the forward
    * Jacobian must equal the ellipsoidal area element everywhere (tested
    * numerically, an oracle independent of these formulas). */
  final class LambertAzimuthalEqualArea(
      val ell: Ellipsoid,
      lat0Deg: Double, lon0Deg: Double,
      falseE: Double, falseN: Double) extends Projection {
    private val Lon0 = math.toRadians(lon0Deg)
    private val Phi0 = math.toRadians(lat0Deg)
    private val Beta0 = math.asin(ell.q(Phi0) / ell.qp)
    private val Rq = ell.a * math.sqrt(ell.qp / 2.0)
    private val D = ell.a * ell.m(Phi0) / (Rq * math.cos(Beta0))
    private val SinB0 = math.sin(Beta0)
    private val CosB0 = math.cos(Beta0)

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val lam = math.toRadians(lon) - Lon0
      val beta = math.asin(math.max(-1.0, math.min(1.0, ell.q(math.toRadians(lat)) / ell.qp)))
      val sb = math.sin(beta); val cb = math.cos(beta)
      val b = Rq * math.sqrt(2.0 / (1.0 + SinB0 * sb + CosB0 * cb * math.cos(lam)))
      (falseE + b * D * cb * math.sin(lam),
        falseN + (b / D) * (CosB0 * sb - SinB0 * cb * math.cos(lam)))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val dx = (x - falseE) / D
      val dy = D * (y - falseN)
      val rho = math.hypot(dx, dy)
      if (rho < 1e-12) return (lon0Deg, lat0Deg)
      val ce = 2.0 * math.asin(math.max(-1.0, math.min(1.0, rho / (2.0 * Rq))))
      val sCe = math.sin(ce); val cCe = math.cos(ce)
      val sinBeta = math.max(-1.0, math.min(1.0, cCe * SinB0 + dy * sCe * CosB0 / rho))
      val lam = math.atan2(dx * sCe, rho * CosB0 * cCe - dy * SinB0 * sCe)
      val phi = ell.phiFromQ(ell.qp * sinBeta, math.asin(sinBeta))
      (normalizeLon(math.toDegrees(Lon0 + lam)), math.toDegrees(phi))
    }
  }

  // ------------------------------- Albers equal-area conic (2SP) ---
  /** Ellipsoidal Albers equal-area conic with two standard parallels (the
    * US national grid USGS 3DEP/NED seamless DEMs ship in, and Geoscience
    * Australia's DEM mosaics). Snyder 1987 closed forms (eqs. 14-1..14-11
    * forward, 14-8..14-11 + 3-16 inverse) on the same exact-q machinery
    * as LAEA, inverted by [[Ellipsoid.phiFromQ]]. Southern-parallel
    * instances give cone constant n < 0; ρ carries n's sign and the
    * inverse flips the atan2 operands, the same signed-ρ treatment as LCC.
    * Equal-area is the anchor property (CrsAlbersSpec): the forward
    * Jacobian must equal the ellipsoidal area element everywhere, and the
    * parallel scale must be exactly 1 along BOTH standard parallels —
    * conditions from differential geometry that share no formula with
    * these forms. */
  final class AlbersEqualAreaConic(
      val ell: Ellipsoid,
      lat0Deg: Double, lon0Deg: Double,
      lat1Deg: Double, lat2Deg: Double,
      falseE: Double, falseN: Double) extends Projection {
    private val Lon0 = math.toRadians(lon0Deg)
    private val Lat1 = math.toRadians(lat1Deg)
    private val Lat2 = math.toRadians(lat2Deg)
    private val M1 = ell.m(Lat1)
    private val N = (M1 * M1 - ell.m(Lat2) * ell.m(Lat2)) / (ell.q(Lat2) - ell.q(Lat1))
    private val C = M1 * M1 + N * ell.q(Lat1)
    private def rho(qv: Double): Double =
      ell.a * math.sqrt(math.max(0.0, C - N * qv)) / N // signed: sign(rho) = sign(N)
    private val Rho0 = rho(ell.q(math.toRadians(lat0Deg)))

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val r = rho(ell.q(math.toRadians(lat)))
      val theta = N * (math.toRadians(lon) - Lon0)
      (falseE + r * math.sin(theta), falseN + Rho0 - r * math.cos(theta))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val dx = x - falseE
      val dy = Rho0 - (y - falseN)
      val r = math.signum(N) * math.hypot(dx, dy)
      // for n < 0 both atan2 operands flip sign (Snyder p. 101 note)
      val theta = if (N >= 0) math.atan2(dx, dy) else math.atan2(-dx, -dy)
      val lon = theta / N + Lon0
      val qv = (C - r * r * N * N / (ell.a * ell.a)) / N
      val target = math.max(-ell.qp, math.min(ell.qp, qv))
      val phi = ell.phiFromQ(target, math.asin(math.max(-1.0, math.min(1.0, target / ell.qp))))
      (normalizeLon(math.toDegrees(lon)), math.toDegrees(phi))
    }
  }

  // -------------------------------------------- polar stereographic ---
  /** Ellipsoidal polar stereographic, both EPSG variants sharing one core
    * (the polar DEM products: ArcticDEM, REMA and the UPS grids). Snyder
    * 1987 closed forms (eqs. 15-9/21-33..21-41): rho = a * Coef * t(phi),
    * with the inverse latitude from [[Ellipsoid.phiFromT]]. Variant B
    * (latTsDeg below the pole) sets Coef = m(ts)/t(ts) — scale exactly 1
    * along the standard parallel (EPSG 9829). Variant A (k0Pole defined)
    * sets Coef = 2*k0/sqrt((1+e)^(1+e)*(1-e)^(1-e)) — scale k0 AT the pole
    * (EPSG 9810; UPS and GeoKey files carrying ProjScaleAtNatOrigin with
    * NatOriginLat = ±90, where the variant-B form degenerates to 0/0).
    * latTsDeg's sign carries the aspect in both variants (variant A passes
    * ±90). The south aspect mirrors ONLY latitude and the y axis (phi ->
    * -phi, y -> -y; longitude is NOT mirrored — EPSG's south form keeps
    * E = rho sin(lambda - lambda0) with the same sign as north, N flips to
    * +rho cos), applied around the core so one formula serves both poles.
    * Anchors in CrsPolarSpec share no formula with this: the pole maps to
    * the false origin exactly, scale ON the standard parallel is exactly 1
    * (true-scale property, checked against numerically integrated ground
    * distance), and the Jacobian is a scaled rotation everywhere
    * (conformality). */
  final class PolarStereographic(
      val ell: Ellipsoid,
      latTsDeg: Double, // standard parallel (signed; negative = south aspect)
      lon0Deg: Double,
      falseE: Double, falseN: Double,
      k0Pole: Option[Double] = None) extends Projection {
    private val E = ell.e
    private val South = latTsDeg < 0
    private val Lon0 = math.toRadians(lon0Deg)
    private val Coef = k0Pole match {
      case Some(k0) =>
        require(k0 > 0, s"polar stereographic variant A: k0 $k0 must be positive")
        2.0 * k0 / math.sqrt(math.pow(1.0 + E, 1.0 + E) * math.pow(1.0 - E, 1.0 - E))
      case None =>
        val phiTs = math.toRadians(math.abs(latTsDeg))
        val mTs = ell.m(phiTs)
        require(mTs > 1e-12,
          s"polar stereographic variant B: standard parallel $latTsDeg is at the pole " +
            "(m(ts) = 0, the form degenerates to 0/0) — a scale-at-pole file is " +
            "variant A; construct with k0Pole instead")
        mTs / ell.t(phiTs)
    }

    def forward(lon: Double, lat: Double): (Double, Double) = {
      val lam0 = math.toRadians(lon) - Lon0
      val phi0 = if (South) -math.toRadians(lat) else math.toRadians(lat)
      val rho = ell.a * Coef * ell.t(phi0)
      val x = rho * math.sin(lam0)
      val y = -rho * math.cos(lam0)
      (falseE + x, falseN + (if (South) -y else y))
    }

    def inverse(x: Double, y: Double): (Double, Double) = {
      val dx = x - falseE
      val dyRaw = y - falseN
      val dy = if (South) -dyRaw else dyRaw
      val rho = math.hypot(dx, dy)
      if (rho < 1e-12) return (lon0Deg, if (South) -90.0 else 90.0) // pole: lon arbitrary
      val tP = rho / (ell.a * Coef)
      val lam = math.atan2(dx, -dy)
      val phi = ell.phiFromT(tP)
      val lonOut = normalizeLon(math.toDegrees(Lon0 + lam))
      if (South) (lonOut, -math.toDegrees(phi)) else (lonOut, math.toDegrees(phi))
    }
  }

  // ------------------------------------------- the one entry point ---
  /** The source CRS of a DEM, the reference's get_transform. A non-empty
    * user-defined `spec` wins over `epsg`; `None` is EPSG:4326, the
    * identity, as the reference's get_transform returns None for matching
    * authorities. Instances are memoized per code and per spec per JVM, so
    * per-point callers never re-derive series coefficients. */
  def projection(epsg: Int, spec: String = ""): Option[Projection] =
    if (spec.nonEmpty) Some(specCache.computeIfAbsent(spec, s => parseSpec(s)))
    else epsgCache.computeIfAbsent(epsg, e => epsgTable(e))

  private val epsgCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Option[Projection]]()
  private val specCache =
    new java.util.concurrent.ConcurrentHashMap[String, Projection]()

  /** UTM zone `zone` (1..60) on `ell`. */
  private def utm(ell: Ellipsoid, zone: Int, falseN: Double): Projection =
    new TransverseMercator(ell, 0.9996, -183.0 + 6.0 * zone, 0.0, 500000.0, falseN)

  /** The EPSG table. Every datum but OSGB36 is treated as coincident with
    * WGS84: ETRS89 (~0.8 m by plate motion), NAD83 (~1.5 m), RGF93 (cm),
    * NZGD2000 and GDA94 drift below a DEM cell at any product resolution
    * >= 2 m, the same null transform PROJ applies absent an explicit epoch.
    * British National Grid shows what a real (multi-meter) shift looks
    * like here. */
  private def epsgTable(epsg: Int): Option[Projection] = epsg match {
    case 4326 => None
    case 3857 => Some(WebMercator)
    case z if z >= 32601 && z <= 32660 => Some(utm(Wgs84, z - 32600, 0.0)) // WGS84 / UTM N
    case z if z >= 32701 && z <= 32760 => Some(utm(Wgs84, z - 32700, 10000000.0)) // and S
    case z if z >= 25828 && z <= 25838 => Some(utm(Grs80, z - 25800, 0.0)) // ETRS89 / UTM 28-38N
    case z if z >= 26901 && z <= 26923 => Some(utm(Grs80, z - 26900, 0.0)) // NAD83 / UTM 1-23N
    case 2193 => // NZGD2000 / New Zealand TM (the LINZ national DEM grid)
      Some(new TransverseMercator(Grs80, 0.9996, 173.0, 0.0, 1600000.0, 10000000.0))
    case 27700 => Some(BritishNationalGrid)
    case 2154 => // RGF93 / Lambert-93 (IGN RGE ALTI lidar DEMs)
      Some(new LambertConformal2SP(Grs80, 46.5, 3.0, 44.0, 49.0, 700000.0, 6600000.0))
    case 3035 => // ETRS89-extended / LAEA Europe (EU-DEM, Copernicus)
      Some(new LambertAzimuthalEqualArea(Grs80, 52.0, 10.0, 4321000.0, 3210000.0))
    case 5070 => // NAD83 / Conus Albers (USGS 3DEP/NED)
      Some(new AlbersEqualAreaConic(Grs80, 23.0, -96.0, 29.5, 45.5, 0.0, 0.0))
    case 3577 => // GDA94 / Australian Albers (cone constant n < 0)
      Some(new AlbersEqualAreaConic(Grs80, 0.0, 132.0, -18.0, -36.0, 0.0, 0.0))
    case 3413 => // WGS84 / NSIDC Sea Ice Polar Stereographic North (ArcticDEM)
      Some(new PolarStereographic(Wgs84, 70.0, -45.0, 0.0, 0.0))
    case 3031 => // WGS84 / Antarctic Polar Stereographic (REMA)
      Some(new PolarStereographic(Wgs84, -71.0, 0.0, 0.0, 0.0))
    case 5041 => // WGS84 / UPS North (E,N): variant A, k0 0.994 at the pole
      Some(new PolarStereographic(Wgs84, 90.0, 0.0, 2000000.0, 2000000.0, Some(0.994)))
    case 5042 => // WGS84 / UPS South (E,N)
      Some(new PolarStereographic(Wgs84, -90.0, 0.0, 2000000.0, 2000000.0, Some(0.994)))
    case other =>
      throw new IllegalArgumentException(
        s"unsupported source CRS EPSG:$other (supported: 4326, 3857, 326xx/327xx UTM, " +
        "258xx ETRS89-UTM, 269xx NAD83-UTM, 3035 LAEA-Europe, 3413/3031 polar stereographic, 5041/5042 UPS, " +
        "2193 NZTM, 2154 Lambert-93, 27700 OSGB, 5070/3577 Albers)")
  }

  // ------------------------- user-defined (GeoKey-parameterized) CRSs ---
  /** A projected CRS given by explicit parameters instead of an EPSG
    * code — the GeoTIFF ProjectedCSTypeGeoKey = 32767 (user-defined)
    * case, where the file carries ProjCoordTrans + origin/scale/false-
    * offset GeoKeys and ellipsoid constants rather than a registry code
    * (reference: pyproj builds the same instance from the GeoKey dict,
    * file.py:132-166). Canonical string form so the spec can ride a
    * Dataset column and serve as a cache key:
    *
    *   "tm:a=6378137;invf=298.257223563;k0=0.9996;lon0=9;lat0=0;fe=500000;fn=0"
    *   "lcc:a=...;invf=...;lat0=...;lon0=...;lat1=...;lat2=...;fe=...;fn=..."
    *   "laea:a=...;invf=...;lat0=...;lon0=...;fe=...;fn=..."
    *   "aea:a=...;invf=...;lat0=...;lon0=...;lat1=...;lat2=...;fe=...;fn=..."
    *   "ps:a=...;invf=...;latts=...;lon0=...;fe=...;fn=..."  (variant B; latts signed; <0 = south)
    *   "ps:a=...;invf=...;k0=...;lat0=...;lon0=...;fe=...;fn=..."  (variant A: scale k0 at the pole, lat0 = +-90 carries the aspect — UPS-style)
    *
    * Datum: treated as WGS84-coincident (GeoKeys carry no transformation
    * parameters; this is pyproj's behavior for +towgs84-less definitions
    * too). */
  def projSpecString(family: String, params: Seq[(String, Double)]): String =
    // Double.toString is locale-independent and round-trips exactly
    family + ":" + params.map { case (k, v) => s"$k=$v" }.mkString(";")

  private def parseSpec(s: String): Projection = {
    val sep = s.indexOf(':')
    require(sep > 0, s"malformed CRS spec '$s'")
    val family = s.substring(0, sep)
    val kv = s.substring(sep + 1).split(';').iterator.map { p =>
      val eq = p.indexOf('=')
      require(eq > 0, s"malformed CRS spec param '$p' in '$s'")
      p.substring(0, eq) -> p.substring(eq + 1).toDouble
    }.toMap
    def need(k: String): Double =
      kv.getOrElse(k, throw new IllegalArgumentException(s"CRS spec '$s' lacks '$k'"))
    val ell = Ellipsoid(need("a"), need("invf"))
    family match {
      case "tm" => new TransverseMercator(ell, need("k0"), need("lon0"), need("lat0"),
        need("fe"), need("fn"))
      case "lcc" => new LambertConformal2SP(ell, need("lat0"), need("lon0"),
        need("lat1"), need("lat2"), need("fe"), need("fn"))
      case "laea" => new LambertAzimuthalEqualArea(ell, need("lat0"), need("lon0"),
        need("fe"), need("fn"))
      case "aea" => new AlbersEqualAreaConic(ell, need("lat0"), need("lon0"),
        need("lat1"), need("lat2"), need("fe"), need("fn"))
      case "ps" => kv.get("k0") match {
        case Some(k0) => // variant A: scale at the pole; lat0 = +-90 carries the aspect
          // the variant-A math (EPSG 9810) is only valid for a natural
          // origin AT the pole — a non-polar lat0 would silently compute
          // scale-at-pole coordinates using only lat0's sign (the same
          // guard the GeoKey path applies via its pole test)
          require(math.abs(math.abs(need("lat0")) - 90.0) < 1e-9,
            s"CRS spec '$s': 'ps' with k0 is polar variant A (EPSG 9810) and needs " +
              "lat0 = +-90; non-polar scale-at-origin files are not this projection")
          new PolarStereographic(ell, need("lat0"), need("lon0"),
            need("fe"), need("fn"), Some(k0))
        case None => new PolarStereographic(ell, need("latts"), need("lon0"),
          need("fe"), need("fn"))
      }
      case other => throw new IllegalArgumentException(
        s"unsupported CRS spec family '$other' (tm/lcc/laea/aea/ps)")
    }
  }

  /** Parse + validate a `--area minLon:minLat:maxLon:maxLat` string.
    * A malformed field count or a non-numeric field fails here with the
    * expected format in the message instead of surfacing as a MatchError
    * deep inside an executor task. */
  def parseArea(area: String): (Double, Double, Double, Double) = {
    val f = area.split(":")
    require(f.length == 4,
      s"--area must be minLon:minLat:maxLon:maxLat, got '$area' (${f.length} fields)")
    val v = f.map { s =>
      try s.toDouble
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"--area must be minLon:minLat:maxLon:maxLat, got non-numeric field '$s' in '$area'")
      }
    }
    (v(0), v(1), v(2), v(3))
  }

  /** The `--area` rect as a packed 4-vertex WGS84 ring — the clip-polygon
    * form non-axis-separable sources use (their grid cannot be cropped by
    * index on a lon/lat rect, so the rect becomes a mask polygon through
    * the same densify-reproject path as --poly; strictly better than the
    * reference's corner-only reverseTransform in truncate_data
    * (file.py:580-587), which under/over-covers under meridian
    * convergence). */
  def areaRectPolygon(area: String): Array[Double] = {
    val (lo0, la0, lo1, la1) = parseArea(area)
    require(lo0 <= lo1,
      "--area across the antimeridian is unsupported for projected sources")
    Array(lo0, la0, lo1, la0, lo1, la1, lo0, la1)
  }

  /** Convert a WGS84 `--area minLon:minLat:maxLon:maxLat` string into an
    * axis-aligned rect in `epsg`'s native coordinates for grid-index
    * truncation (Chop.truncate slices rows/cols, so the crop must be a
    * rect in the FILE's CRS). Exact for axis-separable sources (lon maps
    * only to x, lat only to y); for projected CRSs (TM/LCC/LAEA/polar,
    * where meridian convergence tilts the rect) this returns the native
    * ENVELOPE of the densify-reprojected rect boundary — a superset crop
    * that the cell-level area mask (areaRectPolygon through sliceMask)
    * then trims exactly. Shared by RasterPipeline.tiles and ContourCli so
    * the two surfaces cannot drift. */
  def nativeAreaString(area: String, epsg: Int, spec: String = ""): String =
    projection(epsg, spec) match {
      case None =>
        parseArea(area) // validate even when passed through untouched
        area
      case Some(p) =>
        val (lo0, la0, lo1, la1) = parseArea(area)
        require(lo0 <= lo1,
          "--area across the antimeridian is unsupported for projected sources")
        if (p.axisSeparable) {
          val (x0, y0) = p.forward(lo0, la0)
          val (x1, y1) = p.forward(lo1, la1)
          s"$x0:$y0:$x1:$y1"
        } else {
          val ring = densifyReproject(areaRectPolygon(area), p.forward)
          var minX = Double.MaxValue; var minY = Double.MaxValue
          var maxX = Double.MinValue; var maxY = Double.MinValue
          var i = 0
          while (i < ring.length) {
            if (ring(i) < minX) minX = ring(i)
            if (ring(i) > maxX) maxX = ring(i)
            if (ring(i + 1) < minY) minY = ring(i + 1)
            if (ring(i + 1) > maxY) maxY = ring(i + 1)
            i += 2
          }
          // pad by 1 m: the sampled boundary can under-cover the true
          // envelope by the chord sagitta (~2.4 cm at the 0.01-degree
          // densify step) — the pad keeps the crop a strict superset, and
          // the exact area mask trims it back to the rect
          s"${minX - 1.0}:${minY - 1.0}:${maxX + 1.0}:${maxY + 1.0}"
        }
    }

  /** Bbox transform WITHOUT the aligned-rectangle requirement: the
    * envelope over the transformed BOUNDARY, sampled at `samplesPerEdge`
    * interior points per edge in addition to the four corners. For
    * axis-separable CRSs (identity, web Mercator) the corner envelope is
    * already exact; for transverse Mercator — where meridian convergence tilts
    * the rectangle and the strict form (the reference's refusal
    * semantics) would reject the tile — a coordinate extreme can sit
    * MID-EDGE (a UTM tile spanning easting 500000 has its latitude
    * extreme at the central meridian, ~100 m / ~1e-3 deg past the corner
    * values), so corners alone under-cover. Conformal projections map
    * extrema of smooth coordinates to the boundary, so edge sampling at
    * this density bounds the residual under-coverage below ~1e-7 deg for
    * zone-scale tiles. NOTE: that bound is a residual, not zero — the
    * sampled envelope can still under-cover between samples by up to
    * ~[[EnvelopeResidualDeg]]. Fine for the current callers (output
    * naming / metadata bboxes); a caller that needs STRICT containment
    * must pass `pad = Crs.EnvelopeResidualDeg` (outward pad in output
    * units) rather than relying on sampling density. */
  val EnvelopeResidualDeg: Double = 1e-7

  def envelopeBBox(
      b: BBox,
      f: (Double, Double) => (Double, Double),
      samplesPerEdge: Int = 8,
      pad: Double = 0.0): BBox = {
    val k = samplesPerEdge + 1
    val pts = (0 to k).flatMap { i =>
      val tx = b.minLon + (b.maxLon - b.minLon) * i / k
      val ty = b.minLat + (b.maxLat - b.minLat) * i / k
      Seq(f(tx, b.minLat), f(tx, b.maxLat), f(b.minLon, ty), f(b.maxLon, ty))
    }
    BBox(pts.map(_._1).min - pad, pts.map(_._2).min - pad,
      pts.map(_._1).max + pad, pts.map(_._2).max + pad)
  }

  /** Reproject a packed [lon0,lat0,lon1,lat1,...] WGS84 polygon ring into
    * a projected CRS for native-grid masking, densifying each edge so the
    * projected polyline tracks the true (curved) image of the straight
    * lon/lat edge. Straight lon/lat segments map to curves under TM/LCC;
    * vertex-only reprojection would cut corners by up to the sagitta
    * ~L²/(8R) of the chord — densifying to `maxStepDeg` (default 0.01°,
    * ~1.1 km) bounds the error well under a meter, i.e. below one DEM
    * cell. Cost is O(perimeter/step) on the small broadcast polygon —
    * the grid itself never reprojects (the reference transforms the
    * whole meshgrid instead: file.py:310-365; at 100 TB of rasters the
    * polygon is the side to move). */
  def densifyReproject(
      poly: Array[Double],
      fwd: (Double, Double) => (Double, Double),
      maxStepDeg: Double = 0.01): Array[Double] = {
    require(poly.length >= 6 && poly.length % 2 == 0, "packed ring of >= 3 points")
    val out = scala.collection.mutable.ArrayBuilder.make[Double]
    val nPts = poly.length / 2
    var i = 0
    while (i < nPts) {
      val (x0, y0) = (poly(2 * i), poly(2 * i + 1))
      val j = (i + 1) % nPts
      val (x1, y1) = (poly(2 * j), poly(2 * j + 1))
      val steps = math.max(1,
        math.ceil(math.max(math.abs(x1 - x0), math.abs(y1 - y0)) / maxStepDeg).toInt)
      var s = 0
      while (s < steps) { // emit [p_i, p_{i+1}) — the next edge emits p_{i+1}
        val t = s.toDouble / steps
        val (px, py) = fwd(x0 + (x1 - x0) * t, y0 + (y1 - y0) * t)
        out += px += py
        s += 1
      }
      i += 1
    }
    out.result()
  }

  /** Transform a packed [x0,y0,x1,y1,...] path in place semantics-free
    * (returns a new array). */
  def transformPath(path: Array[Double], f: (Double, Double) => (Double, Double)): Array[Double] = {
    val out = new Array[Double](path.length)
    var i = 0
    while (i < path.length) {
      val (lon, lat) = f(path(i), path(i + 1))
      out(i) = lon
      out(i + 1) = lat
      i += 2
    }
    out
  }
}
