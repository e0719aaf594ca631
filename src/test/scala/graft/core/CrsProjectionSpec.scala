package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** `Crs.projection`, table-driven: every EPSG code and spec family it
  * accepts closes forward∘inverse at a point inside its area of use, maps
  * its natural origin to its false origin (the EPSG registry definition,
  * which shares no formula with the series), and reports `axisSeparable`
  * exactly where a sampled numeric check finds it. */
class CrsProjectionSpec extends AnyFunSuite {

  /** (code, a point inside its area of use, (origin lon, lat) -> (FE, FN)).
    * British National Grid has no origin row: its origin is defined on
    * OSGB36, which sits ~100 m from WGS84 there. */
  private val codes: Seq[(Int, (Double, Double), Option[((Double, Double), (Double, Double))])] = Seq(
    (3857, (6.0, 43.0), Some(((0.0, 0.0), (0.0, 0.0)))),
    (32601, (-177.5, 10.0), Some(((-177.0, 0.0), (500000.0, 0.0)))),
    (32632, (9.3, 47.0), Some(((9.0, 0.0), (500000.0, 0.0)))),
    (32660, (177.5, 10.0), Some(((177.0, 0.0), (500000.0, 0.0)))),
    (32701, (-177.5, -10.0), Some(((-177.0, 0.0), (500000.0, 10000000.0)))),
    (32760, (177.5, -10.0), Some(((177.0, 0.0), (500000.0, 10000000.0)))),
    (25828, (-15.5, 64.0), Some(((-15.0, 0.0), (500000.0, 0.0)))),
    (25838, (45.5, 50.0), Some(((45.0, 0.0), (500000.0, 0.0)))),
    (26901, (-177.5, 52.0), Some(((-177.0, 0.0), (500000.0, 0.0)))),
    (26923, (-45.5, 62.0), Some(((-45.0, 0.0), (500000.0, 0.0)))),
    (2193, (174.76, -36.85), Some(((173.0, 0.0), (1600000.0, 10000000.0)))),
    (27700, (-1.5, 52.5), None),
    (2154, (2.35, 48.85), Some(((3.0, 46.5), (700000.0, 6600000.0)))),
    (3035, (6.5, 43.5), Some(((10.0, 52.0), (4321000.0, 3210000.0)))),
    (5070, (-96.5, 38.5), Some(((-96.0, 23.0), (0.0, 0.0)))),
    (3577, (133.9, -23.7), Some(((132.0, 0.0), (0.0, 0.0)))),
    (3413, (-50.0, 72.0), Some(((-45.0, 90.0), (0.0, 0.0)))),
    (3031, (45.0, -77.0), Some(((0.0, -90.0), (0.0, 0.0)))),
    (5041, (45.0, 87.0), Some(((0.0, 90.0), (2000000.0, 2000000.0)))),
    (5042, (-120.0, -85.0), Some(((0.0, -90.0), (2000000.0, 2000000.0)))))

  /** Round-trip bound in degrees, as the per-family specs set it: web
    * Mercator's in GeoTiffSpec, British National Grid's h=0 closure bound
    * in CrsOsgbSpec, sub-nanodegree for the rest. */
  private val closure = Map(3857 -> 1e-9, 27700 -> 5e-8).withDefaultValue(1e-10)

  private def spec(family: String, ps: (String, Double)*): String =
    Crs.projSpecString(family, Seq("a" -> 6378137.0, "invf" -> 298.257222101) ++ ps)

  /** (family, spec, a point inside its area of use). */
  private val specs = Seq(
    ("tm", spec("tm", "k0" -> 0.9996, "lon0" -> 9.0, "lat0" -> 0.0, "fe" -> 500000.0, "fn" -> 0.0),
      (9.3, 47.0)),
    ("lcc", spec("lcc", "lat0" -> 46.5, "lon0" -> 3.0, "lat1" -> 44.0, "lat2" -> 49.0,
      "fe" -> 700000.0, "fn" -> 6600000.0), (2.35, 48.85)),
    ("laea", spec("laea", "lat0" -> 52.0, "lon0" -> 10.0, "fe" -> 4321000.0, "fn" -> 3210000.0),
      (6.5, 43.5)),
    ("aea", spec("aea", "lat0" -> 23.0, "lon0" -> -96.0, "lat1" -> 29.5, "lat2" -> 45.5,
      "fe" -> 0.0, "fn" -> 0.0), (-96.5, 38.5)),
    ("ps variant A", spec("ps", "k0" -> 0.994, "lat0" -> 90.0, "lon0" -> 0.0,
      "fe" -> 2000000.0, "fn" -> 2000000.0), (45.0, 87.0)),
    ("ps variant B", spec("ps", "latts" -> -71.0, "lon0" -> 0.0, "fe" -> 0.0, "fn" -> 0.0),
      (45.0, -77.0)))

  /** Inverse lon does not move with y, nor inverse lat with x, over a
    * 10 km step from the point's image. */
  private def numericallySeparable(p: Crs.Projection, lon: Double, lat: Double): Boolean = {
    val (x, y) = p.forward(lon, lat)
    val (lo0, la0) = p.inverse(x, y)
    val (_, laX) = p.inverse(x + 10000.0, y)
    val (loY, _) = p.inverse(x, y + 10000.0)
    math.abs(laX - la0) < 1e-12 && math.abs(loY - lo0) < 1e-12
  }

  private def closes(what: String, p: Crs.Projection, lon: Double, lat: Double,
      tol: Double = 1e-10): Unit = {
    val (x, y) = p.forward(lon, lat)
    val (lo2, la2) = p.inverse(x, y)
    assert(math.abs(lo2 - lon) < tol && math.abs(la2 - lat) < tol,
      s"$what: ($lon, $lat) -> ($x, $y) -> ($lo2, $la2)")
    assert(p.axisSeparable == numericallySeparable(p, lon, lat), s"$what: axisSeparable")
  }

  test("every EPSG code and spec family closes, anchors its origin and reports separability") {
    assert(Crs.projection(4326).isEmpty)
    codes.foreach { case (code, (lon, lat), origin) =>
      val p = Crs.projection(code).get
      closes(s"EPSG:$code", p, lon, lat, closure(code))
      origin.foreach { case ((lo0, la0), (fe, fn)) =>
        val (x, y) = p.forward(lo0, la0)
        assert(math.abs(x - fe) < 1e-6 && math.abs(y - fn) < 1e-6,
          s"EPSG:$code: origin ($lo0, $la0) -> ($x, $y), want ($fe, $fn)")
      }
    }
    assert(codes.map(_._1).filter(Crs.projection(_).get.axisSeparable) == Seq(3857))
    specs.foreach { case (family, s, (lon, lat)) =>
      closes(family, Crs.projection(32767, s).get, lon, lat)
      // a spec wins over the code beside it
      assert(Crs.projection(4326, s).contains(Crs.projection(32767, s).get), family)
    }
    for (code <- Seq(2056, 29902)) {
      val e = intercept[IllegalArgumentException](Crs.projection(code))
      assert(e.getMessage.contains(s"EPSG:$code"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](Crs.projection(4326, "tm;k0=1"))
    assert(e.getMessage.contains("malformed CRS spec 'tm;k0=1'"), e.getMessage)
  }
}
