package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** GeoTIFF input (S2/S4) + CRS transform (F10) against the reference's
  * own fixtures: N43E006.tiff (EPSG:4326, equivalent to the HGT fixture)
  * and N43E006_3857.tiff (web-Mercator reprojection of the same tile).
  * Reference: tests/hgt/test_tile.py:94-128 (tiff goldens equal hgt
  * goldens), pyhgtmap/hgt/file.py:169-242 (bbox math). */
class GeoTiffSpec extends AnyFunSuite {
  import TiffFixtures.buildTiff

  private val hgtPath = "/root/reference/tests/data/N43E006.hgt"
  private val tifPath = "/root/reference/tests/data/N43E006.tiff"
  private val mercPath = "/root/reference/tests/data/N43E006_3857.tiff"
  private def available = Files.exists(Paths.get(tifPath))

  test("4326 tiff decodes to the same grid as the hgt fixture") {
    assume(available)
    val t = Tiff.decode(Files.readAllBytes(Paths.get(tifPath)))
    val h = Hgt.decode(Files.readAllBytes(Paths.get(hgtPath)))
    assert(t.epsg == 4326)
    assert(t.grid.rows == 1201 && t.grid.cols == 1201)
    assert(t.nodata.contains(-32768.0))
    val b = t.bbox
    assert(math.abs(b.minLon - 6.0) < 1e-6 && math.abs(b.maxLon - 7.0) < 1e-6)
    assert(math.abs(b.minLat - 43.0) < 1e-6 && math.abs(b.maxLat - 44.0) < 1e-6)
    assert(t.grid.values.sameElements(h.values))
  }

  test("4326 tiff through the pipeline reproduces the Toulon goldens") {
    assume(available)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("tiff-golden")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import graft.engine.RasterPipeline
    val cfg = JobConfig(
      contourStepSize = 20, maxNodesPerWay = 0, rdpEpsilon = None, maxNodesPerTile = 0)
    val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(tifPath), cfg), cfg)
    val rows = cs.collect()
    assert(rows.map(_.nbNodes.toLong).sum == 1264395L)
    assert(rows.length == 10798)
    assert(rows.count(_.elevation == 20) == 145)
    assert(rows.count(_.elevation == 1920) == 1)
  }

  test("3857 tiff: bbox reprojects onto the 1x1 degree tile") {
    assume(Files.exists(Paths.get(mercPath)))
    val t = Tiff.decode(Files.readAllBytes(Paths.get(mercPath)))
    assert(t.epsg == 3857)
    val b = t.bbox
    val (minLon, minLat) = Crs.projection(3857).get.inverse(b.minLon, b.minLat)
    val (maxLon, maxLat) = Crs.projection(3857).get.inverse(b.maxLon, b.maxLat)
    // reprojected pixel-center bbox lands on the tile within half a pixel
    assert(math.abs(minLon - 6.0) < 0.001 && math.abs(maxLon - 7.0) < 0.001)
    assert(math.abs(minLat - 43.0) < 0.001 && math.abs(maxLat - 44.0) < 0.001)
  }

  test("3857 tiff traces contours in WGS84 coordinates") {
    assume(Files.exists(Paths.get(mercPath)))
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("tiff-3857")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import graft.engine.RasterPipeline
    // coarse step: this is a projection/plumbing check, not a volume test
    val cfg = JobConfig(
      contourStepSize = 500, maxNodesPerWay = 0, rdpEpsilon = None, maxNodesPerTile = 0)
    val cs = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(mercPath), cfg), cfg)
    val rows = cs.collect()
    assert(rows.nonEmpty)
    // every output coordinate must already be lon/lat, not meters
    rows.foreach { r =>
      assert(r.minLon > 5.9 && r.maxLon < 7.1 && r.minLat > 42.9 && r.maxLat < 44.1,
        s"row bbox not reprojected: ${(r.minLon, r.minLat, r.maxLon, r.maxLat)}")
      var i = 0
      while (i < r.coords.length) {
        assert(r.coords(i) > 5.9 && r.coords(i) < 7.1, s"lon ${r.coords(i)}")
        assert(r.coords(i + 1) > 42.9 && r.coords(i + 1) < 44.1, s"lat ${r.coords(i + 1)}")
        i += 2
      }
    }
    // the full landscape exists in this tile (elev range ~ -12..1923)
    assert(rows.map(_.elevation).distinct.sorted.toSeq == Seq(0, 500, 1000, 1500))
  }

  /** Projected-DEM pipeline e2e shared by the UTM and Lambert-93 twins:
    * build a uniform grid in projected meters (the way national lidar
    * products ship) carrying the REAL N43E006 terrain sampled
    * nearest-neighbour at each cell's back-projected lon/lat, encode it
    * as a GeoTIFF with the given EPSG, and require the traced contours to
    * come out reprojected to lon/lat inside the sampled window. */
  private lazy val toulonGrid =
    Hgt.decode(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(hgtPath)))

  /** Nearest-neighbour sample of the real N43E006 terrain at (lon, lat). */
  private def sampleToulon(lon: Double, lat: Double): Float = {
    val hr = math.max(0, math.min(1200, math.round((44.0 - lat) * 1200.0).toInt))
    val hc = math.max(0, math.min(1200, math.round((lon - 6.0) * 1200.0).toInt))
    toulonGrid.values(hr * 1201 + hc).toFloat
  }

  /** Build the projected Toulon-window fixture (real terrain re-gridded
    * uniformly in projected meters, the way national lidar ships) and
    * return its temp path. */
  private def projectedToulonTiff(
      name: String, epsg: Int,
      fwd: (Double, Double) => (Double, Double),
      inv: (Double, Double) => (Double, Double)): (String, Float) = {
    val (lo0, la0, lo1, la1) = (6.2, 43.2, 6.8, 43.8)
    val corners = Seq((lo0, la0), (lo0, la1), (lo1, la1), (lo1, la0)).map(fwd.tupled)
    // projected rect whose every cell back-projects INSIDE the sampled
    // lon/lat window: start from the corner bbox and shrink about its
    // center until all boundary samples land inside. Mildly-rotated
    // grids (UTM convergence ~2 deg) shrink a little; a polar grid at
    // this longitude is rotated ~50 deg vs lon/lat and shrinks a lot —
    // without this, out-of-window cells clamp to edge terrain and trace
    // contours outside the assertion window
    val cx0 = corners.map(_._1).min; val cx1 = corners.map(_._1).max
    val cy0 = corners.map(_._2).min; val cy1 = corners.map(_._2).max
    val ctrX = (cx0 + cx1) / 2; val ctrY = (cy0 + cy1) / 2
    def rectAt(s: Double) = (ctrX - (ctrX - cx0) * s, ctrY - (ctrY - cy0) * s,
      ctrX + (cx1 - ctrX) * s, ctrY + (cy1 - ctrY) * s)
    def boundaryInside(s: Double): Boolean = {
      val (x0, y0, x1, y1) = rectAt(s)
      (0 to 40).forall { i =>
        val t = i / 40.0
        Seq((x0 + (x1 - x0) * t, y0), (x0 + (x1 - x0) * t, y1),
          (x0, y0 + (y1 - y0) * t), (x1, y0 + (y1 - y0) * t)).forall { case (x, y) =>
          val (lo, la) = inv(x, y)
          lo >= lo0 + 1e-3 && lo <= lo1 - 1e-3 && la >= la0 + 1e-3 && la <= la1 - 1e-3
        }
      }
    }
    var shrink = 1.0
    while (!boundaryInside(shrink) && shrink > 0.05) shrink *= 0.9
    val (minX, minY, maxX, maxY) = rectAt(shrink)
    val rows = 301; val cols = 301
    val dx = (maxX - minX) / (cols - 1)
    val dy = (maxY - minY) / (rows - 1)
    val vals = Array.tabulate(rows * cols) { k =>
      val r = k / cols; val c = k % cols
      val (lon, lat) = inv(minX + c * dx, maxY - r * dy)
      sampleToulon(lon, lat)
    }
    val bytes = buildTiff(rows, cols, vals, compression = 8, predictor = 2, tiled = false,
      epsg = epsg, pixScale = (dx, dy), tiePoint = (minX, maxY))
    val t = Tiff.decode(bytes)
    assert(t.epsg == epsg)
    val tmp = java.nio.file.Files.createTempFile(name, ".tiff")
    java.nio.file.Files.write(tmp, bytes)
    (tmp.toString, vals.max)
  }

  private def projectedToulonE2e(
      name: String, epsg: Int,
      fwd: (Double, Double) => (Double, Double),
      inv: (Double, Double) => (Double, Double)): Unit = {
    val (tmp, maxElev) = projectedToulonTiff(name, epsg, fwd, inv)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName(s"tiff-$name")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import graft.engine.RasterPipeline
    val cfg = JobConfig(
      contourStepSize = 500, maxNodesPerWay = 0, rdpEpsilon = None, maxNodesPerTile = 0)
    val rs = RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(tmp), cfg), cfg)
      .collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      assert(r.minLon > 6.1 && r.maxLon < 6.9 && r.minLat > 43.1 && r.maxLat < 43.9,
        s"row bbox not reprojected: ${(r.minLon, r.minLat, r.maxLon, r.maxLat)}")
      var i = 0
      while (i < r.coords.length) {
        assert(r.coords(i) > 6.1 && r.coords(i) < 6.9, s"lon ${r.coords(i)}")
        assert(r.coords(i + 1) > 43.1 && r.coords(i + 1) < 43.9, s"lat ${r.coords(i + 1)}")
        i += 2
      }
    }
    // every coarse level the fixture's own terrain reaches appears (the
    // heavily-rotated grids shrink their window and may cut the 1500 m
    // peak near the window edge — the expectation follows the fixture)
    val expected = (0 to (maxElev / 500).toInt).map(_ * 500)
    assert(expected.length >= 3, s"window shrank below useful terrain: max $maxElev")
    assert(rs.map(_.elevation).distinct.sorted.toSeq == expected,
      s"levels vs fixture max $maxElev")
  }

  test("UTM 32N tiff (real Toulon terrain re-gridded) traces contours in WGS84") {
    assume(available)
    projectedToulonE2e("utm_toulon", 32632,
      (lo, la) => Crs.projection(32632).get.forward(lo, la),
      (x, y) => Crs.projection(32632).get.inverse(x, y))
  }

  test("Lambert-93 tiff (real Toulon terrain re-gridded) traces contours in WGS84") {
    assume(available)
    projectedToulonE2e("lcc_toulon", 2154, Crs.projection(2154).get.forward, Crs.projection(2154).get.inverse)
  }

  test("OSGB 27700 tiff traces contours in WGS84 (generalized TM + Helmert datum path)") {
    assume(available)
    // the grid is synthetic "as-if" 27700 over the Toulon window (real
    // OSGB tiles would carry GB terrain); what the twin proves is the
    // parameterized-TM + datum-shift dispatch end to end: lat0 != 0,
    // Airy ellipsoid, and a non-null Helmert on BOTH directions
    projectedToulonE2e("osgb_toulon", 27700, Crs.projection(27700).get.forward, Crs.projection(27700).get.inverse)
  }

  test("ETRS89 UTM 25832 tiff traces contours in WGS84 (GRS80 TM instance)") {
    assume(available)
    projectedToulonE2e("etrs_toulon", 25832,
      (lo, la) => Crs.projection(25832).get.forward(lo, la),
      (x, y) => Crs.projection(25832).get.inverse(x, y))
  }

  test("LAEA 3035 tiff traces contours in WGS84 (equal-area family e2e)") {
    assume(available)
    projectedToulonE2e("laea_toulon", 3035,
      (lo, la) => Crs.projection(3035).get.forward(lo, la),
      (x, y) => Crs.projection(3035).get.inverse(x, y))
  }

  test("Conus Albers 5070 tiff traces contours in WGS84 (equal-area conic e2e)") {
    assume(available)
    // synthetic "as-if" 5070 over the Toulon window (real 5070 tiles carry
    // US terrain): proves the Albers family dispatch end to end at 102°
    // from the central meridian — the maximal-rotation regime
    projectedToulonE2e("albers_toulon", 5070,
      (lo, la) => Crs.projection(5070).get.forward(lo, la),
      (x, y) => Crs.projection(5070).get.inverse(x, y))
  }

  test("polar stereographic 3413 tiff traces contours in WGS84 (ArcticDEM grid e2e)") {
    assume(available)
    // Toulon at 43N is far from the 70N true-scale parallel but well
    // inside the projection's bijective domain — the same fixture recipe
    // exercises the steep-distortion regime the polar grids hit at their
    // coverage edge
    projectedToulonE2e("polar_toulon", 3413,
      (lo, la) => Crs.projection(3413).get.forward(lo, la),
      (x, y) => Crs.projection(3413).get.inverse(x, y))
  }

  test("--area truncates a 3857 source through the per-axis transform") {
    assume(Files.exists(Paths.get(mercPath)))
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("tiff-3857-area")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import graft.engine.RasterPipeline
    val cfg = JobConfig(contourStepSize = 500, maxNodesPerWay = 0, rdpEpsilon = None,
      maxNodesPerTile = 0, area = Some("6.3:43.3:6.7:43.7"))
    val rows = RasterPipeline.contours(
      RasterPipeline.tiles(spark, Seq(mercPath), cfg), cfg).collect()
    assert(rows.nonEmpty)
    val tol = 0.01 // one coarse cell
    rows.foreach { r =>
      assert(r.minLon > 6.3 - tol && r.maxLon < 6.7 + tol, s"${(r.minLon, r.maxLon)}")
      assert(r.minLat > 43.3 - tol && r.maxLat < 43.7 + tol, s"${(r.minLat, r.maxLat)}")
    }
    // a malformed area string fails with the expected format in the message
    val bad = intercept[IllegalArgumentException](Crs.nativeAreaString("6.3:43.3:6.7", 3857))
    assert(bad.getMessage.contains("minLon:minLat:maxLon:maxLat"), bad.getMessage)
  }

  test("--area on a projected (UTM) source equals the same rect passed as --poly") {
    assume(available)
    // reference parity with BETTER semantics: file.py:580-587 accepts
    // --area on any CRS via a corner-only reverseTransform that under/
    // over-covers under meridian convergence; here the WGS84 rect rides
    // the densify-reproject clip-polygon path, so the area mask is
    // cell-exact. The pinning invariant: --area == the identical rect as
    // a clip polygon, row for row.
    val (utmPath, _) = projectedToulonTiff("utm_area", 32632,
      (lo, la) => Crs.projection(32632).get.forward(lo, la),
      (x, y) => Crs.projection(32632).get.inverse(x, y))
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("tiff-utm-area")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import graft.engine.RasterPipeline
    val base = JobConfig(
      contourStepSize = 100, maxNodesPerWay = 0, rdpEpsilon = None, maxNodesPerTile = 0)
    def run(cfg: JobConfig) =
      RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(utmPath), cfg), cfg)
        .collect().sortBy(r => (r.elevation, r.pathIdx))
    val rect = (6.35, 43.35, 6.65, 43.65)
    val viaArea = run(base.copy(area = Some("6.35:43.35:6.65:43.65")))
    val viaPoly = run(base.copy(polygons = Some(Seq(Array(
      rect._1, rect._2, rect._3, rect._2, rect._3, rect._4, rect._1, rect._4)))))
    val plain = run(base)
    assert(viaArea.nonEmpty)
    // the area genuinely prunes vs the unclipped run
    assert(viaArea.map(_.nbNodes.toLong).sum < plain.map(_.nbNodes.toLong).sum / 2)
    // and matches the clip-polygon twin exactly (same machinery underneath)
    assert(viaArea.length == viaPoly.length)
    viaArea.zip(viaPoly).foreach { case (a, p) =>
      assert(a.elevation == p.elevation && a.nbNodes == p.nbNodes)
      // the area path traces from the truncated window's origin, the poly
      // path from the full grid's — same cells, different float base, so
      // lattice coordinates agree to ulps, not bit-exactly
      assert(a.coords.length == p.coords.length, s"path length at level ${a.elevation}")
      a.coords.zip(p.coords).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"coords diverge at level ${a.elevation}: $x vs $y")
      }
    }
    // every traced coordinate stays within one coarse cell of the rect
    val tol = 0.005
    viaArea.foreach { r =>
      var i = 0
      while (i < r.coords.length) {
        assert(r.coords(i) >= rect._1 - tol && r.coords(i) <= rect._3 + tol, s"lon ${r.coords(i)}")
        assert(r.coords(i + 1) >= rect._2 - tol && r.coords(i + 1) <= rect._4 + tol, s"lat ${r.coords(i + 1)}")
        i += 2
      }
    }
    // CLI twin: ContourCli accepts --area on the UTM source through the
    // same shared helpers and reports the same node total
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.ContourCli.main(Array(utmPath, "--step", "100", "--max-nodes-per-tile", "0",
        "--max-nodes-per-way", "0", "--area", "6.35:43.35:6.65:43.65"))
    }
    val total = buf.toString("UTF-8").linesIterator.find(_.startsWith("total:")).get
    val cliNodes = total.split(",")(1).trim.split(" ")(0).toLong
    assert(cliNodes == viaArea.map(_.nbNodes.toLong).sum, total)
  }

  test("UTM tiff clipped by a sub-tile polygon matches the 4326 twin's clip semantics") {
    assume(available)
    // Projected-CRS clip polygons (reference file.py:310-365 passes a
    // transform into polygon_mask): the UTM source is masked by
    // reprojecting the densified polygon into grid meters, the 4326 twin
    // by the classic lon/lat path. Same terrain, same polygon, two CRSs —
    // the clip semantics must agree: identical level sets, per-level node
    // mass within regridding tolerance, all coordinates confined.
    val fwd: (Double, Double) => (Double, Double) =
      (lo, la) => Crs.projection(32632).get.forward(lo, la)
    val inv: (Double, Double) => (Double, Double) =
      (x, y) => Crs.projection(32632).get.inverse(x, y)
    val (utmPath, _) = projectedToulonTiff("utm_clip", 32632, fwd, inv)
    // 4326 twin over the same window at the same 301x301 resolution
    val rows = 301; val cols = 301
    val (lo0, la0, lo1, la1) = (6.2, 43.2, 6.8, 43.8)
    val dlon = (lo1 - lo0) / (cols - 1); val dlat = (la1 - la0) / (rows - 1)
    val gVals = Array.tabulate(rows * cols) { k =>
      val r = k / cols; val c = k % cols
      sampleToulon(lo0 + c * dlon, la1 - r * dlat)
    }
    val gBytes = buildTiff(rows, cols, gVals, compression = 8, predictor = 2, tiled = false,
      epsg = 4326, pixScale = (dlon, dlat), tiePoint = (lo0, la1))
    val gTmp = Files.createTempFile("geo_clip", ".tiff")
    Files.write(gTmp, gBytes)
    val poly = Array(6.35, 43.35, 6.65, 43.35, 6.65, 43.65, 6.35, 43.65)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("tiff-clip-twin")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import graft.engine.RasterPipeline
    val base = JobConfig(
      contourStepSize = 100, maxNodesPerWay = 0, rdpEpsilon = None, maxNodesPerTile = 0)
    val cfgPoly = base.copy(polygons = Some(Seq(poly)))
    def run(path: String, cfg: JobConfig) =
      RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(path), cfg), cfg).collect()
    val mUtm = run(utmPath, cfgPoly)
    val mGeo = run(gTmp.toString, cfgPoly)
    val plainUtm = run(utmPath, base)
    assert(mUtm.nonEmpty && mGeo.nonEmpty)
    // the clip genuinely prunes the UTM source
    val plainNodes = plainUtm.map(_.nbNodes.toLong).sum
    val utmNodes = mUtm.map(_.nbNodes.toLong).sum
    assert(utmNodes > 0 && utmNodes < plainNodes / 2, s"$utmNodes vs $plainNodes")
    // every traced UTM coordinate stays within one (coarse) cell of the poly
    val tol = 2 * dlon
    mUtm.foreach { row =>
      var i = 0
      while (i < row.coords.length) {
        assert(row.coords(i) >= 6.35 - tol && row.coords(i) <= 6.65 + tol,
          s"lon ${row.coords(i)} escapes the clip polygon")
        assert(row.coords(i + 1) >= 43.35 - tol && row.coords(i + 1) <= 43.65 + tol,
          s"lat ${row.coords(i + 1)} escapes the clip polygon")
        i += 2
      }
    }
    // same level set, and per-level node mass within regridding tolerance
    // (the two fixtures sample the same terrain on different lattices)
    val byLevelU = mUtm.groupBy(_.elevation).view.mapValues(_.map(_.nbNodes.toLong).sum).toMap
    val byLevelG = mGeo.groupBy(_.elevation).view.mapValues(_.map(_.nbNodes.toLong).sum).toMap
    assert(byLevelU.keySet == byLevelG.keySet,
      s"levels ${byLevelU.keySet.toSeq.sorted} vs ${byLevelG.keySet.toSeq.sorted}")
    byLevelU.foreach { case (lvl, nu) =>
      val ng = byLevelG(lvl)
      val ratio = nu.toDouble / ng
      assert(ratio > 0.7 && ratio < 1.4, s"level $lvl: UTM $nu vs 4326 $ng nodes")
    }
  }

  test("tiled + compressed layouts decode identically to uncompressed strips") {
    val rows = 141; val cols = 133
    val vals = Array.tabulate(rows * cols) { k =>
      if (k % 997 == 0) -32768f else ((k * 37) % 4000 - 500).toFloat
    }
    val base = Tiff.decode(buildTiff(rows, cols, vals, compression = 1, predictor = 1, tiled = false))
    assert(base.grid.rows == rows && base.grid.cols == cols)
    assert(base.epsg == 4326 && base.nodata.contains(-32768.0))
    assert(base.grid.values.zipWithIndex.forall { case (v, k) => v == vals(k).toFloat })
    assert(base.grid.mask != null && base.grid.mask(0) && base.grid.mask(997))
    val variants = Seq(
      ("strip+deflate", buildTiff(rows, cols, vals, 8, 1, tiled = false)),
      ("strip+lzw+pred2", buildTiff(rows, cols, vals, 5, 2, tiled = false, rps = 37)),
      ("tiled+deflate", buildTiff(rows, cols, vals, 8, 1, tiled = true)),
      ("tiled+lzw", buildTiff(rows, cols, vals, 5, 1, tiled = true, tw = 33, th = 29)),
      ("tiled+deflate+pred2", buildTiff(rows, cols, vals, 8, 2, tiled = true, tw = 64, th = 64)),
      ("tiled+uncompressed", buildTiff(rows, cols, vals, 1, 1, tiled = true, tw = 48, th = 31)))
    variants.foreach { case (name, bytes) =>
      val t = Tiff.decode(bytes)
      assert(t.grid.rows == rows && t.grid.cols == cols, name)
      assert(t.grid.values.sameElements(base.grid.values), s"$name: values diverge")
      assert(t.bbox == base.bbox && t.epsg == 4326, name)
      (0 until rows * cols).foreach { k =>
        assert(t.grid.mask(k) == base.grid.mask(k), s"$name: mask diverges at $k")
      }
    }
  }

  test("PackBits, Int32 samples, and the float32 predictor-3 layouts decode") {
    val rows = 141; val cols = 133
    // int16 grid reused for PackBits coverage (runs of nodata compress)
    val vals = Array.tabulate(rows * cols) { k =>
      if (k % 997 == 0) -32768f else if (k % 11 < 4) 1200f else ((k * 37) % 4000 - 500).toFloat
    }
    val base = Tiff.decode(buildTiff(rows, cols, vals, compression = 1, predictor = 1, tiled = false))
    Seq(
      ("strip+packbits", buildTiff(rows, cols, vals, 32773, 1, tiled = false, rps = 37)),
      ("tiled+packbits", buildTiff(rows, cols, vals, 32773, 1, tiled = true, tw = 33, th = 29))
    ).foreach { case (name, bytes) =>
      val t = Tiff.decode(bytes)
      assert(t.grid.values.sameElements(base.grid.values), s"$name: values diverge")
      (0 until rows * cols).foreach { k =>
        assert(t.grid.mask(k) == base.grid.mask(k), s"$name: mask diverges at $k")
      }
    }

    // Int32 samples with values outside the int16 range prove real 32-bit
    // width; predictor 2 now applies to 32-bit integer rows too
    val ivals = Array.tabulate(rows * cols) { k =>
      if (k % 701 == 0) -99999f else ((k * 37) % 40000 - 5000).toFloat
    }
    Seq(
      ("int32 strip uncompressed",
        buildTiff(rows, cols, ivals, 1, 1, tiled = false, bits = 32, sampleFmt = 2,
          nodataTag = "-99999 ")),
      ("int32 tiled deflate pred2",
        buildTiff(rows, cols, ivals, 8, 2, tiled = true, tw = 32, th = 32, bits = 32,
          sampleFmt = 2, nodataTag = "-99999 ")),
      ("int32 strip lzw pred2",
        buildTiff(rows, cols, ivals, 5, 2, tiled = false, rps = 40, bits = 32,
          sampleFmt = 2, nodataTag = "-99999 "))
    ).foreach { case (name, bytes) =>
      val t = Tiff.decode(bytes)
      (0 until rows * cols).foreach { k =>
        assert(t.grid.values(k) == ivals(k), s"$name: value diverges at $k")
        assert(t.grid.mask(k) == (ivals(k) == -99999f), s"$name: mask diverges at $k")
      }
    }

    // float32 + PREDICTOR=3 (TechNote3 byte-plane shuffle + differencing)
    // — the layout GDAL writes for compressed float DEMs; fractional
    // values + NaN voids exercise all four byte planes
    val fvals = Array.tabulate(rows * cols) { k =>
      if (k % 701 == 0) Float.NaN
      else if (k % 997 == 0) -9999f
      else ((k * 37) % 3000) / 8f + (if (k % 3 == 0) 0.125f else 0.0625f)
    }
    Seq(
      ("f32 pred3 strip deflate",
        buildTiff(rows, cols, fvals, 8, 3, tiled = false, rps = 37, bits = 32,
          nodataTag = "-9999 ")),
      ("f32 pred3 tiled deflate",
        buildTiff(rows, cols, fvals, 8, 3, tiled = true, tw = 32, th = 32, bits = 32,
          nodataTag = "-9999 ")),
      ("f32 pred3 tiled lzw bigtiff",
        buildTiff(rows, cols, fvals, 5, 3, tiled = true, tw = 33, th = 29, bits = 32,
          nodataTag = "-9999 ", big = true))
    ).foreach { case (name, bytes) =>
      val t = Tiff.decode(bytes)
      (0 until rows * cols).foreach { k =>
        val v = t.grid.values(k)
        if (fvals(k).isNaN) assert(v.isNaN, s"$name: NaN lost at $k")
        else assert(v == fvals(k), s"$name: value diverges at $k")
        assert(t.grid.mask(k) == (fvals(k).isNaN || fvals(k) == -9999f),
          s"$name: mask diverges at $k")
      }
    }

    // unsupported combos refuse loudly, not silently mis-decode
    val e1 = intercept[IllegalArgumentException] {
      Tiff.decode(buildTiff(rows, cols, vals, 1, 3, tiled = false)) // pred3 on int16
    }
    assert(e1.getMessage.contains("predictor"))
    val e2 = intercept[IllegalArgumentException] {
      Tiff.decode(buildTiff(rows, cols, fvals, 1, 2, tiled = false, bits = 32)) // pred2 on float
    }
    assert(e2.getMessage.contains("predictor"))
  }

  test("BigTIFF (magic 43, 8-byte offsets, LONG8 arrays) decodes identically to classic") {
    val rows = 141; val cols = 133
    val vals = Array.tabulate(rows * cols) { k =>
      if (k % 997 == 0) -32768f else ((k * 37) % 4000 - 500).toFloat
    }
    val base = Tiff.decode(buildTiff(rows, cols, vals, compression = 1, predictor = 1, tiled = false))
    // the layouts ArcticDEM/REMA-style products ship: tiled + compressed
    // BigTIFF (int16 and float32), plus strip variants for coverage
    val variants = Seq(
      ("big strip uncompressed", buildTiff(rows, cols, vals, 1, 1, tiled = false, big = true)),
      ("big strip deflate pred2", buildTiff(rows, cols, vals, 8, 2, tiled = false, rps = 37, big = true)),
      ("big tiled deflate", buildTiff(rows, cols, vals, 8, 1, tiled = true, big = true)),
      ("big tiled lzw", buildTiff(rows, cols, vals, 5, 1, tiled = true, tw = 33, th = 29, big = true)))
    variants.foreach { case (name, bytes) =>
      assert(bytes(2) == 43, name)
      val t = Tiff.decode(bytes)
      assert(t.grid.rows == rows && t.grid.cols == cols, name)
      assert(t.grid.values.sameElements(base.grid.values), s"$name: values diverge")
      assert(t.bbox == base.bbox && t.epsg == 4326, name)
      assert(t.nodata.contains(-32768.0), s"$name: inline BigTIFF nodata string")
      (0 until rows * cols).foreach { k =>
        assert(t.grid.mask(k) == base.grid.mask(k), s"$name: mask diverges at $k")
      }
    }
    // float32 BigTIFF (the actual ArcticDEM sample format)
    val fvals = Array.tabulate(rows * cols)(k => if (k % 701 == 0) -9999f else (k % 3000) / 8f)
    val tf = Tiff.decode(buildTiff(rows, cols, fvals, 8, 1, tiled = true, tw = 32, th = 32,
      bits = 32, nodataTag = "-9999 ", big = true))
    (0 until rows * cols).foreach { k =>
      assert(tf.grid.values(k) == fvals(k))
      assert(tf.grid.mask(k) == (fvals(k) == -9999f))
    }
    // an 8-byte offset beyond the byte array refuses LOUDLY instead of
    // aliasing through .toInt (a >2 GiB BigTIFF can never fit the
    // whole-file reader, so garbage reads here were silent corruption)
    val hostile = buildTiff(rows, cols, vals, 1, 1, tiled = false, big = true)
    val patched = hostile.clone()
    // IFD offset lives at bytes 8..15 (LE): plant 2^33
    java.nio.ByteBuffer.wrap(patched).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putLong(8, 1L << 33)
    val eBig = intercept[IllegalArgumentException](Tiff.decode(patched))
    assert(eBig.getMessage.contains("outside the file"), eBig.getMessage)
    // a TRUNCATED final segment (offset valid, data cut short) must refuse
    // loudly: Arrays.copyOfRange silently ZERO-PADS past the array end —
    // silent zero elevations on a corrupt/hostile file (r7 ADVICE).
    // buildTiff lays segment payloads last, so clipping the tail hits
    // pixel data with the IFD/heaps intact.
    val whole = buildTiff(rows, cols, vals, 1, 1, tiled = false)
    Tiff.decode(whole) // sanity: the intact twin decodes
    val clipped = java.util.Arrays.copyOfRange(whole, 0, whole.length - 8)
    val eTrunc = intercept[IllegalArgumentException](Tiff.decode(clipped))
    assert(eTrunc.getMessage.contains("corrupt TIFF"), eTrunc.getMessage)
  }

  test("a hostile tag count or raster size refuses by name before anything is allocated") {
    val rows = 40; val cols = 36
    val vals = Array.tabulate(rows * cols)(k => ((k * 37) % 4000 - 500).toFloat)
    // classic little-endian IFD at byte 8: a 2-byte entry count, then
    // 12-byte entries of (tag, type, count, value-or-offset)
    def patch(bytes: Array[Byte], tag: Int, field: Int, v: Int): Array[Byte] = {
      val out = bytes.clone()
      val e = (0 until (out(8) & 0xff)).map(10 + 12 * _)
        .find(e => ((out(e) & 0xff) | (out(e + 1) & 0xff) << 8) == tag).get
      (0 until 4).foreach(k => out(e + field + k) = (v >>> (8 * k)).toByte)
      out
    }
    // StripOffsets claims 2^31-1 values while its offset stays inside the
    // file: the count is checked against the bytes present, not allocated
    val strips = buildTiff(rows, cols, vals, 1, 1, tiled = false, rps = 16)
    val eCount = intercept[IllegalArgumentException](Tiff.decode(patch(strips, 273, 4, Int.MaxValue)))
    assert(eCount.getMessage.contains("corrupt TIFF: tag-273 values"), eCount.getMessage)
    // 65,536 x 65,536 in one deflate strip: rows x cols is a Long, checked
    // against the strip's bytes times deflate's limit
    val one = buildTiff(rows, cols, vals, 8, 1, tiled = false, rps = rows)
    val huge = Seq(256, 257, 278).foldLeft(one)((b, t) => patch(b, t, 8, 65536))
    val eSize = intercept[IllegalArgumentException](Tiff.decode(huge))
    assert(eSize.getMessage.contains("corrupt TIFF: segment-0 declares 8589934592 bytes"), eSize.getMessage)
  }

  test("BigTIFF polar-stereographic fixture traces contours identically to its classic twin") {
    assume(available)
    // re-encode the projected Toulon window once classic, once BigTIFF —
    // same grid bytes, two container layouts — and require identical
    // contour output through the full pipeline (the ContourCli/RasterPipeline
    // entry is extension-dispatched, so BigTIFF rides the same path)
    val fwd: (Double, Double) => (Double, Double) = (lo, la) => Crs.projection(3413).get.forward(lo, la)
    val inv: (Double, Double) => (Double, Double) = (x, y) => Crs.projection(3413).get.inverse(x, y)
    val (classicPath, _) = projectedToulonTiff("polar_classic", 3413, fwd, inv)
    val classicBytes = Files.readAllBytes(Paths.get(classicPath))
    val classic = Tiff.decode(classicBytes)
    val bigBytes = buildTiff(classic.grid.rows, classic.grid.cols, classic.grid.values,
      compression = 8, predictor = 2, tiled = true, tw = 64, th = 64, epsg = 3413,
      pixScale = (classic.scaleX, classic.scaleY),
      tiePoint = (classic.originX, classic.originY), big = true)
    val bigT = Tiff.decode(bigBytes)
    assert(bigT.grid.values.sameElements(classic.grid.values))
    assert(bigT.bbox == classic.bbox && bigT.epsg == 3413)
    val bigTmp = Files.createTempFile("polar_big", ".tiff")
    Files.write(bigTmp, bigBytes)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("tiff-bigtiff-twin")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import graft.engine.RasterPipeline
    val cfg = JobConfig(
      contourStepSize = 500, maxNodesPerWay = 0, rdpEpsilon = None, maxNodesPerTile = 0)
    def trace(p: String) =
      RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(p), cfg), cfg)
        .collect().sortBy(r => (r.elevation, r.pathIdx))
    val a = trace(classicPath)
    val b = trace(bigTmp.toString)
    assert(a.nonEmpty && a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.elevation == y.elevation && x.nbNodes == y.nbNodes)
      assert(x.coords.sameElements(y.coords), s"coords diverge at level ${x.elevation}")
    }
  }

  test("float32 samples (Copernicus-style DEM) decode bit-exact, NaN/nodata masked") {
    val rows = 83; val cols = 97
    val vals = Array.tabulate(rows * cols) { k =>
      if (k % 701 == 0) -9999f
      else if (k % 1303 == 7) Float.NaN
      else ((k * 13) % 3000) / 8f - 50f // fractional elevations
    }
    Seq(
      ("f32 strips uncompressed", buildTiff(rows, cols, vals, 1, 1, tiled = false,
        bits = 32, nodataTag = "-9999 ")),
      ("f32 tiled deflate", buildTiff(rows, cols, vals, 8, 1, tiled = true,
        tw = 32, th = 32, bits = 32, nodataTag = "-9999 ")),
      ("f32 strips lzw", buildTiff(rows, cols, vals, 5, 1, tiled = false,
        rps = 19, bits = 32, nodataTag = "-9999 "))
    ).foreach { case (name, bytes) =>
      val t = Tiff.decode(bytes)
      assert(t.nodata.contains(-9999.0), name)
      (0 until rows * cols).foreach { k =>
        val expectNaN = java.lang.Float.isNaN(vals(k))
        if (expectNaN) assert(t.grid.values(k).isNaN, s"$name @$k")
        else assert(t.grid.values(k) == vals(k), s"$name @$k")
        val expectMasked = expectNaN || vals(k) == -9999f
        assert(t.grid.mask(k) == expectMasked, s"$name mask @$k")
      }
    }
  }

  test("a float DEM whose GDAL_NODATA is GDAL's `nan` decodes with NaN nodata and masks its voids") {
    val rows = 12; val cols = 10
    val vals = Array.tabulate(rows * cols)(k => if (k % 7 == 3) Float.NaN else k * 0.5f)
    for (tag <- Seq("nan", "-nan", "NAN", "+NaN")) {
      val t = Tiff.decode(buildTiff(rows, cols, vals, 1, 1, tiled = false, bits = 32, nodataTag = tag))
      assert(t.nodata.exists(_.isNaN), tag)
      (0 until rows * cols).foreach { k =>
        assert(t.grid.mask(k) == vals(k).isNaN, s"$tag mask @$k")
        if (!vals(k).isNaN) assert(t.grid.values(k) == vals(k), s"$tag @$k")
      }
    }
    val e = intercept[IllegalArgumentException](
      Tiff.decode(buildTiff(rows, cols, vals, 1, 1, tiled = false, bits = 32, nodataTag = "abc")))
    assert(e.getMessage.contains("GDAL_NODATA 'abc'"), e.getMessage)
  }

  test("user-defined GeoKey CRS (ProjectedCSType 32767) traces identically to its EPSG twin") {
    assume(available)
    // the same UTM-32N Toulon grid encoded twice: once with the EPSG code
    // 32632, once as a user-defined CRS carrying the full TM parameter
    // GeoKey set (ProjCoordTrans=1, origin/scale/false-offset doubles in
    // GeoDoubleParams, explicit WGS84 semi-major + inverse flattening).
    // The spec path must build a bit-identical TransverseMercator, so the
    // traced contours must match coordinate-for-coordinate.
    val fwd: (Double, Double) => (Double, Double) =
      (lo, la) => Crs.projection(32632).get.forward(lo, la)
    val inv: (Double, Double) => (Double, Double) =
      (x, y) => Crs.projection(32632).get.inverse(x, y)
    val (codedPath, _) = projectedToulonTiff("utm_coded", 32632, fwd, inv)
    val codedBytes = Files.readAllBytes(Paths.get(codedPath))
    val coded = Tiff.decode(codedBytes)
    val dbls = Seq(9.0, 0.0, 500000.0, 0.0, 0.9996, 6378137.0, 298.257223563)
    val keys = Seq(
      1, 1, 0, 10,
      1024, 0, 1, 1, // projected model
      2057, 34736, 1, 5, // semi-major
      2059, 34736, 1, 6, // inverse flattening
      3072, 0, 1, 32767, // user-defined
      3075, 0, 1, 1, // CT_TransverseMercator
      3080, 34736, 1, 0, // NatOriginLong 9
      3081, 34736, 1, 1, // NatOriginLat 0
      3082, 34736, 1, 2, // FalseEasting 500000
      3083, 34736, 1, 3, // FalseNorthing 0
      3092, 34736, 1, 4) // ScaleAtNatOrigin 0.9996
    val userBytes = buildTiff(coded.grid.rows, coded.grid.cols, coded.grid.values,
      compression = 8, predictor = 2, tiled = false,
      pixScale = (coded.scaleX, coded.scaleY),
      tiePoint = (coded.originX, coded.originY),
      geoKeysOverride = keys, geoDoubles = dbls)
    val user = Tiff.decode(userBytes)
    assert(user.epsg == 32767)
    assert(user.spec ==
      "tm:a=6378137.0;invf=298.257223563;k0=0.9996;lon0=9.0;lat0=0.0;fe=500000.0;fn=0.0")
    assert(user.grid.values.sameElements(coded.grid.values) && user.bbox == coded.bbox)
    // the spec-built transform agrees with the coded one bit-for-bit
    val toW = Crs.projection(user.epsg, user.spec).get.inverse _
    val fromW = Crs.projection(user.epsg, user.spec).get.forward _
    Seq((350000.0, 4800000.0), (500000.0, 4785000.0), (520000.0, 4810000.0)).foreach {
      case (x, y) =>
        assert(toW(x, y) == inv(x, y), s"inverse diverges at ($x,$y)")
        val (lo, la) = toW(x, y)
        assert(fromW(lo, la) == fwd(lo, la))
    }
    assert(!Crs.projection(user.epsg, user.spec).get.axisSeparable)
    val userTmp = Files.createTempFile("utm_user", ".tiff")
    Files.write(userTmp, userBytes)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]").appName("tiff-userdef-twin")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    import graft.engine.RasterPipeline
    val cfg = JobConfig(
      contourStepSize = 500, maxNodesPerWay = 0, rdpEpsilon = None, maxNodesPerTile = 0,
      // --area exercises nativeAreaString's spec dispatch (envelope crop
      // + exact cell mask) on the user-defined side too
      area = Some("6.25:43.25:6.75:43.75"))
    def trace(p: String) =
      RasterPipeline.contours(RasterPipeline.tiles(spark, Seq(p), cfg), cfg)
        .collect().sortBy(r => (r.elevation, r.pathIdx))
    val a = trace(codedPath)
    val b = trace(userTmp.toString)
    assert(a.nonEmpty && a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.elevation == y.elevation && x.nbNodes == y.nbNodes)
      assert(x.coords.sameElements(y.coords), s"coords diverge at level ${x.elevation}")
    }
  }

  test("user-defined GeoKey CRS refusals are loud and specific") {
    val shorts = Map(3072 -> 32767, 3075 -> 7) // CT_Mercator: unsupported
    val e1 = intercept[IllegalArgumentException](Tiff.userDefinedSpec(shorts, Map.empty))
    assert(e1.getMessage.contains("unsupported ProjCoordTrans code 7"))
    val e2 = intercept[IllegalArgumentException](
      Tiff.userDefinedSpec(Map(3072 -> 32767), Map.empty))
    assert(e2.getMessage.contains("3075"))
    val e3 = intercept[IllegalArgumentException](
      Tiff.userDefinedSpec(Map(3072 -> 32767, 3075 -> 1), Map.empty))
    assert(e3.getMessage.contains("central meridian"))
    // polar with NO latitude key at all refuses (aspect unknowable)
    val e4 = intercept[IllegalArgumentException](
      Tiff.userDefinedSpec(Map(3072 -> 32767, 3075 -> 15), Map(3092 -> 0.97, 3094 -> -45.0)))
    assert(e4.getMessage.contains("standard parallel"))
    // polar variant A: NatOriginLat AT the pole + ScaleAtNatOrigin builds
    // a k0 instance (UPS/libgeotiff shape) instead of the 0/0 variant-B
    // degeneracy that previously emitted Infinity coordinates
    val upsSpec = Tiff.userDefinedSpec(Map(3072 -> 32767, 3075 -> 15),
      Map(3081 -> 90.0, 3092 -> 0.994, 3094 -> 0.0, 3082 -> 2000000.0, 3083 -> 2000000.0))
    assert(upsSpec.contains("k0=0.994") && upsSpec.contains("lat0=90"), upsSpec)
    val (ux5, uy5) = Crs.projection(32767, upsSpec).get.forward(45.0, 85.0)
    assert(java.lang.Double.isFinite(ux5) && java.lang.Double.isFinite(uy5))
    val upsDirect = new Crs.PolarStereographic(Crs.Wgs84, 90.0, 0.0, 2000000.0, 2000000.0, Some(0.994))
    val (dx5, dy5) = upsDirect.forward(45.0, 85.0)
    assert(ux5 == dx5 && uy5 == dy5, s"GeoKey UPS ($ux5,$uy5) vs direct ($dx5,$dy5)")
    // ...but a pole-latitude file WITHOUT the scale key refuses loudly
    val e4b = intercept[IllegalArgumentException](
      Tiff.userDefinedSpec(Map(3072 -> 32767, 3075 -> 15),
        Map(3081 -> 90.0, 3094 -> 0.0)))
    assert(e4b.getMessage.contains("3092"), e4b.getMessage)
    // TM written with the center-key family (3088/3089/3093, the
    // ESRI-style writer) picks up ScaleAtCenter — previously silently 1.0
    val tmCenter = Tiff.userDefinedSpec(Map(3072 -> 32767, 3075 -> 1),
      Map(3088 -> 9.0, 3089 -> 0.0, 3093 -> 0.9996, 3082 -> 500000.0))
    assert(tmCenter.contains("k0=0.9996"), tmCenter)
    val (tx, ty) = Crs.projection(32767, tmCenter).get.forward(9.3, 47.0)
    val (ex, ey) = Crs.projection(32632).get.forward(9.3, 47.0)
    assert(math.abs(tx - ex) < 1e-6 && math.abs(ty - ey) < 1e-6,
      s"center-key TM ($tx,$ty) vs EPSG:32632 ($ex,$ey)")
    // Albers (ct=11) missing a standard parallel refuses with the key name
    val e5 = intercept[IllegalArgumentException](
      Tiff.userDefinedSpec(Map(3072 -> 32767, 3075 -> 11),
        Map(3080 -> -96.0, 3081 -> 23.0, 3078 -> 29.5)))
    assert(e5.getMessage.contains("3079"))
    // and fully-parameterized user-defined Albers == the EPSG:5070 instance
    val aeaSpec = Tiff.userDefinedSpec(
      Map(3072 -> 32767, 3075 -> 11, 2048 -> 4269), // NAD83 datum -> GRS80
      Map(3080 -> -96.0, 3081 -> 23.0, 3078 -> 29.5, 3079 -> 45.5))
    val (ux, uy) = Crs.projection(32767, aeaSpec).get.forward(-104.99, 39.74)
    val (cx2, cy2) = Crs.projection(5070).get.forward(-104.99, 39.74)
    assert(ux == cx2 && uy == cy2, s"user-defined aea ($ux,$uy) vs 5070 ($cx2,$cy2)")
    // ellipsoid fallbacks: GRS80 via datum code, Airy via ellipsoid code
    val grs = Tiff.userDefinedSpec(
      Map(3072 -> 32767, 3075 -> 10, 2048 -> 4258), Map(3088 -> 10.0, 3089 -> 52.0))
    assert(grs.contains("invf=298.257222101"))
    val airy = Tiff.userDefinedSpec(
      Map(3072 -> 32767, 3075 -> 1, 2056 -> 7001), Map(3080 -> -2.0))
    assert(airy.contains("a=6377563.396"))
  }

  test("mercator transform round-trips") {
    val pts = Seq((6.0, 43.0), (7.0, 44.0), (-122.42, 37.77), (151.2, -33.87), (0.0, 0.0))
    pts.foreach { case (lon, lat) =>
      val (x, y) = Crs.projection(3857).get.forward(lon, lat)
      val (lon2, lat2) = Crs.projection(3857).get.inverse(x, y)
      assert(math.abs(lon2 - lon) < 1e-9 && math.abs(lat2 - lat) < 1e-9)
    }
    assertThrows[IllegalArgumentException](Crs.projection(29902)) // Irish grid: not in the table
  }
}
