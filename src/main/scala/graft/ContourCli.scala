package graft

import graft.core._
import graft.core.MarchingSquares.GridView

/** Minimal CLI surface over the core kernels (no Spark): decode an .hgt
  * or GeoTIFF file, optionally truncate to an area, chop, trace contours
  * (reprojecting non-4326 sources to WGS84), and print per-tile stats.
  * Mirrors the reference CLI's local-file path
  * (/root/reference/pyhgtmap/main.py:19-61) for smoke/verification use.
  *
  * Usage: ContourCli <file.hgt|.tif> [--step N] [--area minLon:minLat:maxLon:maxLat]
  *        [--max-nodes-per-tile N] [--max-nodes-per-way N] [--rdp EPS]
  */
object ContourCli {
  def main(args: Array[String]): Unit = {
    // dot-decimal everywhere: diagnostics/tables are parsed downstream
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    if (args.isEmpty) { System.err.println("usage: ContourCli <file.hgt> [--step N] ..."); sys.exit(2) }
    val file = args(0)
    var cfg = JobConfig(maxNodesPerTile = 1000000L, maxNodesPerWay = 2000, rdpEpsilon = None)
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "--step" => cfg = cfg.copy(contourStepSize = args(i + 1).toInt); i += 2
        case "--area" => cfg = cfg.copy(area = Some(args(i + 1))); i += 2
        case "--max-nodes-per-tile" => cfg = cfg.copy(maxNodesPerTile = args(i + 1).toLong); i += 2
        case "--max-nodes-per-way" => cfg = cfg.copy(maxNodesPerWay = args(i + 1).toInt); i += 2
        case "--rdp" => cfg = cfg.copy(rdpEpsilon = Some(args(i + 1).toDouble)); i += 2
        case other => System.err.println(s"unknown option: $other"); sys.exit(2)
      }
    }
    val bytes = Fs.readAllBytes(file)
    val (grid, bbox, epsg, spec) =
      if (Tiff.isTiff(file)) {
        val t = Tiff.decode(bytes, cfg.voidMax)
        (t.grid, t.bbox, t.epsg, t.spec)
      } else (Hgt.decode(bytes, cfg.voidMax), Hgt.parseHgtFilename(file), 4326, "")
    // --area degrees are WGS84: reproject the rect into the file CRS
    // (exact for separable sources; envelope-superset crop for projected
    // ones — same shared helper as RasterPipeline.tiles, so the two
    // surfaces cannot drift)
    val nativeArea = cfg.area.map(a => Crs.nativeAreaString(a, epsg, spec))
    val proj = Crs.projection(epsg, spec)
    val lonInc0 = (bbox.maxLon - bbox.minLon) / (grid.cols - 1)
    val latInc0 = (bbox.maxLat - bbox.minLat) / (grid.rows - 1)
    // projected CRS + --area: the envelope crop over-covers (the rect
    // tilts under meridian convergence), so mask cells outside the
    // densify-reprojected rect exactly — the rect rides the same path
    // --poly clip polygons do in the pipeline
    val grid2 = (cfg.area, proj) match {
      case (Some(a), Some(p)) if !p.axisSeparable =>
        val ring = Crs.densifyReproject(Crs.areaRectPolygon(a), p.forward)
        val xs = Array.tabulate(grid.cols)(c => bbox.minLon + c * lonInc0)
        val ys = Array.tabulate(grid.rows)(r => bbox.maxLat - r * latInc0)
        Geometry.polygonMask(xs, ys, Seq(ring), bboxExpand = 0.1 * 111320.0) match {
          case Geometry.AllInside => grid
          case Geometry.AllOutside =>
            val m = new Array[Boolean](grid.values.length)
            java.util.Arrays.fill(m, true)
            grid.copy(mask = m)
          case Geometry.Mixed(pm) =>
            val m = if (grid.mask != null) grid.mask.clone()
                    else new Array[Boolean](grid.values.length)
            var k = 0
            while (k < pm.length) { if (pm(k)) m(k) = true; k += 1 }
            grid.copy(mask = m)
        }
      case _ => grid
    }
    val lonInc = lonInc0
    val latInc = latInc0
    println(s"${file}: ${grid.rows} x ${grid.cols} points, bbox: (${bbox.minLon}, ${bbox.minLat}, ${bbox.maxLon}, ${bbox.maxLat})")
    val start = Chop.truncate(nativeArea, bbox, grid.rows, grid.cols, lonInc, latInc)
    val slices = Chop.chop(grid2, start, latInc, cfg.contourStepSize, cfg.maxNodesPerTile)
    var totNodes = 0L
    var totWays = 0L
    slices.zipWithIndex.foreach { case (s, idx) =>
      val gv = new GridView(grid2.values, grid2.mask, s.rowOff * grid.cols + s.colOff, grid.cols, s.rows, s.cols)
      val tc = ContourGen.tileContours(gv, s.bbox, lonInc, latInc, cfg, transform = proj)
      totNodes += tc.nbNodes
      totWays += tc.nbWays
      println(f"tile $idx: ${s.rows} x ${s.cols} points, bbox: (${s.bbox.minLon}%.2f, ${s.bbox.minLat}%.2f, ${s.bbox.maxLon}%.2f, ${s.bbox.maxLat}%.2f), levels ${tc.levels.headOption.getOrElse(0)}..${tc.levels.lastOption.getOrElse(0)}, nodes ${tc.nbNodes}, ways ${tc.nbWays}")
    }
    println(s"total: ${slices.size} tiles, $totNodes nodes, $totWays ways")
  }
}
