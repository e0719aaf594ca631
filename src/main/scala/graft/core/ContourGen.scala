package graft.core

import scala.collection.mutable.ArrayBuffer
import MarchingSquares.{GridView, Scratch}

/** Per-tile contour generation: levels -> one multi-level trace ->
  * (optional RDP) -> way split, with the node/way accounting of the
  * reference's HgtTile._get_contours + ContoursGenerator.trace
  * (/root/reference/pyhgtmap/hgt/tile.py:186-225, hgt/contour.py:119-140).
  */
object ContourGen {

  final case class LevelContours(elevation: Int, paths: Seq[Array[Double]])

  final case class TileContours(
      nbNodes: Long,
      nbWays: Long,
      levels: Seq[Int],
      contours: Seq[LevelContours])

  /** Generate contours for one tile grid view with bbox-derived axes.
    * `transform` is the source CRS: its inverse reprojects traced paths to
    * WGS84 BEFORE simplification, matching the reference order trace ->
    * transform -> RDP -> split (hgt/contour.py:133-137). */
  def tileContours(
      gv: GridView,
      bbox: BBox,
      lonInc: Double,
      latInc: Double,
      cfg: JobConfig,
      scratch: Scratch = new Scratch,
      transform: Option[Crs.Projection] = None): TileContours = {
    val (minEle, maxEle) = Chop.elevRange(gv)
    val levels =
      Levels.levels(minEle, maxEle, cfg.contourStepSize, cfg.noZero, cfg.minCont, cfg.maxCont)
    val xs = Hgt.xData(bbox.minLon, lonInc, gv.cols)
    val ys = Hgt.yData(bbox.maxLat, latInc, gv.rows)
    val elevations = levels.toArray
    var totalNodes = 0L
    var totalWays = 0L
    val perLevel = new ArrayBuffer[LevelContours](elevations.length)
    // one sweep of the grid seeds every level; each level's raw paths are
    // simplified and split before the next level is walked
    MarchingSquares.traceLevels(gv, xs, ys, elevations.map(_.toDouble), cornerMask = true, scratch) { (i, raw) =>
      val outPaths = new ArrayBuffer[Array[Double]]()
      raw.foreach { path00 =>
        val path0 = transform match {
          case Some(p) => Crs.transformPath(path00, p.inverse)
          case None    => path00
        }
        val path = cfg.rdpEpsilon match {
          case Some(eps) => Rdp.simplify(path0, eps)
          case None      => path0
        }
        val s = WaySplit.split(path, cfg.maxNodesPerWay)
        outPaths ++= s.paths
        totalNodes += s.nbNodes
        totalWays += s.nbPaths
      }
      perLevel += LevelContours(elevations(i), outPaths.toSeq)
    }
    TileContours(totalNodes, totalWays, levels, perLevel.toSeq)
  }
}
