package graft.core

/** Hierarchical lon/lat cell index ("H3/S2-style" discrete global grid,
  * square cells for SQL-expressible arithmetic).
  *
  * At resolution r the world is a (360*2^r) x (180*2^r) grid of
  * (1/2^r)-degree cells. Cell ids are row-major:
  *   cellId = latIdx * (360 * 2^r) + lonIdx
  * with lonIdx = floor((lon+180) * 2^r), latIdx = floor((lat+90) * 2^r).
  * The codec is pure integer/floor arithmetic so the same expression can be
  * evaluated by Spark, DuckDB, or a Catalyst expression without UDF overhead.
  *
  * Plays the role of the reference's 1-degree tile keys
  * (/root/reference/pyhgtmap/NASASRTMUtil.py:252-290) generalized to
  * multiple resolutions for spatial-join prefiltering and kNN k-rings.
  */
object Cells {

  @inline def lonWidth(res: Int): Long = 360L << res

  /** Boundary points CLAMP into the valid index range (mirroring
    * S2.ijFromSt): lat = 90.0 floors to latIdx = 180<<res, one past the
    * last row — without the clamp such points land in nonexistent cells
    * that no k-ring or cover enumeration ever visits (they'd silently
    * drop out of every cell-indexed join). Same for lon = 180.0. */
  def cellId(lon: Double, lat: Double, res: Int): Long = {
    val scale = (1L << res).toDouble
    val w = lonWidth(res)
    val maxLat = 180L << res
    val lonIdx = math.min(math.max(math.floor((lon + 180.0) * scale).toLong, 0L), w - 1)
    val latIdx = math.min(math.max(math.floor((lat + 90.0) * scale).toLong, 0L), maxLat - 1)
    latIdx * w + lonIdx
  }

  def lonIdx(cell: Long, res: Int): Long = cell % lonWidth(res)
  def latIdx(cell: Long, res: Int): Long = cell / lonWidth(res)

  /** Cell bbox (minLon, minLat, maxLon, maxLat). */
  def cellBBox(cell: Long, res: Int): BBox = {
    val inv = 1.0 / (1L << res).toDouble
    val lo = lonIdx(cell, res) * inv - 180.0
    val la = latIdx(cell, res) * inv - 90.0
    BBox(lo, la, lo + inv, la + inv)
  }

  /** Cells covering a bbox at a resolution (for polygon covers). Edges on
    * the domain boundary clamp like cellId, so a bbox touching lat 90 /
    * lon 180 covers exactly the cells boundary points clamp into. */
  def cover(bbox: BBox, res: Int): Array[Long] = {
    val scale = (1L << res).toDouble
    val w = lonWidth(res)
    val maxLat = 180L << res
    def clamp(v: Long, hi: Long): Long = math.min(math.max(v, 0L), hi - 1)
    val x0 = clamp(math.floor((bbox.minLon + 180.0) * scale).toLong, w)
    val x1 = clamp(math.floor((bbox.maxLon + 180.0) * scale).toLong, w)
    val y0 = clamp(math.floor((bbox.minLat + 90.0) * scale).toLong, maxLat)
    val y1 = clamp(math.floor((bbox.maxLat + 90.0) * scale).toLong, maxLat)
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var y = y0
    while (y <= y1) {
      var x = x0
      while (x <= x1) { out += y * w + x; x += 1 }
      y += 1
    }
    out.toArray
  }
}
