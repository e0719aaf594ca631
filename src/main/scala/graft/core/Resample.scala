package graft.core

/** Grid super-sampling (the reference's --smooth-ratio path,
  * /root/reference/pyhgtmap/hgt/file.py:368-386): values are upsampled with
  * a bicubic (Catmull-Rom) kernel and rounded to whole meters; the void
  * mask is upsampled order-0 (nearest). The reference delegates to
  * scipy.ndimage.zoom order-3 splines; this is a from-scratch bicubic with
  * the same contract (rounding, independent mask path, endpoint-aligned
  * georeferencing) — exact spline weights differ, which the reference only
  * pins via image regression, not numerically.
  */
object Resample {

  @inline private def catmullRom(p0: Double, p1: Double, p2: Double, p3: Double, t: Double): Double = {
    val t2 = t * t
    val t3 = t2 * t
    0.5 * ((2.0 * p1) + (-p0 + p2) * t +
      (2.0 * p0 - 5.0 * p1 + 4.0 * p2 - p3) * t2 +
      (-p0 + 3.0 * p1 - 3.0 * p2 + p3) * t3)
  }

  /** Upsample `grid` by `ratio` (>1). Output side = round(in * ratio),
    * endpoint-aligned sampling (first/last rows and cols preserved). */
  def zoom(grid: Grid, ratio: Double): Grid = {
    require(ratio > 0)
    val outRows = math.round(grid.rows * ratio).toInt
    val outCols = math.round(grid.cols * ratio).toInt
    val values = new Array[Float](outRows * outCols)
    val mask = if (grid.mask == null) null else new Array[Boolean](outRows * outCols)
    @inline def zAt(r: Int, c: Int): Double = {
      val rr = math.max(0, math.min(grid.rows - 1, r))
      val cc = math.max(0, math.min(grid.cols - 1, c))
      grid.values(rr * grid.cols + cc).toDouble
    }
    var or = 0
    while (or < outRows) {
      val sy = or.toDouble * (grid.rows - 1) / (outRows - 1)
      val r1 = math.min(grid.rows - 1, sy.toInt)
      val ty = sy - r1
      var oc = 0
      while (oc < outCols) {
        val sx = oc.toDouble * (grid.cols - 1) / (outCols - 1)
        val c1 = math.min(grid.cols - 1, sx.toInt)
        val tx = sx - c1
        val rows4 = new Array[Double](4)
        var k = -1
        while (k <= 2) {
          rows4(k + 1) = catmullRom(
            zAt(r1 + k, c1 - 1), zAt(r1 + k, c1), zAt(r1 + k, c1 + 1), zAt(r1 + k, c1 + 2), tx)
          k += 1
        }
        val v = catmullRom(rows4(0), rows4(1), rows4(2), rows4(3), ty)
        values(or * outCols + oc) = math.round(v).toFloat // reference rounds to 0 dp
        if (mask != null) {
          // order-0: nearest input cell decides voidness; a kernel that read
          // a void's NaN value voids the output too (round(NaN) would be 0)
          val nr = math.min(grid.rows - 1, math.round(sy).toInt)
          val nc = math.min(grid.cols - 1, math.round(sx).toInt)
          mask(or * outCols + oc) = grid.mask(nr * grid.cols + nc) || v.isNaN
        }
        oc += 1
      }
      or += 1
    }
    Grid(outRows, outCols, values, mask)
  }
}
