package graft.core

import scala.collection.mutable.ArrayBuffer

/** Planar geometry kernels: point-in-polygon and convex-rectangle clipping.
  *
  * Capability analogues of the reference's polygon handling
  * (/root/reference/pyhgtmap/hgt/file.py:277-365). The reference delegates
  * PIP to matplotlib Path.contains_points, whose boundary behavior it calls
  * "unpredictable" (file.py:331-333); we pin a deterministic even-odd
  * ray-cast convention instead and document it: a point exactly on a
  * vertical-right or horizontal-bottom boundary is OUTSIDE, matching strict
  * interior for all the reference's non-degenerate golden masks
  * (tests/hgt/test_file.py:183-284).
  */
object Geometry {

  /** Even-odd ray cast to +x. `poly` interleaved lon,lat; auto-closed.
    * The reference every PIP path must agree with bit for bit
    * (PreparedPolygon runs the same `crosses` over a subset of edges). */
  def contains(poly: Array[Double], px: Double, py: Double): Boolean = {
    val n = poly.length / 2
    if (n < 3) return false
    var inside = false
    var j = n - 1
    var i = 0
    while (i < n) {
      if (crosses(poly, i, j, px, py)) inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Does the +x ray from (px, py) cross edge (vertex j -> vertex i)? True
    * only when min(yi, yj) <= py < max(yi, yj): never for a horizontal edge,
    * a NaN py or an edge with a NaN y. */
  @inline private[core] def crosses(
      poly: Array[Double], i: Int, j: Int, px: Double, py: Double): Boolean = {
    val xi = poly(2 * i); val yi = poly(2 * i + 1)
    val xj = poly(2 * j); val yj = poly(2 * j + 1)
    (yi > py) != (yj > py) && px < xi + (py - yi) / (yj - yi) * (xj - xi)
  }

  /** Signed area (shoelace). Positive = counter-clockwise. */
  def signedArea(poly: Array[Double]): Double = {
    val n = poly.length / 2
    var s = 0.0
    var j = n - 1
    var i = 0
    while (i < n) {
      s += (poly(2 * j) * poly(2 * i + 1)) - (poly(2 * i) * poly(2 * j + 1))
      j = i
      i += 1
    }
    s / 2.0
  }

  /** Sutherland-Hodgman clip of an arbitrary polygon to an axis-aligned
    * rectangle. Degenerate (zero-area) results are dropped, mirroring the
    * reference's discarding of line/point intersections
    * (file.py:296-305, tests/hgt/test_file.py:301-364). */
  def clipToRect(
      poly: Array[Double],
      minX: Double, minY: Double, maxX: Double, maxY: Double,
      areaEps: Double = 1e-12): Option[Array[Double]] = {
    var cur = poly
    // four half-planes: x>=minX, x<=maxX, y>=minY, y<=maxY
    var side = 0
    while (side < 4 && cur.length >= 6) {
      val out = new ArrayBuffer[Double](cur.length + 8)
      val n = cur.length / 2
      @inline def inside(x: Double, y: Double): Boolean = side match {
        case 0 => x >= minX
        case 1 => x <= maxX
        case 2 => y >= minY
        case _ => y <= maxY
      }
      @inline def intersect(x1: Double, y1: Double, x2: Double, y2: Double): (Double, Double) =
        side match {
          case 0 => (minX, y1 + (minX - x1) / (x2 - x1) * (y2 - y1))
          case 1 => (maxX, y1 + (maxX - x1) / (x2 - x1) * (y2 - y1))
          case 2 => (x1 + (minY - y1) / (y2 - y1) * (x2 - x1), minY)
          case _ => (x1 + (maxY - y1) / (y2 - y1) * (x2 - x1), maxY)
        }
      var j = n - 1
      var i = 0
      while (i < n) {
        val x1 = cur(2 * j); val y1 = cur(2 * j + 1)
        val x2 = cur(2 * i); val y2 = cur(2 * i + 1)
        val in1 = inside(x1, y1); val in2 = inside(x2, y2)
        if (in2) {
          if (!in1) { val (xi, yi) = intersect(x1, y1, x2, y2); out += xi; out += yi }
          out += x2; out += y2
        } else if (in1) {
          val (xi, yi) = intersect(x1, y1, x2, y2); out += xi; out += yi
        }
        j = i
        i += 1
      }
      cur = out.toArray
      side += 1
    }
    cur = cleanDegenerate(cur)
    if (cur.length < 6 || math.abs(signedArea(cur)) <= areaEps) None else Some(cur)
  }

  /** Remove duplicate and collinear vertices (including zero-area fold-back
    * spikes Sutherland-Hodgman emits along clip boundaries for non-convex
    * subjects) — shapely's intersection result has none. */
  private[core] def cleanDegenerate(poly: Array[Double]): Array[Double] = {
    var pts = poly.grouped(2).map(a => (a(0), a(1))).toVector
    var changed = true
    while (changed && pts.length >= 3) {
      changed = false
      val n = pts.length
      val keep = Vector.newBuilder[(Double, Double)]
      var i = 0
      while (i < n) {
        val p = pts((i + n - 1) % n)
        val v = pts(i)
        val q = pts((i + 1) % n)
        val cross = (v._1 - p._1) * (q._2 - p._2) - (v._2 - p._2) * (q._1 - p._1)
        val dup = v == p
        if (dup || cross == 0.0) changed = true
        else keep += v
        i += 1
      }
      pts = keep.result()
    }
    pts.flatMap(p => Seq(p._1, p._2)).toArray
  }

  sealed trait MaskResult
  case object AllInside extends MaskResult
  case object AllOutside extends MaskResult
  final case class Mixed(mask: Array[Boolean]) extends MaskResult // true = outside

  /** Grid mask vs a polygon list: true = point NOT covered by any polygon.
    * Mirrors polygon_mask (file.py:310-365): polygons are clipped to the
    * expanded grid bbox first; empty intersection -> AllOutside. */
  def polygonMask(
      xData: Array[Double],
      yData: Array[Double],
      polygons: Seq[Array[Double]],
      bboxExpand: Double = 0.1): MaskResult = {
    val minX = xData.min - bboxExpand
    val maxX = xData.max + bboxExpand
    val minY = yData.min - bboxExpand
    val maxY = yData.max + bboxExpand
    val clipped = polygons.flatMap(p => clipToRect(p, minX, minY, maxX, maxY)).map(PreparedPolygon(_))
    if (clipped.isEmpty) return AllOutside
    val mask = new Array[Boolean](xData.length * yData.length)
    var anyIn = false
    var anyOut = false
    var r = 0
    while (r < yData.length) {
      var c = 0
      while (c < xData.length) {
        val in = clipped.exists(_.contains(xData(c), yData(r)))
        mask(r * xData.length + c) = !in
        if (in) anyIn = true else anyOut = true
        c += 1
      }
      r += 1
    }
    if (!anyIn) AllOutside
    else if (!anyOut) AllInside
    else Mixed(mask)
  }
}

/** A polygon prepared for many point-in-polygon probes: the ring's y-range
  * is cut into equal bands, and each band lists every edge that overlaps
  * it, so `contains` ray-casts over one band's edges instead of the whole
  * ring.
  *
  * Exact: `contains(px, py) == Geometry.contains(coords, px, py)` on every
  * input, NaN and infinities included. An edge flips the even-odd parity
  * only when min(yi, yj) <= py < max(yi, yj) (Geometry.crosses). `band` is
  * monotone in y, so such an edge's band range [band(min), band(max)]
  * holds band(py); each listed edge runs the same `crosses` with the same
  * vertex order (j = i - 1) as the reference; and parity does not depend
  * on the order edges are visited. Edges that can never flip (horizontal,
  * or a NaN y) are not listed, and a py outside [minY, maxY) flips none.
  *
  * Immutable and serializable: built once on the driver and shipped in a
  * broadcast (SpatialJoin) or a plan-time reference (PipContains).
  */
final class PreparedPolygon private (
    coords: Array[Double],
    minY: Double,
    maxY: Double,
    inv: Double,
    bandStart: Array[Int], // band b's edges are edges(bandStart(b) until bandStart(b + 1))
    edges: Array[Int]) // edge i joins vertex i - 1 (n - 1 for i = 0) to vertex i
    extends Serializable {

  private[core] def bands: Int = bandStart.length - 1
  private[core] def indexEntries: Int = edges.length
  private[core] def bandOf(y: Double): Int = PreparedPolygon.band(y, minY, inv, bands)

  def contains(px: Double, py: Double): Boolean = {
    if (!(py >= minY && py < maxY)) return false // also NaN
    val n = coords.length / 2
    val b = bandOf(py)
    var inside = false
    var k = bandStart(b)
    val end = bandStart(b + 1)
    while (k < end) {
      val i = edges(k)
      if (Geometry.crosses(coords, i, if (i == 0) n - 1 else i - 1, px, py)) inside = !inside
      k += 1
    }
    inside
  }
}

object PreparedPolygon {

  /** Band count before the size cap: the power of two nearest below one
    * band per 4 vertices. */
  private val VerticesPerBand = 4
  /** Index entries allowed per vertex; the band count halves until the
    * index fits, so a zig-zag ring whose edges each span many bands keeps
    * an O(n) index. */
  private val EntriesPerVertex = 4

  /** Band of y in [0, bands): clamp(floor((y - minY) * inv)). Monotone in
    * y (a subtraction, a positive scale, a truncation and a clamp). */
  private def band(y: Double, minY: Double, inv: Double, bands: Int): Int =
    math.min(math.max(((y - minY) * inv).toInt, 0), bands - 1)

  def apply(coords: Array[Double]): PreparedPolygon = {
    val n = coords.length / 2
    // an empty y-range: contains is false everywhere, as the reference is
    // for fewer than 3 vertices
    if (n < 3)
      return new PreparedPolygon(coords, Double.PositiveInfinity, Double.NegativeInfinity, 0.0,
        Array(0, 0), Array.emptyIntArray)
    // a NaN y fails both compares, so it is skipped: it never flips an edge
    var minY = Double.PositiveInfinity
    var maxY = Double.NegativeInfinity
    var v = 0
    while (v < n) {
      val y = coords(2 * v + 1)
      if (y < minY) minY = y
      if (y > maxY) maxY = y
      v += 1
    }
    val span = maxY - minY
    def invOf(bands: Int): Double = if (bands == 1) 0.0 else bands / span
    // visits every edge that can flip parity (not horizontal, no NaN y)
    // with its band range
    def foreachEdge(bands: Int)(f: (Int, Int, Int) => Unit): Unit = {
      val inv = invOf(bands)
      var i = 0
      while (i < n) {
        val yi = coords(2 * i + 1)
        val yj = coords(2 * (if (i == 0) n - 1 else i - 1) + 1)
        if (yi < yj || yj < yi)
          f(i, band(math.min(yi, yj), minY, inv, bands), band(math.max(yi, yj), minY, inv, bands))
        i += 1
      }
    }
    def entries(bands: Int): Long = {
      var e = 0L
      foreachEdge(bands)((_, lo, hi) => e += hi - lo + 1)
      e
    }
    var bands =
      if (span > 0 && span < Double.PositiveInfinity) Integer.highestOneBit(math.max(1, n / VerticesPerBand)) else 1
    while (bands > 1 && entries(bands) > EntriesPerVertex.toLong * n) bands /= 2
    // counting sort of (band, edge) pairs: count, prefix-sum, fill
    val bandStart = new Array[Int](bands + 1)
    foreachEdge(bands) { (_, lo, hi) =>
      var b = lo
      while (b <= hi) { bandStart(b + 1) += 1; b += 1 }
    }
    var b = 0
    while (b < bands) { bandStart(b + 1) += bandStart(b); b += 1 }
    val edges = new Array[Int](bandStart(bands))
    val fill = java.util.Arrays.copyOf(bandStart, bands)
    foreachEdge(bands) { (i, lo, hi) =>
      var b = lo
      while (b <= hi) { edges(fill(b)) = i; fill(b) += 1; b += 1 }
    }
    new PreparedPolygon(coords, minY, maxY, invOf(bands), bandStart, edges)
  }
}
