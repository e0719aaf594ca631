package graft.core

import scala.collection.mutable.ArrayBuffer

/** Iso-line extraction (marching squares with linear edge interpolation,
  * masked-cell and single-masked-corner "triangle" handling).
  *
  * From-scratch implementation of the capability the reference delegates to
  * the contourpy C++ extension (/root/reference/pyhgtmap/hgt/contour.py:143-168
  * with corner_mask=True, chunk_size=0, LineType.SeparateCode). Conventions
  * chosen to reproduce the reference's golden path/node counts on its SRTM
  * fixture (/root/reference/tests/hgt/test_tile.py:66-127):
  *   - a grid point is "above" iff z > level (strict);
  *   - saddle quads disambiguated by zmid = mean of the 4 corners vs level;
  *   - closed paths repeat their first point as last.
  *
  * Two entry points share one quad walk (`Walker`):
  *   - `traceLevels` traces every level of a grid from one sweep. Each point
  *     gets k = the number of levels it is above (the walk's own `z > level`
  *     test, so a value exactly on a level is not above it). An edge then
  *     crosses exactly the levels
  *     [min(k0, k1), max(k0, k1)), a contiguous run; this holds for a
  *     masked quad's diagonal too. One counting sort places every start
  *     edge into per-level seed lists, and each level walks its own list.
  *     This is the span-space idea of Livnat, Shen and Johnson (IEEE TVCG
  *     1996): the cost is O(points + crossings), not O(levels x rows x cols).
  *   - `trace` traces one level by scanning the rows whose elevation range
  *     spans it. It stays as the reference the sweep is tested against, and
  *     as the per-level kernel timer of the benchmark harness.
  *
  * Precondition of `traceLevels`: no unmasked point is NaN (a decoder masks
  * its NaN voids, as contourpy treats NaN as masked); it throws an
  * `IllegalArgumentException` naming the first such point.
  *
  * Seed-order contract: for every level, `traceLevels` tries start edges in
  * the order `trace` does, minus seeds that never start a walk there, and
  * enters the same quad from each, so both emit the same paths, in the same
  * order, from the same start points.
  *   - No mask: top row N edges, bottom row S edges, then row by row the W
  *     edge of column 0 and the E edge of the last column, then the interior
  *     W edges row-major.
  *   - Masked: per valid quad row-major, its boundary edges in N, W, S, E, D
  *     order (S and E enter the quad they bound, above or left of the edge),
  *     then per valid quad its interior W edge.
  * `trace` also seeds each interior N edge H(r, c), just before the W edge of
  * quad (r, c), and never starts a walk from it: H(r, c) is visited when its
  * turn comes. An open path starts at a boundary edge, and those all come
  * first. A closed loop through H(r, c) also crosses another edge of quad
  * (r - 1, c) above it: that quad's N or W edge, or the W edge of quad
  * (r - 1, c + 1); each is a boundary seed or an interior seed of row r - 1,
  * tried before H(r, c). Dropping those no-op seeds changes no walk. Row
  * skipping in `trace` passes over no crossing edge when no valid point is
  * NaN, so the sweep needs no row clipping either.
  */
object MarchingSquares {

  /** Zero-copy rectangular view into a row-major grid. */
  final class GridView(
      val values: Array[Float],
      val mask: Array[Boolean],
      val base: Int,
      val stride: Int,
      val rows: Int,
      val cols: Int) {
    @inline def z(r: Int, c: Int): Double = values(base + r * stride + c).toDouble
    @inline def masked(r: Int, c: Int): Boolean =
      mask != null && mask(base + r * stride + c)
  }

  object GridView {
    def full(g: Grid): GridView = new GridView(g.values, g.mask, 0, g.cols, g.rows, g.cols)
    def slice(g: Grid, rowOff: Int, rows: Int): GridView =
      new GridView(g.values, g.mask, rowOff * g.cols, g.cols, rows, g.cols)
  }

  /** Reusable per-thread buffers, grown on demand and kept across the
    * grids a thread traces (visited stamps survive across levels without
    * clearing). */
  final class Scratch {
    var visited: Array[Int] = new Array[Int](0)
    var stamp: Int = 0
    var aboveA: Array[Boolean] = new Array[Boolean](0)
    var aboveB: Array[Boolean] = new Array[Boolean](0)
    // traceLevels: levels each point is above, per-level seed offsets and
    // fill cursors, the seeds themselves
    var kAbove: Array[Int] = new Array[Int](0)
    var levelOff: Array[Int] = new Array[Int](0)
    var levelPos: Array[Int] = new Array[Int](0)
    var seeds: Array[Int] = new Array[Int](0)
    def ensure(n: Int): Unit =
      if (visited.length < n) { visited = new Array[Int](n); stamp = 0 }
    def ensureRows(cols: Int): Unit =
      if (aboveA.length < cols) { aboveA = new Array[Boolean](cols); aboveB = new Array[Boolean](cols) }
    def ensureSweep(points: Int, levels: Int): Unit = {
      if (kAbove.length < points) kAbove = new Array[Int](points)
      if (levelPos.length < levels) { levelPos = new Array[Int](levels); levelOff = new Array[Int](levels + 1) }
    }
    def ensureSeeds(n: Int): Unit =
      if (seeds.length < n) seeds = new Array[Int](n)
  }

  /** Per-point-row min/max over valid points — computed once per tile and
    * shared across all levels (row skipping). */
  def rowStats(gv: GridView): (Array[Double], Array[Double]) = {
    val rowMin = new Array[Double](gv.rows)
    val rowMax = new Array[Double](gv.rows)
    var r = 0
    while (r < gv.rows) {
      var mn = Double.PositiveInfinity
      var mx = Double.NegativeInfinity
      var c = 0
      while (c < gv.cols) {
        if (!gv.masked(r, c)) {
          val z = gv.z(r, c)
          if (z < mn) mn = z
          if (z > mx) mx = z
        }
        c += 1
      }
      rowMin(r) = mn; rowMax(r) = mx
      r += 1
    }
    (rowMin, rowMax)
  }

  /** Growable primitive double buffer (ArrayBuffer[Double] would box every
    * coordinate — at tens of millions of nodes the allocation rate becomes
    * the scaling bottleneck). */
  final class DoubleBuf(initial: Int = 32) {
    private var arr = new Array[Double](initial)
    private var len = 0
    @inline def +=(v: Double): Unit = {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(len) = v
      len += 1
    }
    def toArray: Array[Double] = java.util.Arrays.copyOf(arr, len)
  }

  /** Growable primitive int buffer: one level's seeds in `trace`. */
  private final class IntBuf(initial: Int) {
    var arr = new Array[Int](initial)
    var len = 0
    @inline def +=(v: Int): Unit = {
      if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
      arr(len) = v
      len += 1
    }
  }

  /** The quad walk over one grid (rows, cols >= 2), one level at a time.
    * Edge ids: H edges [0, HB), V edges [HB, HB+VB), then one diagonal per
    * quad (used only by single-masked-corner quads). `begin` starts a
    * level with a fresh visited stamp and output buffer. */
  private final class Walker(
      gv: GridView,
      xData: Array[Double],
      yData: Array[Double],
      cornerMask: Boolean,
      scratch: Scratch) {
    private val rows = gv.rows
    private val cols = gv.cols
    private val HB = rows * (cols - 1) // H edge ids [0, HB)
    private val VB = (rows - 1) * cols // V edge ids [HB, HB+VB)
    scratch.ensure(HB + VB + (rows - 1) * (cols - 1))
    private val visited = scratch.visited
    private var stamp = 0
    private var level = 0.0
    private var out: ArrayBuffer[Array[Double]] = null

    def begin(lv: Double): ArrayBuffer[Array[Double]] = {
      level = lv
      scratch.stamp += 1
      stamp = scratch.stamp
      out = new ArrayBuffer[Array[Double]]()
      out
    }

    @inline def hId(r: Int, c: Int): Int = r * (cols - 1) + c
    @inline def vId(r: Int, c: Int): Int = HB + r * cols + c
    @inline def dId(r: Int, c: Int): Int = HB + VB + r * (cols - 1) + c

    @inline def above(r: Int, c: Int): Boolean = !gv.masked(r, c) && gv.z(r, c) > level

    // number of masked corners of quad (r, c); 0 <= r < rows-1, 0 <= c < cols-1
    @inline private def maskCount(r: Int, c: Int): Int = {
      var n = 0
      if (gv.masked(r, c)) n += 1
      if (gv.masked(r, c + 1)) n += 1
      if (gv.masked(r + 1, c)) n += 1
      if (gv.masked(r + 1, c + 1)) n += 1
      n
    }

    @inline def quadValid(r: Int, c: Int): Boolean = {
      if (r < 0 || c < 0 || r >= rows - 1 || c >= cols - 1) false
      else {
        val n = maskCount(r, c)
        n == 0 || (cornerMask && n == 1)
      }
    }

    /** masked-corner index for a 1-masked quad: 0=TL 1=TR 2=BL 3=BR, -1 if none */
    @inline def maskedCorner(r: Int, c: Int): Int =
      if (gv.masked(r, c)) 0
      else if (gv.masked(r, c + 1)) 1
      else if (gv.masked(r + 1, c)) 2
      else if (gv.masked(r + 1, c + 1)) 3
      else -1

    /** Exit edge when entering quad (r,c) through edge `enter`. */
    private def exitEdge(r: Int, c: Int, enter: Int): Int = {
      val mc = if (gv.mask == null) -1 else maskedCorner(r, c)
      val aTL = above(r, c); val aTR = above(r, c + 1)
      val aBL = above(r + 1, c); val aBR = above(r + 1, c + 1)
      if (mc == -1) {
        val n = hId(r, c); val s = hId(r + 1, c); val w = vId(r, c); val e = vId(r, c + 1)
        val cn = aTL != aTR; val cs = aBL != aBR; val cw = aTL != aBL; val ce = aTR != aBR
        val cnt = (if (cn) 1 else 0) + (if (cs) 1 else 0) + (if (cw) 1 else 0) + (if (ce) 1 else 0)
        if (cnt == 2) {
          if (cn && enter != n) n
          else if (cs && enter != s) s
          else if (cw && enter != w) w
          else if (ce && enter != e) e
          else -1
        } else if (cnt == 4) {
          // saddle: pair by mid-point class (contourpy convention)
          val zmid = 0.25 * (gv.z(r, c) + gv.z(r, c + 1) + gv.z(r + 1, c) + gv.z(r + 1, c + 1))
          val midAbove = zmid > level
          // pairs (N,E),(W,S) iff aTL == midAbove else (N,W),(S,E)
          if (aTL == midAbove) {
            if (enter == n) e else if (enter == e) n
            else if (enter == w) s else if (enter == s) w
            else -1
          } else {
            if (enter == n) w else if (enter == w) n
            else if (enter == s) e else if (enter == e) s
            else -1
          }
        } else -1
      } else {
        // triangle: two quad edges + the diagonal opposite the masked corner
        val d = dId(r, c)
        mc match {
          case 0 => // masked TL: edges E, S, D(TR-BL)
            val e = vId(r, c + 1); val s = hId(r + 1, c)
            val ce = aTR != aBR; val cs = aBL != aBR; val cd = aTR != aBL
            if (ce && enter != e) e else if (cs && enter != s) s else if (cd && enter != d) d else -1
          case 1 => // masked TR: edges W, S, D(TL-BR)
            val w = vId(r, c); val s = hId(r + 1, c)
            val cw = aTL != aBL; val cs = aBL != aBR; val cd = aTL != aBR
            if (cw && enter != w) w else if (cs && enter != s) s else if (cd && enter != d) d else -1
          case 2 => // masked BL: edges N, E, D(TL-BR)
            val n = hId(r, c); val e = vId(r, c + 1)
            val cn = aTL != aTR; val ce = aTR != aBR; val cd = aTL != aBR
            if (cn && enter != n) n else if (ce && enter != e) e else if (cd && enter != d) d else -1
          case _ => // masked BR: edges N, W, D(TR-BL)
            val n = hId(r, c); val w = vId(r, c)
            val cn = aTL != aTR; val cw = aTL != aBL; val cd = aTR != aBL
            if (cn && enter != n) n else if (cw && enter != w) w else if (cd && enter != d) d else -1
        }
      }
    }

    /** Append the interpolated crossing point of `edge` to buf. */
    private def appendPoint(edge: Int, buf: DoubleBuf): Unit = {
      if (edge < HB) {
        val r = edge / (cols - 1); val c = edge % (cols - 1)
        val z0 = gv.z(r, c); val z1 = gv.z(r, c + 1)
        val t = (level - z0) / (z1 - z0)
        buf += xData(c) + t * (xData(c + 1) - xData(c))
        buf += yData(r)
      } else if (edge < HB + VB) {
        val e = edge - HB
        val r = e / cols; val c = e % cols
        val z0 = gv.z(r, c); val z1 = gv.z(r + 1, c)
        val t = (level - z0) / (z1 - z0)
        buf += xData(c)
        buf += yData(r) + t * (yData(r + 1) - yData(r))
      } else {
        val e = edge - HB - VB
        val r = e / (cols - 1); val c = e % (cols - 1)
        val mc = maskedCorner(r, c)
        if (mc == 0 || mc == 3) {
          // diagonal TR-BL
          val z0 = gv.z(r, c + 1); val z1 = gv.z(r + 1, c)
          val t = (level - z0) / (z1 - z0)
          buf += xData(c + 1) + t * (xData(c) - xData(c + 1))
          buf += yData(r) + t * (yData(r + 1) - yData(r))
        } else {
          // diagonal TL-BR
          val z0 = gv.z(r, c); val z1 = gv.z(r + 1, c + 1)
          val t = (level - z0) / (z1 - z0)
          buf += xData(c) + t * (xData(c + 1) - xData(c))
          buf += yData(r) + t * (yData(r + 1) - yData(r))
        }
      }
    }

    /** Quad on the other side of `edge` from quad (r,c); (-1,-1) if none. */
    @inline private def otherQuadR(edge: Int, r: Int): Int = {
      if (edge < HB) { val er = edge / (cols - 1); if (er == r) er - 1 else er }
      else if (edge < HB + VB) r
      else -2 // diagonal: no neighbor
    }
    @inline private def otherQuadC(edge: Int, c: Int): Int = {
      if (edge < HB) c
      else if (edge < HB + VB) { val ec = (edge - HB) % cols; if (ec == c) ec - 1 else ec }
      else -2
    }

    /** Walk from `start` entering quad (qr,qc); emit path into out. */
    private def walk(start: Int, qr0: Int, qc0: Int): Unit = {
      val buf = new DoubleBuf(32)
      appendPoint(start, buf)
      visited(start) = stamp
      var cur = start
      var qr = qr0
      var qc = qc0
      var closed = false
      var open = false
      while (!closed && !open) {
        val exit = exitEdge(qr, qc, cur)
        if (exit < 0) { open = true } // defensive: inconsistent quad
        else if (exit == start) {
          appendPoint(exit, buf)
          closed = true
        } else {
          appendPoint(exit, buf)
          visited(exit) = stamp
          val nr = otherQuadR(exit, qr)
          val nc = otherQuadC(exit, qc)
          if (nr == -2 || !quadValid(nr, nc)) open = true
          else { cur = exit; qr = nr; qc = nc }
        }
      }
      out += buf.toArray
    }

    /** Walk from an encoded seed unless this level already passed through
      * its edge. Seed `e` enters the quad whose N, W or diagonal edge `e`
      * is; `~e` enters the quad above an H edge or left of a V edge. */
    def startSeed(s: Int): Unit = {
      val e = if (s >= 0) s else ~s
      if (visited(e) != stamp) {
        if (e < HB) {
          val r = e / (cols - 1)
          walk(e, if (s >= 0) r else r - 1, e % (cols - 1))
        } else if (e < HB + VB) {
          val c = (e - HB) % cols
          walk(e, (e - HB) / cols, if (s >= 0) c else c - 1)
        } else {
          val d = e - HB - VB
          walk(e, d / (cols - 1), d % (cols - 1))
        }
      }
    }
  }

  /** One sweep of a grid that buckets the start edges of every level, in
    * the seed order the module scaladoc states. `bucket` classifies the
    * points, counts each level's seeds, then places them; afterwards level
    * i's seeds are `scratch.seeds(off(i) until off(i + 1))`. */
  private final class SeedSweep(w: Walker, gv: GridView, levels: Array[Double], scratch: Scratch) {
    private val rows = gv.rows
    private val cols = gv.cols
    private val n = levels.length
    scratch.ensureSweep(rows * cols, n)
    private val k = scratch.kAbove
    private val off = scratch.levelOff
    private val pos = scratch.levelPos
    private var seeds: Array[Int] = null
    private var placing = false

    def bucket(): Array[Int] = {
      classify()
      java.util.Arrays.fill(off, 0, n + 1, 0)
      placing = false
      enumerate()
      // off holds +1/-1 range ends: running sum = seeds per level
      var run = 0
      var acc = 0L
      var i = 0
      while (i < n) {
        run += off(i)
        off(i) = acc.toInt
        pos(i) = acc.toInt
        acc += run
        i += 1
      }
      require(acc <= Int.MaxValue, s"$acc contour crossings in one grid exceed the seed array")
      off(n) = acc.toInt
      scratch.ensureSeeds(acc.toInt)
      seeds = scratch.seeds
      placing = true
      enumerate()
      off
    }

    /** Levels strictly below z, by the walk's `z > level` test. */
    private def levelsBelow(z: Double): Int = {
      var lo = 0
      var hi = n
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (z > levels(mid)) lo = mid + 1 else hi = mid
      }
      lo
    }

    /** k per point (masked points are above nothing); refuses an unmasked
      * NaN, the precondition of `traceLevels`. */
    private def classify(): Unit = {
      var r = 0
      while (r < rows) {
        var c = 0
        while (c < cols) {
          val p = r * cols + c
          if (gv.masked(r, c)) k(p) = 0
          else {
            val z = gv.z(r, c)
            require(z == z, s"unmasked NaN at point ($r, $c): mask NaN voids before tracing")
            k(p) = levelsBelow(z)
          }
          c += 1
        }
        r += 1
      }
    }

    /** Seed `s` at every level its edge (endpoint counts ka, kb) crosses. */
    @inline private def add(s: Int, ka: Int, kb: Int): Unit = {
      val lo = math.min(ka, kb)
      val hi = math.max(ka, kb)
      if (lo < hi) {
        if (placing) {
          var i = lo
          while (i < hi) { seeds(pos(i)) = s; pos(i) += 1; i += 1 }
        } else {
          off(lo) += 1
          off(hi) -= 1
        }
      }
    }

    private def enumerate(): Unit = if (gv.mask == null) enumerateFast() else enumerateMasked()

    private def enumerateFast(): Unit = {
      val last = (rows - 1) * cols
      var c = 0
      while (c < cols - 1) { add(w.hId(0, c), k(c), k(c + 1)); c += 1 }
      c = 0
      while (c < cols - 1) { add(~w.hId(rows - 1, c), k(last + c), k(last + c + 1)); c += 1 }
      var r = 0
      while (r < rows - 1) {
        val p = r * cols
        add(w.vId(r, 0), k(p), k(p + cols))
        add(~w.vId(r, cols - 1), k(p + cols - 1), k(p + 2 * cols - 1))
        r += 1
      }
      // interior W edges (column 0's were seeded above as boundary edges)
      r = 0
      while (r < rows - 1) {
        val p = r * cols
        c = 1
        while (c < cols - 1) { add(w.vId(r, c), k(p + c), k(p + c + cols)); c += 1 }
        r += 1
      }
    }

    private def enumerateMasked(): Unit = {
      var r = 0
      while (r < rows - 1) {
        val p = r * cols
        var c = 0
        while (c < cols - 1) {
          if (w.quadValid(r, c)) {
            val mc = w.maskedCorner(r, c)
            val kTL = k(p + c); val kTR = k(p + c + 1)
            val kBL = k(p + cols + c); val kBR = k(p + cols + c + 1)
            if (mc != 0 && mc != 1 && !w.quadValid(r - 1, c)) add(w.hId(r, c), kTL, kTR)
            if (mc != 0 && mc != 2 && !w.quadValid(r, c - 1)) add(w.vId(r, c), kTL, kBL)
            if (mc != 2 && mc != 3 && !w.quadValid(r + 1, c)) add(~w.hId(r + 1, c), kBL, kBR)
            if (mc != 1 && mc != 3 && !w.quadValid(r, c + 1)) add(~w.vId(r, c + 1), kTR, kBR)
            if (mc == 0 || mc == 3) add(w.dId(r, c), kTR, kBL)
            else if (mc >= 0) add(w.dId(r, c), kTL, kBR)
          }
          c += 1
        }
        r += 1
      }
      // interior W edges: one with no valid quad beyond it was seeded above
      // as a boundary edge
      r = 0
      while (r < rows - 1) {
        val p = r * cols
        var c = 0
        while (c < cols - 1) {
          if (w.quadValid(r, c)) {
            val mc = w.maskedCorner(r, c)
            if (mc != 0 && mc != 2 && w.quadValid(r, c - 1)) add(w.vId(r, c), k(p + c), k(p + cols + c))
          }
          c += 1
        }
        r += 1
      }
    }
  }

  /** Trace every level of `levels` (strictly ascending) from one sweep of
    * the grid. For each level in order, `emit(i, paths)` receives the paths
    * of `levels(i)` before the next level is walked; the paths equal what
    * `trace` returns for that level, in the same order. `emit` must not
    * trace with the same `scratch`: it holds the remaining levels' seeds. */
  def traceLevels(
      gv: GridView,
      xData: Array[Double],
      yData: Array[Double],
      levels: Array[Double],
      cornerMask: Boolean,
      scratch: Scratch)(emit: (Int, ArrayBuffer[Array[Double]]) => Unit): Unit = {
    var i = 1
    while (i < levels.length) {
      require(levels(i - 1) < levels(i),
        s"levels must be strictly ascending: ${levels(i - 1)} then ${levels(i)}")
      i += 1
    }
    if (gv.rows < 2 || gv.cols < 2 || levels.isEmpty) {
      levels.indices.foreach(l => emit(l, new ArrayBuffer[Array[Double]]()))
      return
    }
    val w = new Walker(gv, xData, yData, cornerMask, scratch)
    val off = new SeedSweep(w, gv, levels, scratch).bucket()
    val seeds = scratch.seeds
    var l = 0
    while (l < levels.length) {
      val out = w.begin(levels(l))
      var j = off(l)
      while (j < off(l + 1)) { w.startSeed(seeds(j)); j += 1 }
      emit(l, out)
      l += 1
    }
  }

  /** Trace all iso-lines of `level`. Returns interleaved-coordinate paths;
    * closed paths have first point repeated as last (exact copy). Scans
    * the rows whose range spans `level` for start edges, then walks them
    * in scan order (walks only mark edges visited, so deferring them past
    * the scan changes nothing, and keeps the walk out of the scan loops). */
  def trace(
      gv: GridView,
      xData: Array[Double],
      yData: Array[Double],
      level: Double,
      cornerMask: Boolean,
      scratch: Scratch,
      stats: (Array[Double], Array[Double]) = null): ArrayBuffer[Array[Double]] = {
    val rows = gv.rows
    val cols = gv.cols
    if (rows < 2 || cols < 2) return new ArrayBuffer[Array[Double]]()
    val w = new Walker(gv, xData, yData, cornerMask, scratch)
    val out = w.begin(level)
    val seeds = new IntBuf(256)

    // per-point-row min/max over valid points, for fast row skipping
    val (rowMin, rowMax) = if (stats != null) stats else rowStats(gv)
    @inline def rowSkip(r: Int): Boolean = {
      // quad row r spans point rows r, r+1: skip if all valid points above or all below
      val mn = math.min(rowMin(r), rowMin(r + 1))
      val mx = math.max(rowMax(r), rowMax(r + 1))
      mn > level || mx <= level
    }

    if (gv.mask == null) {
      // Fast path (no voids): boundary starts exist only on the grid
      // border, and interior loop detection scans row classification
      // bitmaps (2 boolean reads per quad instead of 4 float loads).
      scratch.ensureRows(cols)
      // Pass 1: border crossings. Top row (N edges), bottom row (S edges),
      // then left/right columns (W/E edges), mirroring the general path's
      // per-quad N,W,S,E order closely enough for deterministic output.
      if (!rowSkip(0)) {
        var c = 0
        while (c < cols - 1) {
          if (w.above(0, c) != w.above(0, c + 1)) seeds += w.hId(0, c)
          c += 1
        }
      }
      val rb = rows - 2
      if (!rowSkip(rb)) {
        var c = 0
        while (c < cols - 1) {
          if (w.above(rb + 1, c) != w.above(rb + 1, c + 1)) seeds += ~w.hId(rb + 1, c)
          c += 1
        }
      }
      var r = 0
      while (r < rows - 1) {
        if (!rowSkip(r)) {
          if (w.above(r, 0) != w.above(r + 1, 0)) seeds += w.vId(r, 0)
          if (w.above(r, cols - 1) != w.above(r + 1, cols - 1)) seeds += ~w.vId(r, cols - 1)
        }
        r += 1
      }
      // Pass 2: interior loops via rolling row bitmaps.
      var aTop = scratch.aboveA
      var aBot = scratch.aboveB
      var lastRow = -2
      @inline def fill(row: Int, arr: Array[Boolean]): Unit = {
        var c = 0
        while (c < cols) { arr(c) = gv.z(row, c) > level; c += 1 }
      }
      r = 0
      while (r < rows - 1) {
        if (!rowSkip(r)) {
          if (lastRow == r - 1) {
            val t = aTop; aTop = aBot; aBot = t
            fill(r + 1, aBot)
          } else {
            fill(r, aTop)
            fill(r + 1, aBot)
          }
          lastRow = r
          var c = 0
          while (c < cols - 1) {
            // a load-only search to the next quad with a crossing N or W
            // edge keeps the seed stores out of the hot loop
            while (c < cols - 1 && aTop(c) == aTop(c + 1) && aTop(c) == aBot(c)) c += 1
            if (c < cols - 1) {
              val tl = aTop(c)
              if (tl != aTop(c + 1)) seeds += w.hId(r, c)
              if (tl != aBot(c)) seeds += w.vId(r, c)
              c += 1
            }
          }
        }
        r += 1
      }
    } else {
      // General (masked) path.
      // Pass 1: boundary starts.
      var r = 0
      while (r < rows - 1) {
        if (!rowSkip(r)) {
          var c = 0
          while (c < cols - 1) {
            if (w.quadValid(r, c)) {
              val mc = w.maskedCorner(r, c)
              val aTL = w.above(r, c); val aTR = w.above(r, c + 1)
              val aBL = w.above(r + 1, c); val aBR = w.above(r + 1, c + 1)
              // candidate boundary edges of this quad's geometry, scan order N,W,S,E,D
              if (mc != 0 && mc != 1 && aTL != aTR && !w.quadValid(r - 1, c)) seeds += w.hId(r, c)
              if (mc != 0 && mc != 2 && aTL != aBL && !w.quadValid(r, c - 1)) seeds += w.vId(r, c)
              if (mc != 2 && mc != 3 && aBL != aBR && !w.quadValid(r + 1, c)) seeds += ~w.hId(r + 1, c)
              if (mc != 1 && mc != 3 && aTR != aBR && !w.quadValid(r, c + 1)) seeds += ~w.vId(r, c + 1)
              // D edge (always boundary)
              if (mc >= 0) {
                val cd = mc match {
                  case 0 | 3 => aTR != aBL
                  case _     => aTL != aBR
                }
                if (cd) seeds += w.dId(r, c)
              }
            }
            c += 1
          }
        }
        r += 1
      }

      // Pass 2: interior closed loops (any unvisited crossing is on a loop).
      r = 0
      while (r < rows - 1) {
        if (!rowSkip(r)) {
          var c = 0
          while (c < cols - 1) {
            if (w.quadValid(r, c)) {
              val mc = w.maskedCorner(r, c)
              if (mc != 0 && mc != 1 && w.above(r, c) != w.above(r, c + 1)) seeds += w.hId(r, c)
              if (mc != 0 && mc != 2 && w.above(r, c) != w.above(r + 1, c)) seeds += w.vId(r, c)
            }
            c += 1
          }
        }
        r += 1
      }
    }
    var i = 0
    while (i < seeds.len) { w.startSeed(seeds.arr(i)); i += 1 }
    out
  }
}
