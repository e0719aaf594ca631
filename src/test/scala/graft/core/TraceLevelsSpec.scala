package graft.core

import scala.collection.mutable.ArrayBuffer
import org.scalatest.funsuite.AnyFunSuite
import MarchingSquares.{GridView, Scratch}

/** `traceLevels` (every level from one sweep) against the per-level
  * `trace`: for every level, the same paths in the same order, compared
  * as exact `Array[Double]` bits. One sweep scratch is reused across all
  * grids, as a task reuses it across its slices. */
class TraceLevelsSpec extends AnyFunSuite {

  private val sweepScratch = new Scratch

  private def axes(rows: Int, cols: Int): (Array[Double], Array[Double]) =
    (Array.tabulate(cols)(c => 6.0 + c * 0.01), Array.tabulate(rows)(r => 44.0 - r * 0.01))

  /** Sweep all `levels` of `gv` once and hold each level's paths to
    * `trace` at that level; returns the number of paths compared. */
  private def sameAsTrace(gv: GridView, levels: Array[Double], what: String,
      cornerMask: Boolean = true): Int = {
    val (xs, ys) = axes(gv.rows, gv.cols)
    val seen = new ArrayBuffer[Int]()
    var compared = 0
    MarchingSquares.traceLevels(gv, xs, ys, levels, cornerMask, sweepScratch) { (i, got) =>
      seen += i
      val want = MarchingSquares.trace(gv, xs, ys, levels(i), cornerMask, new Scratch)
      assert(got.size == want.size, s"$what level ${levels(i)}: ${got.size} paths, trace ${want.size}")
      got.indices.foreach { j =>
        assert(java.util.Arrays.equals(got(j), want(j)),
          s"$what level ${levels(i)} path $j: ${got(j).toSeq} vs ${want(j).toSeq}")
      }
      compared += got.size
    }
    assert(seen == levels.indices, s"$what: levels emitted out of order or missed")
    compared
  }

  private def grid(rows: Int, cols: Int, vals: Float*): GridView =
    GridView.full(Grid(rows, cols, vals.toArray, null))

  private def synth(side: Int): Array[Float] =
    Array.tabulate[Float](side * side)(k => graft.synth.SynthDem.elevation(43, 6, k / side, k % side, side).toFloat)

  test("SynthDem tile and offset slices: every level equals trace") {
    val side = 241
    val values = synth(side)
    val full = GridView.full(Grid(side, side, values, null))
    val (mn, mx) = Chop.elevRange(full)
    // step 10 on integer elevations: many points sit exactly on a level
    val levels = Levels.levels(mn, mx, 10).map(_.toDouble).toArray
    assert(sameAsTrace(full, levels, "full tile") > 1000)
    // GridView slices with a base offset, as the chopper makes them
    assert(sameAsTrace(GridView.slice(Grid(side, side, values, null), 60, 81), levels, "row slice") > 100)
    assert(sameAsTrace(new GridView(values, null, 100 * side + 37, side, 90, 150), levels, "row+col slice") > 100)
  }

  test("random grids with void blobs and single masked corners (masked path)") {
    val rnd = new scala.util.Random(7)
    var compared = 0
    (0 until 300).foreach { t =>
      val rows = 2 + rnd.nextInt(18)
      val cols = 2 + rnd.nextInt(18)
      val values = Array.fill(rows * cols)(rnd.nextInt(41).toFloat)
      val mask = new Array[Boolean](rows * cols)
      // one void blob and a few isolated masked points (single masked corners)
      val (br, bc, rad) = (rnd.nextInt(rows), rnd.nextInt(cols), rnd.nextInt(4))
      for (r <- 0 until rows; c <- 0 until cols)
        if ((r - br) * (r - br) + (c - bc) * (c - bc) <= rad * rad && t % 3 != 0) mask(r * cols + c) = true
      (0 until rnd.nextInt(4)).foreach(_ => mask(rnd.nextInt(rows * cols)) = true)
      val gv = GridView.full(Grid(rows, cols, values, mask))
      // integer levels sit exactly on grid values; the half levels do not
      val levels = (0 to 80).map(_ * 0.5).toArray
      compared += sameAsTrace(gv, levels, s"masked grid $t ${rows}x$cols")
      compared += sameAsTrace(gv, levels, s"masked grid $t ${rows}x$cols no corner mask", cornerMask = false)
    }
    assert(compared > 10000)
  }

  test("random unmasked grids (fast path), float values") {
    val rnd = new scala.util.Random(11)
    (0 until 300).foreach { t =>
      val rows = 2 + rnd.nextInt(25)
      val cols = 2 + rnd.nextInt(25)
      val values = Array.fill(rows * cols)((rnd.nextGaussian() * 30).toFloat)
      val levels = (-90 to 90 by 5).map(_.toDouble).toArray
      sameAsTrace(GridView.full(Grid(rows, cols, values, null)), levels, s"fast grid $t ${rows}x$cols")
    }
  }

  test("saddles: checkerboard with the quad mean exactly on, above and below a level") {
    val g = grid(5, 5,
      0, 10, 0, 10, 0,
      10, 0, 10, 0, 10,
      0, 10, 0, 10, 0,
      10, 0, 10, 0, 10,
      0, 10, 0, 10, 0)
    assert(sameAsTrace(g, Array(4.0, 5.0, 6.0), "checkerboard") > 0)
    val m = new Array[Boolean](25)
    m(12) = true // centre masked: its four quads become triangles
    assert(sameAsTrace(GridView.full(Grid(5, 5, g.values, m)), Array(4.0, 5.0, 6.0), "checkerboard masked") > 0)
    assert(sameAsTrace(grid(2, 2, 10, 0, 0, 10), Array(4.0, 5.0, 6.0), "2x2 saddle") > 0)
  }

  test("plateaus exactly at a level, and levels at the grid's min and max") {
    val g = grid(5, 6,
      10, 10, 10, 30, 30, 30,
      10, 20, 20, 20, 30, 30,
      10, 20, 20, 20, 20, 30,
      10, 10, 20, 20, 10, 10,
      10, 10, 10, 10, 10, 10)
    assert(sameAsTrace(g, Array(10.0, 20.0, 30.0), "plateau") > 0)
    assert(sameAsTrace(g, Array(9.0, 10.0, 15.0, 20.0, 25.0, 30.0, 31.0), "min/max levels") > 0)
    val flat = grid(3, 3, 20, 20, 20, 20, 20, 20, 20, 20, 20)
    assert(sameAsTrace(flat, Array(19.0, 20.0, 21.0), "flat at a level") == 0)
  }

  test("2x2, 1-row and 1-column grids") {
    assert(sameAsTrace(grid(2, 2, 0, 10, 20, 30), Array(5.0, 15.0, 25.0), "2x2") == 3)
    assert(sameAsTrace(grid(1, 4, 0, 10, 20, 30), Array(5.0, 15.0), "1 row") == 0)
    assert(sameAsTrace(grid(4, 1, 0, 10, 20, 30), Array(5.0, 15.0), "1 column") == 0)
    assert(sameAsTrace(grid(2, 5, 0, 10, 20, 10, 0, 5, 15, 25, 15, 5), Array(7.0, 12.0, 22.0), "2 rows") > 0)
    assert(sameAsTrace(grid(5, 2, 0, 5, 10, 15, 20, 15, 10, 5, 0, 5), Array(7.0, 12.0), "2 columns") > 0)
  }

  test("an unmasked NaN point classifies as below every level, as in trace") {
    val nan = Float.NaN
    // rows 0-1 hold only values above 5 besides the NaN, so trace's row
    // statistics (which skip NaN) pass over quad row 0 at level 5
    val g = grid(4, 4,
      10, 10, 10, 10,
      10, nan, 10, 10,
      10, 10, 10, 0,
      10, 10, 0, 0)
    assert(sameAsTrace(g, Array(5.0, 7.5), "NaN fast path") > 0)
    val m = new Array[Boolean](16)
    m(15) = true
    assert(sameAsTrace(GridView.full(Grid(4, 4, g.values, m)), Array(5.0, 7.5), "NaN masked path") > 0)
    val rnd = new scala.util.Random(5)
    (0 until 200).foreach { t =>
      val rows = 2 + rnd.nextInt(12)
      val cols = 2 + rnd.nextInt(12)
      val values = Array.fill(rows * cols)(if (rnd.nextInt(8) == 0) nan else rnd.nextInt(21).toFloat)
      val mask = if (t % 2 == 0) null else Array.fill(rows * cols)(rnd.nextInt(10) == 0)
      sameAsTrace(GridView.full(Grid(rows, cols, values, mask)), (0 to 20).map(_ + 0.5).toArray, s"NaN grid $t")
    }
  }

  test("levels must be strictly ascending") {
    val g = grid(2, 2, 0, 10, 20, 30)
    val (xs, ys) = axes(2, 2)
    assertThrows[IllegalArgumentException](
      MarchingSquares.traceLevels(g, xs, ys, Array(5.0, 5.0), cornerMask = true, new Scratch)((_, _) => ()))
    assertThrows[IllegalArgumentException](
      MarchingSquares.traceLevels(g, xs, ys, Array(15.0, 5.0), cornerMask = true, new Scratch)((_, _) => ()))
  }
}
