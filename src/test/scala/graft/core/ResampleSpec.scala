package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ResampleSpec extends AnyFunSuite {

  test("zoom shape matches scipy convention round(n * ratio)") {
    val g = Grid(4, 4, Array.fill(16)(100f), null)
    val z = Resample.zoom(g, 3.0)
    assert(z.rows == 12 && z.cols == 12)
  }

  test("constant grid stays constant (rounding, no ringing)") {
    val g = Grid(5, 5, Array.fill(25)(42f), null)
    val z = Resample.zoom(g, 2.0)
    assert(z.values.forall(_ == 42f))
  }

  test("endpoints preserved, interpolation monotone on a ramp") {
    val vals = Array.tabulate(16)(i => (i % 4) * 30f) // rows of 0,30,60,90
    val g = Grid(4, 4, vals, null)
    val z = Resample.zoom(g, 2.0)
    // corners preserved
    assert(z.values(0) == 0f)
    assert(z.values(z.cols - 1) == 90f)
    // each row still non-decreasing
    (0 until z.rows).foreach { r =>
      val row = (0 until z.cols).map(c => z.values(r * z.cols + c))
      assert(row == row.sorted, s"row $r not monotone: $row")
    }
  }

  test("values are rounded to whole meters; mask upsampled order-0") {
    val mask = Array(false, false, true, false)
    val g = Grid(2, 2, Array(0f, 1f, 2f, 3f), mask)
    val z = Resample.zoom(g, 2.0)
    assert(z.values.forall(v => v == math.round(v).toFloat))
    assert(z.mask != null)
    // nearest-neighbour mask: void region survives as a block, no blending
    assert(z.mask.count(identity) > 0 && z.mask.count(identity) < z.mask.length)
  }

  test("a masked NaN void does not leak into its neighbours' values") {
    // a float GeoTIFF keeps NaN under the mask, and the kernel reads it
    val values = Array.fill(36)(100f)
    values(14) = Float.NaN
    val mask = new Array[Boolean](36)
    mask(14) = true
    val z = Resample.zoom(Grid(6, 6, values, mask), 2.0)
    val bad = z.values.indices.filter(i => !z.mask(i) && z.values(i) != 100f)
    assert(bad.isEmpty, s"unmasked outputs not 100: ${bad.map(i => (i / z.cols, i % z.cols, z.values(i)))}")
    assert(z.mask.count(identity) < z.mask.length)
  }

  test("smoothed contour pipeline: 3x ratio triples grid resolution") {
    val fixture = "/root/reference/tests/data/N43E006.hgt"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(fixture)))
    val raw = Hgt.decode(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(fixture)))
    val z = Resample.zoom(raw, 3.0)
    assert(z.rows == 3603 && z.cols == 3603)
    // smoothing preserves the elevation range approximately
    import graft.core.MarchingSquares.GridView
    val (mnR, mxR) = Chop.elevRange(GridView.full(raw))
    val (mnZ, mxZ) = Chop.elevRange(GridView.full(z))
    assert(math.abs(mnR - mnZ) <= 30 && math.abs(mxR - mxZ) <= 30)
  }
}
