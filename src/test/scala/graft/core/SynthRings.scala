package graft.core

import MarchingSquares.{GridView, Scratch}

/** Closed contour rings of the SynthDem tile N43E006 (601 x 601 samples,
  * 20 m levels, lon/lat in [6, 7] x [43, 44]) with at least 1,000
  * vertices: the many-vertex rings PreparedPolygon indexes in many bands. */
object SynthRings {
  lazy val rings: Seq[Array[Double]] = {
    val side = 601
    val values = Array.tabulate[Float](side * side)(k =>
      graft.synth.SynthDem.elevation(43, 6, k / side, k % side, side).toFloat)
    val gv = GridView.full(Grid(side, side, values, null))
    val inc = 1.0 / (side - 1)
    val xs = Hgt.xData(6.0, inc, side)
    val ys = Hgt.yData(44.0, inc, side)
    val scratch = new Scratch
    (0 to 1400 by 20).flatMap { level =>
      MarchingSquares.trace(gv, xs, ys, level.toDouble, cornerMask = true, scratch)
        .filter(p => p.length >= 2000 && p(0) == p(p.length - 2) && p(1) == p(p.length - 1))
    }
  }
}
