package graftbench

import graft.core.{Grid, JobConfig}
import graft.core.MarchingSquares.GridView

/** Seeded SRTM1-layout terrain (3-arcsecond, 1201 x 1201 big-endian int16
  * `.hgt`), calibrated against the reference's one published real-terrain
  * figure (README: tile lon 6..7 lat 43.00..43.25 at step 10 m gives
  * 869,685 nodes with RDP off and 559,678 with eps = 1e-5, i.e. ~3.48M
  * nodes per full tile and a 0.64 keep ratio).
  *
  * The field is fractal value noise in global cell coordinates, so adjacent
  * tiles join seamlessly. Many independent lattice features per tile keep
  * the node count steady across seeds (a few large sinusoids, as in
  * `graft.synth.SynthDem`, make it swing with the phases). Real terrain is
  * smooth at the cell scale; the finest octaves and the sub-metre jitter
  * set how many traced points RDP can drop. */
object Dem {
  val Side = 1201

  // octave wavelengths in cells (1 cell = 3 arcsec) and the mean slope
  // (metres per cell) each contributes; amplitude = slope * wavelength.
  // The slopes set the raw node count, the finest octave and the jitter
  // set the RDP keep ratio. No octave is wider than ~1/5 tile: wider ones
  // leave too few features per tile and the node count swings by seed.
  private val Wavelengths = Array(256, 128, 64, 32, 16, 8)
  private val Slope = Array(7.4, 8.3, 8.3, 8.3, 7.0, 3.0)
  private val Jitter = 0.3 // metres of per-cell noise
  private val Base = 4500.0 // keeps the field clear of the 0 m clamp

  private def mix(x: Long): Long = graft.functions.SplitMix64.mix(x)

  private def lattice(seed: Long, octave: Int, ix: Long, iy: Long): Double = {
    val h = mix(mix(mix(seed * 0x9e3779b97f4a7c15L + octave) + ix) + iy)
    (h >>> 11) * (2.0 / (1L << 53)) - 1.0
  }

  @inline private def fade(t: Double): Double = t * t * t * (t * (t * 6 - 15) + 10)

  private def valueNoise(seed: Long, octave: Int, x: Long, y: Long, wl: Int): Double = {
    val ix = Math.floorDiv(x, wl.toLong)
    val iy = Math.floorDiv(y, wl.toLong)
    val fx = fade((x - ix * wl).toDouble / wl)
    val fy = fade((y - iy * wl).toDouble / wl)
    val a = lattice(seed, octave, ix, iy)
    val b = lattice(seed, octave, ix + 1, iy)
    val c = lattice(seed, octave, ix, iy + 1)
    val d = lattice(seed, octave, ix + 1, iy + 1)
    val top = a + (b - a) * fx
    val bot = c + (d - c) * fx
    top + (bot - top) * fy
  }

  /** Elevation in metres at row r (north->south), col c of tile (lat0, lon0). */
  def elevation(seed: Long, lat0: Int, lon0: Int, r: Int, c: Int): Short = {
    val x = lon0.toLong * (Side - 1) + c
    val y = (lat0.toLong + 1) * (Side - 1) - r
    var z = Base
    var o = 0
    while (o < Wavelengths.length) {
      z += Slope(o) * Wavelengths(o) * valueNoise(seed, o, x, y, Wavelengths(o))
      o += 1
    }
    z += Jitter * lattice(seed, 99, x, y)
    math.max(0L, math.min(8000L, math.round(z))).toShort
  }

  def hgtBytes(seed: Long, lat0: Int, lon0: Int): Array[Byte] = {
    val bytes = new Array[Byte](Side * Side * 2)
    var i = 0
    var r = 0
    while (r < Side) {
      var c = 0
      while (c < Side) {
        val z = elevation(seed, lat0, lon0, r, c)
        bytes(i) = (z >> 8).toByte
        bytes(i + 1) = (z & 0xff).toByte
        i += 2
        c += 1
      }
      r += 1
    }
    bytes
  }

  /** Writes `<dir>/<key>.hgt` and returns its path. */
  def writeHgt(dir: java.nio.file.Path, seed: Long, lat0: Int, lon0: Int): String = {
    java.nio.file.Files.createDirectories(dir)
    val p = dir.resolve(graft.core.Hgt.tileKey(lat0, lon0) + ".hgt")
    java.nio.file.Files.write(p, hgtBytes(seed, lat0, lon0))
    p.toString
  }

  /** (raw nodes, nodes after RDP eps = 1e-5) for one whole tile at step
    * 10 m, the two calibration figures. */
  def calibration(seed: Long, lat0: Int, lon0: Int): (Long, Long) = {
    val g: Grid = graft.core.Hgt.decode(hgtBytes(seed, lat0, lon0))
    val bbox = graft.core.BBox(lon0, lat0, lon0 + 1, lat0 + 1)
    val inc = 1.0 / (Side - 1)
    def nodes(eps: Option[Double]): Long =
      graft.core.ContourGen.tileContours(GridView.full(g), bbox, inc, inc,
        JobConfig(contourStepSize = 10, rdpEpsilon = eps)).nbNodes
    (nodes(None), nodes(Some(1e-5)))
  }

  /** Node-count estimates of the slices the engine chops tile (lat0, lon0)
    * into at step 10 m with the default 1M-node limit: one Spark task each. */
  def sliceEstimates(seed: Long, lat0: Int, lon0: Int): Seq[Double] = {
    val g: Grid = graft.core.Hgt.decode(hgtBytes(seed, lat0, lon0))
    val bbox = graft.core.BBox(lon0, lat0, lon0 + 1, lat0 + 1)
    val inc = 1.0 / (Side - 1)
    val cfg = JobConfig(contourStepSize = 10)
    graft.core.Chop.chop(g, graft.core.Chop.truncate(None, bbox, g.rows, g.cols, inc, inc), inc,
      cfg.contourStepSize, cfg.maxNodesPerTile).map { s =>
      graft.core.Chop.estimNumOfNodes(
        new GridView(g.values, g.mask, s.rowOff * g.cols + s.colOff, g.cols, s.rows, s.cols), 10)
    }
  }

  /** Prints the calibration figures for a few seeds: `Dem [seed ...]`;
    * `Dem slices [seed ...]` prints the slices of the tile_pbf tiles. */
  def main(args: Array[String]): Unit = {
    val slices = args.headOption.contains("slices")
    val rest = if (slices) args.tail else args
    val seeds = if (rest.isEmpty) Seq(1L, 2L, 3L) else rest.toSeq.map(_.toLong)
    seeds.foreach { s =>
      if (slices) {
        val est = Seq(6, 7).map(lon => sliceEstimates(s, 43, lon))
        println(f"seed $s slices ${est.map(_.size).sum} " +
          est.map(_.map(e => f"${e / 1e6}%.2f").mkString("[", " ", "]")).mkString(" "))
      } else {
        val (raw, kept) = calibration(s, 43, 6)
        println(f"seed $s raw_nodes $raw keep_ratio ${kept.toDouble / raw}%.4f")
      }
    }
  }
}
