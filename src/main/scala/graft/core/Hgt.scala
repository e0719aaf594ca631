package graft.core

/** SRTM `.hgt` decoding and filename/bbox codecs.
  *
  * Semantics mirror /root/reference/pyhgtmap/hgt/file.py:92-129 (filename
  * parse) and :449-498 (big-endian int16 grid decode, void masking), and
  * /root/reference/pyhgtmap/latlon.py:12-63 (lat/lon <-> key codec).
  */
object Hgt {

  /** meters -> feet scale (reference pyhgtmap/hgt/tile.py:19). */
  val Meters2Feet: Double = 1.0 / 0.3048

  /** Scale all valid values meters->feet (reference file.py:484-485). */
  def toFeet(g: Grid): Grid = {
    val out = new Array[Float](g.values.length)
    var i = 0
    while (i < g.values.length) {
      out(i) = (g.values(i) * Meters2Feet).toFloat
      i += 1
    }
    Grid(g.rows, g.cols, out, g.mask)
  }

  /** Parse `[N|S]YY[E|W]XXX.hgt` into the 1x1 degree bbox.
    * Reference: pyhgtmap/hgt/file.py:92-129. */
  def parseHgtFilename(filename: String, corrx: Double = 0.0, corry: Double = 0.0): BBox = {
    val base = filename.split('/').last
    val m = "^([NS])(\\d{2})([EW])(\\d{3})".r.findFirstMatchIn(base.toUpperCase)
      .getOrElse(throw new IllegalArgumentException(s"cannot parse hgt filename: $filename"))
    val lat0 = m.group(2).toInt * (if (m.group(1) == "N") 1 else -1)
    val lon0 = m.group(4).toInt * (if (m.group(3) == "E") 1 else -1)
    BBox(lon0 + corrx, lat0 + corry, lon0 + 1 + corrx, lat0 + 1 + corry)
  }

  /** lat/lon -> `N43E006` style key. Reference: pyhgtmap/latlon.py:12-40. */
  def tileKey(lat: Int, lon: Int, latPadding: Int = 2): String = {
    val ns = if (lat >= 0) "N" else "S"
    val ew = if (lon >= 0) "E" else "W"
    val latS = math.abs(lat).toString.reverse.padTo(latPadding, '0').reverse
    f"$ns$latS%s$ew${math.abs(lon)}%03d"
  }

  /** Floor to a multiple (Python `//`-division semantics, so -43 rounds to
    * -45 for multiple 5). Reference round_to, latlon.py:52-65. */
  def roundToMultiple(v: Int, multiple: Int): Int =
    math.floorDiv(v, multiple) * multiple

  /** ALOS 5-degree group key, e.g. (43, 6) -> `N040E005` (reference
    * sources/alos.py:51: round_to(5).to_string(lat_padding=3)). */
  def alosGroupKey(lat: Int, lon: Int): String =
    tileKey(roundToMultiple(lat, 5), roundToMultiple(lon, 5), latPadding = 3)

  /** Decode raw `.hgt` bytes: square big-endian int16 grid, side inferred
    * from byte length; void cells (<= voidMax) masked.
    * Reference: pyhgtmap/hgt/file.py:458-483. */
  def decode(bytes: Array[Byte], voidMax: Int = -0x8000): Grid = {
    val n = bytes.length / 2
    val side = math.sqrt(n.toDouble).toInt
    require(side * side == n, s"hgt byte length ${bytes.length} is not a 2*k^2")
    // a 1x1 or empty grid has no cell spacing: tiles divide by side - 1
    require(side >= 2,
      s"hgt byte length ${bytes.length} is a ${side}x$side grid; a side below 2 has no cell spacing")
    val values = new Array[Float](n)
    var mask: Array[Boolean] = null
    var i = 0
    while (i < n) {
      val hi = bytes(2 * i)
      val lo = bytes(2 * i + 1)
      val v = ((hi << 8) | (lo & 0xff)).toShort
      values(i) = v.toFloat
      if (v <= voidMax) {
        if (mask == null) mask = new Array[Boolean](n)
        mask(i) = true
      }
      i += 1
    }
    Grid(side, side, values, mask)
  }

  /** Grid x axis: lon of each column. Matches numpy
    * `arange(cols)*lonInc + minLon` (pyhgtmap/hgt/tile.py:57). */
  def xData(minLon: Double, lonInc: Double, cols: Int): Array[Double] = {
    val a = new Array[Double](cols)
    var i = 0
    while (i < cols) { a(i) = i * lonInc + minLon; i += 1 }
    a
  }

  /** Grid y axis: lat of each row (north->south). Matches numpy
    * `arange(rows)*latInc*(-1) + maxLat` (pyhgtmap/hgt/tile.py:58). */
  def yData(maxLat: Double, latInc: Double, rows: Int): Array[Double] = {
    val a = new Array[Double](rows)
    var i = 0
    while (i < rows) { a(i) = i * latInc * (-1.0) + maxLat; i += 1 }
    a
  }
}
