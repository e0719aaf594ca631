package graft.core

/** Minimal GeoTIFF decoder for DEM rasters — no GDAL: int16 / int32 /
  * float32 samples in strip OR tile layout, uncompressed / DEFLATE /
  * TIFF-LZW / PackBits, with the optional horizontal predictor (2, on
  * integer samples) and the TechNote3 floating-point predictor (3, on
  * float32) — the layouts GDAL actually writes for real-world DEM
  * products (the reference's fixtures are uncompressed strips;
  * Copernicus/USGS distributions are tiled + DEFLATE/LZW, float
  * products often PREDICTOR=3). Reads the geotransform (ModelPixelScale
  * + ModelTiepoint) and the CRS EPSG code from the GeoKey directory.
  *
  * Mirrors the semantics of the reference's GDAL-based loader
  * (/root/reference/pyhgtmap/hgt/file.py:500-555 init_as_geotiff,
  * file.py:169-242 parse_geotiff_bbox): pixel-center bbox, void mask from
  * `value <= voidMax`, row-major north-to-south grid.
  */
object Tiff {

  final case class GeoTiff(
      grid: Grid,
      originX: Double, // geotransform[0]: x of the OUTER corner of pixel (0,0)
      originY: Double, // geotransform[3]
      scaleX: Double, // pixel width (positive)
      scaleY: Double, // pixel height (positive; rows go north->south)
      epsg: Int,
      nodata: Option[Double],
      // non-empty for user-defined CRSs (ProjectedCSTypeGeoKey = 32767):
      // a Crs spec string built from the ProjCoordTrans parameter GeoKeys
      // (see Crs.projSpecString) — takes precedence over `epsg` in
      // Crs.projection(epsg, spec)
      spec: String = "") {

    /** Pixel-center bbox in the file's native CRS (reference
      * parse_geotiff_bbox math, file.py:196-201). */
    def bbox: BBox = {
      val minLon = originX + 0.5 * scaleX
      val maxLat = originY - 0.5 * scaleY
      val maxLon = minLon + (grid.cols - 1) * scaleX
      val minLat = maxLat - (grid.rows - 1) * scaleY
      BBox(minLon, minLat, maxLon, maxLat)
    }
  }

  def isTiff(path: String): Boolean = {
    val p = path.toLowerCase
    p.endsWith(".tif") || p.endsWith(".tiff")
  }

  def decode(bytes: Array[Byte], voidMax: Int = -0x8000): GeoTiff = {
    val mark = Bytes.Reader(bytes, "TIFF").u16(0, "byte-order mark")
    require(mark == 0x4949 || mark == 0x4d4d, "not a TIFF: bad byte-order mark")
    // every read below is bounds-checked against the file; this decoder
    // holds the WHOLE file in one array, so an offset past it (in
    // particular a BigTIFF 8-byte offset past 2 GiB) refuses by name
    val in = Bytes.Reader(bytes, "TIFF", le = mark == 0x4949)
    // classic TIFF (magic 42: 4-byte offsets/counts, 12-byte IFD entries)
    // or BigTIFF (magic 43: 8-byte offsets/counts, 20-byte entries, LONG8
    // types — how ArcticDEM/REMA mosaic tiles over 4 GiB actually ship)
    val magic = in.u16(2, "magic")
    require(magic == 42 || magic == 43, s"not a TIFF: bad magic $magic")
    val big = magic == 43
    if (big) require(in.u16(4, "offset size") == 8 && in.u16(6, "header pad") == 0,
      s"BigTIFF: unsupported offset size ${in.u16(4, "offset size")}")
    val inlineCap = if (big) 8 else 4 // value bytes stored inside the entry
    def uOff(at: Long, field: String): Long = if (big) in.u64(at, field) else in.u32(at, field)

    final case class Entry(typ: Int, count: Long, valOff: Long)
    val ifdOff = uOff(if (big) 8 else 4, "IFD offset")
    val nEntries = if (big) in.u64(ifdOff, "IFD entry count") else in.u16(ifdOff, "IFD entry count").toLong
    val entry0 = in.check(ifdOff + (if (big) 8 else 2), nEntries, if (big) 20 else 12, "IFD entries")
    val tags = scala.collection.mutable.Map.empty[Int, Entry]
    var i = 0
    while (i < nEntries) {
      val e = entry0 + (if (big) 20L else 12L) * i
      val cnt = uOff(e + 4, "tag count")
      tags(in.u16(e, "tag id")) = Entry(in.u16(e + 2, "tag type"), cnt, e + (if (big) 12 else 8))
      i += 1
    }
    def typeSize(t: Int): Int = t match {
      case 1 | 2 | 6 | 7 => 1; case 3 | 8 => 2; case 4 | 9 | 11 => 4
      case 5 | 10 | 12 | 16 | 17 | 18 => 8 // RATIONAL/DOUBLE/LONG8/SLONG8/IFD8
      case other => throw new IllegalArgumentException(s"TIFF type $other")
    }
    /** Where a tag's values start, inline or at its value offset; the
      * count is checked against the bytes present before anything sized
      * by it is allocated. */
    def valuesAt(tag: Int, e: Entry, sz: Int): Int = {
      val inline = e.count >= 0 && e.count <= inlineCap / sz
      in.check(if (inline) e.valOff else uOff(e.valOff, s"tag-$tag value offset"), e.count, sz, s"tag-$tag values")
    }
    /** Values of a tag as Longs (SHORT/LONG/LONG8) following the
      * inline-vs-offset rule of the container variant. */
    def longs(tag: Int): Array[Long] = tags.get(tag) match {
      case None => Array.empty
      case Some(e) =>
        val sz = typeSize(e.typ)
        val base = valuesAt(tag, e, sz)
        Array.tabulate(e.count.toInt) { k =>
          val at = base + k.toLong * sz
          sz match {
            case 1 => in.u8(at, "tag value").toLong
            case 2 => in.u16(at, "tag value").toLong
            case 8 => in.u64(at, "tag value")
            case _ => in.u32(at, "tag value")
          }
        }
    }
    def doubles(tag: Int): Array[Double] = tags.get(tag) match {
      case None => Array.empty
      case Some(e) =>
        require(e.typ == 12, s"TIFF tag $tag: expected DOUBLE, got type ${e.typ}")
        val base = valuesAt(tag, e, 8)
        Array.tabulate(e.count.toInt)(k => in.f64(base + 8L * k, "tag value"))
    }
    def ascii(tag: Int): String = tags.get(tag) match {
      case None => ""
      case Some(e) => new String(bytes, valuesAt(tag, e, 1), e.count.toInt, "US-ASCII").takeWhile(_ != 0)
    }
    def scalar(tag: Int, default: Long = -1L): Long = {
      val v = longs(tag); if (v.isEmpty) default else v(0)
    }
    // a dimension past Int.MaxValue is capped there: the size checks
    // below refuse it by name
    def dim(tag: Int, name: String, default: Long = -1L): Int = {
      val v = scalar(tag, default)
      require(v >= 1, s"corrupt TIFF: $name $v (tag $tag)")
      math.min(v, Int.MaxValue).toInt
    }

    val cols = dim(256, "image width")
    val rows = dim(257, "image length")
    val bits = scalar(258, 1L).toInt
    val compression = scalar(259, 1L).toInt
    val sampleFormat = scalar(339, 1L).toInt
    val samplesPerPixel = scalar(277, 1L).toInt
    val predictor = scalar(317, 1L).toInt
    require(
      compression == 1 || compression == 5 || compression == 8 || compression == 32946 ||
        compression == 32773,
      s"unsupported TIFF compression $compression (none/LZW/DEFLATE/PackBits)")
    // predictor 2 = horizontal differencing on integer samples; predictor 3
    // = the TechNote3 floating-point predictor (byte-plane shuffle +
    // byte-wise differencing) GDAL writes for float DEMs as PREDICTOR=3
    require(
      predictor == 1 ||
        (predictor == 2 && (bits == 16 || (bits == 32 && sampleFormat != 3))) ||
        (predictor == 3 && bits == 32 && sampleFormat == 3),
      s"unsupported TIFF predictor $predictor for $bits-bit format-$sampleFormat samples")
    require(
      (bits == 16 && (sampleFormat == 1 || sampleFormat == 2)) ||
        (bits == 32 && (sampleFormat == 1 || sampleFormat == 2 || sampleFormat == 3)),
      s"unsupported TIFF sample layout: $bits-bit format $sampleFormat (int16, int32, or float32)")
    require(samplesPerPixel == 1, s"unsupported TIFF samples/pixel $samplesPerPixel")
    val bps = bits / 8

    // GDAL_NODATA (parsed below, needed during the strip decode): cells at
    // the declared nodata value mask like voids even when nodata > voidMax
    // (e.g. -9999 DEMs); reference parity is unaffected because its
    // fixtures declare nodata == voidMax == -32768. GDAL writes a NaN
    // nodata as `nan`, which toDouble refuses (it takes only `NaN`).
    val nodata = {
      val nd = ascii(42113).trim
      if (nd.isEmpty) None
      else if (nd.matches("(?i)[+-]?nan")) Some(Double.NaN)
      else Some(nd.toDoubleOption.getOrElse(
        throw new IllegalArgumentException(s"corrupt TIFF: GDAL_NODATA '$nd' is not a number")))
    }
    val nodataF = nodata.map(_.toFloat)

    // segment geometry: strips (full-width bands) or tiles (tag 322-325;
    // tiles are PADDED to tileWidth x tileLength and laid out across, then
    // down — real-world DEM GeoTIFFs are usually tiled + compressed).
    // RowsPerStrip defaults to 2^32-1, i.e. one strip.
    val tiledLayout = tags.contains(322)
    val (segW, segH, segOffsets, segCounts) =
      if (tiledLayout) (dim(322, "tile width"), dim(323, "tile length"), longs(324), longs(325))
      else (cols, math.min(dim(278, "rows per strip", rows.toLong), rows), longs(273), longs(279))
    val segsAcross = ((cols.toLong + segW - 1) / segW).toInt
    val nSegs = segsAcross * ((rows.toLong + segH - 1) / segH)
    require(segOffsets.length == nSegs && segCounts.length == nSegs,
      s"corrupt TIFF: a $rows x $cols raster in $segH x $segW segments has $nSegs segments, " +
        s"but the file lists ${segOffsets.length} offsets and ${segCounts.length} byte counts")
    // strips shrink at the image edge; tiles stay padded to segH x segW
    def segRows(s: Int): Int = if (tiledLayout) segH else math.min(segH, rows - (s / segsAcross) * segH)

    // each segment's decoded size, checked before anything is allocated:
    // uncompressed samples must be in the file, and a compressed segment
    // holds at most its byte count times the codec's expansion limit
    // (PackBits repeats one byte 128 times for 2; an LZW code of >= 9
    // bits emits at most 4096 bytes; deflate expands at most 1032:1).
    // The segments tile the raster, so this also bounds rows x cols.
    def bytesOf(a: Int, b: Int): Long = Bytes.times(Bytes.times(a, b), bps)
    val ratio = compression match {
      case 1 => 1L; case 32773 => 64L; case 5 => 4096L * 8 / 9; case _ => Bytes.DeflateRatio.toLong
    }
    val segBytes = Array.tabulate(nSegs.toInt) { s =>
      val need = bytesOf(segRows(s), segW)
      val have = if (compression == 1) need else segCounts(s)
      in.check(segOffsets(s), have, 1, s"segment-$s data")
      Bytes.size(need, have * ratio, "TIFF", s"segment-$s")
    }
    val n = Bytes.size(bytesOf(rows, cols), segBytes.map(_.toLong).sum, "TIFF", s"$rows x $cols raster") / bps

    // PackBits (compression 32773): runs of [n >= 0: n+1 literal bytes]
    // and [n in -127..-1: the next byte repeated 1-n times]; -128 is a
    // no-op. Older USGS distributions still ship this.
    def unpackBits(s: Int, off: Int, len: Int, expected: Int): Array[Byte] = {
      val out = new Array[Byte](expected)
      var i = off
      val end = off + len
      var o = 0
      while (i < end && o < expected) {
        val n = bytes(i)
        i += 1
        if (n >= 0) {
          val cnt = n + 1
          require(i + cnt <= end && o + cnt <= expected, s"corrupt TIFF: segment-$s PackBits literal run at byte ${i - 1}")
          System.arraycopy(bytes, i, out, o, cnt)
          i += cnt; o += cnt
        } else if (n != -128) {
          val cnt = 1 - n
          require(i < end && o + cnt <= expected, s"corrupt TIFF: segment-$s PackBits repeat run at byte ${i - 1}")
          java.util.Arrays.fill(out, o, o + cnt, bytes(i))
          i += 1; o += cnt
        }
      }
      require(o == expected, s"corrupt TIFF: segment-$s PackBits stops at $o of $expected bytes")
      out
    }

    /** TIFF-variant LZW: MSB-first bit packing, 9->12-bit codes with the
      * spec's "early change" (width grows one code early), Clear=256. */
    def lzw(s: Int, off: Int, len: Int, expected: Int): Array[Byte] = {
      val out = new Array[Byte](expected)
      var outPos = 0
      var bitPos = 0L
      val bitEnd = len.toLong * 8
      def nextCode(width: Int): Int = {
        if (bitPos + width > bitEnd) return 257 // out of codes: EOI
        var v = 0
        var i = 0
        while (i < width) {
          val b = bytes(off + (bitPos >> 3).toInt)
          v = (v << 1) | ((b >> (7 - (bitPos & 7).toInt)) & 1)
          bitPos += 1
          i += 1
        }
        v
      }
      val Clear = 256
      val Eoi = 257
      val table = new Array[Array[Byte]](4096)
      var tableSize = 0
      def reset(): Unit = {
        var i = 0
        while (i < 256) { table(i) = Array(i.toByte); i += 1 }
        tableSize = 258
      }
      def emit(s: Array[Byte]): Unit = {
        val n = math.min(s.length, expected - outPos)
        System.arraycopy(s, 0, out, outPos, n)
        outPos += n
      }
      reset()
      var width = 9
      var prev: Array[Byte] = null
      var code = nextCode(width)
      while (code != Eoi && outPos < expected) {
        if (code == Clear) {
          reset(); width = 9; prev = null
        } else {
          val entry =
            if (code < tableSize && table(code) != null) table(code)
            else {
              require(prev != null, s"corrupt TIFF: segment-$s bad LZW code $code")
              prev :+ prev(0) // the KwKwK special case
            }
          emit(entry)
          if (prev != null && tableSize < 4096) {
            table(tableSize) = prev :+ entry(0)
            tableSize += 1
          }
          prev = entry
        }
        if (tableSize == (1 << width) - 1 && width < 12) width += 1 // early change
        code = nextCode(width)
      }
      require(outPos == expected, s"corrupt TIFF: segment-$s LZW stops at $outPos of $expected bytes")
      out
    }

    /** One segment as float samples (decompressed, predictor applied;
      * int16 widened, float32 taken bit-exact). */
    def segFloats(s: Int): Array[Float] = {
      val off = segOffsets(s).toInt
      val len = segCounts(s).toInt
      val data = compression match {
        case 1 => in.pos = off; in.slice(segBytes(s), s"segment-$s data")
        case 5 => lzw(s, off, len, segBytes(s))
        case 32773 => unpackBits(s, off, len, segBytes(s))
        case _ => Bytes.inflate(bytes, off, len, segBytes(s), s"TIFF segment-$s")
      }
      val seg = Bytes.Reader(data, "TIFF", in.le)
      val samples = segBytes(s) / bps
      if (sampleFormat == 3 && predictor == 3) {
        // TechNote3 floating-point predictor, per segment row: the
        // encoder shuffles each row's floats into big-endian byte planes
        // (all MSBs, then the next byte, ...) and then byte-differences
        // the whole row stream. Undo: cumulative-sum the row bytes, then
        // read pixel k from plane bytes at p*segW + k, MSB first (plane
        // order is endianness-independent by spec).
        val rowBytes = segW * 4
        val out = new Array[Float](samples)
        var r = 0
        while (r * rowBytes < data.length) {
          val base = r * rowBytes
          var i = 1
          while (i < rowBytes) {
            data(base + i) = (data(base + i) + data(base + i - 1)).toByte
            i += 1
          }
          var c = 0
          while (c < segW) {
            val v = ((data(base + c) & 0xff) << 24) |
              ((data(base + segW + c) & 0xff) << 16) |
              ((data(base + 2 * segW + c) & 0xff) << 8) |
              (data(base + 3 * segW + c) & 0xff)
            out(r * segW + c) = java.lang.Float.intBitsToFloat(v)
            c += 1
          }
          r += 1
        }
        out
      } else if (sampleFormat == 3) { // float32 (Copernicus-style DEMs)
        seg.floats(0, samples, s"segment-$s samples")
      } else { // int16, or int32 (some lidar-derived national DTMs ship Int32)
        val v =
          if (bits == 16) { val sh = seg.shorts(0, samples, s"segment-$s samples"); Array.tabulate[Int](samples)(sh(_)) }
          else seg.ints(0, samples, s"segment-$s samples")
        // horizontal differencing, per segment row; 16-bit sums wrap
        // like the shorts they were, so they are narrowed back after
        if (predictor == 2) {
          var k = 0
          while (k < samples) {
            if (k % segW != 0) v(k) += v(k - 1)
            k += 1
          }
        }
        Array.tabulate(samples)(k => if (bits == 16) v(k).toShort.toFloat else v(k).toFloat)
      }
    }

    val values = new Array[Float](n)
    var mask: Array[Boolean] = null
    var s = 0
    while (s < nSegs) {
      val row0 = (s / segsAcross) * segH
      val col0 = (s % segsAcross) * segW
      val floats = segFloats(s)
      val copyRows = math.min(segRows(s), rows - row0)
      val copyCols = math.min(segW, cols - col0)
      var r = 0
      while (r < copyRows) {
        var k = (row0 + r) * cols + col0
        var j = r * segW
        var c = 0
        while (c < copyCols) {
          val v = floats(j)
          values(k) = v
          if (v <= voidMax || v.isNaN || nodataF.exists(_ == v)) {
            if (mask == null) mask = new Array[Boolean](n)
            mask(k) = true
          }
          k += 1; j += 1; c += 1
        }
        r += 1
      }
      s += 1
    }

    val scale = doubles(33550)
    val tie = doubles(33922)
    require(scale.length >= 2 && tie.length >= 6,
      "GeoTIFF lacks ModelPixelScale/ModelTiepoint (non-axis-aligned transforms unsupported)")
    // geotransform[0/3] from tiepoint (raster point 0,0 -> model X,Y)
    val originX = tie(3) - tie(0) * scale(0)
    val originY = tie(4) + tie(1) * scale(1)

    // GeoKey directory: 4-short header then (keyId, tagLoc, count, value);
    // SHORT keys live inline (tagLoc 0), DOUBLE keys index GeoDoubleParams
    // (tagLoc 34736, value = offset into that tag's double array)
    val geokeys = longs(34735)
    val geoDbls = doubles(34736)
    val gkShort = scala.collection.mutable.Map.empty[Int, Int]
    val gkDouble = scala.collection.mutable.Map.empty[Int, Double]
    var gk = 4
    while (gk + 3 < geokeys.length) {
      val keyId = geokeys(gk).toInt
      val tagLoc = geokeys(gk + 1).toInt
      val value = geokeys(gk + 3).toInt
      if (tagLoc == 0) gkShort(keyId) = value
      else if (tagLoc == 34736 && value < geoDbls.length) gkDouble(keyId) = geoDbls(value)
      gk += 4
    }
    // 3072 ProjectedCSType wins over 2048 GeographicType when both present
    val epsg = gkShort.getOrElse(3072, gkShort.getOrElse(2048, 0))
    require(epsg > 0, "GeoTIFF lacks an EPSG code in its GeoKey directory")
    val spec = if (epsg == 32767) userDefinedSpec(gkShort.toMap, gkDouble.toMap) else ""

    GeoTiff(Grid(rows, cols, values, mask), originX, originY, scale(0), scale(1), epsg, nodata,
      spec)
  }

  /** Build a Crs spec string for a user-defined projected CRS
    * (ProjectedCSTypeGeoKey = 32767): ProjCoordTransGeoKey (3075) selects
    * the projection family, the Proj* DOUBLE keys carry its parameters,
    * and the ellipsoid comes from explicit GeogSemiMajorAxis +
    * GeogInvFlattening, a known GeogEllipsoid/GeographicType code, or
    * WGS84 by default. The reference reads the same GeoKey dict through
    * pyproj (/root/reference/pyhgtmap/hgt/file.py:132-166); building the
    * projection instance directly closes "any projected DEM" without an
    * ever-growing EPSG whitelist. Unsupported transform codes refuse
    * loudly with the supported list. */
  private[core] def userDefinedSpec(
      shorts: Map[Int, Int], dbls: Map[Int, Double]): String = {
    def d(keys: Int*): Option[Double] = keys.collectFirst { case k if dbls.contains(k) => dbls(k) }
    def need(what: String, keys: Int*): Double =
      d(keys: _*).getOrElse(throw new IllegalArgumentException(
        s"user-defined CRS lacks $what (GeoKeys ${keys.mkString("/")})"))
    // ellipsoid: explicit semi-major + inverse flattening wins; else a
    // known ellipsoid (2056) or geographic-datum (2048) code; else WGS84
    // (matches pyproj's default when the keys are absent)
    val (a, invf) = (dbls.get(2057), dbls.get(2059)) match {
      case (Some(aa), Some(ff)) => (aa, ff)
      case _ =>
        (shorts.get(2056), shorts.get(2048)) match {
          case (Some(7019), _) | (_, Some(4258)) | (_, Some(4269)) =>
            (6378137.0, 298.257222101) // GRS80 (ETRS89 / NAD83)
          case (Some(7001), _) | (_, Some(4277)) =>
            (6377563.396, 299.3249646) // Airy 1830 (OSGB36)
          case _ => (6378137.0, 298.257223563) // WGS84
        }
    }
    val ct = shorts.getOrElse(3075, throw new IllegalArgumentException(
      "user-defined CRS lacks ProjCoordTransGeoKey (3075)"))
    val fe = d(3086, 3082).getOrElse(0.0) // FalseOriginEasting | FalseEasting
    val fn = d(3087, 3083).getOrElse(0.0)
    ct match {
      case 1 => // CT_TransverseMercator (3093 = ScaleAtCenter, the
        // center-key family's spelling of 3092 ScaleAtNatOrigin)
        Crs.projSpecString("tm", Seq(
          "a" -> a, "invf" -> invf,
          "k0" -> d(3092, 3093).getOrElse(1.0),
          "lon0" -> need("a central meridian", 3080, 3088),
          "lat0" -> d(3081, 3089).getOrElse(0.0),
          "fe" -> fe, "fn" -> fn))
      case 8 => // CT_LambertConfConic_2SP (false-origin keys 3084-3087)
        Crs.projSpecString("lcc", Seq(
          "a" -> a, "invf" -> invf,
          "lat0" -> need("a false-origin latitude", 3085, 3081, 3089),
          "lon0" -> need("a false-origin longitude", 3084, 3080, 3088),
          "lat1" -> need("standard parallel 1 (GeoKey 3078)", 3078),
          "lat2" -> need("standard parallel 2 (GeoKey 3079)", 3079),
          "fe" -> fe, "fn" -> fn))
      case 11 => // CT_AlbersEqualArea (std parallels 3078/3079)
        Crs.projSpecString("aea", Seq(
          "a" -> a, "invf" -> invf,
          "lat0" -> need("a natural/false-origin latitude", 3081, 3085, 3089),
          "lon0" -> need("a central meridian", 3080, 3084, 3088),
          "lat1" -> need("standard parallel 1 (GeoKey 3078)", 3078),
          "lat2" -> need("standard parallel 2 (GeoKey 3079)", 3079),
          "fe" -> fe, "fn" -> fn))
      case 10 => // CT_LambertAzimEqualArea (center keys 3088/3089)
        Crs.projSpecString("laea", Seq(
          "a" -> a, "invf" -> invf,
          "lat0" -> need("a projection-center latitude", 3089, 3081),
          "lon0" -> need("a projection-center longitude", 3088, 3080),
          "fe" -> fe, "fn" -> fn))
      case 15 => // CT_PolarStereographic. Variant B: NatOriginLat is the
        // standard parallel (signed; < 0 = south aspect) and
        // StraightVertPoleLong the central meridian. A NatOriginLat AT
        // the pole is variant A (scale k0 at the pole via 3092, the
        // UPS/libgeotiff shape) — the variant-B form degenerates to 0/0
        // there, so it dispatches on the pole test, not on key presence.
        val latOrigin = need("a standard parallel / natural-origin latitude", 3081, 3078)
        val lon0 = need("a central meridian", 3094, 3088, 3080)
        if (math.abs(latOrigin) < 90.0 - 1e-9)
          Crs.projSpecString("ps", Seq(
            "a" -> a, "invf" -> invf,
            "latts" -> latOrigin,
            "lon0" -> lon0,
            "fe" -> fe, "fn" -> fn))
        else
          Crs.projSpecString("ps", Seq(
            "a" -> a, "invf" -> invf,
            "k0" -> d(3092, 3093).getOrElse(throw new IllegalArgumentException(
              "user-defined polar stereographic with NatOriginLat at the pole is " +
                "variant A and needs ProjScaleAtNatOrigin (GeoKey 3092)")),
            "lat0" -> latOrigin, // +-90: carries the aspect
            "lon0" -> lon0,
            "fe" -> fe, "fn" -> fn))
      case other => throw new IllegalArgumentException(
        s"user-defined CRS: unsupported ProjCoordTrans code $other " +
          "(supported: TransverseMercator=1, LambertConfConic_2SP=8, " +
          "LambertAzimEqualArea=10, AlbersEqualArea=11, PolarStereographic=15)")
    }
  }
}
