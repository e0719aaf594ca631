package graft.core

/** A minimal spec-conformant TIFF ENCODER for tests (strips or tiles;
  * none/DEFLATE/TIFF-LZW/PackBits; horizontal and floating-point
  * predictors; classic or BigTIFF) that re-encodes one synthetic grid
  * into every layout GDAL commonly writes. GeoTiffSpec checks each
  * variant decodes identically; DecoderFuzzSpec mutates them. */
object TiffFixtures {

  def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end(); out.toByteArray
  }

  /** TIFF-LZW encoder mirroring the decoder's exact width/table state
    * machine (MSB-first, 9->12 bits, early change, Clear on near-full). */
  def lzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var bitBuf = 0L; var nbits = 0
    var decT = 258; var decW = 9; var firstAfterClear = true
    def put(code: Int): Unit = {
      bitBuf = (bitBuf << decW) | code; nbits += decW
      while (nbits >= 8) { out.write(((bitBuf >>> (nbits - 8)) & 0xff).toInt); nbits -= 8 }
    }
    def widthCheck(): Unit = if (decT == (1 << decW) - 1 && decW < 12) decW += 1
    def writeSym(code: Int): Unit = {
      put(code)
      if (firstAfterClear) firstAfterClear = false else decT += 1 // decoder adds an entry
      widthCheck()
    }
    val dict = scala.collection.mutable.Map.empty[(Int, Byte), Int]
    var nextCode = 258
    def writeClear(): Unit = {
      put(256); decT = 258; decW = 9; firstAfterClear = true
      dict.clear(); nextCode = 258
    }
    writeClear()
    var prefix = -1
    data.foreach { b =>
      if (prefix == -1) prefix = b & 0xff
      else dict.get((prefix, b)) match {
        case Some(c) => prefix = c
        case None =>
          writeSym(prefix)
          dict((prefix, b)) = nextCode; nextCode += 1
          prefix = b & 0xff
          if (nextCode >= 4093) writeClear()
      }
    }
    if (prefix != -1) writeSym(prefix)
    put(257) // EOI
    if (nbits > 0) out.write(((bitBuf << (8 - nbits)) & 0xff).toInt)
    out.toByteArray
  }

  def buildTiff(rows: Int, cols: Int, valsF: Array[Float],
      compression: Int, predictor: Int, tiled: Boolean,
      tw: Int = 64, th: Int = 48, rps: Int = 40,
      bits: Int = 16, nodataTag: String = "-32768 ",
      epsg: Int = 4326,
      pixScale: (Double, Double) = (-1.0, -1.0),
      tiePoint: (Double, Double) = (6.0, 44.0),
      big: Boolean = false,
      // -1 derives the GDAL default from bits (16 -> signed int, 32 ->
      // float); pass 2 with bits=32 for an Int32 fixture
      sampleFmt: Int = -1,
      // user-defined-CRS fixtures: full GeoKey directory (incl. 4-short
      // header) + the GeoDoubleParams array the DOUBLE keys index into
      geoKeysOverride: Seq[Int] = null,
      geoDoubles: Seq[Double] = null): Array[Byte] = {
    val fmt = if (sampleFmt != -1) sampleFmt else if (bits == 16) 2 else 3
    def encSeg(segRows: Int, segW: Int, get: (Int, Int) => Float): Array[Byte] = {
      if (bits == 16) {
        val s = Array.tabulate(segRows * segW)(k => get(k / segW, k % segW).toInt.toShort)
        if (predictor == 2)
          for (r <- 0 until segRows; c <- (segW - 1) to 1 by -1)
            s(r * segW + c) = (s(r * segW + c) - s(r * segW + c - 1)).toShort
        val b = new Array[Byte](s.length * 2)
        for (k <- s.indices) {
          b(2 * k) = (s(k) & 0xff).toByte; b(2 * k + 1) = ((s(k) >> 8) & 0xff).toByte
        }
        b
      } else if (fmt == 3) {
        if (predictor == 3) {
          // TechNote3 floating-point predictor, per row: big-endian byte
          // planes (MSB plane first), then byte-wise differencing over
          // the whole row stream from the tail
          val rowBytes = segW * 4
          val b = new Array[Byte](segRows * rowBytes)
          for (r <- 0 until segRows) {
            val base = r * rowBytes
            for (c <- 0 until segW) {
              val v = java.lang.Float.floatToRawIntBits(get(r, c))
              for (p <- 0 until 4)
                b(base + p * segW + c) = ((v >> (8 * (3 - p))) & 0xff).toByte
            }
            for (i <- (rowBytes - 1) to 1 by -1)
              b(base + i) = (b(base + i) - b(base + i - 1)).toByte
          }
          b
        } else {
          val b = new Array[Byte](segRows * segW * 4)
          for (k <- 0 until segRows * segW) {
            val v = java.lang.Float.floatToRawIntBits(get(k / segW, k % segW))
            for (i <- 0 until 4) b(4 * k + i) = ((v >> (8 * i)) & 0xff).toByte
          }
          b
        }
      } else { // Int32 samples
        val s = Array.tabulate(segRows * segW)(k => get(k / segW, k % segW).toInt)
        if (predictor == 2)
          for (r <- 0 until segRows; c <- (segW - 1) to 1 by -1)
            s(r * segW + c) = s(r * segW + c) - s(r * segW + c - 1)
        val b = new Array[Byte](s.length * 4)
        for (k <- s.indices; i <- 0 until 4)
          b(4 * k + i) = ((s(k) >> (8 * i)) & 0xff).toByte
        b
      }
    }
    def packBitsEncode(raw: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var i = 0
      while (i < raw.length) {
        var run = 1
        while (i + run < raw.length && run < 128 && raw(i + run) == raw(i)) run += 1
        if (run >= 2) {
          out.write(1 - run); out.write(raw(i)); i += run
        } else {
          var lit = 1
          while (i + lit < raw.length && lit < 128 &&
            !(i + lit + 1 < raw.length && raw(i + lit) == raw(i + lit + 1))) lit += 1
          out.write(lit - 1); out.write(raw, i, lit); i += lit
        }
      }
      out.toByteArray
    }
    val rawSegs: Seq[Array[Byte]] =
      if (tiled) {
        val across = (cols + tw - 1) / tw; val down = (rows + th - 1) / th
        (0 until down * across).map { t =>
          val ty = t / across; val tx = t % across
          encSeg(th, tw, (r, c) => {
            val rr = ty * th + r; val cc = tx * tw + c
            if (rr < rows && cc < cols) valsF(rr * cols + cc) else 0f
          })
        }
      } else (0 until (rows + rps - 1) / rps).map { si =>
        val r0 = si * rps
        encSeg(math.min(rps, rows - r0), cols, (r, c) => valsF((r0 + r) * cols + c))
      }
    val segs = rawSegs.map { raw =>
      compression match {
        case 1 => raw
        case 8 => deflate(raw)
        case 5 => lzwEncode(raw)
        case 32773 => packBitsEncode(raw)
      }
    }
    // ---- assemble little-endian TIFF ----
    final case class Tag(id: Int, typ: Int, count: Int, inline: Long = -1L,
        heap: Array[Byte] = null)
    def shorts2bytes(v: Seq[Int]): Array[Byte] =
      v.flatMap(x => Seq((x & 0xff).toByte, ((x >> 8) & 0xff).toByte)).toArray
    def longs2bytes(v: Seq[Long]): Array[Byte] =
      v.flatMap(x => (0 until 4).map(i => ((x >> (8 * i)) & 0xff).toByte)).toArray
    def dbl2bytes(v: Seq[Double]): Array[Byte] =
      v.flatMap { d => val l = java.lang.Double.doubleToLongBits(d)
        (0 until 8).map(i => ((l >> (8 * i)) & 0xff).toByte) }.toArray
    // geographic CRSs key 2048 (GeographicTypeGeoKey), projected 3072
    val geoKeys =
      if (geoKeysOverride != null) geoKeysOverride
      else if (epsg == 4326) Seq(1, 1, 0, 1, 2048, 0, 1, epsg)
      else Seq(1, 1, 0, 1, 3072, 0, 1, epsg)
    val (sx, sy) =
      if (pixScale._1 > 0) pixScale else (1.0 / (cols - 1), 1.0 / (rows - 1))
    var tags = Seq(
      Tag(256, 4, 1, cols), Tag(257, 4, 1, rows), Tag(258, 3, 1, bits),
      Tag(259, 3, 1, compression), Tag(277, 3, 1, 1), Tag(317, 3, 1, predictor),
      Tag(339, 3, 1, fmt),
      Tag(33550, 12, 3, heap = dbl2bytes(Seq(sx, sy, 0))),
      Tag(33922, 12, 6, heap = dbl2bytes(Seq(0, 0, 0, tiePoint._1, tiePoint._2, 0))),
      Tag(34735, 3, geoKeys.length, heap = shorts2bytes(geoKeys))) ++
      (if (geoDoubles != null)
        Seq(Tag(34736, 12, geoDoubles.length, heap = dbl2bytes(geoDoubles)))
      else Nil) ++
      Seq(Tag(42113, 2, nodataTag.length, heap = nodataTag.getBytes("US-ASCII")))
    def longs8bytes(v: Seq[Long]): Array[Byte] =
      v.flatMap(x => (0 until 8).map(i => ((x >> (8 * i)) & 0xff).toByte)).toArray
    val counts = segs.map(_.length.toLong)
    // BigTIFF vs classic layout parameters: header 16 vs 8, entry 20 vs
    // 12, entry-count field 8 vs 2, next-IFD pointer 8 vs 4, inline value
    // capacity 8 vs 4; the offset/count arrays go out as LONG8 (type 16)
    // in BigTIFF — the GDAL-written shape — and LONG in classic
    val inlineCap = if (big) 8 else 4
    val entrySize = if (big) 20 else 12
    val headerSize = if (big) 16 else 8
    val ifdFixed = (if (big) 8 else 2) + (if (big) 8 else 4) // count + next ptr
    val wordType = if (big) 16 else 4
    def words2bytes(v: Seq[Long]): Array[Byte] =
      if (big) longs8bytes(v) else longs2bytes(v)
    def typeSize(t: Int): Int = t match {
      case 2 => 1; case 3 => 2; case 4 => 4; case 12 | 16 => 8
    }
    // segment offsets depend on the heap layout: lay out tag heaps first,
    // then the offset/count arrays, then segment payloads. A heap whose
    // bytes fit the inline capacity is stored inline instead (BigTIFF
    // inlines the 7-char nodata string classic TIFF spills to heap).
    def heapLen(t: Tag): Int =
      if (t.heap != null && t.heap.length > inlineCap) t.heap.length else 0
    val arrayBytes = typeSize(wordType) * segs.size
    val arraysHeapLen = 2 * (if (arrayBytes > inlineCap) arrayBytes else 0)
    val n = tags.size + (if (tiled) 4 else 3)
    val heapStart = headerSize + ifdFixed + entrySize * n
    var cursor = heapStart + tags.map(heapLen).sum + arraysHeapLen
    val offs = segs.map { s => val o = cursor; cursor += s.length; o.toLong }
    tags = tags ++ (if (tiled) Seq(
      Tag(322, 4, 1, tw), Tag(323, 4, 1, th),
      Tag(324, wordType, segs.size, heap = words2bytes(offs)),
      Tag(325, wordType, segs.size, heap = words2bytes(counts)))
    else Seq(
      Tag(273, wordType, segs.size, heap = words2bytes(offs)),
      Tag(278, 4, 1, rps),
      Tag(279, wordType, segs.size, heap = words2bytes(counts))))
    val out = new java.io.ByteArrayOutputStream()
    if (big) {
      out.write(Array[Byte]('I', 'I', 43, 0))
      out.write(shorts2bytes(Seq(8, 0))) // offset size 8, pad 0
      out.write(longs8bytes(Seq(headerSize.toLong))) // first IFD at 16
      out.write(longs8bytes(Seq(tags.size.toLong)))
    } else {
      out.write(Array[Byte]('I', 'I', 42, 0)); out.write(longs2bytes(Seq(8L)))
      out.write(shorts2bytes(Seq(tags.size)))
    }
    var heapCursor = heapStart
    val heapOut = new java.io.ByteArrayOutputStream()
    def writeOff(v: Long): Unit =
      if (big) out.write(longs8bytes(Seq(v))) else out.write(longs2bytes(Seq(v)))
    tags.sortBy(_.id).foreach { t =>
      out.write(shorts2bytes(Seq(t.id, t.typ)))
      writeOff(t.count.toLong)
      val sz = typeSize(t.typ) * t.count
      if (t.heap == null) {
        // inline scalar, little-endian: low bytes carry the value
        if (!big && t.typ == 3) out.write(shorts2bytes(Seq(t.inline.toInt, 0)))
        else writeOff(t.inline)
      } else if (sz <= inlineCap) {
        out.write(t.heap); out.write(new Array[Byte](inlineCap - sz))
      } else {
        writeOff(heapCursor.toLong)
        heapOut.write(t.heap); heapCursor += t.heap.length
      }
    }
    writeOff(0L) // next IFD
    out.write(heapOut.toByteArray)
    segs.foreach(out.write)
    val bytes = out.toByteArray
    assert(bytes.length == cursor, s"layout drift: ${bytes.length} vs $cursor")
    bytes
  }
}
