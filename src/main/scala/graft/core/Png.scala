package graft.core

/** Minimal PNG codec — no imageio: 8-bit greyscale (color type 0) and
  * RGB (color type 2), non-interlaced, all five scanline filters
  * (None/Sub/Up/Average/Paeth), zlib IDAT through `Bytes.inflate` (the
  * inflater the TIFF DEFLATE path and the PBF reader use). This is the
  * real image decode behind `engine/Multimodal` — the container has no
  * media libraries, so the codec pair is self-contained: the encoder
  * builds valid PNGs for the deterministic media generator and fixtures,
  * the decoder recovers the exact pixel bytes. Public-spec implementation (PNG is RFC 2083 /
  * ISO 15948); CRC32 from `java.util.zip.CRC32`.
  */
object Png {

  final case class Image(width: Int, height: Int, channels: Int, pixels: Array[Byte]) {
    require(pixels.length == width * height * channels,
      s"pixel buffer ${pixels.length} != $width x $height x $channels")
  }

  private val Signature = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n')

  private def be32(v: Int): Array[Byte] =
    Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String, data: Array[Byte]): Unit = {
    out.write(be32(data.length))
    val t = typ.getBytes("US-ASCII")
    out.write(t)
    out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(t); crc.update(data)
    out.write(be32(crc.getValue.toInt))
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Encode an image; `filterFor(row)` picks the scanline filter (0..4)
    * so tests can exercise every decode path. Default cycles all five. */
  def encode(img: Image, filterFor: Int => Int = _ % 5): Array[Byte] = {
    val Image(w, h, ch, px) = img
    require(ch == 1 || ch == 3, s"channels $ch (grey or RGB)")
    val stride = w * ch
    val raw = new Array[Byte](h * (stride + 1))
    var r = 0
    while (r < h) {
      val f = filterFor(r)
      require(f >= 0 && f <= 4, s"filter $f")
      raw(r * (stride + 1)) = f.toByte
      var i = 0
      while (i < stride) {
        val cur = px(r * stride + i) & 0xff
        val left = if (i >= ch) px(r * stride + i - ch) & 0xff else 0
        val up = if (r > 0) px((r - 1) * stride + i) & 0xff else 0
        val ul = if (r > 0 && i >= ch) px((r - 1) * stride + i - ch) & 0xff else 0
        val v = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case 4 => cur - paeth(left, up, ul)
        }
        raw(r * (stride + 1) + 1 + i) = (v & 0xff).toByte
        i += 1
      }
      r += 1
    }
    val d = new java.util.zip.Deflater()
    d.setInput(raw); d.finish()
    val zOut = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) zOut.write(buf, 0, d.deflate(buf))
    d.end()
    val out = new java.io.ByteArrayOutputStream()
    out.write(Signature)
    val ihdr = new java.io.ByteArrayOutputStream()
    ihdr.write(be32(w)); ihdr.write(be32(h))
    ihdr.write(8) // bit depth
    ihdr.write(if (ch == 1) 0 else 2) // color type
    ihdr.write(0); ihdr.write(0); ihdr.write(0) // compression/filter/interlace
    chunk(out, "IHDR", ihdr.toByteArray)
    chunk(out, "IDAT", zOut.toByteArray)
    chunk(out, "IEND", Array.empty)
    out.toByteArray
  }

  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length > 8 && (0 until 8).forall(i => bytes(i) == Signature(i))

  /** Decode a PNG produced by any conformant encoder within the supported
    * profile (8-bit grey/RGB, non-interlaced); concatenates multiple IDAT
    * chunks, reverses all five filters. */
  def decode(bytes: Array[Byte]): Image = {
    require(isPng(bytes), "not a PNG: bad signature")
    val in = Bytes.Reader(bytes, "PNG")
    in.pos = 8
    var w = 0; var h = 0; var ch = 0
    val idat = new java.io.ByteArrayOutputStream()
    var done = false
    while (!done && in.remaining >= 8) {
      val len = in.u32(in.pos, "chunk length")
      val typ = new String(bytes, in.pos + 4, 4, "US-ASCII")
      in.pos += 8
      val data = in.sub(len, s"$typ chunk")
      typ match {
        case "IHDR" =>
          def dim(at: Int, name: String): Int = {
            val v = data.u32(data.off + at, name)
            require(v >= 1 && v <= Int.MaxValue, s"corrupt PNG: IHDR $name $v")
            v.toInt
          }
          w = dim(0, "width"); h = dim(4, "height")
          val depth = data.u8(data.off + 8, "bit depth")
          val color = data.u8(data.off + 9, "color type")
          val interlace = data.u8(data.off + 12, "interlace method")
          require(depth == 8, s"unsupported PNG bit depth $depth")
          require(color == 0 || color == 2, s"unsupported PNG color type $color")
          require(interlace == 0, "interlaced PNG unsupported")
          ch = if (color == 0) 1 else 3
        case "IDAT" => idat.write(bytes, data.off, data.length)
        case "IEND" => done = true
        case _ => () // ancillary chunks skipped
      }
      in.pos += 4 // skip CRC
    }
    require(w > 0 && h > 0 && ch > 0, "PNG lacks IHDR")
    // h x (w x ch + 1) is checked against deflate's limit over the IDAT
    // bytes before it is allocated
    val raw = Bytes.inflate(idat.toByteArray, 0, idat.size, Bytes.times(h, w.toLong * ch + 1), "PNG IDAT")
    val stride = w * ch
    val px = new Array[Byte](h * stride)
    var r = 0
    while (r < h) {
      val f = raw(r * (stride + 1)) & 0xff
      var i = 0
      while (i < stride) {
        val v = raw(r * (stride + 1) + 1 + i) & 0xff
        val left = if (i >= ch) px(r * stride + i - ch) & 0xff else 0
        val up = if (r > 0) px((r - 1) * stride + i) & 0xff else 0
        val ul = if (r > 0 && i >= ch) px((r - 1) * stride + i - ch) & 0xff else 0
        val cur = f match {
          case 0 => v
          case 1 => v + left
          case 2 => v + up
          case 3 => v + (left + up) / 2
          case 4 => v + paeth(left, up, ul)
          case other => throw new IllegalArgumentException(s"PNG filter $other")
        }
        px(r * stride + i) = (cur & 0xff).toByte
        i += 1
      }
      r += 1
    }
    Image(w, h, ch, px)
  }
}

/** Minimal WAV (RIFF/PCM) codec for the audio modality: 16-bit signed
  * little-endian mono/stereo, the canonical 44-byte header. */
object Wav {

  final case class Audio(sampleRate: Int, channels: Int, samples: Array[Short])

  def encode(a: Audio): Array[Byte] = {
    val dataLen = a.samples.length * 2
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1) // PCM
      .putShort(a.channels.toShort)
      .putInt(a.sampleRate)
      .putInt(a.sampleRate * a.channels * 2) // byte rate
      .putShort((a.channels * 2).toShort) // block align
      .putShort(16) // bits per sample
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    a.samples.foreach(out.putShort)
    out.array()
  }

  def isWav(bytes: Array[Byte]): Boolean =
    bytes.length > 44 && bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' && bytes(10) == 'V' &&
      bytes(11) == 'E'

  def decode(bytes: Array[Byte]): Audio = {
    require(isWav(bytes), "not a WAV: bad RIFF/WAVE header")
    val in = Bytes.Reader(bytes, "WAV", le = true)
    // walk chunks from offset 12: fmt before data, per spec. `sub` refuses
    // a chunk length past the payload, so the walk always advances and
    // never reads out of bounds; this decode runs inside executor tasks,
    // where an infinite loop is a hung job, not an exception.
    in.pos = 12
    var sampleRate = 0; var channels = 0
    var samples: Array[Short] = null
    while (in.remaining >= 8 && samples == null) {
      val id = new String(bytes, in.pos, 4, "US-ASCII")
      val len = in.u32(in.pos + 4, s"'$id' chunk length")
      in.pos += 8
      val c = in.sub(len, s"'$id' chunk")
      id match {
        case "fmt " =>
          require(c.u16(c.off, "fmt format tag") == 1, "non-PCM WAV unsupported")
          channels = c.u16(c.off + 2, "fmt channels")
          sampleRate = c.u32(c.off + 4, "fmt sample rate").toInt
          val bits = c.u16(c.off + 14, "fmt bits per sample")
          require(bits == 16, s"unsupported WAV bit depth $bits")
        case "data" =>
          require(sampleRate > 0, "WAV data chunk before fmt")
          samples = c.shorts(c.off, len / 2, "data samples")
        case _ => ()
      }
      in.pos += (len & 1).toInt // chunks are word-aligned
    }
    require(samples != null, "WAV lacks a data chunk")
    Audio(sampleRate, channels, samples)
  }
}
