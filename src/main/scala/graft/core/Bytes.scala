package graft.core

/** The one way graft reads untrusted bytes: the TIFF, PNG, WAV, PBF, o5m
  * and video decoders all read through [[Bytes.Reader]] and inflate
  * through [[Bytes.inflate]]. A read that does not fit its input raises an
  * `IllegalArgumentException` naming the format, the field and the byte
  * range; every bound is checked in `Long` arithmetic, so a hostile
  * 32- or 64-bit length cannot wrap past the check. */
object Bytes {

  /** The largest array the JVM allocates. */
  val MaxArray: Int = Int.MaxValue - 8

  /** Deflate expands at most 1032:1 (RFC 1951 stored/fixed-code limit). */
  val DeflateRatio = 1032

  /** `n` as an array length, refused by name unless `0 <= n <= limit`;
    * callers check a declared size against the most the bytes present can
    * hold before they allocate it. */
  def size(n: Long, limit: Long, what: String, field: String): Int = {
    require(n >= 0 && n <= math.min(limit, MaxArray.toLong),
      s"corrupt $what: $field declares $n bytes, more than its input can hold (at most ${math.min(limit, MaxArray.toLong)})")
    n.toInt
  }

  /** `a x b` for non-negative sizes, saturating at `Long.MaxValue` (which
    * every size check refuses) instead of wrapping. */
  def times(a: Long, b: Long): Long = if (a == 0 || b <= Long.MaxValue / a) a * b else Long.MaxValue

  /** A reader over `buf(off until end)`, multi-byte values in `le` or
    * big-endian order. Absolute reads take an index into `buf` and must
    * fall inside `[off, end)`; cursor reads start at `pos` and advance it.
    * `scope` names the span in refusals ("file", "payload", a message). */
  final class Reader(val buf: Array[Byte], val off: Int, val end: Int, val le: Boolean,
      what: String, scope: String = "file") {
    require(off >= 0 && off <= end && end <= buf.length, s"reader [$off, $end) outside ${buf.length} bytes")
    var pos: Int = off
    def length: Int = end - off
    def hasMore: Boolean = pos < end
    def remaining: Int = end - pos

    /** Refuses unless `n` values of `width` bytes from `at` lie inside
      * `[off, end)`; returns `at` as an index. */
    def check(at: Long, n: Long, width: Int, field: String): Int = {
      require(n >= 0 && at >= off && at <= end && n <= (end - at) / width,
        s"corrupt $what: $field [$at, ${BigInt(at) + BigInt(n) * width}) is outside the $scope [$off, $end)")
      at.toInt
    }

    private def word(i: Int, width: Int): Long = {
      var v = 0L
      var k = 0
      while (k < width) {
        v = (v << 8) | (buf(i + (if (le) width - 1 - k else k)) & 0xffL)
        k += 1
      }
      v
    }

    def u8(i: Long, field: String): Int = buf(check(i, 1, 1, field)) & 0xff
    def u16(i: Long, field: String): Int = word(check(i, 1, 2, field), 2).toInt
    def u32(i: Long, field: String): Long = word(check(i, 1, 4, field), 4)
    def u64(i: Long, field: String): Long = word(check(i, 1, 8, field), 8)
    def f64(i: Long, field: String): Double = java.lang.Double.longBitsToDouble(u64(i, field))

    def shorts(i: Long, n: Long, field: String): Array[Short] = {
      val b = check(i, n, 2, field)
      Array.tabulate(n.toInt)(k => word(b + 2 * k, 2).toShort)
    }
    def ints(i: Long, n: Long, field: String): Array[Int] = {
      val b = check(i, n, 4, field)
      Array.tabulate(n.toInt)(k => word(b + 4 * k, 4).toInt)
    }
    def floats(i: Long, n: Long, field: String): Array[Float] = {
      val b = check(i, n, 4, field)
      Array.tabulate(n.toInt)(k => java.lang.Float.intBitsToFloat(word(b + 4 * k, 4).toInt))
    }

    /** Unsigned LEB128 (protobuf and o5m varints), at most 10 bytes. */
    def varint(): Long = {
      val start = pos
      var shift = 0
      var v = 0L
      var b = 0x80L
      while ((b & 0x80) != 0) {
        require(pos < end && shift < 64,
          s"corrupt $what: varint at byte $start runs past the $scope [$off, $end)")
        b = buf(pos) & 0xffL
        v |= (b & 0x7f) << shift
        shift += 7
        pos += 1
      }
      v
    }

    /** Zigzag-signed varint (protobuf sint64, o5m signed). */
    def zigzag(): Long = { val u = varint(); (u >>> 1) ^ -(u & 1) }

    /** A NUL-terminated UTF-8 string; the cursor moves past the NUL. */
    def cstring(): String = {
      val start = pos
      while (pos < end && buf(pos) != 0) pos += 1
      require(pos < end, s"corrupt $what: string at byte $start has no NUL before the end of the $scope [$off, $end)")
      pos += 1
      new String(buf, start, pos - 1 - start, java.nio.charset.StandardCharsets.UTF_8)
    }

    /** The next `n` bytes as a reader of their own, without copying. */
    def sub(n: Long, field: String): Reader = {
      val b = check(pos, n, 1, field)
      pos = b + n.toInt
      new Reader(buf, b, pos, le, what, field)
    }

    /** The next `n` bytes, copied. */
    def slice(n: Long, field: String): Array[Byte] = {
      val r = sub(n, field)
      java.util.Arrays.copyOfRange(buf, r.off, r.end)
    }
  }

  object Reader {
    def apply(buf: Array[Byte], what: String, le: Boolean = false, scope: String = "file"): Reader =
      new Reader(buf, 0, buf.length, le, what, scope)
  }

  /** Inflates the zlib stream in `src(off until off + len)` to exactly
    * `expected` bytes. A size past deflate's 1032:1 limit is refused
    * before it is allocated; a stream that is corrupt, stalls or ends
    * short is refused by name instead of spinning or zero-padding. */
  def inflate(src: Array[Byte], off: Int, len: Int, expected: Long, what: String): Array[Byte] = {
    val out = new Array[Byte](size(expected, len.toLong * DeflateRatio, what, "inflated size"))
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(src, off, len)
      var done = 0
      while (done < out.length) {
        val n =
          try inf.inflate(out, done, out.length - done)
          catch { case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(s"corrupt $what: ${e.getMessage}") }
        require(n > 0, s"corrupt $what: stream stops at $done of ${out.length} bytes")
        done += n
      }
      out
    } finally inf.end()
  }
}
