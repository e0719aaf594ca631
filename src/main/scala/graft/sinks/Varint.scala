package graft.sinks

import java.io.{ByteArrayOutputStream, OutputStream}

/** o5m varint codecs (reference semantics: pyhgtmap/varint.py:1-38 —
  * unsigned LEB128 and the zigzag signed variant). */
object Varint {

  def writeUnsigned(out: OutputStream, n0: Long): Unit = {
    var n = n0
    var b = n & 0x7f
    n >>>= 7
    while (n != 0) {
      out.write((b | 0x80).toInt)
      b = n & 0x7f
      n >>>= 7
    }
    out.write(b.toInt)
  }

  def writeSigned(out: OutputStream, n: Long): Unit =
    if (n >= 0) writeUnsigned(out, n << 1)
    else writeUnsigned(out, ((-n - 1) << 1) | 1)

  def unsigned(n: Long): Array[Byte] = {
    val o = new ByteArrayOutputStream(10); writeUnsigned(o, n); o.toByteArray
  }
  def signed(n: Long): Array[Byte] = {
    val o = new ByteArrayOutputStream(10); writeSigned(o, n); o.toByteArray
  }

  /** Reader over a byte array; returns (value, nextPos). */
  def readUnsigned(buf: Array[Byte], pos: Int): (Long, Int) = {
    var p = pos
    var shift = 0
    var v = 0L
    var b = 0L
    var more = true
    while (more) {
      b = buf(p) & 0xffL
      v |= (b & 0x7f) << shift
      shift += 7
      p += 1
      more = (b & 0x80) != 0
    }
    (v, p)
  }

  def readSigned(buf: Array[Byte], pos: Int): (Long, Int) = {
    val (u, p) = readUnsigned(buf, pos)
    val v = if ((u & 1) == 0) u >>> 1 else -((u >>> 1) + 1)
    (v, p)
  }
}
