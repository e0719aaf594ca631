package graft.sinks

import java.io.{ByteArrayOutputStream, OutputStream}

/** o5m varint writers (reference semantics: pyhgtmap/varint.py:1-38 —
  * unsigned LEB128 and the zigzag signed variant); `Bytes.Reader` reads
  * them back with `varint()` and `zigzag()`. */
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
}
