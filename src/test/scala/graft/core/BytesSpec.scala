package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.MainSources

class BytesSpec extends AnyFunSuite {

  private def refusal(read: => Any): String = intercept[IllegalArgumentException](read).getMessage

  test("reads in either byte order, and a read past the end names the format, field and range") {
    val buf = Array[Byte](1, 2, 3, 4, 5, 6, 7, 8, 0, 0, 0x80.toByte, 0x3f)
    val be = Bytes.Reader(buf, "TEST")
    val le = Bytes.Reader(buf, "TEST", le = true)
    assert(be.u16(0, "a") == 0x0102 && le.u16(0, "a") == 0x0201)
    assert(be.u32(0, "a") == 0x01020304L && le.u32(4, "a") == 0x08070605L)
    assert(be.u64(0, "a") == 0x0102030405060708L)
    assert(le.shorts(0, 2, "a").toSeq == Seq[Short](0x0201, 0x0403))
    assert(be.ints(4, 2, "a").toSeq == Seq(0x05060708, 0x803f))
    assert(le.floats(8, 1, "a").head == 1.0f)
    assert(refusal(be.u32(10, "chunk length")) ==
      "requirement failed: corrupt TEST: chunk length [10, 14) is outside the file [0, 12)")
    // Long offsets and counts cannot wrap past the check
    refusal(be.u8(Long.MaxValue, "x"))
    refusal(be.u16(-1L, "x"))
    refusal(be.ints(0, Long.MaxValue / 2, "x"))
    refusal(be.shorts(2, Int.MaxValue.toLong + 3, "x"))
    // a sub-reader bounds its reads by its own span and names it
    be.pos = 2
    val chunk = be.sub(4, "IHDR chunk")
    assert(be.pos == 6 && chunk.u16(4, "y") == 0x0506)
    assert(refusal(chunk.u16(5, "depth")).contains("depth [5, 7) is outside the IHDR chunk [2, 6)"))
    assert(refusal(be.sub(7, "blob")).contains("blob [6, 13)"))
    assert(be.slice(6, "tail").toSeq == buf.drop(6).toSeq && !be.hasMore)
  }

  test("varints, zigzag and NUL-terminated strings refuse a read past their span") {
    val r = Bytes.Reader(Array[Byte](0xac.toByte, 0x02, 3, 'k', 0, 'v', 0, 'x', 0x80.toByte), "o5m")
    assert(r.varint() == 300 && r.zigzag() == -2)
    assert(r.cstring() == "k" && r.cstring() == "v")
    val s = r.pos
    assert(refusal(r.cstring()).contains(s"string at byte $s has no NUL"))
    r.pos = 8
    assert(refusal(r.varint()).contains("varint at byte 8 runs past the file [0, 9)"))
    assert(refusal(Bytes.Reader(Array.fill[Byte](11)(0x80.toByte), "PBF").varint()).contains("varint at byte 0"))
  }

  test("inflate refuses an impossible size before allocating, and a corrupt or short stream by name") {
    val raw = Array.tabulate[Byte](5000)(i => (i % 7).toByte)
    val z = TiffFixtures.deflate(raw)
    assert(Bytes.inflate(z, 0, z.length, raw.length, "X").sameElements(raw))
    assert(refusal(Bytes.inflate(z, 0, 10, Bytes.MaxArray, "PNG IDAT"))
      .contains(s"corrupt PNG IDAT: inflated size declares ${Bytes.MaxArray} bytes"))
    assert(refusal(Bytes.inflate(z, 0, z.length, raw.length + 1, "X")).contains("stops at 5000 of 5001"))
    assert(refusal(Bytes.inflate(Array.fill[Byte](8)(-1), 0, 8, 10, "X")).startsWith("corrupt X: "))
    assert(Bytes.times(Int.MaxValue, Int.MaxValue) == Int.MaxValue.toLong * Int.MaxValue)
    assert(Bytes.times(1L << 40, 1L << 40) == Long.MaxValue)
  }

  test("one reader and one inflater: no decoder keeps a private copy") {
    val lines = MainSources.lines()
    def in(file: String)(site: (String, Int, String)): Boolean = site._1.endsWith(file)
    def show(sites: Seq[(String, Int, String)]) = sites.map { case (f, i, l) => s"$f:$i: $l" }.mkString("\n")
    val inflaters = lines.filter(_._3.matches(".*new\\s+(java\\.util\\.zip\\.)?Inflater\\b.*"))
    assert(inflaters.nonEmpty && inflaters.forall(in("graft/core/Bytes.scala")), show(inflaters))
    val decoders = Seq("graft/core/Tiff.scala", "graft/core/Png.scala", "graft/sinks/O5m.scala",
      "graft/sinks/Pbf.scala", "graft/engine/Multimodal.scala")
    val copies = lines.filter(s => decoders.exists(in(_)(s)) &&
      (s._3.contains("copyOfRange") || s._3.contains("ByteBuffer.wrap")))
    assert(copies.isEmpty, show(copies))
    val varintReads = graft.sinks.Varint.getClass.getMethods.map(_.getName)
      .filter(n => n == "readUnsigned" || n == "readSigned")
    assert(varintReads.isEmpty, varintReads.mkString(", "))
  }
}
