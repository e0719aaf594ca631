package graftbench

/** Counts the nodes and ways of an OSM PBF file by walking its protobuf
  * framing directly: OSMData blobs -> PrimitiveBlock.primitivegroup ->
  * DenseNodes ids / Way. Linear in the file size, and independent of the
  * engine's writer and reader. */
object PbfCount {
  final case class Counts(nodes: Long, ways: Long)

  private final class In(val buf: Array[Byte], var pos: Int, val end: Int) {
    def more: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0L
      while ({ b = buf(pos) & 0xffL; pos += 1; v |= (b & 0x7f) << shift; shift += 7; (b & 0x80) != 0 }) ()
      v
    }
    /** A length-delimited field as a sub-reader; advances past it. */
    def sub(): In = {
      val n = varint().toInt
      val r = new In(buf, pos, pos + n)
      pos += n
      r
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val n = varint().toInt; pos += n
      case 5 => pos += 4
      case w => throw new IllegalStateException(s"unexpected wire type $w at $pos")
    }
  }

  def count(file: Array[Byte]): Counts = {
    var nodes = 0L
    var ways = 0L
    var pos = 0
    while (pos < file.length) {
      val hlen = java.nio.ByteBuffer.wrap(file, pos, 4).getInt
      val header = new In(file, pos + 4, pos + 4 + hlen)
      var kind = ""
      var size = 0
      while (header.more) {
        val k = header.varint()
        (k >> 3).toInt match {
          case 1 => val s = header.sub(); kind = new String(file, s.pos, s.end - s.pos, "UTF-8")
          case 3 => size = header.varint().toInt
          case _ => header.skip((k & 7).toInt)
        }
      }
      val blob = new In(file, header.end, header.end + size)
      pos = header.end + size
      var raw: Array[Byte] = null
      var rawSize = 0
      var zipped: In = null
      while (blob.more) {
        val k = blob.varint()
        (k >> 3).toInt match {
          case 1 => val s = blob.sub(); raw = java.util.Arrays.copyOfRange(file, s.pos, s.end)
          case 2 => rawSize = blob.varint().toInt
          case 3 => zipped = blob.sub()
          case _ => blob.skip((k & 7).toInt)
        }
      }
      if (kind == "OSMData") {
        if (raw == null) {
          val inf = new java.util.zip.Inflater()
          inf.setInput(file, zipped.pos, zipped.end - zipped.pos)
          raw = new Array[Byte](rawSize)
          var off = 0
          while (off < rawSize && !inf.finished()) off += inf.inflate(raw, off, rawSize - off)
          inf.end()
          require(off == rawSize, s"truncated blob: $off of $rawSize bytes")
        }
        val block = new In(raw, 0, raw.length)
        while (block.more) {
          val k = block.varint()
          if ((k >> 3) == 2) {
            val group = block.sub()
            while (group.more) {
              val g = group.varint()
              (g >> 3).toInt match {
                case 2 =>
                  val dense = group.sub()
                  while (dense.more) {
                    val d = dense.varint()
                    if ((d >> 3) == 1) {
                      val ids = dense.sub()
                      while (ids.more) { ids.varint(); nodes += 1 }
                    } else dense.skip((d & 7).toInt)
                  }
                case 3 => group.skip(2); ways += 1
                case _ => group.skip((g & 7).toInt)
              }
            }
          } else block.skip((k & 7).toInt)
        }
      }
    }
    Counts(nodes, ways)
  }
}
