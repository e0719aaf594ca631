package graft.sinks

import java.io.OutputStream
import java.util.zip.{Deflater, Inflater}
import graft.core.BBox

/** OSM PBF sink (the reference's pbfUtil delegates to the osmium C++
  * library; this is a from-scratch encoder of the public PBF format:
  * length-prefixed BlobHeader/Blob framing, zlib-compressed HeaderBlock and
  * PrimitiveBlocks, DenseNodes with delta-coded packed sint64, ways with
  * delta-coded refs and string-table tags). Content contract mirrors
  * /root/reference/tests/test_output.py:96-161 (decoded nodes/ways/tags,
  * header bbox, dense encoding efficiency). Granularity 100 => coordinate
  * unit = 1e-7 degree, same quantization as the o5m sink.
  *
  * Buffer reuse: the writer allocates nothing per node or way. Each
  * message level (packed field, way, DenseNodes, PrimitiveGroup, block,
  * string table, compressed blob) owns one growable byte buffer that is
  * cleared and refilled for every block; a nested message is built in its
  * own buffer and copied once behind its length prefix. One Deflater per
  * writer is reset for each blob and ended at done(); it stays at
  * DEFAULT_COMPRESSION, so the bytes match a fresh Deflater per blob. */
object Pbf {

  /** Growable protobuf output buffer, cleared and refilled per message. */
  final class Buf(initial: Int) {
    var bytes = new Array[Byte](initial)
    var size = 0
    def clear(): Unit = size = 0
    def ensure(extra: Int): Unit =
      if (size + extra > bytes.length)
        bytes = java.util.Arrays.copyOf(bytes, math.max(bytes.length * 2, size + extra))
    def varint(v0: Long): Unit = {
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0) { bytes(size) = ((v & 0x7f) | 0x80).toByte; size += 1; v >>>= 7 }
      bytes(size) = v.toByte
      size += 1
    }
    def zigzag(v: Long): Unit = varint((v << 1) ^ (v >> 63))
    def key(field: Int, wire: Int): Unit = varint((field << 3 | wire).toLong)
    def int64(field: Int, v: Long): Unit = { key(field, 0); varint(v) }
    def sint64(field: Int, v: Long): Unit = { key(field, 0); zigzag(v) }
    def bytes(field: Int, b: Array[Byte], len: Int): Unit = {
      key(field, 2); varint(len.toLong)
      ensure(len)
      System.arraycopy(b, 0, bytes, size, len)
      size += len
    }
    def message(field: Int, m: Buf): Unit = bytes(field, m.bytes, m.size)
    def string(field: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8")
      bytes(field, b, b.length)
    }
  }

  /** Inflate one blob to exactly `rawSize` bytes. A stream that stalls
    * (truncated), fails to parse or ends short refuses by name instead of
    * spinning or zero-padding; deflate expands at most 1032:1, so a
    * larger declared size is refused before it is allocated. */
  def unzlib(data: Array[Byte], rawSize: Int): Array[Byte] = {
    require(rawSize >= 0 && rawSize <= data.length.toLong * 1032,
      s"corrupt PBF: raw_size $rawSize cannot inflate from ${data.length} zlib bytes")
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new Array[Byte](rawSize)
      var off = 0
      while (off < rawSize) {
        val n =
          try inf.inflate(out, off, rawSize - off)
          catch { case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(s"corrupt PBF zlib_data: ${e.getMessage}") }
        require(n > 0, s"corrupt PBF zlib_data: stream stops at $off of $rawSize bytes")
        off += n
      }
      out
    } finally inf.end()
  }
}

final class PbfWriter(out: OutputStream, bbox: BBox, generator: String = "graft 0.1.0") {
  import Pbf.Buf

  private val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION)
  private val packed = new Buf(1 << 16) // one packed repeated field
  private val way = new Buf(1 << 10)
  private val msg = new Buf(1 << 17) // DenseNodes / HeaderBBox
  private val group = new Buf(1 << 17) // PrimitiveGroup
  private val table = new Buf(1 << 10) // StringTable
  private val block = new Buf(1 << 17) // PrimitiveBlock / HeaderBlock
  private val zdata = new Buf(1 << 16) // the block, compressed
  private val header = new Buf(64) // BlobHeader
  private val blob = new Buf(32) // Blob fields before zlib_data's bytes

  locally {
    msg.clear()
    msg.sint64(1, (bbox.minLon * 1e9).toLong) // left, nanodegrees
    msg.sint64(2, (bbox.maxLon * 1e9).toLong) // right
    msg.sint64(3, (bbox.maxLat * 1e9).toLong) // top
    msg.sint64(4, (bbox.minLat * 1e9).toLong) // bottom
    block.clear()
    block.message(1, msg)
    block.string(4, "OsmSchema-V0.6")
    block.string(4, "DenseNodes")
    block.string(16, generator)
    writeBlob("OSMHeader")
  }

  /** Dense nodes: ids contiguous from startId, coords in 1e-7 degrees,
    * the first n entries of lons/lats. */
  def writeDenseNodes(startId: Long, lons: Array[Long], lats: Array[Long], n: Int): Unit = {
    if (n == 0) return
    msg.clear()
    packed.clear()
    packed.zigzag(startId)
    var i = 1
    while (i < n) { packed.zigzag(1L); i += 1 }
    msg.message(1, packed)
    packDeltas(lats, n)
    msg.message(8, packed)
    packDeltas(lons, n)
    msg.message(9, packed)
    group.clear()
    group.message(2, msg)
    table.clear()
    table.bytes(1, Array.emptyByteArray, 0)
    writePrimitiveBlock()
  }

  private def packDeltas(vs: Array[Long], n: Int): Unit = {
    packed.clear()
    var last = 0L
    var i = 0
    while (i < n) { packed.zigzag(vs(i) - last); last = vs(i); i += 1 }
  }

  /** Ways with ele/contour tags via the block string table. */
  def writeWays(ways: Iterable[PreparedWay], startWayId: Long, classifier: Long => String): Unit = {
    // chunk ways into blocks of <=8000 entities (mirroring the dense-node
    // chunking): a single merged-output run can hold millions of ways, and
    // one unchunked PrimitiveBlock would blow the PBF spec's 16/32 MiB
    // uncompressed blob limit that osmium/osmosis readers enforce. Each
    // block carries its own string table.
    val strings = new java.util.HashMap[String, Integer]()
    def sid(s: String): Long = {
      val id = strings.get(s)
      if (id != null) id.longValue
      else {
        val next = strings.size
        strings.put(s, next)
        table.string(1, s)
        next.toLong
      }
    }
    var wayId = startWayId
    var inBlock = 0
    val it = ways.iterator
    while (it.hasNext) {
      if (inBlock == 0) {
        // string table: index 0 must be empty (dense keys_vals delimiter)
        strings.clear()
        table.clear()
        sid("")
        group.clear()
      }
      val w = it.next()
      way.clear()
      way.int64(1, wayId)
      packed.clear()
      packed.varint(sid("ele")); packed.varint(sid("contour")); packed.varint(sid("contour_ext"))
      way.message(2, packed)
      packed.clear()
      packed.varint(sid(w.elevation.toString)); packed.varint(sid("elevation"))
      packed.varint(sid(classifier(w.elevation)))
      way.message(3, packed)
      // refs: first..first+n-1, then first again for a closed ring,
      // delta-coded from 0 within the way
      packed.clear()
      var last = 0L
      var r = w.firstNodeId
      val end = w.firstNodeId + w.nbNodes
      while (r < end) { packed.zigzag(r - last); last = r; r += 1 }
      if (w.closed) packed.zigzag(w.firstNodeId - last)
      way.message(8, packed)
      group.message(3, way)
      wayId += 1
      inBlock += 1
      if (inBlock == 8000 || !it.hasNext) {
        writePrimitiveBlock()
        inBlock = 0
      }
    }
  }

  /** table + group -> one PrimitiveBlock blob. */
  private def writePrimitiveBlock(): Unit = {
    block.clear()
    block.message(1, table)
    block.message(2, group)
    block.int64(17, 100L) // granularity: 100 nanodeg = 1e-7 deg
    writeBlob("OSMData")
  }

  /** `block` as one framed blob: 4-byte BE BlobHeader length, BlobHeader,
    * Blob (raw_size, zlib_data). */
  private def writeBlob(blobType: String): Unit = {
    deflater.reset()
    deflater.setInput(block.bytes, 0, block.size)
    deflater.finish()
    zdata.clear()
    while (!deflater.finished()) {
      zdata.ensure(8192)
      zdata.size += deflater.deflate(zdata.bytes, zdata.size, zdata.bytes.length - zdata.size)
    }
    blob.clear()
    blob.int64(2, block.size.toLong) // raw_size
    blob.key(3, 2); blob.varint(zdata.size.toLong) // zlib_data
    header.clear()
    header.string(1, blobType)
    header.int64(3, (blob.size + zdata.size).toLong) // datasize
    val h = header.size
    out.write(h >>> 24); out.write(h >>> 16); out.write(h >>> 8); out.write(h)
    out.write(header.bytes, 0, header.size)
    out.write(blob.bytes, 0, blob.size)
    out.write(zdata.bytes, 0, zdata.size)
  }

  def done(): Unit = {
    deflater.end()
    out.close()
  }
}

/** Minimal PBF decoder for round-trip verification (plays the role of the
  * reference's osmium decode, tests/test_output.py:96-161). */
object PbfReader {
  import Pbf._
  import scala.collection.immutable.ArraySeq

  final case class Decoded(
      bboxNano: Seq[Long], // left, right, top, bottom
      features: Seq[String],
      nodes: Seq[(Long, Long, Long)], // id, lon1e7, lat1e7
      ways: Seq[(Long, Seq[Long], Seq[(String, String)])])

  private final class ProtoIn(val buf: Array[Byte]) {
    var pos = 0
    def hasMore: Boolean = pos < buf.length
    def varint(): Long = {
      var shift = 0; var v = 0L; var b = 0L
      do {
        require(pos < buf.length && shift < 64, s"corrupt PBF: varint at byte $pos runs past its message")
        b = buf(pos) & 0xffL; v |= (b & 0x7f) << shift; shift += 7; pos += 1
      } while ((b & 0x80) != 0)
      v
    }
    def zigzag(): Long = { val u = varint(); (u >>> 1) ^ -(u & 1) }
    def lenBytes(): Array[Byte] = {
      val n = varint()
      val r = slice(buf, pos, n, "length-delimited field")
      pos += n.toInt
      r
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 2 => lenBytes()
      case 5 => pos += 4
      case 1 => pos += 8
      case w => throw new IllegalArgumentException(s"corrupt PBF: wire type $w")
    }
  }

  /** `n` bytes of `buf` from `off`, refused by name when they run past its
    * end (a plain copyOfRange would zero-pad a truncated file). */
  private def slice(buf: Array[Byte], off: Int, n: Long, field: String): Array[Byte] = {
    require(n >= 0 && n <= buf.length - off,
      s"corrupt PBF: $field [$off, ${off + n}) is outside its ${buf.length}-byte message")
    java.util.Arrays.copyOfRange(buf, off, off + n.toInt)
  }

  def decode(file: Array[Byte]): Decoded = {
    var pos = 0
    var bbox: Seq[Long] = Nil
    val features = scala.collection.mutable.ArrayBuffer.empty[String]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ways = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Seq[(String, String)])]
    while (pos < file.length) {
      val hlen = java.nio.ByteBuffer.wrap(slice(file, pos, 4, "BlobHeader length")).getInt & 0xffffffffL
      pos += 4
      val header = new ProtoIn(slice(file, pos, hlen, "BlobHeader"))
      pos += hlen.toInt
      var blobType = ""
      var datasize = 0L
      while (header.hasMore) {
        val k = header.varint()
        (k >> 3).toInt match {
          case 1 => blobType = new String(header.lenBytes(), "UTF-8")
          case 3 => datasize = header.varint()
          case _ => header.skip((k & 7).toInt)
        }
      }
      val blob = new ProtoIn(slice(file, pos, datasize, s"$blobType blob"))
      pos += datasize.toInt
      var payload: Array[Byte] = null
      var rawSize = -1
      var zdata: Array[Byte] = null
      while (blob.hasMore) {
        val k = blob.varint()
        (k >> 3).toInt match {
          case 1 => payload = blob.lenBytes()
          case 2 => rawSize = blob.varint().toInt
          case 3 => zdata = blob.lenBytes()
          case _ => blob.skip((k & 7).toInt)
        }
      }
      if (payload == null) {
        require(zdata != null, s"corrupt PBF: $blobType blob has neither raw nor zlib_data")
        payload = unzlib(zdata, rawSize)
      }
      if (blobType == "OSMHeader") {
        val hb = new ProtoIn(payload)
        while (hb.hasMore) {
          val k = hb.varint()
          (k >> 3).toInt match {
            case 1 =>
              val bb = new ProtoIn(hb.lenBytes())
              val vals = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (bb.hasMore) { val kk = bb.varint(); vals += bb.zigzag() }
              bbox = vals.toSeq
            case 4 => features += new String(hb.lenBytes(), "UTF-8")
            case _ => hb.skip((k & 7).toInt)
          }
        }
      } else {
        decodeData(payload, nodes, ways)
      }
    }
    Decoded(bbox, features.toSeq, nodes.toIndexedSeq, ways.toIndexedSeq)
  }

  private def decodeData(
      payload: Array[Byte],
      nodes: scala.collection.mutable.ArrayBuffer[(Long, Long, Long)],
      ways: scala.collection.mutable.ArrayBuffer[(Long, Seq[Long], Seq[(String, String)])]): Unit = {
    val block = new ProtoIn(payload)
    var granularity = 100L
    val strings = scala.collection.mutable.ArrayBuffer.empty[String]
    val groups = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    while (block.hasMore) {
      val k = block.varint()
      (k >> 3).toInt match {
        case 1 =>
          val st = new ProtoIn(block.lenBytes())
          while (st.hasMore) { val kk = st.varint(); strings += new String(st.lenBytes(), "UTF-8") }
        case 2 => groups += block.lenBytes()
        case 17 => granularity = block.varint()
        case _ => block.skip((k & 7).toInt)
      }
    }
    val scale = granularity / 100L // -> 1e-7 degree units
    groups.foreach { g =>
      val group = new ProtoIn(g)
      while (group.hasMore) {
        val k = group.varint()
        (k >> 3).toInt match {
          case 2 => // dense
            val dense = new ProtoIn(group.lenBytes())
            var ids = Array.emptyLongArray
            var lats = Array.emptyLongArray
            var lons = Array.emptyLongArray
            while (dense.hasMore) {
              val kk = dense.varint()
              (kk >> 3).toInt match {
                case 1 => ids = packed(dense.lenBytes())
                case 8 => lats = packed(dense.lenBytes())
                case 9 => lons = packed(dense.lenBytes())
                case _ => dense.skip((kk & 7).toInt)
              }
            }
            var id = 0L; var lat = 0L; var lon = 0L
            var i = 0
            while (i < ids.length) {
              id += ids(i); lat += lats(i); lon += lons(i)
              nodes += ((id, lon * scale, lat * scale))
              i += 1
            }
          case 3 => // way
            val way = new ProtoIn(group.lenBytes())
            var id = 0L
            var keys = Array.emptyLongArray
            var vals = Array.emptyLongArray
            var refs = Array.emptyLongArray
            while (way.hasMore) {
              val kk = way.varint()
              (kk >> 3).toInt match {
                case 1 => id = way.varint()
                case 2 => keys = packedU(way.lenBytes())
                case 3 => vals = packedU(way.lenBytes())
                case 8 =>
                  refs = packed(way.lenBytes())
                  var i = 1
                  while (i < refs.length) { refs(i) += refs(i - 1); i += 1 }
                case _ => way.skip((kk & 7).toInt)
              }
            }
            val tags = keys.toSeq.zip(vals).map { case (ki, vi) => (strings(ki.toInt), strings(vi.toInt)) }
            ways += ((id, ArraySeq.unsafeWrapArray(refs), tags))
          case _ => group.skip((k & 7).toInt)
        }
      }
    }
  }

  // packed repeated fields as arrays: the decode loops index them, and a
  // List here made every dense block quadratic
  private def packed(b: Array[Byte]): Array[Long] = {
    val in = new ProtoIn(b)
    val out = Array.newBuilder[Long]
    while (in.hasMore) out += in.zigzag()
    out.result()
  }
  private def packedU(b: Array[Byte]): Array[Long] = {
    val in = new ProtoIn(b)
    val out = Array.newBuilder[Long]
    while (in.hasMore) out += in.varint()
    out.result()
  }
}
