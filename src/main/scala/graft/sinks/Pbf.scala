package graft.sinks

import java.io.OutputStream
import java.util.zip.Deflater
import graft.core.{BBox, Bytes}

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
  * reference's osmium decode, tests/test_output.py:96-161). Every message
  * is read in place through `Bytes.Reader`, so a length past its message
  * refuses by name; blobs inflate through `Bytes.inflate`. */
object PbfReader {
  import scala.collection.immutable.ArraySeq
  import Bytes.Reader

  final case class Decoded(
      bboxNano: Seq[Long], // left, right, top, bottom
      features: Seq[String],
      nodes: Seq[(Long, Long, Long)], // id, lon1e7, lat1e7
      ways: Seq[(Long, Seq[Long], Seq[(String, String)])])

  private def field(in: Reader): Reader = in.sub(in.varint(), "length-delimited field")
  private def string(in: Reader): String = {
    val f = field(in)
    new String(f.buf, f.off, f.length, java.nio.charset.StandardCharsets.UTF_8)
  }
  private def skip(in: Reader, wire: Int): Unit = wire match {
    case 0 => in.varint()
    case 2 => field(in)
    case 5 => in.sub(4, "fixed32 field")
    case 1 => in.sub(8, "fixed64 field")
    case w => throw new IllegalArgumentException(s"corrupt PBF: wire type $w at byte ${in.pos}")
  }

  def decode(file: Array[Byte]): Decoded = {
    val in = Reader(file, "PBF")
    var bbox: Seq[Long] = Nil
    val features = scala.collection.mutable.ArrayBuffer.empty[String]
    val nodes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ways = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Seq[(String, String)])]
    while (in.hasMore) {
      val hlen = in.u32(in.pos, "BlobHeader length")
      in.pos += 4
      val header = in.sub(hlen, "BlobHeader")
      var blobType = ""
      var datasize = 0L
      while (header.hasMore) {
        val k = header.varint()
        (k >> 3).toInt match {
          case 1 => blobType = string(header)
          case 3 => datasize = header.varint()
          case _ => skip(header, (k & 7).toInt)
        }
      }
      val blob = in.sub(datasize, s"$blobType blob")
      var payload: Reader = null
      var rawSize = -1L
      var zdata: Reader = null
      while (blob.hasMore) {
        val k = blob.varint()
        (k >> 3).toInt match {
          case 1 => payload = field(blob)
          case 2 => rawSize = blob.varint()
          case 3 => zdata = field(blob)
          case _ => skip(blob, (k & 7).toInt)
        }
      }
      if (payload == null) {
        require(zdata != null, s"corrupt PBF: $blobType blob has neither raw nor zlib_data")
        payload = Reader(Bytes.inflate(file, zdata.off, zdata.length, rawSize, "PBF zlib_data"),
          "PBF", scope = s"$blobType block")
      }
      if (blobType == "OSMHeader") {
        while (payload.hasMore) {
          val k = payload.varint()
          (k >> 3).toInt match {
            case 1 =>
              val bb = field(payload)
              val vals = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (bb.hasMore) { bb.varint(); vals += bb.zigzag() }
              bbox = vals.toSeq
            case 4 => features += string(payload)
            case _ => skip(payload, (k & 7).toInt)
          }
        }
      } else {
        decodeData(payload, nodes, ways)
      }
    }
    Decoded(bbox, features.toSeq, nodes.toIndexedSeq, ways.toIndexedSeq)
  }

  private def decodeData(
      block: Reader,
      nodes: scala.collection.mutable.ArrayBuffer[(Long, Long, Long)],
      ways: scala.collection.mutable.ArrayBuffer[(Long, Seq[Long], Seq[(String, String)])]): Unit = {
    var granularity = 100L
    val strings = scala.collection.mutable.ArrayBuffer.empty[String]
    val groups = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (block.hasMore) {
      val k = block.varint()
      (k >> 3).toInt match {
        case 1 =>
          val st = field(block)
          while (st.hasMore) { st.varint(); strings += string(st) }
        case 2 => groups += field(block)
        case 17 => granularity = block.varint()
        case _ => skip(block, (k & 7).toInt)
      }
    }
    def str(i: Long): String = {
      require(i >= 0 && i < strings.size, s"corrupt PBF: string index $i past the ${strings.size}-entry string table")
      strings(i.toInt)
    }
    val scale = granularity / 100L // -> 1e-7 degree units
    groups.foreach { group =>
      while (group.hasMore) {
        val k = group.varint()
        (k >> 3).toInt match {
          case 2 => // dense
            val dense = field(group)
            var ids = Array.emptyLongArray
            var lats = Array.emptyLongArray
            var lons = Array.emptyLongArray
            while (dense.hasMore) {
              val kk = dense.varint()
              (kk >> 3).toInt match {
                case 1 => ids = packed(field(dense), signed = true)
                case 8 => lats = packed(field(dense), signed = true)
                case 9 => lons = packed(field(dense), signed = true)
                case _ => skip(dense, (kk & 7).toInt)
              }
            }
            require(lats.length == ids.length && lons.length == ids.length,
              s"corrupt PBF: DenseNodes has ${ids.length} ids, ${lats.length} lats and ${lons.length} lons")
            var id = 0L; var lat = 0L; var lon = 0L
            var i = 0
            while (i < ids.length) {
              id += ids(i); lat += lats(i); lon += lons(i)
              nodes += ((id, lon * scale, lat * scale))
              i += 1
            }
          case 3 => // way
            val way = field(group)
            var id = 0L
            var keys = Array.emptyLongArray
            var vals = Array.emptyLongArray
            var refs = Array.emptyLongArray
            while (way.hasMore) {
              val kk = way.varint()
              (kk >> 3).toInt match {
                case 1 => id = way.varint()
                case 2 => keys = packed(field(way), signed = false)
                case 3 => vals = packed(field(way), signed = false)
                case 8 =>
                  refs = packed(field(way), signed = true)
                  var i = 1
                  while (i < refs.length) { refs(i) += refs(i - 1); i += 1 }
                case _ => skip(way, (kk & 7).toInt)
              }
            }
            val tags = keys.toSeq.zip(vals).map { case (ki, vi) => (str(ki), str(vi)) }
            ways += ((id, ArraySeq.unsafeWrapArray(refs), tags))
          case _ => skip(group, (k & 7).toInt)
        }
      }
    }
  }

  // packed repeated fields as arrays: the decode loops index them, and a
  // List here made every dense block quadratic
  private def packed(in: Reader, signed: Boolean): Array[Long] = {
    val out = Array.newBuilder[Long]
    while (in.hasMore) out += (if (signed) in.zigzag() else in.varint())
    out.result()
  }
}
