package graft.sinks

import java.io.{ByteArrayOutputStream, OutputStream}
import graft.core.BBox

/** o5m sink, wire-compatible with the reference's writer
  * (/root/reference/pyhgtmap/output/o5mUtil.py:18-307): reset markers,
  * delta-coded ids/coords (coords = degrees x 1e7, truncated toward zero),
  * 15000-entry recent-string table, nodes chunked with a reset per chunk,
  * ways after all nodes. String-table lookups here are O(1)
  * (hash map + ring) where the reference linear-scans.
  */
object O5m {
  val Reset = 0xff
  val EndOfFile = 0xfe
  val NodeType = 0x10
  val WayType = 0x11
  val BBoxType = 0xdb
  val TimestampType = 0xdc
  val HeaderType = 0xe0
  val HundredNano = 10000000L

  def quantize(deg: Double): Long = (deg * HundredNano).toLong // int() truncation
}

final class O5mStringTable(maxRef: Int = 15000) {
  private val ring = new java.util.ArrayDeque[String]()
  // string -> insertion counter; boxed Long so absent keys are null (a
  // scala.Long value type would silently unbox null to 0)
  private val pos = new java.util.HashMap[String, java.lang.Long]()
  private var counter = 0L

  def reset(): Unit = { ring.clear(); pos.clear(); counter = 0L }

  /** Returns either the raw bytes (first sight / too long) or a varint
    * back-reference (1 = most recent). */
  def stringOrIndex(raw: Array[Byte]): Array[Byte] = {
    if (raw.length > 250) return raw
    val key = new String(raw, java.nio.charset.StandardCharsets.ISO_8859_1)
    val existing = pos.get(key)
    if (existing == null) {
      ring.addLast(key)
      pos.put(key, counter)
      counter += 1
      if (ring.size > maxRef) {
        val evicted = ring.removeFirst()
        pos.remove(evicted)
      }
      raw
    } else {
      Varint.unsigned(counter - existing.longValue())
    }
  }
}

final class O5mWriter(
    out: OutputStream,
    bbox: BBox,
    fileTimestamp: Long = 0L,
    writeTimestamp: Boolean = false) {

  private val table = new O5mStringTable()
  private var lastNodeId = 0L

  private def writeReset(): Unit = {
    out.write(O5m.Reset)
    lastNodeId = 0L
    table.reset()
  }

  private def dataset(typ: Int, payload: Array[Byte]): Unit = {
    out.write(typ)
    out.write(Varint.unsigned(payload.length.toLong))
    out.write(payload)
  }
  private def dataset(typ: Int, payload: ByteArrayOutputStream): Unit = {
    out.write(typ)
    Varint.writeUnsigned(out, payload.size.toLong)
    payload.writeTo(out)
  }

  // header: reset, o5m2 marker, file timestamp, bbox
  locally {
    writeReset()
    out.write(O5m.HeaderType)
    out.write(Varint.unsigned(4L))
    out.write("o5m2".getBytes("US-ASCII"))
    dataset(O5m.TimestampType, Varint.signed(fileTimestamp))
    val bb = new ByteArrayOutputStream()
    Seq(bbox.minLon, bbox.minLat, bbox.maxLon, bbox.maxLat)
      .foreach(d => Varint.writeSigned(bb, O5m.quantize(d)))
    dataset(O5m.BBoxType, bb.toByteArray)
  }

  private def stringPair(a: String, b: String): Array[Byte] = {
    val o = new ByteArrayOutputStream()
    o.write(0)
    o.write(a.getBytes("UTF-8")); o.write(0)
    o.write(b.getBytes("UTF-8")); o.write(0)
    o.toByteArray
  }

  private def versionChunk(first: Boolean, o: ByteArrayOutputStream): Unit = {
    Varint.writeUnsigned(o, 1L) // version
    if (first && writeTimestamp) Varint.writeSigned(o, fileTimestamp)
    else Varint.writeSigned(o, 0L) // timestamp 0 => no more version info
    if (writeTimestamp) {
      Varint.writeSigned(o, if (first) 1L else 0L) // changeset delta
      o.write(table.stringOrIndex(Array[Byte](0, 0, 0))) // empty uid/user
    }
  }

  private val node = new ByteArrayOutputStream(32)

  /** Nodes: the first n (lons(i), lats(i)) in 1e-7 degrees, contiguous ids
    * from startNodeId. Resets delta state first (the reference does per
    * 32000-node chunk). */
  def writeNodes(startNodeId: Long, lons: Array[Long], lats: Array[Long], n: Int): Unit = {
    if (n == 0) return
    writeReset()
    var lastLon = 0L
    var lastLat = 0L
    var i = 0
    while (i < n) {
      node.reset()
      Varint.writeSigned(node, if (i == 0) startNodeId else 1L)
      versionChunk(i == 0, node)
      Varint.writeSigned(node, lons(i) - lastLon)
      Varint.writeSigned(node, lats(i) - lastLat)
      dataset(O5m.NodeType, node)
      lastLon = lons(i); lastLat = lats(i)
      i += 1
    }
  }

  /** Ways after all nodes; refs delta-coded across ways. */
  def writeWays(ways: Iterable[PreparedWay], startWayId: Long,
      classifier: Long => String): Unit = {
    if (ways.isEmpty) return
    writeReset()
    var first = true
    ways.foreach { w =>
      val o = new ByteArrayOutputStream(64)
      Varint.writeSigned(o, if (first) startWayId else 1L)
      versionChunk(first, o)
      val refs = new ByteArrayOutputStream(32)
      Varint.writeSigned(refs, w.firstNodeId - lastNodeId)
      var i = 1L
      while (i < w.nbNodes) { Varint.writeSigned(refs, 1L); i += 1 }
      if (w.closed) {
        Varint.writeSigned(refs, -(w.nbNodes - 1))
        lastNodeId = w.firstNodeId
      } else lastNodeId = w.firstNodeId + w.nbNodes - 1
      val refBytes = refs.toByteArray
      Varint.writeUnsigned(o, refBytes.length.toLong)
      o.write(refBytes)
      o.write(table.stringOrIndex(stringPair("ele", w.elevation.toString)))
      o.write(table.stringOrIndex(stringPair("contour", "elevation")))
      o.write(table.stringOrIndex(stringPair("contour_ext", classifier(w.elevation))))
      dataset(O5m.WayType, o)
      first = false
    }
  }

  def done(): Unit = {
    out.write(O5m.EndOfFile)
    out.close()
  }
}

/** Minimal o5m reader for round-trip verification (plays the role of the
  * reference's osmium-based decode checks, tests/test_output.py:96-161).
  * Each dataset is read in place through `Bytes.Reader`, so a length,
  * varint or string past its dataset refuses by name. */
object O5mReader {
  final case class Decoded(
      bbox: Seq[Long],
      nodes: Seq[(Long, Long, Long)], // id, lon1e7, lat1e7
      ways: Seq[(Long, Seq[Long], Seq[(String, String)])])

  def decode(buf: Array[Byte]): Decoded = {
    val in = graft.core.Bytes.Reader(buf, "o5m")
    var lastNodeId = 0L
    var lastWayId = 0L
    var lastRef = 0L
    var lastLon = 0L
    var lastLat = 0L
    var lastTs = 0L
    var bbox: Seq[Long] = Nil
    val table = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val ways = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long], Seq[(String, String)])]

    // a pair is inline (\0 key \0 value \0, tabled when at most 250
    // bytes) or a back-reference into the table (1 = most recent)
    def stringPair(d: graft.core.Bytes.Reader): (String, String) = {
      val start = d.pos
      if (d.u8(start, "string pair") == 0) {
        d.pos += 1
        val kv = (d.cstring(), d.cstring())
        if (d.pos - start <= 250) table += kv
        kv
      } else {
        val ref = d.varint()
        require(ref >= 1 && ref <= table.size,
          s"corrupt o5m: string back-reference $ref at byte $start past the ${table.size}-entry table")
        table(table.size - ref.toInt)
      }
    }

    def version(d: graft.core.Bytes.Reader): Unit =
      if (d.varint() != 0) {
        // the wire carries a timestamp DELTA; author info follows whenever
        // the delta-decoded ABSOLUTE timestamp is non-zero (o5m spec). The
        // writer emits delta 0 on non-first entities after a non-zero first
        // timestamp, so gating on the raw delta would desync the stream.
        lastTs += d.zigzag()
        if (lastTs != 0) {
          d.zigzag() // changeset
          stringPair(d) // uid/user (we only ever write the empty pair)
        }
      }

    var ended = false
    while (!ended && in.hasMore) {
      in.u8(in.pos, "dataset type") match {
        case O5m.Reset =>
          lastNodeId = 0; lastWayId = 0; lastRef = 0; lastLon = 0; lastLat = 0
          lastTs = 0
          table.clear()
          in.pos += 1
        case O5m.EndOfFile => ended = true
        case typ =>
          val at = in.pos
          in.pos += 1
          val d = in.sub(in.varint(), s"dataset 0x${typ.toHexString}")
          typ match {
            case O5m.HeaderType => // "o5m2"
            case O5m.TimestampType => // file timestamp
            case O5m.BBoxType =>
              val b = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (d.hasMore) b += d.zigzag()
              bbox = b.toSeq
            case O5m.NodeType =>
              lastNodeId += d.zigzag()
              version(d)
              lastLon += d.zigzag(); lastLat += d.zigzag()
              nodes += ((lastNodeId, lastLon, lastLat))
            case O5m.WayType =>
              lastWayId += d.zigzag()
              version(d)
              val refs = d.sub(d.varint(), "way refs")
              val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
              while (refs.hasMore) { lastRef += refs.zigzag(); ids += lastRef }
              val tags = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
              while (d.hasMore) tags += stringPair(d)
              ways += ((lastWayId, ids.toSeq, tags.toSeq))
            case other => throw new IllegalArgumentException(
              s"corrupt o5m: unknown dataset type 0x${other.toHexString} at byte $at")
          }
      }
    }
    require(ended, s"corrupt o5m: no end-of-file marker in ${buf.length} bytes (truncated?)")
    Decoded(bbox, nodes.toSeq, ways.toSeq)
  }
}
