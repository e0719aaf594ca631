package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String

/** WARC-style record reader as a Spark DataSource V2 connector — the
  * ingest format of a Common-Crawl-shaped pipeline (each crawl file is a
  * concatenation of length-framed records). This is the deliberately
  * small but REAL subset of ISO 28500 framing the engine needs:
  *
  *   WARC/1.0\r\n
  *   WARC-Target-URI: <url>\r\n
  *   WARC-Date: <ISO-8601 UTC>\r\n
  *   Content-Length: <n>\r\n
  *   \r\n
  *   <n body bytes>\r\n\r\n
  *
  * Connector shape: one input partition PER FILE (WARC is not splittable
  * without an external index — crawls parallelize across their many
  * files, which is also how the fleet reads real CC dumps), streaming
  * record parse over the Hadoop FileSystem (any scheme), and
  * SupportsPushDownRequiredColumns so `select(url)` never materializes
  * page bodies — column pruning reaches a custom connector the same way
  * it reaches parquet.
  *
  * Usage: spark.read.format("graft.sources.WarcLiteSource").load(dir)
  */
object WarcLite {

  val schema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("warc_ts", TimestampType),
    StructField("html", BinaryType)))

  /** Streaming record iterator over one file. */
  def parse(in: java.io.InputStream): Iterator[(String, Long, Array[Byte])] = {
    val buf = new java.io.BufferedInputStream(in, 1 << 16)
    val lineBytes = new java.io.ByteArrayOutputStream(128)
    var pos = 0L // bytes consumed so far
    var lineAt = 0L // offset of the last line read
    // header lines decode as UTF-8 (ISO 28500 headers are UTF-8 — a
    // byte-to-char loop would mangle non-ASCII URIs)
    def readLine(): String = {
      lineAt = pos
      lineBytes.reset()
      var c = buf.read()
      while (c != -1 && c != '\n') {
        pos += 1
        if (c != '\r') lineBytes.write(c)
        c = buf.read()
      }
      if (c != -1) pos += 1
      if (c == -1 && lineBytes.size() == 0) null
      else new String(lineBytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }
    new Iterator[(String, Long, Array[Byte])] {
      private var records = 0L
      private var nextRec: (String, Long, Array[Byte]) = advance()
      private def advance(): (String, Long, Array[Byte]) = {
        var line = readLine()
        while (line != null && line.isEmpty) line = readLine() // inter-record blank
        if (line == null) return null
        val (rec, start) = (records, lineAt)
        records += 1
        def fail(why: String): Nothing =
          throw new IllegalArgumentException(s"corrupt WARC: record $rec at byte $start: $why")
        def check(ok: Boolean, why: => String): Unit = if (!ok) fail(why)
        check(line.startsWith("WARC/"), s"bad record marker: '$line'")
        var url: String = null
        var tsMicros = -1L
        var len = -1L
        var h = readLine()
        while (h != null && h.nonEmpty) {
          val i = h.indexOf(':')
          check(i > 0, s"bad header line: '$h'")
          val (k, v) = (h.substring(0, i).trim, h.substring(i + 1).trim)
          k.toLowerCase(java.util.Locale.ROOT) match {
            case "warc-target-uri" => url = v
            case "warc-date" =>
              // full microsecond precision (toEpochMilli would truncate)
              val inst =
                try java.time.Instant.parse(v)
                catch { case _: java.time.format.DateTimeParseException =>
                  fail(s"bad WARC-Date '$v'") }
              tsMicros = inst.getEpochSecond * 1000000L + inst.getNano / 1000L
            case "content-length" =>
              len = v.toLongOption.filter(_ >= 0).getOrElse(
                fail(s"bad Content-Length '$v'"))
            case _ => () // unknown headers pass through
          }
          h = readLine()
        }
        // strict on ALL required headers — a half-parsed record must fail
        // at the source, not flow through as null url / epoch-0 rows
        check(len >= 0, "record missing Content-Length")
        check(len <= Int.MaxValue - 8, s"Content-Length $len exceeds a byte array")
        check(url != null, "record missing WARC-Target-URI")
        check(tsMicros >= 0, "record missing WARC-Date")
        // readNBytes grows the body as bytes arrive, so a hostile
        // Content-Length cannot allocate more than the file holds
        val body = buf.readNBytes(len.toInt)
        pos += body.length
        check(body.length == len, s"truncated record body at ${body.length}/$len")
        (url, tsMicros, body)
      }
      override def hasNext: Boolean = nextRec != null
      override def next(): (String, Long, Array[Byte]) = {
        val r = nextRec; nextRec = advance(); r
      }
    }
  }

  /** Stream records into one .warc file (test/synth helper). */
  def write(path: String, records: Iterator[(String, Long, Array[Byte])]): Unit = {
    val out = new java.io.BufferedOutputStream(graft.core.Fs.create(path), 1 << 16)
    try records.foreach { case (url, tsMicros, body) =>
      val ts = java.time.Instant.ofEpochSecond(
        tsMicros / 1000000L, (tsMicros % 1000000L) * 1000L).toString
      val head = s"WARC/1.0\r\nWARC-Target-URI: $url\r\nWARC-Date: $ts\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
      out.write(head.getBytes("UTF-8"))
      out.write(body)
      out.write("\r\n\r\n".getBytes("UTF-8"))
    } finally out.close()
  }
}

/** DataSource V2 entry point (`.format("graft.sources.WarcLiteSource")`). */
class WarcLiteSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = WarcLite.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("WarcLiteSource needs .load(path)"))
    new WarcLiteTable(path)
  }
}

final class WarcLiteTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"warclite:$path"
  override def schema(): StructType = WarcLite.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcLiteScanBuilder(path)
}

final class WarcLiteScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcLite.schema
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new WarcLiteScan(path, required)
}

final case class WarcLiteFilePartition(file: String) extends InputPartition

final class WarcLiteScan(path: String, required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    graft.core.Fs.listFiles(path)
      .filter(_.endsWith(".warc"))
      .sorted // deterministic partition order
      .map(f => WarcLiteFilePartition(f): InputPartition)
      .toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new WarcLiteReaderFactory(required)
}

final class WarcLiteReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[WarcLiteFilePartition].file
    // which of the full schema's columns this reader must emit, in the
    // pruned order — bodies are never read into rows unless requested
    val proj: Array[Int] = required.fields.map(f => WarcLite.schema.fieldIndex(f.name))
    new PartitionReader[InternalRow] {
      private val in = graft.core.Fs.open(file)
      private val it = WarcLite.parse(in)
      private var cur: (String, Long, Array[Byte]) = _
      override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
      override def get(): InternalRow = {
        // one fresh array per row (rows may be buffered downstream), no
        // boxed-map/wrap/copy chain on the scan hot path
        val arr = new Array[Any](proj.length)
        var i = 0
        while (i < proj.length) {
          arr(i) = proj(i) match {
            case 0 => UTF8String.fromString(cur._1)
            case 1 => cur._2
            case _ => cur._3
          }
          i += 1
        }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
      }
      override def close(): Unit = in.close()
    }
  }
}
