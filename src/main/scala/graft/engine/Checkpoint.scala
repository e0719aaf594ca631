package graft.engine

import graft.core.Fs
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.parquet.schema.MessageTypeParser

/** Per-partition (= per-tile) commit log + metrics/lineage tables, making
  * the pipeline resumable: a tile whose commit record exists is skipped on
  * re-run, and id offsets are rebuilt from committed counts so a resumed
  * run produces byte-identical output to a fresh one.
  *
  * This re-expresses the reference's "one output file per forked tile
  * worker" model (/root/reference/pyhgtmap/hgt/processor.py:196-265) with
  * the durable commit semantics the north rule requires (idempotent task
  * re-runs; skip committed partitions on restart).
  */
object Checkpoint {

  final case class Commit(
      key: String, tileIdx: Int, nodes: Long, ways: Long, file: String, ms: Long)

  def commitsDir(outDir: String): String = s"$outDir/_commits"

  private def fmt(c: Commit): String =
    s"""{"key":"${c.key}","tileIdx":${c.tileIdx},"nodes":${c.nodes},"ways":${c.ways},""" +
      s""""file":"${c.file}","ms":${c.ms}}"""

  private val Pat =
    """\{"key":"([^"]*)","tileIdx":(\d+),"nodes":(\d+),"ways":(\d+),"file":"([^"]*)","ms":(\d+)\}""".r

  def parse(line: String): Option[Commit] = line.trim match {
    case Pat(k, t, n, w, f, ms) => Some(Commit(k, t.toInt, n.toLong, w.toLong, f, ms.toLong))
    case _ => None
  }

  /** Executor-side durable commit: write tmp + rename, via the Hadoop
    * FileSystem API so executors commit to the shared cluster FS (HDFS
    * rename is atomic; object stores degrade to copy+delete, still safe
    * here because each tile has exactly one writer per attempt and the
    * record content is idempotent). */
  def writeCommit(outDir: String, c: Commit): Unit = {
    val dir = commitsDir(outDir)
    Fs.mkdirs(dir)
    val tmp = s"$dir/.${c.key}_${c.tileIdx}.tmp"
    Fs.writeString(tmp, fmt(c) + "\n")
    Fs.rename(tmp, s"$dir/${c.key}_${c.tileIdx}.json")
  }

  /** Driver-side: all committed tiles. */
  def readCommits(outDir: String): Seq[Commit] = {
    Fs.listFiles(commitsDir(outDir))
      .filter(_.endsWith(".json"))
      .flatMap(p => parse(Fs.readString(p)))
  }

  /** The two `_meta` tables under outDir, each one parquet part file plus
    * `_SUCCESS`, replacing what an earlier run wrote. metrics: one row per
    * commit record. lineage: one row per tile of the run, with the file of
    * its commit record, or null when it has none. Both are written on the
    * driver from rows it already holds, with Spark's parquet writer
    * library and no Spark job; the columns and types are those Spark
    * gives the same rows as a Dataset (strings optional, numbers required). */
  def writeMeta(outDir: String, tiles: Seq[(String, Int)], commits: Seq[Commit]): Unit = {
    val sorted = commits.sortBy(c => (c.key, c.tileIdx))
    writeTable(s"$outDir/_meta/metrics.parquet",
      """message spark_schema {
        |  optional binary key (STRING); required int32 tileIdx; required int64 nodes;
        |  required int64 ways; optional binary file (STRING); required int64 ms;
        |}""".stripMargin, sorted) { (g, c) =>
      g.append("key", c.key).append("tileIdx", c.tileIdx).append("nodes", c.nodes)
        .append("ways", c.ways).append("file", c.file).append("ms", c.ms)
    }
    val files = commits.map(c => (c.key, c.tileIdx) -> c.file).toMap
    writeTable(s"$outDir/_meta/lineage.parquet",
      """message spark_schema {
        |  optional binary key (STRING); required int32 tileIdx; optional binary file (STRING);
        |}""".stripMargin, tiles.sorted) { case (g, (key, idx)) =>
      g.append("key", key).append("tileIdx", idx)
      files.get((key, idx)).foreach(g.append("file", _))
    }
  }

  private def writeTable[T](dir: String, schema: String, rows: Seq[T])(fill: (Group, T) => Unit): Unit = {
    val tpe = MessageTypeParser.parseMessageType(schema)
    Fs.deleteRecursive(dir)
    val part = s"$dir/part-00000.snappy.parquet"
    val out = new OutputFile {
      def create(blockSizeHint: Long): PositionOutputStream = createOrOverwrite(blockSizeHint)
      def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = new PositionOutputStream {
        private val os = Fs.create(part)
        private var pos = 0L
        def getPos: Long = pos
        override def write(b: Int): Unit = { os.write(b); pos += 1 }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = { os.write(b, off, len); pos += len }
        override def flush(): Unit = os.flush()
        override def close(): Unit = os.close()
      }
      def supportsBlockSize: Boolean = false
      def defaultBlockSize: Long = 0L
    }
    val writer = ExampleParquetWriter.builder(out).withConf(Fs.conf).withType(tpe)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val groups = new SimpleGroupFactory(tpe)
    try rows.foreach { r =>
      val g = groups.newGroup()
      fill(g, r)
      writer.write(g)
    } finally writer.close()
    Fs.writeString(s"$dir/_SUCCESS", "")
  }

  def deleteCommit(outDir: String, key: String, tileIdx: Int): Boolean = {
    val p = s"${commitsDir(outDir)}/${key}_$tileIdx.json"
    Fs.exists(p) && Fs.delete(p)
  }
}
