package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** WARC-lite DataSource V2: framed-record parse round-trip, multi-file
  * parallel read, and column pruning through the custom connector. */
class WarcLiteSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("warclite-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  private def mkRecords(fileIdx: Int, n: Int): Seq[(String, Long, Array[Byte])] =
    (0 until n).map { i =>
      val id = fileIdx * 1000 + i
      val body = graft.synth.Pages.htmlOf(graft.synth.Pages.textOf(id.toLong), s"https://w.example/$id")
      (s"https://w.example/$id", 1704067200000000L + id * 1000000L, body)
    }

  test("parse round-trips framed records: binary bodies with CRLFs, UTF-8 URIs, microsecond timestamps") {
    val recs = mkRecords(0, 5) ++ Seq(
      ("https://w.example/bin", 1704067200000000L,
        Array[Byte](0, 13, 10, 13, 10, 'W', 'A', 'R', 'C', '/', -1, 127)), // framing bytes inside a body
      ("https://sité.example/ü/1", 1704067200001500L, // non-ASCII URI + sub-ms ts
        "körper".getBytes("UTF-8")))
    val dir = java.nio.file.Files.createTempDirectory("warc1").toString
    WarcLite.write(s"$dir/a.warc", recs.iterator)
    val got = WarcLite.parse(new java.io.FileInputStream(s"$dir/a.warc")).toSeq
    assert(got.map(_._1) == recs.map(_._1))
    assert(got.map(_._2) == recs.map(_._2)) // bit-exact micros, no ms truncation
    got.zip(recs).foreach { case (g, e) => assert(g._3.sameElements(e._3)) }
  }

  test("malformed records fail at the source, not as null rows") {
    val dir = java.nio.file.Files.createTempDirectory("warcbad").toString
    val noUri = "WARC/1.0\r\nWARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.warc"), noUri.getBytes("UTF-8"))
    assertThrows[IllegalArgumentException](
      WarcLite.parse(new java.io.FileInputStream(s"$dir/bad.warc")).toSeq)
    def parse(s: String) = WarcLite.parse(new java.io.ByteArrayInputStream(s.getBytes("UTF-8"))).toSeq
    val head = "WARC/1.0\r\nWARC-Target-URI: https://w.example/x\r\n"
    val badDate = intercept[IllegalArgumentException](
      parse(head + "WARC-Date: 2024-13-01T00:00:00Z\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"))
    assert(badDate.getMessage.contains("WARC-Date '2024-13-01T00:00:00Z'"), badDate.getMessage)
    val badLen = intercept[IllegalArgumentException](
      parse(head + "WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: 2x\r\n\r\nhi\r\n\r\n"))
    assert(badLen.getMessage.contains("Content-Length '2x'"), badLen.getMessage)
    // a declared length far beyond the file refuses as truncated instead
    // of allocating the declared size up front
    val huge = intercept[IllegalArgumentException](
      parse(head + "WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: 2000000000\r\n\r\nhi"))
    assert(huge.getMessage.contains("truncated record body at 2/2000000000"), huge.getMessage)
  }

  test("DataSource V2 read: multi-file, schema, values, extracted-text invariant") {
    val dir = java.nio.file.Files.createTempDirectory("warc2").toString
    (0 until 3).foreach(f => WarcLite.write(s"$dir/f$f.warc", mkRecords(f, 20).iterator))
    val df = spark.read.format("graft.sources.WarcLiteSource").load(dir)
    assert(df.schema.fieldNames.toSeq == Seq("url", "warc_ts", "html"))
    assert(df.count() == 60)
    assert(df.rdd.getNumPartitions == 3) // one partition per crawl file
    // values: timestamps land as the written UTC instants
    val ts0 = df.filter(col("url") === "https://w.example/0")
      .select(unix_micros(col("warc_ts"))).collect()(0).getLong(0)
    assert(ts0 == 1704067200000000L)
    // per-url byte-identical extracted-text invariant THROUGH the
    // connector: extract(html) == the deterministic source text
    val rows = df.select("url", "html").collect()
    assert(rows.length == 60)
    rows.foreach { r =>
      val id = r.getString(0).split('/').last.toLong
      assert(graft.synth.Pages.extractText(r.getAs[Array[Byte]](1)) ==
        graft.synth.Pages.textOf(id))
    }
  }

  test("column pruning reaches the connector: body column never materializes") {
    val dir = java.nio.file.Files.createTempDirectory("warc3").toString
    WarcLite.write(s"$dir/a.warc", mkRecords(9, 10).iterator)
    val df = spark.read.format("graft.sources.WarcLiteSource").load(dir).select("url")
    // DSv2 BatchScan prints the PRUNED output columns: url only, no html
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan") && p.contains("[url#"), p)
    assert(!p.contains("html#"), p)
    assert(df.collect().map(_.getString(0)).sorted.head == "https://w.example/9000")
  }
}
