package graft.synth

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SplitMix64

/** Deterministic Common-Crawl-style pages table (BASELINE.json input_hint:
  * url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING),
  * seeded, no wall-clock, no network.
  *
  * Geocodes are hash-derived per url into the N43E006 tile (lon 6..7,
  * lat 43..44) with a deliberate hot cluster (~20% of rows in one small
  * cell) to exercise salted skew handling.
  *
  * `text` is generated once and NEVER transformed downstream; the html is a
  * reversible wrapper so the extracted text can be checked byte-identical
  * per url (sha256(text) == sha256(extract(html))).
  */
object Pages {

  final case class Page(
      url: String,
      warc_ts: java.sql.Timestamp,
      html: Array[Byte],
      text: String,
      lang: String)

  private val Words = Vector(
    "the", "data", "spark", "table", "join", "page", "crawl", "contour", "tile",
    "index", "query", "shuffle", "batch", "text", "value", "fast", "slow", "hash",
    "cell", "range", "node", "way", "grid", "line", "level", "mask", "scan")
  private val Langs = Vector("en", "en", "en", "de", "fr", "es")

  /** Deterministic 64-bit mix (splitmix64 finalizer). */
  def mix(x: Long): Long = graft.functions.SplitMix64.mix(x)

  def urlOf(i: Long): String = s"https://site${i % 97}.example/page/$i"

  def textOf(i: Long): String = {
    val h = mix(i * 31 + 7)
    val n = 20 + (java.lang.Math.floorMod(h, 60L)).toInt
    val sb = new StringBuilder
    var k = 0
    var s = h
    while (k < n) {
      s = mix(s)
      if (k > 0) sb.append(' ')
      sb.append(Words((java.lang.Math.floorMod(s, Words.size.toLong)).toInt))
      k += 1
    }
    sb.toString
  }

  /** Reversible html wrapper; extractText(htmlOf(t)) == t byte-identically. */
  def htmlOf(text: String, url: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder(text.length + url.length + 80)
    sb.append("<html><head><title>").append(url).append("</title></head><body><p>")
    var i = 0
    while (i < text.length) {
      val ch = text.charAt(i)
      if (ch == '&') sb.append("&amp;")
      else if (ch == '<') sb.append("&lt;")
      else sb.append(ch)
      i += 1
    }
    sb.append("</p></body></html>")
    sb.toString.getBytes("UTF-8")
  }

  /** The extraction the engine applies downstream (inverse of htmlOf). */
  def extractText(html: Array[Byte]): String = {
    val s = new String(html, "UTF-8")
    val start = s.indexOf("<p>") + 3
    val end = s.lastIndexOf("</p>")
    s.substring(start, end).replace("&lt;", "<").replace("&amp;", "&")
  }

  /** Hash-derived geocode with a hot cluster: ~20% of pages land in a
    * ~0.01x0.01 degree cell around (6.25, 43.25). */
  def lonOf(i: Long): Double = {
    val h = mix(i * 131 + 3)
    if (java.lang.Math.floorMod(h, 5L) == 0L)
      6.25 + java.lang.Math.floorMod(h >>> 8, 10000L) / 1000000.0
    else 6.0 + java.lang.Math.floorMod(h >>> 8, 1000000L) / 1000000.0
  }
  def latOf(i: Long): Double = {
    val h = mix(i * 131 + 3)
    if (java.lang.Math.floorMod(h, 5L) == 0L)
      43.25 + java.lang.Math.floorMod(h >>> 24, 10000L) / 1000000.0
    else 43.0 + java.lang.Math.floorMod(h >>> 24, 1000000L) / 1000000.0
  }

  def langOf(i: Long): String = Langs((java.lang.Math.floorMod(mix(i + 13), Langs.size.toLong)).toInt)

  /** Fixed epoch base (2024-01-01T00:00:00Z) + per-row offset. */
  def tsOf(i: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1704067200000L + java.lang.Math.floorMod(mix(i + 99), 30L * 86400 * 1000))

  def pageOf(i: Long): Page = {
    val url = urlOf(i)
    val text = textOf(i)
    Page(url, tsOf(i), htmlOf(text, url), text, langOf(i))
  }

  /** Distributed generation: n rows, fully deterministic per id. */
  def generate(spark: SparkSession, n: Long, partitions: Int = 0): Dataset[Page] = {
    import spark.implicits._
    val parts = if (partitions > 0) partitions
      else math.max(spark.sparkContext.defaultParallelism * 4, 32)
    spark.range(0, n, 1, parts).map(i => pageOf(i))
  }

  /** Pages with derived geocode + cell columns (the engine's geocoding
    * stage; pure column arithmetic stays in whole-stage codegen). */
  def geocoded(pages: DataFrame, res: Int): DataFrame = {
    // id recovered from the url tail: deterministic, survives re-reads
    // (substring_index beats a regex by ~an order of magnitude per row)
    val id = substring_index(col("url"), "/", -1).cast("long")
    pages
      .withColumn("page_id", id)
      .withColumn("lon", lonCol(col("page_id")))
      .withColumn("lat", latCol(col("page_id")))
      .withColumn("cell", graft.functions.GeoCols.cellId(col("lon"), col("lat"), res))
  }

  // column-only twins of lonOf/latOf (same splitmix64 chain, wrapping
  // arithmetic via the SplitMix64 expression — ANSI-safe)
  private def lonCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = SplitMix64.col(id * lit(131L) + lit(3L))
    when(pmod(h, lit(5L)) === 0L,
      lit(6.25) + pmod(shiftrightunsigned(h, 8), lit(10000L)).cast("double") / lit(1000000.0))
      .otherwise(lit(6.0) + pmod(shiftrightunsigned(h, 8), lit(1000000L)).cast("double") / lit(1000000.0))
  }
  private def latCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = SplitMix64.col(id * lit(131L) + lit(3L))
    when(pmod(h, lit(5L)) === 0L,
      lit(43.25) + pmod(shiftrightunsigned(h, 24), lit(10000L)).cast("double") / lit(1000000.0))
      .otherwise(lit(43.0) + pmod(shiftrightunsigned(h, 24), lit(1000000L)).cast("double") / lit(1000000.0))
  }
}
