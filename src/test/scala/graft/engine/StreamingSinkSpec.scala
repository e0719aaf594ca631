package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production streaming topology: file source -> watermark -> append-mode
  * parquet sink + checkpoint. Verifies (1) finalized windows match the
  * batch computation, (2) a checkpointed RESTART with new data appends
  * only newly-finalized windows — no reprocessing, no duplicates. */
class StreamingSinkSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]").appName("streaming-sink-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()

  test("append-mode parquet sink with watermark finalizes windows exactly once across restarts") {
    import spark.implicits._
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .orderBy("ts", "event_id")
    val n = events.count().toInt
    val rows = events.collect()
    val base = java.nio.file.Files.createTempDirectory("ssink").toString
    val srcDir = s"$base/src"
    val outDir = s"$base/out"
    val ckDir = s"$base/ck"
    new java.io.File(srcDir).mkdirs()
    def writeChunk(slice: Array[org.apache.spark.sql.Row], name: String): Unit = {
      // the file stream source lists FILES, not parquet dirs: write the
      // chunk via the parquet writer, then surface its single part file
      // flat under srcDir
      val tmp = s"$base/tmp_$name"
      spark.createDataFrame(
        spark.sparkContext.parallelize(slice.toSeq, 1), events.schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeChunk(rows.slice(0, n / 3), "c1")
    writeChunk(rows.slice(n / 3, 2 * n / 3), "c2")

    def runOnce(): Unit = {
      val q = Streaming.hourlyToParquetSink(spark, srcDir, outDir, ckDir, watermark = "1 hour")
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val firstCount = spark.read.parquet(outDir).count()
    assert(firstCount > 0, "no windows finalized after two micro-batches")
    // no duplicate (window, type) keys
    val dup1 = spark.read.parquet(outDir)
      .groupBy("hour_start", "event_type").count().filter(col("count") > 1).count()
    assert(dup1 == 0)

    // restart from the checkpoint with a third chunk: only NEW windows append
    writeChunk(rows.slice(2 * n / 3, n), "c3")
    runOnce()
    val after = spark.read.parquet(outDir)
    assert(after.count() > firstCount, "restart appended nothing")
    val dup2 = after.groupBy("hour_start", "event_type").count().filter(col("count") > 1).count()
    assert(dup2 == 0, "restart duplicated finalized windows")

    // every finalized window matches the batch computation exactly
    val batch = spark.read.parquet(srcDir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))
    val mismatched = after.as("s").join(batch.as("b"),
        Seq("hour_start", "event_type"))
      .filter(col("s.n") =!= col("b.n") || col("s.sum_value") =!= col("b.sum_value"))
      .count()
    assert(mismatched == 0, "finalized windows diverge from batch values")
  }

  test("dropDuplicatesWithinWatermark dedups across micro-batches, state bounded") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sdedup").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    def writeDocs(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.toDF("doc_id", "ts_s", "text")
        .select(col("doc_id"), col("ts_s").cast("timestamp").as("ts"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    // duplicates within the watermark horizon, spread over two micro-batches
    writeDocs("b1", Seq(
      (1L, "2024-01-01 10:00:00", "alpha"),
      (2L, "2024-01-01 10:05:00", "beta"),
      (3L, "2024-01-01 10:10:00", "alpha"))) // dup of 1 (same batch)
    writeDocs("b2", Seq(
      (4L, "2024-01-01 10:20:00", "beta"), // dup of 2 (across batches)
      (5L, "2024-01-01 10:25:00", "gamma")))
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val out = Streaming.dedupWithinWatermark(stream, watermark = "1 hour")
    val qn = "dedup_wm_test"
    val q = out.select("doc_id", "text").writeStream
      .format("memory").queryName(qn).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val texts = spark.table(qn).select("text").collect().map(_.getString(0)).sorted.toSeq
    assert(texts == Seq("alpha", "beta", "gamma"), s"got $texts")
  }

  test("stream-stream join parquet sink: checkpointed restart appends new pairs exactly once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ssjsink").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckDir = s"$base/ck"
    new java.io.File(srcDir).mkdirs()
    def writeEvents(name: String, rows: Seq[(Long, String, Long, String)]): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.toDF("event_id", "ts_s", "user_id", "event_type")
        .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    writeEvents("a", Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (100L, "2024-01-01 10:20:00", 1L, "purchase")))
    def runOnce(): Unit = {
      val q = Streaming.attributionToParquetSink(spark, srcDir, outDir, ckDir)
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    val first = spark.read.parquet(outDir)
      .select("p_id", "view_us").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(first == Seq((100L, java.time.Instant.parse("2024-01-01T10:00:00Z").toEpochMilli * 1000L)))
    // RESTART with one more purchase matching the same buffered view:
    // only the new pair appends — the old one is not re-emitted
    writeEvents("b", Seq((101L, "2024-01-01 10:40:00", 1L, "purchase")))
    runOnce()
    val after = spark.read.parquet(outDir)
      .select("p_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(after == Seq(100L, 101L), s"got $after")
  }

  test("session_window production twin equals the q41 sessionize on the gate replay") {
    import spark.implicits._
    val eventsPath = "/root/testdata/sf0.001/events.parquet"
    // batch form of the production operator over the full gate input
    val perUser = Streaming.sessionWindows(spark.read.parquet(eventsPath))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // the q41 gate path (flatMapGroupsWithState sessionize as a stream)
    val gate = Streaming.sessionizeStream(spark, eventsPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(perUser == gate, "session_window sessions diverge from the gate operator")
  }

  test("session_window stream finalizes sessions via the watermark and drops late events") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("sswin").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    def writeEvents(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"), col("user_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    // user 1: two sessions (gap > 30 min); user 2: one session spanning
    // both micro-batches (state must MERGE across batches)
    writeEvents("b1", Seq(
      (1L, "2024-01-01 10:00:00", 1L),
      (2L, "2024-01-01 10:10:00", 1L),
      (3L, "2024-01-01 10:20:00", 2L)))
    writeEvents("b2", Seq(
      (4L, "2024-01-01 10:40:00", 2L), // merges with 3 (20 min gap)
      (5L, "2024-01-01 12:00:00", 1L))) // new session for 1 (>30 min gap)
    val schema = spark.read.parquet(srcDir).schema
    def stream() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val qn = "sswin_test"
    val q = Streaming.sessionWindows(stream(), watermark = "30 minutes")
      .writeStream.format("memory").queryName(qn).outputMode("append").start()
    def emitted() = spark.table(qn)
      .select("user_id", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    try {
      q.processAllAvailable()
      // watermark = 12:00 - 30min = 11:30: both 10:xx sessions closed
      // (ends 10:10+1800s and 10:40+1800s < 11:30) -> finalized + evicted;
      // the 12:00 session is still open in the store
      assert(emitted() == Seq((1L, 2L), (2L, 2L)), s"got ${emitted()}")
      // a LATE event inside user 1's finalized first session: behind the
      // watermark, dropped on input — the emitted session must NOT change
      // (its state is gone; reprocessing would double-count)
      writeEvents("b3", Seq(
        (6L, "2024-01-01 10:05:00", 1L),
        (7L, "2024-01-01 14:00:00", 3L))) // advances the watermark to 13:30
      q.processAllAvailable()
      assert(emitted() == Seq((1L, 1L), (1L, 2L), (2L, 2L)),
        s"late event altered finalized sessions: ${emitted()}")
    } finally q.stop()
  }

  test("session parquet sink: checkpointed restart appends only newly-closed sessions") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ssesssink").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckDir = s"$base/ck"
    new java.io.File(srcDir).mkdirs()
    def writeEvents(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"), col("user_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    writeEvents("b1", Seq(
      (1L, "2024-01-01 10:00:00", 1L), (2L, "2024-01-01 10:10:00", 1L),
      (3L, "2024-01-01 13:00:00", 2L))) // advances watermark past user 1's session
    def runOnce(): Unit = {
      val q = Streaming.sessionsToParquetSink(spark, srcDir, outDir, ckDir,
        watermark = "30 minutes")
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    def sessions() = spark.read.parquet(outDir)
      .select("user_id", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(sessions() == Seq((1L, 2L)), s"got ${sessions()}")
    // RESTART from the checkpoint with new data: nothing reprocessed, the
    // still-open 13:00 session closes once the watermark passes it
    writeEvents("b2", Seq((4L, "2024-01-01 16:00:00", 3L)))
    runOnce()
    assert(sessions() == Seq((1L, 2L), (2L, 1L)),
      s"restart duplicated or dropped sessions: ${sessions()}")
  }

  test("RocksDB state store: session sink parity incl. checkpointed restart") {
    import spark.implicits._
    // The deploy switch (Spark's spark.sql.streaming.stateStore.providerClass
    // conf) was measured as a null result at gate scale (BENCH.md); this
    // asserts the knob is CORRECT, not just measured: the same session-sink
    // topology under RocksDBStateStoreProvider + changelog checkpointing
    // produces identical finalized sessions, including across a restart
    // (state reload from the RocksDB changelog, not the HDFS snapshot).
    val base = java.nio.file.Files.createTempDirectory("rocksess").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ckDir = s"$base/ck"
    new java.io.File(srcDir).mkdirs()
    def writeEvents(name: String, rows: Seq[(Long, String, Long)]): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.toDF("event_id", "ts_s", "user_id")
        .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"), col("user_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    try {
      writeEvents("b1", Seq(
        (1L, "2024-01-01 10:00:00", 1L), (2L, "2024-01-01 10:10:00", 1L),
        (3L, "2024-01-01 13:00:00", 2L)))
      def runOnce(): Unit = {
        val q = Streaming.sessionsToParquetSink(spark, srcDir, outDir, ckDir,
          watermark = "30 minutes")
        try q.processAllAvailable() finally q.stop()
      }
      runOnce()
      def sessions() = spark.read.parquet(outDir)
        .select("user_id", "n_events").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(sessions() == Seq((1L, 2L)), s"rocksdb first run: ${sessions()}")
      writeEvents("b2", Seq((4L, "2024-01-01 16:00:00", 3L)))
      runOnce() // restart reloads session state from the RocksDB changelog
      assert(sessions() == Seq((1L, 2L), (2L, 1L)),
        s"rocksdb restart duplicated or dropped sessions: ${sessions()}")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream join: watermark bounds state, late purchases drop") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ssjoin").toString
    val srcDir = s"$base/src"
    new java.io.File(srcDir).mkdirs()
    def writeEvents(name: String, rows: Seq[(Long, String, Long, String)]): Unit = {
      val tmp = s"$base/tmp_$name"
      rows.toDF("event_id", "ts_s", "user_id", "event_type")
        .select(col("event_id"), col("ts_s").cast("timestamp").as("ts"),
          col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(srcDir, s"$name.parquet"))
    }
    // batch 1: early views + one purchase (BOTH sides need event-time
    // flow: the global watermark is the MIN across the two streams'
    // watermark nodes, so a silent side pins it at epoch)
    writeEvents("b1", Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view"),
      (2L, "2024-01-01 10:10:00", 2L, "view"),
      (100L, "2024-01-01 10:12:00", 2L, "purchase"))) // joins view 2
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val joined = Streaming.attributionJoin(stream, watermark = "30 minutes")
    val qn = "ssjoin_wm_test"
    val q = joined.writeStream.format("memory").queryName(qn).outputMode("append").start()
    try {
      q.processAllAvailable()
      // batch 2: jump event time 10 hours ahead on BOTH sides — the
      // global watermark advances to 19:30-ish, making batch-1 state
      // evictable (more than the 1h join window behind)
      writeEvents("b2", Seq(
        (3L, "2024-01-01 20:00:00", 1L, "view"),
        (101L, "2024-01-01 20:05:00", 2L, "purchase"))) // no view in its hour
      q.processAllAvailable()
      // batch 3: one LATE purchase (10:05, far behind the watermark:
      // dropped on input — its batch-join match with view 1 must NOT
      // appear) and one current purchase matching view 3 within the hour
      writeEvents("b3", Seq(
        (4L, "2024-01-01 10:05:00", 1L, "purchase"),
        (5L, "2024-01-01 20:30:00", 1L, "purchase")))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table(qn).select("p_id", "view_us")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // explicit UTC instants: the stream casts in session TZ (UTC), while
    // Timestamp.valueOf would use the JVM default zone — host-dependent
    val t2us = java.time.Instant.parse("2024-01-01T10:10:00Z").toEpochMilli * 1000L
    val t3us = java.time.Instant.parse("2024-01-01T20:00:00Z").toEpochMilli * 1000L
    assert(out == Seq((5L, t3us), (100L, t2us)), s"got $out")
    // the batch join over the same files WOULD match the late purchase —
    // the missing (4, view 1) pair is exactly the watermark's doing
    val batchPairs = Streaming.attributionJoin(spark.read.parquet(srcDir)).count()
    assert(batchPairs == 3, s"batch join found $batchPairs pairs")
  }
}
