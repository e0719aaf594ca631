package graft.engine

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.10 — absent in the batch
  * reference; required of the engine): file-source streams over the events
  * table, windowed aggregation with watermark, and custom session state via
  * flatMapGroupsWithState. `runToCompletion` drives a file-backed stream
  * synchronously so batch oracles can verify streaming results. */
object Streaming {

  /** Tumbling 1-hour counts/sums per event type, as a streaming query over
    * the parquet events table; returns the materialized complete-mode
    * result. Batch-equivalent: Queries q06 (without HAVING). */
  def hourlyByType(spark: SparkSession, eventsPath: String): DataFrame = {
    val s = cappedSession(spark, 4)
    val schema = s.read.parquet(eventsPath).schema
    val stream = streamOf(s, eventsPath, schema)
    val agg = stream
      .withColumn("hour_epoch", (unix_timestamp(col("ts")) / 3600L).cast("long") * 3600L)
      .groupBy("event_type", "hour_epoch")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
    runToCompletion(agg, "stream_hourly", "complete").orderBy("event_type", "hour_epoch")
  }

  /** Drive a file-backed streaming query synchronously: a memory sink
    * under a unique query name, every available input processed, the
    * query stopped, and the sink table read back on the query's own
    * session (the capped session whose catalog holds it). */
  private def runToCompletion(stream: DataFrame, name: String, outputMode: String): DataFrame = {
    val qn = s"${name}_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = stream.writeStream.format("memory").queryName(qn).outputMode(outputMode).start()
    try q.processAllAvailable()
    finally q.stop()
    stream.sparkSession.table(qn)
  }

  /** Isolated session with shuffle partitions capped for a stateful
    * streaming query. Stateful streaming cost has a per-(store instance
    * x batch) commit term, and store instances = shuffle partitions; the
    * gate inputs are single-batch with a few thousand keys, so 32
    * partitions buy no parallelism and pay 32 commits. q44 measured
    * 6.4 -> 2.4 s when its cap landed at 8 (r3); the r7 same-JVM sweep
    * (best-of-4 warm at sf0.1, OPTIMIZATION_r07.md) measured cap8 2.44 /
    * cap4 1.91 / cap2 1.84 / cap1 1.88 s — the commit term keeps
    * shrinking to 4, then flattens — so the default cap is now 4. At
    * deploy scale the right cap is sized to state volume, not defaulted
    * from scan parallelism: it is PARAMETERIZED via the caller session's
    * `spark.graft.streamShufflePartitions` conf, which overrides the
    * local default.
    *
    * `newSession()` shares the SparkContext and cached data but owns its
    * SQLConf and catalog, so the cap can NEVER leak into a query planned
    * concurrently on the caller's session (the hazard of the earlier
    * set/restore form: any query planned inside the window silently
    * inherited the cap). The whole capped query — source, start,
    * memory-sink table read — must run on this session. */
  private def cappedSession(spark: SparkSession, n: Int): SparkSession = {
    val s = spark.newSession()
    val cap = spark.conf.getOption("spark.graft.streamShufflePartitions")
      .getOrElse(n.toString)
    s.conf.set("spark.sql.shuffle.partitions", cap)
    s
  }

  /** File-source streams need a directory: stream the parent dir with a
    * glob filter when given a single parquet file. */
  private def streamOf(
      spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val f = new java.io.File(path)
    if (f.isDirectory) spark.readStream.schema(schema).parquet(path)
    else spark.readStream.schema(schema)
      .option("pathGlobFilter", f.getName)
      .parquet(f.getParent)
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionAgg(user_id: Long, n_sessions: Long, n_events: Long)
  final case class SessState(lastTs: Long, sessions: Long, events: Long)

  /** Stateful streaming sessionization: gaps > 1800s open a new session
    * (the streaming twin of q05). Event-time ordering is guaranteed here by
    * sorting within the grouped iterator (file source delivers a single
    * batch in tests; production would use watermarked event-time state). */
  def sessionize(events: Dataset[Event]): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionAgg](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos))
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val t = e.ts.getTime / 1000L
            val newSession = st.lastTs == Long.MinValue || (t - st.lastTs) > 1800L
            st = SessState(t, st.sessions + (if (newSession) 1 else 0), st.events + 1)
          }
          state.update(st)
          Iterator(SessionAgg(userId, st.sessions, st.events))
      }
  }

  /** Production sessionization twin of `sessionize` (the q41 operator):
    * the built-in `session_window` aggregation under an event-time
    * watermark, so session state MERGES in the store and is EVICTED when
    * the watermark passes a session's close — the only sessionization
    * shape that survives an unbounded ingest stream (sessionize's
    * flatMapGroupsWithState keeps one state row per user forever and
    * re-sorts each group's batch iterator).
    *
    * Gap semantics match the gate exactly: q05/q41 truncate event time to
    * SECONDS and open a new session when the gap is STRICTLY > 1800 s
    * (= 1800 continues). session_window(t, gap) merges INCLUSIVELY — an
    * event at exactly prev + gap still joins the session (verified
    * empirically by gate q55: a truncated 1801 s gap merged under a
    * 1801 s window), i.e. merge iff diff <= gap — so gap = 1800 s IS the
    * equal-semantics setting over second-truncated times. Emits one row
    * per FINALIZED session in append mode: (user_id, session_start,
    * session_end, n_events); per-user rollups (q41's
    * n_sessions/n_events) are a batch agg over the sink table. */
  def sessionWindows(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts", date_trunc("second", col("ts").cast("timestamp")))
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), "1800 seconds").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  /** Deploy topology for session windows: file source -> watermarked
    * session_window agg -> append-mode parquet sink with a checkpoint
    * (same exactly-once restart story as hourlyToParquetSink). */
  def sessionsToParquetSink(
      spark: SparkSession,
      eventsDir: String,
      outDir: String,
      checkpointDir: String,
      watermark: String = "2 hours"): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(eventsDir)
    sessionWindows(stream, watermark).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Production-shaped sink path: file source (one file per micro-batch)
    * -> event-time watermark -> tumbling-window agg -> APPEND-mode parquet
    * file sink with a checkpoint. This is the deploy topology (the
    * memory-sink twins above exist for the synchronous batch oracles):
    * append + watermark emits each window exactly once when the watermark
    * passes it, and the checkpoint makes restarts exactly-once — a
    * restarted query reprocesses nothing and never duplicates a window.
    * Returns the running query; callers drive/stop it. */
  def hourlyToParquetSink(
      spark: SparkSession,
      eventsDir: String,
      outDir: String,
      checkpointDir: String,
      watermark: String = "2 hours"): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val agg = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1) // watermark advances per file
      .parquet(eventsDir)
      // watermarks need TIMESTAMP (events tables may carry TIMESTAMP_NTZ);
      // sessions run in UTC so the instant is unchanged
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("sum_value"))
    agg.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Streaming exact dedup — the ingest-time twin of q20: state is keyed
    * by (lang, content-hash) so raw text never enters streaming state or
    * any exchange, and per-lang unique counts come out in complete mode.
    * Only the count is emitted: WHICH duplicate survives dropDuplicates
    * depends on arrival order, but the surviving KEY SET does not. */
  def dedupStream(spark: SparkSession, docsPath: String): DataFrame = {
    val s = cappedSession(spark, 4)
    val schema = s.read.parquet(docsPath).schema
    val stream = streamOf(s, docsPath, schema)
    val agg = stream
      .select(col("lang"), sha2(col("text"), 256).as("tkey"))
      .dropDuplicates("lang", "tkey")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_unique"))
    runToCompletion(agg, "stream_dedup", "complete").orderBy("lang")
  }

  /** Production form of the streaming dedup: event-time watermark +
    * dropDuplicatesWithinWatermark, so dedup state ages out instead of
    * growing with the corpus — the only shape that survives an unbounded
    * ingest stream. Returns the deduped stream for a downstream sink. */
  def dedupWithinWatermark(
      docs: DataFrame, // streaming, needs ts + text columns
      watermark: String): DataFrame =
    docs
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .withColumn("tkey", sha2(col("text"), 256))
      .dropDuplicatesWithinWatermark("tkey")

  /** Stream-stream interval join: each purchase joined to the same user's
    * view events from the preceding hour — BOTH sides are streams with
    * event-time watermarks, the one streaming join shape where Spark can
    * bound join state: the time-range condition plus the watermarks lets
    * the engine evict buffered view rows older than (watermark - 1h)
    * instead of holding both streams forever. Append-mode output; the
    * bounded gate replay delivers everything in one micro-batch (nothing
    * is late), so the emitted pairs equal the batch interval join, which
    * is the q44 oracle. */
  /** The join topology itself, over any (streaming or batch) events DF
    * with (event_id, user_id, ts, event_type): purchases x views of the
    * same user within the preceding hour. Exposed so specs can drive it
    * chunk-by-chunk and observe watermark state eviction. */
  def attributionJoin(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val ev = events.withColumn("ts", col("ts").cast("timestamp"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    purchases.join(
      views,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_id"), col("user_id"),
        unix_micros(col("v_ts")).as("view_us"),
        (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("gap_us"))
  }

  /** Deploy topology for the interval join: file source (one file per
    * micro-batch) -> dual-watermark stream-stream join -> APPEND-mode
    * parquet sink with a checkpoint. An inner stream-stream join emits a
    * pair exactly once, when its second side arrives; the checkpoint
    * replays nothing on restart — so the output table accumulates each
    * (purchase, view) pair exactly once across any number of restarts
    * (StreamingSinkSpec proves it). */
  def attributionToParquetSink(
      spark: SparkSession,
      eventsDir: String,
      outDir: String,
      checkpointDir: String,
      watermark: String = "2 hours"): org.apache.spark.sql.streaming.StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(eventsDir)
    attributionJoin(stream, watermark).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  def purchaseAttribution(spark: SparkSession, eventsPath: String): DataFrame = {
    // stream-stream join state = 4 store instances PER shuffle partition,
    // each paying a per-batch commit: cap partitions for the join's
    // stateful stage (isolated session — never leaks to the caller's)
    val s = cappedSession(spark, 4)
    val schema = s.read.parquet(eventsPath).schema
    runToCompletion(attributionJoin(streamOf(s, eventsPath, schema)), "stream_attr", "append")
      .orderBy("p_id", "view_us")
  }

  /** Drive sessionize as a real streaming query over the events table. */
  def sessionizeStream(spark: SparkSession, eventsPath: String): DataFrame = {
    val s = cappedSession(spark, 4)
    import s.implicits._
    val schema = s.read.parquet(eventsPath).schema
    val stream = streamOf(s, eventsPath, schema)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    runToCompletion(sessionize(stream).toDF(), "stream_sessions", "append").orderBy("user_id")
  }
}
