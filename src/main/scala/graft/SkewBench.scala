package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Env
import graft.engine.SpatialJoin
import graft.engine.SpatialJoin.Poly

/** Skew-handling evidence at the data level (north rule: explicit salting
  * must be shown to MATTER, not just exist). Builds a deliberately skewed
  * pages table — ~50% of all rows inside ONE res-7 cell (1/128°), the
  * "urban cell" case — and A/Bs the spatial-join variants on it:
  *
  *   broadcast        pipJoin          cover broadcast, no pages shuffle
  *   shuffle_hot      pipJoinShuffled  exchange on cell, AQE skew-join OFF
  *                                     (the non-adaptive worst case: the
  *                                     hot cell's rows all hit 1 reducer)
  *   shuffle_aqe      pipJoinShuffled  sort-merge + AQE skew-join ON (the
  *                                     runtime mitigation when you cannot
  *                                     re-key)
  *   salted_N         pipJoinSalted    explicit salt: hot cell spread
  *                                     over N reducers
  *
  * Reports wall seconds plus the per-task shuffle-read distribution
  * (max/median records and max/median task runtime) of each variant's join
  * stage — the partition-balance number the salt exists to fix — and
  * requires every variant to return the identical row count.
  *
  * Env knobs: SPARK_GRAFT_SKEW_PAGES (default 16e6), SPARK_GRAFT_CPUS
  * (see Session.cpus), SPARK_GRAFT_SKEW_REPS (default 2, best kept).
  */
object SkewBench {

  /** Per-task metrics collector (driver-side listener; tasks at local[N]
    * scale are few hundred — bounded). */
  final class TaskStats extends SparkListener {
    val rows = ArrayBuffer.empty[(Int, Long, Long)] // stage, runMs, shufRecords
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null)
        rows += ((e.stageId, m.executorRunTime, m.shuffleReadMetrics.recordsRead))
    }
    def clear(): Unit = synchronized { rows.clear() }
    private def size(): Int = synchronized { rows.size }
    /** The listener bus is ASYNC: count() returns when the job completes,
      * while TaskEnd events may still be draining. Reading immediately can
      * miss the join stage's largest straggler (the exact number this
      * bench reports), and events landing after clear() would leak into
      * the NEXT variant's stats. Poll until the event stream goes quiet. */
    def quiesce(): Unit = {
      var prev = -1
      var cur = size()
      var waited = 0
      while (cur != prev && waited < 5000) {
        Thread.sleep(100); waited += 100
        prev = cur; cur = size()
      }
    }
    /** Task distribution of the JOIN stage — the stage reading the most
      * shuffle records in total; its balance is what the salt exists to
      * fix. The broadcast variant has no meaningful shuffle stage (which
      * is the point) — its row reports the residual count exchange. */
    def joinStage(): (Long, Long, Long, Long, Int) = synchronized {
      val byStage = rows.groupBy(_._1)
      if (byStage.isEmpty) return (0, 0, 0, 0, 0)
      val (_, ts) = byStage.maxBy(_._2.map(_._3).sum)
      val recs = ts.map(_._3).sorted
      val durs = ts.map(_._2).sorted
      (recs.last, recs((recs.size - 1) / 2), durs.last, durs((durs.size - 1) / 2), ts.size)
    }
  }

  private val Res = 7
  private val HotLon = 6.25 // 6.25 * 128 = 800 exactly: [6.25, 6.2578125) is one cell
  private val HotLat = 43.25

  def pagesPath(n: Long): String = s"/tmp/graft_skew_pages_$n"

  /** Slim skewed pages table: 50% of rows uniform in the single hot cell,
    * 50% uniform over the 1°x1° tile. Deterministic (splitmix64 chain). */
  def ensurePages(spark: SparkSession, n: Long): Unit = {
    if (graft.core.Fs.exists(s"${pagesPath(n)}/_SUCCESS")) return
    val cellW = 1.0 / 128.0
    val h = graft.functions.SplitMix64.col(col("id") * lit(131L) + lit(3L))
    val hot = pmod(h, lit(2L)) === 0L
    val u1 = pmod(shiftrightunsigned(h, 8), lit(1000000L)).cast("double") / lit(1000000.0)
    val u2 = pmod(shiftrightunsigned(h, 24), lit(1000000L)).cast("double") / lit(1000000.0)
    val lon = when(hot, lit(HotLon) + u1 * lit(cellW)).otherwise(lit(6.0) + u1)
    val lat = when(hot, lit(HotLat) + u2 * lit(cellW)).otherwise(lit(43.0) + u2)
    spark.range(0, n, 1, 256)
      .withColumn("url", concat(lit("https://site"), pmod(col("id"), lit(97L)), lit(".example/p/"), col("id")))
      .withColumn("lon", lon)
      .withColumn("lat", lat)
      .withColumn("cell", graft.functions.GeoCols.cellId(col("lon"), col("lat"), Res))
      .drop("id")
      .write.mode("overwrite").parquet(pagesPath(n))
  }

  /** Deterministic polygon set: 160 octagons over the tile, 16 centered on
    * the hot cell (so the hot rows carry real PIP + join-output work). */
  def polys(): Seq[Poly] = {
    def octagon(cx: Double, cy: Double, r: Double): Array[Double] =
      (0 until 8).flatMap { k =>
        val a = k * math.Pi / 4
        Seq(cx + r * math.cos(a), cy + r * math.sin(a))
      }.toArray
    (0 until 160).map { i =>
      val h1 = graft.functions.SplitMix64.mix(i * 7L + 1)
      val h2 = graft.functions.SplitMix64.mix(i * 7L + 2)
      def unit(h: Long): Double = java.lang.Math.floorMod(h, 1000000L) / 1000000.0
      if (i % 10 == 0)
        Poly(i.toLong, octagon(HotLon + 0.004, HotLat + 0.004, 0.01 + 0.02 * unit(h1)))
      else
        Poly(i.toLong, octagon(6.05 + 0.9 * unit(h1), 43.05 + 0.9 * unit(h2), 0.015 + 0.015 * unit(h2)))
    }
  }

  final case class Run(name: String, wallSec: Double, rows: Long,
      maxRec: Long, medRec: Long, maxMs: Long, medMs: Long, tasks: Int)

  def measure(spark: SparkSession, stats: TaskStats, name: String,
      reps: Int, mk: () => DataFrame): Run = {
    require(reps >= 1, s"SPARK_GRAFT_SKEW_REPS must be >= 1 (got $reps): " +
      "the first rep is a discarded warm-up, so 0 measured reps returns nothing")
    var best: Run = null
    var i = 0
    while (i < reps + 1) { // first rep = JIT/codegen warm-up, discarded
      stats.quiesce() // drain stragglers from the PREVIOUS variant first
      stats.clear()
      val t0 = System.nanoTime()
      val n = mk().count()
      val wall = (System.nanoTime() - t0) / 1e9
      stats.quiesce() // the async bus may still be delivering this job's TaskEnds
      val (maxR, medR, maxD, medD, tasks) = stats.joinStage()
      val r = Run(name, wall, n, maxR, medR, maxD, medD, tasks)
      if (i > 0 && (best == null || r.wallSec < best.wallSec)) best = r
      i += 1
    }
    best
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cores = Session.cpus()
    val nPages = Env.positiveLong("SPARK_GRAFT_SKEW_PAGES").getOrElse(16000000L)
    val reps = Env.positiveInt("SPARK_GRAFT_SKEW_REPS").getOrElse(2)
    val spark = Session.local("graft-skew-bench", cores)
    spark.conf.set("spark.sql.shuffle.partitions", (cores * 2).toString)
    spark.sparkContext.setLogLevel("ERROR")
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    try {
      ensurePages(spark, nPages)
      val ps = polys()
      val pages = spark.read.parquet(pagesPath(nPages))
      def conf(kv: (String, String)*): Unit = kv.foreach { case (k, v) => spark.conf.set(k, v) }

      // AQE skew-join thresholds low enough to trigger at this scale (the
      // defaults are sized for 256 MB partitions; the POINT is to show the
      // mechanism, the production defaults scale with real partitions)
      def aqeSkew(on: Boolean): Unit = conf(
        "spark.sql.adaptive.skewJoin.enabled" -> on.toString,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
        "spark.sql.adaptive.coalescePartitions.enabled" -> (!on).toString)

      val runs = ArrayBuffer.empty[Run]
      aqeSkew(false)
      runs += measure(spark, stats, "broadcast", reps, () => SpatialJoin.pipJoin(pages, ps, Res))
      runs += measure(spark, stats, "shuffle_hot", reps,
        () => SpatialJoin.pipJoinShuffled(pages, ps, Res, joinHint = "shuffle_hash"))
      aqeSkew(true)
      runs += measure(spark, stats, "shuffle_aqe", reps,
        () => SpatialJoin.pipJoinShuffled(pages, ps, Res, joinHint = "merge"))
      aqeSkew(false)
      for (s <- Seq(2, 8, 32))
        runs += measure(spark, stats, s"salted_$s", reps,
          () => SpatialJoin.pipJoinSalted(pages, ps, Res, salts = s))

      val counts = runs.map(_.rows).distinct
      require(counts.size == 1, s"variants disagree on row count: $runs")
      println(f"SKEW pages=$nPages cores=$cores joinRows=${counts.head} hotShare=0.5 res=$Res polys=${ps.size}")
      println(f"${"variant"}%-12s ${"wall_s"}%8s ${"maxTaskRec"}%12s ${"medTaskRec"}%12s ${"rec_skew"}%9s ${"maxTaskMs"}%10s ${"medTaskMs"}%10s ${"tasks"}%6s")
      runs.foreach { r =>
        val skew = if (r.medRec > 0) r.maxRec.toDouble / r.medRec else Double.NaN
        println(f"${r.name}%-12s ${r.wallSec}%8.2f ${r.maxRec}%12d ${r.medRec}%12d ${skew}%9.1f ${r.maxMs}%10d ${r.medMs}%10d ${r.tasks}%6d")
      }
    } finally spark.stop()
  }
}
