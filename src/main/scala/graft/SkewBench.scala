package graft

import scala.collection.mutable.ArrayBuffer

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
  * (see Session.cpus), SPARK_GRAFT_SKEW_REPS (default 2, best kept, after
  * one discarded warm-up).
  */
object SkewBench {

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

  /** Max and median shuffle records read, max and median task ms, and task
    * count of the JOIN stage: the stage reading the most shuffle records in
    * total, whose balance is what the salt exists to fix. The broadcast
    * variant has no meaningful shuffle stage (which is the point); its row
    * reports the residual count exchange. */
  def joinStage(tasks: Seq[Measure.Task]): (Long, Long, Long, Long, Int) = {
    if (tasks.isEmpty) return (0, 0, 0, 0, 0)
    val (_, ts) = tasks.groupBy(_.stage).maxBy(_._2.map(_.shuffleRecords).sum)
    val recs = ts.map(_.shuffleRecords).sorted
    val durs = ts.map(_.runMs).sorted
    (recs.last, recs((recs.size - 1) / 2), durs.last, durs((durs.size - 1) / 2), ts.size)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cores = Session.cpus()
    val nPages = Env.positiveLong("SPARK_GRAFT_SKEW_PAGES").getOrElse(16000000L)
    val reps = Env.positiveInt("SPARK_GRAFT_SKEW_REPS").getOrElse(2)
    val spark = Session.local("graft-skew-bench", cores)
    spark.conf.set("spark.sql.shuffle.partitions", (cores * 2).toString)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      ensurePages(spark, nPages)
      val ps = polys()
      val pages = spark.read.parquet(pagesPath(nPages))
      // first run = JIT/codegen warm-up, discarded
      def measure(name: String)(mk: => DataFrame): (String, Measure.Run[Long]) =
        name -> Measure(spark, name, warmup = 1, runs = reps)(mk.count())
      def conf(kv: (String, String)*): Unit = kv.foreach { case (k, v) => spark.conf.set(k, v) }

      // AQE skew-join thresholds low enough to trigger at this scale (the
      // defaults are sized for 256 MB partitions; the POINT is to show the
      // mechanism, the production defaults scale with real partitions)
      def aqeSkew(on: Boolean): Unit = conf(
        "spark.sql.adaptive.skewJoin.enabled" -> on.toString,
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
        // coalescing would merge the salted partitions back onto a few
        // reducers before the spread is measured
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

      val runs = ArrayBuffer.empty[(String, Measure.Run[Long])]
      aqeSkew(false)
      runs += measure("broadcast")(SpatialJoin.pipJoin(pages, ps, Res))
      runs += measure("shuffle_hot")(SpatialJoin.pipJoinShuffled(pages, ps, Res, joinHint = "shuffle_hash"))
      aqeSkew(true)
      runs += measure("shuffle_aqe")(SpatialJoin.pipJoinShuffled(pages, ps, Res, joinHint = "merge"))
      aqeSkew(false)
      for (s <- Seq(2, 8, 32))
        runs += measure(s"salted_$s")(SpatialJoin.pipJoinSalted(pages, ps, Res, salts = s))

      val counts = runs.map(_._2.result).distinct
      require(counts.size == 1, s"variants disagree on row count: ${runs.map { case (n, r) => n -> r.result }}")
      println(f"SKEW pages=$nPages cores=$cores joinRows=${counts.head} hotShare=0.5 res=$Res polys=${ps.size}")
      println(f"${"variant"}%-12s ${"wall_s"}%8s ${"maxTaskRec"}%12s ${"medTaskRec"}%12s ${"rec_skew"}%9s ${"maxTaskMs"}%10s ${"medTaskMs"}%10s ${"tasks"}%6s")
      runs.foreach { case (name, r) =>
        val (maxRec, medRec, maxMs, medMs, tasks) = joinStage(r.tasks)
        val skew = if (medRec > 0) maxRec.toDouble / medRec else Double.NaN
        println(f"$name%-12s ${r.seconds}%8.2f $maxRec%12d $medRec%12d $skew%9.1f $maxMs%10d $medMs%10d $tasks%6d")
      }
    } finally spark.stop()
  }
}
