package graft

import org.apache.spark.sql.DataFrame
import graft.core.Env

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR at local[Session.cpus()]; prints ONE JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = repeat()
    // The streaming gates run on Spark's default HDFS-backed state store:
    // RocksDB + changelog checkpointing measured 7.21 vs 6.30 s over
    // q40/q41/q42/q44/q55 at sf0.1 (best-of-5 warm, BENCH.md), because
    // per-batch store open/commit overhead dominates the tiny gate state.
    // Deploys whose keyed state exceeds executor heap pick RocksDB through
    // Spark's own spark.sql.streaming.stateStore.* confs.
    val spark = Session.local("graft-bench", Session.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    // warm the JVM/codegen once with the cheapest query so per-query times
    // measure the plan, not first-call JIT
    try materialize(SparkEntry.entry(spark)) catch { case _: Throwable => }
    // optional query-name filter args for local iteration; the driver
    // invokes with no args (full suite) so the output contract is unchanged
    val wanted = args.toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
    val results = selected.map { case (name, fn) =>
      name -> Measure.attempt(spark, name, runs = runs)(materialize(fn(spark, sfDir))).map(_.seconds)
    }
    println(summaryLine(results, sfDir))
    spark.stop()
  }

  /** Runs every row of `df` through the plan and drops it. A `count()` would
    * let Catalyst prune the row-local kernels a gate exists to run. */
  private def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** SPARK_GRAFT_BENCH_REPEAT > 1 keeps the best of that many warm runs per
    * query (the BENCH.md noise protocol for local iteration); unset is one. */
  def repeat(env: Map[String, String] = sys.env): Int =
    Env.positiveInt("SPARK_GRAFT_BENCH_REPEAT", env).getOrElse(1)

  /** The one JSON line: a failed query reads -1 and is left out of total.
    * Locale.ROOT via Fmt: the driver parses this line as JSON, and a
    * comma-decimal default locale would corrupt it. */
  def summaryLine(results: Seq[(String, Option[Double])], sfDir: String): String = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.fold("-1")(graft.core.Fmt("%.3f", _)) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    s"""{"metric":"total","value":${graft.core.Fmt("%.3f", total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
  }
}
