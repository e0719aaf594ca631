package graft

/** Driver-run benchmark: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR at local[Session.cpus()]; prints ONE JSON line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
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
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    // optional query-name filter args for local iteration; the driver
    // invokes with no args (full suite) so the output contract is unchanged
    val wanted = args.toSet
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
    // SPARK_GRAFT_BENCH_REPEAT>1: best-of-N warm timings per query (the
    // BENCH.md noise protocol for local iteration); driver default is 1
    val repeat = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPEAT", "1").toInt.max(1)
    val results = selected.map { case (name, fn) =>
      name -> timed(name, repeat)(fn(spark, sfDir).count())
    }
    println(summaryLine(results, sfDir))
    spark.stop()
  }

  /** Best-of-`repeat` seconds of `run`, or None when any repeat throws: a
    * failed query must not read as a fast one. The failure is named on
    * stderr. */
  def timed(name: String, repeat: Int)(run: => Long): Option[Double] =
    try Some((1 to repeat).map { _ =>
      val t0 = System.nanoTime()
      run
      (System.nanoTime() - t0) / 1e9
    }.min)
    catch {
      case e: Throwable =>
        Console.err.println(s"graft.Bench: $name failed: $e")
        None
    }

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
