package graftbench

/** The metric names the benchmark prints, with their units. BENCHMARK.json
  * lists the same names; a test keeps the two equal. */
object Metrics {

  /** Printed with --trace 0, on every workload. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "wall_s" -> "s",
    "items_per_s" -> "1/s",
    "out_bytes_per_item" -> "bytes",
    "ok_frac" -> "ratio",
    "peak_heap_mb" -> "MB")

  /** Printed with --trace 1, on every workload; a layer the workload does
    * not run reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "RasterPipeline.tiles.s" -> "s",
    "RasterPipeline.tiles.count" -> "count",
    "RasterPipeline.contours.s" -> "s",
    "RasterPipeline.contours.nodes" -> "count",
    "RasterPipeline.contours.ways" -> "count",
    "RasterPipeline.contours.task_skew" -> "ratio",
    "RasterPipeline.contours.shuffle_bytes" -> "bytes",
    "RasterPipeline.idOffsets.s" -> "s",
    "RasterPipeline.writeOsmXml.s" -> "s",
    "RasterPipeline.writeOsmXml.bytes" -> "bytes",
    "RasterPipeline.writeOsmXml.task_skew" -> "ratio",
    "Hgt.decode.s" -> "s",
    "Chop.chop.s" -> "s",
    "MarchingSquares.trace.s" -> "s",
    "MarchingSquares.trace.nodes" -> "count",
    "Rdp.simplify.s" -> "s",
    "Rdp.simplify.keep_ratio" -> "ratio",
    "WaySplit.split.s" -> "s",
    "TileSink.pbf.s" -> "s",
    "TileSink.pbf.mb_per_s" -> "MB/s",
    "Pages.geocoded.s" -> "s",
    "scan.bytes" -> "bytes",
    "SpatialJoin.coverDf.s" -> "s",
    "SpatialJoin.coverDf.cells" -> "count",
    "SpatialJoin.coverDf.cells_per_poly" -> "ratio",
    "SpatialJoin.prejoin.s" -> "s",
    "SpatialJoin.prejoin.candidates" -> "count",
    "SpatialJoin.prejoin.candidates_per_page" -> "ratio",
    "SpatialJoin.pip.s" -> "s",
    "SpatialJoin.pip.evals_per_row" -> "ratio",
    "SpatialJoin.pip.rows" -> "count",
    "SpatialJoin.pip.rows_per_candidate" -> "ratio",
    "Geometry.contains.ns_per_eval" -> "ns",
    "exchange.bytes" -> "bytes",
    "exchange.rec_skew" -> "ratio",
    "broadcast.bytes" -> "bytes",
    "kernel.cpu_s" -> "s",
    "spark.overhead_frac" -> "ratio",
    "spark.busy_frac" -> "ratio",
    "spark.spill_bytes" -> "bytes",
    "spark.jobs" -> "count",
    "jvm.gc_s" -> "s",
    "trace.wall_s" -> "s",
    "trace.overhead_s" -> "s",
    "trace.unaccounted_s" -> "s",
    "trace.layer_sum_frac" -> "ratio")

  /** The result line: `{"correct": .., "attempted": .., "failed": .., "metrics": {..}}`. */
  def resultJson(correct: Boolean, attempted: Int, failed: Int,
      names: Seq[(String, String)], values: Map[String, Double]): String = {
    val ms = names.map { case (n, unit) =>
      val v = values(n)
      require(!v.isNaN && !v.isInfinite, s"metric $n is not a number: $v")
      s""""$n": {"value": ${java.lang.Double.toString(v)}, "unit": "$unit"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
