package graft

import graft.core.JobConfig
import graft.engine.RasterPipeline

/** End-to-end throughput at the reference's published anchor workload
  * (README:128-139: PACA region, step 10, RDP eps=1e-5, PBF, -j16 ->
  * 104 tiles / 81 MB in < 60 s on an i5-13600K).
  *
  * The sandbox has two real SRTM fixtures; this bench replicates them
  * under distinct tile keys until the job writes ~104 PBF tiles of REAL
  * terrain (same per-tile complexity as the originals — synthetic DEMs
  * would be too smooth to compare). Copies are made once, outside the
  * measured window; the measured window is exactly what PipelineCli
  * measures: scan -> decode -> chop -> trace -> ids -> PBF sinks.
  *
  * Writes its result table as its own section of BENCH.md.
  */
object E2eBench {

  private val Fixtures = Seq(
    "/root/reference/tests/data/N43E006.hgt",
    "/root/reference/tests/data/N43E007.hgt")

  /** Copy each fixture under `copies` distinct keys (N10..N{10+copies-1}),
    * e.g. N10E006, N11E006... Terrain content identical to the originals.
    * Staged through core/Fs like everything executors later read: the
    * bench fixture dir carries whatever scheme the deploy points it at. */
  private def replicate(dir: String, copies: Int): Seq[String] = {
    graft.core.Fs.mkdirs(dir)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    Fixtures.foreach { src =>
      val lonPart = src.split('/').last.substring(3, 7) // E006 / E007
      val bytes = graft.core.Fs.readAllBytes(src)
      (0 until copies).foreach { k =>
        val name = f"N${10 + k}%02d$lonPart%s.hgt"
        val p = s"$dir/$name"
        if (graft.core.Fs.fileLength(p) != bytes.length.toLong) {
          val o = graft.core.Fs.create(p)
          try o.write(bytes) finally o.close()
        }
        out += p
      }
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    // dot-decimal everywhere: diagnostics/tables are parsed downstream
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val cores = Session.cpus()
    val copies = graft.core.Env.positiveInt("SPARK_GRAFT_E2E_COPIES").getOrElse(15)
    val reps = graft.core.Env.positiveInt("SPARK_GRAFT_E2E_REPS").getOrElse(2)
    val files = replicate("/tmp/graft_e2e_dem", copies)
    val spark = Session.local("graft-e2e-bench", cores)
    spark.sparkContext.setLogLevel("ERROR")
    // reference PACA parameters (README:128-133)
    val cfg = JobConfig(contourStepSize = 10, rdpEpsilon = Some(0.00001))
    // a fresh output directory per run: a committed one would skip every tile
    val run = Measure(spark, "e2e", runs = reps) {
      RasterPipeline.runResumable(spark, files, graft.core.Fs.createTempDir("e2e"), cfg,
        format = graft.sinks.TileSink.PbfFormat)
    }
    spark.stop()
    val (tiles, wall) = (run.result.tilesWritten, run.seconds)
    val bytes = run.result.files.map(graft.core.Fs.fileLength).sum
    println(f"[e2e best of $reps] $tiles pbf tiles, ${bytes / 1e6}%.0f MB " +
      f"in $wall%.1f s = ${wall / tiles}%.3f s/tile " +
      f"(${Fixtures.size * copies} input files, $cores cores)")
    val perTile = wall / tiles
    val sb = new StringBuilder
    sb.append("\n## End-to-end vs reference anchor (PACA parameters: step 10, RDP 1e-5, PBF)\n\n")
    sb.append(s"graft ran on $cores cores (`Session.cpus()`).\n\n")
    sb.append("| engine | tiles | output MB | wall (s) | s/tile | vs reference 0.58 s/tile |\n")
    sb.append("|---|---|---|---|---|---|\n")
    sb.append(f"| reference (published, i5-13600K) | 104 | 81 | <60 | 0.58 | 1.0x |\n")
    sb.append(f"| graft (this host, real-terrain replicas) | $tiles | ${bytes / 1e6}%.0f | $wall%.1f | $perTile%.3f | ${perTile / 0.58}%.2fx |\n")
    sb.append("\nBest of " + reps + " reps; tile content = replicas of the two real SRTM fixtures, " +
      "so per-tile terrain complexity matches the originals. Single shared JVM, warm JIT after rep 1 " +
      "(the reference's <60 s likewise amortizes startup over 104 tiles).\n")
    print(sb)
    BenchDoc.write("BENCH.md", "## End-to-end vs reference anchor", sb.toString)
  }
}
