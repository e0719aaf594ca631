package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** A failed output check: counted as a failed operation, never as a timing. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def apply(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
}

/** One workload: inputs made from the seed, a set-up step, a timed query
  * and the checks of its output. */
trait Workload {
  type Out
  /** Writes the seeded inputs (not timed). */
  def prepare(spark: SparkSession): Unit
  /** What the program does once per session before its first query. */
  def setup(spark: SparkSession): Unit
  /** One query, its output materialized in full. */
  def run(spark: SparkSession, i: Int): Out
  /** Checks one query's output; returns (items of work, output bytes). */
  def check(out: Out): (Long, Long)
  /** Checks made once per run against an independent path. */
  def finalCheck(spark: SparkSession): Unit
  /** Per-layer metrics from a traced query; `untracedWall` is the median
    * of the untraced queries of the same run. */
  def traced(spark: SparkSession, cores: Int, untracedWall: Double): Map[String, Double]
}

object Session {
  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      // the session PipelineCli builds
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  /** CPU time the host took from this machine (Linux /proc/stat), for the
    * log: a slow query with high steal was slowed by a neighbour. */
  def stealS(): Double = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(f)) 0.0
    else java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+")(8).toDouble / 100
  }
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** `Main --workload W --seed N --seconds S --trace 0|1 --work DIR --state DIR --build-id ID`
  *
  * Prints one JSON result line on stdout; everything else goes to stderr. */
object Main {
  /** One query: wall s, items of work, output bytes, peak heap MB, and
    * whether the host took its CPUs meanwhile. */
  final case class Sample(wall: Double, items: Long, bytes: Long, peakMb: Double, disturbed: Boolean)

  val Workloads = Seq("tile_pbf", "join_bcast")
  val SetupReps = 5
  /** Queries before timing starts: the first one's output is also held to
    * the independent paths, the others let the JIT settle. Both workloads
    * get ~15% faster from their second query to their fourth. */
  val WarmupIters = 4
  /** Timed queries at least, even when --seconds is spent before: the
    * median of fewer moves with every short burst of host contention. */
  val MinIters = 4
  /** A timed query during which the hypervisor took more than this share
    * of the machine's CPU time (steal) is logged and not counted: the host,
    * not the program, set its time. On a shared 4-vCPU host such queries
    * ran up to 2.5x slower, while undisturbed ones stay under 3%. */
  val MaxStealShare = 0.05
  /** The timed loop runs on past --seconds for `MinIters` undisturbed
    * queries, up to this multiple of --seconds; a run that still has
    * fewer reports all its timed queries. */
  val MaxOverrun = 1.5

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private val t00 = System.nanoTime()
  private def log(s: String): Unit = System.err.println(f"[perfbench ${secs(t00)}%6.1fs] $s")

  def workload(name: String, work: Path, state: Path, seed: Long, buildId: String,
      cores: Int): Workload = name match {
    case "tile_pbf" => new TilePbf(work, state, seed, buildId)
    case "join_bcast" => new Join(work, seed, cores, salted = false)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${Workloads.mkString(", ")})")
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val work = Paths.get(opt("work")).toAbsolutePath
    val state = Paths.get(opt("state")).toAbsolutePath
    Files.createDirectories(work)
    Files.createDirectories(state)
    val w = workload(name, work, state, seed, opt("build-id"), cores)
    // the engine and Spark may print; the result line must be the last one
    val stdout = System.out
    System.setOut(System.err)
    val (line, ok) = run(w, cores, work, seconds, trace)
    stdout.println(line)
    stdout.flush()
    sys.exit(if (ok) 0 else 1)
  }

  def run(w: Workload, cores: Int, work: Path, seconds: Double, trace: Boolean): (String, Boolean) = {
    var attempted = 0
    var failed = 0
    def attempt[T](what: String)(body: => T): Option[T] = {
      attempted += 1
      try Some(body)
      catch {
        case e: CheckFailed => failed += 1; log(s"$what: check failed: ${e.getMessage}"); None
        case NonFatal(e) => failed += 1; log(s"$what: ${e.getClass.getName}: ${e.getMessage}"); None
      }
    }

    var spark = Session.start(cores, work)
    w.prepare(spark)
    log("inputs written")
    val setupS = (1 to SetupReps).map { _ =>
      Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(cores, work)
      w.setup(spark)
      secs(t0)
    }
    log(f"setup ${setupS.map(s => f"$s%.3f").mkString(" ")} s")
    try {
      /** Runs and checks query `i` from a collected heap. A full collection
        * between queries keeps one query's garbage out of the next one's
        * time and peak: with it the peak of a query varies by ~2% between
        * runs, without it by ~20% (where in the old generation's fill it
        * lands). */
      def query(i: Int, what: String): Option[Sample] = attempt(s"$what $i") {
        System.gc()
        Jvm.resetPeakHeap()
        val (cpu0, steal0) = (Jvm.cpuS(), Jvm.stealS())
        val t0 = System.nanoTime()
        val out = w.run(spark, i)
        val wall = secs(t0)
        val (cpu, steal, peak) = (Jvm.cpuS() - cpu0, Jvm.stealS() - steal0, Jvm.peakHeapMb())
        val (items, bytes) = w.check(out)
        val disturbed = steal > MaxStealShare * cores * wall
        log(f"$what $i: $wall%.3f s, $items items, process cpu $cpu%.2f s, " +
          f"host steal $steal%.2f s, peak heap $peak%.0f MB${if (disturbed) ", disturbed" else ""}")
        Sample(wall, items, bytes, peak, disturbed)
      }
      (1 to WarmupIters).foreach(query(_, "warm-up"))
      val budget = if (trace) seconds / 2 else seconds
      val samples = ArrayBuffer.empty[Sample]
      def clean = samples.filterNot(_.disturbed)
      val loop0 = System.nanoTime()
      var n = 0
      while ((secs(loop0) < budget || clean.size < MinIters) &&
          (secs(loop0) < MaxOverrun * budget || n < MinIters)) {
        n += 1
        query(WarmupIters + n, "query").foreach(samples += _)
      }
      val timed = (if (clean.size >= MinIters) clean else samples).toSeq
      log(s"${timed.size} of ${samples.size} timed queries counted")
      val walls = timed.map(_.wall)
      attempt("final check")(w.finalCheck(spark))
      log("final check done")
      val metrics: Option[(Seq[(String, String)], Map[String, Double])] =
        if (timed.isEmpty) None
        else if (!trace) Some(Metrics.EndToEnd -> Map(
          "setup_s" -> Stats.median(setupS),
          "wall_s" -> Stats.median(walls),
          "items_per_s" -> Stats.median(timed.map(t => t.items / t.wall)),
          "out_bytes_per_item" -> Stats.median(timed.map(t => t.bytes.toDouble / t.items)),
          "ok_frac" -> (attempted - failed).toDouble / attempted,
          "peak_heap_mb" -> Stats.median(timed.map(_.peakMb))))
        else attempt("traced query")(w.traced(spark, cores, Stats.median(walls))).map { m =>
          val unknown = m.keySet -- Metrics.PerLayer.map(_._1)
          require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
          Metrics.PerLayer -> Metrics.PerLayer.map { case (n, _) => n -> m.getOrElse(n, 0.0) }.toMap
        }
      val correct = failed == 0 && metrics.isDefined
      val (names, values) = metrics.getOrElse(Seq.empty[(String, String)] -> Map.empty[String, Double])
      (Metrics.resultJson(correct, attempted, failed, names, values), correct)
    } finally Session.stop(spark)
  }
}
