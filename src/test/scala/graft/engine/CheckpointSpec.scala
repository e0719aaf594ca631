package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.JobConfig
import java.nio.file.{Files, Paths}

class CheckpointSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[8]")
    .appName("checkpoint-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val fixture = "/root/reference/tests/data/N43E006.hgt"
  private lazy val available = Files.exists(Paths.get(fixture))
  private val cfg = JobConfig(area = Some("6.2:43.1:6.6:43.5"), maxNodesPerTile = 30000L,
    maxNodesPerWay = 2000, rdpEpsilon = None)

  private def fileBytes(dir: String): Map[String, Long] = {
    val d = new java.io.File(dir)
    d.listFiles().filter(_.getName.endsWith(".osm"))
      .map(f => f.getName -> f.length()).toMap
  }

  test("commit records round-trip") {
    val c = Checkpoint.Commit("N43E006", 3, 123456L, 789L, "/x/y.osm", 4200L)
    val out = Files.createTempDirectory("ckpt").toString
    Checkpoint.writeCommit(out, c)
    assert(Checkpoint.readCommits(out) == Seq(c))
    assert(Checkpoint.deleteCommit(out, "N43E006", 3))
    assert(Checkpoint.readCommits(out).isEmpty)
  }

  test("concurrent commits of distinct tiles all land, each with its counts") {
    // executor tasks commit at once through one shared Hadoop configuration
    val out = Files.createTempDirectory("ckpt_par").toString
    val commits = (0 until 8).map(i =>
      Checkpoint.Commit("N43E006", i, 1000L + i, 10L + i, s"$out/t$i.osm", i.toLong))
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = commits.map { c =>
      val t = new Thread(() =>
        try { start.await(); Checkpoint.writeCommit(out, c) }
        catch { case e: Throwable => errors.add(e) })
      t.start()
      t
    }
    start.countDown()
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    assert(Checkpoint.readCommits(out).sortBy(_.tileIdx) == commits)
  }

  test("resume skips committed tiles; crash-resume output is byte-identical") {
    assume(available)
    val freshDir = Files.createTempDirectory("fresh").toString
    val r1 = RasterPipeline.runResumable(spark, Seq(fixture), freshDir, cfg)
    assert(r1.tilesSkipped == 0 && r1.tilesWritten > 1)
    val freshFiles = fileBytes(freshDir)

    // full re-run: everything skipped, files untouched
    val r2 = RasterPipeline.runResumable(spark, Seq(fixture), freshDir, cfg)
    assert(r2.tilesWritten == 0 && r2.tilesSkipped == r1.tilesTotal)

    // simulate a crash: drop one tile's commit + output, resume
    val victim = Checkpoint.readCommits(freshDir).minBy(c => (c.key, c.tileIdx))
    Checkpoint.deleteCommit(freshDir, victim.key, victim.tileIdx)
    Files.delete(Paths.get(victim.file))
    val r3 = RasterPipeline.runResumable(spark, Seq(fixture), freshDir, cfg)
    assert(r3.tilesWritten == 1)
    // resumed file must be byte-identical to the fresh run's version
    val resumed = fileBytes(freshDir)
    assert(resumed == freshFiles)
    val resumedSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(victim.file)))
    // compare against a from-scratch second directory
    val fresh2 = Files.createTempDirectory("fresh2").toString
    RasterPipeline.runResumable(spark, Seq(fixture), fresh2, cfg)
    val twin = s"$fresh2/${Paths.get(victim.file).getFileName}"
    val twinSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(twin)))
    assert(resumedSha.toSeq == twinSha.toSeq)
    // metrics + lineage tables exist
    assert(Files.exists(Paths.get(s"$freshDir/_meta/metrics.parquet")))
    assert(Files.exists(Paths.get(s"$freshDir/_meta/lineage.parquet")))
    val metrics = spark.read.parquet(s"$freshDir/_meta/metrics.parquet")
    assert(metrics.count() == r1.tilesTotal || metrics.count() == r1.tilesWritten)
  }
}
