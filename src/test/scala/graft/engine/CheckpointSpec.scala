package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.core.JobConfig
import graft.synth.SynthDem
import java.nio.file.{Files, Paths}

class CheckpointSpec extends AnyFunSuite {

  private lazy val spark = graft.Session.local("checkpoint-spec", 8)

  private val fixture = "/root/reference/tests/data/N43E006.hgt"
  // the reference SRTM tile when present, else a synthetic tile of the same name
  private lazy val dem =
    if (Files.exists(Paths.get(fixture))) fixture
    else SynthDem.writeHgt(Files.createTempDirectory("ckpt_dem").toString, 43, 6)
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
    val freshDir = Files.createTempDirectory("fresh").toString
    val r1 = RasterPipeline.runResumable(spark, Seq(dem), freshDir, cfg)
    assert(r1.tilesSkipped == 0 && r1.tilesWritten > 1)
    val freshFiles = fileBytes(freshDir)

    // full re-run: everything skipped, files untouched
    val r2 = RasterPipeline.runResumable(spark, Seq(dem), freshDir, cfg)
    assert(r2.tilesWritten == 0 && r2.tilesSkipped == r1.tilesTotal)

    // simulate a crash: drop one tile's commit + output, resume
    val victim = Checkpoint.readCommits(freshDir).minBy(c => (c.key, c.tileIdx))
    Checkpoint.deleteCommit(freshDir, victim.key, victim.tileIdx)
    Files.delete(Paths.get(victim.file))
    val r3 = RasterPipeline.runResumable(spark, Seq(dem), freshDir, cfg)
    assert(r3.tilesWritten == 1)
    // resumed file must be byte-identical to the fresh run's version
    val resumed = fileBytes(freshDir)
    assert(resumed == freshFiles)
    val resumedSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(victim.file)))
    // compare against a from-scratch second directory
    val fresh2 = Files.createTempDirectory("fresh2").toString
    RasterPipeline.runResumable(spark, Seq(dem), fresh2, cfg)
    val twin = s"$fresh2/${Paths.get(victim.file).getFileName}"
    val twinSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(Paths.get(twin)))
    assert(resumedSha.toSeq == twinSha.toSeq)
    // the _meta tables: the columns and types Spark gives a Dataset of the
    // same rows, metrics = the commit records, lineage = one row per tile
    val commits = Checkpoint.readCommits(freshDir)
    val metrics = spark.read.parquet(s"$freshDir/_meta/metrics.parquet")
    assert(metrics.schema == StructType(Seq(StructField("key", StringType),
      StructField("tileIdx", IntegerType), StructField("nodes", LongType),
      StructField("ways", LongType), StructField("file", StringType), StructField("ms", LongType))))
    val metricRows = metrics.drop("ms").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4))).toSeq
    assert(metricRows.sorted == commits.map(c => (c.key, c.tileIdx, c.nodes, c.ways, c.file)).sorted)
    val lineage = spark.read.parquet(s"$freshDir/_meta/lineage.parquet")
    assert(lineage.schema == StructType(Seq(StructField("key", StringType),
      StructField("tileIdx", IntegerType), StructField("file", StringType))))
    val lineageRows = lineage.collect().map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).toSeq
    assert(lineageRows.size == r3.tilesTotal && lineageRows.map(_._1).distinct.size == r3.tilesTotal)
    val commitFile = commits.map(c => (c.key, c.tileIdx) -> c.file).toMap
    lineageRows.foreach { case (tile, file) => assert(Option(file) == commitFile.get(tile), tile) }
    Seq("metrics", "lineage").foreach { t =>
      assert(new java.io.File(s"$freshDir/_meta/$t.parquet").list().sorted.toSeq ==
        Seq("_SUCCESS", "part-00000.snappy.parquet"))
    }
  }

  test("a resumable run of two tiles takes at most 9 Spark jobs; a committed re-run writes none") {
    val dir = Files.createTempDirectory("ckpt_jobs").toString
    val paths = Seq(SynthDem.writeHgt(s"$dir/dem", 43, 6), SynthDem.writeHgt(s"$dir/dem", 43, 7))
    val jobCfg = JobConfig(contourStepSize = 10, rdpEpsilon = Some(1e-5))
    def run() = graft.Measure(spark, "checkpoint-spec-jobs")(
      RasterPipeline.runResumable(spark, paths, s"$dir/out", jobCfg, graft.sinks.TileSink.PbfFormat))
    val first = run()
    val r1 = first.result
    assert(r1.tilesTotal > 2 && r1.tilesWritten == r1.tilesTotal && r1.tilesSkipped == 0)
    assert(first.jobs > 0 && first.jobs <= 9, s"${first.jobs} jobs")
    val r2 = run().result
    assert(r2.tilesWritten == 0 && r2.files.isEmpty)
    assert(r2.tilesTotal == r1.tilesTotal && r2.tilesSkipped == r1.tilesTotal)
  }
}
