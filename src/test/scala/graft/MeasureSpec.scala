package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.lit

class MeasureSpec extends AnyFunSuite {

  private lazy val spark = Session.local("measure-spec", 4)

  test("warm-up and measured runs invoke the body W+N times and keep the fastest measured run") {
    // warm-ups are instant, so a kept warm-up would read ~0 s
    val sleepMs = Seq(0L, 0L, 400L, 20L, 200L)
    for (measure <- Seq[(=> Long) => Measure.Run[Long]](
        Measure(spark, "measure-spec-best", warmup = 2, runs = 3)(_),
        Measure.time(warmup = 2, runs = 3)(_))) {
      var calls = 0
      val run = measure {
        val ms = sleepMs(calls)
        calls += 1
        Thread.sleep(ms)
        ms
      }
      assert(calls == 5)
      assert(run.result == 20L && run.seconds >= 0.020 && run.seconds < 0.200, run)
      assert(run.jobs == 0 && run.tasks.isEmpty, run)
    }
    intercept[IllegalArgumentException](Measure.time(runs = 0)(1))
  }

  test("a shuffle sending every row to one reducer reads them all in one task") {
    val rows = 20000L
    val aqe = "spark.sql.adaptive.enabled"
    val prior = spark.conf.getOption(aqe)
    spark.conf.set(aqe, "true")
    // a slow listener on the same bus queue: had Measure read its probe
    // before the bus drained, this run's last events would be missing
    val slowBus = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(slowBus)
    try {
      val run = Measure(spark, "measure-spec-skew", warmup = 1, runs = 2) {
        spark.range(0, rows, 1, 4).repartition(4, lit(0))
          .write.format("noop").mode("overwrite").save()
      }
      // AQE runs the map stage as one job and the reduce side as another;
      // the warm-up's jobs are not counted in the kept run
      assert(run.jobs == 2, run)
      val read = run.tasks.map(_.shuffleRecords)
      assert(read.max == rows && read.sum == rows, run)
    } finally {
      spark.sparkContext.removeSparkListener(slowBus)
      prior.fold(spark.conf.unset(aqe))(spark.conf.set(aqe, _))
    }
  }

  test("src/main times and listens to Spark only in Measure, and Measure never sleeps") {
    val lines = MainSources.lines()
    def in(file: String)(site: (String, Int, String)): Boolean = site._1.endsWith(file)
    val pipeline = lines.filter(in("graft/engine/RasterPipeline.scala"))
    val osmStart = pipeline.find(_._3.contains("def writeOsmXml(")).get._2
    val osmEnd = pipeline.find { case (_, i, l) => i > osmStart && l.matches("  (private\\S* )?def .*") }
      .fold(Int.MaxValue)(_._2)
    val sites = lines.filter { case (_, _, l) => l.contains("System.nanoTime") || l.contains("SparkListener") }
    // the commit record's `ms`, written by writeOsmXml, is output data, not a benchmark timer
    val stray = sites.filterNot(s => in("graft/Measure.scala")(s) ||
      (in("graft/engine/RasterPipeline.scala")(s) && s._2 > osmStart && s._2 < osmEnd))
    assert(stray.isEmpty, stray.map { case (f, i, l) => s"$f:$i: $l" }.mkString("\n"))
    assert(sites.exists(in("graft/Measure.scala")))
    assert(!lines.filter(in("graft/Measure.scala")).exists(_._3.contains("sleep")))
  }
}
