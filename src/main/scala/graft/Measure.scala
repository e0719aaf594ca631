package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one way graft times work. A body runs `warmup` times unmeasured, then
  * `runs` times measured, and the fastest measured run is kept. Under a
  * session every run executes in a job group of its own, and a listener
  * records that group's jobs and their tasks. They are read once the
  * listener bus has delivered every event of the run, so no straggler's
  * task is missed and none leaks into the next run. */
object Measure {

  /** One finished task: its stage, executor run time and shuffle records read. */
  final case class Task(stage: Int, runMs: Long, shuffleRecords: Long)

  /** The kept run: its wall seconds, the body's result, and the Spark jobs
    * the run started with their tasks (none when timed without a session). */
  final case class Run[T](seconds: Double, result: T, jobs: Int, tasks: Seq[Task])

  /** Best of `runs` after `warmup` discarded runs of `body`, each in a job
    * group of `spark` described as `name`. A run that throws ends the
    * measurement with its exception. */
  def apply[T](spark: SparkSession, name: String, warmup: Int = 0, runs: Int = 1)(body: => T): Run[T] = {
    val sc = spark.sparkContext
    val probe = new Probe(s"graft-measure-${groups.incrementAndGet()}")
    sc.addSparkListener(probe)
    try best(warmup, runs) {
      sc.setJobGroup(probe.group, name)
      val (seconds, result) = try timed(body) finally {
        sc.clearJobGroup()
        GraftListenerBus.drain(sc)
      }
      probe.take(seconds, result)
    } finally sc.removeSparkListener(probe)
  }

  /** Best of `runs` after `warmup` discarded runs of a body that needs no
    * session: seconds and result only. */
  def time[T](warmup: Int = 0, runs: Int = 1)(body: => T): Run[T] =
    best(warmup, runs) {
      val (seconds, result) = timed(body)
      Run(seconds, result, 0, Nil)
    }

  /** `apply`, or None when a run throws, so that a failed body cannot read
    * as a fast one. The failure is named on stderr. */
  def attempt[T](spark: SparkSession, name: String, warmup: Int = 0, runs: Int = 1)(
      body: => T): Option[Run[T]] =
    try Some(apply(spark, name, warmup, runs)(body))
    catch {
      case e: Throwable =>
        Console.err.println(s"graft.Measure: $name failed: $e")
        None
    }

  private val groups = new AtomicLong

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val result = body
    ((System.nanoTime() - t0) / 1e9, result)
  }

  private def best[T](warmup: Int, runs: Int)(run: => Run[T]): Run[T] = {
    require(warmup >= 0 && runs >= 1, s"need warmup >= 0 and runs >= 1, got $warmup and $runs")
    (1 to warmup).foreach(_ => run)
    Iterator.fill(runs)(run).minBy(_.seconds)
  }

  /** The jobs of one job group and the tasks of their stages. */
  private final class Probe(val group: String) extends SparkListener {
    private var jobs = 0
    private val stages = mutable.HashSet.empty[Int]
    private val tasks = mutable.ArrayBuffer.empty[Task]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group) {
        jobs += 1
        stages ++= e.stageIds
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null && stages(e.stageId))
        tasks += Task(e.stageId, m.executorRunTime, m.shuffleReadMetrics.recordsRead)
    }

    /** The run of what was seen since the last take; the next run starts from none. */
    def take[T](seconds: Double, result: T): Run[T] = synchronized {
      val run = Run(seconds, result, jobs, tasks.toList)
      jobs = 0
      stages.clear()
      tasks.clear()
      run
    }
  }
}
