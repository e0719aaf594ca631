package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished task, tagged with the layer (job group) that ran it. */
final case class TaskRec(
    layer: String, stageId: Int, durationMs: Long, runMs: Long,
    shuffleWriteBytes: Long, shuffleReadRecords: Long, spillBytes: Long, inputBytes: Long)

/** Records tasks, jobs and broadcast sizes from outside the engine: a
  * SparkListener plus a QueryExecutionListener, attached only for traced
  * work. Each layer runs under its own job group, so every task and job
  * is attributed to the layer call that caused it. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobs = new ConcurrentLinkedQueue[String]()
  private val pendingBroadcasts = new ConcurrentLinkedQueue[java.lang.Long]()
  private val broadcasts = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = groupOf(e.properties)
      jobs.add(g)
      e.stageIds.foreach(s => stageLayer.put(s, g))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        stageLayer.getOrDefault(e.stageId, ""), e.stageId, e.taskInfo.duration,
        m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.recordsRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      pendingBroadcasts.add(Tracer.broadcastBytes(qe.executedPlan))
    override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Runs `body` as layer `name`; returns its result and wall seconds.
    * Query-listener events carry no job group, so the broadcasts that
    * arrive before the next layer starts are booked to this one. */
  def layer[T](name: String)(body: => T): (T, Double) = {
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      org.apache.spark.BenchBus.drain(sc)
      var b = pendingBroadcasts.poll()
      while (b != null) { broadcasts += name -> b.longValue; b = pendingBroadcasts.poll() }
    }
  }

  /** Tasks of one layer; `layer` has drained the bus when it returned. */
  def tasksOf(name: String): Seq[TaskRec] = tasks.asScala.filter(_.layer == name).toSeq

  /** Spark / JVM figures of one untraced-shape query run as layer "e2e". */
  def sparkMetrics(cores: Int, wall: Double, gcS: Double): Map[String, Double] = {
    val ts = tasksOf("e2e")
    Map(
      "exchange.bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble,
      "exchange.rec_skew" -> Tracer.recordSkew(ts),
      "broadcast.bytes" -> broadcasts.filter(_._1 == "e2e").map(_._2).sum.toDouble,
      "spark.busy_frac" -> ts.map(_.runMs).sum / 1e3 / (cores * wall),
      "spark.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
      "spark.jobs" -> jobs.asScala.count(_ == "e2e").toDouble,
      "jvm.gc_s" -> gcS)
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer extends AdaptiveSparkPlanHelper {
  def traceMetrics(tracedWall: Double, layers: Double, untracedWall: Double): Map[String, Double] = Map(
    "trace.wall_s" -> tracedWall,
    "trace.overhead_s" -> (tracedWall - untracedWall),
    "trace.unaccounted_s" -> (untracedWall - layers),
    "trace.layer_sum_frac" -> layers / untracedWall)

  /** Bytes of every broadcast exchange in an executed plan, AQE stages included. */
  def broadcastBytes(plan: SparkPlan): Long =
    collect(plan) { case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L) }.sum

  /** max / median task duration of the stage that ran longest in total. */
  def taskSkew(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 0.0
    else {
      val stage = ts.groupBy(_.stageId).maxBy(_._2.map(_.runMs).sum)._2
      val d = stage.map(_.durationMs.toDouble)
      val m = Stats.median(d)
      if (m <= 0) 1.0 else d.max / m
    }

  /** max / median shuffle records read per reduce task, over the stage that
    * read the most records; 0 when nothing was shuffled. */
  def recordSkew(ts: Seq[TaskRec]): Double = {
    val reading = ts.filter(_.shuffleReadRecords > 0)
    if (reading.isEmpty) 0.0
    else {
      val stage = reading.groupBy(_.stageId).maxBy(_._2.map(_.shuffleReadRecords).sum)._2
      val all = ts.filter(_.stageId == stage.head.stageId).map(_.shuffleReadRecords.toDouble)
      val m = Stats.median(all)
      if (m <= 0) all.max else all.max / m
    }
  }
}
