package graft

import org.apache.spark.sql.SparkSession
import graft.core.Env

/** The one way a graft main builds its Spark session, so benched, verified
  * and dumped plans all run under the same confs. Callers that need a
  * different SQL conf set it with `spark.conf.set` after creation. */
object Session {

  /** Local cores from `SPARK_GRAFT_CPUS`; unset means every available
    * processor. Takes the environment as a map so it can be tested without
    * touching the process environment. */
  def cpus(env: Map[String, String] = sys.env): Int =
    Env.positiveInt("SPARK_GRAFT_CPUS", env).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The confs `local` builds with. */
  private[graft] def confs(app: String, cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> app,
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** `local[cores]` with `cores` shuffle partitions, AQE on, UTC session
    * time zone and no UI. */
  def local(app: String, cores: Int): SparkSession = {
    require(cores > 0, s"cores must be positive, got $cores")
    SparkSession.builder().config(confs(app, cores)).getOrCreate()
  }
}
