package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Every main builds its session through `Session`, so its confs and the
  * `SPARK_GRAFT_CPUS` parse are the whole of the session contract. */
class SessionSpec extends AnyFunSuite {

  test("the builder sets local[cores], cores shuffle partitions, AQE, UTC and no UI") {
    assert(Session.confs("app", 3) == Map(
      "spark.master" -> "local[3]",
      "spark.app.name" -> "app",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false"))
    // other suites may have built a session already: start a fresh one over
    // the shared context, and leave none behind for the suites after this
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = Session.local("session-spec", 3)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    intercept[IllegalArgumentException](Session.local("session-spec", 0))
  }

  test("SPARK_GRAFT_CPUS: unset means every available processor") {
    assert(Session.cpus(Map.empty) == Runtime.getRuntime.availableProcessors)
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
  }

  test("SPARK_GRAFT_CPUS: zero, negative and non-numeric values are refused by name") {
    for (bad <- Seq("0", "-2", "abc", "")) {
      val e = intercept[IllegalArgumentException](Session.cpus(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }

  test("src/main builds a SparkSession in exactly one place") {
    val sites = MainSources.lines().collect {
      case (f, i, line) if line.contains("SparkSession.builder") => s"$f:$i"
    }
    assert(sites.size == 1 && sites.head.contains("graft/Session.scala"), sites.mkString("\n"))
  }
}
