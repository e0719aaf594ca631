package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private lazy val spark = Session.local("bench-spec", 4)

  test("a query that throws reads -1, is left out of total and is named on stderr") {
    val err = new java.io.ByteArrayOutputStream()
    val results = Console.withErr(err) {
      Seq(
        "q01" -> Measure.attempt(spark, "q01", runs = 2)(1L).map(_.seconds),
        "q50" -> Measure.attempt[Long](spark, "q50", runs = 2)(throw new IllegalStateException("missing fixture"))
          .map(_.seconds),
        "q51" -> Some(0.25))
    }
    assert(results(0)._2.exists(_ >= 0.0) && results(1)._2.isEmpty)
    assert(err.toString.contains("q50") && err.toString.contains("missing fixture"))
    val line = Bench.summaryLine(results, "sf")
    assert(line.contains("\"q50\":-1,") && line.contains("\"q51\":0.250"))
    val total = "\"value\":([0-9.]+)".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(total - 0.25 - results(0)._2.get) < 0.0015, line)
  }

  test("SPARK_GRAFT_BENCH_REPEAT: unset is one run; zero, negative and non-numeric are refused by name") {
    assert(Bench.repeat(Map.empty) == 1)
    assert(Bench.repeat(Map("SPARK_GRAFT_BENCH_REPEAT" -> "5")) == 5)
    for (bad <- Seq("0", "-3", "abc")) {
      val e = intercept[IllegalArgumentException](Bench.repeat(Map("SPARK_GRAFT_BENCH_REPEAT" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_REPEAT") && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
  }
}
