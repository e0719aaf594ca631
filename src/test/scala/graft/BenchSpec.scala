package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("a query that throws reads -1, is left out of total and is named on stderr") {
    val err = new java.io.ByteArrayOutputStream()
    val results = Console.withErr(err) {
      Seq(
        "q01" -> Bench.timed("q01", 2)(1L),
        "q50" -> Bench.timed("q50", 2)(throw new IllegalStateException("missing fixture")),
        "q51" -> Some(0.25))
    }
    assert(results(0)._2.exists(_ >= 0.0) && results(1)._2.isEmpty)
    assert(err.toString.contains("q50") && err.toString.contains("missing fixture"))
    val line = Bench.summaryLine(results, "sf")
    assert(line.contains("\"q50\":-1,") && line.contains("\"q51\":0.250"))
    val total = "\"value\":([0-9.]+)".r.findFirstMatchIn(line).get.group(1).toDouble
    assert(math.abs(total - 0.25 - results(0)._2.get) < 0.0015, line)
  }
}
