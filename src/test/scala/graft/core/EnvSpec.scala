package graft.core

import org.scalatest.funsuite.AnyFunSuite

class EnvSpec extends AnyFunSuite {

  test("unset is None; a positive integer is its value") {
    assert(Env.positiveInt("SPARK_GRAFT_E2E_REPS", Map.empty).isEmpty)
    assert(Env.positiveLong("SPARK_GRAFT_SKEW_PAGES", Map.empty).isEmpty)
    assert(Env.positiveInt("SPARK_GRAFT_E2E_REPS", Map("SPARK_GRAFT_E2E_REPS" -> "3")).contains(3))
    assert(Env.positiveLong("SPARK_GRAFT_SKEW_PAGES",
      Map("SPARK_GRAFT_SKEW_PAGES" -> "64000000000")).contains(64000000000L))
    // another variable's value is not read
    assert(Env.positiveInt("SPARK_GRAFT_E2E_REPS", Map("SPARK_GRAFT_E2E_COPIES" -> "0")).isEmpty)
  }

  test("zero, negative, non-numeric and out-of-range values are refused by name and value") {
    def refused(name: String, bad: String)(read: Map[String, String] => Any): Unit = {
      val e = intercept[IllegalArgumentException](read(Map(name -> bad)))
      assert(e.getMessage == s"$name must be a positive integer, got '$bad'", e.getMessage)
    }
    for (bad <- Seq("0", "-2", "abc", "", "1.5", " 4", "3000000000"))
      refused("SPARK_GRAFT_E2E_REPS", bad)(Env.positiveInt("SPARK_GRAFT_E2E_REPS", _))
    for (bad <- Seq("0", "-1", "16e6", "9223372036854775808"))
      refused("SPARK_GRAFT_SKEW_PAGES", bad)(Env.positiveLong("SPARK_GRAFT_SKEW_PAGES", _))
  }
}
