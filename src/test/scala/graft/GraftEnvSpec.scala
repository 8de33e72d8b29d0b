package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftEnvSpec extends AnyFunSuite {

  test("numeric settings: a bad value names the variable and the value; a good one parses") {
    def bad(name: String, value: String)(read: GraftEnv.Env => Any): Unit = {
      val e = intercept[IllegalArgumentException](read(Map(name -> value)))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s""""$value""""), e.getMessage)
    }
    bad("SPARK_GRAFT_CPUS", "x")(GraftEnv.cpus(4, _))
    bad("SPARK_GRAFT_CPUS", "0")(GraftEnv.cpus(4, _))
    bad("SPARK_GRAFT_BENCH_RUNS", "3x")(GraftEnv.benchRuns(_))
    bad("SPARK_GRAFT_PPJOIN_BUDGET", "lots")(GraftEnv.ppjoinBudget(_))
    bad("SPARK_GRAFT_CC_LOCAL_EDGES", "2e6")(GraftEnv.ccLocalEdges(_))
    bad("SPARK_GRAFT_CC_LOCAL_EDGES", "x")(GraftEnv.check(_))

    assert(GraftEnv.cpus(4, Map("SPARK_GRAFT_CPUS" -> "8")) == "8")
    assert(GraftEnv.benchRuns(Map("SPARK_GRAFT_BENCH_RUNS" -> "0")) == 1)
    assert(GraftEnv.ppjoinBudget(Map("SPARK_GRAFT_PPJOIN_BUDGET" -> " 2e8")) == 200000000L)
    assert(GraftEnv.ccLocalEdges(Map("SPARK_GRAFT_CC_LOCAL_EDGES" -> "0")) == 0L)
    // unset: the defaults
    assert(GraftEnv.cpus(4, Map.empty) == "4")
    assert(GraftEnv.benchRuns(Map.empty) == 3)
    assert(GraftEnv.ppjoinBudget(Map.empty) == 200000000L)
    assert(GraftEnv.ccLocalEdges(Map.empty) == 2000000L)
  }

  test("SPARK_GRAFT_NO_COALESCE: unset or 1; anything else, 0 included, is rejected") {
    assert(!GraftEnv.noCoalesce(Map.empty))
    assert(GraftEnv.noCoalesce(Map("SPARK_GRAFT_NO_COALESCE" -> "1")))
    for (v <- Seq("0", "", "true", " 1")) {
      val e = intercept[IllegalArgumentException](GraftEnv.noCoalesce(Map("SPARK_GRAFT_NO_COALESCE" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_NO_COALESCE") && e.getMessage.contains(s""""$v""""), e.getMessage)
    }
  }
}
