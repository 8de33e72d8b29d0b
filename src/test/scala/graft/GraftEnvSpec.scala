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
    bad("SPARK_GRAFT_PPJOIN_BUDGET", "x")(GraftEnv.check(_))

    assert(GraftEnv.cpus(4, Map("SPARK_GRAFT_CPUS" -> "8")) == "8")
    assert(GraftEnv.benchRuns(Map("SPARK_GRAFT_BENCH_RUNS" -> "0")) == 1)
    assert(GraftEnv.ppjoinBudget(Map("SPARK_GRAFT_PPJOIN_BUDGET" -> " 2e8")) == 200000000L)
    // unset: the defaults
    assert(GraftEnv.cpus(4, Map.empty) == "4")
    assert(GraftEnv.benchRuns(Map.empty) == 3)
    assert(GraftEnv.ppjoinBudget(Map.empty) == 200000000L)
  }

  test("SPARK_GRAFT_BBP_OFFSETS: a comma list of positive longs; anything else names the variable") {
    for (v <- Seq("x", "4e8", "400000000,", "0", "-5", "1,,2")) {
      val e = intercept[IllegalArgumentException](GraftEnv.bbpOffsets(Map("SPARK_GRAFT_BBP_OFFSETS" -> v)))
      assert(e.getMessage.contains("SPARK_GRAFT_BBP_OFFSETS") && e.getMessage.contains(s""""$v""""), e.getMessage)
    }
    assert(GraftEnv.bbpOffsets(Map("SPARK_GRAFT_BBP_OFFSETS" -> " 1, 4294967296")) == Seq(1L, 4294967296L))
    assert(GraftEnv.bbpOffsets(Map.empty) == Seq(400000000L, 4294967296L))
  }

  test("GenCorpus rejects malformed arguments with its usage line, before any session starts") {
    for (args <- Seq(Seq("/tmp/x"), Seq("/tmp/x", "ten", "5"), Seq("/tmp/x", "10", "5", "v"),
                     Seq("/tmp/x", "10", "5", "100", "2.0"), Seq("/tmp/x", "-1", "5"))) {
      val e = intercept[IllegalArgumentException](tools.GenCorpus.main(args.toArray))
      assert(e.getMessage.contains("usage: GenCorpus <outDir> <nDocs> <nVecs>"), e.getMessage)
    }
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
