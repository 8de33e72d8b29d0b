package graft

/** Bench's per-query measurement: one builder call per timed sample, the
  * last sample's counters, and a plan fingerprint taken from the DataFrame
  * that sample built. */
class BenchSpec extends SparkSpecBase {

  test("measure: builder runs once per sample; counters and plan hash come from the last one") {
    val counters = new Bench.JobCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    try {
      val hashes = Seq("q6_forecast_revenue", "compaction").map { name =>
        var calls = 0
        val m = Bench.measure(spark, sfDir, name, 2, counters, { (s, d) =>
          calls += 1
          SparkEntry.queries(name)(s, d)
        })
        assert(calls == 2, s"$name: builder calls")
        assert(m.samples.size == 2 && m.samples.forall(_ >= 0), s"$name: ${m.samples}")
        assert(m.profile.jobs >= 1, s"$name: ${m.profile}")
        assert(m.profile.tasks >= m.profile.jobs, s"$name: ${m.profile}")
        assert(m.buildS >= 0 && m.buildS <= m.samples.last, s"$name: build ${m.buildS}")
        name -> m.planHash
      }.toMap
      val q6 = SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)
      assert(hashes("q6_forecast_revenue") == Bench.planHash(q6))
      assert(hashes("compaction") != "err")
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  test("planHash: a lambda query's hash does not depend on how many lambdas were built before") {
    // each build numbers its lambda variables from one JVM-wide counter
    val hashes = (1 to 2).map(_ => Bench.planHash(SparkEntry.queries("wordcount")(spark, sfDir)))
    assert(hashes.head != "err" && hashes.head == hashes.last, hashes)
  }
}
