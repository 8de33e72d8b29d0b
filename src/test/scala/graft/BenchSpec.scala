package graft

/** Bench's per-query measurement: one builder call per timed sample, the
  * last sample's counters (jobs started before the builder returned split
  * out as `buildJobs`), and a plan fingerprint taken from the DataFrame
  * that sample built. `q1_pricing_summary`'s largest task holds at most
  * two of the session's Tungsten pages; `q3_shipping_priority`'s final
  * plan broadcasts its dimension sides. */
class BenchSpec extends SparkSpecBase {

  test("measure: builder runs once per sample; counters and plan hash come from the last one") {
    val counters = new Bench.JobCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    try {
      val pageB = spark.sparkContext.getConf.getSizeAsBytes("spark.buffer.pageSize")
      val hashes = Seq("q6_forecast_revenue", "compaction", "q1_pricing_summary").map { name =>
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
        // q6's builder only reads; compaction's writes its fixture and output
        if (name == "compaction") assert(m.profile.buildJobs > 0, s"$name: ${m.profile}")
        else assert(m.profile.buildJobs == 0, s"$name: ${m.profile}")
        assert(m.profile.buildJobs < m.profile.jobs, s"$name: ${m.profile}")
        // q1's hash aggregate takes one page and its hash table: 64.25 MB
        // per task under Spark's own 64 MB page
        if (name == "q1_pricing_summary")
          assert(m.profile.peakTaskMemB > 0 && m.profile.peakTaskMemB <= 2 * pageB,
            s"$name: peak ${m.profile.peakTaskMemB} B against a $pageB B page")
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

  test("measure: broadcasts and their sizes come from the last sample's final plan") {
    val counters = new Bench.JobCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    try {
      val name = "q3_shipping_priority"
      val m = Bench.measure(spark, sfDir, name, 1, counters, SparkEntry.queries(name))
      assert(m.samples.forall(_ >= 0), s"$name: ${m.samples}")
      assert(m.profile.broadcasts > 0 && m.profile.broadcastB > 0, s"$name: ${m.profile}")
    } finally spark.sparkContext.removeSparkListener(counters)
  }
}
