package graft

import graft.queries.QuerySpec

/** Builders that only read start no Spark job before they return (the
  * parquet schema comes from the footer on the driver), and `compaction`
  * writes its many-small-files fixture with at most one task per core. */
class BuildJobsSpec extends SparkSpecBase {

  test("read-only builders start 0 jobs at sf0.001") {
    val counters = new Bench.JobCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)
    try {
      val jobs = Seq("q1_pricing_summary", "q3_shipping_priority", "join_semi",
        "wordcount", "lang_id", "sessionize").map { name =>
        counters.reset()
        SparkEntry.queries(name)(spark, sfDir)
        name -> counters.snapshot(System.currentTimeMillis()).buildJobs
      }
      assert(jobs.forall(_._2 == 0), jobs)
    } finally spark.sparkContext.removeSparkListener(counters)
  }

  test("compaction's fragment dir holds 64 part files from at most defaultParallelism tasks") {
    SparkEntry.queries("compaction")(spark, sfDir)
    val parts = new java.io.File(QuerySpec.dumpDir("graft_frag_dump")).list()
      .filter(_.startsWith("part-")).toSeq
    assert(parts.size == 64, parts.sorted)
    // part-<task partition>-<job uuid>-c<file within the task>
    val tasks = parts.map(_.split('-')(1)).distinct
    assert(tasks.size <= spark.sparkContext.defaultParallelism, tasks)
  }
}
