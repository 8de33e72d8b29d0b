package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import graft.{Bench, GraftSessions, SparkEntry}

/** Prints, for the headline queries, the static physical plan and the final
  * adaptive plan after the query ran through the noop sink, so the scan
  * pushdown / broadcast / partial-agg assertions in NOTES_PERF.md are
  * reproducible and the join choices AQE makes from runtime statistics
  * (a broadcast the static plan does not show) are visible:
  * `sbt "runMain graft.tools.ExplainAudit [query ...]"`. */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSessions.local("4")
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_SF_DIR lets the audit run against any SF — plan FLIPS
    // (broadcast→SMJ, AQE skew splits) only show on the larger inputs
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q6_forecast_revenue", "q5_local_supplier", "q1_pricing_summary",
        "wordcount", "sessionize", "dedup_minhash_lsh", "ann_bruteforce_topk")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, d)
      println("---------- static plan ----------")
      df.explain("formatted")
      println("---------- final plan, after the noop write ----------")
      println(finalPlan(df).treeString)
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  /** Runs `df` through the noop sink, as Bench times it, and returns the
    * physical plan that ran ([[Bench.FinalPlan]]). */
  def finalPlan(df: DataFrame): SparkPlan = {
    val ran = new Bench.FinalPlan(df)
    try {
      df.write.format("noop").mode("overwrite").save()
      ran.await()
    } finally ran.close()
  }
}
