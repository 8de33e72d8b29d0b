package graft.tools

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{GraftSessions, SparkEntry}

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
    * physical plan that ran: for an adaptive query the final plan, with the
    * join strategies and partition counts AQE chose at run time. The
    * listener takes only the write of `df` itself (its command wraps `df`'s
    * analyzed plan), not the end of an earlier query still queued on the
    * listener bus. */
  def finalPlan(df: DataFrame): SparkPlan = {
    val target = df.queryExecution.analyzed
    val ran = Promise[QueryExecution]()
    val listener = new QueryExecutionListener {
      private def ours(qe: QueryExecution) = qe.logical.find(_ eq target).isDefined
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (ours(qe)) ran.trySuccess(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        if (ours(qe)) ran.tryFailure(e)
    }
    val listeners = df.sparkSession.listenerManager
    listeners.register(listener)
    try {
      df.write.format("noop").mode("overwrite").save()
      Await.result(ran.future, 60.seconds).executedPlan
    } finally listeners.unregister(listener)
  }
}
