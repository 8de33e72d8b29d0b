package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query of the contract, declared once.
  *
  * `build` takes (spark, sfDir) and is the query Bench, perfbench,
  * ExplainAudit and the specs run. `oracle` returns its DuckDB SQL; it is a
  * thunk, so no oracle text is built until Verify writes oracle_sql.json.
  * Column names and rounding are aligned on both sides: the compare
  * (scripts/check.py) sorts columns by name and hashes values.
  *
  * `verify`, when set, replaces `build` under Verify. It materializes an
  * intermediate relation (fingerprints, registers, buckets, a trained
  * model) under a dump dir only this entry and its oracle read, and
  * recomputes the result from it, so DuckDB can replay the downstream
  * stages over the identical relation. `planMust` names a node the
  * executed plan of the query Verify runs must contain. */
final case class QuerySpec(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: () => String,
    verify: Option[(SparkSession, String) => DataFrame] = None,
    planMust: Option[String] = None) {

  /** Fails when `df`'s executed plan lacks the `planMust` node. */
  def checkPlan(df: DataFrame): Unit = planMust.foreach { node =>
    require(df.queryExecution.executedPlan.toString.contains(node),
      s"$name: no $node in the executed plan")
  }
}

object QuerySpec {

  /** Every query, in family order; names are unique (ContractSpec). */
  lazy val all: Seq[QuerySpec] = AnalyticsQueries.all ++ MapReduceQueries.all ++
    DedupQueries.all ++ TextQueries.all ++ EmbeddingQueries.all ++ MediaQueries.all

  /** Base dir of the files queries write. Env-overridable
    * (SPARK_GRAFT_DUMP_BASE) so two concurrent runs don't clobber each
    * other's dumps; a query and its oracle read the same path within one
    * process. */
  private val DumpBase = sys.env.getOrElse("SPARK_GRAFT_DUMP_BASE", "/tmp")

  private[queries] def dumpDir(leaf: String): String = s"$DumpBase/$leaf"
}
