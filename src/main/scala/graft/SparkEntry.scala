package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.AggOps
import graft.queries.QuerySpec

/** The query contract — see SURVEY.md §2 (inventory) and §7 (plan).
  *
  * Every implemented operator is a named query taking (spark, sfDir), with
  * a DuckDB oracle twin. Each is declared once, as a [[QuerySpec]] in a
  * family object under `graft.queries`; `queries` and `oracleSql` are two
  * views of that one list. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    AggOps.q1PricingSummary(Tables.lineitem(spark, dir))
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    QuerySpec.all.map(q => q.name -> q.build).toMap

  /** Builds every oracle's SQL text on each call. */
  def oracleSql: Map[String, String] = QuerySpec.all.map(q => q.name -> q.oracle()).toMap
}
