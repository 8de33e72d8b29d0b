package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.GraftFunctions
import graft.plans.TopKStrategy

/** SparkSessionExtensions entry point — the only way graft's functions get
  * into a session:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * }}}
  *
  * Injects the TopKPerGroup planner strategies, the row_number top-k
  * rewrite, and every graft native function (GraftFunctions.builders) so
  * they are available from SQL text as well as the Column API. Every op
  * that calls a graft function needs a session built with these extensions;
  * `GraftSessions.local` sets them.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.TopKRankedStrategy)
    ext.injectOptimizerRule(_ => graft.plans.RowNumberTopKRewrite)
    GraftFunctions.builders.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name), build))
    }
  }
}
