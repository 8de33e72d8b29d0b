package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.functions.GraftFunctions
import graft.plans.TopKStrategy

/** SparkSessionExtensions entry point — the production registration path:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions …
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * }}}
  *
  * Injects the TopKPerGroup planner strategies, the row_number top-k
  * rewrite, and every graft native function (GraftFunctions.builders) so
  * they are available from SQL text as well as the Column API.
  * (GraftFunctions.register remains the per-session fallback used inside the
  * ops so library calls work on vanilla sessions too; on a session built
  * with these extensions it finds every function present and does nothing.)
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
