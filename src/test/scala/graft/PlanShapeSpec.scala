package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, GenerateExec, SparkPlan,
  UnaryExecNode}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.functions.{MinHashSignature, ShingleHashes}
import graft.tools.ExplainAudit

/** Plan contracts — the claims NOTES_PERF makes about plan quality, pinned
  * as assertions so a refactor that silently loses pushdown, broadcast, a
  * partial aggregate, or the custom exec fails CI instead of only showing
  * up in the bench. */
class PlanShapeSpec extends SparkSpecBase {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q6: every predicate reaches the parquet scan; schema pruned to needed columns") {
    val plan = formatted(SparkEntry.queries("q6_forecast_revenue")(spark, sfDir))
    assert(plan.contains("PushedFilters") && plan.contains("l_shipdate") &&
      plan.contains("GreaterThanOrEqual") && plan.contains("LessThan"),
      s"q6 predicates must push into the scan:\n$plan")
    assert(!plan.contains("l_returnflag") && !plan.contains("l_partkey"),
      "q6 must not read columns it does not use")
  }

  test("q1: aggregation is partial before the exchange (map-side combine)") {
    val plan = formatted(SparkEntry.queries("q1_pricing_summary")(spark, sfDir))
    assert(plan.contains("partial_sum") || plan.contains("Functions [partial"),
      s"q1 must partial-aggregate before shuffling:\n$plan")
  }

  test("mapside_join: dimension broadcast, fact side never shuffled for the join") {
    val plan = formatted(SparkEntry.queries("mapside_join")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), s"dim must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"fact must not sort-merge for a tiny dim:\n$plan")
  }

  test("text analysis ops stay map-side: results are never shuffled; the " +
    "only Exchange permitted is the r13 §2.5 scan-spread (a round-robin " +
    "repartition of the RAW rows directly above the scan, armed only when " +
    "the scan is narrower than the session's cores)") {
    Seq("lang_id", "quality_score", "token_count", "doc_fingerprint", "pii_scrub")
      .foreach { name =>
        val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
        val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(plan).length
        assert(exchanges <= 1, s"$name must not shuffle results:\n$plan")
        if (exchanges == 1)
          assert(plan.contains("RoundRobinPartitioning"),
            s"$name: the only allowed Exchange is the keyless scan-spread:\n$plan")
      }
  }

  test("window top-k queries plan as the custom bounded-heap exec") {
    Seq("window_topk_per_group", "tfidf_top_terms").foreach { name =>
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(plan.contains("TopKRanked"), s"$name must hit TopKRankedExec:\n$plan")
    }
  }

  test("embedding near-dup and LSH ANN never plan a nested-loop join") {
    Seq("embedding_neardup", "ann_lsh_topk").foreach { name =>
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
        s"$name must stay equi-join bucketed:\n$plan")
    }
  }

  test("semanticDedupAnn candidate stage is an equi-join on bucket — never " +
    "a nested loop (the pair graph feeding CC is checkpointed, so the plan " +
    "to audit is the OPERATOR's candidate/verify stage, pre-CC)") {
    val emb = Tables.embeddings(spark, sfDir)
    val buckets = graft.ops.SimilarityOps.lshIndexRelation(emb,
      bits = graft.ops.SimilarityOps.selfJoinBits(emb.count()))
    val pairs = graft.ops.SimilarityOps.semAnnCandidatePairs(emb, buckets, tau = 0.4, maxBucket = 0)
    val plan = formatted(pairs)
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"operator candidate/verify stage must stay equi-join bucketed:\n$plan")
  }

  test("q19: per-side bounds of the OR-of-ANDs predicate push into BOTH scans") {
    val plan = formatted(SparkEntry.queries("q19_discounted_revenue")(spark, sfDir))
    assert(plan.contains("l_quantity") && plan.contains("p_brand"),
      s"q19 disjunction bounds must reach the scans:\n$plan")
    assert("PushedFilters: \\[[^\\]]*Or".r.findFirstIn(plan).isDefined,
      s"q19 must push an Or filter:\n$plan")
  }

  /** Every operator of a physical plan, through AQE wrappers and query
    * stages, stopping at cached-relation scans. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => operators(s.plan)
    case _ => p.children.flatMap(operators)
  })

  /** Every cached relation a plan scans, including those scanned by the
    * plans of other cached relations. */
  private def cachedRelations(p: SparkPlan): Seq[InMemoryRelation] =
    operators(p).collect { case i: InMemoryTableScanExec => i.relation }
      .flatMap(r => r +: cachedRelations(r.cachedPlan))

  // These run the query first: AQE picks some joins from runtime statistics,
  // so only the final plan shows them.
  test("dedup_ngram_jaccard: the posting-list self-join is partitioned in the " +
    "final adaptive plan, and no exploded relation is broadcast") {
    val plan = ExplainAudit.finalPlan(SparkEntry.queries("dedup_ngram_jaccard")(spark, sfDir))
    val ops = operators(plan)
    def onPostingKey(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.references.exists(_.name == "h"))
    val postingJoins = ops.collect {
      case j: ShuffledHashJoinExec if onPostingKey(j.leftKeys) => j
      case j: SortMergeJoinExec if onPostingKey(j.leftKeys) => j
      case j: BroadcastHashJoinExec if onPostingKey(j.leftKeys) => j
    }
    assert(postingJoins.nonEmpty, s"no posting-list join found:\n$plan")
    assert(postingJoins.forall(j => !j.isInstanceOf[BroadcastHashJoinExec]),
      s"the posting-list join must be partitioned:\n$plan")
    val broadcastExplodes = ops.collect { case b: BroadcastExchangeExec => b }
      .filter(b => operators(b.child).exists(_.isInstanceOf[GenerateExec]))
    assert(broadcastExplodes.isEmpty, s"an exploded relation is broadcast:\n$plan")
    spark.catalog.clearCache()
  }

  test("shingle family: the cached shingle relation evaluates shingles() in " +
    "exactly one operator") {
    Seq("dedup_ngram_jaccard", "dedup_minhash_lsh").foreach { name =>
      val plan = ExplainAudit.finalPlan(SparkEntry.queries(name)(spark, sfDir))
      // a file scan's data filters are pushdown candidates, not evaluated per row
      def shingling(r: InMemoryRelation) = operators(r.cachedPlan)
        .filterNot(_.isInstanceOf[FileSourceScanExec])
        .count(_.expressions.exists(_.exists(_.isInstanceOf[ShingleHashes])))
      val counts = cachedRelations(plan).map(shingling).filter(_ > 0)
      assert(counts.nonEmpty, s"$name: no cached relation shingles:\n$plan")
      assert(counts.forall(_ == 1),
        s"$name: shingles() evaluated in ${counts.mkString(", ")} operators:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("near-dup signatures: the shingle persist holds no lambda, and " +
    "dedup_minhash_lsh evaluates minhash_sig in exactly one operator") {
    import org.apache.spark.sql.catalyst.expressions.LambdaFunction
    Seq("dedup_ngram_jaccard" -> 0, "dedup_minhash_lsh" -> 1).foreach { case (name, sigs) =>
      val plan = ExplainAudit.finalPlan(SparkEntry.queries(name)(spark, sfDir))
      // one plan per cached relation, however many scans read it
      val cached = cachedRelations(plan).groupBy(_.cacheBuilder).values.map(_.head.cachedPlan).toSeq
      def evaluating(p: SparkPlan, cls: Class[_]) = operators(p)
        .filterNot(_.isInstanceOf[FileSourceScanExec])
        .filter(_.expressions.exists(_.exists(cls.isInstance)))
      val shingling = cached.filter(evaluating(_, classOf[ShingleHashes]).nonEmpty)
      assert(shingling.nonEmpty, s"$name: no cached relation shingles:\n$plan")
      assert(shingling.forall(evaluating(_, classOf[LambdaFunction]).isEmpty),
        s"$name: a lambda runs under the shingle persist:\n$plan")
      val signing = (plan +: cached).flatMap(evaluating(_, classOf[MinHashSignature]))
      assert(signing.size == sigs,
        s"$name: minhash_sig evaluated in ${signing.size} operators, want $sigs:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("near-dup verify: no broadcast carries an exploded relation or a shingle-hash " +
    "array, and the doc-id joins read the shingle relation without an exchange") {
    // a child's path to a cached scan of the shingle relation (one with an
    // hv column) through unary operators; true when a shuffle lies on it
    def shuffledShingles(p: SparkPlan, shuffled: Boolean): Boolean = p match {
      case i: InMemoryTableScanExec => shuffled && i.relation.output.exists(_.name == "hv")
      case s: QueryStageExec => shuffledShingles(s.plan, shuffled)
      case e: ShuffleExchangeLike => shuffledShingles(e.child, shuffled = true)
      case u: UnaryExecNode => shuffledShingles(u.child, shuffled)
      case _ => false
    }
    def onDocId(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.exists(_.references.exists(a => Set("a_id", "b_id").contains(a.name)))
    Seq("dedup_minhash_lsh", "dedup_jaccard_ppjoin", "dedup_cross_minhash").foreach { name =>
      val plan = ExplainAudit.finalPlan(SparkEntry.queries(name)(spark, sfDir))
      val ops = operators(plan)
      val broadcasts = ops.collect { case b: BroadcastExchangeExec => b }
      val explodes = broadcasts.filter(b => operators(b.child).exists(_.isInstanceOf[GenerateExec]))
      assert(explodes.isEmpty, s"$name: an exploded relation is broadcast:\n$plan")
      val arrays = broadcasts.filter(_.output.exists(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }))
      assert(arrays.isEmpty, s"$name: a shingle-hash array is broadcast:\n$plan")
      val docIdJoins: Seq[SparkPlan] = ops.collect {
        case j: ShuffledHashJoinExec if onDocId(j.leftKeys) => j
        case j: BroadcastHashJoinExec if onDocId(j.leftKeys) => j
        case j: SortMergeJoinExec if onDocId(j.leftKeys) => j
      }
      assert(docIdJoins.nonEmpty, s"$name: no doc-id join found:\n$plan")
      val shuffling = docIdJoins.filter(_.children.exists(shuffledShingles(_, shuffled = false)))
      assert(shuffling.isEmpty, s"$name: a doc-id join shuffles the shingle relation:\n$plan")
      spark.catalog.clearCache()
    }
  }
}
