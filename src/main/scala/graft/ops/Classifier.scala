package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.sources.IO.readParquet

/** fastText-style linear quality/domain classifier over hashed bag-of-words
  * features (Joulin et al. 2016, "Bag of Tricks for Efficient Text
  * Classification") — the standard curation move of the GPT-3/LLaMA-lineage
  * pipelines: train a cheap linear model to separate a curated reference set
  * from raw crawl, then score EVERY document map-side and keep by threshold.
  * Here the label is the stopword-density quality rule
  * ([[stopDensityLabel]]: en-stopword count ≥ 6% of tokens — the CCNet-style
  * weak-supervision move of distilling a heuristic filter into a fast
  * scorer), which a linear model over normalized tf REPRESENTS exactly
  * (margin = Σ_stopword tf − θ), so the train→score→evaluate loop is
  * closed-form on the gate corpus. (The corpus's lang column is NOT usable
  * as a label: the synthetic languages share one vocabulary, so no
  * bag-of-words model can separate them — measured 0.61 accuracy, the
  * majority-class rate.)
  *
  * Distributed shape, by stage:
  *   - FEATURES (one pass, one vocabulary-bounded shuffle): explode tokens,
  *     hash each to pmod(murmur3(word), D) with Spark's codegen'd `hash`,
  *     per-doc count → L1-normalized tf value. The relation is
  *     (doc_id, y, idx, v) — ~distinct-terms-per-doc rows.
  *   - TRAINING (full-batch logistic regression, iterative): each iteration
  *     is ONE shuffle-free pass over the cached per-doc feature arrays —
  *     mapPartitions computes a dense (D+1) gradient partial per partition
  *     (the MR combiner story: partials are model-sized, never data-sized),
  *     the driver reduces partials in partition-id order (deterministic
  *     float sums) and steps the weights. Model state is D+1 doubles,
  *     broadcast per iteration — the same bounded-model-state pattern as
  *     IVF centroid training (SimilarityOps) and BPE merge learning.
  *     At 100 TB you train on a deterministic sample (pass a sampled docs
  *     DF; a linear probe saturates long before corpus scale) and score the
  *     full corpus — scoring, not training, is the corpus-sized stage.
  *   - SCORING: map-side native expression [[graft.functions.HashedLinearMargin]]
  *     (weights ship inside the plan — scan-speed, zero shuffle), or the
  *     declarative join twin [[scoreJoined]] over the feature relation
  *     (weights broadcast by stats), which is what the DuckDB oracle replays
  *     from the dumped weight/feature relations.
  */
object Classifier {

  /** The weak-supervision label: 1 iff en-stopword count ≥ minRatio × token
    * count (and the doc is non-empty). Kept in MULTIPLY form (cnt ≥ r·n, not
    * cnt/n ≥ r) so the DuckDB oracle's double arithmetic is bit-identical —
    * a division would round differently at the threshold boundary. */
  def stopDensityLabel(minRatio: Double = 0.06,
                       words: Seq[String] = Seq("the", "a", "of", "and",
                         "to", "in", "is", "it")): org.apache.spark.sql.Column = {
    val t = TextOps.tokens(col("text"))
    val sw = typedlit(words)
    (size(filter(t, x => array_contains(sw, x))).cast("double") >=
      lit(minRatio) * size(t).cast("double") && size(t) > 0).cast("int")
  }

  /** Hashed-feature relation: (doc_id, y, idx, v) with idx = pmod(hash(word), D)
    * and v = count/n_tokens. `label` must be a 0/1 integer column expression.
    *
    * The label/length relation is built in its OWN per-doc projection and
    * joined back on doc_id, never placed in the exploded-token stage: with
    * everything in one select, Catalyst hoists the label expression above
    * the explode and evaluates it per TOKEN row — for an interpreted-lambda
    * label (like [[stopDensityLabel]]) that was the whole query's cost
    * (measured 12 s vs ~2 s at sf0.1; the NOTES_PERF lambda-trap lesson in
    * groupBy-key form). Cost shape: one explode+groupBy shuffle of the
    * narrow (doc_id, idx, cnt) rows + an equi-join against the per-doc
    * label relation (broadcast by stats at toy SF, SMJ at scale). */
  def hashedFeatures(docs: DataFrame, label: org.apache.spark.sql.Column,
                     d: Int): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val lab = docs.select(col("doc_id"), label.cast("int").as("y"),
      size(toks).as("n_tokens"))
    docs.select(col("doc_id"), explode(toks).as("word"))
      .groupBy(col("doc_id"), pmod(hash(col("word")), lit(d)).as("idx"))
      .agg(count(lit(1)).as("cnt"))
      .join(lab, Seq("doc_id"))
      .select(col("doc_id"), col("y"), col("idx"),
        (col("cnt") / col("n_tokens")).as("v"))
  }

  /** Full-batch gradient-descent logistic regression over the feature
    * relation, preconditioned by per-feature standardization (the raw tf
    * features are ~1/doc-length scale and heavily correlated — plain GD on
    * them is so ill-conditioned it does not move off the majority class in
    * any practical iteration count; GD in (x−μ)/σ space reaches the optimum
    * in a few dozen steps). The standardization is FOLDED INTO the
    * optimizer, never materialized: executors see the sparse raw features
    * (margins via u = w/σ and a scalar shift; the dense correction to the
    * gradient is μ·Σr, a scalar broadcast back per feature on the driver),
    * so per-doc work stays O(nnz). Returns D+1 weights IN RAW FEATURE SPACE
    * (last = bias) — scoring and the DuckDB oracle never see the
    * preconditioner. Deterministic within a run: per-doc feature arrays are
    * idx-sorted, per-partition accumulation is sequential, and the driver
    * reduces partials in partition-id order. */
  def trainLogReg(feats: DataFrame, d: Int, iters: Int = 30,
                  lr: Double = 20.0, l2: Double = 1e-6): Array[Double] = {
    val spark = feats.sparkSession
    import spark.implicits._
    // The per-doc training set lives as a persisted RDD of PLAIN JVM arrays,
    // not a cached Dataset: each of the `iters` passes over a cached Dataset
    // would re-run Catalyst planning AND re-decode every Tungsten row into
    // fresh arrays — measured as the dominant cost of the whole query (the
    // MLlib convention of .rdd + persist for iterative optimizers exists for
    // exactly this reason). Decode happens once, at persist time; iterations
    // are then pure task dispatch + the arithmetic. Also coalesced to ~8k
    // docs/task: iteration cost is job latency × tasks, not data (a training
    // sample is bounded by design — class doc).
    val ds0 = feats
      .groupBy(col("doc_id"), col("y"))
      .agg(sort_array(collect_list(struct(col("idx"), col("v")))).as("fv"))
      .select(col("y").cast("double").as("y"),
        expr("transform(fv, p -> p.idx)").as("idx"),
        expr("transform(fv, p -> p.v)").as("v"))
      .as[(Double, Array[Int], Array[Double])]
    val rdd0 = ds0.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    val n = rdd0.count().toDouble.max(1.0)
    val parts = math.max(1, math.min(rdd0.getNumPartitions, math.ceil(n / 8192.0).toInt))
    // narrow coalesce over the cached blocks — no shuffle, no re-cache
    val dsT = if (parts < rdd0.getNumPartitions) rdd0.coalesce(parts) else rdd0
    // per-feature μ, σ in one vocabulary-bounded agg (absent slots: μ=0 σ=1)
    val mu = new Array[Double](d)
    val sd = new Array[Double](d); java.util.Arrays.fill(sd, 1.0)
    feats.groupBy(col("idx"))
      .agg(sum(col("v")).as("s1"), sum(col("v") * col("v")).as("s2"))
      .collect().foreach { r =>
        val j = r.getInt(0)
        val m = r.getDouble(1) / n
        mu(j) = m
        sd(j) = math.sqrt(math.max(r.getDouble(2) / n - m * m, 1e-12))
      }
    val w = new Array[Double](d) // standardized space
    var bias = 0.0
    var it = 0
    while (it < iters) {
      // executor view: margin = Σ u_j x_j − shift + bias with u = w/σ,
      // shift = Σ w_j μ_j / σ_j  (the centering term, a scalar)
      val u = Array.tabulate(d)(j => w(j) / sd(j))
      var shift = 0.0
      var j = 0
      while (j < d) { shift += w(j) * mu(j) / sd(j); j += 1 }
      val bu = spark.sparkContext.broadcast(u)
      val b0 = bias - shift
      val partials = dsT.mapPartitions { rows =>
        val uv = bu.value
        val g = new Array[Double](uv.length) // sparse Σ r·x part
        var sumR = 0.0
        var loss = 0.0
        rows.foreach { case (y, idx, v) =>
          var m = b0
          var i = 0
          while (i < idx.length) { m += uv(idx(i)) * v(i); i += 1 }
          val p = 1.0 / (1.0 + math.exp(-m))
          val r = p - y
          i = 0
          while (i < idx.length) { g(idx(i)) += r * v(i); i += 1 }
          sumR += r
          loss += (if (y > 0.5) -math.log(math.max(p, 1e-15))
                   else -math.log(math.max(1.0 - p, 1e-15)))
        }
        Iterator((TaskContext.getPartitionId(), g, sumR, loss))
      }.collect().sortBy(_._1)
      bu.destroy()
      val g = new Array[Double](d)
      var sumR = 0.0
      partials.foreach { case (_, gp, rp, _) =>
        var k = 0
        while (k < d) { g(k) += gp(k); k += 1 }
        sumR += rp
      }
      j = 0
      while (j < d) {
        // standardized-space gradient: ((Σ r·x)_j − μ_j Σr) / σ_j / n
        w(j) -= lr * ((g(j) - mu(j) * sumR) / sd(j) / n + l2 * w(j))
        j += 1
      }
      bias -= lr * sumR / n // no l2 on the bias
      it += 1
    }
    rdd0.unpersist()
    // export in raw feature space: w_raw = w/σ, b_raw = bias − Σ w μ/σ
    val out = new Array[Double](d + 1)
    var shift = 0.0
    var j2 = 0
    while (j2 < d) {
      out(j2) = w(j2) / sd(j2)
      shift += w(j2) * mu(j2) / sd(j2)
      j2 += 1
    }
    out(d) = bias - shift
    out
  }

  /** Declarative scoring twin: feature relation ⋈ weight relation (broadcast
    * by stats — D rows max), per-doc sum. This is the arithmetic the DuckDB
    * oracle replays over the dumped relations; [[scoreMapSide]] is the
    * production path. `docsBase` supplies every doc_id (docs with no
    * features score the bare bias). */
  def scoreJoined(docsBase: DataFrame, feats: DataFrame, d: Int,
                  w: Array[Double]): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val bias = w(d)
    val wDf = w.iterator.take(d).zipWithIndex
      .collect { case (wt, i) if wt != 0.0 => (i, wt) }
      .toSeq.toDF("idx", "w")
    val dots = feats.join(wDf, Seq("idx"))
      .groupBy(col("doc_id")).agg(sum(col("v") * col("w")).as("dot"))
    docsBase.join(dots, Seq("doc_id"), "left")
      .select(col("doc_id"), col("y"),
        round(coalesce(col("dot"), lit(0.0)) + lit(bias), 5).as("margin"),
        when(coalesce(col("dot"), lit(0.0)) + lit(bias) > 0, 1).otherwise(0)
          .cast("int").as("pred"))
  }

  /** Production scoring: one Scan+Project, weights inside the plan. */
  def scoreMapSide(docs: DataFrame, label: org.apache.spark.sql.Column,
                   w: Array[Double]): DataFrame = {
    val margin = graft.functions.GraftFunctions.hashedLinearMargin(col("text"), w)
    docs.select(col("doc_id"), label.cast("int").as("y"),
      round(margin, 5).as("margin"),
      when(margin > 0, 1).otherwise(0).cast("int").as("pred"))
  }

  /** The gate query: train against the stopword-density quality rule, score
    * every document. Dump mode (Verify) materializes the weight and feature
    * relations and scores via the declarative join so the DuckDB oracle
    * replays identical arithmetic; otherwise scoring is the map-side
    * expression. */
  def qualityClassifier(spark: SparkSession, docs: DataFrame,
                        d: Int = 1 << 15, iters: Int = 30,
                        dumpDirs: Option[(String, String)] = None): DataFrame = {
    val label = stopDensityLabel()
    val feats = hashedFeatures(docs, label, d)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val w = trainLogReg(feats, d, iters)
    val out = dumpDirs match {
      case Some((wDir, fDir)) =>
        val spark2 = docs.sparkSession
        import spark2.implicits._
        val wRows = w.iterator.take(d).zipWithIndex
          .collect { case (wt, i) if wt != 0.0 => (i, wt) }.toSeq :+ (-1, w(d))
        wRows.toDF("idx", "w").coalesce(1)
          .write.mode("overwrite").parquet(wDir)
        feats.select(col("doc_id"), col("idx"), col("v"))
          .coalesce(1).write.mode("overwrite").parquet(fDir)
        scoreJoined(docs.select(col("doc_id"), label.as("y")),
          readParquet(spark, fDir), d, w)
      case None =>
        scoreMapSide(docs, label, w)
    }
    feats.unpersist()
    out
  }
}
