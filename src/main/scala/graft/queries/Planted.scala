package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions
import graft.ops._

/** A planted rule: a check of a query's written output against the
  * closed-form ground truth ([[CorpusGen.plantedPairs]]: a_id, b_id, kind)
  * that `tools.GenCorpus` writes next to `table`. The rules check recall of
  * every planted pair the query's own measure qualifies, and soundness of
  * every emitted value recomputed per pair from the corpus. Both are linear
  * in the planted set and the output, so they hold at corpus sizes where an
  * all-pairs oracle is quadratic. Declaring a rule builds nothing: Verify
  * runs `check` on the parquet it has just written, and only when the truth
  * of `table` is in the dir (the TeraGen → TeraSort → TeraValidate split:
  * GenCorpus writes, Bench times, Verify validates). */
final case class Planted(table: String, check: (Planted.Corpus, DataFrame) => Planted.Verdict)

object Planted {

  /** The corpus dir a rule reads, with the truth of the rule's table. */
  final case class Corpus(spark: SparkSession, dir: String, truth: DataFrame) {
    def docs: DataFrame = Tables.documents(spark, dir)
    def emb: DataFrame = Tables.embeddings(spark, dir)
  }

  final case class Verdict(ok: Boolean, detail: String) {
    override def toString: String = (if (ok) "PASS: " else "FAIL: ") + detail
  }

  private def verdict(ok: Boolean)(pass: => String, fail: => String): Verdict =
    Verdict(ok, if (ok) pass else fail)

  private def onDocs(check: (Corpus, DataFrame) => Verdict) = Planted("documents", check)
  private def onEmb(check: (Corpus, DataFrame) => Verdict) = Planted("embeddings", check)

  /** `pairs` with `rel`'s value `v` attached to both ends, as va and vb
    * (null for an end `rel` lacks when `how` is "left"). */
  private def withBoth(pairs: DataFrame, rel: DataFrame, id: String, v: String,
                       a: String = "a_id", b: String = "b_id", how: String = "inner"): DataFrame =
    pairs.join(rel.select(col(id).as(a), col(v).as("va")), Seq(a), how)
      .join(rel.select(col(id).as(b), col(v).as("vb")), Seq(b), how)

  private def persisted[A](df: DataFrame)(f: DataFrame => A): A = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    try f(p) finally p.unpersist()
  }

  private def exactIds(truth: DataFrame): DataFrame = truth.filter(col("kind") === "exact")
    .select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()

  // ---- documents ---------------------------------------------------------

  /** (doc_id, v = sorted 64-bit hashes of the distinct word 3-shingles). */
  private def shingleHashes(docs: DataFrame): DataFrame = docs.select(col("doc_id"),
    array_sort(transform(DedupOps.shinglesFromTokens(TextOps.tokens(col("text"))),
      x => xxhash64(x))).as("v"))

  private def jaccard: Column = {
    val inter = GraftFunctions.sortedIntersectCount(col("va"), col("vb"))
    round(inter / (size(col("va")) + size(col("vb")) - inter), 6)
  }

  /** dedup_exact: one group of 2 copies per planted exact pair, every other
    * document a group of 1. */
  val exactGroups: Planted = onDocs { (c, out) =>
    val n = c.docs.count()
    val groups = c.truth.filter(col("kind") === "exact").count()
    val dup = out.filter(col("n_copies") === 2).count()
    val single = out.filter(col("n_copies") === 1).count()
    verdict(dup == groups && single == n - 2 * groups)(
      s"$dup dup-groups == planted, $single singletons == $n - 2x$groups",
      s"$dup dup-groups (want $groups), $single singletons (want ${n - 2 * groups})")
  }

  /** Pairs (a_id, b_id, jacc) at Jaccard threshold `tau`: every planted pair
    * whose shingle Jaccard clears tau is emitted, and every emitted jacc
    * equals its recomputation and clears tau. */
  def jaccardPairs(tau: Double): Planted = onDocs { (c, out) =>
    persisted(shingleHashes(c.docs)) { hv =>
      val qualifying = withBoth(c.truth, hv, "doc_id", "v").filter(jaccard >= tau)
      val missed = qualifying.join(out, Seq("a_id", "b_id"), "left_anti").count()
      val unsound = withBoth(out, hv, "doc_id", "v")
        .filter(jaccard < tau || jaccard =!= col("jacc")).count()
      val (rows, q) = (out.count(), qualifying.count())
      verdict(missed == 0 && unsound == 0)(
        s"$rows pairs, all $q qualifying planted found, all recomputed J match",
        s"missed=$missed unsound=$unsound (out=$rows plantedQ=$q)")
    }
  }

  /** Cross-corpus pairs (corpus_id, ref_id, jacc), `isRef` marking the
    * reference side: every planted pair that straddles the sides and clears
    * tau is emitted, every jacc is sound, and no pair has an end on the
    * wrong side (so a planted pair within one side never appears). */
  def crossPairs(tau: Double, isRef: Column): Planted = onDocs { (c, out) =>
    persisted(shingleHashes(c.docs)) { hv =>
      val ref = c.docs.select(col("doc_id"), isRef.as("ref"))
      val qualifying = withBoth(straddlers(c, isRef), hv, "doc_id", "v", "corpus_id", "ref_id")
        .filter(jaccard >= tau)
      val missed = qualifying.join(out, Seq("corpus_id", "ref_id"), "left_anti").count()
      val unsound = withBoth(out, hv, "doc_id", "v", "corpus_id", "ref_id")
        .filter(jaccard < tau || jaccard =!= col("jacc")).count()
      val sideLeak = withBoth(out, ref, "doc_id", "ref", "corpus_id", "ref_id")
        .filter(col("va") || !col("vb")).count()
      val (rows, q) = (out.count(), qualifying.count())
      verdict(missed == 0 && unsound == 0 && sideLeak == 0)(
        s"$rows pairs, all $q qualifying planted straddlers found, sound, sides clean",
        s"missed=$missed unsound=$unsound sideLeak=$sideLeak (out=$rows plantedQ=$q)")
    }
  }

  /** Planted pairs with exactly one end on the `isRef` side, as
    * (corpus_id, ref_id). */
  private def straddlers(c: Corpus, isRef: Column): DataFrame =
    withBoth(c.truth, c.docs.select(col("doc_id"), isRef.as("ref")), "doc_id", "ref")
      .filter(col("va") =!= col("vb"))
      .select(when(col("va"), col("b_id")).otherwise(col("a_id")).as("corpus_id"),
        when(col("va"), col("a_id")).otherwise(col("b_id")).as("ref_id"))

  /** A survivor set (doc_id) equals `kept` minus `drops`, id for id. */
  private def survivors(out: DataFrame, kept: DataFrame, drops: DataFrame): Verdict = {
    val want = kept.select(col("doc_id")).join(drops, Seq("doc_id"), "left_anti")
    val extra = out.select(col("doc_id")).exceptAll(want).count()
    val lost = want.exceptAll(out.select(col("doc_id"))).count()
    val nDrops = drops.count()
    verdict(extra == 0 && lost == 0)(
      s"${out.count()} survivors == side minus the $nDrops planted drops, id for id",
      s"$extra survivors that must drop, $lost dropped that must survive ($nDrops planted drops)")
  }

  /** Decontamination survivors (doc_id): the corpus side (not `isRef`)
    * minus the corpus end of every planted straddler clearing tau. */
  def decontaminated(tau: Double, isRef: Column): Planted = onDocs { (c, out) =>
    persisted(shingleHashes(c.docs)) { hv =>
      val drops = withBoth(straddlers(c, isRef), hv, "doc_id", "v", "corpus_id", "ref_id")
        .filter(jaccard >= tau).select(col("corpus_id").as("doc_id")).distinct()
      survivors(out, c.docs.filter(!isRef), drops)
    }
  }

  /** Incremental dedup survivors (doc_id) of the `isNew` batch against the
    * rest: the batch minus, for every planted pair clearing tau, its larger
    * id when both ends are new, else its new end. */
  def incremental(tau: Double, isNew: Column): Planted = onDocs { (c, out) =>
    persisted(shingleHashes(c.docs)) { hv =>
      val side = c.docs.select(col("doc_id"), isNew.as("nw"))
      val drops = withBoth(c.truth, hv, "doc_id", "v").filter(jaccard >= tau)
        .select(col("a_id"), col("b_id"))
        .join(side.select(col("doc_id").as("a_id"), col("nw").as("na")), "a_id")
        .join(side.select(col("doc_id").as("b_id"), col("nw").as("nb")), "b_id")
        .filter(col("na") || col("nb"))
        .select(when(col("nb"), col("b_id")).otherwise(col("a_id")).as("doc_id")).distinct()
      survivors(out, c.docs.filter(isNew), drops)
    }
  }

  /** Pairs (a_id, b_id, hamming) within `radius` of the fingerprints `fps`
    * makes: every planted pair within the radius (every exact copy among
    * them) is emitted, and every hamming equals its recomputation. */
  def hammingPairs(fps: DataFrame => DataFrame, radius: Int): Planted = onDocs { (c, out) =>
    persisted(fps(c.docs)) { fp =>
      val h = GraftFunctions.hamming64(col("va"), col("vb"))
      val within = withBoth(c.truth, fp, "doc_id", "fp").filter(h <= radius)
      val missed = within.join(out, Seq("a_id", "b_id"), "left_anti").count()
      val exactMissed = c.truth.filter(col("kind") === "exact")
        .join(out, Seq("a_id", "b_id"), "left_anti").count()
      val unsound = withBoth(out, fp, "doc_id", "fp")
        .filter(h =!= col("hamming") || col("hamming") > radius).count()
      val (rows, w) = (out.count(), within.count())
      verdict(missed == 0 && exactMissed == 0 && unsound == 0)(
        s"$rows pairs, all $w planted-within-radius found (exact planted all at hamming 0), " +
          "hammings recomputed",
        s"missed=$missed exactMissed=$exactMissed unsound=$unsound")
    }
  }

  /** Prefix edit-distance pairs (a_id, b_id, dist): planted copies keep the
    * first `prefixLen` characters, so every planted pair is emitted; every
    * dist equals its bounded recomputation. */
  def levenshteinPairs(maxDist: Int, prefixLen: Int): Planted = onDocs { (c, out) =>
    val missed = c.truth.join(out, Seq("a_id", "b_id"), "left_anti").count()
    val pfx = c.docs.select(col("doc_id"), substring(col("text"), 1, prefixLen).as("p"))
    val unsound = withBoth(out, pfx, "doc_id", "p")
      .filter(GraftFunctions.boundedLevenshtein(col("va"), col("vb"), maxDist) =!= col("dist"))
      .count()
    verdict(missed == 0 && unsound == 0)(
      s"${out.count()} pairs, planted recall 1.0, dists recomputed",
      s"missed=$missed unsound=$unsound")
  }

  /** Duplicate spans (doc_id, span_start, span_end) at window `winLen`: a
    * planted exact copy is one full-document span; a near copy that shares a
    * window with its partner carries at least one span. */
  def substringSpans(winLen: Int): Planted = onDocs { (c, out) =>
    val lens = c.docs.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val fullSpan = out.join(lens, "doc_id")
      .filter(col("span_start") === 1 && col("span_end") === col("n_chars"))
      .select(col("doc_id")).distinct()
    val exact = exactIds(c.truth)
    val exactMissed = exact.join(fullSpan, Seq("doc_id"), "left_anti").count()
    def windows(t: Column): Column =
      transform(sequence(lit(1), greatest(length(t) - lit(winLen - 1), lit(1))),
        p => t.substr(p, lit(winLen)))
    val qual = withBoth(c.truth.filter(col("kind") === "near"), c.docs, "doc_id", "text")
      .filter(length(col("va")) >= winLen && length(col("vb")) >= winLen &&
        arrays_overlap(windows(col("va")), windows(col("vb"))))
      .select(explode(array(col("a_id"), col("b_id"))).as("doc_id")).distinct()
    val nearMissed = qual.join(out.select(col("doc_id")).distinct(), Seq("doc_id"), "left_anti").count()
    val (nEx, nQual) = (exact.count(), qual.count())
    verdict(exactMissed == 0 && nearMissed == 0)(
      s"${out.count()} spans; all $nEx exact-planted docs have the full-doc span; " +
        s"all $nQual near docs sharing a $winLen-char window carry a span",
      s"exactMissed=$exactMissed nearMissed=$nearMissed")
  }

  /** Paragraph boilerplate removal (doc_id, n_paras, n_dropped, text_clean):
    * every paragraph of a planted exact pair occurs in both copies, so both
    * drop in full. */
  val paragraphFullDrop: Planted = onDocs { (c, out) =>
    val exact = exactIds(c.truth)
    val notFull = out.join(exact, "doc_id")
      .filter(col("n_dropped") =!= col("n_paras") || col("text_clean") =!= "").count()
    val nEx = exact.count()
    verdict(notFull == 0)(
      s"all $nEx planted exact-copy docs fully boilerplate-dropped " +
        s"(${out.filter(col("n_dropped") === col("n_paras")).count()} full-drop docs total)",
      s"$notFull planted exact-copy docs not fully dropped")
  }

  /** Unigram token counts (doc_id, n_tokens, n_unigram_tokens): the pieces
    * of the model trained on the corpus rebuild every document's text
    * without whitespace, and each count lies in [words, characters]. */
  val unigramLossless: Planted = onDocs { (c, out) =>
    val docs = c.docs
    val model = TextAnalysis.trainUnigram(docs)
    val lossy = TextAnalysis.unigramEncode(docs, model)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .filter(concat_ws("", col("unigram_tokens")) =!= regexp_replace(col("text"), "\\s+", ""))
      .count()
    val badBounds = out.join(docs.select(col("doc_id"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("nc")), "doc_id")
      .filter(col("n_unigram_tokens") < col("n_tokens") || col("n_unigram_tokens") > col("nc"))
      .count()
    val (rows, n) = (out.count(), docs.count())
    verdict(lossy == 0 && badBounds == 0 && rows == n)(
      s"${model.size}-piece model, all $rows docs lossless, counts within [words, chars]",
      s"lossy=$lossy badBounds=$badBounds rows=$rows (want $n)")
  }

  // ---- embeddings --------------------------------------------------------

  private def cosine: Column = round(GraftFunctions.cosineSim(col("va"), col("vb")), 5)

  /** Planted pairs whose cosine (round 5) clears tau. */
  private def cosQualifying(c: Corpus, tau: Double): DataFrame =
    withBoth(c.truth, c.emb, "vec_id", "embedding").filter(cosine >= tau)
      .select(col("a_id"), col("b_id"), col("kind"))

  /** Pairs (a_id, b_id, cos) at cosine threshold `tau`: every planted pair
    * clearing tau is emitted, every cos equals its recomputation. */
  def cosinePairs(tau: Double): Planted = onEmb { (c, out) =>
    val qualifying = cosQualifying(c, tau)
    val missed = qualifying.join(out, Seq("a_id", "b_id"), "left_anti").count()
    val unsound = withBoth(out, c.emb, "vec_id", "embedding")
      .filter(cosine =!= col("cos") || col("cos") < tau).count()
    val (rows, q) = (out.count(), qualifying.count())
    verdict(missed == 0 && unsound == 0)(
      s"$rows pairs, all $q qualifying planted found, cosines recomputed",
      s"missed=$missed unsound=$unsound (out=$rows plantedQ=$q)")
  }

  /** SemDedup groups (vec_id, group_id, keep): keep ⇔ the id is its group's
    * minimum, survivors == distinct groups, every planted exact pair clearing
    * tau shares a group, and at least `nearFloor` of the near ones do (a
    * pair with an end missing from the output counts as split). */
  def semanticGroups(tau: Double, nearFloor: Double): Planted = onEmb { (c, out) =>
    val malformed = out.filter(col("group_id") > col("vec_id") ||
      col("keep") =!= (col("vec_id") === col("group_id"))).count()
    val grouped = withBoth(cosQualifying(c, tau), out, "vec_id", "group_id", how = "left")
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(when(col("va") === col("vb"), 1L).otherwise(0L)).as("together"))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getLong(1))).toMap
    val (exTog, exAll) = grouped.getOrElse("exact", (0L, 0L))
    val (nrTog, nrAll) = grouped.getOrElse("near", (0L, 0L))
    val nearRecall = if (nrAll == 0) 1.0 else nrTog.toDouble / nrAll
    val keeps = out.filter(col("keep")).count()
    val groups = out.select(col("group_id")).distinct().count()
    verdict(malformed == 0 && exTog == exAll && nearRecall >= nearFloor && keeps == groups)(
      f"$keeps survivors of ${out.count()}, all $exAll exact planted grouped, " +
        f"near recall $nearRecall%.4f ($nrTog/$nrAll), canonical arithmetic holds",
      f"malformed=$malformed exact=$exTog/$exAll nearRecall=$nearRecall%.4f " +
        s"(floor $nearFloor) keeps=$keeps groups=$groups")
  }

  /** k-means assignments (vec_id, cluster, cos) of a `k`-center model:
    * planted exact twins are identical vectors and share a cluster, and the
    * trained objective (mean assignment cosine) is no worse than its
    * strided init's (Lloyd monotonicity). Near-twin co-clustering is a stat:
    * k against the corpus's cluster centers decides it, not the code. */
  def kmeansTwins(k: Int): Planted = onEmb { (c, out) =>
    val j = withBoth(c.truth, out, "vec_id", "cluster")
    val exBad = j.filter(col("kind") === "exact" && col("va") =!= col("vb")).count()
    val near = j.filter(col("kind") === "near")
    val nearFrac = near.filter(col("va") === col("vb")).count() / math.max(1.0, near.count().toDouble)
    val trained = out.agg(avg("cos")).head().getDouble(0)
    val init = SimilarityOps.assignFromCentroidRelation(c.emb,
        SimilarityOps.kmeansCentroidRelation(c.spark, SimilarityOps.trainKmeans(c.emb, k, iters = 0)))
      .agg(avg("cos")).head().getDouble(0)
    verdict(exBad == 0 && trained >= init - 1e-6)(
      f"exact twins co-cluster 100%%, Lloyd objective $init%.4f -> $trained%.4f " +
        f"(near-twin co-cluster stat: $nearFrac%.4f at k=$k)",
      f"exact-split=$exBad objective $init%.4f -> $trained%.4f nearFrac=$nearFrac%.4f")
  }

  /** Cluster-balanced sample (vec_id, cluster, rnk, keep): each cluster's
    * ranks are a 1..size permutation and keeps = min(quota, size). */
  def balancedRanks(quota: Long): Planted = onEmb { (c, out) =>
    val badC = out.groupBy("cluster").agg(
        count(lit(1)).as("sz"), max("rnk").as("mx"), countDistinct("rnk").as("dr"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("keeps"))
      .filter(col("mx") =!= col("sz") || col("dr") =!= col("sz") ||
        col("keeps") =!= least(lit(quota), col("sz"))).count()
    verdict(badC == 0)(
      s"every cluster's ranks are a 1..size permutation, keeps = min($quota, size)",
      s"$badC clusters with broken rank/keep arithmetic")
  }
}
