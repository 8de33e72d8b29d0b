package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{cosineSim, nearestCentroids}

/** Similarity search over an embedding column (array<float>).
  *
  * Brute-force cosine is the correctness baseline (and oracle twin); the
  * IVF path is the 100 TB shape: centroid assignment is a MAP-SIDE argmax
  * over the bounded centroid model (graft.functions.NearestCentroids — one
  * codegen'd column, no join, no window), and a query probes only `nprobe`
  * buckets, shrinking the candidate set ~nlist/nprobe×. The near-dup join
  * is bucketed the same way, with bucket-pair pruning via the angular
  * triangle inequality — EXACT output, no all-pairs nested loop. The cosine
  * kernel is a native codegen'd Catalyst expression
  * (graft.functions.CosineSimilarity), so scans stay in one
  * whole-stage-codegen stage — no UDF boundary.
  */
object SimilarityOps {

  /** Deterministic "training": every `stride`th vector, capped at nlist —
    * the bounded model-state step (the Spark MLlib KMeansModel pattern: the
    * model lives on the driver, nlist × dim floats, and ships with the
    * plan). The ONLY collect in graft, and it collects a fixed-size model,
    * never data. */
  private[graft] def trainCentroids(emb: DataFrame, nlist: Int, stride: Int): Array[Array[Float]] = {
    val strided = emb.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .orderBy(col("vec_id")).limit(nlist)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    if (strided.nonEmpty) strided
    else emb.orderBy(col("vec_id")).limit(nlist) // corpus smaller than stride
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
  }

  /** cos(vec, centroids[idx]) via a literal centroid matrix lookup —
    * builtin element_at over a foldable array stays codegen'd. */
  private def cosToCentroid(vec: Column, centroids: Array[Array[Float]], idx: Column): Column =
    cosineSim(vec, element_at(typedlit(centroids.map(_.toSeq).toSeq), idx + 1))

  /** (a_id, b_id, cos)-shaped empty frame for empty-corpus early returns —
    * id types derived from the input so the empty path's schema matches the
    * non-empty path's exactly. */
  private def emptyPairs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("a_id"), col("vec_id").as("b_id"),
      lit(0.0).as("cos")).limit(0)

  /** (q_id, n_id, cos, rn)-shaped empty frame, input-derived id types. */
  private def emptyTopK(emb: DataFrame): DataFrame =
    emb.select(col("vec_id").as("q_id"), col("vec_id").as("n_id"),
      lit(0.0).as("cos"), lit(0L).as("rn")).limit(0)

  /** Shared rank-and-keep tail of every ANN variant: per-query top-k by
    * (cos desc, n_id), rank emitted as long (oracle-parity-sensitive —
    * one definition so the three paths cannot drift). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))))
      .filter(col("rn") <= k)
      .select(col("q_id"), col("n_id"), col("cos"), col("rn").cast("long").as("rn"))

  /** Exact near-dup pairs (cos ≥ tau) WITHOUT the quadratic broadcast
    * nested loop: vectors are bucketed by nearest centroid (map-side), each
    * bucket's max assignment angle is its radius, and a bucket PAIR is
    * joined only if the angular triangle inequality says it could hold a
    * qualifying pair: θ(a,b) ≥ θ(ca,cb) − r_a − r_b, so any pair with
    * θ(ca,cb) − r_a − r_b > arccos(tau) is pruned wholesale. Every surviving
    * candidate is verified with exact cosine — identical output to the
    * all-pairs form at any scale (zero recall loss; pruning power grows
    * with how clustered the corpus is). The bucket join is an equi-join on
    * bucket ids — shuffle-partitioned, AQE-skew-splittable, never a BNLJ.
    * (Requires tau > 0: zero-norm vectors have cos ≡ 0 to everything, so
    * they can never appear in the output and mispruning them is harmless;
    * their π/2 assignment angle only widens radii, which is conservative.) */
  def embeddingNearDup(spark: SparkSession, emb: DataFrame, tau: Double = 0.4,
                       nlist: Int = 0, centroidStride: Int = 0): DataFrame = {
    GraftFunctions.register(spark)
    // nlist <= 0 → adaptive ~sqrt(N): with FIXED nlist, bucket sizes grow
    // linearly with the corpus and bucket-pair verification quadratically —
    // measured 83x cost for 10x data at sf1. sqrt(N) buckets keep both the
    // bucket size and the bucket count at ~sqrt(N), so admissible-pair work
    // grows ~N^1.5 worst-case instead of N^2 (and far less on clustered
    // corpora, where triangle pruning kills most bucket pairs). Capped so
    // the driver-held model (nlist x dim floats) and the nlist^2 admissible
    // matrix stay bounded; the count() is a cheap id-only scan next to the
    // join it sizes — and callers passing BOTH nlist and centroidStride
    // never force it (no eager pass at all before the model collect).
    lazy val n = emb.count()
    val nl = if (nlist > 0) nlist
      else math.min(512, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
    val stride = if (centroidStride > 0) centroidStride
      else math.max(1, (n / (2L * nl)).toInt)
    val centroids = trainCentroids(emb, nl, stride)
    if (centroids.isEmpty) return emptyPairs(emb)

    // Per-vector sqrt-norm precomputed ONCE here: the verify join below is
    // pair-dominated (worst case ~N^2/buckets candidates when the corpus is
    // unclustered and triangle pruning can't bite), so the cosine there is
    // dot/(nrm_a*nrm_b) — one dot_f per PAIR instead of CosineSimilarity's
    // three accumulators. sqrt(dot_f(v,v)) matches cosine_sim's norm term
    // bit-for-bit (same products, same order, correctly-rounded sqrt), so
    // the output is unchanged vs the cosine_sim form.
    val assigned = emb.select(
        col("vec_id"), col("embedding"),
        nearestCentroids(col("embedding"), centroids, 1)(0).as("bucket"),
        sqrt(GraftFunctions.dotF(col("embedding"), col("embedding"))).as("nrm"))
      .withColumn("theta",
        acos(greatest(lit(-1.0), least(lit(1.0),
          cosToCentroid(col("embedding"), centroids, col("bucket"))))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // per-bucket radius AND size in ONE tiny aggregate (≤ nlist rows →
    // driver model state): the size rides along so tile sizing below costs
    // zero extra passes, and it is the MEASURED worst bucket — under
    // centroid skew a uniform n/(nl·TileTarget) estimate lets one block
    // hold ~nl·TileTarget vectors (tens of MB per collect_list row,
    // O(block²) pairs in one tile task); sizing off the max keeps every
    // tile at ~TileTarget rows regardless of how lopsided the buckets are.
    val radius = Array.fill(centroids.length)(0.0)
    var maxBucketN = 0L
    assigned.groupBy(col("bucket"))
      .agg(max(col("theta")).as("r"), count(lit(1)).as("cnt"))
      .collect().foreach { r =>
        radius(r.getInt(0)) = r.getDouble(1)
        maxBucketN = math.max(maxBucketN, r.getLong(2))
      }

    // admissible ORDERED bucket pairs (i,j): both directions listed, so the
    // a_id < b_id filter keeps each unordered vector pair exactly once.
    // The prune radius takes tau MINUS the acceptance slack: the verify step
    // accepts round(cos, 5) >= tau, i.e. true cos down to tau - 5e-6, and
    // acos/radius arithmetic carries float error — widening the admissible
    // set only adds verified-and-rejected candidates, never loses a pair.
    val thetaTau = math.acos(math.min(1.0, math.max(-1.0, tau - 1e-5))) + 1e-9
    def cosC(i: Int, j: Int): Double = {
      val (a, b) = (centroids(i), centroids(j))
      var dot = 0.0; var na = 0.0; var nb = 0.0; var t = 0
      while (t < math.min(a.length, b.length)) {
        dot += a(t).toDouble * b(t); na += a(t).toDouble * a(t); nb += b(t).toDouble * b(t); t += 1
      }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val admissible = for {
      i <- centroids.indices; j <- centroids.indices
      cc = math.acos(math.min(1.0, math.max(-1.0, cosC(i, j))))
      if cc - radius(i) - radius(j) <= thetaTau
    } yield (i, j)
    import spark.implicits._

    // TILED verification: a row-per-candidate join pays join-probe +
    // UnsafeRow-copy machinery per pair (~1 KB of row traffic each for
    // 64-float vectors — measured 2 min at sf1 where the dot products alone
    // are ~3 s of flops). Instead each bucket is sliced into sub-blocks of
    // ~TileTarget vectors, the join emits one row per admissible BLOCK PAIR
    // (candidates / TileTarget² rows), and TileNearDupPairs scores the whole
    // tile in a primitive loop, emitting only survivors. Output is
    // pair-for-pair identical to the row form (same dot order, same
    // rounding, A-side id < B-side id keeps each unordered pair once across
    // the two directed tiles; spec-pinned against the all-pairs twin).
    // Tile rows carry ~TileTarget×(dim×4+16) bytes — bounded regardless of
    // corpus size, so executor memory holds at any SF.
    val nsub = math.max(1L, (maxBucketN + TileTarget - 1) / TileTarget).toInt
    val blocks = assigned
      .withColumn("sub", pmod(col("vec_id"), lit(nsub)))
      .groupBy(col("bucket"), col("sub"))
      .agg(collect_list(struct(col("vec_id").as("id"), col("embedding").as("vec"),
        col("nrm").as("nrm"))).as("blk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // TWO tile-join strategies, chosen by the MEASURED admissible density
    // (the matrix is already driver-state — the choice is free):
    //  - SPARSE (clustered corpus, triangle pruning bites): join blocks per
    //    admissible bucket pair. Shuffle bytes ~ 2·|adm|·nsub·bucketBytes —
    //    tiny when |adm| ~ O(nl).
    //  - DENSE (unclustered corpus — high-dim random vectors leave every
    //    bucket pair admissible): the per-pair form re-ships every block
    //    once per PARTNER (measured 800+ GB of shuffle at 500 k vectors —
    //    quadratic bytes even though tiles made the quadratic FLOPs cheap).
    //    Grid form (the Okcan & Riedewald 2011 theta-join grid, tile
    //    edition): partner buckets are hashed into G groups, each A-block
    //    ships once per GROUP it has a partner in (≤ G·corpus bytes total),
    //    the B side ships once, and non-admissible (ba, bb) combinations
    //    die in the join condition on the un-copied JoinedRow — the tile
    //    kernel evaluates only on admissible pairs, identical output.
    // Break-even from the byte formulas: grid wins iff G·nl < 2·|adm|·nsub.
    val gridG = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val ta = blocks.select(col("bucket").as("ba"), col("sub").as("subA"), col("blk").as("blkA"))
    val tb = blocks.select(col("bucket").as("bb"), col("blk").as("blkB"))
    // plan stays lazy (an eager checkpoint would hide the join plan and run
    // the job at construction); the cached relations are reclaimed by the
    // ContextCleaner once this plan becomes unreachable
    val tiles =
      if (admissible.size.toLong * 2L * nsub <= gridG.toLong * nl) {
        val adm = broadcast(admissible.toDF("ba", "bb"))
        ta.join(adm, "ba").join(tb, Seq("bb"))
      } else {
        // ba → its partner groups with the partner set per group
        val admG = admissible.groupBy { case (i, j) => (i, j % gridG) }
          .map { case ((i, g), ps) => (i, g, ps.map(_._2).toArray) }.toSeq
          .toDF("ba", "gb", "bbs")
        val taRep = ta.join(broadcast(admG), Seq("ba"))
        taRep.join(tb.withColumn("gb", pmod(col("bb"), lit(gridG))),
          Seq("gb")).filter(array_contains(col("bbs"), col("bb")))
      }
    tiles
      .select(explode(GraftFunctions.tileNearDupPairs(col("blkA"), col("blkB"), tau)).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"), col("p.cos").as("cos"))
  }

  /** Sub-block size target for the tiled near-dup verification: big enough
    * to amortize per-tile unpack over ~TileTarget² pairs, small enough that
    * a tile pair (~2 × TileTarget × dim floats) is cache- and
    * executor-friendly at any corpus size. */
  private val TileTarget = 512L

  /** SemDedup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication"):
    * embeddings whose cosine clears `tau` are semantic duplicates of each
    * other; the pair graph is resolved into connected components and ONE
    * representative — the minimum vec_id — survives per component. Output is
    * one row per vector: (vec_id, group_id, keep), group_id = the component's
    * canonical member, keep ⇔ this row IS the canonical member.
    *
    * Composition of two already-scale-proven stages: pair generation is the
    * exact centroid-bucketed [[embeddingNearDup]] (the bucket pruning is
    * precisely SemDedup's within-cluster-only comparison, made exact), and
    * grouping is DedupOps.connectedComponents (O(diameter) shuffles,
    * checkpoint-truncated lineage). At 100 TB on a corpus too dense for the
    * exact pair stage, swap in the ANN candidates (ivfTopK neighbours at
    * cos ≥ tau) — identical downstream shape, approximate recall. */
  def semanticDedup(spark: SparkSession, emb: DataFrame, tau: Double = 0.4): DataFrame = {
    val pairs = embeddingNearDup(spark, emb, tau).select(col("a_id"), col("b_id"))
    val comp = DedupOps.connectedComponents(pairs)
    emb.select(col("vec_id"))
      .join(comp.select(col("id").as("vec_id"), col("comp")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("group_id"))
      .withColumn("keep", col("vec_id") === col("group_id"))
  }

  /** Multi-table sign-LSH index relation of the whole corpus: (vec_id,
    * bucket) with table-namespaced bucket ids — the INDEX half of
    * [[lshBucketRelations]] factored out so the ANN dedup path and the
    * top-k path bucket identically (same plane family, same namespacing).
    * Map-side only: one codegen'd column, no shuffle. */
  def lshIndexRelation(spark: SparkSession, emb: DataFrame, tables: Int = 8,
                       bits: Int = 4, seed: Long = 42L): DataFrame = {
    GraftFunctions.register(spark)
    val dimRow = emb.select(size(col("embedding"))).limit(1).collect()
    if (dimRow.isEmpty)
      return emb.select(col("vec_id"), lit(0).cast("int").as("bucket")).limit(0)
    val planes = graft.functions.HyperplaneLsh.genPlanes(tables * bits, dimRow(0).getInt(0), seed)
    emb.select(col("vec_id"),
      explode(GraftFunctions.hyperplaneLsh(col("embedding"), planes, tables, bits)).as("bucket"))
  }

  /** Pair-recovery + exact-cosine verify + connected-components tail of
    * [[semanticDedupAnn]], taking the bucket relation AS DATA — under
    * Verify the dumped (vec_id, bucket) parquet feeds this directly and
    * the DuckDB oracle replays the identical recovery, which makes the
    * candidate join, the cosine verify, and the grouping oracle-checked
    * (the bucketing function itself stays spec-covered: it IS the dumped
    * relation — the ann_lsh_topk convention).
    *
    * `maxBucket > 0` applies the saturation cap of
    * DedupOps.minhashLshPairs in identical form: bucket members ranked by
    * vec_id, only the first maxBucket act as the index side, so candidate
    * volume drops O(n_b²) → O(n_b·maxBucket) per bucket while a saturated
    * cluster stays transitively connected (every later member pairs with
    * the first ones). Default 0 = exact uncapped bucket join (the
    * oracle-checked gate shape). */
  def semanticDedupFromBuckets(spark: SparkSession, emb: DataFrame, buckets: DataFrame,
                               tau: Double = 0.4, maxBucket: Int = 0): DataFrame = {
    val pairs = semAnnCandidatePairs(spark, emb, buckets, tau, maxBucket)
    val comp = DedupOps.connectedComponents(pairs)
    emb.select(col("vec_id"))
      .join(comp.select(col("id").as("vec_id"), col("comp")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("group_id"))
      .withColumn("keep", col("vec_id") === col("group_id"))
  }

  /** Candidate recovery + exact-cosine verify of [[semanticDedupFromBuckets]],
    * factored so plan audits can assert on the OPERATOR's join (not a
    * re-implementation): bucket equi-self-join (capped per `maxBucket`),
    * stateless dedup, exact verify at `tau`. Returns verified (a_id, b_id). */
  private[graft] def semAnnCandidatePairs(spark: SparkSession, emb: DataFrame,
                                          buckets: DataFrame, tau: Double,
                                          maxBucket: Int): DataFrame = {
    GraftFunctions.register(spark)
    val aSide =
      if (maxBucket <= 0) buckets
      else buckets.withColumn("rnk", row_number().over(
          Window.partitionBy(col("bucket")).orderBy(col("vec_id"))))
        .observe("sem_ann_buckets", max(col("rnk")).as("max_bucket_size"),
          sum(when(col("rnk") > maxBucket, 1L).otherwise(0L)).as("overflow_rows"))
        .filter(col("rnk") <= maxBucket)
        .drop("rnk")
    // candidate volume rides the run as a named observation (the
    // lsh_band_join convention) so a degenerate bucket distribution is
    // visible in the Bench artifact, never a silent OOM
    val cand = aSide.as("a").join(buckets.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .observe("sem_ann_bucket_join", count(lit(1)).as("cand_rows_pre_dedup"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
    // exact verify at the same rounding as the exact path / oracle:
    // precision is exact, only candidate RECALL is approximate
    cand
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")), "a_id")
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")), "b_id")
      .filter(round(cosineSim(col("ea"), col("eb")), 5) >= tau)
      .select(col("a_id"), col("b_id"))
  }

  /** The ANN scale path [[semanticDedup]]'s doc promises ("at 100 TB on a
    * corpus too dense for the exact pair stage, swap in the ANN
    * candidates"): candidate pairs come from the multi-table sign-LSH
    * index — vectors sharing ANY table bucket — instead of the exact
    * centroid-bucketed stage; every candidate is then verified by EXACT
    * cosine at `tau` and grouped by the same connectedComponents tail.
    * Output shape identical to semanticDedup: (vec_id, group_id, keep).
    *
    * Approximate ONLY in candidate recall: a pair at angle θ survives with
    * 1 − (1 − (1 − θ/π)^bits)^tables (identical vectors always collide in
    * every table, so exact duplicates are never missed); precision is
    * exact.
    *
    * SIZING — a SELF-join needs a different bits rule than top-k probing:
    * candidate volume is Σ_b n_b·(n_b−1)/2 summed over tables, so 2^bits
    * must grow ∝ n to keep it LINEAR (the top-k rule bits = log2(n/1000)
    * bounds candidates per QUERY and leaves the self-join quadratic — at
    * 500 k vectors the 4-bit default spilled > 79 GB before dying;
    * measured, not theory). And the uniform log2(n/32) seed is not enough
    * on its own: real corpora bucket-skew (cluster-correlated occupancy —
    * 3.3× the uniform bound at 5 M vectors, NOTES_PERF.md "r11: 5 M-vector
    * ANN semantic dedup"), so
    * `bits = 0` (default) sizes by MEASUREMENT: [[selfJoinBitsMeasured]]
    * walks bits up from the seed until the exact bound fits
    * `maxCandidatePairs` (one cheap aggregate per step — the operator
    * never discovers its volume by spilling it). Recall falls as bits
    * rise (per-table collision p^bits; at cos 0.99, p ≈ 0.95): the
    * budget's recall price is the measured check, not a silent loss.
    * Pass bits > 0 to pin (the 0-arg gate shape at sf0.01 resolves to the
    * same 4 bits either way). */
  def semanticDedupAnn(spark: SparkSession, emb: DataFrame, tau: Double = 0.4,
                       tables: Int = 8, bits: Int = 0, seed: Long = 42L,
                       maxBucket: Int = 0,
                       maxCandidatePairs: Long = DefaultSemAnnPairBudget): DataFrame = {
    // with a maxBucket cap the join volume is bounded by the cap itself,
    // so an over-budget measured bound is survivable — size best-effort
    val b = if (bits > 0) bits
      else selfJoinBitsMeasured(spark, emb, maxCandidatePairs, tables, seed,
        allowOverBudget = maxBucket > 0)._1
    semanticDedupFromBuckets(spark, emb,
      lshIndexRelation(spark, emb, tables, b, seed), tau, maxBucket)
  }

  /** Default candidate-pair budget for [[semanticDedupAnn]]'s measured
    * sizing (~55 GB through the verify sort — a single-box disk; clusters
    * raise it). Shared with the Verify dump path so the dumped bucket
    * relation is sized exactly like the direct operator's. */
  val DefaultSemAnnPairBudget: Long = 100000000L

  /** The self-join bits SEED rule (see [[semanticDedupAnn]] SIZING):
    * ~32-member buckets under a uniformity assumption. Public so the
    * Verify dump path and harnesses bucket identically to the operator. */
  def selfJoinBits(n: Long): Int =
    math.max(4, math.min(20,
      math.ceil(math.log(math.max(2.0, n / 32.0)) / math.log(2.0)).toInt))

  /** MEASURED self-join sizing: the uniform seed rule underestimates real
    * corpora — bucket occupancy is cluster-correlated, and the exact join
    * bound Σ_b n_b·(n_b−1)/2 is whatever the corpus says it is (measured
    * on the 5 M-vector synthetic corpus: 306 M pairs at 20 bits where
    * uniform math predicts 92 M; max bucket 344 vs the uniform 4.8 —
    * NOTES_PERF.md "r11: 5 M-vector ANN semantic dedup"). So size by
    * MEASUREMENT: walk bits up from the seed until the bound fits
    * `maxPairs`, each step one cheap
    * count-aggregate over the map-side bucket relation (seconds), so the
    * operator never discovers its candidate volume by spilling it to disk
    * (the r11 5 M first attempt: > 80 GB of verify-sort spill, dead box).
    * Deterministic — no sampling; same (tables, seed) as the join itself.
    * Returns (bits, measuredBound). Recall falls as bits rise (per-table
    * collision p^bits), so `maxPairs` is a THROUGHPUT budget whose recall
    * price is visible: pick it per deployment (executor-disk aggregate),
    * and let the measured-recall gate (ScaleDedup check line) be the
    * arbiter. Walk cap 24 bits (the HyperplaneLsh limit); a corpus whose
    * bound exceeds the budget even there (e.g. one giant identical-vector
    * cluster — same-bucket in EVERY table at any bits) fails LOUDLY with
    * the measured bound unless `allowOverBudget` (the maxBucket-capped
    * caller, whose join volume the cap bounds regardless). */
  def selfJoinBitsMeasured(spark: SparkSession, emb: DataFrame,
                           maxPairs: Long, tables: Int = 8,
                           seed: Long = 42L,
                           allowOverBudget: Boolean = false): (Int, Long) = {
    def bound(bits: Int): Long = DedupOps.pairBound(
      lshIndexRelation(spark, emb, tables, bits, seed)
        .groupBy(col("bucket")).agg(count(lit(1)).as("nb")), "nb")
    var bits = selfJoinBits(emb.count())
    var b = bound(bits)
    // Advisory mode (allowOverBudget — the maxBucket-capped caller, whose
    // join volume the cap bounds regardless): keep walking only while each
    // +2-bit step still HALVES the bound. Random bucket mass quarters per
    // step (buckets ×4, E[pairs] ∝ n_b²); duplicate-heavy mass is
    // irreducible (identical vectors collide at any bits), so a plateau
    // means the walk cannot fit the budget and every further step is a
    // wasted full-corpus aggregate — stop there instead of walking to the
    // cap. Strict mode is unchanged: walk to the cap, then fail loud.
    var prev = Long.MaxValue
    while (b > maxPairs && bits < 24 && (!allowOverBudget || b <= prev / 2)) {
      prev = b; bits = math.min(24, bits + 2); b = bound(bits)
    }
    if (b > maxPairs && !allowOverBudget)
      throw new IllegalStateException(
        s"selfJoinBitsMeasured: candidate bound $b rows still exceeds the maxCandidatePairs " +
        s"budget $maxPairs at the $bits-bit cap — the corpus has bucket mass no bit count " +
        "subdivides (duplicate-heavy clusters collide in every table). Pass maxBucket > 0 " +
        "to cap per-bucket pairing (connectivity survives transitively), raise the budget " +
        "to your deployment's aggregate spill capacity, or pre-shard the corpus.")
    (bits, b)
  }

  /** The quadratic all-pairs baseline (spec reference only — the bucketed
    * form above is the operator; this one exists to prove it exact). */
  def embeddingNearDupAllPairs(spark: SparkSession, emb: DataFrame, tau: Double = 0.4): DataFrame = {
    GraftFunctions.register(spark)
    val a = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.join(b, col("a_id") < col("b_id"))
      .withColumn("cos", round(cosineSim(col("ea"), col("eb")), 5))
      .filter(col("cos") >= tau)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Brute-force top-k neighbours for the query set (vec_id < nQueries).
    * Broadcast the small query side; rank with a deterministic tie-break. */
  def bruteForceTopK(spark: SparkSession, emb: DataFrame,
                     nQueries: Int = 10, k: Int = 5): DataFrame = {
    GraftFunctions.register(spark)
    val queries = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val cands = emb.select(col("vec_id").as("n_id"), col("embedding").as("ne"))
    val scored = cands.join(broadcast(queries), col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosineSim(col("qe"), col("ne")), 6))
    rankTopK(scored, k)
  }

  /** Verify-mode tail shared by both bucketed ANN variants: given the
    * materialized (n_id, bucket) and (q_id, bucket) relations, recover the
    * candidate set, score it exactly, and rank. The DuckDB oracle runs the
    * SAME recovery over the identical parquet dumps, which turns the
    * bucket-join + scoring + ranking stages from spec-trusted into
    * oracle-checked (the bucketing function itself stays spec-covered —
    * it IS the dumped relation). dropDuplicates is a no-op for IVF (one
    * bucket per neighbour, distinct probes) and required for multi-table
    * LSH; both sides of the compare apply it, so the paths stay in parity. */
  def topKFromBucketDumps(spark: SparkSession, emb: DataFrame,
                          buckets: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    GraftFunctions.register(spark)
    val candKeys = buckets.join(broadcast(probes), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .dropDuplicates("q_id", "n_id")
    // q-side broadcast carries ONLY the query vectors: semi-join emb down
    // to the distinct probe q_ids (a handful) before broadcasting — the
    // whole-table broadcast form would scale the broadcast with the corpus
    // and OOM a verify run at larger SFs.
    val qEmb = emb.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      .join(broadcast(probes.select(col("q_id")).dropDuplicates("q_id")), Seq("q_id"), "left_semi")
    val scored = candKeys
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .join(broadcast(qEmb), "q_id")
      .withColumn("cos", round(cosineSim(col("qe"), col("ne")), 6))
    rankTopK(scored, k)
  }

  /** (n_id, bucket) assignment + (q_id, bucket) probe relations of the IVF
    * index — the Verify-mode dump feeding topKFromBucketDumps + its oracle. */
  def ivfBucketRelations(spark: SparkSession, emb: DataFrame, nQueries: Int = 10,
                         nlist: Int = 16, nprobe: Int = 3,
                         centroidStride: Int = 50): (DataFrame, DataFrame) = {
    GraftFunctions.register(spark)
    val centroids = trainCentroids(emb, nlist, centroidStride)
    // empty-corpus early return mirroring ivfTopK's guard — without it the
    // dump path would evaluate nearestCentroids over an empty model while
    // the direct path returns emptyTopK, diverging on the edge case
    if (centroids.isEmpty) return emptyBucketRelations(emb)
    val probeK = math.min(nprobe, math.max(1, centroids.length))
    (emb.select(col("vec_id").as("n_id"),
       nearestCentroids(col("embedding"), centroids, 1)(0).as("bucket")),
     emb.filter(col("vec_id") < nQueries)
       .select(col("vec_id").as("q_id"),
         explode(nearestCentroids(col("embedding"), centroids, probeK)).as("bucket")))
  }

  /** ((n_id, bucket), (q_id, bucket))-shaped empty pair for degenerate-input
    * early returns of both bucket-relation dumps — id types input-derived,
    * bucket int to match nearestCentroids/hyperplaneLsh elements. */
  private def emptyBucketRelations(emb: DataFrame): (DataFrame, DataFrame) =
    (emb.select(col("vec_id").as("n_id"), lit(0).cast("int").as("bucket")).limit(0),
     emb.select(col("vec_id").as("q_id"), lit(0).cast("int").as("bucket")).limit(0))

  /** (n_id, bucket) + (q_id, bucket) relations of the multi-table LSH index
    * (bucket ids are table-namespaced) — Verify-mode dump counterpart.
    * The probe side multi-probes (`flips` lowest-margin bit flips per
    * table); the index side never does — same asymmetry as annLshTopK. */
  def lshBucketRelations(spark: SparkSession, emb: DataFrame, nQueries: Int = 10,
                         tables: Int = 8, bits: Int = 4,
                         seed: Long = 42L, flips: Int = 2): (DataFrame, DataFrame) = {
    GraftFunctions.register(spark)
    val dimRow = emb.select(size(col("embedding"))).limit(1).collect()
    // same degenerate-input guard as ivfBucketRelations / annLshTopK
    if (dimRow.isEmpty) return emptyBucketRelations(emb)
    val planes = graft.functions.HyperplaneLsh.genPlanes(tables * bits, dimRow(0).getInt(0), seed)
    (emb.select(col("vec_id").as("n_id"),
       explode(GraftFunctions.hyperplaneLsh(col("embedding"), planes, tables, bits)).as("bucket")),
     emb.filter(col("vec_id") < nQueries)
       .select(col("vec_id").as("q_id"),
         explode(GraftFunctions.hyperplaneLsh(col("embedding"), planes, tables, bits,
           math.min(flips, bits))).as("bucket")))
  }

  /** Sign-LSH ANN (the "or LSH-bucketed" half of the scale path, next to
    * IVF): vectors get `tables` namespaced bucket ids MAP-SIDE
    * (graft.functions.HyperplaneLsh — one codegen'd column), candidates are
    * vectors sharing ANY table bucket with a query, deduped, then scored
    * exactly and ranked. Multi-table recall: a pair at angle θ survives
    * with 1 − (1 − (1 − θ/π)^bits)^tables — tune (tables, bits) to the
    * corpus (defaults favor high-similarity neighbours; this synthetic
    * near-random corpus needs few bits — the planted-cluster recall spec
    * is the meaningful check). Unlike IVF the same pair can collide in
    * several tables, hence the dropDuplicates before scoring (keys only —
    * the embedding columns rejoin after).
    *
    * The QUERY side multi-probes (`flips` lowest-margin bit flips per
    * table — Lv et al. 2007): candidate volume grows only with
    * nQueries·flips while the N-row index stays one bucket per table, so
    * recall rises like extra tables at none of the index-build cost. */
  def annLshTopK(spark: SparkSession, emb: DataFrame, nQueries: Int = 10, k: Int = 5,
                 tables: Int = 8, bits: Int = 4, seed: Long = 42L,
                 flips: Int = 2): DataFrame = {
    GraftFunctions.register(spark)
    val dimRow = emb.select(size(col("embedding"))).limit(1).collect()
    if (dimRow.isEmpty) return emptyTopK(emb)
    val planes = graft.functions.HyperplaneLsh.genPlanes(tables * bits, dimRow(0).getInt(0), seed)

    val bucketed = emb.select(col("vec_id").as("n_id"),
        explode(GraftFunctions.hyperplaneLsh(col("embedding"), planes, tables, bits))
          .as("bucket"))
    val probeBuckets = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"),
        explode(GraftFunctions.hyperplaneLsh(col("embedding"), planes, tables, bits,
          math.min(flips, bits))).as("bucket"))
    val candKeys = bucketed.join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"))
      .dropDuplicates("q_id", "n_id")

    val scored = candKeys
      .join(emb.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .join(broadcast(emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))), "q_id")
      .withColumn("cos", round(cosineSim(col("qe"), col("ne")), 6))
    rankTopK(scored, k)
  }

  /** Auto-sized sign-LSH parameters — see [[autoTuneLsh]]. */
  final case class LshParams(tables: Int, bits: Int, flips: Int)

  /** Sizes (tables, bits, flips) for [[annLshTopK]] from the corpus itself,
    * closing the fixed-defaults recall gap (8×4 measured 0.86 recall at
    * 500 k rows vs the ≥0.95 bar):
    *
    *  - `bits` bounds per-table candidate volume: each random hyperplane
    *    halves an angularly-spread corpus, so a bucket holds ~n/2^bits rows;
    *    bits = log2(n/1000) keeps expected candidates-per-query-per-table
    *    near 1 k at any corpus size.
    *  - `flips` = 2 multi-probes (recall rises like extra tables at only
    *    nQueries× probe cost — the cheap knob, always on).
    *  - `tables` is the measured knob: recall@k is checked against a
    *    brute-force ground truth on a bounded sample (strided corpus sample
    *    ∪ query rows), walking up the table ladder until `target` holds.
    *
    * The sample measurement is CONSERVATIVE: per-pair bucket-collision
    * probability depends only on the pair's angle (corpus-independent), and
    * the sample's top-k neighbours sit farther out than the full corpus's
    * (fewer close rows to draw from), so sampled recall underestimates
    * full-corpus recall — a table count that passes here can only do better
    * at scale. Cost is bounded regardless of corpus size: one count, one
    * ≤`sampleTarget`-row sample, and a handful of sample-sized probe runs
    * (driver-coordinated, executor-run — nothing quadratic in n). */
  def autoTuneLsh(spark: SparkSession, emb: DataFrame, nQueries: Int = 10, k: Int = 5,
                  target: Double = 0.95, seed: Long = 42L,
                  sampleTarget: Long = 20000L, maxTables: Int = 32): LshParams = {
    val n = emb.count()
    val bits = math.max(4, math.min(16,
      math.ceil(math.log(math.max(2.0, n / 1000.0)) / math.log(2.0)).toInt))
    val flips = math.min(2, bits)
    if (n == 0) return LshParams(8, bits, flips)
    val stride = math.max(1L, n / sampleTarget)
    val sample = emb.filter(col("vec_id") < nQueries or pmod(col("vec_id"), lit(stride)) === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val truth = bruteForceTopK(spark, sample, nQueries, k)
        .select(col("q_id"), col("n_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      if (truth.isEmpty) return LshParams(8, bits, flips)
      def recallAt(t: Int, b: Int): Double = {
        val got = annLshTopK(spark, sample, nQueries, k, t, b, seed, flips)
          .select(col("q_id"), col("n_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (got & truth).size.toDouble / truth.size
      }
      // Joint walk, bits DESCENDING: at each bits level first probe the max
      // table count — if even that misses target (measured at 5 M: 32×13
      // gave full-corpus recall 0.78), more tables can't save this bits
      // level, so drop a bit (doubling per-table candidates ~ squaring the
      // per-table collision probability) and retry. Once the max passes,
      // walk the ladder up to the CHEAPEST passing table count. Bounded:
      // ≤ (bitsInit−4) + ladder.size sample-sized probes.
      val ladder = Seq(4, 6, 8, 12, 16, 24, 32).filter(_ <= maxTables)
      var b = bits
      while (b > 4 && recallAt(ladder.last, b) < target) b -= 1
      val t = ladder.find(t => t == ladder.last || recallAt(t, b) >= target)
        .getOrElse(ladder.last)
      LshParams(t, b, flips)
    } finally sample.unpersist()
  }

  /** IVF-style ANN: deterministic "training" picks nlist strided vectors as
    * centroids; every vector is assigned MAP-SIDE to its nearest centroid
    * (NearestCentroids — one codegen'd column, no join/window in the
    * assignment stage); queries probe only the nprobe nearest buckets. Each
    * (query, neighbour) candidate arises at most once (one bucket per
    * neighbour × distinct probe buckets), so no dedup pass is needed.
    * Same output schema as bruteForceTopK — recall measured in the spec. */
  def ivfTopK(spark: SparkSession, emb: DataFrame, nQueries: Int = 10, k: Int = 5,
              nlist: Int = 16, nprobe: Int = 3, centroidStride: Int = 50): DataFrame = {
    GraftFunctions.register(spark)
    val centroids = trainCentroids(emb, nlist, centroidStride)
    if (centroids.isEmpty) return emptyTopK(emb)
    val probeK = math.min(nprobe, centroids.length)

    val assigned = emb.select(col("vec_id").as("n_id"), col("embedding").as("ne"),
      nearestCentroids(col("embedding"), centroids, 1)(0).as("bucket"))
    val probes = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
        explode(nearestCentroids(col("embedding"), centroids, probeK)).as("bucket"))

    val scored = assigned.join(broadcast(probes), Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("cos", round(cosineSim(col("qe"), col("ne")), 6))
    rankTopK(scored, k)
  }

  /** Lloyd k-means over the embedding column (spherical variant: cosine
    * assignment, mean update — cosine to an unnormalized mean equals cosine
    * to the normalized one, so no renormalization step) — the clustering
    * primitive behind cluster-balanced mixture sampling and SemDedup-style
    * diversity pruning (Abbas et al. 2023, arXiv 2303.09540 cluster docs
    * before intra-cluster dedup). Init = the deterministic strided pick
    * ([[trainCentroids]]); each Lloyd round is one MAP-SIDE assignment
    * (NearestCentroids — codegen'd, no join) + one partial-agg'd groupBy
    * over (cluster, dim) — the shuffle carries k × dim keys per task, not
    * corpus rows, and the driver reduces a k × dim double matrix (the MLlib
    * KMeansModel bounded-model pattern; ~8 KB at k=16, dim=64). Empty
    * clusters keep their previous centroid. Per-round float-sum ordering is
    * engine-scheduled, so centroids are run-deterministic only given the
    * same partials order — the gate therefore checks the ASSIGNMENT from
    * the materialized centroid relation (exact on both engines), and the
    * spec pins direct-vs-relation assignment parity. */
  /** kmeans||-style oversampled initialization (Bahmani et al. 2012,
    * "Scalable K-Means++", adapted to the spherical metric): `rounds`
    * distributed passes each sample points with probability
    * min(1, over·k·d(x,C)/φ(C)), d = 1 − cos to the nearest current
    * candidate, φ = Σ d — far-from-candidates points oversample, so a few
    * passes land candidates in every real mode where the strided pick can
    * miss small or adversarially-placed clusters. Repo determinism rules
    * replace randomness: the sampling coin is the multiplicative md5 hash
    * of (round, vec_id) — engine/run/retry-stable — and each round's
    * accept set is hard-capped by coin priority (bounded collect:
    * ≤ rounds · 4·over·k candidate vectors; the weight pass collects
    * ≤ |candidates| counts). Candidates are weighted by assignment-cell
    * size (one map-side argmax pass) and reduced DRIVER-SIDE by weighted
    * spherical Lloyd over the candidate set (model-sized work) to k
    * centers — the kmeans|| recluster step. */
  private[graft] def kmeansParallelInit(emb: DataFrame, k: Int, rounds: Int = 4,
                                        over: Int = 2): Array[Array[Float]] = {
    GraftFunctions.register(emb.sparkSession)
    def cosArr(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val first = emb.orderBy(col("vec_id")).limit(1)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    if (first.isEmpty) return Array.empty
    var cands = first
    val cap = 4 * over * k
    val coinOf = (r: Int) => conv(substring(md5(concat_ws("-",
      lit("kmpar"), lit(r), col("vec_id").cast("string"))), 1, 8), 16, 10)
      .cast("double") / 4294967296.0
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val asg = nearestCentroids(col("embedding"), cands, 1)(0)
      val dCol = lit(1.0) - cosToCentroid(col("embedding"), cands, asg)
      val phi = emb.agg(sum(dCol)).collect()(0).getDouble(0)
      if (phi <= 1e-12) done = true // every point coincides with a candidate
      else {
        val p = least(lit(1.0), lit(over.toDouble * k) * dCol / phi)
        val picked = emb.withColumn("pri", coinOf(r))
          .filter(col("pri") < p)
          .orderBy(col("pri"), col("vec_id")).limit(cap)
          .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
        cands = cands ++ picked
      }
      r += 1
    }
    if (cands.length <= k)
      return (cands ++ trainCentroids(emb, k, 31)).distinctBy(_.toSeq).take(k)
    // weight pass: candidate cell sizes from one map-side argmax
    val counts = emb.select(nearestCentroids(col("embedding"), cands, 1)(0).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("n")).collect()
      .map(row => row.getInt(0) -> row.getLong(1)).toMap
    val w = cands.indices.map(i => counts.getOrElse(i, 0L).toDouble).toArray
    // driver-side weighted spherical Lloyd over the candidate set: seed with
    // the k heaviest candidates (deterministic: weight desc, index asc)
    val dim = cands.head.length
    var centers = cands.indices.sortBy(i => (-w(i), i)).take(k)
      .map(i => cands(i).clone()).toArray
    for (_ <- 1 to 10) {
      val acc = Array.ofDim[Double](centers.length, dim)
      val cw = new Array[Double](centers.length)
      cands.indices.foreach { i =>
        if (w(i) > 0) {
          val best = centers.indices.maxBy(c => (cosArr(cands(i), centers(c)), -c))
          var d = 0
          while (d < dim) { acc(best)(d) += w(i) * cands(i)(d); d += 1 }
          cw(best) += w(i)
        }
      }
      centers = centers.zipWithIndex.map { case (old, c) =>
        if (cw(c) == 0) old
        else Array.tabulate(dim)(d => (acc(c)(d) / cw(c)).toFloat)
      }
    }
    centers
  }

  private[graft] def trainKmeans(emb: DataFrame, k: Int = 16, iters: Int = 5,
                                 centroidStride: Int = 31,
                                 init: String = "strided"): Array[Array[Float]] = {
    GraftFunctions.register(emb.sparkSession)
    var cs = init match {
      case "parallel" => kmeansParallelInit(emb, k)
      case _ => trainCentroids(emb, k, centroidStride)
    }
    if (cs.isEmpty) return cs
    val dim = cs.head.length
    // Two partial-sum strategies per Lloyd iteration, chosen by MODEL size
    // (k×dim doubles — known up front, no measurement job needed):
    //  - DENSE PARTIALS (small model, the ≤64 MB-per-task regime that
    //    covers every in-repo caller): one mapPartitions pass accumulates a
    //    k×dim double matrix per task, merged by a deterministic fan-in-8
    //    tree (partition-id order) so the driver pull is fanIn × model at
    //    any input partition count — still ONE driver action per iteration,
    //    and below fanIn partitions (bench SF) zero extra stages.
    //    The previous posexplode+groupBy form shuffled n×dim exploded rows
    //    per iteration and then streamed the agg back via toLocalIterator
    //    (2 stages + per-partition fetch round trips): measured at sf0.1
    //    it was most of kmeans_cluster's 13 driver round trips.
    //  - EXPLODED AGG (huge model, e.g. k=65k × dim=1024 where a dense
    //    per-task matrix is ~0.5 GB): the old shape — posexplode +
    //    groupBy(cluster, d) partial aggregation, streamed to the driver
    //    one partition at a time so the driver's peak stays the k×dim
    //    arrays plus one partition of rows.
    val denseModel = cs.length.toLong * dim * 8L <= (64L << 20)
    for (_ <- 1 to iters) {
      val acc = Array.ofDim[Double](cs.length, dim)
      val cnt = new Array[Long](cs.length)
      if (denseModel) {
        val k = cs.length
        // merge y's (matrix, counts) into x in place — the one combine used
        // at every tree level and on the driver, so association order is the
        // only thing that varies (and it is pinned below)
        def mergeInto(x: (Array[Array[Double]], Array[Long]),
                      y: (Array[Array[Double]], Array[Long])): Unit = {
          var c = 0
          while (c < k) {
            val xa = x._1(c); val ya = y._1(c)
            var d = 0
            while (d < dim) { xa(d) += ya(d); d += 1 }
            x._2(c) += y._2(c); c += 1
          }
        }
        // null embeddings contribute nothing — the exploded-agg shape emits
        // zero rows for them (posexplode of null), so the dense path must
        // skip them too, not NPE on getInt of a null cluster
        val base = emb.select(
            nearestCentroids(col("embedding"), cs, 1)(0).as("cluster"),
            col("embedding"))
          .filter(col("embedding").isNotNull)
          .rdd.mapPartitionsWithIndex { (pid, it) =>
            val a = Array.ofDim[Double](k, dim)
            val n = new Array[Long](k)
            var any = false
            it.foreach { r =>
              val c = r.getInt(0)
              val e = r.getSeq[Float](1)
              val m = math.min(dim, e.length)
              var d = 0
              while (d < m) { a(c)(d) += e(d); d += 1 }
              n(c) += 1; any = true
            }
            // empty partitions ship nothing — at wide-scan scale most of the
            // combine tree's inputs are real partials, not zero matrices
            if (any) Iterator.single((pid, (a, n))) else Iterator.empty
          }
        // DETERMINISTIC TREE COMBINE (guide §2.3/§2.4): a flat collect()
        // pulls model × numPartitions to the driver — at 100 TB partition
        // counts that is hundreds of GB for a model near the 64 MB gate.
        // Executor-side fan-in-8 rounds bound the driver pull (and every
        // task's input) to fanIn × model, O(log P) rounds; merges happen in
        // partition-id order within a group and group-id order across
        // levels, so the float association order is a pure function of the
        // input partitioning — reproducible run to run.
        val fanIn = 8
        var level = base
        var width = level.getNumPartitions
        while (width > fanIn) {
          val nextWidth = (width + fanIn - 1) / fanIn
          level = level
            .map { case (pid, v) => (pid / fanIn, (pid, v)) }
            // HashPartitioner(nextWidth) sends gid → gid: one group per task
            .groupByKey(nextWidth)
            .map { case (gid, grp) =>
              val sorted = grp.toArray.sortBy(_._1)
              val head = sorted.head._2
              sorted.iterator.drop(1).foreach { case (_, v) => mergeInto(head, v) }
              (gid, head)
            }
          width = nextWidth
        }
        // ≤ fanIn entries; still ONE action per Lloyd iteration
        level.collect().sortBy(_._1).foreach { case (_, v) =>
          mergeInto((acc, cnt), v)
        }
      } else {
        val partials = emb.select(
            nearestCentroids(col("embedding"), cs, 1)(0).as("cluster"),
            posexplode(col("embedding")).as(Seq("d", "v")))
          .groupBy(col("cluster"), col("d"))
          .agg(sum(col("v").cast("double")).as("sv"), count(lit(1)).as("cnt"))
          .toLocalIterator()
        partials.forEachRemaining { r =>
          acc(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
          cnt(r.getInt(0)) = r.getLong(3)
        }
      }
      cs = cs.zipWithIndex.map { case (old, c) =>
        if (cnt(c) == 0) old
        else Array.tabulate(dim)(d => (acc(c)(d) / cnt(c)).toFloat)
      }
    }
    cs
  }

  /** The trained centroid set as a relation (cluster, centroid) — the
    * Verify-mode dump that lets the DuckDB oracle recompute every
    * assignment from the identical model (the IVF bucket-dump pattern). */
  def kmeansCentroidRelation(spark: SparkSession,
                             centroids: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cluster", "centroid")
  }

  /** Assignment recomputed FROM a centroid relation: score every (vector,
    * centroid) pair — k rows per vector, k driver-bounded — and keep the
    * top by (cos desc, cluster asc). Both the Verify dump path and the
    * DuckDB oracle run THIS recovery over the identical parquet, so the
    * assignment+scoring+ranking stages are oracle-checked; at scale the
    * map-side [[kmeansCluster]] argmax form replaces the ×k join. */
  def assignFromCentroidRelation(spark: SparkSession, emb: DataFrame,
                                 cents: DataFrame): DataFrame = {
    GraftFunctions.register(spark)
    val scored = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cents))
      .withColumn("cos", round(cosineSim(col("embedding"), col("centroid")), 6))
    scored.withColumn("rn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cluster"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("cluster"), col("cos"))
  }

  /** Direct-path k-means clustering: train, then one map-side argmax
    * assignment column — no join, no window; at 100 TB assignment runs at
    * scan speed and only training's bounded partials shuffle. Output:
    * (vec_id, cluster, cos to the assigned centroid, round 6). */
  def kmeansCluster(spark: SparkSession, emb: DataFrame, k: Int = 16,
                    iters: Int = 5, init: String = "strided"): DataFrame = {
    GraftFunctions.register(spark)
    val cs = trainKmeans(emb, k, iters, init = init)
    if (cs.isEmpty)
      return emb.select(col("vec_id"), lit(0).as("cluster"),
        lit(0.0).as("cos")).limit(0)
    emb.select(col("vec_id"),
        nearestCentroids(col("embedding"), cs, 1)(0).as("cluster"),
        col("embedding"))
      .withColumn("cos", round(cosToCentroid(col("embedding"), cs, col("cluster")), 6))
      .select(col("vec_id"), col("cluster"), col("cos"))
  }

  /** Symmetric int8 vector quantization with a per-vector scale (the
    * faiss/SQ8-style storage trick: 4× smaller embedding shards, so a
    * 100 TB embedding store reads 25 TB): scale = max|v|/127, q_i =
    * clamp(round(v_i/scale), ±127), recon_i = q_i·scale. Emits the audit
    * relation a quantization rollout needs — per-vector scale, the max
    * absolute reconstruction error (bounded by scale/2 by construction;
    * asserted in the spec), and the original↔recon cosine (what nearest-
    * neighbor quality actually depends on).
    *
    * Pure map-side, one pass, no shuffle. Every step is per-element double
    * arithmetic in array order — identical IEEE ops in the DuckDB oracle
    * (floor(x+0.5) for round-half-up on BOTH engines; engine round()
    * half-modes differ), max is order-free, and the cosine accumulates
    * left-to-right like [[graft.functions.CosineSimilarity]], so round(6)
    * hashes match. HOF lambdas here are interpreted — acceptable because
    * dim is small and fixed; the scale path swaps in a native expression
    * like CosineSimilarity if quantization ever dominates a profile. */
  def embeddingQuantize(emb: DataFrame): DataFrame = {
    // ONE native pass per row (QuantizeStats) instead of the composable
    // aggregate/transform/zip_with lambda chain: those run INTERPRETED, and
    // projection collapse re-inlined the recon transform into every
    // downstream aggregate — the array was re-quantized per reference
    // (measured 7 s for 20 k rows at sf1; the native form is scan-bound).
    // Arithmetic is order-identical, so outputs are bit-for-bit unchanged.
    GraftFunctions.register(emb.sparkSession)
    val qs = GraftFunctions.quantizeStats(col("embedding"))
    emb.select(col("vec_id"), qs.as("q"))
      .select(col("vec_id"),
        round(col("q.scale"), 9).as("scale"),
        round(col("q.max_abs_err"), 9).as("max_abs_err"),
        round(when(col("q.nx") === 0.0 || col("q.ny") === 0.0, lit(0.0))
          .otherwise(col("q.dot") / (sqrt(col("q.nx")) * sqrt(col("q.ny")))), 6)
          .as("cos_recon"))
  }

  /** Build and PERSIST an IVF index: Lloyd-refined centroids plus the
    * postings relation hive-partitioned BY BUCKET — the "build once, query
    * many" production ANN shape (faiss's IVF files, as a parquet layout any
    * engine can read). The partitioned layout is the point: a query batch
    * probing nprobe of nlist buckets reads nprobe/nlist of the index BYTES
    * (partition pruning), so at a 100 TB embedding store each query batch
    * touches ~3/16ths (defaults) of the shards instead of scanning
    * everything, and the O(corpus) assignment cost is paid once at build
    * time, not per query batch. */
  def ivfWriteIndex(spark: SparkSession, emb: DataFrame, dir: String,
                    nlist: Int = 16, iters: Int = 2,
                    centroidStride: Int = 50): Unit = {
    GraftFunctions.register(spark)
    val cs = trainKmeans(emb, nlist, iters, centroidStride)
    require(cs.nonEmpty, "empty corpus: nothing to index")
    // A full rebuild invalidates ALL prior state by definition — including
    // streaming increments under postings_inc/, which are bucketed under
    // the OLD centroid model: left in place they would be merged by
    // readIndexPostings into wrong (new-model) buckets, hiding vectors from
    // probes and duplicating re-ingested ids. Clear the whole index root
    // before writing the new model.
    graft.sources.IO.deletePath(spark, dir)
    kmeansCentroidRelation(spark, cs).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    emb.select(col("vec_id"), col("embedding"),
        nearestCentroids(col("embedding"), cs, 1)(0).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
  }

  /** Probe relation (q_id, qe, bucket) for a query batch against a
    * PERSISTED index: each query assigned to its nprobe nearest centroids
    * from the index's centroid relation (bounded model state — nlist × dim
    * floats — collected once per batch, the trainCentroids convention). */
  def ivfIndexProbes(spark: SparkSession, dir: String, queries: DataFrame,
                     nprobe: Int = 3): DataFrame = {
    GraftFunctions.register(spark)
    val cents = spark.read.parquet(s"$dir/centroids").orderBy("cluster")
      .collect().map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    val probeK = math.min(nprobe, cents.length)
    queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
      explode(nearestCentroids(col("embedding"), cents, probeK)).as("bucket"))
  }

  /** Query a persisted IVF index: probe buckets → STATIC partition pruning
    * of the postings scan (the probe-bucket set is bounded by |queries| ×
    * nprobe, so the isin filter is an explicit PartitionFilters entry —
    * deterministic pruning, no reliance on runtime DPP) → exact cosine →
    * per-query top-k. Output matches [[ivfTopK]]'s (q_id, n_id, cos, rn)
    * contract; a posting lives in exactly one bucket, so candidates never
    * duplicate. */
  /** The index's full postings relation: the base build plus any
    * incremental batches appended by Streams.ivfAppendStream
    * (postings_inc/batch_N, same bucket-partitioned layout). Batch dirs are
    * unioned individually so each keeps its own partition discovery; a
    * compaction pass (IO.compaction over postings_inc into postings) folds
    * them back when the batch count grows. */
  private[graft] def readIndexPostings(spark: SparkSession, dir: String): DataFrame =
    readIndexPostingsBatched(spark, dir).drop("_batch")

  /** Same merge, tagged with a `_batch` ordinal (base = 0, batch_N = N+1) so
    * maintenance passes can resolve a vec_id present in several layers
    * deterministically — LATEST WINS, not "whichever row dropDuplicates saw
    * first". Ordinals come from the batch dir names ivfAppendStream writes
    * (monotone per epoch), so re-ingested/updated vectors compact to their
    * newest embedding on every run. */
  private[graft] def readIndexPostingsBatched(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(s"$dir/postings").withColumn("_batch", lit(0L))
    val incRoot = new org.apache.hadoop.fs.Path(s"$dir/postings_inc")
    val fs = incRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(incRoot)) base
    else fs.listStatus(incRoot).filter(st => st.isDirectory &&
        st.getPath.getName.matches("batch_\\d+") &&
        // a batch dir with no part files (an interrupted write, or an empty
        // micro-batch written by an older ivfAppendStream) has no schema to
        // infer — skipping it is the only correct read of "no rows"
        hasParquetFile(fs, st.getPath))
      .map(st => spark.read.parquet(st.getPath.toString).withColumn("_batch",
        lit(st.getPath.getName.stripPrefix("batch_").toLong + 1L)))
      .foldLeft(base)((acc, b) => acc.unionByName(b))
  }

  private[graft] def hasParquetFile(fs: org.apache.hadoop.fs.FileSystem,
                                    p: org.apache.hadoop.fs.Path): Boolean = {
    val it = fs.listFiles(p, true)
    var found = false
    while (!found && it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) found = true
    }
    found
  }

  /** Fold accumulated streaming increments (postings_inc/batch_*) back into
    * the base postings relation — the index's HAR-style re-layout pass
    * (reference analog: hadoop-archives re-packs accumulated small files,
    * HadoopArchives.java:1). Queries see either layout identically
    * (readIndexPostings merges on read); compaction restores one
    * bucket-partitioned relation so partition discovery lists ONE dir and
    * per-bucket file counts stop growing with ingest batch count.
    *
    * Crash-safety (single-writer maintenance op): the merged relation is
    * staged under postings_cmp and only then swapped onto postings/, so a
    * crash before the swap leaves the readable layout untouched. A crash
    * BETWEEN the swap and the increment delete leaves increments both
    * folded and still present — which is why the merge dedups on vec_id (a
    * posting is one vector): re-running compactIndex heals that state
    * instead of materializing duplicates, and re-ingested vec_ids can no
    * longer surface twice in a top-k. The dedup is DETERMINISTIC
    * latest-wins: each layer carries a batch ordinal
    * ([[readIndexPostingsBatched]]) and max-ordinal wins per vec_id (ties
    * broken on the row content hash), so a vector re-ingested with a new
    * embedding compacts to the NEW embedding on every run — never
    * "whichever partition dropDuplicates happened to see first". No-op
    * when no increments exist. */
  def compactIndex(spark: SparkSession, dir: String): Unit = {
    val incRoot = new org.apache.hadoop.fs.Path(s"$dir/postings_inc")
    val fs = incRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(incRoot)) return
    val staging = s"$dir/postings_cmp"
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
      .orderBy(col("_batch").desc, xxhash64(col("bucket"), col("embedding")))
    readIndexPostingsBatched(spark, dir)
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .drop("_rn", "_batch")
      .write.mode("overwrite").partitionBy("bucket").parquet(staging)
    graft.sources.IO.swapPath(spark, staging, s"$dir/postings")
    graft.sources.IO.deletePath(spark, s"$dir/postings_inc")
  }

  def ivfQueryIndex(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int = 5, nprobe: Int = 3): DataFrame = {
    val probes = ivfIndexProbes(spark, dir, queries, nprobe)
    val probeBuckets = probes.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted
    val postings = readIndexPostings(spark, dir)
      .filter(col("bucket").isin(probeBuckets.map(b => b: Any): _*))
    val scored = postings.join(broadcast(probes), Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", round(cosineSim(col("qe"), col("embedding")), 6))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
    rankTopK(scored, k)
  }
}
