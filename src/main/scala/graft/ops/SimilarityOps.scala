package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions.{cosineSim, nearestCentroids}
import graft.sources.IO.readParquet

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
  def lshIndexRelation(emb: DataFrame, tables: Int = 8,
                       bits: Int = 4, seed: Long = 42L): DataFrame = {
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
  def semanticDedupFromBuckets(emb: DataFrame, buckets: DataFrame,
                               tau: Double = 0.4, maxBucket: Int = 0): DataFrame = {
    val pairs = semAnnCandidatePairs(emb, buckets, tau, maxBucket)
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
  private[graft] def semAnnCandidatePairs(emb: DataFrame,
                                          buckets: DataFrame, tau: Double,
                                          maxBucket: Int): DataFrame = {
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
  def semanticDedupAnn(emb: DataFrame, tau: Double = 0.4,
                       tables: Int = 8, bits: Int = 0, seed: Long = 42L,
                       maxBucket: Int = 0,
                       maxCandidatePairs: Long = DefaultSemAnnPairBudget): DataFrame = {
    // with a maxBucket cap the join volume is bounded by the cap itself,
    // so an over-budget measured bound is survivable — size best-effort
    val b = if (bits > 0) bits
      else selfJoinBitsMeasured(emb, maxCandidatePairs, tables, seed,
        allowOverBudget = maxBucket > 0)._1
    semanticDedupFromBuckets(emb,
      lshIndexRelation(emb, tables, b, seed), tau, maxBucket)
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
    * and let the measured recall (`dedup_semantic_ann`'s planted rule,
    * which Verify checks on a GenCorpus dir) be the arbiter. Walk cap 24
    * bits (the HyperplaneLsh limit); a corpus whose bound exceeds the
    * budget even there (e.g. one giant identical-vector cluster —
    * same-bucket in EVERY table at any bits) fails LOUDLY with the
    * measured bound unless `allowOverBudget` (the maxBucket-capped caller,
    * whose join volume the cap bounds regardless). */
  def selfJoinBitsMeasured(emb: DataFrame,
                           maxPairs: Long, tables: Int = 8,
                           seed: Long = 42L,
                           allowOverBudget: Boolean = false): (Int, Long) = {
    def bound(bits: Int): Long = DedupOps.pairBound(
      lshIndexRelation(emb, tables, bits, seed)
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

  /** Brute-force top-k neighbours for the query set (vec_id < nQueries).
    * Broadcast the small query side; rank with a deterministic tie-break. */
  def bruteForceTopK(emb: DataFrame,
                     nQueries: Int = 10, k: Int = 5): DataFrame = {
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
  def topKFromBucketDumps(emb: DataFrame,
                          buckets: DataFrame, probes: DataFrame, k: Int): DataFrame = {
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
  def ivfBucketRelations(emb: DataFrame, nQueries: Int = 10,
                         nlist: Int = 16, nprobe: Int = 3,
                         centroidStride: Int = 50): (DataFrame, DataFrame) = {
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
  def lshBucketRelations(emb: DataFrame, nQueries: Int = 10,
                         tables: Int = 8, bits: Int = 4,
                         seed: Long = 42L, flips: Int = 2): (DataFrame, DataFrame) = {
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
  def annLshTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
                 tables: Int = 8, bits: Int = 4, seed: Long = 42L,
                 flips: Int = 2): DataFrame = {
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

  /** IVF-style ANN: deterministic "training" picks nlist strided vectors as
    * centroids; every vector is assigned MAP-SIDE to its nearest centroid
    * (NearestCentroids — one codegen'd column, no join/window in the
    * assignment stage); queries probe only the nprobe nearest buckets. Each
    * (query, neighbour) candidate arises at most once (one bucket per
    * neighbour × distinct probe buckets), so no dedup pass is needed.
    * Same output schema as bruteForceTopK — recall measured in the spec. */
  def ivfTopK(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
              nlist: Int = 16, nprobe: Int = 3, centroidStride: Int = 50): DataFrame = {
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
  private[graft] def trainKmeans(emb: DataFrame, k: Int = 16, iters: Int = 5,
                                 centroidStride: Int = 31): Array[Array[Float]] = {
    var cs = trainCentroids(emb, k, centroidStride)
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
  def assignFromCentroidRelation(emb: DataFrame,
                                 cents: DataFrame): DataFrame = {
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
  def kmeansCluster(emb: DataFrame, k: Int = 16,
                    iters: Int = 5): DataFrame = {
    val cs = trainKmeans(emb, k, iters)
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
    val cs = trainKmeans(emb, nlist, iters, centroidStride)
    require(cs.nonEmpty, "empty corpus: nothing to index")
    // A rebuild replaces the whole index: clear the root first, so the dir
    // holds only what this build writes. (Under dynamic partition
    // overwrite, the postings write alone would keep the old postings of
    // every bucket the new model leaves empty.)
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
    val cents = readParquet(spark, s"$dir/centroids").orderBy("cluster")
      .collect().map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    val probeK = math.min(nprobe, cents.length)
    queries.select(col("vec_id").as("q_id"), col("embedding").as("qe"),
      explode(nearestCentroids(col("embedding"), cents, probeK)).as("bucket"))
  }

  /** The index's postings relation: one bucket-partitioned parquet dir,
    * written whole by [[ivfWriteIndex]], so a bucket filter on it is a
    * PartitionFilters entry. */
  private[graft] def readIndexPostings(spark: SparkSession, dir: String): DataFrame =
    readParquet(spark, s"$dir/postings")

  /** Query a persisted IVF index: probe buckets → STATIC partition pruning
    * of the postings scan (the probe-bucket set is bounded by |queries| ×
    * nprobe, so the isin filter is an explicit PartitionFilters entry —
    * deterministic pruning, no reliance on runtime DPP) → exact cosine →
    * per-query top-k. Output matches [[ivfTopK]]'s (q_id, n_id, cos, rn)
    * contract; a posting lives in exactly one bucket, so candidates never
    * duplicate. */
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
