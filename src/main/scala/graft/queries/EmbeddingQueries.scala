package graft
package queries

import org.apache.spark.sql.functions.col
import graft.ops._
import graft.sources.IO.readParquet

/** Embedding operators (SURVEY.md §2.3): exact and approximate nearest
  * neighbours, k-means, quantization and semantic dedup. */
object EmbeddingQueries {
  val all: Seq[QuerySpec] = Seq(
    QuerySpec("embedding_neardup", (s, d) => SimilarityOps.embeddingNearDup(s, Tables.embeddings(s, d)),
      () => """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),5) AS cos
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]),5) >= 0.4""",
      planted = Some(Planted.cosinePairs(0.4))),
    QuerySpec("ann_bruteforce_topk", (s, d) => SimilarityOps.bruteForceTopK(Tables.embeddings(s, d)),
      () => """WITH scored AS (
           SELECT q.vec_id AS q_id, n.vec_id AS n_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cos
           FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
           WHERE q.vec_id < 10),
         ranked AS (SELECT q_id, n_id, cos,
           row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM scored)
         SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 5"""),
    // Under Verify the bucket/probe relations are
    // materialized and the result recomputed from them, so the DuckDB
    // oracle can recover candidates + score + rank over the identical
    // relations (simhash-dump pattern). Bench/library take the direct path.
    // Candidate recovery + exact scoring + ranking over the bucket/probe
    // relations the Verify run dumped — checks the bucket join, the cosine
    // scoring, and the (cos desc, n_id) ranking independently; the bucketing
    // function itself is the dumped relation (spec-covered).
    {
      val bucketDir = QuerySpec.dumpDir("graft_ivf_buckets")
      val probeDir = QuerySpec.dumpDir("graft_ivf_probes")
      QuerySpec("ann_ivf_topk", (s, d) => SimilarityOps.ivfTopK(Tables.embeddings(s, d)),
        () => s"""WITH b AS (SELECT n_id, bucket FROM read_parquet('$bucketDir/*.parquet')),
           p AS (SELECT q_id, bucket FROM read_parquet('$probeDir/*.parquet')),
           cand AS (SELECT DISTINCT p.q_id, b.n_id
             FROM b JOIN p ON b.bucket = p.bucket WHERE p.q_id <> b.n_id),
           scored AS (SELECT c.q_id, c.n_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cos
             FROM cand c JOIN embeddings q ON q.vec_id = c.q_id
                         JOIN embeddings n ON n.vec_id = c.n_id),
           ranked AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM scored)
         SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 5""",
        verify = Some { (s, d) =>
          val emb = Tables.embeddings(s, d)
          val (buckets, probes) = SimilarityOps.ivfBucketRelations(emb)
          buckets.coalesce(1).write.mode("overwrite").parquet(bucketDir)
          probes.coalesce(1).write.mode("overwrite").parquet(probeDir)
          SimilarityOps.topKFromBucketDumps(emb,
            readParquet(s, bucketDir), readParquet(s, probeDir), k = 5)
        })
    },
    {
      val bucketDir = QuerySpec.dumpDir("graft_lsh_buckets")
      val probeDir = QuerySpec.dumpDir("graft_lsh_probes")
      QuerySpec("ann_lsh_topk", (s, d) => SimilarityOps.annLshTopK(Tables.embeddings(s, d)),
        () => s"""WITH b AS (SELECT n_id, bucket FROM read_parquet('$bucketDir/*.parquet')),
           p AS (SELECT q_id, bucket FROM read_parquet('$probeDir/*.parquet')),
           cand AS (SELECT DISTINCT p.q_id, b.n_id
             FROM b JOIN p ON b.bucket = p.bucket WHERE p.q_id <> b.n_id),
           scored AS (SELECT c.q_id, c.n_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cos
             FROM cand c JOIN embeddings q ON q.vec_id = c.q_id
                         JOIN embeddings n ON n.vec_id = c.n_id),
           ranked AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM scored)
         SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 5""",
        verify = Some { (s, d) =>
          val emb = Tables.embeddings(s, d)
          val (buckets, probes) = SimilarityOps.lshBucketRelations(emb)
          buckets.coalesce(1).write.mode("overwrite").parquet(bucketDir)
          probes.coalesce(1).write.mode("overwrite").parquet(probeDir)
          SimilarityOps.topKFromBucketDumps(emb,
            readParquet(s, bucketDir), readParquet(s, probeDir), k = 5)
        })
    },
    // The index build (centroids + bucket-partitioned postings) is part of
    // the query body on purpose: an index op's honest cost IS build+probe.
    // Under Verify the probe relation is additionally dumped so the oracle
    // reads probes as data instead of replaying the argmax's unrounded
    // tie-breaking (the ann_ivf_topk dump convention); the ORACLE's
    // postings come from the persisted index itself.
    // Postings come FROM the persisted hive-partitioned index (the bucket
    // is the partition directory); probes from the dumped probe relation.
    {
      val indexDir = QuerySpec.dumpDir("graft_ivf_index")
      val probeDir = QuerySpec.dumpDir("graft_ivf_index_probes")
      QuerySpec("ann_ivf_persisted", (s, d) => {
        val emb = Tables.embeddings(s, d)
        val queries = emb.filter(col("vec_id") < 10)
        // Bench/direct runs build under a SEPARATE dir: the oracle reads the
        // Verify-built index from indexDir, and a Bench run between the
        // Verify dump and the DuckDB compare must not clobber it (it may run
        // at a different SF entirely).
        val dir = s"${indexDir}_bench"
        SimilarityOps.ivfWriteIndex(s, emb, dir)
        SimilarityOps.ivfQueryIndex(s, dir, queries)
      }, () => s"""WITH post AS (SELECT vec_id AS n_id, bucket::BIGINT AS bucket
             FROM read_parquet('$indexDir/postings/*/*.parquet', hive_partitioning=1)),
           p AS (SELECT q_id, bucket::BIGINT AS bucket
             FROM read_parquet('$probeDir/*.parquet')),
           cand AS (SELECT DISTINCT p.q_id, post.n_id
             FROM post JOIN p ON post.bucket = p.bucket WHERE p.q_id <> post.n_id),
           scored AS (SELECT c.q_id, c.n_id,
             round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]),6) AS cos
             FROM cand c JOIN embeddings q ON q.vec_id = c.q_id
                         JOIN embeddings n ON n.vec_id = c.n_id),
           ranked AS (SELECT q_id, n_id, cos,
             row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rn FROM scored)
         SELECT q_id, n_id, cos, rn FROM ranked WHERE rn <= 5""",
        verify = Some { (s, d) =>
          val emb = Tables.embeddings(s, d)
          val queries = emb.filter(col("vec_id") < 10)
          SimilarityOps.ivfWriteIndex(s, emb, indexDir)
          SimilarityOps.ivfIndexProbes(s, indexDir, queries)
            .select("q_id", "bucket")
            .coalesce(1).write.mode("overwrite").parquet(probeDir)
          SimilarityOps.ivfQueryIndex(s, indexDir, queries)
        })
    },
    // Under Verify the trained centroid relation is materialized and the
    // assignment recomputed FROM it (the IVF bucket-dump pattern), so the
    // DuckDB oracle replays the identical argmax-cosine assignment; the
    // Lloyd trainer itself stays spec-covered — it IS the dumped relation.
    {
      val centroidDir = QuerySpec.dumpDir("graft_kmeans_centroids")
      QuerySpec("kmeans_cluster", (s, d) => SimilarityOps.kmeansCluster(Tables.embeddings(s, d)),
        () => s"""WITH c AS (SELECT cluster, centroid
             FROM read_parquet('$centroidDir/*.parquet')),
           scored AS (SELECT e.vec_id, c.cluster,
               round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]),6) AS cos
             FROM embeddings e CROSS JOIN c),
           r AS (SELECT vec_id, cluster, cos,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster) AS rn
             FROM scored)
         SELECT vec_id, cluster, cos FROM r WHERE rn = 1""",
        verify = Some { (s, d) =>
          val emb = Tables.embeddings(s, d)
          val cs = SimilarityOps.trainKmeans(emb)
          SimilarityOps.kmeansCentroidRelation(s, cs)
            .coalesce(1).write.mode("overwrite").parquet(centroidDir)
          SimilarityOps.assignFromCentroidRelation(emb,
            readParquet(s, centroidDir))
        },
        planted = Some(Planted.kmeansTwins(16)))
    },
    // floor(x+0.5) on BOTH engines (round() half-modes differ); max is
    // order-free; the cosine accumulates left-to-right in list order on
    // both engines (list_sum == sequential fold), formula spelled as
    // dot/(sqrt(nx)*sqrt(ny)) to match CosineSimilarity exactly.
    QuerySpec("embedding_quantize", (s, d) => SimilarityOps.embeddingQuantize(Tables.embeddings(s, d)),
      () => """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         s AS (SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) AS amax FROM v),
         q AS (SELECT vec_id, e,
             CASE WHEN amax = 0 THEN 0.0 ELSE amax / 127.0 END AS scale FROM s),
         r AS (SELECT vec_id, e, scale,
             list_transform(e, x -> CASE WHEN scale = 0 THEN 0.0
               ELSE greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale
               END) AS recon FROM q),
         m AS (SELECT vec_id, scale,
             list_max(list_transform(e, x -> abs(x - (CASE WHEN scale = 0 THEN 0.0
               ELSE greatest(-127.0, least(127.0, floor(x / scale + 0.5))) * scale
               END)))) AS maxerr,
             list_sum(list_transform(list_zip(e, recon), p -> p[1] * p[2])) AS dot,
             list_sum(list_transform(e, x -> x * x)) AS nx,
             list_sum(list_transform(recon, x -> x * x)) AS ny
           FROM r)
         SELECT vec_id, round(scale, 9) AS scale, round(maxerr, 9) AS max_abs_err,
           round(CASE WHEN nx = 0 OR ny = 0 THEN 0.0
             ELSE dot / (sqrt(nx) * sqrt(ny)) END, 6) AS cos_recon
         FROM m"""),
    // Same dump-recovery pattern as kmeans_cluster, with its OWN centroid
    // dump (Lloyd training is run-deterministic only given partials order,
    // so each consumer materializes exactly the model it was checked on).
    // Assignment replayed from this query's OWN dumped centroid relation
    // (kmeans_cluster pattern), then the per-cluster md5-priority rank.
    {
      val centroidDir = QuerySpec.dumpDir("graft_kmeans_balanced")
      QuerySpec("cluster_balanced_sample", (s, d) => CurationPipeline.clusterBalancedSample(s, Tables.embeddings(s, d)),
        () => s"""WITH c AS (SELECT cluster, centroid
             FROM read_parquet('$centroidDir/*.parquet')),
           scored AS (SELECT e.vec_id, c.cluster,
               round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid::DOUBLE[]),6) AS cos
             FROM embeddings e CROSS JOIN c),
           a AS (SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cluster) AS rn
             FROM scored),
           asg AS (SELECT vec_id, cluster FROM a WHERE rn = 1),
           r AS (SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY cluster
                 ORDER BY md5(vec_id::VARCHAR), vec_id) AS rnk
             FROM asg)
         SELECT vec_id, cluster, rnk::BIGINT AS rnk, rnk <= 20 AS keep FROM r""",
        verify = Some { (s, d) =>
          val emb = Tables.embeddings(s, d)
          val cs = SimilarityOps.trainKmeans(emb)
          SimilarityOps.kmeansCentroidRelation(s, cs)
            .coalesce(1).write.mode("overwrite").parquet(centroidDir)
          CurationPipeline.clusterBalancedSampleFrom(s, emb,
            readParquet(s, centroidDir))
        },
        planted = Some(Planted.balancedRanks(20)))
    },
    QuerySpec("dedup_semantic", (s, d) => SimilarityOps.semanticDedup(s, Tables.embeddings(s, d)),
      () => """WITH RECURSIVE pairs AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id
           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
           WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
             b.embedding::DOUBLE[]),5) >= 0.4),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         r AS (SELECT vec_id AS id, vec_id AS comp FROM embeddings
           UNION SELECT e.src, r.comp FROM edges e JOIN r ON e.dst = r.id),
         lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id)
         SELECT v.vec_id, coalesce(l.comp, v.vec_id) AS group_id,
           v.vec_id = coalesce(l.comp, v.vec_id) AS keep
         FROM embeddings v LEFT JOIN lab l ON v.vec_id = l.id""",
      planted = Some(Planted.semanticGroups(0.4, nearFloor = 1.0))),
    // ANN (sign-LSH) scale path of dedup_semantic: candidates from the
    // multi-table bucket self-join, exact-cosine verify, same CC tail.
    // Under Verify the (vec_id, bucket) relation is dumped and both sides
    // recover pairs FROM it (the ann_lsh_topk convention) — candidate
    // join, verify, and grouping are oracle-checked; the bucketing
    // function is the dumped relation itself (spec-covered).
    // Same grouping recursion, but the pair graph is recovered from the
    // dumped sign-LSH bucket relation (candidates = any shared table
    // bucket) and verified by exact cosine — the whole ANN downstream
    // replayed by an independent engine over the identical relation.
    {
      val bucketDir = QuerySpec.dumpDir("graft_sem_ann_buckets")
      QuerySpec("dedup_semantic_ann", (s, d) => SimilarityOps.semanticDedupAnn(Tables.embeddings(s, d)),
        () => s"""WITH RECURSIVE bk AS (
           SELECT vec_id, bucket FROM read_parquet('$bucketDir/*.parquet')),
         cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
           FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         pairs AS (SELECT c.a_id, c.b_id FROM cand c
           JOIN embeddings ea ON ea.vec_id = c.a_id
           JOIN embeddings eb ON eb.vec_id = c.b_id
           WHERE round(list_cosine_similarity(ea.embedding::DOUBLE[],
             eb.embedding::DOUBLE[]),5) >= 0.4),
         edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
           UNION SELECT b_id, a_id FROM pairs),
         r AS (SELECT vec_id AS id, vec_id AS comp FROM embeddings
           UNION SELECT e.src, r.comp FROM edges e JOIN r ON e.dst = r.id),
         lab AS (SELECT id, min(comp) AS comp FROM r GROUP BY id)
         SELECT v.vec_id, coalesce(l.comp, v.vec_id) AS group_id,
           v.vec_id = coalesce(l.comp, v.vec_id) AS keep
         FROM embeddings v LEFT JOIN lab l ON v.vec_id = l.id""",
        verify = Some { (s, d) =>
          val emb = Tables.embeddings(s, d)
          // same measured-walk bits AND budget as the operator, so the
          // dumped relation IS the one the direct path buckets with
          SimilarityOps.lshIndexRelation(emb,
              bits = SimilarityOps.selfJoinBitsMeasured(emb,
                SimilarityOps.DefaultSemAnnPairBudget)._1)
            .coalesce(1).write.mode("overwrite").parquet(bucketDir)
          SimilarityOps.semanticDedupFromBuckets(emb, readParquet(s, bucketDir))
        },
        // exact twins collide in every table; near ones ride the collision
        // curve, so their recall has a floor, not a bar of 1.0
        planted = Some(Planted.semanticGroups(0.4, nearFloor = 0.9)))
    },
  )
}
