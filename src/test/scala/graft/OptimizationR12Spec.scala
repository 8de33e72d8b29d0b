package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Round-12 optimization invariants: every internals change this round is
  * pinned against its pre-change twin on graphs/inputs that exercise both
  * code paths. */
class OptimizationR12Spec extends SparkSpecBase {

  import spark.implicits._

  test("connectedComponents: driver union-find fast path == distributed " +
    "propagate/shortcut loop (cliques, a long chain, crossing edges)") {
    // a 40-node chain (deep graph — many propagate rounds), two cliques,
    // one bridge edge merging a clique into the chain, duplicate pairs
    val chain = (1L until 40L).map(i => (100L + i - 1, 100L + i))
    val cliqueA = for (i <- 0 until 5; j <- i + 1 until 5) yield (10L + i, 10L + j)
    val cliqueB = for (i <- 0 until 4; j <- i + 1 until 4) yield (500L + i, 500L + j)
    val bridge = Seq((500L, 120L))
    val pairs = (chain ++ cliqueA ++ cliqueB ++ bridge ++ chain.take(3))
      .toDF("a_id", "b_id")
    def labels(edgeMax: Long) =
      DedupOps.connectedComponents(pairs, localEdgeMax = edgeMax)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = labels(edgeMax = 1000000L) // fast path (graph ≪ budget)
    val loop = labels(edgeMax = 0L)       // 0 disarms → distributed loop
    assert(fast == loop, "fast path must label identically to the loop")
    // min-label semantics: the chain+cliqueB component canonicalizes to
    // the global minimum reachable id (100), cliqueA to 10
    val byComp = fast.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    assert(byComp(10L) == (10L until 15L).toSet)
    assert(byComp(100L) == ((100L until 140L) ++ (500L until 504L)).toSet)
  }

  test("connectedComponents fast path: empty pair set and single pair") {
    val empty = DedupOps.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")).collect()
    assert(empty.isEmpty)
    val one = DedupOps.connectedComponents(Seq((7L, 3L)).toDF("a_id", "b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one == Set((7L, 3L), (3L, 3L)))
  }

  test("trainKmeans dense-partial path: centroids are exact cluster means " +
    "on a separable corpus, and the map-side assignment matches them") {
    // two tight clusters on orthogonal axes — Lloyd from any sane init
    // assigns them cleanly, so the centroid must equal the exact mean
    val vecs = (0 until 8).map(i => (i.toLong, Array(1.0f + 0.1f * i, 0.0f))) ++
      (8 until 16).map(i => (i.toLong, Array(0.0f, 1.0f + 0.1f * (i - 8))))
    val emb = vecs.toDF("vec_id", "embedding")
    val cs = SimilarityOps.trainKmeans(emb, k = 2, iters = 3, centroidStride = 8)
    assert(cs.length == 2)
    val means = Seq(
      Array((0 until 8).map(i => 1.0 + 0.1 * i).sum / 8.0, 0.0),
      Array(0.0, (0 until 8).map(i => 1.0 + 0.1 * i).sum / 8.0))
    // each trained centroid matches one exact mean to float precision
    means.foreach { m =>
      assert(cs.exists(c => math.abs(c(0) - m(0)) < 1e-5 &&
        math.abs(c(1) - m(1)) < 1e-5),
        s"expected a centroid at (${m(0)}, ${m(1)}), got ${cs.map(_.toSeq).toSeq}")
    }
    val assigned = SimilarityOps.assignFromCentroidRelation(emb,
        SimilarityOps.kmeansCentroidRelation(spark, cs))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0L until 8L).map(assigned).distinct.length == 1)
    assert((8L until 16L).map(assigned).distinct.length == 1)
    assert(assigned(0L) != assigned(8L))
  }

  test("logGrepSort: scale-adaptive default bucket count == explicit counts") {
    val lines = (0 until 200).map(i =>
      f"2024-01-${1 + i % 28}%02dT10:00:00 ${if (i % 3 == 0) "click" else "view"} $i")
      .toDF("line")
    def ranks(p: Int) = TextOps.logGrepSort(lines, "click", partitions = p)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(ranks(0) == ranks(7), "session-width default must match any explicit count")
  }
}
