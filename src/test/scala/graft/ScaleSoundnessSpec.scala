package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.functions.{BandHashes, GraftFunctions}
import graft.ops.{DedupOps, SimilarityOps}

/** Round-2 soundness fixes, each proven by construction:
  *  - simhash banding guarantees 100% recall at the advertised radius
  *  - bucketed embedding near-dup is EXACTLY the all-pairs result, minus
  *    the nested-loop join
  *  - IVF assignment is map-side (no join/window before the probe join)
  *  - band_hashes covers every signature lane when bands ∤ numPerms
  */
class ScaleSoundnessSpec extends SparkSpecBase {

  test("simhash banding: every planted pair within maxHamming is recalled") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    // 200 well-separated base fingerprints, each with a partner at an exact
    // hamming distance 0..6 (adversarial bit positions: clustered AND spread)
    val rows = (0 until 200).flatMap { i =>
      val base = rnd.nextLong()
      val d = i % 7
      val bits = rnd.shuffle((0 until 64).toList).take(d)
      val partner = bits.foldLeft(base)((f, b) => f ^ (1L << b))
      Seq((i.toLong, base), (i + 10000L, partner))
    }
    val fp = rows.toDF("doc_id", "fp")
    val found = DedupOps.simhashPairsFromFingerprints(fp, maxHamming = 6)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 200).foreach { i =>
      assert(found.contains((i.toLong, i + 10000L)),
        s"planted pair at hamming ${i % 7} missed: ($i, ${i + 10000})")
    }
  }

  test("bucketed embedding near-dup == all-pairs result, with no nested-loop join") {
    val emb = Tables.embeddings(spark, sfDir)
    val bucketed = SimilarityOps.embeddingNearDup(spark, emb)
    val exact = SpecReferences.embeddingNearDupAllPairs(spark, emb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = bucketed.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exact, s"missing=${exact -- got} extra=${got -- exact}")
    assert(exact.nonEmpty, "testdata should contain near pairs at tau=0.4")
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), s"bucketed path must not BNLJ:\n$plan")
  }

  test("IVF assignment stage is map-side: no join/window/exchange before the probe join") {
    val emb = Tables.embeddings(spark, sfDir)
    val centroids = SimilarityOps.trainCentroids(emb, 16, 50)
    val assigned = emb.select(col("vec_id"),
      GraftFunctions.nearestCentroids(col("embedding"), centroids, 1)(0).as("bucket"))
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window") && !plan.contains("Exchange"),
      s"assignment must be a pure projection:\n$plan")
    // and whole-stage codegen covers it (native expression, no fallback):
    // "*(1)" is the codegen-stage marker in the compact plan string
    assert(plan.contains("*(1) Project"), plan)
  }

  test("nearest_centroids agrees with per-centroid cosine_sim ranking") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 50L).map(i => (i, Array.fill(8)(rnd.nextFloat() - 0.5f)))
    val centroids = (0 until 5).map(_ => Array.fill(8)(rnd.nextFloat() - 0.5f)).toArray
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        GraftFunctions.nearestCentroids(col("embedding"), centroids, 2).as("nc"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    vecs.foreach { case (id, v) =>
      // the shared assignment rule: round-6 cosine desc, index asc
      val want = centroids.indices
        .sortBy(j => (-BigDecimal(cos(v, centroids(j)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, j)).take(2)
      assert(got(id) == want, s"vec $id: got ${got(id)} want $want")
    }
  }

  test("band_hashes: remainder lanes are hashed (flipping ANY lane changes a band)") {
    def bands(sig: Array[Long]): Seq[Long] =
      BandHashes.compute(new GenericArrayData(sig), 4).toLongArray().toSeq
    val sig = Array.tabulate(10L.toInt)(i => i * 1000L + 7)
    val base = bands(sig)
    (0 until 10).foreach { lane =>
      val mut = sig.clone(); mut(lane) ^= 0x5555L
      assert(bands(mut) != base, s"flipping lane $lane changed no band")
    }
    // bands > signature length is rejected (empty bands would collide everything)
    intercept[IllegalArgumentException] {
      BandHashes.compute(new GenericArrayData(Array(1L, 2L)), 4)
    }
    intercept[IllegalArgumentException] {
      DedupOps.minhashLshPairs(Tables.documents(spark, sfDir), bands = 33)
    }
  }

  test("ngram maxDf cap: conservative (capped ⊆ uncapped; generous cap is exact)") {
    val docs = Tables.documents(spark, sfDir)
    def asSet(df: org.apache.spark.sql.DataFrame) = df.select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = asSet(DedupOps.ngramJaccardPairs(docs, tau = 0.8))
    // cap far above any real df → identical output
    assert(asSet(DedupOps.ngramJaccardPairs(docs, tau = 0.8, maxDf = Some(1000000))) == uncapped)
    // tight cap only ever REMOVES pairs (intersection shrinks, sizes don't)
    val capped = asSet(DedupOps.ngramJaccardPairs(docs, tau = 0.8, maxDf = Some(3)))
    assert(capped.subsetOf(uncapped), s"capped introduced pairs: ${capped -- uncapped}")
    assert(uncapped.nonEmpty)
  }

  test("AQE splits a skewed join partition at runtime (the 100 TB hot-key path)") {
    import spark.implicits._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force SMJ: skew-join only applies there
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32kb",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16kb",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // 150k of 200k rows share key 0 — one shuffle partition dwarfs the rest
      val big = spark.range(200000)
        .select(when(col("id") < 150000, 0L).otherwise(col("id") % 50000).as("k"),
          col("id").as("v"))
      val dim = spark.range(50000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = big.join(dim, "k")
      // collect() executes joined's own adaptive plan (count() would build a
      // separate one and leave this plan isFinalPlan=false)
      val n = joined.collect().length
      assert(n == 200000, s"inner join row count wrong: $n")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"AQE must mark the skewed partition for splitting:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("connectedComponents: min-label propagation over chains, stars and cliques") {
    import spark.implicits._
    // adversarial for propagation: a 12-node PATH (needs multiple rounds for
    // the min label to travel end-to-end), a star, a triangle clique, and an
    // isolated pair; labels must be the component minimum for every node.
    val path = (1L until 12L).map(i => (i, i + 1))           // comp min = 1
    val star = Seq((100L, 101L), (100L, 102L), (100L, 103L)) // comp min = 100
    val clique = Seq((200L, 201L), (201L, 202L), (200L, 202L))
    val pair = Seq((300L, 301L))
    // reversed/shuffled edge order must not matter
    val pairs = scala.util.Random.shuffle(path ++ star ++ clique ++ pair)
      .map { case (a, b) => (b, a) }.toDF("a_id", "b_id")
    val got = DedupOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 12L).foreach(i => assert(got(i) == 1L, s"path node $i"))
    (100L to 103L).foreach(i => assert(got(i) == 100L, s"star node $i"))
    (200L to 202L).foreach(i => assert(got(i) == 200L, s"clique node $i"))
    (300L to 301L).foreach(i => assert(got(i) == 300L, s"pair node $i"))
    assert(got.size == 12 + 4 + 3 + 2)
  }
}
