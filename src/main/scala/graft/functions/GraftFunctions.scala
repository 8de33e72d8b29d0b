package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function

/** Function table + Column-level API for graft's native Catalyst expressions.
  *
  * [[builders]] is the one table of graft functions, and
  * [[graft.GraftExtensions]] is the only code that puts it into a session:
  * it injects every entry when the session is built, so the functions
  * resolve from both the Column API (via call_function) and plain SQL
  * (`SELECT cosine_sim(a, b)`). The Column forms below therefore need a
  * session built with that extension, which `graft.GraftSessions.local`
  * provides.
  */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

  /** Every graft native function: (SQL name, expression builder). */
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> (e => CosineSimilarity(e(0), e(1))),
    "dot_f" -> (e => DotProductF(e(0), e(1))),
    "tile_neardup_pairs" -> (e => TileNearDupPairs(e(0), e(1),
      e(2).eval().asInstanceOf[Number].doubleValue())),
    "tile_levenshtein_pairs" -> (e => TileLevenshteinPairs(e(0), e(1),
      e(2).eval().asInstanceOf[Number].intValue())),
    "tile_hamming_pairs" -> (e => TileHammingPairs(e(0), e(1), e(2),
      e(3).eval().asInstanceOf[Number].intValue(),
      e(4).eval().asInstanceOf[Number].intValue())),
    "simhash64" -> (e => SimHash64(e.head)),
    "simhash64_weighted" -> (e => SimHashWeighted(e(0), evalStrings(e(1)),
      evalDoubles(e(2)).toSeq,
      e(3).eval().asInstanceOf[Number].doubleValue())),
    "minhash_sig" -> (e => MinHashSignature(e(0),
      e(1).eval().asInstanceOf[Number].intValue())),
    "shingles" -> (e => ShingleArray(e(0),
      e(1).eval().asInstanceOf[Number].intValue())),
    "shingle_hashes" -> (e => ShingleHashes(e(0),
      e(1).eval().asInstanceOf[Number].intValue())),
    "band_hashes" -> (e => BandHashes(e(0),
      e(1).eval().asInstanceOf[Number].intValue())),
    "rolling_min_hash" -> (e => RollingMinHash(e(0),
      e(1).eval().asInstanceOf[Number].intValue())),
    "rolling_window_hashes" -> (e => RollingWindowHashes(e(0),
      e(1).eval().asInstanceOf[Number].intValue())),
    "rolling_char_window_hashes" -> (e => RollingCharWindowHashes(e(0),
      e(1).eval().asInstanceOf[Number].intValue())),
    "poly_hash64" -> (e => PolyHash64(e(0))),
    "sorted_intersect_count" -> (e => SortedIntersectCount(e(0), e(1))),
    "synthetic_doc_text" -> (e => SyntheticDocText(e(0),
      e(1).eval().asInstanceOf[Number].intValue(),
      e(2).eval().asInstanceOf[Number].longValue(),
      if (e.length > 3) e(3).eval().asInstanceOf[Number].doubleValue()
      else 0.0)),
    "synthetic_embedding" -> (e => SyntheticEmbedding(e(0),
      e(1).eval().asInstanceOf[Number].intValue(),
      e(2).eval().asInstanceOf[Number].intValue(),
      e(3).eval().asInstanceOf[Number].longValue())),
    "bucket_count_sketch" -> (e => BucketCountSketch(e(0))),
    "quantize_stats" -> (e => QuantizeStats(e(0))),
    "sketch_intersect_ub" -> (e => SketchIntersectUB(e(0), e(1))),
    "bounded_levenshtein" -> (e => BoundedLevenshtein(e(0), e(1),
      e(2).eval().asInstanceOf[Number].intValue())),
    "spacesaving_topk" -> (e => SpaceSavingTopK(e(0),
      e(1).eval().asInstanceOf[Number].intValue()).toAggregateExpression()),
    "nearest_centroids" -> (e => NearestCentroids(e(0), evalCentroids(e(1)),
      e(2).eval().asInstanceOf[Number].intValue())),
    "bloom_build" -> (e => BloomBuildAgg(e(0),
      e(1).eval().asInstanceOf[Number].intValue(),
      e(2).eval().asInstanceOf[Number].intValue()).toAggregateExpression()),
    "bloom_might_contain" -> (e => BloomMightContain(e(0), e(1))),
    "bpe_encode" -> (e => BpeEncode(e(0), evalMerges(e(1)))),
    "hashed_linear_margin" -> (e => HashedLinearMargin(e(0), evalDoubles(e(1)))),
    "unigram_encode" -> (e => UnigramEncode(e(0), evalStrings(e(1)),
      evalDoubles(e(2)).toSeq)),
    "hyperplane_lsh" -> (e => HyperplaneLsh(e(0), evalCentroids(e(1)),
      e(2).eval().asInstanceOf[Number].intValue(),
      e(3).eval().asInstanceOf[Number].intValue(),
      // optional 5th arg: multi-probe flips per table (default 0)
      if (e.length > 4) e(4).eval().asInstanceOf[Number].intValue()
      else 0)))

  private[graft] def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", name)

  /** Fold a foldable array<array<string>> merge-table argument into the
    * (left, right) merge pairs for [[BpeEncode]]. */
  private[graft] def evalMerges(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[(String, String)] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val outer = e.eval().asInstanceOf[ArrayData]
    (0 until outer.numElements()).map { j =>
      val p = outer.getArray(j)
      require(p.numElements() == 2, "bpe_encode: each merge must be [left, right]")
      (p.getUTF8String(0).toString, p.getUTF8String(1).toString)
    }
  }

  /** Fold a foldable array<double> argument (e.g. a trained weight vector)
    * into a primitive double array for [[HashedLinearMargin]]. */
  private[graft] def evalDoubles(e: org.apache.spark.sql.catalyst.expressions.Expression): Array[Double] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    e.eval().asInstanceOf[ArrayData].toDoubleArray()
  }

  /** Fold a foldable array<string> argument into a Seq[String]. */
  private[graft] def evalStrings(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[String] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = e.eval().asInstanceOf[ArrayData]
    (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
  }

  /** Fold a foldable array<array<float|double>> argument into the model
    * matrix. SQL numeric literals are doubles, so the SQL-text path
    * (`nearest_centroids(v, array(array(0.5, ...)), 1)`) needs the double
    * branch — without it the cast fails with an opaque ClassCastException. */
  private[graft] def evalCentroids(e: org.apache.spark.sql.catalyst.expressions.Expression): Array[Array[Float]] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val outer = e.eval().asInstanceOf[ArrayData]
    val elemType = e.dataType match {
      case ArrayType(ArrayType(t, _), _) => t
      case other => throw new IllegalArgumentException(
        s"expected array<array<float|double>> model argument, got $other")
    }
    Array.tabulate(outer.numElements()) { j =>
      val inner = outer.getArray(j)
      elemType match {
        case FloatType => inner.toFloatArray()
        case DoubleType => inner.toDoubleArray().map(_.toFloat)
        case dt: org.apache.spark.sql.types.DecimalType => // ANSI SQL literals (0.5)
          inner.toObjectArray(dt)
            .map(_.asInstanceOf[org.apache.spark.sql.types.Decimal].toFloat)
        case other => throw new IllegalArgumentException(
          s"expected float/double/decimal model elements, got $other")
      }
    }
  }

  /** Space-Saving heavy-hitters aggregate (custom TypedImperativeAggregate). */
  def spacesavingTopK(item: Column, capacity: Int): Column =
    call_function("spacesaving_topk", item, org.apache.spark.sql.functions.lit(capacity))

  /** |A ∩ B| for sorted distinct long arrays (native, codegen'd). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)

  /** Deterministic synthetic-corpus text of doc `id` (planted-duplicate
    * generation — see SyntheticCorpus; `stopFrac` > 0 adds the global
    * stopword head, default bit-identical to the historical stream). */
  def syntheticDocText(id: Column, vocab: Int, seed: Long,
                       stopFrac: Double = 0.0): Column =
    call_function("synthetic_doc_text", id,
      org.apache.spark.sql.functions.lit(vocab),
      org.apache.spark.sql.functions.lit(seed),
      org.apache.spark.sql.functions.lit(stopFrac))

  /** Deterministic synthetic embedding of vec `id` (planted clusters). */
  def syntheticEmbedding(id: Column, dim: Int, nClusters: Int, seed: Long): Column =
    call_function("synthetic_embedding", id,
      org.apache.spark.sql.functions.lit(dim), org.apache.spark.sql.functions.lit(nClusters),
      org.apache.spark.sql.functions.lit(seed))

  /** 256-byte top-byte bucket-count sketch of a distinct-hash array —
    * feeds the exact-admissible intersection upper bound below. */
  def bucketCountSketch(hv: Column): Column =
    call_function("bucket_count_sketch", hv)

  /** Σ min over two bucket-count sketches: an upper bound on |A ∩ B|
    * (-1 = bound unavailable, keep the candidate). Codegen'd. */
  def sketchIntersectUB(a: Column, b: Column): Column =
    call_function("sketch_intersect_ub", a, b)

  /** One-pass int8-quantization stats of a float vector —
    * struct(scale, max_abs_err, dot, nx, ny); see QuantizeStats. */
  def quantizeStats(e: Column): Column = call_function("quantize_stats", e)

  /** Thresholded Levenshtein (Myers bit-parallel; -1 past the threshold) —
    * same contract as builtin levenshtein(a, b, k), ~10× cheaper on short
    * ASCII keys whose distances cluster near the threshold. */
  def boundedLevenshtein(a: Column, b: Column, k: Int): Column =
    call_function("bounded_levenshtein", a, b, org.apache.spark.sql.functions.lit(k))

  /** Winnowing-style min rolling hash over k-byte windows (native expr). */
  def rollingMinHash(text: Column, k: Int): Column =
    call_function("rolling_min_hash", text, org.apache.spark.sql.functions.lit(k))

  /** ALL k-byte window hashes (array<bigint>) — Verify-support twin of
    * rolling_min_hash so the min reduction can be oracle-checked. */
  def rollingWindowHashes(text: Column, k: Int): Column =
    call_function("rolling_window_hashes", text, org.apache.spark.sql.functions.lit(k))

  /** ALL k-CHAR window hashes for multibyte text, each equal to
    * poly_hash64 of that window's substring (see RollingCharWindowHashes —
    * the substring-dedup non-ASCII path without per-window substr). */
  def rollingCharWindowHashes(text: Column, k: Int): Column =
    call_function("rolling_char_window_hashes", text, org.apache.spark.sql.functions.lit(k))

  /** Whole-string polynomial hash in rolling_window_hashes' space (see
    * PolyHash64 — the substring-dedup non-ASCII fallback hasher). */
  def polyHash64(text: Column): Column =
    call_function("poly_hash64", text)

  /** Distinct word n-gram shingles of a token array (native expr). */
  def shingleArray(tokens: Column, n: Int): Column =
    call_function("shingles", tokens, org.apache.spark.sql.functions.lit(n))

  /** Sorted xxhash64 values of a text's distinct word n-gram shingles
    * (native expr, one pass over the text; see ShingleHashes). */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("shingle_hashes", text, org.apache.spark.sql.functions.lit(n))

  /** LSH band hashes of a MinHash signature (native expr). */
  def bandHashes(sig: Column, bands: Int): Column =
    call_function("band_hashes", sig, org.apache.spark.sql.functions.lit(bands))

  /** MinHash signature (array<bigint>) of 64-bit shingle hashes (native
    * expr; reduces each hash mod 2^31−1 itself — see MinHashSignature). */
  def minhashSig(hashes: Column, numPerms: Int): Column =
    call_function("minhash_sig", hashes, org.apache.spark.sql.functions.lit(numPerms))

  /** Cosine similarity of two array<float> columns (codegen'd, double acc). */
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)

  /** Dot product of two array<float> columns (codegen'd, double products) —
    * lets pair-dominated joins precompute norms per vector; see DotProductF. */
  def dotF(a: Column, b: Column): Column = call_function("dot_f", a, b)

  /** Tile scorer for the exact near-dup join — all qualifying (a_id, b_id,
    * cos) pairs of two vector blocks; see TileNearDupPairs. */
  def tileNearDupPairs(blkA: Column, blkB: Column, tau: Double): Column =
    call_function("tile_neardup_pairs", blkA, blkB,
      org.apache.spark.sql.functions.lit(tau))

  /** Tile scorer for the blocked edit-distance join — all (a_id, b_id,
    * dist ≤ maxDist) pairs of two prefix blocks; see TileLevenshteinPairs. */
  def tileLevenshteinPairs(blkA: Column, blkB: Column, maxDist: Int): Column =
    call_function("tile_levenshtein_pairs", blkA, blkB,
      org.apache.spark.sql.functions.lit(maxDist))

  /** Tile scorer for the banded SimHash self-join — the (fa, fb,
    * hamming ≤ maxHamming) pairs of two fingerprint blocks, each emitted
    * only at its FIRST agreeing band (exactly-once across the banded join);
    * see TileHammingPairs. */
  def tileHammingPairs(blkA: Column, blkB: Column, band: Column,
                       maxHamming: Int, nBands: Int): Column =
    call_function("tile_hamming_pairs", blkA, blkB, band,
      org.apache.spark.sql.functions.lit(maxHamming),
      org.apache.spark.sql.functions.lit(nBands))

  /** BPE subword tokens of a text column under a trained merge table
    * (graft.functions.BpeEncode — map-side, model shipped with the plan). */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_encode", text,
      org.apache.spark.sql.functions.typedlit(merges.map(m => Seq(m._1, m._2))))

  /** Unigram-LM subword tokenization of a text column under a trained
    * (piece, log-prob) vocabulary — the SentencePiece-unigram twin of
    * [[bpeEncode]]; model folds into the expression at resolution. */
  def unigramEncode(text: Column, model: Seq[(String, Double)]): Column =
    call_function("unigram_encode", text,
      org.apache.spark.sql.functions.typedlit(model.map(_._1)),
      org.apache.spark.sql.functions.typedlit(model.map(_._2)))

  /** Linear-model margin over hashed bag-of-words features of a text column
    * (weights = D feature slots + trailing bias; see HashedLinearMargin).
    * The weight literal is folded into the expression's model state at
    * resolution — it never rides the plan as a literal child. */
  def hashedLinearMargin(text: Column, weights: Array[Double]): Column =
    call_function("hashed_linear_margin", text,
      org.apache.spark.sql.functions.typedlit(weights.toSeq))

  /** Indexes of the k nearest centroids by cosine (map-side argmax over the
    * bounded model matrix — no join, no window). */
  def nearestCentroids(vec: Column, centroids: Array[Array[Float]], k: Int): Column =
    call_function("nearest_centroids", vec,
      org.apache.spark.sql.functions.typedlit(centroids.map(_.toSeq).toSeq),
      org.apache.spark.sql.functions.lit(k))

  /** Multi-table sign-LSH bucket ids (array<int>, namespaced per table) —
    * map-side bucketing for the LSH-ANN path. `probes` > 0 additionally
    * emits the lowest-margin single-bit-flip buckets per table (multi-probe
    * querying — use on the query side only; see HyperplaneLsh). */
  def hyperplaneLsh(vec: Column, planes: Array[Array[Float]],
                    tables: Int, bits: Int, probes: Int = 0): Column =
    call_function("hyperplane_lsh", vec,
      org.apache.spark.sql.functions.typedlit(planes.map(_.toSeq).toSeq),
      org.apache.spark.sql.functions.lit(tables),
      org.apache.spark.sql.functions.lit(bits),
      org.apache.spark.sql.functions.lit(probes))

  /** 64-bit SimHash fingerprint of an array<string> token column. */
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  /** WEIGHTED 64-bit SimHash: token t votes ±weight(t) per bit lane; tokens
    * absent from the table vote ±defaultWeight. The (word, weight) table
    * folds into the expression's model state at resolution (bounded-model
    * pattern — see SimHashWeighted). Empty table + default 1.0 is
    * bit-identical to [[simhash64]]. */
  def simhash64Weighted(tokens: Column, words: Seq[String],
                        weights: Seq[Double], defaultWeight: Double): Column =
    call_function("simhash64_weighted", tokens,
      org.apache.spark.sql.functions.typedlit(words),
      org.apache.spark.sql.functions.typedlit(weights),
      org.apache.spark.sql.functions.lit(defaultWeight))

  /** Distributed bloom-filter build over a LONG hash column (one blob out;
    * see BloomBuildAgg). Pair with [[bloomMightContain]]. */
  def bloomBuild(hash: Column, numBits: Int, k: Int): Column =
    call_function("bloom_build", hash,
      org.apache.spark.sql.functions.lit(numBits),
      org.apache.spark.sql.functions.lit(k))

  /** Map-side membership test of a LONG hash column against a built blob
    * (false positives possible — re-verify exactly; never false negatives).
    *
    * Blob transport is size-gated: a small blob rides the expression tree
    * as a literal (codegen'd native probe, zero per-row boundary). A LARGE
    * blob must NOT — an expression literal is serialized into EVERY task
    * binary and deserialized per task, so a 134 MB filter (the 2^30-bit
    * cap) became a ~300 MB task binary whose 32 concurrent
    * ObjectInputStream graphs OOM'd a 24 GB heap (the r10/r11 500 k
    * dedup_substring death). Large blobs ship ONCE per executor as a
    * broadcast of the parsed model; the probe is a closure over the
    * broadcast — the canonical Spark pattern for big read-only state. */
  def bloomMightContain(hash: Column, blob: Array[Byte]): Column =
    if (blob.length <= (1 << 20))
      call_function("bloom_might_contain", hash,
        org.apache.spark.sql.functions.lit(blob))
    else {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      val bc = sc.broadcast(GraftBloom.parse(blob))
      val probe = org.apache.spark.sql.functions.udf(
        (h: Long) => bc.value.mightContain(h))
      probe(hash)
    }

  /** Hamming distance between two 64-bit fingerprints (pure builtin combo —
    * bit_count is codegen'd). */
  def hamming64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))
}
