package graft

import org.apache.spark.sql.functions._
import graft.ops.{Classifier, TextAnalysis, TextOps}

/** Specs for the hashed-feature logistic classifier (training arithmetic,
  * separation quality, map-side/declarative scoring identity) and the
  * Count-Min sketch (overestimate guarantee, no-collision exactness,
  * per-row mass conservation). */
class ClassifierCmsSpec extends SparkSpecBase {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("trainLogReg: sparse preconditioned updates == dense standardized reference") {
    import spark.implicits._
    // 4 docs, D=4: feature 1 discriminates, features 0/2 are noise
    val rows = Seq(
      (0L, 1, Map(0 -> 0.5, 1 -> 0.5)),
      (1L, 1, Map(1 -> 0.4, 2 -> 0.6)),
      (2L, 0, Map(0 -> 0.7, 2 -> 0.3)),
      (3L, 0, Map(2 -> 1.0)))
    val d = 4
    val feats = rows.flatMap { case (id, y, f) => f.map { case (j, v) => (id, y, j, v) } }
      .toDF("doc_id", "y", "idx", "v").repartition(1)
    val (iters, lr) = (7, 3.0)
    val got = Classifier.trainLogReg(feats, d, iters, lr, l2 = 0.0)
    // dense textbook reference: explicit (x−μ)/σ matrix, full-batch GD,
    // model mapped back to raw space — the sparse folded optimizer must
    // produce the same numbers without ever densifying
    val x = rows.map { case (_, _, f) => Array.tabulate(d)(j => f.getOrElse(j, 0.0)) }
    val y = rows.map(_._2.toDouble)
    val n = rows.length.toDouble
    val mu = Array.tabulate(d)(j => x.map(_(j)).sum / n)
    val sd = Array.tabulate(d)(j =>
      math.sqrt(math.max(x.map(r => r(j) * r(j)).sum / n - mu(j) * mu(j), 1e-12)))
    val xs = x.map(r => Array.tabulate(d)(j => (r(j) - mu(j)) / sd(j)))
    val w = new Array[Double](d); var b = 0.0
    for (_ <- 1 to iters) {
      val g = new Array[Double](d); var gb = 0.0
      xs.zip(y).foreach { case (r, yy) =>
        val m = b + r.zip(w).map { case (a, c) => a * c }.sum
        val p = 1.0 / (1.0 + math.exp(-m))
        for (j <- 0 until d) g(j) += (p - yy) * r(j)
        gb += p - yy
      }
      for (j <- 0 until d) w(j) -= lr * g(j) / n
      b -= lr * gb / n
    }
    val expRaw = Array.tabulate(d)(j => w(j) / sd(j))
    val expBias = b - (0 until d).map(j => w(j) * mu(j) / sd(j)).sum
    for (j <- 0 until d)
      assert(math.abs(got(j) - expRaw(j)) < 1e-9, s"w($j): ${got(j)} vs ${expRaw(j)}")
    assert(math.abs(got(d) - expBias) < 1e-9, s"bias: ${got(d)} vs $expBias")
    // and the model actually separates the toy set in raw space
    rows.foreach { case (_, yy, f) =>
      val m = got(d) + f.map { case (j, v) => got(j) * v }.sum
      assert((m > 0) == (yy == 1), s"toy doc misclassified: margin $m label $yy")
    }
  }

  test("quality_classifier learns the stopword-density rule on the gate corpus") {
    val d = 1 << 15
    val label = Classifier.stopDensityLabel()
    val feats = Classifier.hashedFeatures(docs, label, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val w = Classifier.trainLogReg(feats, d, iters = 15)
    val (loss, acc) = SpecReferences.evaluate(feats, d, w)
    // disjoint language vocabularies -> a linear probe should separate well
    assert(acc >= 0.9, s"train accuracy $acc")
    assert(loss < math.log(2.0), s"loss $loss not below the all-zeros baseline")
    // map-side native expression == declarative join scoring (pins the
    // byte-walk tokenizer + murmur3 index arithmetic to Spark's hash())
    val mapSide = Classifier.scoreMapSide(docs, label, w)
    val joined = Classifier.scoreJoined(
      docs.select(col("doc_id"), label.as("y")), feats, d, w)
    val cmp = mapSide.select(col("doc_id"), col("margin").as("m_map"), col("pred").as("p_map"))
      .join(joined.select(col("doc_id"), col("margin").as("m_join"),
        col("pred").as("p_join")), Seq("doc_id"))
    val bad = cmp.filter(abs(col("m_map") - col("m_join")) > 2e-5 ||
      col("p_map") =!= col("p_join")).count()
    assert(bad == 0, s"$bad docs disagree between map-side and joined scoring")
    feats.unpersist()
  }

  test("scoreMapSide: empty/whitespace text scores the bare bias, no shuffle") {
    import spark.implicits._
    val w = new Array[Double](9); w(8) = 0.25 // D=8, bias=0.25
    val df = Seq((1L, ""), (2L, " \t\n "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
    val out = Classifier.scoreMapSide(df, lit(1), w).collect()
      .map(r => r.getLong(0) -> r.get(2)).toMap
    assert(out(1L) == 0.25 && out(2L) == 0.25)
    assert(out(3L) == null) // null text -> null margin
    val plan = Classifier.scoreMapSide(docs, lit(1), w)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), "map-side scoring must not shuffle")
  }

  test("classifier edge cases: empty corpus trains a zero model; UTF-8 hash identity") {
    import spark.implicits._
    val d = 256
    // empty training set: no stats, no gradient — zero weights, no crash
    val empty = Seq.empty[(Long, Int, Int, Double)].toDF("doc_id", "y", "idx", "v")
    val w0 = Classifier.trainLogReg(empty, d, iters = 3)
    assert(w0.forall(_ == 0.0))
    // multi-byte tokens: the native expression's byte-walk tokenizer +
    // murmur3 must address the same slots as split()+hash() — UTF-8
    // continuation bytes are ≥ 0x80, so byte-level \s splitting is exact
    val docs = Seq((1L, "héllo wörld héllo"), (2L, "日本語 テスト"),
      (3L, "mixé ascii méls"), (4L, "héllo 日本語"))
      .toDF("doc_id", "text")
    val w = Array.tabulate(d + 1)(j => ((j % 11) - 5) * 0.07)
    val feats = Classifier.hashedFeatures(docs, lit(1), d)
    val joined = Classifier.scoreJoined(
      docs.select(col("doc_id"), lit(1).as("y")), feats, d, w)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val mapSide = Classifier.scoreMapSide(docs, lit(1), w)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(joined == mapSide, s"UTF-8 margin mismatch: $joined vs $mapSide")
  }

  test("cms: overestimate guarantee and exactness without collisions") {
    // gate-shaped call: est >= true for every heavy hitter
    val out = TextAnalysis.cmsHeavyHitters(docs).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CMS underestimated ${r.getString(0)}: est ${r.getLong(2)} < true ${r.getLong(1)}")
    }
    // small vocabulary + wide rows -> no collisions -> exact on every word
    val exact = TextAnalysis.cmsHeavyHitters(docs, depth = 4, width = 1 << 16, k = 20)
    exact.collect().foreach(r => assert(r.getLong(2) == r.getLong(1),
      s"collision-free CMS must be exact: ${r.getString(0)}"))
    // width 2 forces collisions: still never under, and some cell overcounts
    val tiny = TextAnalysis.cmsHeavyHitters(docs, depth = 2, width = 2, k = 5).collect()
    tiny.foreach(r => assert(r.getLong(2) >= r.getLong(1)))
    assert(tiny.exists(r => r.getLong(2) > r.getLong(1)),
      "width-2 sketch cannot be collision-free on a multi-word vocabulary")
  }

  test("cms matrix: each row conserves total token mass") {
    val total = docs.select(explode(TextOps.tokens(col("text"))).as("w")).count()
    val rows = TextAnalysis.cmsMatrix(docs, depth = 4, width = 64)
      .groupBy(col("d")).agg(sum(col("c")).as("mass")).collect()
    assert(rows.length == 4)
    rows.foreach(r => assert(r.getLong(1) == total,
      s"row ${r.getInt(0)} mass ${r.getLong(1)} != $total"))
  }
}
