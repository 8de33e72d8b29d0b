package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, SimHash64}
import org.apache.spark.unsafe.types.UTF8String

class FunctionsSpec extends SparkSpecBase {

  test("cosine_sim matches a reference computation and handles edge cases") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f, 2.0f), Array(2.0f, 1.0f, 0.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(GraftFunctions.cosineSim($"a", $"b")).as[Double].collect()
    def ref(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    assert(math.abs(got(0) - ref(Seq(1f, 0f, 2f), Seq(2f, 1f, 0f))) < 1e-12)
    assert(math.abs(got(1) - 1.0) < 1e-12)
    assert(got(2) == 0.0)
    // SQL registration path
    val viaSql = spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(1.0 as float)))").head.getDouble(0)
    assert(math.abs(viaSql - 1.0 / math.sqrt(2)) < 1e-12)
    // null propagation
    val nullRow = spark.sql(
      "SELECT cosine_sim(cast(null as array<float>), array(cast(1.0 as float)))").head
    assert(nullRow.isNullAt(0))
  }

  test("simhash64 is deterministic, order-insensitive to vote ties, and local") {
    val a = spark.sql("SELECT simhash64(array('alpha','beta','gamma'))").head.getLong(0)
    val b = spark.sql("SELECT simhash64(array('alpha','beta','gamma'))").head.getLong(0)
    assert(a == b)
    val c = spark.sql("SELECT simhash64(array('alpha','beta','delta'))").head.getLong(0)
    assert(SimHash64.hamming(a, c) > 0 && SimHash64.hamming(a, c) < 40,
      s"near-dup token sets should be near in hamming space, got ${SimHash64.hamming(a, c)}")
    val far = spark.sql(
      "SELECT simhash64(array('xx1','yy2','zz3','qq4','ww5','ee6','rr7','tt8'))").head.getLong(0)
    assert(SimHash64.hamming(a, far) > 10)
    // stable reference value for the FNV-1a primitive (engine-independence)
    assert(SimHash64.fnv1a64(UTF8String.fromString("alpha")) ==
      SimHash64.fnv1a64(UTF8String.fromString("alpha")))
  }

  test("hamming64 column matches scalar hamming") {
    import spark.implicits._
    val df = Seq((0x0fL, 0xf0L), (5L, 5L)).toDF("x", "y")
    val got = df.select(GraftFunctions.hamming64($"x", $"y")).as[Int].collect()
    assert(got.toSeq == Seq(8, 0))
  }

  test("extensions injection ALONE resolves every graft function from SQL") {
    // fresh session: its registry is built from the spark.sql.extensions
    // config alone, the one path that puts graft functions into a session
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    val missing = GraftFunctions.builders.map(_._1)
      .filterNot(n => reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"graft functions the extension did not inject: $missing")
    val top = fresh.sql(
      "SELECT spacesaving_topk(w, 4) AS t FROM VALUES ('a'), ('a'), ('b') v(w)")
      .head.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
    assert(top.head.getString(0) == "a" && top.head.getLong(1) == 2L)
    // double-literal model matrix exercises evalCentroids' DoubleType branch
    assert(fresh.sql(
      "SELECT nearest_centroids(array(cast(1.0 AS float)), array(array(0.5)), 1) AS c")
      .head.getAs[scala.collection.Seq[Int]](0) == Seq(0))
    assert(fresh.sql(
      "SELECT hyperplane_lsh(array(cast(1.0 AS float)), array(array(0.5)), 1, 1) AS b")
      .head.getAs[scala.collection.Seq[Int]](0).length == 1)
  }
}
