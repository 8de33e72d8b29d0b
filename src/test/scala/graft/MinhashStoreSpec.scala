package graft

import org.apache.spark.sql.functions._
import graft.ops._

/** Persisted MinHash signature store: the store path must be id-for-id
  * identical to the recompute path (that is the contract the shared DuckDB
  * oracle also checks), and a store rebuilt in place must equal a fresh
  * build. */
class MinhashStoreSpec extends SparkSpecBase {

  private def survivors(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).sorted.toSeq

  test("store path == recompute path on the gate corpus (both drop reasons)") {
    val dir = "/tmp/graft_test_minhash_store"
    wipe(dir)
    val docs = Tables.documents(spark, sfDir)
    val batch = docs.filter(col("doc_id") % 5 =!= 0)
    val existing = docs.filter(col("doc_id") % 5 === 0)
    DedupOps.minhashWriteStore(existing, dir)
    val viaStore = survivors(
      CurationPipeline.incrementalDedupFromStore(batch, existing, dir))
    val recomputed = survivors(CurationPipeline.incrementalDedup(batch, existing))
    assert(viaStore == recomputed)
    assert(viaStore.nonEmpty && viaStore.size < batch.count())
  }

  test("minhashWriteStore rebuilt in place == a fresh build; dedup against " +
    "a store rebuilt over a grown corpus == recompute against that corpus") {
    val dir = "/tmp/graft_test_minhash_store2"
    val freshDir = "/tmp/graft_test_minhash_store2f"
    wipe(dir); wipe(freshDir)
    val docs = Tables.documents(spark, sfDir)
    val existing = docs.filter(col("doc_id") % 5 === 0)
    val grown = existing.unionByName(docs.filter(col("doc_id") % 5 === 1))
    val nextBatch = docs.filter(col("doc_id") % 5 === 2)
    def rel(d: String) = DedupOps.readMinhashStore(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
    // the larger corpus first: a rebuild that kept any of its rows would
    // differ from the fresh build of the smaller one
    DedupOps.minhashWriteStore(grown, dir)
    new java.io.File(s"$dir/stale").mkdirs()
    DedupOps.minhashWriteStore(existing, dir)
    DedupOps.minhashWriteStore(existing, freshDir)
    assert(rel(dir) == rel(freshDir), "rebuilt store must equal a fresh build")
    assert(new java.io.File(dir).list().filterNot(_.startsWith(".")).toSet == Set("bands"),
      "rebuild leaves only what it wrote")
    DedupOps.minhashWriteStore(grown, dir)
    assert(survivors(CurationPipeline.incrementalDedupFromStore(nextBatch, grown, dir))
      == survivors(CurationPipeline.incrementalDedup(nextBatch, grown)))
  }

  private def wipe(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
