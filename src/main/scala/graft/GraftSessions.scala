package graft

import org.apache.spark.sql.SparkSession

/** The one session builder: Verify, Bench, the tools mains, the perfbench
  * harness and the specs all get their session here, so they run under one
  * config block. `cpus` is the `local[n]` thread count (read through
  * [[GraftEnv.cpus]] by the mains); `extra` adds or overrides settings, such
  * as a warehouse dir or an app name. */
object GraftSessions {
  def local(cpus: String, extra: Map[String, String] = Map.empty): SparkSession = {
    // shuffle width defaults to the core count (right at bench SF, where
    // every shuffle fits in memory), overridable for large-SF sweeps where
    // partition COUNT must scale with data volume instead: target ~128 MB
    // of shuffle input per partition, or each partition's sort/join state
    // outgrows executor memory and the stage hits the spill wall (measured
    // at sf100: 17 GB parquet over 32 partitions = ~0.5 GB+ per shuffle
    // partition). On a real cluster this is the same knob set per-job.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // Scan-split granularity, overridable for large-SF local sweeps: the
    // builder-scaled corpora are ONE parquet file per table, so with the
    // 128m default a 15 MB documents file is a single scan task and every
    // CPU-heavy per-row stage (media synth/decode, shingling) serializes —
    // measured 10x on video_meta at sf1. Sweeps set 2m to split at
    // row-group granularity (scaleup.py writes ~1 MB groups). On a real
    // cluster the default is right — data arrives as many files.
    val maxPartitionBytes =
      sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // local writes set modes and owners in-process, not by a chmod
      // process per file (graft.sources.GraftLocalFileSystem)
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.GraftLocalFileSystem].getName)
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
