package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The configuration and input stamp carried by every record. Two records
  * are comparable only if their stamps agree everywhere except `commit`. */
object Stamp {
  def collect(spark: SparkSession, a: Main.Args, wl: Workload,
              dataDir: String): mutable.LinkedHashMap[String, Any] = {
    val c = spark.conf
    val inputs = Option(new File(dataDir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => f.getName.stripSuffix(".parquet") -> Checks.tableStamp(spark, f.getPath))
    mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> a.seed, "seconds" -> a.seconds, "smoke" -> a.smoke,
      "nproc" -> a.cpus, "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "shuffle_partitions" -> c.get("spark.sql.shuffle.partitions"),
      "max_partition_bytes" -> c.get("spark.sql.files.maxPartitionBytes"),
      "aqe" -> c.get("spark.sql.adaptive.enabled"),
      "aqe_coalesce" -> c.get("spark.sql.adaptive.coalescePartitions.enabled"),
      "broadcast_threshold" -> c.get("spark.sql.autoBroadcastJoinThreshold"),
      "queries" -> wl.queries, "inputs" -> inputs.toMap, "commit" -> a.commit)
  }
}
