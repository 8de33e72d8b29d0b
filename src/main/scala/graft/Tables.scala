package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.IO.readParquet

/** Typed readers for the driver-generated star schema (see TESTDATA.md).
  *
  * Reference analog: hadoop-2.7.1 jobs read HDFS paths via
  * `TextInputFormat`/`SequenceFileInputFormat`
  * (hadoop-mapreduce-project/hadoop-mapreduce-client/hadoop-mapreduce-client-core/
  * src/main/java/org/apache/hadoop/mapreduce/lib/input/TextInputFormat.java:1).
  * Here every table is a columnar parquet scan: Catalyst prunes columns and
  * pushes predicates into the scan, so a query touching 2 of 16 columns reads
  * only those column chunks — the 100 TB-scale replacement for record-oriented
  * InputFormats.
  */
object Tables {
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    readParquet(spark, s"$dir/$name.parquet")

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  /** Schema-driven events reader. The physical encoding of the `ts` column has
    * changed across testdata generations (TIMESTAMP(NANOS) → timestamp[us]), so
    * never assume a unit the footer doesn't declare:
    *
    *   1. Plain `IO.readParquet` first. The footer's schema yields a native
    *      TimestampType for TIMESTAMP(MICROS)/MILLIS — done, no conversion.
    *   2. If inference surfaces `ts` as a raw LongType (a session with
    *      `spark.sql.legacy.parquet.nanosAsLong=true` reading NANOS), the raw
    *      int64 is nanoseconds — convert via `timestamp_micros(ts div 1000)`.
    *   3. If the footer's conversion *throws* (default session reading
    *      TIMESTAMP(NANOS), which Spark's reader rejects), force a LongType
    *      schema to grab the raw nanos and convert the same way.
    *
    * Reference analog: the InputFormat layer reads the same logical records
    * across on-disk encodings (TextInputFormat.java:1,
    * SequenceFileInputFormat.java:41); the reader adapts, the query doesn't. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    val path = s"$dir/events.parquet"
    def nanosToTs(df: DataFrame): DataFrame =
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    scala.util.Try(readParquet(spark, path)) match {
      case scala.util.Success(df) =>
        df.schema("ts").dataType match {
          case TimestampType => df
          // arrow-written timestamp[us] without isAdjustedToUTC infers as NTZ;
          // the session runs UTC, so the cast is an exact relabel
          case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
          case LongType         => nanosToTs(df)
          case other =>
            throw new IllegalStateException(
              s"events.ts arrived as unsupported type $other from $path")
        }
      case scala.util.Failure(_) =>
        val schema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", LongType),
          StructField("user_id", LongType), StructField("event_type", StringType),
          StructField("value", DoubleType), StructField("props", StringType)))
        nanosToTs(spark.read.schema(schema).parquet(path))
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "embeddings")
}
