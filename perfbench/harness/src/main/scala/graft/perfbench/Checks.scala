package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks, run outside the timed passes. */
object Checks {

  /** Cells normalized as scripts/check.py normalizes them: floating values
    * to 9 significant digits (signed zero folded), nested values element by
    * element. */
  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType | _: DecimalType =>
      val d = c.cast(DoubleType)
      format_string("%.9g", when(d === 0.0, lit(0.0)).otherwise(d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: MapType => c.cast(StringType)
    case _ => c
  }

  /** Order-insensitive digest of a query's full output: row count, the
    * decimal sum of a 64-bit hash of every normalized row, and the column
    * names and types. One distributed aggregation, nothing collected. */
  def digest(df: DataFrame): Refs.Ref = {
    val fields = df.schema.fields.toSeq
    val cols = fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val rowHash = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), coalesce(sum(rowHash.cast("decimal(38,0)")), lit(0))
      .cast("string")).head()
    val schema = fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val md = java.security.MessageDigest.getInstance("MD5")
    val sh = md.digest(schema.getBytes("UTF-8")).map(b => f"$b%02x").mkString.take(8)
    Refs.Ref(r.getLong(0), s"${r.getString(1)}/$sh")
  }

  /** Order-invariant fingerprint of one input table, computed like
    * `graft.Bench.corpusStamp`: row count and the decimal sum of xxhash64
    * over every column. */
  def tableStamp(spark: SparkSession, path: String): String = {
    val df = spark.read.parquet(path)
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*).cast("decimal(38,0)"))
        .cast("string")).head()
    s"${r.getLong(0)}:${r.getString(1)}"
  }
}
