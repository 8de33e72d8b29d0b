package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col

import graft.ops.DedupOps
import graft.sources.IO

/** `IO.readParquet` reads the schema from the footer on the driver; it must
  * give what `spark.read.parquet` gives — schema, files and rows — on every
  * layout graft reads, fail the way it fails, and be the only parquet
  * reader under src/main. */
class ParquetReaderSpec extends SparkSpecBase {

  private def sameAsSpark(path: String): Unit = {
    val ours = IO.readParquet(spark, path)
    val theirs = spark.read.parquet(path)
    assert(ours.schema == theirs.schema, path)
    assert(ours.inputFiles.sorted.sameElements(theirs.inputFiles.sorted), path)
    // arrays (embeddings) compare by value; the set ops need none of them hashed
    def canon(df: DataFrame) = df.select(df.columns.map(c => col(c).cast("string")): _*)
    assert(canon(ours).exceptAll(canon(theirs)).isEmpty &&
      canon(theirs).exceptAll(canon(ours)).isEmpty, path)
  }

  test("readParquet == spark.read.parquet on every sf0.001 table, a k=v relayout and a store's bands") {
    val tables = Files.list(Paths.get(sfDir)).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    assert(tables.size >= 8, tables)
    tables.foreach(t => sameAsSpark(s"$sfDir/$t"))

    val relayout = "/tmp/graft_test_reader_relayout"
    IO.relayout(IO.readParquet(spark, s"$sfDir/lineitem.parquet"), relayout, Some("l_returnflag"))
    assert(new java.io.File(relayout).list().exists(_.startsWith("l_returnflag=")))
    sameAsSpark(relayout)

    val store = "/tmp/graft_test_reader_store"
    DedupOps.minhashWriteStore(Tables.documents(spark, sfDir).filter(col("doc_id") % 5 === 0), store)
    sameAsSpark(s"$store/bands")
  }

  test("readParquet takes the footer inference takes: the least data file, hidden names skipped, a summary first") {
    import spark.implicits._
    val dir = "/tmp/graft_test_reader_pick"
    IO.deletePath(spark, dir)
    // one file per name, each with its own schema; "a" is the least visible name
    def put(name: String, df: DataFrame): Unit = {
      df.coalesce(1).write.parquet(s"$dir/tmp")
      val part = new java.io.File(s"$dir/tmp").listFiles().filter(_.getName.startsWith("part-")).head
      assert(part.renameTo(new java.io.File(s"$dir/$name")))
      IO.deletePath(spark, s"$dir/tmp")
    }
    Seq("b.parquet" -> Seq(1).toDF("b"), "a.parquet" -> Seq("x").toDF("a"),
        "_c.parquet" -> Seq(2L).toDF("c"), ".d.parquet" -> Seq(3.0).toDF("d"))
      .foreach { case (name, df) => put(name, df) }
    val schema = spark.read.parquet(dir).schema
    assert(schema.fieldNames.toSeq == Seq("a"))
    assert(IO.readParquet(spark, dir).schema == schema)
    // a summary file is what inference reads when there is one
    put("_common_metadata", Seq(4.0f).toDF("e"))
    val summary = spark.read.parquet(dir).schema
    assert(summary.fieldNames.toSeq == Seq("e"))
    assert(IO.readParquet(spark, dir).schema == summary)
  }

  test("readParquet fails as spark.read.parquet does on a missing path and an empty dir") {
    def condition(read: String => DataFrame, path: String): String =
      intercept[AnalysisException](read(path)).getCondition
    val missing = "/tmp/graft_test_reader_missing"
    IO.deletePath(spark, missing)
    val empty = "/tmp/graft_test_reader_empty"
    IO.deletePath(spark, empty)
    Files.createDirectories(Paths.get(empty))
    Seq(missing -> "PATH_NOT_FOUND", empty -> "UNABLE_TO_INFER_SCHEMA").foreach { case (p, want) =>
      assert(condition(spark.read.parquet(_), p) == want)
      assert(condition(IO.readParquet(spark, _), p) == want)
    }
    // Tables.events falls back to raw nanos when the footer cannot convert
    val nanos = getClass.getResource("/fixtures/nanos").getPath + "/events.parquet"
    intercept[AnalysisException](IO.readParquet(spark, nanos))
  }

  test("no file under src/main/scala but the reader calls .read.parquet(") {
    // the DuckDB oracles' read_parquet('…') strings do not match
    val call = """\.read\.parquet\(""".r
    val hits = Files.walk(Paths.get("src/main/scala")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).nonEmpty => s"$f:${i + 1}"
        }
      }
    assert(hits.size == 1 && hits.head.startsWith("src/main/scala/graft/sources/IO.scala:"),
      s".read.parquet( outside IO.readParquet: ${hits.mkString(", ")}")
  }
}
