package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.{NO_FILTER, SKIP_ROW_GROUPS}
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** package-private bridge for `graft.sources.IO.readParquet`: the schema
  * Spark's non-merging parquet inference would give `path`, read from the
  * same footer on the driver instead of in a one-task Spark job; and the
  * row count of `path`, summed from its data files' footers. */
object GraftParquetBridge {

  /** The footer's schema, converted under the session conf by Spark's own
    * `ParquetFileFormat.readSchema`; None when `path` is absent or holds no
    * data file. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = hadoopConf(spark)
    val p = new Path(path)
    schemaFile(p.getFileSystem(conf), p).map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchema(Seq(new Footer(f.getPath, footer)), spark)
        .getOrElse(throw new IllegalStateException(s"no schema in the footer of ${f.getPath}"))
    }
  }

  /** The rows `count()` on `path` returns, summed on the driver from the
    * row groups in the footers of its data files: every file under `path`
    * that Spark's listing keeps (the filter of [[schemaFile]]), less the
    * `_metadata`/`_common_metadata` summaries, which repeat their row
    * groups. Starts no Spark job. */
  def footerRowCount(spark: SparkSession, path: String): Long = {
    val conf = hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def files(st: FileStatus): Iterator[FileStatus] =
      if (!st.isDirectory) Iterator.single(st)
      else fs.listStatus(st.getPath).iterator.filterNot(hidden).flatMap(files)
    val summary = Set(ParquetFileWriter.PARQUET_METADATA_FILE, ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    files(fs.getFileStatus(p)).filterNot(f => summary(f.getPath.getName)).map { f =>
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }

  private def hadoopConf(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  /** Names Spark's file listing hides: `_x`, `.x`, `x._COPYING_`; `k=v`
    * dirs and the summary files stay. */
  private def hidden(c: FileStatus): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName)

  /** The file `ParquetUtils.inferSchema` reads: the first file under `p` in
    * full-path order. Names Spark's file listing hides are skipped; a
    * root-level `_common_metadata` or `_metadata`, which Spark prefers,
    * sorts before the `part-` files. Siblings are visited in the order of
    * the paths under them (a dir `d` as `d/`), so the first file found is
    * the least path, and only the dirs on the way to it are listed. */
  private def schemaFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    def first(dir: Path): Option[FileStatus] =
      fs.listStatus(dir).filterNot(hidden)
        .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
        .iterator.flatMap(c => if (c.isDirectory) first(c.getPath) else Some(c))
        .nextOption()
    val root = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    root.flatMap(r => if (r.isDirectory) first(r.getPath) else Some(r))
  }
}
