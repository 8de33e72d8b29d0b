package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** package-private bridge for `graft.sources.IO.readParquet`: the schema
  * Spark's non-merging parquet inference would give `path`, read from the
  * same footer on the driver instead of in a one-task Spark job. */
object GraftParquetBridge {

  /** The footer's schema, converted under the session conf by Spark's own
    * `ParquetFileFormat.readSchema`; None when `path` is absent or holds no
    * data file. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()
    val p = new Path(path)
    schemaFile(p.getFileSystem(conf), p).map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchema(Seq(new Footer(f.getPath, footer)), spark)
        .getOrElse(throw new IllegalStateException(s"no schema in the footer of ${f.getPath}"))
    }
  }

  /** The file `ParquetUtils.inferSchema` reads: the first file under `p` in
    * full-path order. Names Spark's file listing hides (`_x`, `.x`,
    * `x._COPYING_`; `k=v` dirs and the summary files stay) are skipped; a
    * root-level `_common_metadata` or `_metadata`, which Spark prefers,
    * sorts before the `part-` files. Siblings are visited in the order of
    * the paths under them (a dir `d` as `d/`), so the first file found is
    * the least path, and only the dirs on the way to it are listed. */
  private def schemaFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    def first(dir: Path): Option[FileStatus] =
      fs.listStatus(dir).filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .sortBy(c => if (c.isDirectory) c.getPath.getName + "/" else c.getPath.getName)
        .iterator.flatMap(c => if (c.isDirectory) first(c.getPath) else Some(c))
        .nextOption()
    val root = try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    root.flatMap(r => if (r.isDirectory) first(r.getPath) else Some(r))
  }
}
