package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.functions._

/** Sources & sinks — the HDFS-surface analog.
  *
  * Reference analogs: HDFS client + FileInputFormat/FileOutputFormat
  * (hadoop-hdfs-project, hadoop-mapreduce-client-core), hadoop-distcp
  * (distributed copy/re-layout), hadoop-archives (HAR small-file compaction).
  * Spark reads/writes the storage layer natively; these helpers pin down the
  * layout decisions that matter at 100 TB: partitioned directories for
  * pruning, bounded file counts, and target file sizes.
  */
object IO {

  /** The one parquet reader. `spark.read.parquet` infers the schema
    * with a one-task Spark job that reads a single footer; this reads that
    * same footer on the driver (the file inference would pick, converted
    * under the session conf by Spark's own `readSchema`) and hands the
    * schema to the scan, so building a DataFrame starts no job. Partition
    * columns of `k=v` dirs are still inferred by Spark. A missing path or
    * a dir with no data file goes to Spark's reader, which raises its own
    * error. Nothing is cached: each call sees the files as they are. */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    GraftParquetBridge.footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None         => spark.read.parquet(path)
    }

  /** Distributed metadata batch change — the hadoop-extras DistCh analog
    * (hadoop-tools/hadoop-extras/src/main/java/org/apache/hadoop/tools/
    * DistCh.java:1: a recursive listing becomes FileOperation records that
    * map tasks apply via fs.setPermission/setOwner). Spark-native form:
    * the listing itself is DISTRIBUTED — the driver expands the tree
    * breadth-first only until the frontier covers `partitions` (bounded by
    * `maxDriverSeeds`, never the whole tree), then each task walks its
    * assigned subtrees with a streaming per-task BFS (queue of pending
    * entries, one listStatus per directory — the combineRead pattern) and
    * applies the requested changes through one FileSystem handle built
    * from the broadcast SESSION hadoop configuration (credentials,
    * defaultFS, nameservices travel with the job). A directory's children
    * are listed BEFORE its own metadata is changed, so a mode change that
    * drops execute permission cannot orphan its subtree within a task. The
    * returned AUDIT relation (path, is_dir, per-op outcome, error) is the
    * result — failures (including a failed listStatus) are rows, not
    * thrown exceptions (DistCh's counter contract), so a 10^8-file sweep
    * reports its stragglers instead of dying on the first ACL quirk — and
    * no longer OOMs the driver either, which at 10^8 paths the old
    * whole-tree driver ArrayBuffer would. `mode` is octal ("644");
    * replication is skipped with replication_changed = false on
    * FileSystems without the concept (local fs), mirroring DistCh. */
  def distCh(spark: SparkSession, root: String,
             mode: Option[String] = None,
             owner: Option[String] = None, group: Option[String] = None,
             replication: Option[Short] = None,
             partitions: Int = 32,
             maxDriverSeeds: Int = 4096): DataFrame = {
    import spark.implicits._
    require(mode.nonEmpty || owner.nonEmpty || group.nonEmpty || replication.nonEmpty,
      "distCh: nothing to change")
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs0 = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Driver-side seed generation: expand breadth-first just far enough to
    // spread subtrees across tasks. Seeds are (path, is_dir, expand): rows
    // with expand=true are subtree roots the tasks walk; the rest are
    // already-final entries (their children are other seeds).
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, Boolean)]
    val rootSt = fs0.getFileStatus(rootP)
    // rootSt.getPath is fs-qualified (scheme + authority), matching what
    // listStatus returns for children — one spelling per path in the audit
    if (!rootSt.isDirectory) seeds += ((rootSt.getPath.toString, false, false))
    else {
      // Breadth-first, one directory at a time, each listed through
      // listStatusIterator (RemoteIterator — HDFS-like stores stream the
      // listing in pages). The children are buffered only up to the
      // remaining seed budget: a directory whose listing pages past it is
      // ABANDONED mid-stream and handed to the executors as an expand
      // seed, so one flat directory with 10^7 direct children costs the
      // driver one page past the budget — never an array of all children
      // (the exact pathology HAR/compaction tooling exists for; the old
      // listStatus call materialized it in the driver heap).
      val frontier = scala.collection.mutable.Queue(rootSt.getPath)
      var handOff = false // frontier already covers `partitions` subtrees
      while (frontier.nonEmpty) {
        val d = frontier.dequeue()
        if (handOff) seeds += ((d.toString, true, true))
        else {
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(org.apache.hadoop.fs.Path, Boolean)]
          var overflow = false
          try {
            val it = fs0.listStatusIterator(d)
            while (!overflow && it.hasNext) {
              val c = it.next()
              buf += ((c.getPath, c.isDirectory))
              if (seeds.size + frontier.size + buf.size > maxDriverSeeds)
                overflow = true
            }
          } catch { case scala.util.control.NonFatal(_) =>
            overflow = true // let the task relist it and row the failure
          }
          if (overflow) seeds += ((d.toString, true, true))
          else {
            seeds += ((d.toString, true, false))
            buf.foreach { case (p, isDir) =>
              if (isDir) frontier.enqueue(p)
              else seeds += ((p.toString, false, false))
            }
            if (frontier.size >= partitions) handOff = true
          }
        }
      }
    }
    val confB = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    val rootUri = root
    spark.createDataset(seeds.toSeq)
      .repartition(math.min(partitions, math.max(1, seeds.size)))
      .mapPartitions { it =>
        val fs = new org.apache.hadoop.fs.Path(rootUri)
          .getFileSystem(confB.value.value)
        def applyOps(pStr: String, isDir: Boolean, listErr: String)
            : (String, Boolean, Boolean, Boolean, Boolean, String) = {
          val p = new org.apache.hadoop.fs.Path(pStr)
          var err: String = listErr
          def attempt(f: => Unit): Boolean =
            try { f; true }
            catch { case scala.util.control.NonFatal(e) =>
              if (err == null) err = e.toString; false }
          val permChanged = mode.exists(m => attempt(fs.setPermission(p,
            new org.apache.hadoop.fs.permission.FsPermission(
              Integer.parseInt(m, 8).toShort))))
          val ownChanged = (owner.nonEmpty || group.nonEmpty) &&
            attempt(fs.setOwner(p, owner.orNull, group.orNull))
          val replChanged = replication.exists(r =>
            !isDir && attempt { if (!fs.setReplication(p, r)) throw
              new java.io.IOException("replication unsupported on this FileSystem") })
          (pStr, isDir, permChanged, ownChanged, replChanged, err)
        }
        it.flatMap { case (pStr, isDir, expand) =>
          if (!expand) Iterator.single(applyOps(pStr, isDir, null))
          else if (!isDir) Iterator.single(applyOps(pStr, false, null))
          else {
            // Streaming POST-ORDER DFS over a stack of OPEN directory
            // listings (listStatusIterator — one RemoteIterator per
            // ancestor, O(tree depth) memory, pages streamed by the
            // FileSystem). The old queue-BFS enqueued a directory's whole
            // child array before emitting anything, so one flat directory
            // with 10^7 children materialized in this task's heap. A
            // directory's own ops are applied only after its listing is
            // fully drained (post-order), which preserves the
            // children-before-parent-metadata contract PAGE BY PAGE: a
            // mode change dropping execute permission cannot break the
            // directory's own in-flight listing or orphan its subtree
            // within this task. A listing failure (open or mid-page) is
            // recorded on the directory's audit row, per the contract.
            class Frame(val path: String) {
              var err: String = _
              val lst: org.apache.hadoop.fs.RemoteIterator[
                  org.apache.hadoop.fs.FileStatus] =
                try fs.listStatusIterator(new org.apache.hadoop.fs.Path(path))
                catch { case scala.util.control.NonFatal(e) =>
                  err = s"listStatus failed: $e"; null }
              /** next child, or null when drained / failed (failure is
                * recorded once and the listing treated as exhausted). */
              def fetch(): org.apache.hadoop.fs.FileStatus =
                try { if (lst != null && lst.hasNext) lst.next() else null }
                catch { case scala.util.control.NonFatal(e) =>
                  if (err == null) err = s"listStatus failed: $e"; null }
            }
            val stack = scala.collection.mutable.Stack(new Frame(pStr))
            new scala.collection.AbstractIterator[
                (String, Boolean, Boolean, Boolean, Boolean, String)] {
              def hasNext: Boolean = stack.nonEmpty
              def next(): (String, Boolean, Boolean, Boolean, Boolean, String) = {
                var out: (String, Boolean, Boolean, Boolean, Boolean, String) = null
                while (out == null) {
                  val top = stack.top
                  val c = top.fetch()
                  if (c == null) { stack.pop(); out = applyOps(top.path, true, top.err) }
                  else if (c.isDirectory) stack.push(new Frame(c.getPath.toString))
                  else out = applyOps(c.getPath.toString, false, null)
                }
                out
              }
            }
          }
        }
      }
      .toDF("path", "is_dir", "mode_changed", "owner_changed",
        "replication_changed", "error")
  }

  /** Recursive delete (no-op when absent) — the FileSystem plumbing shared
    * by the IVF index and MinHash store rebuilds. */
  private[graft] def deletePath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** distcp analog: copy `df` into a new layout — optionally partitioned
    * by a column (→ directory pruning) with a bounded file count per
    * partition. A distributed copy is "read → (re)partition → write": every
    * task copies a slice, no driver bottleneck. */
  def relayout(df: DataFrame, outPath: String,
               partitionCol: Option[String] = None, filesPerPartition: Int = 8): Unit = {
    val re = partitionCol match {
      case Some(c) =>
        // Salted write spread: hash-partitioning on the partition column
        // alone serializes the whole copy onto ≤ |distinct values| tasks (3
        // for a flag column — measured: the sf1 copy ran as 3 write tasks at
        // any core count) and writes ONE file per dir, not the advertised
        // bound. A deterministic per-input-split salt in the shuffle key
        // spreads each value over ≤ filesPerPartition writer tasks: parallel
        // copy, ≤ filesPerPartition files per partition dir. The salt is a
        // pure function of the input split (NOT rand() — map retries must
        // reproduce the same assignment), and the reduce width stays the
        // session's shuffle width, so the spread scales with the cluster.
        df.repartition(col(c), pmod(spark_partition_id(), lit(filesPerPartition)))
      case None => df.repartition(filesPerPartition)
    }
    writeParquet(re, outPath, partitionCol.toSeq)
  }

  /** SequenceFile interop — the MR-era key/value container every reference
    * job reads/writes (hadoop-mapreduce-client-core/.../lib/input/
    * SequenceFileInputFormat.java:1). Stored as (LongWritable key,
    * Text value); lets graft exchange data in place with legacy MR jobs. */
  def writeSequenceFile(df: DataFrame, keyCol: String, valueCol: String, path: String): Unit = {
    import org.apache.hadoop.io.{LongWritable, Text}
    df.select(col(keyCol).cast("long"), col(valueCol).cast("string"))
      // skip null key/value records (incl. cast failures) instead of NPE'ing
      // the task — mirrors the MR-era writers' tolerance of bad records
      .rdd.flatMap(r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((new LongWritable(r.getLong(0)), new Text(r.getString(1)))))
      .saveAsSequenceFile(path)
  }

  def readSequenceFile(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.io.{LongWritable, Text}
    import spark.implicits._
    spark.sparkContext.sequenceFile[LongWritable, Text](path)
      .map { case (k, v) => (k.get(), v.toString) }
      .toDF("key", "value")
  }

  /** Generic-Writable SequenceFile interop: (BytesWritable, BytesWritable)
    * — the arbitrary-payload legacy container (reference SequenceFiles are
    * `<K,V>`-generic, SequenceFileInputFormat.java:41; bytes is the lowest
    * common denominator every Writable serializes through). Round-trip is
    * bit-identical: no charset, no parsing. */
  def writeSequenceFileBytes(df: DataFrame, keyCol: String, valueCol: String, path: String): Unit = {
    import org.apache.hadoop.io.BytesWritable
    df.select(col(keyCol).cast("binary"), col(valueCol).cast("binary"))
      .rdd.flatMap(r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else Some((new BytesWritable(r.getAs[Array[Byte]](0)),
                   new BytesWritable(r.getAs[Array[Byte]](1)))))
      .saveAsSequenceFile(path)
  }

  def readSequenceFileBytes(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.io.BytesWritable
    import spark.implicits._
    // copyBytes() INSIDE the iterator: Hadoop record readers reuse the
    // Writable instance, so the bytes must be copied out before the next
    // record overwrites them (and BytesWritable's backing array over-
    // allocates — copyBytes trims to the logical length).
    spark.sparkContext.sequenceFile[BytesWritable, BytesWritable](path)
      .map { case (k, v) => (k.copyBytes(), v.copyBytes()) }
      .toDF("key", "value")
  }

  /** Minimal ustar/v7 tar walk: 512-byte headers, octal size field, data
    * padded to block boundary, two zero blocks at the end. Regular files
    * only (typeflag '0'/NUL); other entry kinds are skipped by size. Public
    * format (POSIX.1-1988); no external tooling involved. */
  private[sources] def parseTar(bytes: Array[Byte],
                                maxEntryBytes: Long = 1L << 30): Seq[(String, Array[Byte])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
    def octal(off: Int, len: Int): Long = {
      val s = new String(bytes, off, len, "US-ASCII").trim
        .takeWhile(c => c >= '0' && c <= '7')
      if (s.isEmpty) 0L else java.lang.Long.parseLong(s, 8)
    }
    var p = 0
    var end = false
    while (!end && p + 512 <= bytes.length) {
      if (bytes(p) == 0) end = true // zero block terminates the archive
      else {
        val name = new String(bytes, p, 100, "US-ASCII").takeWhile(_ != 0)
        val size = octal(p + 124, 12)
        val typeflag = bytes(p + 156)
        val dataStart = p + 512
        if (size > maxEntryBytes)
          throw new java.io.IOException(s"tar entry $name is $size bytes, over $maxEntryBytes")
        if ((typeflag == '0' || typeflag == 0) && dataStart + size <= bytes.length)
          out += ((name, java.util.Arrays.copyOfRange(bytes, dataStart, dataStart + size.toInt)))
        p = dataStart + (((size + 511) / 512) * 512).toInt
      }
    }
    out.toSeq
  }

  /** HAR-analog archive readers: many small files packed into one archive,
    * READ IN PLACE as (archive, entry, bytes) rows — no unpack step, no
    * file-per-record namespace pressure (the problem HadoopArchives.java:1 /
    * HarFileSystem.java:50 solve for HDFS). Each archive is one binaryFile
    * row (bounded by spark.sql.sources.binaryFile.maxLength), entries
    * fan out map-side; a directory of archives parallelizes per archive.
    * `IO.compact` remains the WRITE-side analog (rewrite into bounded
    * files); these cover reading foreign archives without rewriting. */
  def readTarEntries(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, b) => parseTar(b).map { case (n, d) => (p, n, d) } }
      .toDF("archive", "entry", "bytes")
  }

  def readZipEntries(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(path)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (p, b) =>
        val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(b))
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, Array[Byte])]
        var e = zin.getNextEntry
        while (e != null) {
          if (!e.isDirectory) out += ((p, e.getName, zin.readAllBytes()))
          e = zin.getNextEntry
        }
        out.toSeq
      }
      .toDF("archive", "entry", "bytes")
  }

  /** XML-framed record reader — the hadoop-streaming StreamXmlRecordReader
    * analog (reference hadoop-tools/hadoop-streaming/src/main/java/org/
    * apache/hadoop/streaming/StreamXmlRecordReader.java:1: frame the input
    * into records bounded by a begin/end tag pair so streaming jobs can
    * consume XML). Spark-first shape: the END tag becomes the text
    * source's record delimiter (`lineSep` — Hadoop's LineRecordReader
    * handles delimiter-spanning split boundaries, so one huge XML file
    * still fans out across tasks, exactly the property the reference's
    * split-seeking gives), then each row is trimmed map-side to start at
    * its begin tag and the end tag is restored. Rows without a begin tag
    * (prolog, whitespace between records, trailing junk) are dropped —
    * the reference skips non-record bytes the same way. Nested begin tags
    * inside a record are out of contract for both. Returns one `record`
    * column holding `beginTag…endTag`. */
  def readXmlRecords(spark: SparkSession, path: String,
                     beginTag: String, endTag: String): DataFrame =
    spark.read.option("lineSep", endTag).text(path)
      .filter(locate(beginTag, col("value")) > 0)
      .select(concat(
        expr(s"substring(value, locate(${sqlLit(beginTag)}, value))"),
        lit(endTag)).as("record"))

  /** SQL string literal with quotes escaped (tags are code-provided, but
    * apostrophes in a tag must not break the expression). */
  private def sqlLit(s: String): String = "'" + s.replace("'", "\\'") + "'"

  /** JDBC source — the DBInputFormat analog (reference:
    * hadoop-mapreduce-examples/src/main/java/org/apache/hadoop/examples/
    * DBCountPageView.java:45-56 wires a pageview table through
    * DBInputFormat/DBOutputFormat). Spark's JDBC relation replaces both
    * sides; the single-connection form is for small dims and results. */
  def readJdbc(spark: SparkSession, url: String, table: String,
               props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Range-partitioned parallel JDBC read — the DBInputFormat SPLIT model:
    * `numPartitions` executors each open a connection and scan one
    * [lower, upper) slice of `partCol`. The single-connection form above
    * funnels the whole table through one task — at 100 TB-adjacent DB
    * sizes this is the difference between a parallel scan and a driver
    * bottleneck. */
  def readJdbcPartitioned(spark: SparkSession, url: String, table: String,
                          partCol: String, lower: Long, upper: Long,
                          numPartitions: Int,
                          props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, partCol, lower, upper, numPartitions, props)

  /** JDBC sink (DBOutputFormat analog): each partition batches inserts over
    * its own connection. Overwrite recreates the table from the DataFrame
    * schema — the DBOutputFormat setup-job step. */
  def writeJdbc(df: DataFrame, url: String, table: String,
                mode: SaveMode = SaveMode.Overwrite,
                props: java.util.Properties = new java.util.Properties()): Unit =
    df.write.mode(mode).jdbc(url, table, props)

  /** Bucketed table write: pre-shuffles rows into nBuckets hash buckets per
    * bucket column (with per-bucket sort), so later equi-joins/aggregations
    * on that column read co-located data and plan WITHOUT a shuffle
    * exchange — the 100 TB answer to "this join shuffles every time".
    * (Catalog parquet table; the layout is plain parquet + bucket metadata.) */
  def writeBucketed(df: DataFrame, tableName: String, bucketCol: String,
                    nBuckets: Int = 32): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(tableName)

  /** MultipleOutputs analog, one-pass form (reference: hadoop-mapreduce-
    * client-core/.../lib/output/MultipleOutputs.java:1 — one job emitting to
    * several named outputs). Rows are routed by `labelCol` into
    * `outDir/split=<label>/` in a SINGLE job and a SINGLE scan — the
    * curation-pipeline "kept / rejected / flagged" fan-out without reading
    * the corpus N times. Rows with a null label are dropped (no sink).
    * Labels must be disjoint by construction (each row has one label); for
    * overlapping sinks use writeSplit. */
  def writeRouted(df: DataFrame, outDir: String, labelCol: Column,
                  format: String = "parquet"): Unit =
    df.withColumn("split", labelCol)
      .filter(col("split").isNotNull)
      .write.mode(SaveMode.Overwrite).format(format)
      .partitionBy("split").save(outDir)

  /** MultipleOutputs analog, overlapping form: each named sink gets the rows
    * matching its predicate; a row may satisfy several predicates (like a MR
    * reducer calling mos.write twice). The source plan is materialized ONCE
    * (persist) and each sink re-reads the in-memory/disk copy instead of
    * rescanning the input. Returns the sink paths. */
  def writeSplit(df: DataFrame, outDir: String, splits: Map[String, Column],
                 format: String = "parquet"): Map[String, String] = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try splits.map { case (name, cond) =>
      val path = s"$outDir/$name"
      cached.filter(cond).write.mode(SaveMode.Overwrite).format(format).save(path)
      name -> path
    }
    finally cached.unpersist()
  }

  /** CombineFileInputFormat analog (reference: hadoop-mapreduce-client-core/
    * .../lib/input/CombineFileInputFormat.java:1): read a directory of many
    * small files with a BOUNDED task count. Spark's split planner already
    * packs files up to spark.sql.files.maxPartitionBytes/openCostInBytes,
    * but those are session-global; this helper sizes the partition count
    * from the actual listing (driver-side metadata only) and coalesces —
    * no shuffle, each task reads several whole small files. */
  def combineRead(spark: SparkSession, path: String, format: String = "parquet",
                  targetPartitionBytes: Long = 128L * 1024 * 1024,
                  openCostInBytes: Long = 4L * 1024 * 1024): DataFrame = {
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootUri = fs.makeQualified(hPath).toUri
    val it = fs.listFiles(hPath, true)
    var bytes = 0L; var nFiles = 0L
    while (it.hasNext) {
      val f = it.next()
      // skip hidden files AND files under hidden dirs (_temporary/ from an
      // in-flight or aborted write would inflate the partition sizing).
      // Only components BELOW the listed root count — a dataset that lives
      // under e.g. ~/.cache/ must not be treated as entirely hidden.
      val rel = rootUri.relativize(f.getPath.toUri).getPath
      val hidden = rel.split('/').exists(c => c.startsWith("_") || c.startsWith("."))
      if (!hidden) { bytes += f.getLen; nFiles += 1 }
    }
    val effective = bytes + nFiles * openCostInBytes
    val n = math.max(1L, (effective + targetPartitionBytes - 1) / targetPartitionBytes).toInt
    spark.read.format(format).load(path).coalesce(n)
  }

  /** Upsert by rewrite — the pre-ACID merge idiom (reference analog:
    * distcp -update overwrites changed files; MR-era pipelines rewrote the
    * partition): rows from `updates` replace base rows with the same key,
    * new keys append, everything else carries over. One anti join + union +
    * write; at 100 TB, partition `base` on the key's natural dimension and
    * rewrite only affected partitions (dynamic partition overwrite). */
  def upsertByRewrite(spark: SparkSession, basePath: String, updates: DataFrame,
                      key: String, outPath: String): Unit = {
    // in-place rewrite would have the Overwrite commit delete the lazily-read
    // base parquet mid-job (data loss); an in-place merge needs a staging path
    val conf = spark.sparkContext.hadoopConfiguration
    val baseP = new org.apache.hadoop.fs.Path(basePath)
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val baseQ = baseP.getFileSystem(conf).makeQualified(baseP)
    val outQ = outP.getFileSystem(conf).makeQualified(outP)
    require(baseQ != outQ,
      s"upsertByRewrite: outPath == basePath ($baseQ) — Overwrite would delete the base " +
        "dataset while it is being read; write to a staging path and swap")
    val base = readParquet(spark, basePath)
    base.join(updates.select(col(key)), Seq(key), "left_anti")
      .unionByName(updates)
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Snapshot-diff report between two partitioned parquet datasets — the
    * distcp -diff/-update analog (reference: hadoop-tools/hadoop-distcp/
    * .../DistCpOptions.java:1, DistCpSync.java:1 — snapshot diffs restrict
    * the copy list to what changed; -update skips files whose length and
    * checksum already match).
    *
    * A Spark-native "file" is a partition directory, and the "checksum" is a
    * content fingerprint computed distributedly per partition: row count +
    * the commutative sum of per-row xxhash64 over every column (order-
    * independent, so layout/file-split differences between the two sides
    * never produce false diffs — exactly why distcp compares checksums, not
    * bytes-on-disk). One scan per side, one tiny per-partition aggregate;
    * no row-level join, so the diff costs O(scan), never O(shuffle of the
    * full dataset).
    *
    * Returns one row per partition: the partition columns (string-cast) +
    * `action` ∈ 'copy' (missing at target), 'rewrite' (fingerprint differs),
    * 'delete' (orphan at target), 'skip' (identical). Hive-style multi-level
    * layouts (`date=…/lang=…`) pass all levels in directory order. */
  def diffPartitions(spark: SparkSession, sourcePath: String, targetPath: String,
                     partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty, "diffPartitions: no partition columns")
    val pcs = partitionCols.indices.map(i => s"_p$i")
    def fingerprint(side: String, path: String, cols: Seq[String]) = {
      val df = readParquet(spark, path)
      // hash over the SHARED column set in a fixed (sorted) order, so a
      // benign column-order difference between the two sides doesn't read
      // as a full rewrite
      df.groupBy(partitionCols.zip(pcs).map { case (c, p) =>
          col(c).cast("string").as(s"$side$p") }: _*)
        .agg(count(lit(1)).as(s"${side}cnt"),
             sum(xxhash64(cols.map(col): _*)).as(s"${side}sig"))
    }
    def report(keyOf: String => Column, action: Column) =
      partitionCols.zip(pcs).map { case (c, p) => keyOf(p).as(c) } :+ action.as("action")
    val srcCols = readParquet(spark, sourcePath).columns.toSeq
    val tgtCols =
      try readParquet(spark, targetPath).columns.toSeq
      catch { case _: org.apache.spark.sql.AnalysisException => Seq.empty[String] }
    if (tgtCols.isEmpty) {
      // first sync: everything is a copy
      return fingerprint("s", sourcePath, srcCols.sorted)
        .select(report(p => col(s"s$p"), lit("copy")): _*)
    }
    val shared = (srcCols.toSet intersect tgtCols.toSet).toSeq.sorted
    require(shared.nonEmpty, "diffPartitions: datasets share no columns")
    val s = fingerprint("s", sourcePath, shared)
    val t = fingerprint("t", targetPath, shared)
    val joinCond = pcs.map(p => col(s"s$p") <=> col(s"t$p")).reduce(_ && _)
    s.join(t, joinCond, "full_outer")
      .select(report(p => coalesce(col(s"s$p"), col(s"t$p")),
        // cnt is count(*) — non-null for every existing group, so a null
        // cnt marks "no row on that side" even when the partition VALUE
        // is itself null
        when(col("tcnt").isNull, "copy")
          .when(col("scnt").isNull, "delete")
          .when(col("scnt") === col("tcnt") && col("ssig") <=> col("tsig"), "skip")
          .otherwise("rewrite")): _*)
  }

  /** Single-level convenience form of [[diffPartitions]]. */
  def diffPartitions(spark: SparkSession, sourcePath: String, targetPath: String,
                     partitionCol: String): DataFrame =
    diffPartitions(spark, sourcePath, targetPath, Seq(partitionCol))

  /** Incremental partition sync — apply [[diffPartitions]]: rewrite ONLY the
    * changed/new partitions (dynamic partition overwrite, so untouched
    * partition directories are never rewritten) and optionally delete
    * orphans. This is the 100 TB nightly-sync shape: a day's delta touches a
    * handful of partitions, and the job costs two fingerprint scans plus a
    * write proportional to the DELTA, not the dataset. Returns the action
    * report for audit (the distcp copy listing). */
  def syncPartitions(spark: SparkSession, sourcePath: String, targetPath: String,
                     partitionCols: Seq[String], deleteOrphans: Boolean): DataFrame = {
    val k = partitionCols.length
    // materialize the diff BEFORE mutating the target — a lazy plan would be
    // recomputed against the post-sync target by any later action (all-skip).
    // Partition values, not row data: bounded by partition count.
    val planRows = diffPartitions(spark, sourcePath, targetPath, partitionCols)
      .collect()
    def of(actions: String*): Array[Seq[String]] = planRows
      .filter(r => actions.contains(r.getString(k)))
      .map(r => (0 until k).map(r.getString))
    val changed = of("copy", "rewrite")
    if (changed.nonEmpty) {
      val src = readParquet(spark, sourcePath)
      // exact per-column tuple match (no separator-collision risk a joined
      // string key would have); changed-partition count is bounded, so the
      // OR-of-ANDs predicate stays small
      val hit = changed.map(vals =>
        partitionCols.zip(vals).map { case (c, v) =>
          col(c).cast("string") <=> lit(v) }.reduce(_ && _)).reduce(_ || _)
      val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try src.filter(hit)
        .write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(targetPath)
      finally prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None    => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
    if (deleteOrphans) {
      val conf = spark.sparkContext.hadoopConfiguration
      val root = new org.apache.hadoop.fs.Path(targetPath)
      val fs = root.getFileSystem(conf)
      of("delete").foreach { vals =>
        val rel = partitionCols.zip(vals).map { case (c, v) => s"$c=$v" }.mkString("/")
        fs.delete(new org.apache.hadoop.fs.Path(root, rel), true)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(planRows: _*),
      org.apache.spark.sql.types.StructType(
        partitionCols.map(c =>
          org.apache.spark.sql.types.StructField(c, org.apache.spark.sql.types.StringType)) :+
        org.apache.spark.sql.types.StructField("action", org.apache.spark.sql.types.StringType)))
  }

  /** Single-level convenience form of [[syncPartitions]]. */
  def syncPartitions(spark: SparkSession, sourcePath: String, targetPath: String,
                     partitionCol: String, deleteOrphans: Boolean = true): DataFrame =
    syncPartitions(spark, sourcePath, targetPath, Seq(partitionCol), deleteOrphans)

  /** Z-order layout: sort the dataset by the Morton interleave of two keys
    * and write a bounded file count. Each output file then covers a small
    * RECTANGLE of (a, b) space, so parquet min/max stats prune scans
    * filtering on EITHER column — unlike a linear sort, which only prunes
    * the leading key.
    *
    * Both keys are min/max-normalized to the same bit width first — with
    * unequal widths the interleave degenerates to a linear sort on the
    * wider key (its high bits own every top z-bit). The min/max pass is one
    * tiny aggregate; at 100 TB swap in quantile normalization for skewed
    * domains (same shape: small model + map-side scale). */
  def zorderWrite(df: DataFrame, outPath: String, colA: String, colB: String,
                  files: Int = 16, bits: Int = 20): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val r = df.agg(min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    if (r.isNullAt(0) || r.isNullAt(2)) { // empty (or all-null-key) input
      df.write.mode(SaveMode.Overwrite).parquet(outPath)
      return
    }
    val top = (1L << bits) - 1
    def scaled(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else ((col(c).cast("double") - lo) * (top / (hi - lo))).cast("long")
    df.withColumn("_z", graft.functions.GraftFunctions.zorder64(
        scaled(colA, r.getDouble(0), r.getDouble(1)),
        scaled(colB, r.getDouble(2), r.getDouble(3))))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** Quantile-normalized z-order — the skew-robust form: each key is mapped
    * to its approximate rank bucket (approxQuantile boundaries, a bounded
    * driver-side model like the IVF centroids) before interleaving, so a
    * power-law key can't collapse most rows into a few Morton cells. Rank
    * space is uniform by construction ⇒ the range partition on z is
    * balanced ⇒ file sizes are even AND both dims stay rectangular in rank
    * space. The boundary lookup is a native binary-search expression
    * (RankBucket) — codegen'd O(log buckets) per row. */
  def zorderWriteQuantile(df: DataFrame, outPath: String, colA: String, colB: String,
                          files: Int = 16, bits: Int = 8): Unit = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val nb = 1 << bits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val Array(qa, qb) = df.stat.approxQuantile(
      Array(colA, colB), probs, 0.001)
    // native binary-search bucket (codegen'd, O(log n)) instead of the
    // interpreted size(filter(...)) HOF scan — NOTES_PERF §1. Null keys
    // rank as bucket 0, same as the previous filter-count form.
    def bucket(c: String, bounds: Array[Double]) = coalesce(
      graft.functions.GraftFunctions.rankBucket(col(c).cast("double"), bounds), lit(0L))
    df.withColumn("_z", graft.functions.GraftFunctions.zorder64(
        bucket(colA, qa), bucket(colB, qb)))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
  }

  /** HAR analog: compact a many-small-files dataset to ~targetFileBytes
    * files. File count derived from the actual input size (cheap metadata
    * scan), so it adapts at any SF. */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 128L * 1024 * 1024): Unit = {
    val df = readParquet(spark, inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val nFiles = math.max(1, (bytes / BigInt(targetFileBytes)).toInt)
    df.repartition(nFiles).write.mode(SaveMode.Overwrite).parquet(outPath)
  }
}
