package graft
import java.nio.file.{Files, Paths}

import graft.queries.QuerySpec

/** Correctness dump for the DuckDB oracle compare (scripts/check.py):
  * `graft.Verify <sfDir> <outDir> [query ...]` writes each named query's
  * result (every query's, with no names) to `<outDir>/<name>` as parquet,
  * and every query's oracle SQL to `<outDir>/oracle_sql.json`. A query runs
  * its `verify` path when it declares one, and its `planMust` is checked;
  * a query that fails is reported on stderr and the run goes on. */
object Verify {

  /** Cell normalization matching scripts/check.py `norm_cell` bit-for-bit:
    * NULL marker, booleans as 0/1, floats via Python's `%.9g` (9 significant
    * digits, trailing zeros stripped, C-rule exponent switch), everything
    * else via toString. Keeping the two in lockstep is the point — the
    * digest is only diagnostic if it reproduces the comparator's view. */
  private[graft] def normCell(v: Any): String = v match {
    case null => "NULL"
    case b: Boolean => if (b) "1" else "0"
    case d: Double => pyG9(d)
    case f: Float => pyG9(f.toDouble)
    case x => x.toString
  }

  private def pyG9(d: Double): String = {
    if (d.isNaN) "NaN"
    else if (d.isInfinity) { if (d > 0) "inf" else "-inf" }
    else {
      val raw = "%.9g".formatLocal(java.util.Locale.ROOT, d)
      val eIdx = raw.indexWhere(c => c == 'e' || c == 'E')
      def stripZeros(m: String): String =
        if (m.contains('.')) m.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
        else m
      if (eIdx >= 0) stripZeros(raw.substring(0, eIdx)) + "e" + raw.substring(eIdx + 1)
      else stripZeros(raw)
    }
  }

  /** Canonical digest of an already-written query dump: read the parquet
    * back, normalize every cell as check.py does, sort columns by name and
    * rows lexicographically, sha256 the whole relation. Emits
    * <outDir>/<name>.digest.json and the sorted rows as <name>.rows.tsv
    * (flat files — invisible to check.py's directory glob). Bounded: the
    * whole path (collect included — a digest is triage for GATE-sized
    * results, and an unbounded collect could OOM the driver on a large
    * query) is skipped above 200k rows; the digest.json then records the
    * skip + row count instead of a hash. */
  private def writeDigest(spark: org.apache.spark.sql.SparkSession,
                          outDir: String, name: String): Unit = {
    val df = spark.read.parquet(s"$outDir/$name")
    val n = df.count()
    if (n > 200000) {
      Files.writeString(Paths.get(s"$outDir/$name.digest.json"),
        s"""{"name": "$name", "rows": $n, "sha256": null, """ +
        """"skipped": "digest bounded at 200k rows"}""" + "\n")
      return
    }
    val order = df.columns.zipWithIndex.sortBy(_._1)
    val cols = order.map(_._1)
    val rows = df.collect().map { r =>
      order.map { case (_, i) => normCell(r.get(i)) } }
    val sortedRows = rows.map(_.toSeq).sorted(
      math.Ordering.Implicits.seqOrdering[Seq, String])
    val body = cols.mkString("\t") + "\n" +
      sortedRows.map(_.mkString("\t")).mkString("\n") + "\n"
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Files.writeString(Paths.get(s"$outDir/$name.digest.json"),
      s"""{"name": "$name", "rows": ${sortedRows.length}, """ +
      s""""cols": [${cols.map(c => "\"" + c + "\"").mkString(", ")}], """ +
      s""""sha256": "$sha"}""" + "\n")
    if (sortedRows.length <= 200000)
      Files.writeString(Paths.get(s"$outDir/$name.rows.tsv"), body)
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [query ...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    // Query names after the two dirs run just those (large-SF local
    // sweeps); with none, every query runs, as the correctness gate does.
    val named = args.drop(2).toSeq.distinct
    val unknown = named.filterNot(n => QuerySpec.all.exists(_.name == n))
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val specs = if (named.isEmpty) QuerySpec.all else QuerySpec.all.filter(q => named.contains(q.name))
    // coalesce(1) gives the driver one tidy file per query, but it also
    // collapses each query's FINAL STAGE to one thread — invisible at
    // sf0.01, a 32× de-parallelizer on heavy queries at sf1+. Large-SF
    // local sweeps set SPARK_GRAFT_NO_COALESCE=1 to write per-partition
    // files instead (check.py globs *.parquet, so both layouts compare).
    val noCoalesce = GraftEnv.noCoalesce()
    GraftEnv.check()
    val spark = GraftSessions.local(GraftEnv.cpus(4))
    new java.io.File(outDir).mkdirs()
    var nFailed = 0
    // Forensic digests (driver-red triage): for each named query, after the
    // dump, re-read the WRITTEN parquet and emit a canonical result digest
    // (<name>.digest.json — cells normalized exactly as scripts/check.py
    // does, columns sorted by name, rows sorted, sha256) plus the sorted
    // normalized rows themselves (<name>.rows.tsv), so a gate-side hash
    // mismatch diffs to the exact cell instead of staying a yes/no bit.
    // Flat FILES, not directories — check.py globs outDir/* dirs for
    // rows-only entries and must not see these. Default covers the one
    // query that has gone driver-red while locally green (quota_sample).
    val digestFor = sys.env.getOrElse("SPARK_GRAFT_DIGEST", "quota_sample")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    specs.foreach { spec =>
      try {
        // a query's Verify path, when it has one, dumps the intermediate
        // relation its oracle reads
        val df = spec.verify.getOrElse(spec.build)(spark, sfDir)
        spec.checkPlan(df)
        (if (noCoalesce) df else df.coalesce(1)).write.mode("overwrite")
          .parquet(s"$outDir/${spec.name}")
        if (digestFor(spec.name)) writeDigest(spark, outDir, spec.name)
      }
      catch { case e: Throwable =>
        nFailed += 1
        System.err.println(s"[verify] ${spec.name} failed: $e") // toString: getMessage can be null
      }
    }
    // quota_sample's input sidecar (doc_id, source, n_tokens, pri, pid):
    // if these rows agree across environments, the output is forced — the
    // plan is a pure function of them (Buckets.hexBucket, no partition ids).
    if (digestFor("quota_sample") && specs.exists(_.name == "quota_sample")) {
      try {
        val side = ops.CurationPipeline
          .quotaSampleForensics(Tables.documents(spark, sfDir))
        val n = side.count()
        if (n <= 200000) {
          val rows = side.collect().map(r =>
            (0 until r.length).map(i => normCell(r.get(i))).mkString("\t"))
            .sorted
          Files.writeString(Paths.get(s"$outDir/quota_sample.inputs.tsv"),
            side.columns.mkString("\t") + "\n" + rows.mkString("\n") + "\n")
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] quota_sample forensics failed: $e")
      }
    }
    // Exit code stays 0 even on partial failure: the driver's gate is
    // check.py over the written outputs (a missing query shows up as a red
    // there), and a non-zero exit could abort the gate entirely. The
    // summary line makes partial breakage loud in the log.
    if (nFailed > 0) System.err.println(s"[verify] $nFailed quer${if (nFailed == 1) "y" else "ies"} FAILED to dump")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
