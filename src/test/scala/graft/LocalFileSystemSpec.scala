package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FSDataInputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{GraftLocalFileSystem, GraftRawLocalFileSystem, IO}

/** The session's `file:` FileSystem sets modes and owners in-process: it
  * must be the one every `file:` path resolves to, give what stock Hadoop
  * gives, and still write and verify `.crc` checksums. */
class LocalFileSystemSpec extends SparkSpecBase {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path("file:///tmp").getFileSystem(conf)
  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x0fff

  private def fresh(dir: String): String = { IO.deletePath(spark, dir); dir }

  test("file: paths resolve to GraftLocalFileSystem over graft's raw FS") {
    assert(fs.isInstanceOf[GraftLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[GraftRawLocalFileSystem])
  }

  test("a parquet write leaves the modes stock Hadoop gives under the session umask") {
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
    val out = fresh("/tmp/graft_test_localfs_parquet")
    IO.writeParquet(spark.range(100).toDF("id").repartition(3), out)
    val all = Files.walk(Paths.get(out)).iterator.asScala.toSeq
    val (dirs, files) = all.partition(Files.isDirectory(_))
    val names = files.map(_.getFileName.toString)
    assert(names.count(_.startsWith("part-")) == 3, names)
    assert(names.count(n => n.startsWith(".part-") && n.endsWith(".crc")) == 3, names)
    assert(names.contains("_SUCCESS") && names.contains("._SUCCESS.crc"), names)
    files.foreach(f => assert(mode(f.toString) == fileMode, f"$f: ${mode(f.toString)}%o"))
    dirs.foreach(d => assert(mode(d.toString) == dirMode, f"$d: ${mode(d.toString)}%o"))

    // the same create and mkdirs through stock Hadoop give the same modes
    val stock = new LocalFileSystem()
    stock.initialize(java.net.URI.create("file:///"), conf)
    val cmp = fresh("/tmp/graft_test_localfs_cmp")
    for ((side, f) <- Seq("stock" -> stock, "graft" -> fs)) {
      assert(f.mkdirs(new Path(s"$cmp/$side/d")))
      val o = f.create(new Path(s"$cmp/$side/d/x")); o.write(1); o.close()
    }
    for (rel <- Seq("", "/d", "/d/x", "/d/.x.crc"))
      assert(mode(s"$cmp/graft$rel") == mode(s"$cmp/stock$rel"), rel)
    stock.close()
  }

  test("setPermission round-trips 01750, sticky bit included") {
    val dir = fresh("/tmp/graft_test_localfs_sticky")
    val p = new Path(dir)
    assert(fs.mkdirs(p))
    fs.setPermission(p, new FsPermission(Integer.parseInt("1750", 8).toShort))
    assert(mode(dir) == Integer.parseInt("1750", 8), f"${mode(dir)}%o")
    val perm = fs.getFileStatus(p).getPermission
    assert(perm.getStickyBit && perm.toShort == Integer.parseInt("1750", 8), perm)
  }

  test("setOwner round-trips the current user and group; an unknown name or none throws") {
    val dir = fresh("/tmp/graft_test_localfs_owner")
    val p = new Path(s"$dir/f")
    val o = fs.create(p); o.write(1); o.close()
    val file = Paths.get(s"$dir/f")
    def owner = Files.getOwner(file).getName
    def group = Files.getAttribute(file, "posix:group").toString
    val (user0, group0) = (owner, group)
    fs.setOwner(p, user0, null)
    fs.setOwner(p, null, group0) // the chgrp case
    fs.setOwner(p, user0, group0)
    assert((owner, group) == ((user0, group0)))
    intercept[java.io.IOException](fs.setOwner(p, "no_such_user_graft", null))
    intercept[java.io.IOException](fs.setOwner(p, null, "no_such_group_graft"))
    intercept[java.io.IOException](fs.setOwner(p, null, null))
    assert((owner, group) == ((user0, group0)))
  }

  test("checksums are still written and verified: a flipped byte fails the read") {
    val dir = fresh("/tmp/graft_test_localfs_crc")
    val p = new Path(s"$dir/f")
    val o = fs.create(p); o.write("checksummed bytes".getBytes("UTF-8")); o.close()
    assert(Files.exists(Paths.get(s"$dir/.f.crc")))
    val raw = Paths.get(s"$dir/f")
    val bytes = Files.readAllBytes(raw)
    bytes(0) = (bytes(0) ^ 1).toByte
    Files.write(raw, bytes)
    // LocalFileSystem answers a checksum failure by moving the file to a
    // bad_files dir at the top of its device; this instance only reports it
    val check = new GraftLocalFileSystem {
      override def reportChecksumFailure(f: Path, in: FSDataInputStream, inPos: Long,
                                         sums: FSDataInputStream, sumsPos: Long): Boolean = false
    }
    check.initialize(java.net.URI.create("file:///"), conf)
    intercept[ChecksumException] {
      val in = check.open(p)
      try in.readAllBytes() finally in.close()
    }
    check.close()
  }
}
