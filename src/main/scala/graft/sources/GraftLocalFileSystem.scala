package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFileAttributeView

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` FileSystem of every graft session (`spark.hadoop.fs.file.impl`,
  * set in [[graft.GraftSessions.local]]). It is Hadoop's checksummed
  * `LocalFileSystem`, so `.crc` files are still written and verified, over
  * [[GraftRawLocalFileSystem]], which changes modes and owners in-process.
  * Without libhadoop, stock `RawLocalFileSystem` forks `chmod` for every
  * file it creates (data file and `.crc`) and every dir it makes, and
  * `chown` for every owner change. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `RawLocalFileSystem` that sets modes and owners through `java.nio`
  * instead of a `chmod`/`chown` subprocess. Callers apply the umask before
  * `setPermission`, as with the stock class, so the resulting modes are the
  * same. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** One `chmod(2)`, as libhadoop's `NativeIO.POSIX.chmod` does; the sticky
    * bit is carried in the mode. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort.toInt))

  /** `FileUtil.setOwner`'s rules: user only, group only (the `chgrp` case),
    * or both; both null is an error. An unknown name throws the JDK's
    * `UserPrincipalNotFoundException`, an `IOException`. */
  override def setOwner(p: Path, username: String, groupname: String): Unit = {
    if (username == null && groupname == null)
      throw new java.io.IOException("username == null && groupname == null")
    val f = pathToFile(p).toPath
    val lookup = f.getFileSystem.getUserPrincipalLookupService
    // both names are resolved before either is applied, so an unknown
    // group leaves the owner unchanged too
    val user = Option(username).map(lookup.lookupPrincipalByName)
    val group = Option(groupname).map(lookup.lookupPrincipalByGroupName)
    val view = Files.getFileAttributeView(f, classOf[PosixFileAttributeView])
    user.foreach(view.setOwner)
    group.foreach(view.setGroup)
  }
}
