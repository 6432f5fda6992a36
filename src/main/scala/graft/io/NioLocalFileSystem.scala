package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with its two per-file shell commands done
  * in-process. Without libhadoop, `RawLocalFileSystem` forks `chmod` for
  * every file and directory it creates and `readlink` for every
  * `getFileLinkStatus`; see [[graft.GraftSession]] for what that costs a
  * micro-batch. Every other call is Hadoop's own.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod(2) through java.nio. A sticky bit, a store without POSIX
    * permissions, and a directory carrying setuid/setgid bits (which
    * chmod(1) keeps under a numeric mode and chmod(2) would clear) take
    * Hadoop's shell path. */
  override def setPermission(p: Path, perm: FsPermission): Unit = {
    val f = pathToFile(p).toPath
    val mode = perm.toShort.toInt
    def setIdDir = Files.isDirectory(f) &&
      (Files.getAttribute(f, "unix:mode").asInstanceOf[Int] & 0xc00) != 0 // 06000
    try {
      if ((mode & ~0x1ff) != 0 || setIdDir) super.setPermission(p, perm) // beyond 0777
      else {
        val set = EnumSet.noneOf(classOf[PosixFilePermission])
        // values() runs OWNER_READ (bit 8) down to OTHERS_EXECUTE (bit 0)
        PosixFilePermission.values.foreach(b => if ((mode >> (8 - b.ordinal) & 1) != 0) set.add(b))
        Files.setPosixFilePermissions(f, set)
      }
    } catch {
      case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      case _: UnsupportedOperationException => super.setPermission(p, perm)
    }
  }

  /** A path that is not a symlink gets the status Hadoop's `readlink`-then-
    * `getFileStatus` path would return, a missing path its
    * `FileNotFoundException`; symlinks go to Hadoop. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `file:` scheme for Hadoop's `FileSystem` API (`fs.file.impl`): the
  * checksummed `LocalFileSystem` over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NioRawLocalFileSystem]]:
  * that class hard-codes its delegate and has package-private
  * constructors, so its overrides are repeated here. */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `file:` scheme for Hadoop's `FileContext` API
  * (`fs.AbstractFileSystem.file.impl`), which Spark's checkpoint logs and
  * state stores write through: `org.apache.hadoop.fs.local.LocalFs` over
  * [[NioRawLocalFs]]. Like `LocalFs` it ignores the URI it is given. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
