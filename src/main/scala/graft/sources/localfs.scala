package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, FileSystem, LocalFileSystem,
  Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.ReflectionUtils

/** The `file://` Hadoop FileSystem of [[graft.GraftSession.local]]: Hadoop's
  * checksummed LocalFileSystem (`.crc` sidecars included) over a raw local
  * filesystem that sets permissions through java.nio.
  *
  * Without Hadoop's native library, RawLocalFileSystem forks a `chmod`
  * process for every file, checksum sidecar and directory it creates — about
  * 2 ms each, hundreds per microbatch; java.nio sets the same bits in
  * microseconds. */
final class GraftLocalFileSystem extends LocalFileSystem(new NioPermissionRawLocalFileSystem)

/** The `file://` AbstractFileSystem of [[graft.GraftSession.local]]: what
  * FileContext resolves local paths through (Spark's streaming checkpoint
  * writes its offset and commit logs with it). Hadoop's own, LocalFs, runs
  * over a plain RawLocalFileSystem and so forks `chmod` and `readlink`; this
  * one delegates to the FileSystem class `fs.file.impl` names, so FileContext
  * and FileSystem reach local files through one implementation. */
final class GraftLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(uri,
    ReflectionUtils.newInstance(FileSystem.getFileSystemClass("file", conf), conf),
    conf, "file", false) {
  // as in LocalFs: the local filesystem, not Hadoop, judges a name
  override def isValidName(src: String): Boolean = true
}

/** RawLocalFileSystem whose `setPermission` and link lookup use java.nio. A
  * filesystem with no POSIX attribute view, a bit nio cannot express (the
  * sticky bit), or a path that is a symbolic link takes Hadoop's own path. */
private[sources] final class NioPermissionRawLocalFileSystem extends RawLocalFileSystem {
  /** Hadoop tells a link from a file by forking `readlink`, once for every
    * path FileContext checks before a rename. */
  override def getFileLinkStatus(f: HPath): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: HPath, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val view = Files.getFileAttributeView(pathToFile(p).toPath, classOf[PosixFileAttributeView])
    if (view == null || (bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner, group and others read/write/execute
      // in the order of the mode's bits, high bit first
      val set = PosixFilePermission.values().zipWithIndex.collect {
        case (perm, i) if (bits & (1 << (8 - i))) != 0 => perm
      }
      view.setPermissions(set.toSet.asJava)
    }
  }
}
