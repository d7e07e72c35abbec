package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` Hadoop FileSystem of [[graft.GraftSession.local]]: Hadoop's
  * checksummed LocalFileSystem (`.crc` sidecars included) over a raw local
  * filesystem that sets permissions through java.nio.
  *
  * Without Hadoop's native library, RawLocalFileSystem forks a `chmod`
  * process for every file, checksum sidecar and directory it creates — about
  * 2 ms each, hundreds per microbatch; java.nio sets the same bits in
  * microseconds. */
final class GraftLocalFileSystem extends LocalFileSystem(new NioPermissionRawLocalFileSystem)

/** RawLocalFileSystem whose `setPermission` uses java.nio. A filesystem with
  * no POSIX attribute view, or a bit nio cannot express (the sticky bit),
  * takes Hadoop's own path. */
private[sources] final class NioPermissionRawLocalFileSystem extends RawLocalFileSystem {
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
