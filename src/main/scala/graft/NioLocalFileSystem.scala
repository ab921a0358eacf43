package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, LocalFileSystem, Path,
  RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem with an in-process `setPermission`.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission` forks
  * a `chmod` process, and every file and directory a write creates gets one
  * (part files, `.crc` files, `_SUCCESS`, `_temporary` and staging dirs):
  * about 144 forks per `TxReplayStream` trigger, whose writes are many and
  * small. This filesystem sets the same nine permission bits through
  * `java.nio.file.Files.setPosixFilePermissions` instead. Modes NIO cannot
  * express (sticky, setuid, setgid) and filesystems without POSIX
  * attributes still take Hadoop's own path. [[Sessions.build]] registers it
  * as `fs.file.impl`, and its `FileContext` twin [[NioLocalFileSystem.Fs]]
  * as `fs.AbstractFileSystem.file.impl`, which Structured Streaming
  * checkpoints resolve `file:` through.
  */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The `FileContext` side, shaped as Hadoop's `LocalFs` over `RawLocalFs`:
    * checksummed, over a raw filesystem that is [[Raw]].
    */
  final class Fs(uri: URI, conf: Configuration) extends ChecksumFs(new RawFs(uri, conf))

  final class RawFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(uri, new Raw,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    // as Hadoop's RawLocalFs: any local file name is valid
    override def isValidName(src: String): Boolean = true
  }

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** The nine low mode bits as NIO permissions; `PosixFilePermission`'s
    * declaration order runs from owner read (0400) down to others execute.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) perms.add(p)
    }
    perms
  }
}
