package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without its per-call process forks. Without
  * libhadoop the stock class runs `chmod` after every mkdir and file
  * create (each `.crc` twin included) and `readlink` on every link-status
  * probe, which FileContext's rename makes. Here the 9 mode bits go
  * through NIO, and a path that is not a symlink reports its plain
  * status. A sticky bit, a non-POSIX store or a real symlink still takes
  * the stock path.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      val modes = PosixFilePermission.values.zipWithIndex.collect {
        case (m, i) if (bits & (0x100 >> i)) != 0 => m
      }.toSet.asJava
      try Files.setPosixFilePermissions(pathToFile(p).toPath, modes)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem (same `.crc`
  * files) over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the FileContext twin, which
  * Structured Streaming's checkpoint log writes through. It mirrors
  * Hadoop's `LocalFs` over `RawLocalFs`, with the raw filesystem above. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(uri,
      new ForkFreeRawLocalFileSystem, conf, "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    })
