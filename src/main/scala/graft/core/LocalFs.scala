package graft.core

import java.io.IOException
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system, minus its two per-call OS processes.
  * Without the native Hadoop library, `RawLocalFileSystem` runs `chmod`
  * for every permission it sets (every file and directory it creates,
  * `.crc` files included) and `readlink` for every link-status check
  * (every `FileContext` rename). Here `java.nio` does both in process.
  * A mode with bits outside `0777` (sticky), a file system nio cannot
  * chmod, and a path that is a symlink keep Hadoop's own code.
  */
class LocalRawFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    // the enum runs owner → others, read → execute: mode bits 8 → 0
    def modes = PosixFilePermission.values.toSeq.zipWithIndex
      .collect { case (m, i) if (bits >> (8 - i) & 1) == 1 => m }
    val done = (bits & ~0x1ff) == 0 && (try {
      Files.setPosixFilePermissions(pathToFile(p).toPath, modes.toSet.asJava)
      true
    } catch { case _: IOException | _: UnsupportedOperationException => false })
    if (!done) super.setPermission(p, permission)
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local FileSystem over
  * [[LocalRawFileSystem]]. */
class LocalChecksumFileSystem extends LocalFileSystem(new LocalRawFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the `file:` scheme of a
  * `FileContext` (Spark's checkpoint file manager, and so every offset,
  * commit and state-store file): Hadoop's `LocalFs` — a `ChecksumFs` over
  * `RawLocalFs` — with [[LocalRawFileSystem]] inside. Hadoop builds it
  * through this `(URI, Configuration)` constructor and, like `LocalFs`,
  * it always serves `file:///`.
  */
class LocalChecksumFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new LocalDelegateFs(conf))

/** Hadoop's `RawLocalFs` over [[LocalRawFileSystem]]. */
private final class LocalDelegateFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
      new LocalRawFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
