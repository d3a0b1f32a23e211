package graft

import java.net.URI
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without its two per-call child processes. With
  * no native `libhadoop`, the stock class runs `chmod` for every
  * permission it sets (each created file and directory) and `readlink`
  * for every link check (each `FileContext` rename checks both ends).
  * Both are answered here through NIO in the same JVM. See
  * `SessionTuning` for the fork counts and timings.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem.rwx

  /** The nine rwx bits through `chmod(2)`, as the native path sets them;
    * a sticky bit has no NIO spelling, so it takes the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort.toInt
      val perms = rwx.zipWithIndex.collect {
        case (perm, i) if (bits >> (8 - i) & 1) == 1 => perm
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava): Unit
    }

  /** The stock method runs `readlink` on the path's string form, which
    * for a qualified `file:/…` path names no file, so it returns "" and
    * the call falls through to `getFileStatus`. Same test, no child. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(Paths.get(f.toString))) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object ForkFreeRawLocalFileSystem {
  // owner rwx, group rwx, others rwx: bit 8 down to bit 0
  private val rwx = PosixFilePermission.values.toSeq
}

/** `fs.file.impl`: the checksummed `file://` FileSystem over the raw one. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, what `FileContext` (streaming
  * checkpoints, offsets, state stores) writes through: `LocalFs` over
  * the raw filesystem above, with `RawLocalFs`'s three overrides. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults()
    override def isValidName(src: String): Boolean = true
  })
