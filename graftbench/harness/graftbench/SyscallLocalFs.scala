package graftbench

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with `chmod` and `readlink` made as system
  * calls. Without the native Hadoop library, `RawLocalFileSystem` runs
  * both as child processes: a streaming drain spawns one or two for every
  * checkpoint and state-store file it writes, some 800 per pass of the
  * `streaming` mix, and their cost is that of process creation, which
  * swings with load on a shared host. The native library makes the same
  * calls in-process; these classes do so through `java.nio`, so the
  * engine's own file operations are unchanged. The harness registers them
  * for the `file` scheme, through both the `FileSystem` and the
  * `FileContext` interfaces. */
class SyscallRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath, SyscallRawLocalFileSystem.posix(permission))

  /** A path that is not a symbolic link has its plain status, as the
    * fallback gives it after an empty `readlink`. */
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

object SyscallRawLocalFileSystem {
  /** Permission bits from the lowest (others execute) to owner read. */
  private val Bits = Array(OTHERS_EXECUTE, OTHERS_WRITE, OTHERS_READ, GROUP_EXECUTE,
    GROUP_WRITE, GROUP_READ, OWNER_EXECUTE, OWNER_WRITE, OWNER_READ)

  def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Bits.indices.foreach(i => if ((mode & (1 << i)) != 0) set.add(Bits(i)))
    set
  }
}

/** `fs.file.impl`: the checksummed local file system over the raw one above. */
class SyscallLocalFileSystem extends LocalFileSystem(new SyscallRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, as `org.apache.hadoop.fs.local.RawLocalFs`. */
class SyscallRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new SyscallRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort(): Int = -1
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, as `org.apache.hadoop.fs.local.LocalFs`. */
class SyscallLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new SyscallRawLocalFs(uri, conf))
