package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, DelegateToFileSystem,
  FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system, except that [[setPermission]] sets the
  * nine rwx bits with one `chmod(2)` through `java.nio` instead of forking
  * the `chmod` command. Hadoop forks whenever libhadoop (`NativeIO`) is
  * absent, and every directory and file it creates gets a `setPermission`
  * call: ~3 ms per staged file, checksum sidecar and checkpoint log entry.
  * Likewise [[getFileLinkStatus]], which `FileContext` renames (streaming
  * checkpoint commits) ask of source and target, forks no `readlink`.
  *
  * The parent's fork path stays for what `java.nio` cannot express: a mode
  * with bits above `0777` (sticky, setuid, setgid), or a path whose file
  * system has no POSIX attribute view. `java.nio`, like the `chmod`
  * command, follows symbolic links and applies no umask; the callers
  * (`mkdirs`, `create`) have already applied it. */
class PosixRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    val path = pathToFile(p).toPath
    if ((mode & ~0x1ff) != 0 ||
        Files.getFileAttributeView(path, classOf[PosixFileAttributeView]) == null)
      super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(path, PosixRawLocalFileSystem.bits(mode))
    catch {
      case e: NoSuchFileException =>
        throw new FileNotFoundException(s"$p: ${e.getMessage}")
    }
  }

  /** A path that is not a symbolic link gets its `getFileStatus`, which is
    * what the parent answers once `readlink` prints nothing; a link keeps
    * the parent's path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object PosixRawLocalFileSystem {
  // PosixFilePermission's declaration order runs from OWNER_READ (0400)
  // down to OTHERS_EXECUTE (0001)
  private val ordered = PosixFilePermission.values()

  /** The permission set of the low nine bits of `mode`. */
  private def bits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- ordered.indices if (mode & (1 << (8 - i))) != 0) set.add(ordered(i))
    set
  }
}

/** The checksummed `file:` file system (`.crc` sidecars, verified reads)
  * over [[PosixRawLocalFileSystem]]. It extends `LocalFileSystem` because
  * `FileSystem.getLocal` casts to that type. */
class PosixLocalFileSystem extends LocalFileSystem(new PosixRawLocalFileSystem)

/** The `FileContext` twin of [[PosixLocalFileSystem]], for the callers that
  * go through `AbstractFileSystem` (Structured Streaming's checkpoint
  * logs): checksummed like Hadoop's `LocalFs`, over the same raw class. */
class PosixLocalFs(raw: AbstractFileSystem) extends ChecksumFs(raw) {
  // the (URI, Configuration) constructor AbstractFileSystem.get reflects on
  def this(uri: URI, conf: Configuration) = this(new PosixRawLocalFs(uri, conf))
}

/** [[PosixRawLocalFileSystem]] as an `AbstractFileSystem`, with the
  * overrides of Hadoop's `RawLocalFs`, whose constructors are not
  * public. */
class PosixRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new PosixRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}
