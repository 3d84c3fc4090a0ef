package graft.io

import java.io.File
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without the per-call child processes.
  *
  * Without native `libhadoop`, stock [[RawLocalFileSystem]] runs `chmod`
  * for every file or directory it creates with a permission, and
  * `getFileLinkStatus` (every `FileContext.rename`) runs `readlink`. A
  * streaming micro-batch writes about a dozen small checkpoint, state-store
  * and sink files, so those forks dominate its commit path. This class does
  * the same two things in-process and defers to `super` whenever the answer
  * could differ from the stock one.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine mode bits through `Files.setPosixFilePermissions`. A sticky
    * bit (requested or present), a setuid/setgid bit present (GNU `chmod`
    * keeps a directory's) or a non-POSIX filesystem goes to `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = permission.toShort & 0xfff
    val plain =
      try mode <= 0x1ff && (Files.getAttribute(file, "unix:mode").asInstanceOf[Int] & 0xe00) == 0
      catch { case _: UnsupportedOperationException => false }
    if (!plain) super.setPermission(p, permission)
    else {
      val perms = new java.util.HashSet[PosixFilePermission]()
      PosixFilePermission.values.foreach { b =>
        if ((mode & (1 << (8 - b.ordinal))) != 0) perms.add(b)
      }
      Files.setPosixFilePermissions(file, perms)
    }
  }

  /** Stock Hadoop runs `readlink` on `new File(f.toString)` and returns
    * `getFileStatus(f)` when it prints nothing; the same file tested with
    * `Files.isSymbolicLink` takes that branch without the fork. A link goes
    * to `super`.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The `FileSystem` API binding (`fs.file.impl`): stock checksummed
  * [[LocalFileSystem]] over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` API binding (`fs.AbstractFileSystem.file.impl`):
  * stock [[ChecksumFs]] over [[ForkFreeRawLocalFileSystem]], mirroring
  * `org.apache.hadoop.fs.local.LocalFs` over `RawLocalFs`, which also
  * ignore the URI they are built for. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  /** `org.apache.hadoop.fs.local.RawLocalFs` over the fork-free class. */
  private[io] class Raw(conf: Configuration)
      extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem,
        conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
