package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's raw local file system without its two forked helpers. With no
  * libhadoop, stock [[RawLocalFileSystem]] runs a `chmod` process for
  * every file or directory it creates with a permission, and a `readlink`
  * process on every `getFileLinkStatus` (each FileContext rename of a
  * checkpoint or state-store file makes several). Both are done in the JVM
  * here, with the same result; anything else goes to the stock code.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {

  /** The same 9 mode bits `chmod` would set; a sticky bit, or a present
    * libhadoop, takes the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NativeIO.isAvailable || permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort.toInt
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // PosixFilePermission's ordinals run OWNER_READ (0400) … OTHERS_EXECUTE (0001)
      PosixFilePermission.values.foreach(b => if ((mode & (0x100 >> b.ordinal)) != 0) perms.add(b))
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
    }

  /** For a path that is not a symlink, stock Hadoop returns exactly
    * `getFileStatus(f)` once `readlink` has printed nothing; a symlink takes
    * the stock path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f) else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed [[LocalFileSystem]] over
  * [[InProcessRawLocalFileSystem]] (`.crc` side files as before).
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext that streaming
  * checkpoints and state stores write through: Hadoop's `local.LocalFs`
  * (a [[ChecksumFs]] over a [[DelegateToFileSystem]]) with
  * [[InProcessRawLocalFileSystem]] inside. Hadoop's classes cannot be
  * given another raw file system, so their few overrides are repeated.
  * Hadoop constructs it reflectively with `(URI, Configuration)`; like
  * Hadoop's own, it is always rooted at `file:///`.
  */
class InProcessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new InProcessLocalFs.Raw(conf)) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
}

object InProcessLocalFs {
  private[graft] class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new InProcessRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
    override def getCanonicalServiceName: String = null
  }
}
