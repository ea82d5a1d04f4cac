package graft.core

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local `file:` filesystem without process spawns. Without the native
  * libhadoop, the stock raw class runs `chmod` for every file and directory
  * it creates (`.crc` files too) and `readlink` for every link-status probe
  * FileContext makes before a rename. Here both are JDK calls; permission
  * bits, checksums and rename semantics are the stock ones.
  */
class ForklessRawLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions`; a sticky bit, which it cannot express,
    * or a non-POSIX store falls back to the stock `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = permission.toShort
      // PosixFilePermission's declaration order is owner rwx, group rwx, others rwx
      val perms = PosixFilePermission.values.filter(b => (bits & (0x100 >> b.ordinal)) != 0)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** The stock answer for anything that is not a symlink is its plain file
    * status (its `readlink` of a `file:` URI always fails); real links still
    * go through the stock code.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over the forkless raw one. */
class ForklessLocalFileSystem extends LocalFileSystem(new ForklessRawLocalFileSystem)

/** The FileContext view of [[ForklessRawLocalFileSystem]], overriding what
  * `org.apache.hadoop.fs.local.RawLocalFs` overrides.
  */
class ForklessRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new ForklessRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: the FileContext filesystem Spark's
  * checkpoint manager writes offset and commit logs through. Like the stock
  * `LocalFs`, it always serves `file:///`, whatever `uri` it is given.
  */
class ForklessLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForklessRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
