package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** Hadoop's raw `file:` filesystem without its process forks. Without the
  * native `libhadoop`, [[RawLocalFileSystem]] runs `chmod` for every file
  * it creates (`setPermission`) and `readlink` for every link-status call
  * a `FileContext` rename makes (`getFileLinkStatus`). These two
  * overrides do the same through `java.nio`; everything else, the `.crc`
  * checksums of the wrappers below included, is Hadoop's.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `java.nio` (following links, as `chmod` does). The
    * sticky bit has no `java.nio` form and goes to Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(permission))

  /** A path that is not a symlink gets its `getFileStatus`, which is what
    * Hadoop's non-native path returns for one after forking `readlink` to
    * find that out (a missing path raises FileNotFoundException on both).
    * A symlink, dangling or not, takes Hadoop's path.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val classes = Seq(
    (OWNER_READ, OWNER_WRITE, OWNER_EXECUTE),
    (GROUP_READ, GROUP_WRITE, GROUP_EXECUTE),
    (OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE))

  /** The user/group/other actions of `p` as a POSIX permission set (from
    * the actions, not `toString`: an `FsCreateModes` prints both its
    * masked and unmasked modes).
    */
  def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    Seq(p.getUserAction, p.getGroupAction, p.getOtherAction).zip(classes).foreach {
      case (a, (r, w, x)) =>
        if (a.implies(FsAction.READ)) set.add(r)
        if (a.implies(FsAction.WRITE)) set.add(w)
        if (a.implies(FsAction.EXECUTE)) set.add(x)
    }
    set
  }
}

/** The `FileContext` (`AbstractFileSystem`) `file:` stack, Hadoop's
  * `local.LocalFs` over `local.RawLocalFs`, with [[NioRawLocalFileSystem]]
  * underneath: checksummed `.crc` sidecars, atomic rename and the
  * plain-link-target fixup of [[DelegateToFileSystem]] unchanged. Set as
  * `fs.AbstractFileSystem.file.impl`; Hadoop builds it reflectively from
  * this (URI, Configuration) constructor.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(
  new DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    // local.RawLocalFs's overrides: no default port, the local server
    // defaults, and name validation left to the OS
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  })

/** The `FileSystem`-API twin of [[NioLocalFs]]: Hadoop's checksummed
  * [[LocalFileSystem]] over [[NioRawLocalFileSystem]]. Set as
  * `fs.file.impl`; `FileSystem` instances are cached per JVM, so it only
  * takes effect when set before the first `file:` FileSystem is made.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
