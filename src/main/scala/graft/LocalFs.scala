package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.{FsAction, FsPermission}

/** graft's `file:` filesystem. The `core-site.xml` graft ships selects it
  * (`fs.file.impl`) and its `FileContext` twin [[LocalFs.Afs]]
  * (`fs.AbstractFileSystem.file.impl`) for every Hadoop `Configuration`.
  *
  * Without Hadoop's native library the stock local filesystem forks a
  * `chmod` process to set the mode of every file, `.crc` sidecar and
  * directory it creates, and a `readlink` process for every `FileContext`
  * rename (the streaming offset/commit logs, the state store). [[LocalFs.Raw]]
  * does both through java.nio instead. These are subclasses of the stock
  * classes, so Spark's `LocalFileSystem`/`RawLocalFileSystem` checks and the
  * `.crc` checksums behave as before. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw) {
  /** `false` when `dst` is an existing file, as Hive's
    * `ProxyLocalFileSystem` (which `file:` resolved to before) answers; the
    * stock rename replaces the file. */
  override def rename(src: Path, dst: Path): Boolean =
    !isFile(dst) && super.rename(src, dst)
}

object LocalFs {
  /** `RawLocalFileSystem` without the `chmod` and `readlink` forks. */
  class Raw extends RawLocalFileSystem {
    /** The same mode through `Files.setPosixFilePermissions`. A sticky bit,
      * which java.nio cannot set, and a store without POSIX permissions go
      * to the stock `chmod`. */
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

    /** A path that is not a symlink has its plain status, which is what the
      * stock method returns after asking `readlink`; a missing path still
      * throws `FileNotFoundException`. */
    override def getFileLinkStatus(f: Path): FileStatus =
      if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
      else getFileStatus(f)
  }

  /** The `FileContext` filesystem: Hadoop's `local.LocalFs` over [[Raw]].
    * `local.RawLocalFs`'s constructors are package-private, so `RawAfs`
    * repeats its overrides. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(uri, conf))

  private class RawAfs(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }

  private def posix(p: FsPermission): java.util.Set[PosixFilePermission] = {
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    def add(a: FsAction, r: PosixFilePermission, w: PosixFilePermission,
            x: PosixFilePermission): Unit = {
      if (a.implies(FsAction.READ)) out.add(r)
      if (a.implies(FsAction.WRITE)) out.add(w)
      if (a.implies(FsAction.EXECUTE)) out.add(x)
    }
    add(p.getUserAction, OWNER_READ, OWNER_WRITE, OWNER_EXECUTE)
    add(p.getGroupAction, GROUP_READ, GROUP_WRITE, GROUP_EXECUTE)
    add(p.getOtherAction, OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)
    out
  }
}
