package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without process launches. Without
  * libhadoop, stock [[RawLocalFileSystem]] forks a `chmod` for every
  * file and directory it creates and a `readlink` for every
  * `getFileLinkStatus`, which every FileContext rename calls — paid by
  * every streaming offset-log, commit-log, state-store and sink write. This subclass does both through
  * java.nio, the way Hadoop itself does when libhadoop is loaded
  * (`NativeIO.POSIX.chmod`); everything else is stock.
  *
  * `getFileStatus`/`listStatus` stay stock on purpose: their lazy
  * status launches nothing unless permissions are asked for, and
  * Spark's file listing never asks. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** chmod through NIO; the sticky bit has no NIO spelling, so it keeps
    * the stock path. Follows symlinks, like chmod. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posixBits(permission.toShort))

  /** A non-link's link status is its status. Stock runs `readlink` on
    * the path's string form — for a qualified `file:/…` path that
    * process never finds a link — so only a real link goes to stock. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  /** The low nine mode bits as NIO permissions (enum order OWNER_READ ..
    * OTHERS_EXECUTE is mode bit 8 down to 0). */
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) s.add(p)
    }
    s
  }
}

/** `fs.file.impl`: stock [[LocalFileSystem]] (the checksum layer, so
  * `.crc` sidecars and read verification stay) over the fork-free raw fs. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, the FileContext twin that
  * streaming checkpoints use: stock `LocalFs` is a [[ChecksumFs]] over
  * `RawLocalFs`, which hard-codes `new RawLocalFileSystem()` behind
  * package-private constructors — so this spells the same stack over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  /** Stock `RawLocalFs` over the fork-free raw fs: its server defaults
    * and its name check (the OS validates names); its default port, -1,
    * is what DelegateToFileSystem derives already. */
  private class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
