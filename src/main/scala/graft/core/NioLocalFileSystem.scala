package graft.core

import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** `file://` without a forked `chmod`. A Hadoop build without its native
  * library (`libhadoop`) applies each permission of `RawLocalFileSystem`
  * (every file it creates, every directory it makes) by starting a
  * `chmod` process. This subclass applies the same mode bits with one
  * chmod(2) through java.nio. A mode with the sticky bit, which java.nio
  * cannot express, and a platform without POSIX permissions keep
  * Hadoop's own path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (NioRawLocalFileSystem.posix && !permission.getStickyBit)
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.modeBits(permission.toShort))
    else super.setPermission(p, permission)
}

object NioRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `mode` (owner read = 0400) as java.nio's set. */
  def modeBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // declared OWNER_READ .. OTHERS_EXECUTE, i.e. mode bit 8 down to bit 0
    PosixFilePermission.values.foreach { p =>
      if ((mode & (1 << (8 - p.ordinal))) != 0) set.add(p)
    }
    set
  }
}

/** Hadoop's checksummed `file://` (`.crc` sidecars, rename-based commits)
  * over [[NioRawLocalFileSystem]]. [[Engine.session]] registers it as
  * `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
