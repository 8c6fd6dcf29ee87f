package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem with permission bits set in-process.
  * Without `libhadoop`, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process; it runs for every file, `.crc` sidecar and directory a write
  * creates. This override sets the same mode through
  * `Files.setPosixFilePermissions`. Bits NIO cannot express (the sticky
  * bit) and stores without a POSIX attribute view go to `super`, so the
  * resulting mode is always the one the stock filesystem sets. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (mode > 0x1ff /* 0777 */) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        NioRawLocalFileSystem.posix(mode))
      catch { case _: UnsupportedOperationException =>
        super.setPermission(p, permission) }
  }
}

object NioRawLocalFileSystem {
  /** `mode` (≤ 0777) as NIO permissions; `PosixFilePermission.values`
    * runs owner read → others execute, i.e. bit 8 down to bit 0. */
  private[graft] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (pf, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(pf)
    }
    s
  }
}

/** The engine's `file` scheme: Hadoop's checksummed [[LocalFileSystem]]
  * (same `.crc` sidecars, same checksum checks on read) over
  * [[NioRawLocalFileSystem]]. [[GraftSession.builder]] registers it as
  * `fs.file.impl`. */
class GraftLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)
