package graft.io

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with permissions set in-process.
  *
  * Without libhadoop's native IO, `RawLocalFileSystem.setPermission`
  * forks `chmod`, and a Spark write on a `file:` path calls it for every
  * directory it creates, every part file, every `.crc`, `_SUCCESS` and
  * the `.crc` of `_SUCCESS`: about 16 forks of 5–8 ms each per processor
  * batch on a 4-core host. [[NioLocalFileSystem.Raw]] sets the same 9
  * permission bits through `java.nio` instead. A permission with the
  * sticky bit, which `PosixFilePermission` cannot express, keeps
  * Hadoop's implementation. Everything else is stock: it IS a
  * `LocalFileSystem`, so `FileSystem.getLocal` keeps working.
  *
  * Every session installs it as `fs.file.impl`
  * ([[graft.GraftSession.LocalFileSystemConf]]). FileContext renames
  * (streaming checkpoints) go through `fs.AbstractFileSystem.file.impl`
  * and are not covered.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  /** The raw layer: overrides `setPermission` and nothing else. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        posixBits(permission.toShort & 0x1ff))
  }

  // PosixFilePermission's declaration order is owner r/w/x, group r/w/x,
  // others r/w/x: the 9 mode bits from high to low
  private def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (1 << (8 - i))) != 0) set.add(p)
    }
    set
  }
}
