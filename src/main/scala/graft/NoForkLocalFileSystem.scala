package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** Hadoop's checksummed `file:` FileSystem over a raw local one that
  * sets permissions in-process. Without libhadoop, the stock
  * `RawLocalFileSystem.setPermission` forks `chmod`, and every local
  * file create runs it (for the data file and again for its `.crc`),
  * as does every `mkdirs`: about 10 ms per created file against
  * 0.05 ms for the write itself. Here `java.nio` sets the same bits.
  * Modes with a bit outside 0777 (sticky, setuid, setgid) and hosts
  * where libhadoop is loaded keep the stock path. The checksum wrapper
  * is Hadoop's own, so `.crc` files and every file set stay as they
  * are. [[GraftSession.builder]] installs it as `fs.file.impl`. */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0 || NativeIO.isAvailable) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NoForkRawLocalFileSystem.posix(mode))
  }
}

object NoForkRawLocalFileSystem {
  /** rwxrwxrwx as `PosixFilePermission`s, which are declared in that
    * order: the i-th is bit 0400 >> i. */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) bits.add(p)
    }
    bits
  }
}
