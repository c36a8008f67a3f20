package graft.io

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's checksummed local filesystem (`.crc` files included) with
  * `setPermission` done in process. Without libhadoop,
  * `RawLocalFileSystem.setPermission` forks `/bin/chmod` for every data
  * file, `.crc` file and directory a write creates; here the rwx bits are
  * set through `java.nio` instead. Other bits (setuid, setgid, sticky) and
  * filesystems without POSIX attributes take Hadoop's own path, so the
  * resulting mode is the same either way. [[TableIO]] selects it per write
  * (see `TableIO.localFsOptions`); it is never a session default. */
final class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort.toInt
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** The rwx bits of `bits` (0..0777) as a POSIX permission set. The enum
    * runs OWNER_READ (0400) … OTHERS_EXECUTE (0001). */
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach { p =>
      if ((bits & (1 << (8 - p.ordinal))) != 0) s.add(p)
    }
    s
  }
}
