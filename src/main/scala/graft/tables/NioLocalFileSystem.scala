package graft.tables

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, with permissions set through
  * java.nio instead of a `chmod` subprocess.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file, checksum file and directory a write and
  * its committer create: 232 forks per replication batch on perfbench's
  * `replicate` store. java.nio sets the same nine mode bits in-process.
  * A sticky bit, which java.nio cannot express, still takes Hadoop's
  * path.
  *
  * Selected per write through [[NioLocalFileSystem.writeOptions]]; the
  * global Hadoop conf and the cached `file:` file system are untouched. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(permission.toShort))
  }

  /** The java.nio set of a mode's nine permission bits (0400 .. 0001,
    * in `PosixFilePermission`'s declaration order). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }

  /** DataFrameWriter options that route a write's `file:` paths through
    * this file system. Spark copies writer options into the write's
    * Hadoop conf; the cache is bypassed because it is keyed by scheme
    * alone and would hand back the default instance. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
