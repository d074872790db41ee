package graft.tables

import java.net.URI
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

class NioLocalFileSystemSpec extends AnyFunSuite {
  private def octal(s: String): Int = Integer.parseInt(s, 8)
  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("setPermission leaves the same mode as Hadoop's chmod path, for every mode 0000-0777") {
    def init(f: RawLocalFileSystem): RawLocalFileSystem = {
      f.initialize(URI.create("file:///"), new Configuration()); f
    }
    val hadoop = init(new RawLocalFileSystem)
    val nio = init(new NioLocalFileSystem.Raw)
    val dir = Files.createDirectories(Paths.get("target/test-niofs"))
    def pair(kind: String, mk: Path => Path): (Path, Path) = {
      val ab = (dir.resolve(s"$kind-chmod"), dir.resolve(s"$kind-nio"))
      Seq(ab._1, ab._2).foreach(p => if (!Files.exists(p)) mk(p))
      ab
    }
    val all = 0 to octal("777")
    // sticky modes take Hadoop's own path; the nine bits still agree
    val cases = Seq(
      pair("file", Files.createFile(_)) -> all,
      pair("dir", Files.createDirectory(_)) -> (all ++ Seq(octal("1755"), octal("1777"))))
    try for (((a, b), modes) <- cases; m <- modes) {
      val perm = new FsPermission(m.toShort)
      hadoop.setPermission(new HPath(a.toUri), perm)
      nio.setPermission(new HPath(b.toUri), perm)
      assert(mode(b) === mode(a), f"mode ${m.toOctalString} on ${a.getFileName}")
    } finally for (((a, b), _) <- cases; p <- Seq(a, b))
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwxr-xr-x"))
  }
}
