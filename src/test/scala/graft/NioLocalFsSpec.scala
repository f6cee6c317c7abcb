package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.io.NioRawLocalFileSystem

/** [[NioRawLocalFileSystem]] sets the same permissions and reports the same
  * link status as Hadoop's [[RawLocalFileSystem]], whose process launches
  * it replaces. */
class NioLocalFsSpec extends AnyFunSuite with BeforeAndAfterAll {
  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val raw = init(new RawLocalFileSystem)
  private lazy val nio = init(new NioRawLocalFileSystem)
  private lazy val dir = Files.createTempDirectory("niolocalfs").toFile

  override def afterAll(): Unit = org.apache.commons.io.FileUtils.deleteDirectory(dir)

  private def mode(f: File): Int = Files.getAttribute(f.toPath, "unix:mode").asInstanceOf[Int] & 0xfff

  private def fresh(name: String, directory: Boolean = false): File = {
    val f = new File(dir, name)
    if (directory) assert(f.mkdir()) else assert(f.createNewFile())
    f
  }

  test("setPermission gives the same permissions as RawLocalFileSystem") {
    for (perm <- Seq("644", "755", "700", "600"); isDir <- Seq(false, true)) {
      val Seq(a, b) = Seq("raw", "nio").map(side => fresh(s"$side-$perm-$isDir", isDir))
      raw.setPermission(new Path(a.toURI), new FsPermission(perm))
      nio.setPermission(new Path(b.toURI), new FsPermission(perm))
      assert(Files.getPosixFilePermissions(b.toPath) === Files.getPosixFilePermissions(a.toPath), perm)
      assert(mode(b) === Integer.parseInt(perm, 8), perm)
    }
  }

  test("a sticky-bit permission on a directory falls back to RawLocalFileSystem") {
    val Seq(a, b) = Seq("raw-sticky", "nio-sticky").map(fresh(_, directory = true))
    raw.setPermission(new Path(a.getPath), new FsPermission("1777"))
    nio.setPermission(new Path(b.getPath), new FsPermission("1777"))
    assert(mode(a) === Integer.parseInt("1777", 8))
    assert(mode(b) === mode(a))
  }

  private def linkStatus(fs: RawLocalFileSystem, p: Path): Either[Class[_], Seq[Any]] =
    try {
      val s: FileStatus = fs.getFileLinkStatus(p)
      Right(Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink, s.getLen, s.getModificationTime,
        if (s.isSymlink) s.getSymlink else None))
    } catch { case e: FileNotFoundException => Left(e.getClass) }

  test("getFileLinkStatus matches RawLocalFileSystem") {
    val file = fresh("plain")
    Files.write(file.toPath, "x".getBytes("UTF-8"))
    val link = new File(dir, "link")
    Files.createSymbolicLink(link.toPath, file.toPath)
    val cases = Seq(
      "qualified file" -> new Path(file.toURI),
      "unqualified file" -> new Path(file.getPath),
      "unqualified symlink" -> new Path(link.getPath),
      "qualified symlink" -> new Path(link.toURI),
      "missing path" -> new Path(new File(dir, "missing").getPath))
    cases.foreach { case (label, p) =>
      assert(linkStatus(nio, p) === linkStatus(raw, p), label)
    }
    assert(linkStatus(nio, new Path(link.getPath)).exists(_(3) == true), "the symlink is reported as one")
    assert(linkStatus(nio, new Path(new File(dir, "missing").getPath)) === Left(classOf[FileNotFoundException]))
  }
}
