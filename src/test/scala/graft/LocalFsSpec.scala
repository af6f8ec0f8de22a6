package graft.lake

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** [[LocalFs]] sets the same mode bits as the stock local file system,
  * for created files, their checksum files and directories, and for
  * explicit modes with and without the sticky bit.
  */
class LocalFsSpec extends AnyFunSuite {

  private def fsWith(impl: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.file.impl", impl)
    FileSystem.newInstance(new java.net.URI("file:///"), conf)
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** The modes of a file, its `.crc` and a directory made by `f`, plus
    * the modes after explicit `setPermission` calls.
    */
  private def modesOf(f: FileSystem, root: JPath): Seq[Int] = {
    val dir = new Path(root.toString, "a/b")
    assert(f.mkdirs(dir))
    val file = new Path(dir, "part.bin")
    val out = f.create(file, false)
    out.write(Array[Byte](1, 2, 3))
    out.close()
    val created = Seq(mode(root.resolve("a/b")), mode(root.resolve("a/b/part.bin")),
      mode(root.resolve("a/b/.part.bin.crc")))
    f.setPermission(file, new FsPermission(Integer.parseInt("640", 8).toShort))
    f.setPermission(dir, new FsPermission(Integer.parseInt("1777", 8).toShort))
    created ++ Seq(mode(root.resolve("a/b/part.bin")), mode(root.resolve("a/b")))
  }

  test("LocalFs sets the stock mode bits, sticky bit included") {
    val stock = modesOf(fsWith(classOf[LocalFileSystem].getName),
      Files.createTempDirectory("localfs_stock"))
    val ours = modesOf(fsWith(LocalFs.Impl), Files.createTempDirectory("localfs_graft"))
    assert(ours == stock)
    assert(stock(3) == Integer.parseInt("640", 8) && stock(4) == Integer.parseInt("1777", 8),
      stock.map(_.toOctalString))
    assert(fsWith(LocalFs.Impl).isInstanceOf[LocalFs])
  }
}
