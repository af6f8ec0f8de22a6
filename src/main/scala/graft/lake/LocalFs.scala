package graft.lake

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The checksummed local file system with an in-process `chmod`.
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks a `chmod` process for every created file, `.crc` file and
  * directory — hundreds of forks per lake commit cycle. This one sets
  * plain rwx modes through `java.nio` and defers anything else (a
  * sticky bit) to the stock shell path, so the resulting mode bits are
  * the stock ones. Sessions register it as
  * `.config(LocalFs.ImplConf, LocalFs.Impl)`.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The session conf that picks the implementation of `file:` paths. */
  val ImplConf = "spark.hadoop.fs.file.impl"
  val Impl: String = classOf[LocalFs].getName

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
  }
}
