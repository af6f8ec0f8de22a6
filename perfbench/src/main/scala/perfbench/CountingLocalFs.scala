package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with operation counters. Traced runs install it
  * for `file:` (`fs.file.impl`); untraced runs use the stock one.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    noteOpen(f)
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    reads.incrementAndGet()
    super.listStatus(f)
  }

  override def getFileStatus(f: Path): FileStatus = {
    reads.incrementAndGet()
    super.getFileStatus(f)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    writes.incrementAndGet()
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    writes.incrementAndGet()
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    writes.incrementAndGet()
    super.mkdirs(f, permission)
  }
}

object CountingLocalFs {
  /** Metadata and open calls (open, list, stat). */
  val reads = new AtomicLong
  /** Mutating calls (create, rename, delete, mkdirs). */
  val writes = new AtomicLong
  /** Parquet files opened since the last [[takeOpened]] (paths). */
  private val opened = new ConcurrentHashMap[String, Boolean]()

  private def noteOpen(f: Path): Unit = {
    reads.incrementAndGet()
    val p = f.toUri.getPath
    if (p.endsWith(".parquet")) opened.put(p, true)
  }

  def takeOpened(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val paths = opened.keySet.asScala.toSet
    opened.clear()
    paths
  }
}
