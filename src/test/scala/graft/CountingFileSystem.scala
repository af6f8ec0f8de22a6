package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

/** Local filesystem registered under the `cfs://` scheme that records
  * every directory listing — the observability hook that lets specs
  * PROVE a metadata path never lists (e.g. live-view planning from
  * logged file stats). Listing is the one operation that explodes on
  * object stores at scale, so "zero listings" is the assertion that
  * matters; opens/stats are deliberately not counted.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: java.net.URI = CountingFileSystem.uri

  // RawLocalFileSystem's statuses load permissions LAZILY via
  // `new File(uri)`, which rejects any scheme but file:// — strip to a
  // plain FileStatus (default perms) so cfs:// paths survive
  private def strip(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, null, null, null, st.getPath)

  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.record(f)
    CountingFileSystem.onList(f.toUri.getPath)
    super.listStatus(f).map(strip)
  }

  // FileSystem.listFiles walks through this, once per directory; the
  // located statuses it builds load every file's permissions, which on
  // the local file system without native IO forks an `ls` per file
  override def listLocatedStatus(f: Path)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    CountingFileSystem.recordLocated(f)
    super.listLocatedStatus(f)
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingFileSystem.recordOpen(f)
    super.open(f, bufferSize)
  }

  // RawLocalFileSystem implements BOTH public create() variants
  // directly against its private 8-arg create (they do not chain
  // through each other), so both must record — overriding only the
  // FsPermission one misses every plain f.create(path, overwrite) call
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
                      overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    CountingFileSystem.recordCreate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    CountingFileSystem.recordCreate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def getFileStatus(f: Path): FileStatus = strip(super.getFileStatus(f))
}

object CountingFileSystem {
  val uri: java.net.URI = java.net.URI.create("cfs:///")
  private val listed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val opened = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val located = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def record(p: Path): Unit = listed.add(p.toUri.getPath)
  private def recordOpen(p: Path): Unit = opened.add(p.toUri.getPath)
  private def recordCreate(p: Path): Unit = created.add(p.toUri.getPath)
  private def recordLocated(p: Path): Unit = located.add(p.toUri.getPath)

  def reset(): Unit = {
    listed.clear(); opened.clear(); created.clear(); located.clear(); onList = _ => ()
  }

  /** Test interception hook: invoked with each listed path BEFORE the
    * listing returns — lets a spec deterministically interleave a
    * commit into another operation's list-then-act window (e.g. a
    * RESTORE landing mid-vacuum). Reset() clears it.
    */
  @volatile var onList: String => Unit = _ => ()

  /** Paths listed since the last reset that contain `fragment`. */
  def listedUnder(fragment: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    listed.iterator().asScala.filter(_.contains(fragment)).toSeq
  }

  /** Directories listed through `listLocatedStatus` (the walk behind
    * `listFiles`) since the last reset that contain `fragment`.
    */
  def locatedListedUnder(fragment: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    located.iterator().asScala.filter(_.contains(fragment)).toSeq
  }

  /** Paths opened (read) since the last reset that contain `fragment`
    * — the per-batch / per-resolve metadata-read counter: on an object
    * store every open is a GET, so "how many log files did this step
    * read" is the cost that scales.
    */
  def openedUnder(fragment: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    opened.iterator().asScala.filter(_.contains(fragment)).toSeq
  }

  /** Paths created (written) since the last reset that contain
    * `fragment` — the per-step metadata-WRITE counter: on an object
    * store every create is a PUT, so "how many files did this step
    * write" bounds the commit/checkpoint cost that scales.
    */
  def createdUnder(fragment: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    created.iterator().asScala.filter(_.contains(fragment)).toSeq
  }

  /** Install the cfs:// scheme on the session's Hadoop conf (idempotent). */
  def install(conf: Configuration): Unit = {
    conf.set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    conf.set("fs.AbstractFileSystem.cfs.impl", classOf[CountingAbstractFs].getName)
  }
}

/** FileContext adapter for cfs:// (the lake's put-if-absent commit goes
  * through FileContext.rename(NONE) on non-`file` schemes).
  */
class CountingAbstractFs(uri: java.net.URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new CountingFileSystem, conf, "cfs", false)

/** The same local filesystem under an UNLISTED scheme (`nofs://`) — no
  * CommitPublisher is registered for it, so it stands in for an
  * S3-family store: the lake must refuse to commit there rather than
  * degrade to last-writer-wins.
  */
class UnpublishableFileSystem extends CountingFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("nofs:///")
}

/** The same local filesystem under `mput://` — also ships with NO
  * built-in publisher (no atomic rename/link exists on the emulated
  * store), but specs register a mock conditional-PUT publisher for it
  * (emulated S3 `If-None-Match`), proving the `registerCommitPublisher`
  * seam suffices for an S3-style deployment.
  */
class MockPutFileSystem extends CountingFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("mput:///")
}

class MockPutAbstractFs(uri: java.net.URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new MockPutFileSystem, conf, "mput", false)
