package graft.lake

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.{CountingFileSystem, SparkSpec}
import LakeTable.ConcurrentCommitException

/** The local filesystem under `rjct://`, whose commit publisher
  * ([[RejectingPublisher]]) a spec can switch to reject every publish
  * or to land a racing commit first.
  */
class RejectingPutFileSystem extends CountingFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("rjct:///")
}

class RejectingPutAbstractFs(uri: java.net.URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new RejectingPutFileSystem, conf, "rjct", false)

/** Hard-link publishing, except: while `reject` is set every publish
  * loses; an armed `beforeNext` runs once, ahead of the next publish.
  */
object RejectingPublisher extends CommitPublisher {
  val calls = new AtomicInteger
  @volatile var reject = false
  @volatile var beforeNext: Option[() => Unit] = None

  def publishIfAbsent(f: FileSystem, tmp: Path, target: Path): Boolean = {
    calls.incrementAndGet()
    val hook = beforeNext
    beforeNext = None
    hook.foreach(_())
    !reject && HardLinkPublisher.publishIfAbsent(f, tmp, target)
  }
}

/** The one commit loop: its attempt bound and exhaustion message are
  * the same for every writer, and the stream writers' stop rule drops
  * the loser's staged files.
  */
class CommitLoopSpec extends SparkSpec {
  import spark.implicits._

  private def rjctDir(prefix: String): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.rjct.impl", classOf[RejectingPutFileSystem].getName)
    conf.set("fs.AbstractFileSystem.rjct.impl", classOf[RejectingPutAbstractFs].getName)
    LakeTable.registerCommitPublisher("rjct", RejectingPublisher)
    java.nio.file.Files.createTempDirectory(prefix).toString
  }

  private def ids(t: String): Set[Long] =
    LakeTable.read(spark, t).select("id").as[Long].collect().toSet

  test("every writer gives up after maxRetries lost races, with one message") {
    val d = rjctDir("loop_exhaust")
    val t = s"rjct:$d/t"
    val branch = s"rjct:$d/branch"
    LakeTable.overwrite(spark, t,
      (1L to 6L).map(i => (i, s"s$i")).toDF("id", "s").repartition(3))
    LakeTable.shallowClone(spark, t, branch)
    LakeTable.append(spark, branch, Seq((7L, "b")).toDF("id", "s"))
    val head = LakeTable.latestSnapshot(spark, t).get.version

    def exhausts(op: String)(write: => Any): Unit = {
      RejectingPublisher.calls.set(0)
      RejectingPublisher.reject = true
      val e = try intercept[ConcurrentCommitException](write)
              finally RejectingPublisher.reject = false
      assert(e.getMessage == s"$op on $t lost ${LakeTable.maxRetries} commit races")
      assert(RejectingPublisher.calls.get == LakeTable.maxRetries, s"$op publish attempts")
    }
    exhausts("APPEND")(LakeTable.append(spark, t, Seq((9L, "x")).toDF("id", "s")))
    exhausts("DELETE")(LakeTable.delete(spark, t, col("id") === 1L))
    exhausts("DELETE")(LakeTable.deleteMergeOnRead(spark, t, col("id") === 2L))
    exhausts("COMPACT")(LakeTable.compact(spark, t, smallFileBytes = 1L << 30))
    exhausts("PUBLISH")(LakeTable.publish(spark, t, branch))
    // nothing landed
    assert(LakeTable.latestSnapshot(spark, t).get.version == head)
    assert(ids(t) == (1L to 6L).toSet)
  }

  test("appendStream losing to its own (queryId, batchId) returns None and drops its staged files") {
    val d = rjctDir("loop_stream")
    val t = s"rjct:$d/t"
    LakeTable.overwrite(spark, t, Seq((0L, "base")).toDF("id", "s"))
    // the loser's first publish attempt lets a twin of the same batch
    // commit first
    RejectingPublisher.beforeNext = Some(() =>
      assert(LakeTable.appendStream(spark, t, Seq((1L, "w"), (2L, "w")).toDF("id", "s"),
        "q", 7L).contains(2L)))
    val got =
      try LakeTable.appendStream(spark, t, Seq((3L, "loser")).toDF("id", "s"), "q", 7L)
      finally RejectingPublisher.beforeNext = None
    assert(got.isEmpty)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.version == 2L && snap.txns.get("q").contains(7L))
    // the winner's rows appear once, the loser's not at all
    assert(LakeTable.read(spark, t).count() == 3L)
    assert(ids(t) == Set(0L, 1L, 2L))
    // every data file on disk is one the log references
    def parquetUnder(dir: String): Set[String] = {
      val root = java.nio.file.Paths.get(dir)
      if (!java.nio.file.Files.exists(root)) Set.empty
      else java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).map(root.relativize(_).toString).toSet
    }
    assert(parquetUnder(s"$d/t/data") == snap.files.map(_.path).toSet)
    assert(parquetUnder(s"$d/t/_staging").isEmpty)
  }

  test("stageConcurrently: when both sides fail, b's failure rides a's as suppressed") {
    val e = intercept[IllegalStateException](
      LakeTable.stageConcurrently[Int, Int](throw new IllegalStateException("a")) {
        Thread.sleep(100) // fails after `a` has
        throw new IllegalArgumentException("b")
      })
    assert(e.getMessage == "a")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b"))
    // one side failing alone propagates alone
    val eb = intercept[IllegalArgumentException](
      LakeTable.stageConcurrently[Int, Int](1)(throw new IllegalArgumentException("b")))
    assert(eb.getMessage == "b" && eb.getSuppressed.isEmpty)
    assert(LakeTable.stageConcurrently(1)(2) == ((1, 2)))
  }
}
