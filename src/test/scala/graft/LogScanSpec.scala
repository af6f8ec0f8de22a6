package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SqlShims
import graft.lake.LakeTable

/** The engine's own scans of files the log names read from the log:
  * no Spark listing job, however many files a scan covers, and no
  * schema-inference job, because every such scan knows its schema.
  */
class LogScanSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** Descriptions of the Spark jobs `body` starts, read after a drain
    * of the listener bus on both sides.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    SqlShims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      SqlShims.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def listings(jobs: Seq[String]): Seq[String] =
    jobs.filter(_.startsWith("Listing leaf files"))

  /** A table of 40 files from one commit, with a merge-on-read DELETE
    * on one of them: reads then go through the vector-applying scan,
    * whose vector-free leg covers 39 files — past Spark's 32-path
    * threshold for a parallel listing job.
    */
  private def fortyFiles(prefix: String): String = {
    val t = tmpTable(prefix)
    LakeTable.overwrite(spark, t, spark.range(0, 4000).repartition(40)
      .select(col("id"), (col("id") % 7).as("v")))
    assert(LakeTable.latestSnapshot(spark, t).get.files.size >= 40)
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 5)
    t
  }

  test("reads, CoW DML and compact over 40+ files launch no listing job") {
    val t = fortyFiles("logscan_read")
    var n = 0L
    val read = jobsOf { n = spark.read.format("graft").load(t).count() }
    assert(n == 3999)
    assert(listings(read).isEmpty, s"read: ${listings(read)}")

    val update = jobsOf { LakeTable.update(spark, t, Seq("v" -> lit(-1L)), col("id") % 2 === 0) }
    assert(listings(update).isEmpty, s"update: ${listings(update)}")
    assert(LakeTable.read(spark, t).filter(col("v") === -1L).count() == 2000)

    val t2 = fortyFiles("logscan_compact")
    val compact = jobsOf { LakeTable.compact(spark, t2) }
    assert(listings(compact).isEmpty, s"compact: ${listings(compact)}")
    assert(LakeTable.read(spark, t2).count() == 3999)
  }

  test("the change feed of a DML commit is built without running a job") {
    val t = fortyFiles("logscan_feed")
    val v = LakeTable.update(spark, t, Seq("v" -> lit(-1L)), col("id") < 100)
    var feed: org.apache.spark.sql.DataFrame = null
    val built = jobsOf { feed = LakeTable.changes(spark, t, v, v) }
    assert(built.isEmpty, s"building the feed ran ${built.size} job(s): $built")
    val kinds = feed.groupBy(LakeTable.ChangeTypeCol).count().as[(String, Long)].collect().toMap
    assert(kinds == Map("update_preimage" -> 99L, "update_postimage" -> 99L), s"got $kinds")
  }
}
