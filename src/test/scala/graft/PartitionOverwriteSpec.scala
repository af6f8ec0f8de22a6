package graft

import org.apache.spark.sql.functions._
import graft.lake.{Bucketing, LakeTable}

/** Dynamic partition overwrite: atomically replace exactly the hive
  * partitions the incoming rows land in — the idempotent daily-reload
  * primitive. Untouched partitions must keep their very FILE ENTRIES
  * (not just their rows), the change feed must synthesize
  * delete-of-replaced + insert-of-new honoring deletion vectors, and
  * the operation must compose with bucketing and with SQL
  * `INSERT OVERWRITE` under Spark's dynamic conf.
  */
class PartitionOverwriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def base = Seq(
    (1L, "d1", 10.0), (2L, "d1", 20.0),
    (3L, "d2", 30.0), (4L, "d2", 40.0),
    (5L, "d3", 50.0)).toDF("id", "day", "v")

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
    df.select("id", "day", "v").as[(Long, String, Double)].collect().toSet

  test("replaces only the touched partitions; others keep their file entries") {
    val t = tmpTable("dpo_basic")
    LakeTable.overwrite(spark, t, base, partitionBy = Seq("day"))
    val before = LakeTable.latestSnapshot(spark, t).get
    val reload = Seq((20L, "d2", 99.0), (60L, "d4", 60.0)).toDF("id", "day", "v")
    val v = LakeTable.overwritePartitions(spark, t, reload)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.version == v && snap.operation == "OVERWRITE PARTITIONS")
    assert(rowsOf(LakeTable.read(spark, t)) == Set(
      (1L, "d1", 10.0), (2L, "d1", 20.0), // untouched
      (5L, "d3", 50.0),                   // untouched
      (20L, "d2", 99.0),                  // d2 replaced
      (60L, "d4", 60.0)))                 // d4 is new
    // d1/d3 carry the SAME file entries — a metadata carry, not a rewrite
    val keptBefore = before.files.filter(e =>
      e.path.startsWith("day=d1/") || e.path.startsWith("day=d3/")).map(_.path).toSet
    val keptAfter = snap.files.filter(e =>
      e.path.startsWith("day=d1/") || e.path.startsWith("day=d3/")).map(_.path).toSet
    assert(keptBefore == keptAfter && keptBefore.nonEmpty)
    assert(!snap.files.exists(e => before.files.exists(b =>
      b.path == e.path && b.path.startsWith("day=d2/"))),
      "replaced partition still references old files")
  }

  test("re-running the same load is idempotent") {
    val t = tmpTable("dpo_idem")
    LakeTable.overwrite(spark, t, base, partitionBy = Seq("day"))
    val reload = Seq((20L, "d2", 99.0)).toDF("id", "day", "v")
    LakeTable.overwritePartitions(spark, t, reload)
    val first = rowsOf(LakeTable.read(spark, t))
    LakeTable.overwritePartitions(spark, t, reload)
    assert(rowsOf(LakeTable.read(spark, t)) == first)
  }

  test("unpartitioned tables and missing tables are refused") {
    val t = tmpTable("dpo_flat")
    LakeTable.overwrite(spark, t, base)
    intercept[IllegalArgumentException](
      LakeTable.overwritePartitions(spark, t, base.limit(1)))
    intercept[IllegalArgumentException](
      LakeTable.overwritePartitions(spark, tmpTable("dpo_none"), base))
  }

  test("change feed synthesizes delete-of-replaced + insert-of-new") {
    val t = tmpTable("dpo_cdf")
    LakeTable.overwrite(spark, t, base, partitionBy = Seq("day"))
    val reload = Seq((20L, "d2", 99.0)).toDF("id", "day", "v")
    val v = LakeTable.overwritePartitions(spark, t, reload)
    val feed = LakeTable.changes(spark, t, v, v)
      .select(col("id"), col(LakeTable.ChangeTypeCol))
      .as[(Long, String)].collect().toSet
    assert(feed == Set((3L, "delete"), (4L, "delete"), (20L, "insert")))
  }

  test("deletion vectors in a replaced partition are honored by the feed") {
    val t = tmpTable("dpo_dv")
    LakeTable.overwrite(spark, t, base, partitionBy = Seq("day"))
    // MoR-delete id=3 (in d2): it is ALREADY deleted, so replacing d2
    // must not report it deleted again
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 3L)
    val reload = Seq((20L, "d2", 99.0)).toDF("id", "day", "v")
    val v = LakeTable.overwritePartitions(spark, t, reload)
    val feed = LakeTable.changes(spark, t, v, v)
      .select(col("id"), col(LakeTable.ChangeTypeCol))
      .as[(Long, String)].collect().toSet
    assert(feed == Set((4L, "delete"), (20L, "insert")))
    assert(rowsOf(LakeTable.read(spark, t)) == Set(
      (1L, "d1", 10.0), (2L, "d1", 20.0), (5L, "d3", 50.0), (20L, "d2", 99.0)))
  }

  test("bucketed + partitioned tables keep the bucket layout") {
    val t = tmpTable("dpo_bkt")
    LakeTable.overwriteBucketed(spark, t, base, 4, Seq("id"),
      partitionBy = Seq("day"))
    val reload = (100L until 140L).map(i => (i, "d2", i.toDouble)).toDF("id", "day", "v")
    LakeTable.overwritePartitions(spark, t, reload)
    val snap = LakeTable.latestSnapshot(spark, t).get
    snap.files.foreach { e =>
      assert(Bucketing.bucketIdOf(e.path.split('/').last).exists(_ < 4), e.path)
    }
    val agg = LakeTable.read(spark, t).groupBy("id").count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange"), plan)
  }

  test("SQL INSERT OVERWRITE routes dynamically under the Spark conf") {
    val t = tmpTable("dpo_sql")
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    LakeTable.overwrite(spark, t, base, partitionBy = Seq("day"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dpo_sql_tbl USING graft OPTIONS (path '$t')")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try {
      spark.sql("INSERT OVERWRITE dpo_sql_tbl VALUES (20, 'd2', 99.0)")
      assert(LakeTable.latestSnapshot(spark, t).get.operation == "OVERWRITE PARTITIONS")
      assert(rowsOf(LakeTable.read(spark, t)) == Set(
        (1L, "d1", 10.0), (2L, "d1", 20.0), (5L, "d3", 50.0), (20L, "d2", 99.0)))
      // static mode keeps full-overwrite semantics
      spark.conf.set(key, "static")
      spark.sql("INSERT OVERWRITE dpo_sql_tbl VALUES (7, 'd7', 70.0)")
      assert(LakeTable.latestSnapshot(spark, t).get.operation == "OVERWRITE")
      assert(rowsOf(LakeTable.read(spark, t)) == Set((7L, "d7", 70.0)))
    } finally spark.conf.set(key, prior)
  }

  test("SQL INSERT OVERWRITE routes dynamically on a table carrying deletion vectors") {
    val t = tmpTable("dpo_sql_dv")
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    // one file per day, so deleting id 1 leaves d1's file behind a vector
    LakeTable.overwrite(spark, t, base.coalesce(1), partitionBy = Seq("day"))
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 1L)
    assert(LakeTable.latestSnapshot(spark, t).get.files.exists(_.dv.isDefined))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dpo_sql_dv_tbl USING graft OPTIONS (path '$t')")
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.get(key, "STATIC")
    spark.conf.set(key, "dynamic")
    try {
      spark.sql("INSERT OVERWRITE dpo_sql_dv_tbl VALUES (20, 'd2', 99.0)")
      assert(LakeTable.latestSnapshot(spark, t).get.operation == "OVERWRITE PARTITIONS")
      assert(rowsOf(LakeTable.read(spark, t)) == Set(
        (2L, "d1", 20.0), (5L, "d3", 50.0), (20L, "d2", 99.0)))
      spark.conf.set(key, "static")
      spark.sql("INSERT OVERWRITE dpo_sql_dv_tbl VALUES (7, 'd7', 70.0)")
      assert(LakeTable.latestSnapshot(spark, t).get.operation == "OVERWRITE")
      assert(rowsOf(LakeTable.read(spark, t)) == Set((7L, "d7", 70.0)))
    } finally spark.conf.set(key, prior)
  }

  test("time travel and restore see through the partition overwrite") {
    val t = tmpTable("dpo_tt")
    val v1 = LakeTable.overwrite(spark, t, base, partitionBy = Seq("day"))
    val reload = Seq((20L, "d2", 99.0)).toDF("id", "day", "v")
    LakeTable.overwritePartitions(spark, t, reload)
    assert(rowsOf(LakeTable.read(spark, t, asOf = Some(v1))) == rowsOf(base))
    LakeTable.restore(spark, t, v1)
    assert(rowsOf(LakeTable.read(spark, t)) == rowsOf(base))
  }
}
