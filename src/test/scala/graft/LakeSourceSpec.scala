package graft

import org.apache.spark.sql.functions._
import graft.lake.LakeTable

/** The `format("graft")` data source: live query-time snapshot
  * resolution (the round-4 verdict's one semantic gap), time travel
  * through the standard reader API, and the SaveMode write surface.
  */
class LakeSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("a registered SQL view sees a later MERGE/append WITHOUT re-registering") {
    val t = tmpTable("live_sql")
    LakeTable.overwrite(spark, t,
      Seq((1L, "p1", 10.0), (2L, "p2", 20.0)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    LakeTable.readLive(spark, t).createOrReplaceTempView("live_tbl")
    assert(spark.sql("SELECT count(*) FROM live_tbl").head.getLong(0) == 2)

    // a writer commits AFTER registration: upsert one row, insert another
    LakeTable.merge(spark, t,
      Seq((2L, "p2", 99.0), (3L, "p1", 30.0)).toDF("id", "part", "v"), keys = Seq("id"))
    // the SAME view, no re-registration — the next query reads v2
    val after = spark.sql("SELECT id, v FROM live_tbl").as[(Long, Double)].collect().toMap
    assert(after == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0))

    // and an append lands too
    LakeTable.append(spark, t, Seq((4L, "p2", 40.0)).toDF("id", "part", "v"))
    assert(spark.sql("SELECT count(*) FROM live_tbl").head.getLong(0) == 4)
  }

  test("a fresh session's restored views are live across another session's writes") {
    val tmp = java.nio.file.Files.createTempDirectory("live_restore").toString
    Pipeline.runSilver(spark, sf, tmp)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.warehouse", tmp)
    GraftCatalog.init(s2)
    val before = s2.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0)

    // the PRODUCER session merges a brand-new row (fresh key, existing date)
    val t = Pipeline.tablePath(tmp, "silver", "fact_events")
    val one = LakeTable.read(spark, t).limit(1)
      .withColumn("event_key", lit("graft-live-proof"))
    LakeTable.merge(spark, t, one, keys = Seq("event_key"),
      scopeToUpdatePartitions = true)

    // the CONSUMER session sees it on its next query — no re-restore
    assert(s2.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0) == before + 1)
    assert(s2.sql(
      "SELECT count(*) FROM fact_events_tbl WHERE event_key = 'graft-live-proof'")
      .head.getLong(0) == 1)
  }

  test("partition pruning holds through the live relation") {
    val t = tmpTable("live_prune")
    LakeTable.overwrite(spark, t,
      (1 to 100).map(i => (i.toLong, s"p${i % 4}", i * 1.0)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    val pruned = spark.read.format("graft").load(t).filter(col("part") === "p2")
    assert(pruned.count() == 25)
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan"))
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount == 1,
      s"expected 1 partition scanned, got ${scan.selectedPartitions.partitionCount}")
  }

  test("versionAsOf time-travels through the plain reader API") {
    val t = tmpTable("live_asof")
    spark.range(3).select(col("id"), lit("v1").as("tag"))
      .write.format("graft").mode("overwrite").save(t)
    spark.range(5).select(col("id"), lit("v2").as("tag"))
      .write.format("graft").mode("overwrite").save(t)
    // no graft.lake API calls: format-string round trip only
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(t)
    val latest = spark.read.format("graft").load(t)
    assert(v1.count() == 3 && v1.select("tag").distinct().head.getString(0) == "v1")
    assert(latest.count() == 5 && latest.select("tag").distinct().head.getString(0) == "v2")
    // a pinned version stays pinned across later commits (frozen is
    // correct for time travel); the unpinned handle follows the log
    spark.range(7).select(col("id"), lit("v3").as("tag"))
      .write.format("graft").mode("append").save(t)
    assert(v1.count() == 3)
    assert(latest.count() == 12)
  }

  test("INSERT into a versionAsOf view is refused and adds no version") {
    def refused(t: String, view: String, asOf: Long): Unit = {
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view USING graft " +
        s"OPTIONS (path '$t', versionAsOf '$asOf')")
      val before = LakeTable.latestVersion(spark, t)
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO $view VALUES (9, 'p1', 9.0)")
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(x => Option(x.getMessage).exists(_.contains("cannot INSERT into a time-travel"))),
        s"$view: ${e.getMessage}")
      assert(LakeTable.latestVersion(spark, t) == before, s"$view committed a version")
    }
    val rows = Seq((1L, "p1", 10.0), (2L, "p2", 20.0)).toDF("id", "part", "v")
    val more = Seq((3L, "p1", 30.0)).toDF("id", "part", "v")
    val partitioned = tmpTable("asof_ins_part")
    LakeTable.overwrite(spark, partitioned, rows, partitionBy = Seq("part"))
    LakeTable.append(spark, partitioned, more)
    refused(partitioned, "asof_ins_part_v", 1L)
    val plain = tmpTable("asof_ins_plain")
    LakeTable.overwrite(spark, plain, rows)
    LakeTable.append(spark, plain, more)
    refused(plain, "asof_ins_plain_v", 1L)
    // v2 carries a deletion vector: the view is a merge-on-read relation
    val mor = tmpTable("asof_ins_mor")
    LakeTable.overwrite(spark, mor, rows.union(more))
    LakeTable.deleteMergeOnRead(spark, mor, col("id") === 1L)
    refused(mor, "asof_ins_mor_v", 2L)
    assert(spark.table("asof_ins_mor_v").count() == 2)
  }

  test("timestampAsOf resolves to the newest version at or before the timestamp") {
    val t = tmpTable("live_ts_asof")
    spark.range(3).toDF("id").write.format("graft").mode("overwrite").save(t)
    Thread.sleep(20) // distinct commit timestamps
    spark.range(5).toDF("id").write.format("graft").mode("append").save(t)
    val ts = LakeTable.history(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def countAt(tsMs: Long): Long =
      spark.read.format("graft").option("timestampAsOf", tsMs.toString).load(t).count()
    assert(countAt(ts(1L)) == 3)            // exactly at v1
    assert(countAt((ts(1L) + ts(2L)) / 2) == 3) // between commits -> still v1
    assert(countAt(ts(2L)) == 8)            // at v2
    assert(countAt(System.currentTimeMillis() + 60000) == 8) // future -> latest
    val before = intercept[IllegalArgumentException] { countAt(ts(1L) - 1) }
    assert(before.getMessage.contains("at or before"))
    val both = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", 1)
        .option("timestampAsOf", ts(1L).toString).load(t).count()
    }
    assert(both.getMessage.contains("mutually exclusive"))
    // calendar forms parse (UTC): a future date resolves to latest
    assert(spark.read.format("graft").option("timestampAsOf", "2099-01-01").load(t)
      .count() == 8)
  }

  test("CREATE TABLE USING graft resolves through the log and stays live") {
    val t = tmpTable("live_ddl")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.format("graft").mode("overwrite").save(t)
    spark.sql(s"CREATE TABLE graft_ddl_tbl USING graft OPTIONS (path '$t')")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_ddl_tbl").head.getLong(0) == 2)
      // a commit AFTER the CREATE is visible to the catalog table's next
      // query — even through Spark's cached relation, because the file
      // list lives in GraftFileIndex, not the catalog
      LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
      assert(spark.sql("SELECT count(*) FROM graft_ddl_tbl").head.getLong(0) == 3)
      // schema (unlike the file list) is pinned by the cached relation:
      // after a writer EVOLVES the schema, serving the old shape would
      // silently drop the new column — the next query must fail loudly
      // with a re-register hint instead
      LakeTable.append(spark, t, Seq((4L, "d", 1.5)).toDF("id", "s", "score"))
      val e = intercept[Exception] {
        spark.sql("SELECT count(*) FROM graft_ddl_tbl").head.getLong(0)
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("re-register")),
        s"expected a loud re-register error, got: $e")
      // REFRESH TABLE re-resolves from the log and reads the evolved
      // schema (the catalog's stored CREATE-time copy is ignored)
      spark.sql("REFRESH TABLE graft_ddl_tbl")
      assert(spark.sql("SELECT * FROM graft_ddl_tbl").columns.contains("score"))
      assert(spark.sql("SELECT count(*) FROM graft_ddl_tbl").head.getLong(0) == 4)
    } finally spark.sql("DROP TABLE IF EXISTS graft_ddl_tbl")
  }

  test("SaveMode surface: overwrite with partitioning, evolving append, ErrorIfExists") {
    val t = tmpTable("live_write")
    Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("id", "s", "part")
      .write.format("graft").mode("overwrite").option("partitionBy", "part").save(t)
    assert(LakeTable.latestSnapshot(spark, t).get.partitionColumns == Seq("part"))

    // append evolves the schema (new column nulls out on old rows) and
    // carries the table's partitioning
    Seq((3L, "c", "p1", 9.5)).toDF("id", "s", "part", "score")
      .write.format("graft").mode("append").save(t)
    val out = spark.read.format("graft").load(t)
    assert(out.count() == 3)
    assert(out.filter(col("id") === 1L).select("score").head.isNullAt(0))

    intercept[IllegalStateException] {
      Seq((9L, "x", "p1")).toDF("id", "s", "part")
        .write.format("graft").mode("errorifexists").save(t)
    }
  }
}
