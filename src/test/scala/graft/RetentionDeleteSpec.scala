package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{DataSkipping, GeneratedColumns, LakeTable}
import GeneratedColumns.Spec

/** Metadata-only retention deletes: a DELETE whose predicate provably
  * covers every live row of a file drops the file from the log without
  * reading it — O(boundary partition) for `ts < cutoff` on a
  * day-partitioned fact, proven with the counting filesystem. The
  * dropped files' delete rows surface in the change feed via lazy
  * synthesis (`removedFull`, reader protocol 4); time travel and
  * restore see through the drop like any remove.
  */
class RetentionDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def eventsDf = Tables.events(spark, sf)
    .select($"event_id", $"user_id", $"event_type", $"value", $"ts")

  private def cfsTable(tag: String): String =
    "cfs:" + java.nio.file.Files.createTempDirectory(s"ret_$tag").toString + "/t"

  private def installCfs(): Unit =
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)

  private def dataOpens(): Seq[String] =
    CountingFileSystem.openedUnder("/data/").filter(_.endsWith(".parquet")).distinct

  private def utcMidnightUs(day: java.time.LocalDate): Long =
    day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli * 1000L

  test("aligned retention delete on a generated table: ZERO data files read, interior days dropped by metadata") {
    installCfs()
    val t = cfsTable("aligned")
    LakeTable.overwriteGenerated(spark, t, eventsDf, Seq(Spec("p_day", "day", "ts")))
    val days = LakeTable.read(spark, t).select($"p_day").distinct()
      .collect().map(_.getDate(0).toLocalDate).sorted
    assert(days.size >= 3)
    val cutoffDay = days(2) // drop the first two days entirely
    val cutoffUs = utcMidnightUs(cutoffDay)
    val before = LakeTable.latestSnapshot(spark, t).get

    CountingFileSystem.reset()
    val v = LakeTable.delete(spark, t, $"ts" < timestamp_micros(lit(cutoffUs)))
    assert(dataOpens().isEmpty,
      s"aligned retention delete read data files: ${dataOpens()}")

    // state: exactly the surviving days, hash-exact rows
    val back = LakeTable.read(spark, t).drop("p_day")
    val exp = eventsDf.filter($"ts" >= timestamp_micros(lit(cutoffUs)))
    assert(back.orderBy("event_id").collect().toSeq ==
      exp.orderBy("event_id").collect().toSeq)
    // the commit is marked: removedFull nonEmpty, reader protocol 4
    val entry = LakeTable.logEntryAt(spark, t, v)
    assert(entry.removedFull.nonEmpty)
    assert(entry.removedFull.toSet.subsetOf(entry.removes.toSet))
    assert(LakeTable.latestSnapshot(spark, t).get.protocol.reader == 4)
    assert(entry.adds.isEmpty, "aligned cutoff must rewrite nothing")
    // nothing from the dropped days remains in the snapshot
    val liveDirs = LakeTable.latestSnapshot(spark, t).get.files
      .map(_.path.split('/').head).distinct
    assert(liveDirs.forall(d =>
      !java.time.LocalDate.parse(d.stripPrefix("p_day=")).isBefore(cutoffDay)))
    // time travel still sees the pre-delete state (files not vacuumed)
    assert(LakeTable.read(spark, t, asOf = Some(before.version)).count() ==
      eventsDf.count())
  }

  test("unaligned cutoff: only the boundary day's files are read; interior still drops") {
    installCfs()
    val t = cfsTable("boundary")
    LakeTable.overwriteGenerated(spark, t, eventsDf, Seq(Spec("p_day", "day", "ts")))
    val days = LakeTable.read(spark, t).select($"p_day").distinct()
      .collect().map(_.getDate(0).toLocalDate).sorted
    val boundary = days(2)
    val cutoffUs = utcMidnightUs(boundary) + GeneratedColumns.MicrosPerDay / 2 // midday

    CountingFileSystem.reset()
    val v = LakeTable.delete(spark, t, $"ts" < timestamp_micros(lit(cutoffUs)))
    val opened = dataOpens()
    assert(opened.nonEmpty)
    assert(opened.forall(_.contains(s"p_day=$boundary")),
      s"read outside the boundary day: $opened")
    val entry = LakeTable.logEntryAt(spark, t, v)
    assert(entry.removedFull.nonEmpty, "interior days must still drop by metadata")
    val back = LakeTable.read(spark, t).drop("p_day")
    val exp = eventsDf.filter($"ts" >= timestamp_micros(lit(cutoffUs)))
    assert(back.orderBy("event_id").collect().toSeq ==
      exp.orderBy("event_id").collect().toSeq)
  }

  test("stats-blind wide table: transform-derived source bounds alone drop interior days") {
    installCfs()
    val t = cfsTable("wide")
    // push ts past the 32-column stats cap — proveAllRows has ONLY the
    // partition-transform bounds to work with
    val pad = (1 to 33).map(i => lit(i).as(s"pad_$i"))
    val wide = eventsDf.select((pad :+ $"event_id" :+ $"ts"): _*)
    LakeTable.overwriteGenerated(spark, t, wide, Seq(Spec("p_day", "day", "ts")))
    val snap0 = LakeTable.latestSnapshot(spark, t).get
    assert(!snap0.files.head.stats.contains("ts"), "premise: ts must have no stats")
    val days = LakeTable.read(spark, t).select($"p_day").distinct()
      .collect().map(_.getDate(0).toLocalDate).sorted
    val cutoffDay = days(2)
    val cutoffUs = utcMidnightUs(cutoffDay)

    CountingFileSystem.reset()
    val v = LakeTable.delete(spark, t, $"ts" < timestamp_micros(lit(cutoffUs)))
    val entry = LakeTable.logEntryAt(spark, t, v)
    assert(entry.removedFull.nonEmpty)
    // without ts stats the boundary day cannot be excluded from
    // detection — its files may be read — but interior days must not be
    assert(dataOpens().forall(_.contains(s"p_day=$cutoffDay")),
      s"read interior-day files: ${dataOpens()}")
    val got = LakeTable.read(spark, t).select($"event_id").as[Long].collect().toSet
    val exp = eventsDf.filter($"ts" >= timestamp_micros(lit(cutoffUs)))
      .select($"event_id").as[Long].collect().toSet
    assert(got == exp)
  }

  test("change feed of a dropping commit is complete: synthesized deletes union recorded ones") {
    val t = java.nio.file.Files.createTempDirectory("ret_feed").toString + "/t"
    LakeTable.overwriteGenerated(spark, t, eventsDf, Seq(Spec("p_day", "day", "ts")))
    val days = LakeTable.read(spark, t).select($"p_day").distinct()
      .collect().map(_.getDate(0).toLocalDate).sorted
    val cutoffUs = utcMidnightUs(days(2)) + GeneratedColumns.MicrosPerDay / 2
    val v = LakeTable.delete(spark, t, $"ts" < timestamp_micros(lit(cutoffUs)))
    val feed = LakeTable.changes(spark, t, v, v)
    val deleted = feed.filter(col(LakeTable.ChangeTypeCol) === "delete")
      .select($"event_id").as[Long].collect().toSet
    val exp = eventsDf.filter($"ts" < timestamp_micros(lit(cutoffUs)))
      .select($"event_id").as[Long].collect().toSet
    assert(deleted == exp, s"feed missing ${exp -- deleted}, extra ${deleted -- exp}")
    assert(feed.filter(col(LakeTable.ChangeTypeCol) =!= "delete").count() == 0)
  }

  test("dv interplay: rows MoR-deleted earlier do not resurface in synthesized feed deletes") {
    val t = java.nio.file.Files.createTempDirectory("ret_dv").toString + "/t"
    LakeTable.overwriteGenerated(spark, t, eventsDf, Seq(Spec("p_day", "day", "ts")))
    val days = LakeTable.read(spark, t).select($"p_day").distinct()
      .collect().map(_.getDate(0).toLocalDate).sorted
    // MoR-delete some rows inside the soon-to-be-dropped days
    LakeTable.deleteMergeOnRead(spark, t, $"event_id" % 5 === 0)
    val cutoffUs = utcMidnightUs(days(2))
    val v = LakeTable.delete(spark, t, $"ts" < timestamp_micros(lit(cutoffUs)))
    val entry = LakeTable.logEntryAt(spark, t, v)
    assert(entry.removedFull.nonEmpty,
      "dv-carrying interior files still drop whole (bounds cover all physical rows)")
    val feedDeleted = LakeTable.changes(spark, t, v, v)
      .filter(col(LakeTable.ChangeTypeCol) === "delete")
      .select($"event_id").as[Long].collect().toSet
    val exp = eventsDf
      .filter(!($"event_id" % 5 === 0) && $"ts" < timestamp_micros(lit(cutoffUs)))
      .select($"event_id").as[Long].collect().toSet
    assert(feedDeleted == exp)
    // final state
    val got = LakeTable.read(spark, t).select($"event_id").as[Long].collect().toSet
    val expState = eventsDf
      .filter(!($"event_id" % 5 === 0) && $"ts" >= timestamp_micros(lit(cutoffUs)))
      .select($"event_id").as[Long].collect().toSet
    assert(got == expState)
  }

  test("MoR retention: interior days drop by metadata with NO vector and no read; boundary gets vectors") {
    installCfs()
    val t = cfsTable("morret")
    LakeTable.overwriteGenerated(spark, t, eventsDf, Seq(Spec("p_day", "day", "ts")))
    val days = LakeTable.read(spark, t).select($"p_day").distinct()
      .collect().map(_.getDate(0).toLocalDate).sorted
    val boundary = days(2)
    val cutoffUs = utcMidnightUs(boundary) + GeneratedColumns.MicrosPerDay / 2

    CountingFileSystem.reset()
    val v = LakeTable.deleteMergeOnRead(spark, t, $"ts" < timestamp_micros(lit(cutoffUs)))
    // interior days never read, never vectored — gone from the snapshot
    assert(dataOpens().forall(_.contains(s"p_day=$boundary")),
      s"MoR retention read interior files: ${dataOpens()}")
    val entry = LakeTable.logEntryAt(spark, t, v)
    assert(entry.removedFull.nonEmpty)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.protocol.reader == 4)
    // the boundary day's surviving files carry vectors; no other file does
    snap.files.filter(_.dv.isDefined).foreach(e =>
      assert(e.path.contains(s"p_day=$boundary"), e.path))
    assert(snap.files.exists(e => e.path.contains(s"p_day=$boundary") && e.dv.isDefined))
    // state + feed both exact
    val exp = eventsDf.filter($"ts" >= timestamp_micros(lit(cutoffUs)))
    assert(LakeTable.read(spark, t).drop("p_day").orderBy("event_id").collect().toSeq ==
      exp.orderBy("event_id").collect().toSeq)
    val feedDeleted = LakeTable.changes(spark, t, v, v)
      .filter(col(LakeTable.ChangeTypeCol) === "delete")
      .select($"event_id").as[Long].collect().toSet
    assert(feedDeleted ==
      eventsDf.filter($"ts" < timestamp_micros(lit(cutoffUs)))
        .select($"event_id").as[Long].collect().toSet)
  }

  test("delete-vs-append race: rebases when winners' adds provably miss the predicate, refuses otherwise") {
    def build(tag: String): (String, Long) = {
      val t = java.nio.file.Files.createTempDirectory(s"ret_race_$tag").toString + "/t"
      LakeTable.overwriteGenerated(spark, t, eventsDf, Seq(Spec("p_day", "day", "ts")))
      val days = LakeTable.read(spark, t).select($"p_day").distinct()
        .collect().map(_.getDate(0).toLocalDate).sorted
      (t, utcMidnightUs(days(2)))
    }
    // 1. racing append of FUTURE rows (ts >= cutoff): stats prove the
    // predicate misses them — the delete rebases and carries them
    val (t1, cut1) = build("ok")
    val future = eventsDf.filter($"ts" >= timestamp_micros(lit(cut1)))
      .withColumn("event_id", $"event_id" + 1000000L)
    val nFuture = future.count()
    LakeTable.dmlBeforeCommitHook = () => {
      LakeTable.dmlBeforeCommitHook = () => ()
      LakeTable.append(spark, t1, future)
    }
    val v = try LakeTable.delete(spark, t1, $"ts" < timestamp_micros(lit(cut1)))
      finally { LakeTable.dmlBeforeCommitHook = () => () }
    assert(LakeTable.logEntryAt(spark, t1, v).removedFull.nonEmpty)
    val exp1 = eventsDf.filter($"ts" >= timestamp_micros(lit(cut1))).count() + nFuture
    assert(LakeTable.read(spark, t1).count() == exp1)

    // 2. racing append of rows the predicate MATCHES: refuse loudly
    val (t2, cut2) = build("bad")
    val old = eventsDf.filter($"ts" < timestamp_micros(lit(cut2)))
      .withColumn("event_id", $"event_id" + 2000000L)
    LakeTable.dmlBeforeCommitHook = () => {
      LakeTable.dmlBeforeCommitHook = () => ()
      LakeTable.append(spark, t2, old)
    }
    val e2 = try intercept[LakeTable.ConcurrentCommitException] {
      LakeTable.delete(spark, t2, $"ts" < timestamp_micros(lit(cut2)))
    } finally { LakeTable.dmlBeforeCommitHook = () => () }
    assert(e2.getMessage.contains("cannot be proven to miss"))

    // 3. racing MoR delete vectoring a file this delete read: refuse
    val (t3, cut3) = build("dv")
    val victim = eventsDf.filter($"ts" < timestamp_micros(lit(cut3)))
      .select($"event_id").as[Long].head()
    LakeTable.dmlBeforeCommitHook = () => {
      LakeTable.dmlBeforeCommitHook = () => ()
      LakeTable.deleteMergeOnRead(spark, t3, $"event_id" === victim)
    }
    val e3 = try intercept[LakeTable.ConcurrentCommitException] {
      LakeTable.delete(spark, t3, $"ts" < timestamp_micros(lit(cut3)))
    } finally { LakeTable.dmlBeforeCommitHook = () => () }
    assert(e3.getMessage.contains("rewrote, vectored or removed"))

    // 4. UPDATE goes through the same rebase: racing future append is
    // carried, and the update result is exactly the sequential one
    val (t4, cut4) = build("upd")
    val future4 = eventsDf.filter($"ts" >= timestamp_micros(lit(cut4)))
      .withColumn("event_id", $"event_id" + 3000000L)
    LakeTable.dmlBeforeCommitHook = () => () // not the update's seam
    LakeTable.dmlBeforeCommitHook = () => {
      LakeTable.dmlBeforeCommitHook = () => ()
      LakeTable.append(spark, t4, future4)
    }
    try LakeTable.update(spark, t4, Seq("value" -> lit(0.0)),
      $"ts" < timestamp_micros(lit(cut4)))
    finally { LakeTable.dmlBeforeCommitHook = () => () }
    val got4 = LakeTable.read(spark, t4)
      .filter($"ts" < timestamp_micros(lit(cut4)) && $"value" =!= 0.0).count()
    assert(got4 == 0, "update must have zeroed every pre-cutoff row")
    assert(LakeTable.read(spark, t4).count() ==
      eventsDf.count() + future4.count())
  }

  test("proveAllRows soundness corners: nulls block, Or branches, restore sees through") {
    // stats-based whole-file proof on an UNPARTITIONED table
    installCfs()
    val t = cfsTable("stats")
    val a = (0L until 100L).map(i => (i, s"a$i")).toDF("id", "s")
    val b = (100L until 200L).map(i => (i, s"b$i")).toDF("id", "s")
    LakeTable.overwrite(spark, t, a)
    LakeTable.append(spark, t, b)
    CountingFileSystem.reset()
    val v = LakeTable.delete(spark, t, $"id" < 100L) // exactly file A
    assert(dataOpens().isEmpty, s"stats-provable delete read: ${dataOpens()}")
    assert(LakeTable.logEntryAt(spark, t, v).removedFull.nonEmpty)
    assert(LakeTable.read(spark, t).count() == 100)
    // a null in the column blocks the whole-file proof for ITS file
    // (null = predicate evaluates null = row survives); null-free files
    // still drop. Coalesce to one file so the null is decisive.
    val t2 = java.nio.file.Files.createTempDirectory("ret_null").toString + "/t"
    val withNull = Seq[(java.lang.Long, String)]((1L, "x"), (2L, "y"), (null, "z"))
      .toDF("id", "s").coalesce(1)
    LakeTable.overwrite(spark, t2, withNull)
    assert(LakeTable.latestSnapshot(spark, t2).get.files.size == 1)
    val v2 = LakeTable.delete(spark, t2, $"id" < 100L)
    assert(LakeTable.logEntryAt(spark, t2, v2).removedFull.isEmpty,
      "a file with nulls must never be dropped by metadata")
    assert(LakeTable.read(spark, t2).count() == 1) // the null row survives
    // restore undoes a metadata drop like any remove
    LakeTable.restore(spark, t, v - 1)
    assert(LakeTable.read(spark, t).count() == 200)
  }
}
