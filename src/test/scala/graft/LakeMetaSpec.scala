package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.lake.LakeTable

/** The round-6 metadata path: per-file stats in the transaction log
  * (plan without listing), file-level data skipping on the logged
  * bounds, checkpoint-backed history/vacuum, loud staleness, and
  * concurrent-MERGE rebase.
  */
class LakeMetaSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  /** Same, but reached through the counting cfs:// scheme. */
  private def cfsTable(prefix: String): String = {
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    "cfs:" + java.nio.file.Files.createTempDirectory(prefix).toString + "/t"
  }

  private def fileScan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // materialize so metrics fill
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
  }

  test("commit meter: writes accrue commitNanos, pure reads accrue none") {
    import graft.lake.LakeTable
    val t = tmpTable("meter")
    val c0 = LakeTable.commitNanos
    LakeTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    val afterWrites = LakeTable.commitNanos
    assert(afterWrites > c0, "two commits must meter commit machinery time")
    // a pure read through the log moves the meter not at all — the
    // bench's per-key delta can attribute zero commit_s to scan keys
    assert(LakeTable.read(spark, t).count() == 3)
    assert(LakeTable.commitNanos == afterWrites,
      "a read must not accrue commit time")
  }

  test("live-view query plans from logged stats: zero directory listings") {
    val t = cfsTable("meta_nolist")
    LakeTable.overwrite(spark, t,
      Seq((1L, "p1", 10.0), (2L, "p2", 20.0)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    LakeTable.append(spark, t, Seq((3L, "p1", 30.0)).toDF("id", "part", "v"))
    val live = LakeTable.readLive(spark, t)
    // sum, not count: an unfiltered count() is answered from the log
    // without any scan (MetadataOnlyCount), which would make this
    // assertion vacuous — the point here is that the SCAN itself
    // plans without listing
    CountingFileSystem.reset()
    assert(live.agg(sum("id")).head.getLong(0) == 6L)
    // a second writer commits; the next read re-resolves the new
    // version — still from the log alone
    LakeTable.append(spark, t, Seq((4L, "p2", 40.0)).toDF("id", "part", "v"))
    CountingFileSystem.reset()
    assert(live.agg(sum("id")).head.getLong(0) == 10L)
    val listed = CountingFileSystem.listedUnder("/t/data")
    assert(listed.isEmpty,
      s"live read listed the data tree (should plan from the log): $listed")
  }

  test("a log entry not in the delta form is refused, naming the table and version") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val t = tmpTable("meta_notdelta")
    LakeTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s")) // v1
    LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))               // v2
    val vf = java.nio.file.Paths.get(s"$t/_graft_log").resolve(f"${2L}%020d.json")
    val original = new String(java.nio.file.Files.readAllBytes(vf), "UTF-8")
    val JObject(fields) = JsonMethods.parse(original): @unchecked
    val adds = fields.collectFirst { case ("adds", JArray(es)) => es }.get
    val v1Adds = (JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      vf.resolveSibling(f"${1L}%020d.json")), "UTF-8")) \ "adds").asInstanceOf[JArray].arr
    def withAdds(f: List[JValue] => (String, JValue)): String =
      JsonMethods.compact(JsonMethods.render(JObject(fields.map {
        case ("adds", _) => f(adds)
        case other       => other
      })))
    val forms = Seq(
      // a full-state entry: the complete file list, no delta
      "full-state" -> withAdds(es => "files" -> JArray(v1Adds ++ es)),
      // a file recorded as its bare path, without size or stats
      "bare-path file" -> withAdds(es => "adds" -> JArray(es.map(_ \ "p"))),
      // a deletion vector without offset and size
      "dv without o/s" -> withAdds(es => "adds" -> JArray(es.map {
        case JObject(fs) => JObject(fs :+ ("dv" -> JObject(
          "p" -> JString("_deletes/gone.bin"), "c" -> JLong(1L))))
        case other => other
      })))
    forms.foreach { case (form, txt) =>
      assert(txt != original, s"$form: rewrite changed nothing")
      java.nio.file.Files.write(vf, txt.getBytes("UTF-8"))
      def refused(read: => Long): Unit = {
        val e = intercept[Exception] { read }
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(x => String.valueOf(x.getMessage)).toSeq
        assert(msgs.exists(m => m.contains(t) && m.contains("version 2")),
          s"$form: the refusal must name $t and version 2, got: ${msgs.mkString(" / ")}")
      }
      refused(LakeTable.read(spark, t).count())
      refused(spark.read.format("graft").load(t).count())
    }
    java.nio.file.Files.write(vf, original.getBytes("UTF-8"))
    assert(LakeTable.read(spark, t).count() == 3)
  }

  test("data skipping: a point filter reads only the files whose bounds admit it") {
    val t = tmpTable("meta_skip")
    // 4 files with disjoint id ranges (range partitioning -> tight bounds)
    LakeTable.overwrite(spark, t,
      spark.range(100).select(col("id"), (col("id") % 7).as("grp"),
        concat(lit("doc-"), format_string("%03d", col("id"))).as("name"))
        .repartitionByRange(4, col("id")))
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.size == 4, s"expected 4 files, got ${snap.files.size}")
    // the log carries real bounds
    assert(snap.files.forall(e => e.rowCount > 0 && e.stats.contains("id")))

    val live = spark.read.format("graft").load(t)
    // equality on a long column: exactly one file admits id=57
    val scan1 = fileScan(live.filter(col("id") === 57L))
    assert(scan1.metrics("numFiles").value == 1,
      s"expected 1 file scanned, got ${scan1.metrics("numFiles").value}")
    // range: id >= 80 -> last file only
    val scan2 = fileScan(live.filter(col("id") >= 80L))
    assert(scan2.metrics("numFiles").value == 1)
    // string equality: names are aligned with the id ranges
    val scan3 = fileScan(live.filter(col("name") === "doc-003"))
    assert(scan3.metrics("numFiles").value == 1)
    // a filter admitting everything scans everything — and results match
    assert(live.filter(col("id") >= 0L).count() == 100)
    assert(live.filter(col("id") === 57L).select("name").head.getString(0) == "doc-057")
    // grp cycles 0..6 through every file: no skip, no row lost
    assert(live.filter(col("grp") === 3L).count() ==
      (0L until 100L).count(_ % 7 == 3))
  }

  test("z-order compact: filters on EITHER dimension skip files via logged bounds") {
    val t = tmpTable("meta_zorder")
    // 10k points on a 100x100 grid, scattered across 8 files: every
    // file's (x, y) bounds cover nearly the whole grid, so nothing
    // skips before clustering
    LakeTable.overwrite(spark, t,
      spark.range(10000).select(col("id"),
        (col("id") % 100).as("x"),
        (col("id") / 100).cast("long").as("y"))
        .repartition(8))
    val before = LakeTable.latestSnapshot(spark, t).get
    assert(before.files.size == 8)
    // tiny target so the rewrite fans out into many files
    LakeTable.compact(spark, t, zorderBy = Seq("x", "y"),
      targetFileBytes = 8L << 10)
    val snap = LakeTable.latestSnapshot(spark, t).get
    val total = snap.files.size
    assert(total >= 8, s"expected a multi-file rewrite, got $total")
    assert(snap.files.forall(e => e.stats.contains("x") && e.stats.contains("y")))

    val live = spark.read.format("graft").load(t)
    val sx = fileScan(live.filter(col("x") === 7L)).metrics("numFiles").value
    val sy = fileScan(live.filter(col("y") === 42L)).metrics("numFiles").value
    // a Z-curve gives BOTH axes file-bound locality: a one-dimensional
    // slab (1/100 of the grid) intersects a bounded fraction of the
    // curve's file intervals — where a linear sort serves only its
    // leading column (the y slab would scan every file)
    assert(sx < total && sx <= (2 * total) / 3,
      s"x slab scanned $sx of $total files")
    assert(sy < total && sy <= (2 * total) / 3,
      s"y slab scanned $sy of $total files")
    assert(live.filter(col("x") === 7L).count() == 100)
    assert(live.filter(col("y") === 42L).count() == 100)
    assert(live.count() == 10000)
  }

  test("z-order compact clusters string columns too (sampled rank boundaries)") {
    val t = tmpTable("meta_zorder_str")
    // string key with numeric-like ordering (zero-padded) + a long axis
    LakeTable.overwrite(spark, t,
      spark.range(8000).select(col("id"),
        format_string("k%04d", col("id") % 80).as("k"),
        (col("id") / 80).cast("long").as("y"))
        .repartition(6))
    LakeTable.compact(spark, t, zorderBy = Seq("k", "y"),
      targetFileBytes = 4L << 10)
    val snap = LakeTable.latestSnapshot(spark, t).get
    val total = snap.files.size
    assert(total >= 10, s"expected a multi-file rewrite, got $total")
    val live = spark.read.format("graft").load(t)
    val sk = fileScan(live.filter(col("k") === "k0042")).metrics("numFiles").value
    val sy = fileScan(live.filter(col("y") === 50L)).metrics("numFiles").value
    assert(sk < total && sk <= (2 * total) / 3, s"k slab scanned $sk of $total")
    assert(sy < total && sy <= (2 * total) / 3, s"y slab scanned $sy of $total")
    assert(live.filter(col("k") === "k0042").count() == 100)
    assert(live.filter(col("y") === 50L).count() == 80)
  }

  test("range-clustered compact: disjoint file bounds, point filter reads one file") {
    val t = tmpTable("meta_sortskip")
    LakeTable.overwrite(spark, t,
      spark.range(4000).select((col("id") * 37 % 4000).as("k"), col("id").as("v"))
        .repartition(6))
    LakeTable.compact(spark, t, sortBy = Seq("k"), targetFileBytes = 8L << 10)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.size >= 4, s"expected a multi-file rewrite, got ${snap.files.size}")
    val live = spark.read.format("graft").load(t)
    val s = fileScan(live.filter(col("k") === 1234L)).metrics("numFiles").value
    assert(s == 1, s"range clustering should leave exactly one admitting file, scanned $s")
    assert(live.filter(col("k") === 1234L).count() == 1)
  }

  test("data skipping: null counts prove IS NOT NULL / IS NULL pruning") {
    val t = tmpTable("meta_nulls")
    // file 1: x entirely null; file 2: x fully populated
    LakeTable.overwrite(spark, t,
      spark.range(10).select(col("id"), lit(null).cast("long").as("x")).repartition(1))
    LakeTable.append(spark, t,
      spark.range(10, 20).select(col("id"), col("id").as("x")).repartition(1))
    val live = spark.read.format("graft").load(t)
    val scanNotNull = fileScan(live.filter(col("x").isNotNull))
    assert(scanNotNull.metrics("numFiles").value == 1,
      "all-null file must be skipped for IS NOT NULL")
    val scanNull = fileScan(live.filter(col("x").isNull))
    assert(scanNull.metrics("numFiles").value == 1,
      "fully-populated file must be skipped for IS NULL")
    assert(live.filter(col("x").isNotNull).count() == 10)
    assert(live.filter(col("x").isNull).count() == 10)
  }

  test("history and vacuum read checkpoint + tail, not the log listing") {
    val t = cfsTable("meta_hist")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    (2 to 25).foreach { i =>
      LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    }
    CountingFileSystem.reset()
    assert(LakeTable.history(spark, t).count() == 25)
    val listedHist = CountingFileSystem.listedUnder("/t/_graft_log")
    assert(listedHist.isEmpty,
      s"history() listed the log dir despite a checkpoint: $listedHist")
    CountingFileSystem.reset()
    LakeTable.vacuum(spark, t, retainVersions = 2, graceMs = 0L)
    // the one listing vacuum MAY do under the log is _manifests/ —
    // orphaned segments are by definition referenced nowhere, so orphan
    // detection needs a listing there, and it is O(segments), bounded
    // by table size / segment size, never O(commits)
    val listedVac = CountingFileSystem.listedUnder("/t/_graft_log")
      .filterNot(_.contains("_manifests"))
    assert(listedVac.isEmpty,
      s"vacuum() listed the log dir despite a checkpoint: $listedVac")
    // vacuum still reclaimed old version data and latest still reads
    assert(LakeTable.read(spark, t).count() == 25)
    // vacuum kept the checkpoint that carries the commit summaries
    CountingFileSystem.reset()
    assert(LakeTable.history(spark, t).count() == 25)
    val listedAfterVac = CountingFileSystem.listedUnder("/t/_graft_log")
    assert(listedAfterVac.isEmpty,
      s"history() after vacuum listed the log dir: $listedAfterVac")
  }

  test("a pinned read resolves its snapshot once") {
    val t = cfsTable("meta_once")
    LakeTable.overwrite(spark, t, Seq((1L, "r1")).toDF("id", "s")) // v1
    (2 to 25).foreach { i =>
      LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    } // checkpoints at v10, v20
    CountingFileSystem.reset()
    assert(LakeTable.read(spark, t).collect().length == 25)
    val opens = CountingFileSystem.openedUnder("/t/_graft_log/").groupBy(identity)
      .map { case (p, n) => p -> n.size }
    val checkpoint = opens.filter(_._1.endsWith(f"${20L}%020d.checkpoint.json"))
    assert(checkpoint.values.toSeq == Seq(1), s"checkpoint opens: $checkpoint")
    val segments = opens.filter(_._1.contains("_manifests"))
    assert(segments.nonEmpty && segments.values.forall(_ == 1), s"segment opens: $segments")
    (21 to 25).foreach { v =>
      val n = opens.getOrElse(opens.keys.find(_.endsWith(f"/$v%020d.json")).getOrElse(""), 0)
      assert(n == 1, s"v$v's log entry opened $n times")
    }
  }

  test("history, timestamp travel and time-based vacuum read the tail without building snapshots") {
    val t = cfsTable("meta_tail")
    LakeTable.overwrite(spark, t, Seq((1L, "r1")).toDF("id", "s")) // v1
    (2 to 21).foreach { i =>
      LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    } // checkpoints at v10, v20
    // a clear gap between v21 and v22, so a retention cutoff between
    // their commit times is not a race
    Thread.sleep(500)
    LakeTable.delete(spark, t, col("id") === 1L) // v22: v1's file now referenced by v1..v21 only
    (23 to 25).foreach { i =>
      LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    }
    def tailOpens(body: => Unit): Unit = {
      CountingFileSystem.reset()
      body
      (21 to 25).foreach { v =>
        val n = CountingFileSystem.openedUnder(f"/t/_graft_log/$v%020d.json").size
        assert(n <= 1, s"v$v's log entry opened $n times")
      }
      val manifests = CountingFileSystem.openedUnder("_manifests")
      assert(manifests.isEmpty, s"the tail read opened checkpoint segments: $manifests")
    }
    var hist: Array[org.apache.spark.sql.Row] = null
    tailOpens { hist = LakeTable.history(spark, t).collect() }
    assert(hist.map(_.getLong(0)).toSeq == (1L to 25L).reverse)
    val ts = hist.map(r => r.getLong(0) -> r.getLong(1)).toMap
    tailOpens { assert(LakeTable.versionAtTimestamp(spark, t, ts(23L)) == 23L) }
    // time-based retention cut between v21 and v22 keeps exactly v22..v25
    def retainFrom22(): Option[Long] =
      Some(System.currentTimeMillis() - (ts(21L) + ts(22L)) / 2)
    val byCount = LakeTable.vacuum(spark, t, retainVersions = 4, graceMs = 0L, dryRun = true)
    assert(byCount >= 1, "v1's file is reclaimable once v21 is out of retention")
    assert(LakeTable.vacuum(spark, t, graceMs = 0L, dryRun = true,
      retainMs = retainFrom22()) == byCount)
    // a checkpoint without summaries (the earlier format) gives the same answers
    val cp20 = java.nio.file.Paths.get(new java.net.URI(
      "file:" + t.stripPrefix("cfs:") + f"/_graft_log/${20L}%020d.checkpoint.json"))
    val stripped = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      val JObject(fields) =
        JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(cp20), "UTF-8")): @unchecked
      assert(fields.exists(_._1 == "hist"))
      JsonMethods.compact(JsonMethods.render(JObject(fields.filterNot(_._1 == "hist"))))
    }
    java.nio.file.Files.write(cp20, stripped.getBytes("UTF-8"))
    assert(LakeTable.history(spark, t).collect().toSeq == hist.toSeq)
    assert(LakeTable.versionAtTimestamp(spark, t, ts(23L)) == 23L)
    assert(LakeTable.versionAtTimestamp(spark, t, ts(21L)) == 21L)
    assert(LakeTable.vacuum(spark, t, graceMs = 0L, dryRun = true,
      retainMs = retainFrom22()) == byCount)
    assert(LakeTable.vacuum(spark, t, graceMs = 0L, retainMs = retainFrom22()) == byCount)
    assert(LakeTable.read(spark, t, asOf = Some(22L)).count() == 20)
  }

  test("concurrent MERGEs into disjoint partitions both commit (rebase, no caller retry)") {
    val t = tmpTable("meta_cmerge")
    LakeTable.overwrite(spark, t,
      Seq((1L, "pA", 10.0), (2L, "pA", 20.0), (3L, "pB", 30.0), (4L, "pB", 40.0))
        .toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    val base = LakeTable.latestSnapshot(spark, t).get.version
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def mergeTask(updates: org.apache.spark.sql.DataFrame) =
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          LakeTable.merge(spark, t, updates, keys = Seq("id"),
            scopeToUpdatePartitions = true)
        }
      })
    val fa = mergeTask(Seq((2L, "pA", 99.0)).toDF("id", "part", "v"))
    val fb = mergeTask(Seq((3L, "pB", 77.0), (5L, "pB", 50.0)).toDF("id", "part", "v"))
    start.countDown()
    val va = fa.get()
    val vb = fb.get()
    pool.shutdown()
    assert(Set(va, vb) == Set(base + 1, base + 2), s"got $va, $vb")
    val out = LakeTable.read(spark, t).select("id", "v").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 10.0, 2L -> 99.0, 3L -> 77.0, 4L -> 40.0, 5L -> 50.0))
  }

  test("concurrent MERGEs into the SAME partition: loser aborts loudly") {
    val t = tmpTable("meta_cmerge2")
    LakeTable.overwrite(spark, t,
      Seq((1L, "pA", 10.0), (2L, "pA", 20.0)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    // both threads target pA: if the race interleaves, the loser must
    // abort loudly rather than silently dropping the winner's rewrite
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fs = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          start.await()
          try Right(LakeTable.merge(spark, t,
            Seq((2L, "pA", 100.0 + i)).toDF("id", "part", "v"),
            keys = Seq("id"), scopeToUpdatePartitions = true))
          catch { case e: LakeTable.ConcurrentCommitException => Left(e) }
        }
      })
    }
    start.countDown()
    val results = fs.map(_.get())
    pool.shutdown()
    val (losers, winners) = results.partition(_.isLeft)
    // either serialized cleanly (both won, one after the other — the
    // slower thread read the winner's commit before merging) or the
    // true race happened and the loser aborted with the loud error
    assert(winners.nonEmpty)
    if (losers.nonEmpty)
      assert(losers.head.swap.toOption.get.getMessage.contains("overlaps"))
    val vFinal = LakeTable.read(spark, t)
      .filter(col("id") === 2L).select("v").head.getDouble(0)
    assert(vFinal == 101.0 || vFinal == 102.0)
  }

  test("partition-layout change under a live view fails loudly") {
    val t = tmpTable("meta_layout")
    LakeTable.overwrite(spark, t,
      Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    val live = LakeTable.readLive(spark, t)
    assert(live.count() == 2)
    // a writer re-partitions the table under the registered relation
    LakeTable.overwrite(spark, t,
      Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("id", "part", "v"))
    val e = intercept[Exception] { live.count() }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    assert(messages(e).exists(m => m.contains("partition layout")),
      s"expected loud layout error, got: $e")
    // re-registering reads the new layout fine
    assert(LakeTable.readLive(spark, t).count() == 2)
  }

  test("schema evolution under a live temp view fails loudly; re-register sees it") {
    val t = tmpTable("meta_evolve")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    LakeTable.readLive(spark, t).createOrReplaceTempView("meta_evolve_tbl")
    assert(spark.sql("SELECT count(*) FROM meta_evolve_tbl").head.getLong(0) == 1)
    LakeTable.append(spark, t, Seq((2L, "b", 0.5)).toDF("id", "s", "score"))
    val e = intercept[Exception] {
      spark.sql("SELECT count(*) FROM meta_evolve_tbl").head.getLong(0)
    }
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    assert(messages(e).exists(_.contains("re-register")), s"got: $e")
    LakeTable.readLive(spark, t).createOrReplaceTempView("meta_evolve_tbl")
    assert(spark.sql("SELECT count(*) FROM meta_evolve_tbl").head.getLong(0) == 2)
    assert(spark.table("meta_evolve_tbl").columns.contains("score"))
  }

  test("pinned LakeTable.read gets file skipping and plans without listing") {
    val t = cfsTable("meta_pinned")
    LakeTable.overwrite(spark, t,
      spark.range(100).select(col("id"), (col("id") * 2).as("v"))
        .repartitionByRange(4, col("id")))
    // pinned read: selective filter prunes to ONE file via the logged
    // bounds — the same DataSkipping the live format("graft") path gets
    val pinned = LakeTable.read(spark, t)
    val scan = fileScan(pinned.filter(col("id") === 57L))
    assert(scan.metrics("numFiles").value == 1,
      s"pinned read should file-skip, scanned ${scan.metrics("numFiles").value}")
    assert(pinned.filter(col("id") === 57L).select("v").head.getLong(0) == 114L)
    // and the planning touched no data-dir listing
    CountingFileSystem.reset()
    assert(LakeTable.read(spark, t).agg(sum("id")).head.getLong(0) == 4950L)
    val listed = CountingFileSystem.listedUnder("/t/data")
    assert(listed.isEmpty, s"pinned read listed the data tree: $listed")
    // asOf pins: a later append is invisible to the pinned frame
    val v1 = LakeTable.read(spark, t)
    LakeTable.append(spark, t, Seq((1000L, 2000L)).toDF("id", "v"))
    assert(v1.count() == 100 && LakeTable.read(spark, t).count() == 101)
    assert(LakeTable.read(spark, t, asOf = Some(1L)).count() == 100)
  }

  test("sharded log: commit files are O(files touched), not O(table)") {
    val t = tmpTable("meta_shard")
    LakeTable.overwrite(spark, t, Seq((1L, "r1")).toDF("id", "s"))
    (2 to 60).foreach { i =>
      LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    }
    val logDir = java.nio.file.Paths.get(s"$t/_graft_log")
    def size(name: String) = java.nio.file.Files.size(logDir.resolve(name))
    val deltaSizes = (2L to 60L).map(v => size(f"$v%020d.json"))
    // every single-file append writes a commit of the same (small) size,
    // regardless of the table growing from 1 to 60 files — the log is
    // O(files touched). The old full-state design grew linearly: v60
    // would be ~60x v2.
    assert(deltaSizes.max <= deltaSizes.min + 64,
      s"append commit sizes should be flat, got min=${deltaSizes.min} max=${deltaSizes.max}")
    // the checkpoint is a segment LIST, not the full state: at v60 it
    // references manifest segments under _manifests/ (which between
    // them hold all 60 entries) instead of serializing them inline
    val cp60 = size(f"${60L}%020d.checkpoint.json")
    assert(cp60 < 4096, s"checkpoint should be a small manifest list, got $cp60 B")
    val manifests = java.nio.file.Paths.get(s"$t/_graft_log/_manifests")
    assert(java.nio.file.Files.list(manifests).count() >= 1)
    // checkpoints landed at every 10th commit
    Seq(10L, 20L, 30L, 40L, 50L).foreach { v =>
      assert(java.nio.file.Files.exists(logDir.resolve(f"$v%020d.checkpoint.json")))
    }
    assert(LakeTable.latestSnapshot(spark, t).get.files.size == 60)
    assert(LakeTable.read(spark, t).count() == 60)
  }

  test("partition-scoped vacuum lists only the scoped partition's directories") {
    val t = cfsTable("meta_svac")
    def rows(tag: String) = Seq((1L, "d1", tag), (2L, "d2", tag)).toDF("id", "dt", "s")
    LakeTable.overwrite(spark, t, rows("a"), partitionBy = Seq("dt")) // v1
    LakeTable.append(spark, t, rows("b"))                             // v2
    LakeTable.overwrite(spark, t, rows("c"), partitionBy = Seq("dt")) // v3 (orphans v1+v2 data)
    val d2Files = {
      val dir = new java.io.File(new java.net.URI("file:" +
        t.stripPrefix("cfs:") + "/data/dt=d2"))
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    assert(d2Files.size >= 3) // three versions' worth
    CountingFileSystem.reset()
    val n = LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L,
      partitionFilter = Some(col("dt") === "d1"))
    assert(n >= 2, s"expected the two orphaned d1 files swept, got $n")
    // the walk descended ONLY into dt=d1 — dt=d2 was never listed
    val listed = CountingFileSystem.listedUnder("/t/data")
    assert(listed.nonEmpty)
    assert(!listed.exists(_.contains("dt=d2")),
      s"scoped vacuum listed out-of-scope directories: $listed")
    // nothing outside the scope was deleted, referenced or not
    val d2After = {
      val dir = new java.io.File(new java.net.URI("file:" +
        t.stripPrefix("cfs:") + "/data/dt=d2"))
      dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    assert(d2After == d2Files, "scoped vacuum must never touch out-of-scope files")
    // the live table still reads in full; d1 time travel is gone
    assert(LakeTable.read(spark, t).count() == 2)
    // a filter on a non-partition column is refused loudly
    val e = intercept[IllegalArgumentException] {
      LakeTable.vacuum(spark, t, partitionFilter = Some(col("id") > 0))
    }
    assert(e.getMessage.contains("partition columns"))
  }

  test("segmented checkpoint: writes O(touched segment) per checkpoint, reuses the rest") {
    spark.conf.set("spark.graft.checkpoint.segmentTargetEntries", "8")
    try {
      val t = tmpTable("meta_seg")
      LakeTable.overwrite(spark, t, Seq((1L, "r1")).toDF("id", "s")) // v1
      (2 to 59).foreach { i =>
        LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
      }
      val manifests = java.nio.file.Paths.get(s"$t/_graft_log/_manifests")
      import scala.jdk.CollectionConverters._
      def segNames: Set[String] = {
        val s = java.nio.file.Files.list(manifests)
        try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
      }
      def segEntries(n: String): Int = {
        val txt = new String(java.nio.file.Files.readAllBytes(manifests.resolve(n)), "UTF-8")
        "\"p\":".r.findAllIn(txt).size
      }
      def referencedBy(v: Long): Set[String] = {
        val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths
          .get(s"$t/_graft_log/${"%020d".format(v)}.checkpoint.json")), "UTF-8")
        "\"n\":\"([0-9a-f]+\\.segment\\.json)\"".r.findAllMatchIn(txt).map(_.group(1)).toSet
      }
      // --- append-only window: the v60 checkpoint writes only the
      // window's adds (plus a folded runt), never the 60-entry table
      val before = segNames
      LakeTable.append(spark, t, Seq((60L, "r60")).toDF("id", "s")) // v60
      val fresh = segNames.diff(before)
      val freshEntries = fresh.toSeq.map(segEntries).sum
      assert(freshEntries <= 24,
        s"v60 checkpoint wrote $freshEntries entries into fresh segments (table: 60)")
      val refs60 = referencedBy(60L)
      assert(refs60.toSeq.map(segEntries).sum == 60, "segments must cover the table exactly")
      assert(refs60.intersect(before).nonEmpty,
        "checkpoint must REUSE segments from earlier checkpoints")
      assert(LakeTable.snapshotAt(spark, t, 60L).files.size == 60)
      // --- remove window: a delete rewrites ONLY the segment(s) whose
      // path range covers the removed file
      LakeTable.delete(spark, t, col("id") === 5L) // v61: one file removed
      (62 to 70).foreach { i =>
        LakeTable.append(spark, t, Seq((i.toLong + 100, s"r$i")).toDF("id", "s"))
      } // v70 checkpoint
      val live70 = LakeTable.latestSnapshot(spark, t).get.files.size
      val refs70 = referencedBy(70L)
      val fresh70 = refs70.diff(refs60)
      assert(fresh70.toSeq.map(segEntries).sum <= 32,
        s"v70 checkpoint rewrote ${fresh70.toSeq.map(segEntries).sum} entries " +
          s"(table: $live70)")
      assert(refs70.intersect(refs60).nonEmpty, "v70 must still reuse v60 segments")
      assert(refs70.toSeq.map(segEntries).sum == live70,
        "segments must cover the table exactly after the remove window")
      assert(LakeTable.snapshotAt(spark, t, 70L).files.size == live70)
      assert(LakeTable.read(spark, t).count() == 68)
      assert(LakeTable.read(spark, t).filter(col("id") === 5L).count() == 0)
      // --- reconstruction equivalence: with every checkpoint removed,
      // pure delta replay lands on the same state
      val viaCp = LakeTable.snapshotAt(spark, t, 70L)
      val logDir = java.nio.file.Paths.get(s"$t/_graft_log")
      val l = java.nio.file.Files.list(logDir)
      try l.iterator().asScala.filter(_.getFileName.toString.endsWith(".checkpoint.json"))
        .toSeq.foreach(java.nio.file.Files.delete)
      finally l.close()
      val replayed = LakeTable.snapshotAt(spark, t, 70L)
      assert(viaCp.files.map(_.path).toSet == replayed.files.map(_.path).toSet,
        "segmented checkpoint and delta replay must agree")
    } finally spark.conf.unset("spark.graft.checkpoint.segmentTargetEntries")
  }

  test("checkpoint segment reuse: O(touched) writes and reads, zero re-listing — counting-FS proof") {
    // The segment-name diff test above proves WHICH segments a
    // checkpoint references; this one proves the I/O COST on the
    // counting filesystem: a checkpoint cycle writes only the window's
    // fresh segments (tmp creates), reads only the runt/touched
    // segments it folds or rewrites, and never LISTS the manifest
    // directory — i.e. untouched segments are reused by reference
    // alone, the Iceberg manifest-list shape. On an object store these
    // counters are PUTs and GETs, the cost that scales.
    spark.conf.set("spark.graft.checkpoint.segmentTargetEntries", "8")
    try {
      val t = cfsTable("meta_segio")
      LakeTable.overwrite(spark, t, Seq((1L, "r1")).toDF("id", "s")) // v1
      (2 to 30).foreach { i =>
        LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
      } // checkpoints at v10, v20, v30; table: 30 files in ~4 segments
      // --- cycle 1: append-only window ending in the v40 checkpoint
      CountingFileSystem.reset()
      (31 to 40).foreach { i =>
        LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
      }
      val segWrites1 = CountingFileSystem.createdUnder(".seg-tmp-").size
      assert(segWrites1 > 0, "a checkpoint landed in this window")
      assert(segWrites1 <= 4,
        s"append window wrote $segWrites1 segments (table: 40 entries ≥5 segments) — " +
          "untouched segments must carry over by reference, never rewrite")
      assert(CountingFileSystem.listedUnder("_manifests").isEmpty,
        "checkpointing must never list the manifest directory")
      // (segment OPENS are not asserted here: every commit's snapshot
      // reconstruction legitimately reads the base checkpoint's
      // segments — the manifest-list read Iceberg/Delta pay too; the
      // reuse claim is about WRITES and LISTINGS)
      // --- cycle 2: a removal + appends ending in the v50 checkpoint
      LakeTable.delete(spark, t, col("id") === 3L) // v41: one file removed
      CountingFileSystem.reset()
      (42 to 50).foreach { i =>
        LakeTable.append(spark, t, Seq((i.toLong + 100, s"r$i")).toDF("id", "s"))
      }
      val segWrites2 = CountingFileSystem.createdUnder(".seg-tmp-").size
      assert(segWrites2 <= 5,
        s"remove window wrote $segWrites2 segments — only the covering segment " +
          "rewrites, plus the window's adds")
      assert(CountingFileSystem.listedUnder("_manifests").isEmpty)
      // --- the cheap checkpoints are still COMPLETE and equivalent to replay
      val live = LakeTable.latestSnapshot(spark, t).get.files.size
      val viaCp = LakeTable.snapshotAt(spark, t, 50L)
      assert(viaCp.files.size == live)
      val logDir = java.nio.file.Paths.get(
        new java.net.URI("file:" + t.stripPrefix("cfs:") + "/_graft_log"))
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(logDir)
      try l.iterator().asScala.filter(_.getFileName.toString.endsWith(".checkpoint.json"))
        .toSeq.foreach(java.nio.file.Files.delete)
      finally l.close()
      val replayed = LakeTable.snapshotAt(spark, t, 50L)
      assert(viaCp.files.map(_.path).toSet == replayed.files.map(_.path).toSet,
        "counting-FS-cheap checkpoints and delta replay must agree")
    } finally spark.conf.unset("spark.graft.checkpoint.segmentTargetEntries")
  }

  test("snapshot reconstruction reads O(interval) log files, independent of history length") {
    val t = cfsTable("meta_ropen")
    LakeTable.overwrite(spark, t, Seq((1L, "r1")).toDF("id", "s"))
    (2 to 57).foreach { i =>
      LakeTable.append(spark, t, Seq((i.toLong, s"r$i")).toDF("id", "s"))
    } // 57 commits; snapshot checkpoints at 10..50
    def logOpens(body: => Unit): Int = {
      CountingFileSystem.reset()
      body
      CountingFileSystem.openedUnder("/t/_graft_log/").size
    }
    // at a checkpointed version: one checkpoint read
    val atCp = logOpens { LakeTable.snapshotAt(spark, t, 50L) }
    assert(atCp <= 2, s"snapshotAt(50) opened $atCp log files")
    // mid-interval: walk back ≤ interval deltas to the checkpoint —
    // NEVER the 57-entry history
    val mid = logOpens { assert(LakeTable.snapshotAt(spark, t, 57L).files.size == 57) }
    assert(mid <= 10, s"snapshotAt(57) opened $mid log files")
  }

  test("snapshot reconstruction: checkpoint+deltas equals pure delta replay, across all ops") {
    val t = tmpTable("meta_recon")
    LakeTable.overwrite(spark, t,
      Seq((1L, "p1", 10.0), (2L, "p2", 20.0)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))                                          // v1 (reset)
    (3 to 12).foreach { i =>                                              // v2..v11 (deltas, cross cp@10)
      LakeTable.append(spark, t, Seq((i.toLong, s"p${i % 2 + 1}", i * 10.0)).toDF("id", "part", "v"))
    }
    LakeTable.merge(spark, t, Seq((2L, "p2", 99.0)).toDF("id", "part", "v"), Seq("id")) // v12
    LakeTable.delete(spark, t, col("id") === 3L)                          // v13
    LakeTable.compact(spark, t)                                           // v14
    LakeTable.append(spark, t, Seq((100L, "p1", 1.0)).toDF("id", "part", "v")) // v15
    val latest = LakeTable.latestSnapshot(spark, t).get
    assert(latest.version == 15L)
    val withCp = (1L to 15L).map(v => LakeTable.snapshotAt(spark, t, v))
    // remove every snapshot checkpoint: reconstruction must now replay
    // deltas all the way from the reset base — and land on the SAME state
    val logDir = java.nio.file.Paths.get(s"$t/_graft_log")
    val removedCp = java.nio.file.Files.list(logDir).iterator()
    var removedAny = false
    removedCp.forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".checkpoint.json")) {
        java.nio.file.Files.delete(p); removedAny = true
      }
    }
    assert(removedAny, "expected at least one snapshot checkpoint to exist")
    val withoutCp = (1L to 15L).map(v => LakeTable.snapshotAt(spark, t, v))
    withCp.zip(withoutCp).foreach { case (a, b) =>
      // file ORDER is not part of the snapshot contract (checkpoints
      // hold path-sorted segments; delta replay appends in commit
      // order) — compare canonicalized
      assert(a.copy(files = a.files.sortBy(_.path)) ==
          b.copy(files = b.files.sortBy(_.path)),
        s"v${a.version}: checkpointed and replayed snapshots differ")
    }
    // data-level sanity at key versions
    assert(LakeTable.read(spark, t, asOf = Some(11L)).count() == 12)
    assert(LakeTable.read(spark, t, asOf = Some(13L))
      .filter(col("id") === 3L).count() == 0)
    assert(LakeTable.read(spark, t).count() == 12)
    assert(LakeTable.read(spark, t).filter(col("id") === 2L)
      .select("v").head.getDouble(0) == 99.0)
    // a hole in the delta chain fails loudly, not with partial data
    java.nio.file.Files.delete(logDir.resolve(f"${14L}%020d.json"))
    val e = intercept[IllegalStateException] { LakeTable.snapshotAt(spark, t, 15L) }
    assert(e.getMessage.contains("missing"))
  }

  test("unfiltered count(*) answers from the log: no scan in the plan") {
    val t = tmpTable("meta_count")
    LakeTable.overwrite(spark, t, spark.range(100).toDF("id"))
    LakeTable.append(spark, t, spark.range(100, 150).toDF("id"))
    val live = spark.read.format("graft").load(t)

    def scanFree(df: org.apache.spark.sql.DataFrame): Boolean =
      !df.queryExecution.executedPlan.toString.contains("FileScan")

    // reader API
    assert(live.count() == 150)
    assert(scanFree(live.groupBy().count()))
    // SQL through a live view, alias + multiple counts
    live.createOrReplaceTempView("meta_count_v")
    val sql = spark.sql("SELECT count(*) AS n, count(1) AS m FROM meta_count_v")
    assert(sql.head == org.apache.spark.sql.Row(150L, 150L))
    assert(scanFree(sql))
    // LIVE: a concurrent append is counted on the next query
    LakeTable.append(spark, t, spark.range(150, 160).toDF("id"))
    assert(spark.sql("SELECT count(*) FROM meta_count_v").head.getLong(0) == 160)
    // time travel counts the pinned version
    val v1 = spark.read.format("graft").option("versionAsOf", 1).load(t)
    assert(v1.count() == 100 && scanFree(v1.groupBy().count()))

    // any of: a filter on a DATA column, a group-by, a distinct,
    // another aggregate -> back to the scan, still correct
    val filtered = live.filter(col("id") < 10)
    assert(filtered.count() == 10)
    assert(!scanFree(filtered.groupBy().count()))
    assert(live.select(countDistinct("id")).head.getLong(0) == 160)
    assert(live.agg(count(lit(1)), sum("id")).head.getLong(0) == 160)
  }

  test("count(*) filtered on partition columns only is still a log sum: no scan") {
    val t = tmpTable("meta_pcount")
    LakeTable.overwrite(spark, t,
      spark.range(100).select(col("id"),
        when(col("id") < 30, "d1").when(col("id") < 80, "d2").otherwise("d3").as("dt")),
      partitionBy = Seq("dt"))
    val live = spark.read.format("graft").load(t)
    live.createOrReplaceTempView("meta_pcount_v")

    def scanFree(df: org.apache.spark.sql.DataFrame): Boolean =
      !df.queryExecution.executedPlan.toString.contains("FileScan")

    val q1 = spark.sql("SELECT count(*) AS n FROM meta_pcount_v WHERE dt = 'd2'")
    assert(q1.head.getLong(0) == 50)
    assert(scanFree(q1), "partition-only filter should count from the log")
    val q2 = spark.sql("SELECT count(*) FROM meta_pcount_v WHERE dt IN ('d1','d3')")
    assert(q2.head.getLong(0) == 50 && scanFree(q2))
    val q3 = live.filter(col("dt") =!= "d1").groupBy().count()
    assert(q3.head.getLong(0) == 70 && scanFree(q3))
    // a filter touching a DATA column must scan (and stay correct)
    val q4 = spark.sql("SELECT count(*) FROM meta_pcount_v WHERE dt = 'd2' AND id < 40")
    assert(q4.head.getLong(0) == 10 && !scanFree(q4))
    // LIVE: appends into one partition are counted on the next query
    LakeTable.append(spark, t,
      spark.range(100, 110).select(col("id"), lit("d2").as("dt")))
    val q5 = spark.sql("SELECT count(*) AS n FROM meta_pcount_v WHERE dt = 'd2'")
    assert(q5.head.getLong(0) == 60 && scanFree(q5))
  }

  test("min/max/count(col) answer from logged bounds: no scan; unsound shapes bail") {
    val t = tmpTable("meta_minmax")
    LakeTable.overwrite(spark, t,
      spark.range(100).select(col("id"),
        (col("id").cast("double") * 1.5).as("v"),
        concat(lit("s"), col("id")).as("s"),
        when(col("id") < 60, lit(null).cast("long")).otherwise(col("id")).as("maybe"),
        lit(null).cast("int").as("allnull"),
        when(col("id") < 30, "d1").otherwise("d2").as("dt")),
      partitionBy = Seq("dt"))
    LakeTable.append(spark, t,
      spark.range(100, 120).select(col("id"), (col("id").cast("double") * 1.5).as("v"),
        concat(lit("s"), col("id")).as("s"), col("id").as("maybe"),
        lit(null).cast("int").as("allnull"), lit("d2").as("dt")))
    val live = spark.read.format("graft").load(t)
    live.createOrReplaceTempView("meta_minmax_v")

    // a merge-on-read table scans through GraftMorRelation (a V1
    // RowDataSourceScan), not a FileScan — catch both
    def scanFree(df: org.apache.spark.sql.DataFrame): Boolean = {
      val p = df.queryExecution.executedPlan.toString
      !p.contains("FileScan") && !p.contains("GraftMor")
    }

    // integral data column: min/max/count(col) fold over the log
    val q1 = spark.sql(
      "SELECT min(id) AS mn, max(id) AS mx, count(id) AS n, count(*) AS all FROM meta_minmax_v")
    assert(q1.head == org.apache.spark.sql.Row(0L, 119L, 120L, 120L))
    assert(scanFree(q1), "min/max/count on an integral column should answer from the log")
    // count skips nulls via the logged null counts
    val q2 = spark.sql("SELECT count(maybe) AS n, min(maybe) AS mn FROM meta_minmax_v")
    assert(q2.head == org.apache.spark.sql.Row(60L, 60L) && scanFree(q2))
    // an all-null column's min is null, provably from null counts
    val q3 = spark.sql("SELECT min(allnull) AS mn FROM meta_minmax_v")
    assert(q3.head.isNullAt(0) && scanFree(q3))
    // partition column min/max parse from the paths (string-typed is fine)
    val q4 = spark.sql("SELECT min(dt) AS mn, max(dt) AS mx FROM meta_minmax_v")
    assert(q4.head == org.apache.spark.sql.Row("d1", "d2") && scanFree(q4))
    // partition-only filter composes: the classic freshness probe shape
    val q5 = spark.sql("SELECT max(id) AS mx FROM meta_minmax_v WHERE dt = 'd1'")
    assert(q5.head.getLong(0) == 29L && scanFree(q5))
    // doubles (NaN blindness) and strings (truncation) bail to the scan, correct
    val q6 = spark.sql("SELECT max(v) FROM meta_minmax_v")
    assert(q6.head.getDouble(0) == 178.5 && !scanFree(q6))
    val q7 = spark.sql("SELECT max(s) FROM meta_minmax_v")
    assert(q7.head.getString(0) == "s99" && !scanFree(q7))

    // merge-on-read delete of the CURRENT max: its file carries a live
    // dv, so the logged bound is no longer provably attained -> scan
    // (the pre-dv plain view refuses to read past a dv commit by
    // design, so re-register to get the vector-aware relation)
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 119L)
    spark.read.format("graft").load(t).createOrReplaceTempView("meta_minmax_v")
    val q8 = spark.sql("SELECT max(id) AS mx FROM meta_minmax_v")
    assert(q8.head.getLong(0) == 118L, "max must reflect the MoR delete")
    assert(!scanFree(q8), "a dv on the argmax file must bail to the scan")
    // count(*) stays a log fold (dv cardinality is logged)...
    val q9 = spark.sql("SELECT count(*) AS n FROM meta_minmax_v")
    assert(q9.head.getLong(0) == 119L && scanFree(q9))
    // ...but count(col) can't know how many deleted rows were null
    val q10 = spark.sql("SELECT count(maybe) AS n FROM meta_minmax_v")
    assert(q10.head.getLong(0) == 59L && !scanFree(q10))
    // min over files the dv doesn't touch is still provably attained
    val q11 = spark.sql("SELECT min(id) AS mn FROM meta_minmax_v")
    assert(q11.head.getLong(0) == 0L && scanFree(q11))
  }
}
