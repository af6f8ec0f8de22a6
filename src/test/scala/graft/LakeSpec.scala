package graft

import org.apache.spark.sql.functions._
import graft.lake.LakeTable

/** Table-format semantics: atomic versioned overwrite, time travel,
  * append, schema evolution, file-granularity MERGE, commit-race
  * behavior, vacuum.
  */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("bulk-move commit: batch-dir layout, accurate logged sizes, partitioned tables keep hive dirs") {
    val fsys = new org.apache.hadoop.fs.Path("/").getFileSystem(
      spark.sessionState.newHadoopConf())
    // unpartitioned: files publish under one opaque per-commit batch
    // dir, and the logged size/mtime (taken from the staged listing,
    // not a post-move re-stat) must match the published files exactly
    val t = tmpTable("lake_bulk")
    LakeTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.nonEmpty)
    snap.files.foreach { e =>
      assert(e.path.contains("/"), s"expected batch-dir nesting, got ${e.path}")
      val st = fsys.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$t/data/${e.path}"))
      assert(e.size == st.getLen, s"logged size must match FS for ${e.path}")
      assert(e.mtimeMs == st.getModificationTime,
        s"logged mtime must match FS for ${e.path}")
    }
    // the two commits landed in two distinct batch dirs, and reads see
    // the union
    assert(snap.files.map(_.path.takeWhile(_ != '/')).distinct.size == 2)
    assert(LakeTable.read(spark, t).count() == 3)
    // partitioned: hive dirs stay the LEADING path segments; a
    // multi-file partition publishes with one dir rename (nested batch
    // dir inside the partition dir), a single-file partition moves
    // flat — either way logged size/mtime must match the FS and
    // partition semantics (pruning, SHOW PARTITIONS, dynamic
    // partition overwrite) key on the leading k=v run
    val tp = tmpTable("lake_bulk_part")
    LakeTable.overwrite(spark, tp,
      Seq((1L, "d1"), (2L, "d2"), (3L, "d1"), (4L, "d2")).toDF("id", "dt")
        .repartition(2), partitionBy = Seq("dt"))
    val sp = LakeTable.latestSnapshot(spark, tp).get
    assert(sp.filePaths.forall(p => p.startsWith("dt=d1/") || p.startsWith("dt=d2/")),
      s"hive layout must lead: ${sp.filePaths}")
    assert(sp.files.count(_.path.startsWith("dt=d1/")) > 1,
      "test needs a multi-file partition to exercise the dir rename")
    sp.files.foreach { e =>
      val st = fsys.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$tp/data/${e.path}"))
      assert(e.size == st.getLen, s"logged size must match FS for ${e.path}")
      assert(e.mtimeMs == st.getModificationTime,
        s"logged mtime must match FS for ${e.path}")
    }
    assert(LakeTable.read(spark, tp).count() == 4)
    assert(LakeTable.read(spark, tp).filter(col("dt") === "d1")
      .as[(Long, String)].collect().toSet == Set((1L, "d1"), (3L, "d1")))
    // SHOW PARTITIONS reports the k=v identity, not the batch dir
    val shown = spark.sql(s"SHOW PARTITIONS `$tp`")
      .collect().map(_.getString(0)).toSet
    assert(shown == Set("dt=d1", "dt=d2"), s"got $shown")
    // dynamic partition overwrite replaces the whole nested partition
    LakeTable.overwritePartitions(spark, tp, Seq((9L, "d1")).toDF("id", "dt"))
    assert(LakeTable.read(spark, tp).as[(Long, String)].collect().toSet ==
      Set((9L, "d1"), (2L, "d2"), (4L, "d2")))
  }

  test("overwrite commits atomic versions; time travel reads history") {
    val t = tmpTable("lake_ow")
    val v1 = LakeTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    assert(v1 == 1L)
    val v2 = LakeTable.overwrite(spark, t, Seq((3L, "c")).toDF("id", "s"))
    assert(v2 == 2L)
    // latest is the new data; v1 still reads in full (snapshot isolation)
    assert(LakeTable.read(spark, t).as[(Long, String)].collect().toSet == Set((3L, "c")))
    assert(LakeTable.read(spark, t, asOf = Some(1L)).as[(Long, String)].collect().toSet
      == Set((1L, "a"), (2L, "b")))
    val hist = LakeTable.history(spark, t).collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(2L, 1L))
    assert(hist.map(_.getString(2)).toSet == Set("OVERWRITE"))
  }

  test("autoCompact bin-packs only the touched partitions, only past the threshold") {
    val t = tmpTable("lake_ac")
    def part(dt: String, id: Long) = Seq((id, dt)).toDF("id", "dt")
    LakeTable.overwrite(spark, t,
      part("d1", 0L).unionByName(part("d2", 100L)).repartition(1),
      partitionBy = Seq("dt"))
    val d2File = LakeTable.latestSnapshot(spark, t).get
      .filePaths.filter(_.startsWith("dt=d2")).head
    // trickle 1-row appends to d1 through the writer option
    (1L to 6L).foreach { i =>
      part("d1", i).write.format("graft").mode("append")
        .option("autoCompact", "true").save(t)
      // below threshold (d1 files: 1 seed + i appends < 8): no COMPACT
      assert(LakeTable.latestSnapshot(spark, t).get.operation == "APPEND")
    }
    part("d1", 7L).write.format("graft").mode("append")
      .option("autoCompact", "true").save(t)
    // 8th small file in dt=d1 crossed the threshold: auto-compacted
    val s = LakeTable.latestSnapshot(spark, t).get
    assert(s.operation == "COMPACT")
    assert(s.filePaths.count(_.startsWith("dt=d1")) == 1)
    // the untouched partition's file was never rewritten
    assert(s.filePaths.filter(_.startsWith("dt=d2")) == Seq(d2File))
    assert(LakeTable.read(spark, t).count() == 9)
    // next small append is below threshold again — no compaction storm
    part("d1", 8L).write.format("graft").mode("append")
      .option("autoCompact", "true").save(t)
    assert(LakeTable.latestSnapshot(spark, t).get.operation == "APPEND")
    // API-level: explicit call below threshold commits nothing
    assert(LakeTable.autoCompact(spark, t).isEmpty)
  }

  test("append adds rows and merges new columns (old rows read null)") {
    val t = tmpTable("lake_ap")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    LakeTable.append(spark, t, Seq((2L, "b", 9.5)).toDF("id", "s", "score"))
    val out = LakeTable.read(spark, t)
    assert(out.columns.toSeq == Seq("id", "s", "score"))
    assert(out.count() == 2)
    assert(out.filter(col("id") === 1L).select("score").head.isNullAt(0))
    assert(out.filter(col("id") === 2L).select("score").head.getDouble(0) == 9.5)
    // conflicting type on an existing column is refused, not silently cast
    intercept[IllegalArgumentException] {
      LakeTable.append(spark, t, Seq(("x", "b", 1.0)).toDF("id", "s", "score"))
    }
  }

  test("merge upserts by key and rewrites only affected files") {
    val t = tmpTable("lake_mg")
    // two partitions -> at least two files; updates touch only one
    val base = Seq((1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0))
      .toDF("id", "part", "v")
    LakeTable.overwrite(spark, t, base, partitionBy = Seq("part"))
    val before = LakeTable.latestSnapshot(spark, t).get
    val updates = Seq((2L, "p1", 99.0), (4L, "p1", 40.0)).toDF("id", "part", "v")
    LakeTable.merge(spark, t, updates, keys = Seq("id"))
    val out = LakeTable.read(spark, t).select("id", "v").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 4L -> 40.0))
    // copy-on-write is file-granular: every file without a matched key
    // (all of p2, and any p1 file not holding id=2) carries over by
    // reference; only files containing a matched key are rewritten
    val after = LakeTable.latestSnapshot(spark, t).get
    val carried = before.filePaths.toSet.intersect(after.filePaths.toSet)
    val removed = before.filePaths.toSet.diff(after.filePaths.toSet)
    assert(before.filePaths.filter(_.startsWith("part=p2")).toSet.subsetOf(carried))
    assert(removed.nonEmpty, "expected the matched file to be rewritten")
    assert(removed.forall(_.startsWith("part=p1")))
    // unmatched-key merge is a pure insert: no files rewritten
    LakeTable.merge(spark, t, Seq((5L, "p3", 50.0)).toDF("id", "part", "v"), Seq("id"))
    val afterInsert = LakeTable.latestSnapshot(spark, t).get
    assert(after.filePaths.toSet.subsetOf(afterInsert.filePaths.toSet))
    assert(LakeTable.read(spark, t).count() == 5)
  }

  test("a taken version number is never clobbered; writers retry past it") {
    val t = tmpTable("lake_cc")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    // another writer publishes version 2 between our read and commit:
    // simulate by pre-writing the version file a loser would race
    val racing = LakeTable.latestSnapshot(spark, t).get.copy(version = 2L, operation = "RACER")
    val m = tryCommitHandle
    assert(m.invoke(LakeTable, spark, t, racing, Seq.empty, Seq.empty,
      java.lang.Boolean.FALSE, None, None, None, Nil).asInstanceOf[Boolean])
    assert(!m.invoke(LakeTable, spark, t, racing, Seq.empty, Seq.empty,
      java.lang.Boolean.FALSE, None, None, None, Nil).asInstanceOf[Boolean],
      "second commit of the same version must lose")
    // a normal writer lands after the racer without clobbering it
    val v = LakeTable.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    assert(v == 3L)
    assert(LakeTable.snapshotAt(spark, t, 2L).operation == "RACER")
  }

  test("compact bin-packs small files without changing rows; history still travels") {
    val t = tmpTable("lake_cp")
    LakeTable.overwrite(spark, t, Seq((1L, "p1", 1.0)).toDF("id", "part", "v"),
      partitionBy = Seq("part"))
    (2L to 6L).foreach { i =>
      LakeTable.append(spark, t, Seq((i, s"p${i % 2}", i.toDouble)).toDF("id", "part", "v"))
    }
    val before = LakeTable.latestSnapshot(spark, t).get
    assert(before.files.size >= 6)
    val preCompactVersion = before.version
    val rowsBefore = LakeTable.read(spark, t).as[(Long, String, Double)].collect().toSet
    LakeTable.compact(spark, t)
    val after = LakeTable.latestSnapshot(spark, t).get
    assert(after.operation == "COMPACT")
    assert(after.files.size < before.files.size,
      s"${after.files.size} files after compact, ${before.files.size} before")
    assert(LakeTable.read(spark, t).as[(Long, String, Double)].collect().toSet == rowsBefore)
    // pre-compact version still time-travels (vacuum, not compact, reclaims)
    assert(LakeTable.read(spark, t, asOf = Some(preCompactVersion)).count() == 6)
    // a second compact on an already-packed table is a no-op version-wise
    val v = LakeTable.compact(spark, t)
    assert(v == after.version || LakeTable.latestSnapshot(spark, t).get.files.size <= after.files.size)
  }

  test("compact with a partition filter rewrites only the scoped partition's files") {
    import org.apache.spark.sql.functions.col
    val t = tmpTable("lake_scomp")
    LakeTable.overwrite(spark, t, Seq((1L, "d1", 1.0)).toDF("id", "dt", "v"),
      partitionBy = Seq("dt"))
    (2L to 7L).foreach { i =>
      LakeTable.append(spark, t,
        Seq((i, if (i % 2 == 0) "d1" else "d2", i.toDouble)).toDF("id", "dt", "v"))
    }
    val before = LakeTable.latestSnapshot(spark, t).get
    val d2Before = before.files.map(_.path).filter(_.startsWith("dt=d2")).toSet
    assert(d2Before.size >= 3)
    val rows = LakeTable.read(spark, t).as[(Long, String, Double)].collect().toSet
    LakeTable.compact(spark, t, partitionFilter = Some(col("dt") === "d1"))
    val after = LakeTable.latestSnapshot(spark, t).get
    // d2's files carried over BY REFERENCE; d1's packed into fewer
    assert(after.files.map(_.path).filter(_.startsWith("dt=d2")).toSet == d2Before,
      "out-of-scope partition files must carry over untouched")
    assert(after.files.count(_.path.startsWith("dt=d1")) <
      before.files.count(_.path.startsWith("dt=d1")))
    assert(LakeTable.read(spark, t).as[(Long, String, Double)].collect().toSet == rows)
    // a filter on a non-partition column is refused loudly
    val e = intercept[IllegalArgumentException] {
      LakeTable.compact(spark, t, partitionFilter = Some(col("v") > 0))
    }
    assert(e.getMessage.contains("partition columns"))
  }

  test("compact with sortBy clusters rows inside each rewritten file") {
    val t = tmpTable("lake_sort")
    val r = new scala.util.Random(7)
    LakeTable.overwrite(spark, t,
      (1 to 50).map(i => (r.nextInt(1000).toLong, i.toLong)).toDF("id", "seq"))
    (1 to 3).foreach { _ =>
      LakeTable.append(spark, t,
        (1 to 50).map(i => (r.nextInt(1000).toLong, i.toLong)).toDF("id", "seq"))
    }
    LakeTable.compact(spark, t, sortBy = Seq("id"))
    val snap = LakeTable.latestSnapshot(spark, t).get
    // every data file holds an id-sorted run -> tight parquet min/max
    // stats per row group (the data-skipping property)
    snap.filePaths.foreach { rel =>
      val ids = spark.read.schema(snap.schema)
        .parquet(s"$t/data/$rel").select("id")
        .collect().map(_.getLong(0))
      assert(ids.sameElements(ids.sorted), s"$rel is not clustered on id")
    }
    assert(LakeTable.read(spark, t).count() == 200)
  }

  test("restore rolls back as a new commit: state, schema, history, change feed") {
    val t = tmpTable("lake_restore")
    LakeTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))      // v1
    LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))                    // v2
    LakeTable.delete(spark, t, col("id") > 1L)                                    // v3: the bad commit
    assert(LakeTable.read(spark, t).count() == 1)

    val v = LakeTable.restore(spark, t, 2L)                                       // v4
    assert(v == 4L)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.operation == "RESTORE")
    assert(LakeTable.read(spark, t).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // nothing erased: the rolled-back version still time-travels
    assert(LakeTable.read(spark, t, asOf = Some(3L)).count() == 1)
    // the rollback is an overwrite in the change feed: converging, not diverging
    val feed = LakeTable.changes(spark, t, v, v)
      .groupBy(LakeTable.ChangeTypeCol).count()
      .as[(String, Long)].collect().toMap
    assert(feed == Map("delete" -> 1L, "insert" -> 3L))

    // restoring re-references files, so vacuum keeps them alive
    assert(LakeTable.restore(spark, t, 1L) == 5L)
    assert(LakeTable.read(spark, t).count() == 2)

    // schema restores with the data
    LakeTable.append(spark, t, Seq((9L, "z", 1.5)).toDF("id", "s", "score"))      // v6
    assert(LakeTable.read(spark, t).columns.contains("score"))
    LakeTable.restore(spark, t, 5L)                                               // v7
    assert(LakeTable.read(spark, t).columns.toSeq == Seq("id", "s"))
  }

  test("addColumns is a metadata-only commit: old rows read null, guards hold") {
    import org.apache.spark.sql.types._
    val t = tmpTable("lake_ddl")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val filesBefore = LakeTable.latestSnapshot(spark, t).get.filePaths.toSet
    val v = LakeTable.addColumns(spark, t,
      StructType(Seq(StructField("score", DoubleType))))
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.version == v && snap.operation == "ADD COLUMNS")
    assert(snap.filePaths.toSet == filesBefore, "no data may be rewritten")
    assert(LakeTable.read(spark, t).select("id", "score").as[(Long, Option[Double])]
      .collect().toSeq == Seq((1L, None)))
    // appends fill the new column; old rows stay null
    LakeTable.append(spark, t, Seq((2L, "b", 0.5)).toDF("id", "s", "score"))
    assert(LakeTable.read(spark, t).filter(col("score").isNotNull).count() == 1)
    // time travel still shows the narrow schema
    assert(LakeTable.read(spark, t, asOf = Some(1L)).columns.toSeq == Seq("id", "s"))

    // guards: duplicate name (case-insensitive), non-nullable
    assert(intercept[IllegalArgumentException] {
      LakeTable.addColumns(spark, t, StructType(Seq(StructField("ID", LongType))))
    }.getMessage.contains("already exist"))
    assert(intercept[IllegalArgumentException] {
      LakeTable.addColumns(spark, t,
        StructType(Seq(StructField("req", LongType, nullable = false))))
    }.getMessage.contains("nullable"))
  }

  test("restore to a vacuumed version fails loudly before committing") {
    val t = tmpTable("lake_restore_vac")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))                 // v1
    LakeTable.overwrite(spark, t, Seq((2L, "b")).toDF("id", "s"))                 // v2: v1 unreferenced
    val before = LakeTable.latestSnapshot(spark, t).get.version
    // dry run counts, deletes nothing: the real run still finds them all
    val preview = LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0,
      dryRun = true)
    assert(preview > 0)
    assert(LakeTable.read(spark, t, asOf = Some(1L)).count() == 1,
      "dry run must not delete")
    assert(LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0) == preview)
    val e = intercept[IllegalArgumentException] {
      LakeTable.restore(spark, t, 1L)
    }
    assert(e.getMessage.contains("vacuumed"))
    // nothing was committed by the failed restore
    assert(LakeTable.latestSnapshot(spark, t).get.version == before)
  }

  private def tryCommitHandle = {
    val m = LakeTable.getClass.getDeclaredMethod("tryCommit",
      classOf[org.apache.spark.sql.SparkSession], classOf[String],
      classOf[LakeTable.Snapshot], classOf[Seq[_]], classOf[Seq[_]],
      java.lang.Boolean.TYPE, classOf[Option[_]], classOf[Option[_]],
      classOf[Option[_]], classOf[Seq[_]])
    m.setAccessible(true)
    m
  }

  test("genuinely concurrent committers: exactly one wins each version, none clobbered") {
    val t = tmpTable("lake_race")
    LakeTable.overwrite(spark, t, Seq((0L, "base")).toDF("id", "s"))
    val base = LakeTable.latestSnapshot(spark, t).get
    val m = tryCommitHandle
    // several rounds of 8 writers all publishing the SAME version at the
    // same instant (latch-aligned). With a replace-semantics rename, two
    // writers can both "win" and one snapshot is silently lost; the
    // put-if-absent publish must admit exactly one.
    (1 to 5).foreach { round =>
      val v = base.version + round
      val start = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = (1 to 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val snap = base.copy(version = v, operation = s"W$i")
            start.await()
            if (m.invoke(LakeTable, spark, t, snap, Seq.empty, Seq.empty,
                java.lang.Boolean.FALSE, None, None, None, Nil).asInstanceOf[Boolean])
              wins.add(s"W$i")
          }
        })
      }
      start.countDown()
      futures.foreach(_.get())
      pool.shutdown()
      assert(wins.size == 1, s"version $v: ${wins.size} writers claimed the win")
      // the published snapshot is complete, parseable, and IS the winner's
      assert(LakeTable.snapshotAt(spark, t, v).operation == wins.peek())
    }
    assert(LakeTable.latestSnapshot(spark, t).get.version == base.version + 5)
  }

  test("vacuum re-validates its doomed list against a RESTORE that commits mid-walk") {
    // the documented restore-vs-vacuum race, driven deterministically:
    // vacuum resolves its retained set, then — while it walks the data
    // tree — a RESTORE commits, re-referencing files vacuum already
    // marked doomed. The pre-delete re-validation must notice the log
    // advanced and keep its hands off the re-referenced files.
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val t = "cfs:" + tmpTable("lake_rvac")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s")) // v1
    LakeTable.overwrite(spark, t, Seq((2L, "b")).toDF("id", "s")) // v2
    LakeTable.overwrite(spark, t, Seq((3L, "c")).toDF("id", "s")) // v3
    @volatile var fired = false
    CountingFileSystem.onList = p =>
      if (!fired && p.contains("/t/data")) {
        fired = true
        LakeTable.restore(spark, t, 1L) // v4: re-references v1's files
      }
    try {
      val n = LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
      assert(fired, "the interleaved restore never ran")
      assert(n >= 1, "v2's files are genuinely unreferenced and must still sweep")
      // the restored table reads in full: v1's files survived the sweep
      assert(LakeTable.read(spark, t).as[(Long, String)].collect().toSeq ==
        Seq((1L, "a")))
    } finally CountingFileSystem.reset()
  }

  test("mock conditional-PUT publisher: the seam carries the full race guarantee") {
    // An S3-style deployment registers a publisher backed by a
    // conditional PUT (If-None-Match) — no rename/link primitive exists
    // on the scheme at all. The mock emulates the store's atomic
    // check-and-create (per-key mutex around exists+copy, the fidelity a
    // local emulation can offer) and is driven through the same
    // latch-aligned 8-writer race as the built-in publishers.
    val puts = new java.util.concurrent.atomic.AtomicInteger
    val rejects = new java.util.concurrent.atomic.AtomicInteger
    val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
    LakeTable.registerCommitPublisher("mput", new graft.lake.CommitPublisher {
      def publishIfAbsent(f: org.apache.hadoop.fs.FileSystem,
                          tmp: org.apache.hadoop.fs.Path,
                          target: org.apache.hadoop.fs.Path): Boolean = {
        val lock = locks.computeIfAbsent(target.toUri.getPath, _ => new Object)
        lock.synchronized {
          if (f.exists(target)) { rejects.incrementAndGet(); false }
          else {
            org.apache.hadoop.fs.FileUtil.copy(f, tmp, f, target, false, false, f.getConf)
            puts.incrementAndGet(); true
          }
        }
      }
    })
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mput.impl", classOf[MockPutFileSystem].getName)
    conf.set("fs.AbstractFileSystem.mput.impl", classOf[MockPutAbstractFs].getName)
    val t = "mput:" + tmpTable("lake_mput")
    LakeTable.overwrite(spark, t, Seq((0L, "base")).toDF("id", "s"))
    assert(puts.get >= 1, "commits on mput must flow through the registered publisher")
    val base = LakeTable.latestSnapshot(spark, t).get
    val m = tryCommitHandle
    (1 to 5).foreach { round =>
      val v = base.version + round
      val start = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val futures = (1 to 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val snap = base.copy(version = v, operation = s"W$i")
            start.await()
            if (m.invoke(LakeTable, spark, t, snap, Seq.empty, Seq.empty,
                java.lang.Boolean.FALSE, None, None, None, Nil).asInstanceOf[Boolean])
              wins.add(s"W$i")
          }
        })
      }
      start.countDown()
      futures.foreach(_.get())
      pool.shutdown()
      assert(wins.size == 1, s"version $v: ${wins.size} writers claimed the win")
      assert(LakeTable.snapshotAt(spark, t, v).operation == wins.peek())
    }
    assert(LakeTable.latestSnapshot(spark, t).get.version == base.version + 5)
    // losers really did hit the conditional-PUT rejection path (not the
    // pre-publish exists() fast path every time)
    assert(rejects.get >= 1,
      "the race never exercised the publisher's conditional rejection")
    assert(LakeTable.read(spark, t).count() == 1)
  }

  test("txnAppId/txnVersion make batch appends idempotent across re-runs") {
    val t = tmpTable("lake_txn")
    def write(app: String, v: Long, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "s").write.format("graft").mode("append")
        .option("txnAppId", app).option("txnVersion", v.toString).save(t)
    write("job1", 1L, Seq((1L, "a"))) // creates: ONE commit carries data + stamp
    write("job1", 1L, Seq((1L, "a"))) // crash-retry replay: no-op
    assert(LakeTable.read(spark, t).count() == 1)
    assert(LakeTable.versions(spark, t) == Seq(1L))
    write("job1", 2L, Seq((2L, "b")))
    write("job1", 2L, Seq((2L, "b"))) // replay again: no-op
    assert(LakeTable.read(spark, t).count() == 2)
    assert(LakeTable.versions(spark, t) == Seq(1L, 2L))
    // an older version re-surfacing (zombie retry) commits nothing
    write("job1", 1L, Seq((9L, "x")))
    assert(LakeTable.read(spark, t).count() == 2)
    // a different app's ledger is independent
    write("job2", 1L, Seq((3L, "c")))
    assert(LakeTable.read(spark, t).count() == 3)
    assert(LakeTable.latestSnapshot(spark, t).get.txns ==
      Map("job1" -> 2L, "job2" -> 1L))
  }

  test("time-based vacuum retention: RETAIN n HOURS keeps the window, not a count") {
    val t = tmpTable("lake_vts")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    LakeTable.overwrite(spark, t, Seq((2L, "b")).toDF("id", "s"))
    LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    // a wide window protects everything
    assert(LakeTable.vacuum(spark, t, graceMs = 0, dryRun = true,
      retainMs = Some(24L * 3600 * 1000)) == 0)
    // a zero-width window keeps only the newest version: v1's file
    // (superseded by the v2 overwrite) is sweepable
    val swept = LakeTable.vacuum(spark, t, graceMs = 0, dryRun = true,
      retainMs = Some(0L))
    assert(swept >= 1, s"expected v1's file sweepable, got $swept")
    // dry run touched nothing; newest stays fully readable either way
    assert(LakeTable.read(spark, t).count() == 2)
  }

  test("COMPACT rebases onto a concurrent append; refuses when the rewrite set changed") {
    val t = tmpTable("lake_crb")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    (2L to 5L).foreach(i =>
      LakeTable.append(spark, t, Seq((i, s"r$i")).toDF("id", "s")))
    // interleave an append between compact's staging and its commit —
    // the nightly-OPTIMIZE-during-ingest race, made deterministic
    LakeTable.compactBeforeCommitHook = () => {
      LakeTable.compactBeforeCommitHook = () => ()
      LakeTable.append(spark, t, Seq((99L, "zz")).toDF("id", "s"))
    }
    val v = try LakeTable.compact(spark, t, smallFileBytes = 1L << 30)
            finally LakeTable.compactBeforeCommitHook = () => ()
    val s = LakeTable.latestSnapshot(spark, t).get
    assert(s.version == v && v == 7L) // 1 ow + 4 appends + racer + compact
    assert(s.operation == "COMPACT")
    // nothing lost on either side: the racer's row AND the packed rows
    assert(LakeTable.read(spark, t).as[(Long, String)].collect().toSet ==
      (Set((1L, "a"), (99L, "zz")) ++ (2L to 5L).map(i => (i, s"r$i"))))
    // the racer's file is carried by reference next to the packed file
    val racerAdd = LakeTable.history(spark, t).collect()
    assert(racerAdd.map(_.getString(2)).toSeq.take(2) == Seq("COMPACT", "APPEND"))

    // a racer that REWRITES a file in the compact's set (CoW delete)
    // disqualifies the rebase: refuse loudly, table stays consistent
    LakeTable.compactBeforeCommitHook = () => {
      LakeTable.compactBeforeCommitHook = () => ()
      LakeTable.delete(spark, t, col("id") === 2L)
    }
    val e = try intercept[LakeTable.ConcurrentCommitException](
        LakeTable.compact(spark, t, smallFileBytes = 1L << 30))
      finally LakeTable.compactBeforeCommitHook = () => ()
    assert(e.getMessage.contains("cannot rebase"))
    // the racer's delete stands; no half-applied compact
    assert(LakeTable.read(spark, t).filter(col("id") === 2L).count() == 0)
    assert(LakeTable.read(spark, t).count() == 5)
    assert(LakeTable.latestSnapshot(spark, t).get.operation == "DELETE")
  }

  test("concurrent appends all land via optimistic retry; versions contiguous") {
    val t = tmpTable("lake_capp")
    LakeTable.overwrite(spark, t, Seq((0L, "x")).toDF("id", "s"))
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val futures = (1 to 3).map { i =>
      pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = {
          start.await()
          LakeTable.append(spark, t, Seq((i.toLong, s"w$i")).toDF("id", "s"))
        }
      })
    }
    start.countDown()
    val versions = futures.map(_.get())
    pool.shutdown()
    assert(versions.toSet == Set(2L, 3L, 4L), s"got $versions")
    assert(LakeTable.versions(spark, t) == Seq(1L, 2L, 3L, 4L))
    // no append lost: all three writers' rows are present
    assert(LakeTable.read(spark, t).count() == 4)
  }

  test("latest resolves through the hint; stale/corrupt/missing hints degrade safely") {
    val t = tmpTable("lake_hint")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    val base = LakeTable.latestSnapshot(spark, t).get
    val m = tryCommitHandle
    // ~50 metadata-only commits (same file list, bumped version)
    (2L to 50L).foreach { v =>
      assert(m.invoke(LakeTable, spark, t, base.copy(version = v), Seq.empty, Seq.empty,
        java.lang.Boolean.FALSE, None, None, None, Nil).asInstanceOf[Boolean])
    }
    val hint = java.nio.file.Paths.get(s"$t/_graft_log/_latest_hint")
    assert(new String(java.nio.file.Files.readAllBytes(hint), "UTF-8").trim == "50")
    assert(LakeTable.latestSnapshot(spark, t).get.version == 50L)
    // stale hint (a lagging writer overwrote it): probe-forward recovers
    java.nio.file.Files.write(hint, "3".getBytes("UTF-8"))
    assert(LakeTable.latestSnapshot(spark, t).get.version == 50L)
    // hint pointing past the end (no such version): fall back to listing
    java.nio.file.Files.write(hint, "99".getBytes("UTF-8"))
    assert(LakeTable.latestSnapshot(spark, t).get.version == 50L)
    // corrupt hint: fall back to listing
    java.nio.file.Files.write(hint, "not-a-number".getBytes("UTF-8"))
    assert(LakeTable.latestSnapshot(spark, t).get.version == 50L)
    // missing hint: fall back to listing
    java.nio.file.Files.delete(hint)
    assert(LakeTable.latestSnapshot(spark, t).get.version == 50L)
    // time travel across the window still works
    assert(LakeTable.read(spark, t, asOf = Some(7L)).count() == 1)
    assert(LakeTable.history(spark, t).count() == 50)
  }

  test("a foreign file in the log dir does not brick the table") {
    val t = tmpTable("lake_foreign")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    LakeTable.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    // stray droppings a human or another tool might leave behind
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_graft_log/notes.json"), "{}".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$t/_graft_log/README.txt"), "hi".getBytes("UTF-8"))
    assert(LakeTable.versions(spark, t) == Seq(1L, 2L))
    assert(LakeTable.latestSnapshot(spark, t).get.version == 2L)
    assert(LakeTable.read(spark, t).count() == 2)
    assert(LakeTable.history(spark, t).count() == 2)
  }

  test("vacuum grace period protects young unreferenced files and live staging") {
    val t = tmpTable("lake_vg")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    LakeTable.overwrite(spark, t, Seq((2L, "b")).toDF("id", "s"))
    LakeTable.overwrite(spark, t, Seq((3L, "c")).toDF("id", "s"))
    // an in-flight concurrent writer's staged-but-uncommitted work
    val staged = java.nio.file.Paths.get(s"$t/_staging/in-flight/part-0.parquet")
    java.nio.file.Files.createDirectories(staged.getParent)
    java.nio.file.Files.write(staged, Array[Byte](1, 2, 3))
    // default grace: everything here is seconds old — nothing may go
    assert(LakeTable.vacuum(spark, t, retainVersions = 1) == 0)
    assert(java.nio.file.Files.exists(staged))
    assert(LakeTable.read(spark, t, asOf = Some(1L)).count() == 1)
    // grace 0 (single-writer maintenance): old versions + staging reclaimed
    assert(LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L) > 0)
    assert(!java.nio.file.Files.exists(staged))
    assert(LakeTable.read(spark, t).as[(Long, String)].collect().toSet == Set((3L, "c")))
  }

  test("merge rewrites matched files whose partition values URI-escape") {
    val t = tmpTable("lake_space")
    // partition value with a space: the directory name is "part=p 1" but
    // input_file_name() reports it percent-encoded ("part=p%201")
    val base = Seq((1L, "p 1", 10.0), (2L, "p 1", 20.0), (3L, "b", 30.0))
      .toDF("id", "part", "v")
    LakeTable.overwrite(spark, t, base, partitionBy = Seq("part"))
    LakeTable.merge(spark, t, Seq((2L, "p 1", 99.0)).toDF("id", "part", "v"), Seq("id"))
    val out = LakeTable.read(spark, t)
    // the matched file WAS rewritten: no duplicate id=2, new value visible
    assert(out.count() == 3)
    assert(out.filter($"id" === 2L).as[(Long, String, Double)].collect().toSeq
      == Seq((2L, "p 1", 99.0)))
  }

  test("scoped merge detection reads only the update partitions' files") {
    val t = tmpTable("lake_scope")
    val base = Seq((1L, "pA", 10.0), (2L, "pA", 20.0), (3L, "pB", 30.0), (4L, "pB", 40.0))
      .toDF("id", "part", "v")
    LakeTable.overwrite(spark, t, base, partitionBy = Seq("part"))
    val snap = LakeTable.latestSnapshot(spark, t).get
    val bRel = snap.filePaths.filter(_.startsWith("part=pB"))
    assert(bRel.nonEmpty)
    // corrupt pB's data on disk: ANY read of it now throws, so a merge
    // that succeeds proves its detection scan never opened pB's files
    val bPaths = bRel.map(rel => java.nio.file.Paths.get(s"$t/data/$rel"))
    val saved = bPaths.map(java.nio.file.Files.readAllBytes)
    bPaths.foreach(p => java.nio.file.Files.write(p, "garbage".getBytes("UTF-8")))
    val updates = Seq((2L, "pA", 99.0)).toDF("id", "part", "v")
    intercept[Exception] { // unscoped detection scans the whole table -> hits pB
      LakeTable.merge(spark, t, updates, Seq("id"))
    }
    LakeTable.merge(spark, t, updates, Seq("id"), scopeToUpdatePartitions = true)
    bPaths.zip(saved).foreach { case (p, bytes) => java.nio.file.Files.write(p, bytes) }
    val out = LakeTable.read(spark, t).select("id", "v").as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 4L -> 40.0))
    // pB carried over by reference, untouched
    val after = LakeTable.latestSnapshot(spark, t).get
    assert(bRel.toSet.subsetOf(after.filePaths.toSet))
  }

  test("vacuum drops files beyond retention; latest still reads") {
    val t = tmpTable("lake_vc")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    LakeTable.overwrite(spark, t, Seq((2L, "b")).toDF("id", "s"))
    LakeTable.overwrite(spark, t, Seq((3L, "c")).toDF("id", "s"))
    val deleted = LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(deleted > 0)
    assert(LakeTable.read(spark, t).as[(Long, String)].collect().toSet == Set((3L, "c")))
    // history metadata survives vacuum even though v1's data does not
    assert(LakeTable.history(spark, t).count() == 3)
    intercept[Exception] {
      LakeTable.read(spark, t, asOf = Some(1L)).collect()
    }
  }

  test("insert-only mergeRows never duplicates a key under a race: loser aborts or defers") {
    import org.apache.spark.sql.functions.col
    val t = tmpTable("lake_insrace")
    LakeTable.overwrite(spark, t, Seq((1L, 10.0)).toDF("id", "v"))
    // two writers insert-only-merge the SAME new key concurrently. The
    // old path appended through a blind rebase: both anti-joins saw the
    // key absent, both appended -> duplicate keys. The version-checked
    // commit admits one; the other either aborts loudly or (if the race
    // serialized) anti-joins the winner's key away.
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fs = (1 to 2).map { i =>
      pool.submit(new java.util.concurrent.Callable[Either[Throwable, Long]] {
        def call(): Either[Throwable, Long] = {
          start.await()
          try Right(LakeTable.mergeRows(spark, t,
            Seq((5L, 100.0 + i)).toDF("id", "v"), Seq("id"),
            matched = Nil,
            notMatchedInsert = Seq((None, Map("id" -> col("s.id"), "v" -> col("s.v"))))))
          catch { case e: LakeTable.ConcurrentCommitException => Left(e) }
        }
      })
    }
    start.countDown()
    val results = fs.map(_.get())
    pool.shutdown()
    assert(results.exists(_.isRight), "at least one insert must land")
    // the invariant the race protection exists for: NO duplicate key
    val n = LakeTable.read(spark, t).filter(col("id") === 5L).count()
    assert(n == 1, s"expected exactly one row for the raced key, got $n")
    results.filter(_.isLeft).foreach { l =>
      assert(l.swap.toOption.get.getMessage.contains("insert-only MERGE"))
    }
  }

  test("merge(keys) upsert refuses duplicate source keys with the SQL cardinality error") {
    val t = tmpTable("lake_dupkey")
    LakeTable.overwrite(spark, t, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"))
    // a duplicated matched key and a duplicated fresh key both refuse:
    // the check rides the detection collect, not the match
    Seq(Seq((1L, 1.0), (1L, 2.0)), Seq((7L, 1.0), (7L, 2.0))).foreach { rows =>
      val e = intercept[IllegalArgumentException](
        LakeTable.merge(spark, t, rows.toDF("id", "v"), Seq("id")))
      assert(e.getMessage.contains("duplicate values of key (id)"))
      val e2 = intercept[IllegalArgumentException](
        LakeTable.mergeMergeOnRead(spark, t, rows.toDF("id", "v"), Seq("id")))
      assert(e2.getMessage.contains("duplicate values of key (id)"))
    }
    assert(LakeTable.latestSnapshot(spark, t).get.version == 1L, "nothing may commit")
    assert(LakeTable.read(spark, t).as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0)))
  }

  test("change feed: every DML commit's row-level changes, typed and versioned") {
    import org.apache.spark.sql.functions.col
    val t = tmpTable("lake_cdf")
    LakeTable.overwrite(spark, t, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")) // v1
    LakeTable.append(spark, t, Seq((3L, 30.0)).toDF("id", "v"))                // v2
    LakeTable.merge(spark, t, Seq((2L, 99.0), (4L, 40.0)).toDF("id", "v"),
      keys = Seq("id"))                                                        // v3
    LakeTable.delete(spark, t, col("id") === 1L)                               // v4
    LakeTable.update(spark, t, Seq("v" -> (col("v") + 1)), col("id") === 3L)   // v5
    LakeTable.compact(spark, t)                                                // v6 (maybe no-op)
    val lastV = LakeTable.latestSnapshot(spark, t).get.version

    def changesAt(v: Long): Set[(Long, Double, String)] =
      LakeTable.changes(spark, t, v, v)
        .select("id", "v", LakeTable.ChangeTypeCol)
        .as[(Long, Double, String)].collect().toSet

    assert(changesAt(2L) == Set((3L, 30.0, "insert")))
    assert(changesAt(3L) == Set(
      (2L, 20.0, "update_preimage"), (2L, 99.0, "update_postimage"),
      (4L, 40.0, "insert")))
    assert(changesAt(4L) == Set((1L, 10.0, "delete")))
    assert(changesAt(5L) == Set(
      (3L, 30.0, "update_preimage"), (3L, 31.0, "update_postimage")))
    // the whole range in one frame, stamped with versions
    val all = LakeTable.changes(spark, t, 2L, lastV)
      .select(LakeTable.CommitVersionCol, "id", LakeTable.ChangeTypeCol)
      .as[(Long, Long, String)].collect()
    assert(all.count(_._3 == "insert") == 2)
    assert(all.count(_._3 == "delete") == 1)
    assert(all.map(_._1).toSet == Set(2L, 3L, 4L, 5L)) // compact contributes nothing
    // overwrite synthesizes: old rows delete + new rows insert
    LakeTable.overwrite(spark, t, Seq((9L, 90.0)).toDF("id", "v"))
    val ow = LakeTable.latestSnapshot(spark, t).get.version
    val owChanges = changesAt(ow)
    assert(owChanges.contains((9L, 90.0, "insert")))
    assert(owChanges.count(_._3 == "delete") == 3) // ids 2,3,4 at their final values
    // applying the feed to the v1 state reproduces the final table
    // (insert/postimage upserts, delete removes) — the propagate-the-
    // delta contract a downstream incremental consumer relies on
    var state = Map(1L -> 10.0, 2L -> 20.0)
    LakeTable.changes(spark, t, 2L, ow)
      .select(LakeTable.CommitVersionCol, "id", "v", LakeTable.ChangeTypeCol)
      .as[(Long, Long, Double, String)].collect()
      .sortBy(_._1).foreach {
        case (_, id, v, "insert" | "update_postimage") => state += id -> v
        case (_, id, _, "delete")                      => state -= id
        case _                                         => ()
      }
    val finalRows = LakeTable.read(spark, t).as[(Long, Double)].collect().toMap
    assert(state == finalRows, s"feed replay diverged: $state vs $finalRows")

    // a DML commit whose clauses fired for NO row records an EMPTY
    // change set — readable as empty, not mistaken for a legacy gap
    LakeTable.mergeRows(spark, t,
      Seq((9L, 0.0)).toDF("id", "nv"), Seq("id"),
      matched = Seq(LakeTable.MatchedUpdate(Some(col("s.nv") > 1000), Map("v" -> col("s.nv")))),
      notMatchedInsert = Nil)
    val noop = LakeTable.latestSnapshot(spark, t).get.version
    assert(LakeTable.changes(spark, t, noop, noop).count() == 0)
  }

  test("merge evolves schema like append: a new update column nulls untouched rows") {
    val t = tmpTable("lake_mev")
    LakeTable.overwrite(spark, t,
      Seq((1L, "p1", "a"), (2L, "p1", "b"), (3L, "p2", "c")).toDF("id", "part", "s"),
      partitionBy = Seq("part"))
    // updates carry a brand-new column: upsert id=2, insert id=4
    LakeTable.merge(spark, t,
      Seq((2L, "p1", "B", 9.5), (4L, "p2", "d", 7.0)).toDF("id", "part", "s", "score"),
      keys = Seq("id"))
    val out = LakeTable.read(spark, t)
    assert(out.columns.toSeq == Seq("id", "part", "s", "score"))
    val m = out.select("id", "score").as[(Long, Option[Double])].collect().toMap
    // id=1 sat in a rewritten file, id=3 in a carried-over one — both null
    assert(m == Map(1L -> None, 2L -> Some(9.5), 3L -> None, 4L -> Some(7.0)))
    // pre-merge version still reads with its own narrower schema
    assert(LakeTable.read(spark, t, asOf = Some(1L)).columns.toSeq == Seq("id", "part", "s"))
    // conflicting type on an existing column is refused, like append
    intercept[IllegalArgumentException] {
      LakeTable.merge(spark, t, Seq(("5", "p1", "x")).toDF("id", "part", "s"), keys = Seq("id"))
    }
  }

  test("history reads the rolled-up checkpoint, not O(commits) snapshot parses") {
    val t = tmpTable("lake_cp")
    def df(i: Int) = Seq((i.toLong, s"r$i")).toDF("id", "s")
    (1 to 23).foreach(i => LakeTable.overwrite(spark, t, df(i)))

    // the 20th commit rolled a checkpoint covering versions 1..20
    val cp = java.nio.file.Paths.get(s"$t/_graft_log/00000000000000000020.checkpoint.json")
    assert(java.nio.file.Files.exists(cp))
    val expect = (1L to 23L).reverse
    val h1 = LakeTable.history(spark, t).collect()
    assert(h1.map(_.getLong(0)).toSeq == expect)
    assert(h1.forall(_.getString(2) == "OVERWRITE"))

    // no checkpoint -> same answer via the full-parse fallback
    val saved = java.nio.file.Files.readAllBytes(cp)
    java.nio.file.Files.delete(cp)
    assert(LakeTable.history(spark, t).collect().map(_.getLong(0)).toSeq == expect)
    java.nio.file.Files.write(cp, saved)

    // torn/garbage checkpoint -> also falls back, never crashes
    java.nio.file.Files.write(cp, "{\"half\":".getBytes("UTF-8"))
    assert(LakeTable.history(spark, t).collect().map(_.getLong(0)).toSeq == expect)
    java.nio.file.Files.write(cp, saved)

    // the proof history() does NOT parse checkpoint-covered JSONs: make
    // versions 1..19 unreadable on disk; the summary must still answer
    // for them (v20..23 parse from the intact tail)
    val logDir = java.nio.file.Paths.get(s"$t/_graft_log")
    (1 to 19).foreach { v =>
      val p = logDir.resolve(f"$v%020d.json")
      java.nio.file.Files.write(p, "garbage".getBytes("UTF-8"))
    }
    intercept[Exception] { LakeTable.snapshotAt(spark, t, 3L) } // really unreadable
    val h2 = LakeTable.history(spark, t).collect()
    assert(h2.map(_.getLong(0)).toSeq == expect)
    assert(h2.forall(_.getLong(3) == 1L)) // num_files carried through the rollup
    // time travel within the intact tail is unaffected
    assert(LakeTable.read(spark, t, asOf = Some(21L)).as[(Long, String)]
      .collect().toSet == Set((21L, "r21")))
  }

  test("change feed reads from version 1 of a table created by overwrite") {
    val t = tmpTable("lake_cdf1")
    LakeTable.overwrite(spark, t, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")) // v1
    LakeTable.append(spark, t, Seq((3L, 30.0)).toDF("id", "v"))                // v2
    // v1 is a reset with no previous snapshot: the feed starts from the
    // empty base — pure inserts, no phantom deletes, no crash
    val v1 = LakeTable.changes(spark, t, 1L, 1L)
      .select("id", "v", LakeTable.ChangeTypeCol)
      .as[(Long, Double, String)].collect().toSet
    assert(v1 == Set((1L, 10.0, "insert"), (2L, 20.0, "insert")))
    val whole = LakeTable.changes(spark, t, 1L, 2L)
    assert(whole.count() == 3)
    assert(whole.filter(col(LakeTable.ChangeTypeCol) =!= "insert").count() == 0)
  }

  test("compact validates cluster columns even when there is nothing to pack") {
    val t = tmpTable("lake_cval")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1))
    // single file -> nothing to pack, but a misspelled cluster column
    // must still fail loudly instead of silently no-opping
    val e = intercept[IllegalArgumentException] {
      LakeTable.compact(spark, t, sortBy = Seq("nope"))
    }
    assert(e.getMessage.contains("nope"))
    val e2 = intercept[IllegalArgumentException] {
      LakeTable.compact(spark, t, zorderBy = Seq("id", "missing"))
    }
    assert(e2.getMessage.contains("missing"))
  }

  test("mergeRows with a non-deterministic source: rewrite and feed agree") {
    val t = tmpTable("lake_mdet")
    LakeTable.overwrite(spark, t,
      (1L to 10L).map(i => (i, 0.0)).toDF("id", "v"))
    // rand() re-evaluates on every scan of an unpersisted plan — the
    // persisted source guarantees the cardinality check, rewrite join,
    // insert anti-join and CDC projection all see the SAME values
    val source = (5L to 14L).toDF("id")
      .withColumn("v", org.apache.spark.sql.functions.rand(seed = 7) * 1000)
    LakeTable.mergeRows(spark, t, source, Seq("id"),
      matched = Seq(LakeTable.MatchedUpdate(None, Map("v" -> col("s.v")))),
      notMatchedInsert = Seq((None, Map("id" -> col("s.id"), "v" -> col("s.v")))))
    val v = LakeTable.latestSnapshot(spark, t).get.version
    val finalRows = LakeTable.read(spark, t).as[(Long, Double)].collect().toMap
    val feed = LakeTable.changes(spark, t, v, v)
      .select("id", "v", LakeTable.ChangeTypeCol)
      .as[(Long, Double, String)].collect()
    // every post-image / insert in the feed must equal the committed row
    feed.filter(c => c._3 == "update_postimage" || c._3 == "insert").foreach {
      case (id, value, _) => assert(finalRows(id) == value,
        s"feed image for id=$id ($value) diverged from table (${finalRows(id)})")
    }
    assert(feed.count(_._3 == "insert") == 4) // ids 11..14
    assert(feed.count(_._3 == "update_postimage") == 6) // ids 5..10
  }

  test("history checkpoint: an unparsable log entry poisons the running count") {
    val t = tmpTable("lake_hcp")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s").coalesce(1)) // v1
    (2L to 6L).foreach(i =>
      LakeTable.append(spark, t, Seq((i, "x")).toDF("id", "s").coalesce(1)))
    val snap6 = LakeTable.latestSnapshot(spark, t).get
    // corrupt v3's entry IN PLACE (an existing-but-unparsable file, the
    // case distinct from a missing one)
    val vf = new java.io.File(s"$t/_graft_log/${"%020d".format(3)}.json")
    val w = new java.io.FileWriter(vf); w.write("{not json"); w.close()
    val m = LakeTable.getClass.getDeclaredMethod("writeSnapshotCheckpoint",
      classOf[org.apache.spark.sql.SparkSession], classOf[org.apache.hadoop.fs.FileSystem],
      classOf[String], classOf[LakeTable.Snapshot])
    m.setAccessible(true)
    val fsm = LakeTable.getClass.getDeclaredMethod("fs",
      classOf[org.apache.spark.sql.SparkSession], classOf[String])
    fsm.setAccessible(true)
    val f = fsm.invoke(LakeTable, spark, t).asInstanceOf[org.apache.hadoop.fs.FileSystem]
    m.invoke(LakeTable, spark, f, t, snap6)
    // every entry the checkpoint DOES record carries the true file count
    // (1 file per version here): v4+ must not be computed off v2's stale
    // count — they are either reconstructed correctly or skipped
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_graft_log/${"%020d".format(6)}.checkpoint.json")), "UTF-8")
    val entries = org.json4s.jackson.JsonMethods.parse(txt) \ "hist"
    import org.json4s._
    def num(j: JValue): Long = j match {
      case JLong(x) => x; case JInt(x) => x.toLong; case _ => fail(s"bad number $j")
    }
    val rows = entries.asInstanceOf[JArray].arr
    // v1 and v2 precede the corrupt entry: their counts are known
    assert(rows.map(r => num(r(0))).take(2) == List(1L, 2L))
    rows.foreach { e =>
      val v = num(e(0))
      val nf = num(e(3))
      assert(nf == v, s"history checkpoint records $nf files at v$v (true: $v)")
    }
  }

  test("protocol versions: future reader/writer stamps fail loudly, by name") {
    val t = tmpTable("lake_proto")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s")) // v1
    LakeTable.append(spark, t, Seq((2L, "b")).toDF("id", "s"))    // v2
    val v2File = java.nio.file.Paths.get(s"$t/_graft_log/${"%020d".format(2)}.json")
    val original = new String(java.nio.file.Files.readAllBytes(v2File), "UTF-8")
    // every commit is stamped with the current protocol
    assert(original.contains("\"rv\":1") && original.contains("\"wv\":1"))

    def restamp(s: String): Unit = java.nio.file.Files.write(v2File, s.getBytes("UTF-8"))

    // future WRITER version: reads stay fine, commits refuse loudly
    restamp(original.replace("\"wv\":1", "\"wv\":99"))
    assert(LakeTable.read(spark, t).count() == 2)
    val we = intercept[LakeTable.ProtocolVersionException] {
      LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    }
    assert(we.getMessage.contains("writerVersion 99") &&
      we.getMessage.contains(s"writerVersion ${LakeTable.MaxWriterVersion}"))

    // future READER version: even reads refuse, naming both numbers
    restamp(original.replace("\"rv\":1", "\"rv\":99"))
    val re = intercept[LakeTable.ProtocolVersionException] {
      LakeTable.read(spark, t).count()
    }
    assert(re.getMessage.contains("readerVersion 99") &&
      re.getMessage.contains(s"readerVersion ${LakeTable.MaxReaderVersion}"))

    // an UNSTAMPED entry is refused, naming the table and the version
    restamp(original.replace("\"rv\":1,\"wv\":1,", ""))
    val ue = intercept[IllegalStateException] { LakeTable.read(spark, t).count() }
    assert(ue.getMessage.contains(t) && ue.getMessage.contains("version 2"), ue.getMessage)
    restamp(original)
    LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    assert(LakeTable.read(spark, t).count() == 3)
  }

  test("a scheme without an atomic commit publisher refuses loudly; the trait is the seam") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.nofs.impl", classOf[UnpublishableFileSystem].getName)
    val t = "nofs://" + tmpTable("lake_nofs")
    // commits must refuse: no known-atomic put-if-absent for 'nofs'
    // (the S3-family situation), named in the message
    val e = intercept[UnsupportedOperationException] {
      LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    }
    assert(e.getMessage.contains("'nofs'"))
    assert(e.getMessage.contains("registerCommitPublisher"))
    // registering a publisher for the scheme is ALL it takes — proof
    // that the publisher trait is the only seam the commit path uses
    LakeTable.registerCommitPublisher("nofs", new graft.lake.CommitPublisher {
      def publishIfAbsent(f: org.apache.hadoop.fs.FileSystem,
                          tmp: org.apache.hadoop.fs.Path,
                          target: org.apache.hadoop.fs.Path): Boolean =
        // test-only single-writer publisher; a real object-store one
        // would be a conditional PUT
        !f.exists(target) && f.rename(tmp, target)
    })
    LakeTable.overwrite(spark, t, Seq((1L, "a"), (2L, "b")).toDF("id", "s"))
    LakeTable.append(spark, t, Seq((3L, "c")).toDF("id", "s"))
    assert(LakeTable.read(spark, t).count() == 3)
  }

  test("an UPDATE whose SET value fails at run time leaves no staging dir, CoW and MoR") {
    // every staged write (data files, change feed, deletion vectors)
    // deletes its _staging/<uuid> dir when the write or its publish
    // fails, and the failed statement commits nothing
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    def staging(t: String): Seq[String] =
      Option(new java.io.File(t, "_staging").list()).map(_.toSeq).getOrElse(Nil)
    Seq(false, true).foreach { mor =>
      val t = tmpTable(if (mor) "lake_stage_mor" else "lake_stage_cow")
      LakeTable.overwrite(spark, t, (1L to 20L).map(i => (i, s"s$i")).toDF("id", "s"))
      val v0 = LakeTable.latestSnapshot(spark, t).get.version
      val set = Seq("s" -> raise_error(lit("set value failed")).cast("string"))
      val e = intercept[Exception] {
        if (mor) LakeTable.updateMergeOnRead(spark, t, set, col("id") < 10)
        else LakeTable.update(spark, t, set, col("id") < 10)
      }
      assert(messages(e).exists(_.contains("set value failed")), s"got: $e")
      assert(staging(t).isEmpty, s"mor=$mor left staging dirs behind: ${staging(t)}")
      assert(LakeTable.latestSnapshot(spark, t).get.version == v0)
      assert(LakeTable.read(spark, t).count() == 20)
    }
  }

  test("appends, CoW DML with change feed and vacuum list staging and data dirs without located listings") {
    // listFiles(dir, true) walks listLocatedStatus, whose statuses load
    // each file's permissions (an `ls` fork per file on the local file
    // system); the lake's own listings use one listStatus per directory
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val local = tmpTable("lake_located")
    val t = "cfs:" + local
    LakeTable.overwrite(spark, t, (1L to 40L).map(i => (i, s"s$i", s"d${i % 3}"))
      .toDF("id", "s", "dt").repartition(2), partitionBy = Seq("dt"))
    def located(): Seq[String] = CountingFileSystem.locatedListedUnder(local)

    CountingFileSystem.reset()
    LakeTable.append(spark, t, (41L to 50L).map(i => (i, s"s$i", s"d${i % 3}"))
      .toDF("id", "s", "dt"))
    assert(located().isEmpty, s"append: ${located()}")

    CountingFileSystem.reset()
    val vUpd = LakeTable.update(spark, t, Seq("s" -> lit("u")), col("id") % 2 === 0)
    assert(located().isEmpty, s"update: ${located()}")
    assert(LakeTable.changes(spark, t, vUpd, vUpd).count() == 50)

    CountingFileSystem.reset()
    val counted = LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0, dryRun = true)
    val deleted = LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0)
    assert(located().isEmpty, s"vacuum: ${located()}")
    assert(counted > 0 && deleted == counted, s"dry run counted $counted, vacuum deleted $deleted")
    assert(LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0, dryRun = true) == 0)
    assert(LakeTable.read(spark, t).count() == 50)
    assert(LakeTable.read(spark, t).filter(col("s") === "u").count() == 25)
  }
}
