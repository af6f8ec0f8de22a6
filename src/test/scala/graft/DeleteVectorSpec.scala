package graft

import org.apache.spark.sql.functions._
import graft.lake.LakeTable

/** Merge-on-read deletes (deletion vectors): a point DELETE commits a
  * positional vector in O(deleted rows) bytes — no data file is
  * rewritten — and every read path (relation scan, SQL, detection
  * scans of later DML, change feed, metadata-only count, streaming
  * initial batch, time travel, restore) applies the vectors; compact
  * reconciles them back into clean files and vacuum reclaims aged
  * vectors. The Iceberg-v2 positional-delete analog (ref:
  * trino_iceberg_transform_component.py:33,116-123).
  */
class DeleteVectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def fsOf(t: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def dataFiles(t: String): Set[String] = {
    val f = fsOf(t)
    val dp = new org.apache.hadoop.fs.Path(t, "data")
    if (!f.exists(dp)) Set.empty
    else {
      val it = f.listFiles(dp, true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) { val st = it.next(); if (st.isFile) out += st.getPath.toString }
      out.toSet
    }
  }

  private def baseDf = (1L to 100L).map(i => (i, s"g${i % 4}", i * 1.5))
    .toDF("id", "grp", "v")

  test("MoR delete: O(deleted rows) — no data-file rewrite, reads filter") {
    val t = tmpTable("dv_basic")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    val before = dataFiles(t)
    val v2 = LakeTable.deleteMergeOnRead(spark, t, col("id") % 10 === 3)
    assert(v2 == 2L)
    // THE merge-on-read property: the data tree is byte-identical —
    // only a vector (and change data + one log delta) was written
    assert(dataFiles(t) == before,
      "MoR delete must not add, rewrite or remove any data file")
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.exists(_.dv.isDefined))
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum == 10L)
    assert(snap.protocol.reader == 3 && snap.protocol.writer == 3)
    // reads apply the vector
    val ids = LakeTable.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids == (1L to 100L).filterNot(_ % 10 == 3).toSet)
    // time travel to the pre-delete version still sees every row
    assert(LakeTable.read(spark, t, asOf = Some(1L)).count() == 100L)
    // vectors live under _deletes/, never data/
    assert(snap.files.flatMap(_.dv).forall(_.path.startsWith("_deletes/")))
  }

  test("repeat deletes fold vectors; full-file delete drops the entry") {
    val t = tmpTable("dv_fold")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    LakeTable.deleteMergeOnRead(spark, t, col("id") % 10 === 3)
    LakeTable.deleteMergeOnRead(spark, t, col("id") % 10 === 7)
    val snap = LakeTable.latestSnapshot(spark, t).get
    // each touched file references ONE vector holding its complete set
    val dvd = snap.files.filter(_.dv.isDefined)
    assert(dvd.nonEmpty)
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum == 20L)
    val ids = LakeTable.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids == (1L to 100L).filterNot(i => i % 10 == 3 || i % 10 == 7).toSet)
    // delete an entire partition's rows: entries vanish instead of
    // carrying 100%-deleted vectors
    val g1 = (1L to 100L).filter(i => i % 4 == 1)
    LakeTable.deleteMergeOnRead(spark, t, col("grp") === "g1")
    val snap2 = LakeTable.latestSnapshot(spark, t).get
    assert(!snap2.files.exists(_.path.startsWith("grp=g1/")),
      "fully-deleted files must be removed, not vectored")
    assert(LakeTable.read(spark, t).filter(col("grp") === "g1").count() == 0L)
  }

  test("detection scans of later DML apply vectors; CoW rewrite clears them") {
    val t = tmpTable("dv_dml")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    LakeTable.deleteMergeOnRead(spark, t, col("id") <= 8)
    // CoW UPDATE on a dv'd table: deleted rows must not resurrect, and
    // the rewritten files drop their vectors
    LakeTable.update(spark, t, Seq("v" -> (col("v") + 1000.0)), col("id") <= 16)
    val out = LakeTable.read(spark, t).select("id", "v").as[(Long, Double)].collect().toMap
    assert(!out.keySet.exists(_ <= 8), "CoW update resurrected MoR-deleted rows")
    assert((9L to 16L).forall(i => out(i) == i * 1.5 + 1000.0))
    assert((17L to 100L).forall(i => out(i) == i * 1.5))
    // MERGE upsert on a dv'd table sees live rows only
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 99L)
    LakeTable.merge(spark, t,
      Seq((99L, "g3", -1.0), (101L, "g1", 101.5)).toDF("id", "grp", "v"),
      keys = Seq("id"))
    val out2 = LakeTable.read(spark, t).select("id", "v").as[(Long, Double)].collect().toMap
    // 99 was MoR-deleted, so the merge INSERTS it fresh
    assert(out2(99L) == -1.0 && out2(101L) == 101.5)
    // CoW delete on a dv'd table
    LakeTable.delete(spark, t, col("id") === 50L)
    assert(!LakeTable.read(spark, t).select("id").as[Long].collect().contains(50L))
  }

  test("compact reconciles vectors into clean files; vacuum reclaims them") {
    val t = tmpTable("dv_compact")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    LakeTable.deleteMergeOnRead(spark, t, col("id") % 7 === 0)
    val live = LakeTable.read(spark, t).select("id").as[Long].collect().toSet
    val vCompact = LakeTable.compact(spark, t, smallFileBytes = 1L << 30)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.version == vCompact)
    assert(!snap.files.exists(_.dv.isDefined), "compact must clear all vectors")
    assert(LakeTable.read(spark, t).select("id").as[Long].collect().toSet == live)
    // rows unchanged ⇒ COMPACT stays changes-feed-invisible (a range of
    // only-COMPACT commits folds to a truthful empty feed)
    assert(LakeTable.changes(spark, t, vCompact, vCompact).count() == 0L)
    // vector dirs age out once no retained version references them
    val f = fsOf(t)
    val delp = new org.apache.hadoop.fs.Path(t, "_deletes")
    assert(f.exists(delp) && f.listStatus(delp).nonEmpty)
    LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(!f.exists(delp) || f.listStatus(delp).isEmpty,
      "vacuum must sweep unreferenced deletion-vector dirs")
    // while referenced, vacuum keeps them: new delete, vacuum with the
    // dv version retained
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 2L)
    LakeTable.vacuum(spark, t, retainVersions = 1, graceMs = 0L)
    assert(LakeTable.read(spark, t).count() == live.size - 1L,
      "vacuum swept a LIVE deletion vector")
  }

  test("change feed records MoR-deleted rows; restore crosses dv commits") {
    val t = tmpTable("dv_cdf")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    val v2 = LakeTable.deleteMergeOnRead(spark, t, col("id") > 90)
    val feed = LakeTable.changes(spark, t, v2, v2)
    val del = feed.filter(col(LakeTable.ChangeTypeCol) === "delete")
      .select("id").as[Long].collect().toSet
    assert(del == (91L to 100L).toSet)
    // a later overwrite's synthesized deletes are the LIVE rows only
    val v3 = LakeTable.overwrite(spark, t, Seq((0L, "g0", 0.0)).toDF("id", "grp", "v"))
    val owDel = LakeTable.changes(spark, t, v3, v3)
      .filter(col(LakeTable.ChangeTypeCol) === "delete")
      .select("id").as[Long].collect().toSet
    assert(owDel == (1L to 90L).toSet,
      "overwrite synthesis must apply the previous snapshot's vectors")
    // restore back ONTO the dv'd version: vector still applies
    LakeTable.restore(spark, t, v2)
    assert(LakeTable.read(spark, t).select("id").as[Long].collect().toSet
      == (1L to 90L).toSet)
    // restore to the pre-delete version resurrects (that IS v1's state)
    LakeTable.restore(spark, t, 1L)
    assert(LakeTable.read(spark, t).count() == 100L)
  }

  test("SQL surface: mode conf routes DELETE; stale plain relations fail loudly") {
    val t = tmpTable("dv_sql")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    // register a view while the table is vector-free: plain relation
    spark.read.format("graft").load(t).createOrReplaceTempView("dv_sql_view")
    assert(spark.sql("SELECT count(*) c FROM dv_sql_view").head.getLong(0) == 100L)
    val before = dataFiles(t)
    spark.conf.set("spark.graft.delete.mode", "mor")
    try spark.sql(s"DELETE FROM dv_sql_view WHERE id % 10 = 0")
    finally spark.conf.unset("spark.graft.delete.mode")
    assert(dataFiles(t) == before, "SQL MoR delete rewrote data files")
    // the pre-dv plain relation must refuse (re-register hint), never
    // silently resurrect deleted rows
    val e = intercept[Exception] {
      spark.sql("SELECT sum(id) FROM dv_sql_view").collect()
    }
    assert(e.getMessage.contains("re-register")
      || Option(e.getCause).exists(_.getMessage.contains("re-register")))
    // re-registered: resolves through the dv-aware relation
    spark.read.format("graft").load(t).createOrReplaceTempView("dv_sql_view")
    assert(spark.sql("SELECT count(*) c FROM dv_sql_view").head.getLong(0) == 90L)
    val ids = spark.sql("SELECT id FROM dv_sql_view WHERE grp = 'g1' AND id < 20")
      .as[Long].collect().toSet
    assert(ids == (1L to 19L).filter(i => i % 4 == 1 && i % 10 != 0).toSet)
    // metadata-only count stays exact under vectors (liveRowCount sums)
    assert(spark.sql("SELECT count(*) FROM dv_sql_view WHERE grp = 'g2'").head.getLong(0)
      == (1L to 100L).count(i => i % 4 == 2 && i % 10 != 0))

    // UPDATE routes through the same mode conf: MoR leaves every data
    // file in place and still lands the new values
    val before2 = dataFiles(t)
    spark.conf.set("spark.graft.update.mode", "mor")
    try spark.sql("UPDATE dv_sql_view SET v = v + 100.0 WHERE id % 10 = 5")
    finally spark.conf.unset("spark.graft.update.mode")
    assert(before2.subsetOf(dataFiles(t)), "SQL MoR update rewrote data files")
    spark.read.format("graft").load(t).createOrReplaceTempView("dv_sql_view")
    val vs = spark.sql("SELECT id, v FROM dv_sql_view")
      .as[(Long, Double)].collect().toMap
    assert(vs.size == 90)
    assert((1L to 100L).filter(_ % 10 != 0).forall(i =>
      vs(i) == (if (i % 10 == 5) i * 1.5 + 100.0 else i * 1.5)))

    // MERGE INTO routes through its own mode conf: the SQL upsert shape
    // lands as position-delete + append, no data file rewritten
    val before3 = dataFiles(t)
    Seq((7L, "g3", -7.0), (300L, "g0", 300.0)).toDF("id", "grp", "v")
      .createOrReplaceTempView("dv_sql_src")
    spark.conf.set("spark.graft.merge.mode", "mor")
    try spark.sql(
      """MERGE INTO dv_sql_view t USING dv_sql_src s ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""")
    finally spark.conf.unset("spark.graft.merge.mode")
    assert(before3.subsetOf(dataFiles(t)), "SQL MoR merge rewrote data files")
    spark.read.format("graft").load(t).createOrReplaceTempView("dv_sql_view")
    val vs2 = spark.sql("SELECT id, v FROM dv_sql_view WHERE id IN (7, 300)")
      .as[(Long, Double)].collect().toMap
    assert(vs2 == Map(7L -> -7.0, 300L -> 300.0))
    assert(spark.sql("SELECT count(*) FROM dv_sql_view").head.getLong(0) == 91)
  }

  test("column-mapped table: MoR delete after RENAME reads correctly") {
    val t = tmpTable("dv_map")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    LakeTable.renameColumn(spark, t, "v", "value")
    LakeTable.deleteMergeOnRead(spark, t, col("value") > 120.0)
    val out = LakeTable.read(spark, t)
    assert(out.columns.contains("value"))
    assert(out.count() == (1L to 100L).count(_ * 1.5 <= 120.0))
    assert(out.agg(max("value")).head.getDouble(0) == 120.0)
  }

  test("MoR update: position-delete + append — no data-file rewrite, feeds compose") {
    val t = tmpTable("dv_upd")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    val before = dataFiles(t)
    val v2 = LakeTable.updateMergeOnRead(spark, t,
      Seq("v" -> (col("v") + 1000.0)), col("id") % 10 === 3)
    assert(v2 == 2L)
    // THE merge-on-read property: every pre-update data file is byte-
    // identical; the only new data files are the tiny post-image ones
    assert(before.subsetOf(dataFiles(t)),
      "MoR update must not rewrite or remove any existing data file")
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum == 10L)
    assert(snap.protocol.reader == 3 && snap.protocol.writer == 3)
    val out = LakeTable.read(spark, t).select("id", "v").as[(Long, Double)].collect()
    assert(out.length == 100, "no row may vanish or duplicate")
    val m = out.toMap
    assert((1L to 100L).forall(i =>
      m(i) == (if (i % 10 == 3) i * 1.5 + 1000.0 else i * 1.5)))
    // time travel sees the pre-update values
    assert(LakeTable.read(spark, t, asOf = Some(1L))
      .filter(col("id") === 3L).select("v").as[Double].head() == 4.5)
    // change feed carries pre/post images, CoW-identical shape
    val feed = LakeTable.changes(spark, t, v2, v2)
    val pre = feed.filter(col("_change_type") === "update_preimage")
      .select("id", "v").as[(Long, Double)].collect().toMap
    val post = feed.filter(col("_change_type") === "update_postimage")
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(pre.keySet == (1L to 100L).filter(_ % 10 == 3).toSet && pre.keySet == post.keySet)
    assert(pre.forall { case (i, v) => v == i * 1.5 } &&
      post.forall { case (i, v) => v == i * 1.5 + 1000.0 })

    // folding: an MoR update over MoR-deleted files folds vectors, and a
    // later delete folds over the update's
    LakeTable.deleteMergeOnRead(spark, t, col("id") % 10 === 7)
    val ids = LakeTable.read(spark, t).select("id").as[Long].collect().toSet
    assert(ids == (1L to 100L).filterNot(_ % 10 == 7).toSet)
    val snap3 = LakeTable.latestSnapshot(spark, t).get
    assert(snap3.files.filter(_.dv.isDefined).forall(_.dv.get.cardinality > 0))

    // updating EVERY remaining row of a file drops the old entry outright
    LakeTable.updateMergeOnRead(spark, t, Seq("v" -> lit(0.0)), col("grp") === "g1")
    val snap4 = LakeTable.latestSnapshot(spark, t).get
    val g1Rows = LakeTable.read(spark, t).filter(col("grp") === "g1")
      .select("v").as[Double].collect()
    assert(g1Rows.nonEmpty && g1Rows.forall(_ == 0.0))
    assert(LakeTable.read(spark, t).count() == ids.size.toLong,
      "full-file MoR update must not lose or duplicate rows")
    assert(snap4.files.flatMap(_.dv).map(_.cardinality).sum >= 10L)
  }

  test("MoR update: column-mapped table and partition-column re-routing") {
    val t = tmpTable("dv_updmap")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    LakeTable.renameColumn(spark, t, "v", "value")
    // post-images must stage under the PHYSICAL column names
    LakeTable.updateMergeOnRead(spark, t,
      Seq("value" -> (col("value") + 1000.0)), col("id") <= 8)
    val out = LakeTable.read(spark, t).select("id", "value")
      .as[(Long, Double)].collect().toMap
    assert(out.size == 100)
    assert((1L to 8L).forall(i => out(i) == i * 1.5 + 1000.0))
    assert((9L to 100L).forall(i => out(i) == i * 1.5))

    // assigning the PARTITION column re-routes the post-image to its new
    // hive dir; the pre-image hides behind a vector in the old partition
    LakeTable.updateMergeOnRead(spark, t,
      Seq("grp" -> lit("g9")), col("id") === 50L)
    val moved = LakeTable.read(spark, t).filter(col("id") === 50L)
      .select("grp").as[String].collect().toSeq
    assert(moved == Seq("g9"))
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.exists(_.path.startsWith("grp=g9/")),
      "re-routed post-image must land under its new partition dir")
    assert(LakeTable.read(spark, t).count() == 100)
    // partition pruning still honest over the vectored layout
    assert(LakeTable.read(spark, t).filter(col("grp") === "g2")
      .select("id").as[Long].collect().toSet ==
      (1L to 100L).filter(i => i % 4 == 2 && i != 50L).toSet)
  }

  test("MoR update proof: detection prunes to matched files; writes are O(delta)") {
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val d = java.nio.file.Files.createTempDirectory("dv_updproof").toString
    val t = s"cfs:$d/t"
    LakeTable.overwrite(spark, t,
      spark.range(1, 10001).select(col("id"), (col("id") * 1.5).as("v")))
    // range-cluster on id so the logged bounds prune a point predicate
    // to ONE file
    LakeTable.compact(spark, t, smallFileBytes = 1L << 30, sortBy = Seq("id"),
      targetFileBytes = 8L << 10)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.size >= 4, s"need several files, got ${snap.files.size}")

    CountingFileSystem.reset()
    LakeTable.updateMergeOnRead(spark, t, Seq("v" -> lit(-1.0)), col("id") === 5757L)
    // detection read ONE pruned PRE-EXISTING data file, not the table
    // (the freshly appended post-image file is also opened once, for its
    // footer stats — that's O(delta), not a table read)
    val openedData = CountingFileSystem.openedUnder(s"$d/t/data/")
      .filter(_.endsWith(".parquet")).distinct
      .filter(p => snap.files.exists(e => p.endsWith("/" + e.path)))
    assert(openedData.size == 1,
      s"a point MoR update must detection-scan exactly the pruned file: $openedData")
    // wrote O(updated rows): the snapshot gains exactly ONE 1-row
    // post-image file; the matched file entry survives untouched behind
    // a 1-row vector (a CoW rewrite would have replaced it)
    val snap2 = LakeTable.latestSnapshot(spark, t).get
    val prePaths = snap.files.map(_.path).toSet
    val added = snap2.files.filterNot(e => prePaths.contains(e.path))
    assert(added.size == 1 && added.head.rowCount == 1L,
      s"a 1-row MoR update must append exactly one 1-row file: $added")
    assert(snap2.files.count(e => prePaths.contains(e.path)) == snap.files.size,
      "no pre-existing file may leave the snapshot")
    assert(snap2.files.filter(_.dv.isDefined).map(_.dv.get.cardinality).sum == 1L,
      "the pre-image must hide behind a 1-row deletion vector")
    val got = LakeTable.read(spark, t).filter(col("id") === 5757L)
      .select("v").as[Double].collect().toSeq
    assert(got == Seq(-1.0))
  }

  test("filtered SELECT through the merge-on-read relation prunes files") {
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val d = java.nio.file.Files.createTempDirectory("dv_selprune").toString
    val t = s"cfs:$d/t"
    // four range tasks, each inside one partition: four files, two per half
    LakeTable.overwrite(spark, t,
      spark.range(1, 101).select(col("id"), (col("id") * 1.5).as("v"),
        when(col("id") <= 50L, "a").otherwise("b").as("half"))
        .repartitionByRange(4, col("id")),
      partitionBy = Seq("half"))
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 3L)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.size == 4 && snap.files.count(_.dv.isDefined) == 1, snap.files)
    def opened(): Set[String] = CountingFileSystem.openedUnder(s"$d/t/data/")
      .filter(_.endsWith(".parquet")).toSet
    val df = spark.read.format("graft").load(t)

    CountingFileSystem.reset()
    assert(df.filter(col("id") === 57L).select("v").as[Double].collect().toSeq == Seq(85.5))
    val admits57 = snap.files.filter(e => e.stats.get("id").exists(s =>
      s.min.exists(_.toLong <= 57L) && s.max.exists(_.toLong >= 57L)))
    assert(admits57.size == 1, admits57)
    assert(opened() == Set(s"$d/t/data/${admits57.head.path}"), opened())

    CountingFileSystem.reset()
    assert(df.filter(col("half") === "a").select("id").as[Long].collect().toSet ==
      (1L to 50L).toSet - 3L)
    assert(opened() == snap.files.filter(_.path.startsWith("half=a/"))
      .map(e => s"$d/t/data/${e.path}").toSet, opened())
  }

  test("MoR merge: upsert via position-delete + append, state-identical to CoW") {
    val t = tmpTable("dv_merge")
    val twin = tmpTable("dv_merge_twin")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    LakeTable.overwrite(spark, twin, baseDf, partitionBy = Seq("grp"))
    // vector some rows first: the merge must fold over them, and a
    // replaced key that was MoR-deleted must re-insert (CoW semantics)
    LakeTable.deleteMergeOnRead(spark, t, col("id") % 10 === 9)
    LakeTable.delete(spark, twin, col("id") % 10 === 9)
    val src = Seq((5L, "g1", -5.0), (9L, "g1", -9.0), (200L, "g0", 200.0))
      .toDF("id", "grp", "v")
    val before = dataFiles(t)
    val v = LakeTable.mergeMergeOnRead(spark, t, src, keys = Seq("id"))
    LakeTable.merge(spark, twin, src, keys = Seq("id"))
    // THE merge-on-read property: no pre-existing data file rewritten
    assert(before.subsetOf(dataFiles(t)),
      "MoR merge must not rewrite or remove any existing data file")
    // state-identical to the copy-on-write upsert
    def state(p: String) = LakeTable.read(spark, p)
      .select("id", "grp", "v").as[(Long, String, Double)].collect().toSet
    assert(state(t) == state(twin))
    // change feed kinds match the CoW upsert's: replaced key 5 pre/post,
    // MoR-deleted key 9 and fresh key 200 insert
    val feed = LakeTable.changes(spark, t, v, v)
    def ids(kind: String) = feed.filter(col("_change_type") === kind)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids("update_preimage") == Seq(5L))
    assert(ids("update_postimage") == Seq(5L))
    assert(ids("insert") == Seq(9L, 200L))
    // the replaced row hides behind a folded vector (9 was already
    // vectored; 5 adds one more on its file)
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.flatMap(_.dv).map(_.cardinality).sum == 11L,
      "10 earlier deletes + 1 replaced pre-image must ride vectors")
    // source key-bounds pruning: a later 1-key MoR merge detection-scans
    // only files whose logged id bounds admit the key (counting proof)
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val d2 = java.nio.file.Files.createTempDirectory("dv_mergeproof").toString
    val t2 = s"cfs:$d2/t"
    LakeTable.overwrite(spark, t2,
      spark.range(1, 10001).select(col("id"), (col("id") * 1.5).as("v")))
    LakeTable.compact(spark, t2, smallFileBytes = 1L << 30, sortBy = Seq("id"),
      targetFileBytes = 8L << 10)
    val snap2 = LakeTable.latestSnapshot(spark, t2).get
    assert(snap2.files.size >= 4)
    CountingFileSystem.reset()
    LakeTable.mergeMergeOnRead(spark, t2,
      Seq((5757L, -1.0), (20001L, 2.0)).toDF("id", "v"), keys = Seq("id"))
    val openedData = CountingFileSystem.openedUnder(s"$d2/t/data/")
      .filter(_.endsWith(".parquet")).distinct
      .filter(p => snap2.files.exists(e => p.endsWith("/" + e.path)))
    assert(openedData.size == 1,
      s"a bounded-key MoR merge must detection-scan only admitting files: $openedData")
    val got = LakeTable.read(spark, t2)
      .filter(col("id").isin(5757L, 20001L)).select("id", "v")
      .as[(Long, Double)].collect().toMap
    assert(got == Map(5757L -> -1.0, 20001L -> 2.0))
  }

  test("MoR general-clause merge: state-identical to CoW mergeRows, O(delta)") {
    val t = tmpTable("dv_mrows")
    val twin = tmpTable("dv_mrows_twin")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    LakeTable.overwrite(spark, twin, baseDf, partitionBy = Seq("grp"))
    // pre-existing vectors: the claimed positions must FOLD with them
    LakeTable.deleteMergeOnRead(spark, t, col("id") % 10 === 9)
    LakeTable.delete(spark, twin, col("id") % 10 === 9)
    // id 5: matched, s.v<0 → UPDATE (both sides' values). id 6: matched,
    // even → DELETE. id 7: matched, claimed by NO clause → untouched in
    // place. id 9: unmatched (MoR-deleted), insert-gated out. 200: insert.
    val src = Seq((5L, "g1", -5.0), (6L, "g2", -6.0), (7L, "g3", 7.0),
      (9L, "g1", -9.0), (200L, "g0", 200.0)).toDF("id", "grp", "v")
    val matched = Seq(
      LakeTable.MatchedDelete(Some(col("t.id") % 2 === 0)),
      LakeTable.MatchedUpdate(Some(col("s.v") < 0),
        Map("v" -> (col("s.v") + col("t.v")))))
    val inserts = Seq((Some(col("s.id") =!= 9L): Option[org.apache.spark.sql.Column],
      Map("id" -> col("s.id"), "grp" -> col("s.grp"), "v" -> col("s.v"))))
    // empty source: a true no-op — no version churn (upsert path too)
    val v1 = LakeTable.latestSnapshot(spark, t).get.version
    assert(LakeTable.mergeRowsMergeOnRead(spark, t, src.limit(0), Seq("id"),
      matched, inserts) == v1)
    assert(LakeTable.mergeMergeOnRead(spark, t, src.limit(0), Seq("id")) == v1)

    val before = dataFiles(t)
    val v = LakeTable.mergeRowsMergeOnRead(spark, t, src, Seq("id"), matched, inserts)
    LakeTable.mergeRows(spark, twin, src, Seq("id"), matched, inserts)
    // THE merge-on-read property: no pre-existing data file rewritten
    assert(before.subsetOf(dataFiles(t)),
      "MoR mergeRows must not rewrite or remove any existing data file")
    def state(p: String) = LakeTable.read(spark, p)
      .select("id", "grp", "v").as[(Long, String, Double)].collect().toSet
    assert(state(t) == state(twin))
    // the unclaimed match kept its original value, in place
    assert(state(t).contains((7L, "g3", 10.5)))
    // change feed kinds per clause
    val feed = LakeTable.changes(spark, t, v, v)
    def ids(kind: String) = feed.filter(col("_change_type") === kind)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids("update_preimage") == Seq(5L))
    assert(ids("update_postimage") == Seq(5L))
    assert(ids("delete") == Seq(6L))
    assert(ids("insert") == Seq(200L))
    // claimed pre-images (5 update + 6 delete) fold onto the 10 earlier
    assert(LakeTable.latestSnapshot(spark, t).get
      .files.flatMap(_.dv).map(_.cardinality).sum == 12L)

    // bounded-key prune: a 1-key clause merge detection-scans only the
    // files whose logged bounds admit the key (counting proof)
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val d2 = java.nio.file.Files.createTempDirectory("dv_mrowsproof").toString
    val t2 = s"cfs:$d2/t"
    LakeTable.overwrite(spark, t2,
      spark.range(1, 10001).select(col("id"), (col("id") * 1.5).as("v")))
    LakeTable.compact(spark, t2, smallFileBytes = 1L << 30, sortBy = Seq("id"),
      targetFileBytes = 8L << 10)
    val snap2 = LakeTable.latestSnapshot(spark, t2).get
    assert(snap2.files.size >= 4)
    CountingFileSystem.reset()
    LakeTable.mergeRowsMergeOnRead(spark, t2,
      Seq((5757L, -1.0)).toDF("id", "v"), Seq("id"),
      matched = Seq(LakeTable.MatchedUpdate(None, Map("v" -> col("s.v")))))
    val openedData = CountingFileSystem.openedUnder(s"$d2/t/data/")
      .filter(_.endsWith(".parquet")).distinct
      .filter(p => snap2.files.exists(e => p.endsWith("/" + e.path)))
    assert(openedData.size == 1,
      s"a bounded-key clause merge must detection-scan only admitting files: $openedData")
    assert(LakeTable.read(spark, t2).filter(col("id") === 5757L)
      .select("v").as[Double].head() == -1.0)
  }

  test("SQL clause MERGE routes to MoR under merge.mode=mor") {
    val t = tmpTable("dv_sqlmrows")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    spark.read.format("graft").load(t).createOrReplaceTempView("mor_mrows_t")
    Seq((6L, -6.0), (7L, -7.0), (200L, 200.0)).toDF("id", "nv")
      .createOrReplaceTempView("mor_mrows_s")
    val before = dataFiles(t)
    spark.conf.set("spark.graft.merge.mode", "mor")
    try spark.sql(
      """MERGE INTO mor_mrows_t tt USING mor_mrows_s ss ON tt.id = ss.id
         WHEN MATCHED AND tt.id % 2 = 0 THEN DELETE
         WHEN MATCHED THEN UPDATE SET v = ss.nv
         WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (ss.id, 'g9', ss.nv)""")
    finally spark.conf.unset("spark.graft.merge.mode")
    // THE merge-on-read property, from pure SQL: no pre-existing data
    // file rewritten — claimed pre-images hide behind a fresh vector
    assert(before.subsetOf(dataFiles(t)),
      "MoR SQL clause merge must not rewrite or remove any data file")
    val state = LakeTable.read(spark, t)
      .select("id", "grp", "v").as[(Long, String, Double)].collect().toSet
    assert(!state.exists(_._1 == 6L), "matched even id must DELETE")
    assert(state.contains((7L, "g3", -7.0)), "matched odd id must take s.nv")
    assert(state.contains((200L, "g9", 200.0)), "unmatched id must INSERT")
    assert(LakeTable.latestSnapshot(spark, t).get
      .files.flatMap(_.dv).map(_.cardinality).sum == 2L)
    // NMBS from SQL rides the same MoR routing (r14): the sync-delete
    // clause hides its claims behind vectors, no data-file rewrite
    val before2 = dataFiles(t)
    spark.read.format("graft").load(t).createOrReplaceTempView("mor_mrows_t")
    spark.conf.set("spark.graft.merge.mode", "mor")
    try spark.sql(
      """MERGE INTO mor_mrows_t tt USING mor_mrows_s ss ON tt.id = ss.id
         WHEN MATCHED THEN UPDATE SET v = ss.nv
         WHEN NOT MATCHED BY SOURCE AND tt.id > 90 THEN DELETE""")
    finally spark.conf.unset("spark.graft.merge.mode")
    assert(before2.subsetOf(dataFiles(t)),
      "SQL NMBS merge under merge.mode=mor must not rewrite any data file")
    val after = LakeTable.read(spark, t)
      .select("id", "grp", "v").as[(Long, String, Double)].collect().toSet
    // 200 survives: it is > 90 but MATCHED by source (NMBS can't claim it)
    assert(!after.exists(r => r._1 > 90L && r._1 != 200L),
      "NMBS DELETE must drop the unmatched id > 90 tail")
    assert(after.contains((200L, "g9", 200.0)), "matched 200 must stay, updated")
    assert(after.contains((7L, "g3", -7.0)), "matched row keeps taking s.nv")
  }

  test("MoR NOT MATCHED BY SOURCE: sync deletes write vectors, not files") {
    val t = tmpTable("dv_nmbs")
    val twin = tmpTable("dv_nmbs_twin")
    LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
    LakeTable.overwrite(spark, twin, baseDf, partitionBy = Seq("grp"))
    // pre-existing vectors on the MoR side: NMBS claims must FOLD
    LakeTable.deleteMergeOnRead(spark, t, col("id") % 10 === 9)
    LakeTable.delete(spark, twin, col("id") % 10 === 9)
    // source carries ids 1..40: matched rows take s.v; every live row
    // 41..100 is NOT matched by source — ordered NMBS clauses DELETE the
    // evens (sync-deletes) and negate the > 120 stragglers; the rest
    // keep their position untouched
    val src = (1L to 40L).map(i => (i, i * -2.0)).toDF("id", "nv")
    val matched = Seq(LakeTable.MatchedUpdate(None, Map("v" -> col("s.nv"))))
    val nmbs = Seq(
      LakeTable.MatchedDelete(Some(col("t.id") % 2 === 0)),
      LakeTable.MatchedUpdate(Some(col("t.v") > 120.0), Map("v" -> -col("t.v"))))
    val before = dataFiles(t)
    val v = LakeTable.mergeRowsMergeOnRead(spark, t, src, Seq("id"), matched,
      notMatchedBySource = nmbs)
    LakeTable.mergeRows(spark, twin, src, Seq("id"), matched,
      notMatchedBySource = nmbs)
    // THE merge-on-read property: the sync-delete merge rewrote NOTHING —
    // where the CoW twin rewrites every file holding a claimed row
    assert(before.subsetOf(dataFiles(t)),
      "MoR NMBS merge must not rewrite or remove any existing data file")
    def state(p: String) = LakeTable.read(spark, p)
      .select("id", "grp", "v").as[(Long, String, Double)].collect().toSet
    assert(state(t) == state(twin))
    // spot-pins on each clause: 42 deleted, 81 (v=121.5) negated,
    // 41 untouched in place, 5 matched-updated
    assert(!state(t).exists(_._1 == 42L))
    assert(state(t).contains((81L, "g1", -121.5)))
    assert(state(t).contains((41L, "g1", 61.5)))
    assert(state(t).contains((5L, "g1", -10.0)))
    // change feed kinds equal the CoW twin's exactly
    def kinds(p: String, ver: Long) = LakeTable.changes(spark, p, ver, ver)
      .select("_change_type", "id").as[(String, Long)].collect().toSet
    val vTwin = LakeTable.latestSnapshot(spark, twin).get.version
    assert(kinds(t, v) == kinds(twin, vTwin))

    // sync-to-empty: an EMPTY source with an unconditional NMBS DELETE
    // claims every live row — still zero data files rewritten
    val t3 = tmpTable("dv_nmbs_empty")
    LakeTable.overwrite(spark, t3, baseDf, partitionBy = Seq("grp"))
    val before3 = dataFiles(t3)
    LakeTable.mergeRowsMergeOnRead(spark, t3, src.limit(0), Seq("id"),
      matched = Nil, notMatchedBySource = Seq(LakeTable.MatchedDelete(None)))
    assert(LakeTable.read(spark, t3).count() == 0L)
    assert(before3.subsetOf(dataFiles(t3)),
      "sync-to-empty must hide every row behind vectors, not rewrites")
  }

  test("lake_dv gate query matches an independent SQL replay") {
    val got = operators.MaintenanceOps.lakeDv(spark, sf)
      .select("o_orderkey", "o_totalprice")
      .as[(Long, Double)].collect().toMap
    graft.Tables.orders(spark, sf).createOrReplaceTempView("dv_orders")
    val want = spark.sql(
      """SELECT o_orderkey,
                CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2
                          ELSE o_totalprice END
                     + CASE WHEN o_orderstatus = 'F' AND o_orderkey % 13 = 2
                            THEN 10.0 ELSE 0.0 END AS DOUBLE) AS o_totalprice
         FROM dv_orders
         WHERE o_orderkey % 3 IN (0, 1)
           AND o_orderkey % 7 <> 3
           AND o_orderpriority <> '5-LOW'
           AND o_orderkey % 11 <> 5""")
      .as[(Long, Double)].collect().toMap
    assert(got.size == want.size)
    assert(got == want)
  }

  test("streaming initial batch applies vectors") {
    val t = tmpTable("dv_stream")
    LakeTable.overwrite(spark, t, baseDf.limit(20), partitionBy = Seq("grp"))
    // id 1 leaves a PARTIALLY deleted file (its partition file keeps id
    // 5), so the snapshot must carry a real vector — the even ids fully
    // cover their files (metadata drop). Both paths under one stream.
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 1L || col("id") % 2 === 0)
    assert(LakeTable.latestSnapshot(spark, t).get
        .files.exists(_.dv.exists(_.cardinality > 0)),
      "test setup must leave an ACTIVE vector, or the streaming anti-join " +
        "is never exercised")
    val outDir = java.nio.file.Files.createTempDirectory("dv_stream_out").toString
    val q = spark.readStream.format("graft").load(t)
      .writeStream.format("parquet")
      .option("path", s"$outDir/sink")
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$outDir/sink").select("id").as[Long].collect().toSet
    assert(got == (3L to 20L).filter(_ % 2 == 1).toSet)
  }

  test("MoR DML rebases onto a disjoint concurrent append; an overlapping one refuses") {
    def build(tag: String): String = {
      val t = tmpTable(s"dv_rebase_$tag")
      LakeTable.overwrite(spark, t, baseDf, partitionBy = Seq("grp"))
      t
    }
    def racing(t: String, rows: Seq[(Long, String, Double)]): Unit =
      LakeTable.dmlBeforeCommitHook = () => {
        LakeTable.dmlBeforeCommitHook = () => ()
        LakeTable.append(spark, t, rows.toDF("id", "grp", "v").coalesce(1))
      }
    def ids(t: String): Set[Long] = LakeTable.read(spark, t).select("id").as[Long].collect().toSet

    // MoR DELETE in g1; the winner appends into g2 — provably outside
    // the condition, so the delete rebases and keeps the winner's rows
    val t1 = build("del_ok")
    racing(t1, Seq((1001L, "g2", 1.0)))
    val v1 = try LakeTable.deleteMergeOnRead(spark, t1, $"grp" === "g1" && $"id" === 5L)
      finally LakeTable.dmlBeforeCommitHook = () => ()
    assert(v1 == 3L) // overwrite, racing append, rebased delete
    assert(ids(t1) == (1L to 100L).toSet - 5L + 1001L)

    // the winner appends one g1 file whose id bounds [4, 9] admit 5:
    // it cannot be proven to miss
    val t2 = build("del_bad")
    racing(t2, Seq((4L, "g1", 1.0), (9L, "g1", 2.0)))
    val e2 = try intercept[LakeTable.ConcurrentCommitException](
        LakeTable.deleteMergeOnRead(spark, t2, $"grp" === "g1" && $"id" === 5L))
      finally LakeTable.dmlBeforeCommitHook = () => ()
    assert(e2.getMessage.contains("cannot be proven to miss"))
    assert(ids(t2).contains(5L), "the refused delete must not land")

    // bounded-key MoR MERGE: the pushed key IN is the footprint
    val t3 = build("merge_ok")
    racing(t3, Seq((2001L, "g3", 1.0)))
    try LakeTable.mergeMergeOnRead(spark, t3,
      Seq((7L, "g3", -7.0), (3000L, "g0", 3.0)).toDF("id", "grp", "v"), Seq("id"))
    finally LakeTable.dmlBeforeCommitHook = () => ()
    val m3 = LakeTable.read(spark, t3).select("id", "v").as[(Long, Double)].collect().toMap
    assert(m3.size == 102 && m3(7L) == -7.0 && m3(3000L) == 3.0 && m3(2001L) == 1.0)

    val t4 = build("merge_bad")
    racing(t4, Seq((7L, "g3", 70.0)))
    intercept[LakeTable.ConcurrentCommitException] {
      try LakeTable.mergeMergeOnRead(spark, t4,
        Seq((7L, "g3", -7.0)).toDF("id", "grp", "v"), Seq("id"))
      finally LakeTable.dmlBeforeCommitHook = () => ()
    }
  }
}
