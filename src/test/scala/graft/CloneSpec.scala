package graft

import org.apache.spark.sql.functions._
import graft.lake.LakeTable

/** Zero-copy shallow clone: one metadata commit materializes an
  * independent table over the source's data files — reads, skipping,
  * constraints and time travel work through the foreign references;
  * writes localize copy-on-write; neither table's maintenance can
  * corrupt the other.
  */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dataFiles(t: String): Seq[String] = {
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dp = new org.apache.hadoop.fs.Path(t, "data")
    if (!f.exists(dp)) Nil
    else {
      val it = f.listFiles(dp, true)
      val out = Seq.newBuilder[String]
      while (it.hasNext) { val s = it.next(); if (s.isFile) out += s.getPath.toString }
      out.result()
    }
  }

  test("clone is zero-copy, reads the source's rows, and stays independent") {
    val d = tmpDir("clone_basic")
    val (src, dst) = (s"$d/src", s"$d/dst")
    LakeTable.overwrite(spark, src,
      spark.range(100).select(col("id"), (col("id") % 5).cast("string").as("grp"),
        (col("id") * 1.5).as("v")),
      partitionBy = Seq("grp"))
    LakeTable.addConstraint(spark, src, "v_nonneg", "v >= 0")
    LakeTable.shallowClone(spark, src, dst)

    // zero copy: the clone's data dir holds NOTHING
    assert(dataFiles(dst).isEmpty, "clone must not copy data files")
    // full read equivalence, including partition values from foreign dirs
    val out = LakeTable.read(spark, dst)
    assert(out.count() == 100)
    assert(out.filter(col("grp") === "3").count() == 20)
    assert(out.agg(sum("id")).head.getLong(0) == 4950)
    // constraints carried: violating append on the CLONE refused
    val err = intercept[Exception](
      LakeTable.append(spark, dst, Seq((999L, "1", -5.0)).toDF("id", "grp", "v")))
    def msgs(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + " | " + msgs(x.getCause)
    assert(msgs(err).contains("CHECK constraint violated"))

    // independence: append to the clone is invisible to the source
    LakeTable.append(spark, dst, Seq((1000L, "1", 3.0)).toDF("id", "grp", "v"))
    assert(LakeTable.read(spark, dst).count() == 101)
    assert(LakeTable.read(spark, src).count() == 100)
    // ...and vice versa
    LakeTable.append(spark, src, Seq((2000L, "2", 4.0)).toDF("id", "grp", "v"))
    assert(LakeTable.read(spark, dst).count() == 101)
  }

  test("data skipping and metadata-only aggregates work through cloned entries") {
    val d = tmpDir("clone_skip")
    val (src, dst) = (s"$d/src", s"$d/dst")
    LakeTable.overwrite(spark, src,
      spark.range(100).select(col("id"), (col("id") * 2).as("k"))
        .repartitionByRange(4, col("id")))
    LakeTable.shallowClone(spark, src, dst)
    val live = spark.read.format("graft").load(dst)
    // logged bounds carried over -> point filter skips to one file
    live.filter(col("id") === 57L).collect()
    val scan = live.filter(col("id") === 57L)
    scan.collect()
    val fsc = scan.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(fsc.metrics("numFiles").value == 1,
      s"cloned bounds should skip: ${fsc.metrics("numFiles").value}")
    // metadata-only count + min/max fold over the cloned log
    def scanFree(df: org.apache.spark.sql.DataFrame): Boolean =
      !df.queryExecution.executedPlan.toString.contains("FileScan")
    val agg = live.groupBy().agg(count(lit(1)).as("n"), max(col("id")).as("mx"))
    assert(agg.head == org.apache.spark.sql.Row(100L, 99L) && scanFree(agg))
  }

  test("CoW DML on the clone rewrites INTO the clone; the source is untouched") {
    val d = tmpDir("clone_dml")
    val (src, dst) = (s"$d/src", s"$d/dst")
    LakeTable.overwrite(spark, src,
      spark.range(50).select(col("id"), (col("id") * 1.0).as("v")))
    val srcFilesBefore = dataFiles(src).toSet
    LakeTable.shallowClone(spark, src, dst)

    // DELETE on the clone: matched foreign files rewrite locally
    LakeTable.delete(spark, dst, col("id") === 7L)
    assert(LakeTable.read(spark, dst).count() == 49)
    assert(LakeTable.read(spark, src).count() == 50, "source must keep the row")
    assert(dataFiles(src).toSet == srcFilesBefore, "source files untouched")
    assert(dataFiles(dst).nonEmpty, "rewrite must land in the clone's data dir")
    // UPDATE on the clone
    LakeTable.update(spark, dst, Seq("v" -> lit(123.0)), col("id") === 8L)
    assert(LakeTable.read(spark, dst).filter(col("id") === 8L)
      .head.getDouble(1) == 123.0)
    assert(LakeTable.read(spark, src).filter(col("id") === 8L)
      .head.getDouble(1) == 8.0)
    // time travel on the clone still sees v1 (the full cloned set)
    assert(LakeTable.read(spark, dst, asOf = Some(1L)).count() == 50)
    // compact localizes everything it touches; vacuum of the clone
    // afterwards cannot touch source bytes (they are outside its root)
    LakeTable.compact(spark, dst, smallFileBytes = Long.MaxValue)
    LakeTable.vacuum(spark, dst, retainVersions = 1, graceMs = 0L)
    assert(LakeTable.read(spark, dst).count() == 49)
    assert(dataFiles(src).toSet == srcFilesBefore, "vacuum of clone spared source")
    assert(LakeTable.read(spark, src).count() == 50)
  }

  test("clone change feed, streaming tail, and clone-of-clone") {
    val d = tmpDir("clone_feed")
    val (src, c1, c2) = (s"$d/src", s"$d/c1", s"$d/c2")
    LakeTable.overwrite(spark, src, spark.range(10).toDF("id"))
    LakeTable.shallowClone(spark, src, c1)
    // v1 change feed synthesizes inserts from the FOREIGN files
    val feed = LakeTable.changes(spark, c1, 1L, 1L)
    assert(feed.filter(col(LakeTable.ChangeTypeCol) === "insert").count() == 10)
    // clone of a clone keeps pointing at the original bytes
    LakeTable.shallowClone(spark, c1, c2)
    assert(dataFiles(c2).isEmpty && LakeTable.read(spark, c2).count() == 10)
  }

  test("MoR DML on still-foreign files: vectors key on absolute URIs, zero localization") {
    val d = tmpDir("clone_mor")
    val (src, dst) = (s"$d/src", s"$d/dst")
    // ONE multi-row file: whole-file deletes would bypass the vector
    // path (provably-covered files leave by log edit), and every DML
    // below must hit the SAME foreign file so each one folds the
    // vector the previous one left
    LakeTable.overwrite(spark, src,
      spark.range(30).select(col("id"), (col("id") * 1.0).as("v")).coalesce(1))
    // an ACTIVE vector rides into the clone re-keyed, so the later MoR
    // delete on the same foreign file must FOLD an inherited vector
    LakeTable.deleteMergeOnRead(spark, src, col("id") === 29L)
    val srcFilesBefore = dataFiles(src).toSet
    LakeTable.shallowClone(spark, src, dst)

    // MoR DELETE on a foreign file: O(deleted rows) bytes — the clone's
    // data dir stays EMPTY (the vector lands under its own _deletes/)
    LakeTable.deleteMergeOnRead(spark, dst, col("id") === 5L)
    assert(LakeTable.read(spark, dst).count() == 28)
    assert(dataFiles(dst).isEmpty, "position-delete must not localize data bytes")
    // repeat delete folds BOTH the inherited cloned vector and the new
    // one into a complete per-entry set
    LakeTable.deleteMergeOnRead(spark, dst, col("id") === 6L)
    val ids1 = LakeTable.read(spark, dst).select("id").as[Long].collect().toSet
    assert(ids1 == (0L until 29L).toSet -- Set(5L, 6L))
    assert(dataFiles(dst).isEmpty)

    // MoR UPDATE: foreign pre-image hidden by vector, post-image appends
    // into the clone
    LakeTable.updateMergeOnRead(spark, dst, Seq("v" -> lit(9.5)), col("id") === 7L)
    assert(LakeTable.read(spark, dst).filter(col("id") === 7L)
      .select("v").as[Double].head() == 9.5)

    // MoR MERGE upsert + clause MERGE over foreign rows
    LakeTable.mergeMergeOnRead(spark, dst,
      Seq((8L, 80.0), (100L, 1.0)).toDF("id", "v"), Seq("id"))
    assert(LakeTable.read(spark, dst).filter(col("id") === 8L)
      .select("v").as[Double].head() == 80.0)
    LakeTable.mergeRowsMergeOnRead(spark, dst,
      Seq((9L, 0.0), (10L, 0.0)).toDF("id", "v"), Seq("id"),
      matched = Seq(LakeTable.MatchedDelete(Some(col("t.id") === 9L)),
        LakeTable.MatchedUpdate(None, Map("v" -> lit(-1.0)))))
    val st = LakeTable.read(spark, dst)
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(!st.contains(9L) && st(10L) == -1.0 && st(100L) == 1.0)
    assert(st.keySet == (0L until 29L).toSet -- Set(5L, 6L, 9L) + 100L)
    // the foreign entry never localized: same absolute path, ONE folded
    // vector carrying every pre-image this sequence hid
    // (29 inherited + 5, 6 deleted + 7, 8, 10 updated + 9 merge-deleted)
    val fe = LakeTable.latestSnapshot(spark, dst).get.files
      .filter(_.path.contains("/src/"))
    assert(fe.size == 1, s"expected the one foreign entry, got ${fe.map(_.path)}")
    assert(fe.head.dv.exists(_.cardinality == 7L),
      s"folded foreign vector should carry 7 rows: ${fe.head.dv}")

    // the source never changed: no file touched, no row lost
    assert(dataFiles(src).toSet == srcFilesBefore, "source files untouched")
    assert(LakeTable.read(spark, src).count() == 29)
    assert(LakeTable.read(spark, src).filter(col("id") === 7L)
      .select("v").as[Double].head() == 7.0)
    // time travel on the clone still sees the full cloned set
    assert(LakeTable.read(spark, dst, asOf = Some(1L)).count() == 29)

    // compact reconciles foreign files + their absolute-key vectors into
    // clean local files; vacuum afterwards spares the source
    LakeTable.compact(spark, dst, smallFileBytes = Long.MaxValue)
    LakeTable.vacuum(spark, dst, retainVersions = 1, graceMs = 0L)
    assert(LakeTable.read(spark, dst)
      .select("id", "v").as[(Long, Double)].collect().toMap == st)
    assert(dataFiles(src).toSet == srcFilesBefore, "vacuum of clone spared source")
  }

  test("MoR DML and clone vectors survive percent-encodable table paths") {
    // `_metadata.file_path` publishes percent-ENCODED URIs while the log
    // stores decoded Path forms — a space in the table path makes every
    // verbatim comparison miss. The vector-key domain is the scan form
    // (LakeTable.scanKey); this pins the whole MoR tier on such a path.
    val d = tmpDir("clone enc")
    val (src, dst) = (s"$d/src dir/t", s"$d/dst dir/c")
    LakeTable.overwrite(spark, src,
      spark.range(30).select(col("id"), (col("id") * 1.0).as("v")).coalesce(1))
    // local MoR under an encodable path: vector write, fold, read-back
    LakeTable.deleteMergeOnRead(spark, src, col("id") === 29L)
    LakeTable.deleteMergeOnRead(spark, src, col("id") === 28L)
    assert(LakeTable.read(spark, src).select("id").as[Long].collect().toSet
      == (0L until 28L).toSet)
    // the clone re-keys the inherited vector on scan-form absolute URIs
    LakeTable.shallowClone(spark, src, dst)
    LakeTable.deleteMergeOnRead(spark, dst, col("id") === 5L)
    LakeTable.updateMergeOnRead(spark, dst, Seq("v" -> lit(9.5)), col("id") === 7L)
    LakeTable.mergeMergeOnRead(spark, dst,
      Seq((8L, 80.0), (100L, 1.0)).toDF("id", "v"), Seq("id"))
    val st = LakeTable.read(spark, dst)
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(st.keySet == (0L until 28L).toSet - 5L + 100L)
    assert(st(7L) == 9.5 && st(8L) == 80.0 && st(100L) == 1.0)
    // ONE still-foreign entry, one folded vector carrying every hidden
    // pre-image (28, 29 inherited + 5 deleted + 7, 8 updated)
    val fe = LakeTable.latestSnapshot(spark, dst).get.files
      .filter(e => e.path.contains("src dir"))
    assert(fe.size == 1, s"expected the one foreign entry, got ${fe.map(_.path)}")
    assert(fe.head.dv.exists(_.cardinality == 5L), s"folded dv: ${fe.head.dv}")
    // source untouched; compact localizes through the encoded keys
    assert(LakeTable.read(spark, src).count() == 28)
    LakeTable.compact(spark, dst, smallFileBytes = Long.MaxValue)
    assert(LakeTable.read(spark, dst)
      .select("id", "v").as[(Long, Double)].collect().toMap == st)
  }

  test("SQL: CREATE TABLE ... SHALLOW CLONE ... VERSION/TIMESTAMP AS OF") {
    val d = tmpDir("clone_sql")
    val (src, dst, dst2) = (s"$d/src", s"$d/dst", s"$d/dst2")
    LakeTable.overwrite(spark, src, spark.range(10).toDF("id"))
    val ts1 = LakeTable.latestSnapshot(spark, src).get.timestampMs
    Thread.sleep(20)
    LakeTable.append(spark, src, spark.range(10, 15).toDF("id"))
    spark.sql(s"CREATE TABLE `$dst` SHALLOW CLONE `$src` VERSION AS OF 1").collect()
    assert(LakeTable.read(spark, dst).count() == 10, "cloned the pinned version")
    assert(dataFiles(dst).isEmpty)
    // TIMESTAMP AS OF pins the newest version committed at or before
    // the instant (RESTORE's resolution), here right after v1
    spark.sql(s"CREATE TABLE `$dst2` SHALLOW CLONE `$src` TIMESTAMP AS OF ${ts1 + 1}")
      .collect()
    assert(LakeTable.read(spark, dst2).count() == 10, "ts pin resolved to v1")
  }

  test("clone of a vectored snapshot re-keys vectors; DML localizes; source untouched") {
    val d = tmpDir("clone_dv")
    val (src, dst, c2) = (s"$d/src", s"$d/dst", s"$d/c2")
    LakeTable.overwrite(spark, src,
      spark.range(40).select(col("id"), (col("id") % 4).cast("string").as("grp"),
        (col("id") * 1.0).as("v")),
      partitionBy = Seq("grp"))
    // active vectors from a MoR delete AND a MoR update (folded images)
    LakeTable.deleteMergeOnRead(spark, src, col("id") % 10 === 3) // 3,13,23,33
    LakeTable.updateMergeOnRead(spark, src, Seq("v" -> lit(-1.0)), col("id") === 8L)
    val srcFilesBefore = dataFiles(src).toSet
    LakeTable.shallowClone(spark, src, dst)

    // zero data copied; the vectors were re-keyed into the CLONE's own
    // _deletes (absolute source URIs as keys), never referenced from src
    assert(dataFiles(dst).isEmpty, "clone must not copy data files")
    val snap = LakeTable.latestSnapshot(spark, dst).get
    assert(snap.files.exists(_.dv.exists(_.cardinality > 0)))
    assert(snap.files.flatMap(_.dv).forall(_.path.startsWith("_deletes/")),
      "cloned vectors must live in the clone's own _deletes")
    // reads go THROUGH the re-keyed vectors
    val want = (0L until 40L).filterNot(_ % 10 == 3).toSet
    val ids = LakeTable.read(spark, dst).select("id").as[Long].collect().toSet
    assert(ids == want)
    assert(LakeTable.read(spark, dst).filter(col("id") === 8L)
      .select("v").as[Double].head() == -1.0, "MoR-updated image must survive the clone")
    // the clone's v1 change feed synthesizes only LIVE rows
    assert(LakeTable.changes(spark, dst, 1L, 1L).count() == want.size)

    // CoW DML on a vectored foreign file localizes WITHOUT resurrecting
    // its vector-deleted rows (13 and 33 share 17's partition file)
    LakeTable.delete(spark, dst, col("id") === 17L)
    val after = LakeTable.read(spark, dst).select("id").as[Long].collect().toSet
    assert(after == want - 17L, "vectored rows must not resurrect on CoW rewrite")
    assert(dataFiles(src).toSet == srcFilesBefore, "source files untouched")
    assert(LakeTable.read(spark, src).count() == want.size)

    // clone-of-clone: already-absolute vector rows pass through
    LakeTable.shallowClone(spark, dst, c2)
    assert(LakeTable.read(spark, c2).select("id").as[Long].collect().toSet
      == want - 17L)

    // non-empty destination still refused
    val e2 = intercept[IllegalArgumentException](
      LakeTable.shallowClone(spark, src, dst))
    assert(e2.getMessage.contains("already has committed versions"))
  }
}
