package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.lake.{Bucketing, LakeTable}

/** Hash-bucketed lake tables: co-located joins/aggregations with ZERO
  * exchange, bucket pruning on point lookups, and layout preservation
  * across every write path (append, streaming append, CoW update,
  * compact). The physical-correctness anchor is the last test: every
  * committed file's rows satisfy `pmod(hash(bucketCols), n) = the
  * file's bucket id` — the exact invariant FileSourceScanExec assumes
  * when it claims HashPartitioning for a bucketed scan.
  */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def left = (0L until 4000L).map(i => (i % 997, s"l$i", i))
    .toDF("k", "lv", "seq")
  private def right = (0L until 3000L).map(i => (i % 997, i.toDouble / 7))
    .toDF("k", "rv")

  /** executed final plan as text (AQE prints initial plan too — cut it) */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  private def shuffles(df: DataFrame): Int =
    finalPlan(df).linesIterator.count(_.contains("Exchange")) // hash or range

  /** rows keyed and sorted for order-free comparison */
  private def rowsOf(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted
  }

  /** run `body` with broadcast joins off, so a shuffle-free join can
    * only come from the bucket layout, never from a broadcast
    */
  private def noBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prior)
  }

  test("bucketed-file naming round-trips through Spark's parse") {
    val staged = "part-00042-0f2f5c4e-12ab-4c4e-9f00-aaaa0000bbbb.c000.snappy.parquet"
    assert(Bucketing.taskIdOf(staged).contains(42))
    val named = Bucketing.bucketedName(staged, 7)
    assert(named ==
      "part-00042-0f2f5c4e-12ab-4c4e-9f00-aaaa0000bbbb_00007.c000.snappy.parquet")
    assert(Bucketing.bucketIdOf(named).contains(7))
    // hyphen-joined file-counter variant
    val alt = "part-00003-uuid-c000.snappy.parquet"
    assert(Bucketing.bucketIdOf(Bucketing.bucketedName(alt, 3)).contains(3))
  }

  test("join of two co-bucketed tables runs with zero exchange") {
    val (lt, rt) = (tmpTable("bkt_l"), tmpTable("bkt_r"))
    LakeTable.overwriteBucketed(spark, lt, left, 8, Seq("k"))
    LakeTable.overwriteBucketed(spark, rt, right, 8, Seq("k"))
    noBroadcast {
      val joined = LakeTable.read(spark, lt).join(LakeTable.read(spark, rt), "k")
        .groupBy("k").agg(sum($"rv").as("s"), count($"lv").as("c"))
      assert(shuffles(joined) == 0,
        s"co-bucketed join+agg must not shuffle:\n${finalPlan(joined)}")
      assert(rowsOf(joined) == rowsOf(
        left.join(right, "k").groupBy("k")
          .agg(sum($"rv").as("s"), count($"lv").as("c"))))
    }
  }

  test("aggregation keyed on the bucket columns skips its exchange") {
    val t = tmpTable("bkt_agg")
    LakeTable.overwriteBucketed(spark, t, left, 8, Seq("k"))
    val agg = LakeTable.read(spark, t).groupBy("k").agg(max($"seq").as("m"))
    assert(shuffles(agg) == 0, s"bucket-keyed agg must not shuffle:\n${finalPlan(agg)}")
    assert(rowsOf(agg) == rowsOf(left.groupBy("k").agg(max($"seq").as("m"))))
  }

  test("append and streaming-append preserve the layout (join still shuffle-free)") {
    val (lt, rt) = (tmpTable("bkt_al"), tmpTable("bkt_ar"))
    LakeTable.overwriteBucketed(spark, lt, left.limit(1000), 4, Seq("k"))
    LakeTable.overwriteBucketed(spark, rt, right, 4, Seq("k"))
    LakeTable.append(spark, lt, left.filter($"seq" >= 1000 && $"seq" < 2500))
    LakeTable.appendStream(spark, lt, left.filter($"seq" >= 2500), "qBkt", 1L)
    noBroadcast {
      val joined = LakeTable.read(spark, lt).join(LakeTable.read(spark, rt), "k")
        .groupBy("k").count()
      assert(shuffles(joined) == 0, finalPlan(joined))
      assert(rowsOf(joined) == rowsOf(left.join(right, "k").groupBy("k").count()))
    }
  }

  test("equality filter on the bucket key prunes to one bucket's files") {
    // pruning happens via the scan's optionalBucketSet even when the
    // planner's DisableUnnecessaryBucketedScan marks the scan
    // `Bucketed: false` (no co-location consumer) — so observe the
    // FILES ACTUALLY OPENED through the counting filesystem, not plan
    // metadata
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val local = java.nio.file.Files.createTempDirectory("bkt_prune").toString + "/t"
    val t = "cfs:" + local
    LakeTable.overwriteBucketed(spark, t, left, 8, Seq("k"))
    CountingFileSystem.reset()
    val probe = LakeTable.read(spark, t).filter($"k" === 31L)
    assert(probe.count() == left.filter($"k" === 31L).count())
    val dataOpens = CountingFileSystem.openedUnder("/data/")
      .filter(_.endsWith(".parquet")).map(_.split('/').last).distinct
    assert(dataOpens.size == 1,
      s"bucket pruning should open 1 of 8 bucket files, opened: $dataOpens")
    assert(Bucketing.bucketIdOf(dataOpens.head).contains(
      left.select(pmod(hash(lit(31L)), lit(8))).head().getInt(0)))
  }

  test("CoW update and plain compact keep every live file a bucket file") {
    val t = tmpTable("bkt_dml")
    LakeTable.overwriteBucketed(spark, t, left.limit(2000), 4, Seq("k"))
    LakeTable.append(spark, t, left.filter($"seq" >= 2000))
    LakeTable.update(spark, t, Seq("lv" -> lit("updated")), $"seq" === 17L)
    LakeTable.compact(spark, t, smallFileBytes = 64L << 20)
    val snap = LakeTable.latestSnapshot(spark, t).get
    val ids = snap.files.map(e =>
      Bucketing.bucketIdOf(e.path.split('/').last))
    assert(ids.forall(_.exists(i => i >= 0 && i < 4)),
      s"unparseable/out-of-range bucket file after DML+compact: ${snap.filePaths}")
    // compact packed each bucket: at most one file per bucket remains
    assert(snap.files.size <= 4, s"expected <=4 files post-compact: ${snap.filePaths}")
    val expected = left.withColumn("lv",
      when($"seq" === 17L, lit("updated")).otherwise($"lv"))
    assert(rowsOf(LakeTable.read(spark, t)) == rowsOf(expected))
    noBroadcast {
      val j = LakeTable.read(spark, t).groupBy("k").count()
      assert(shuffles(j) == 0, finalPlan(j))
    }
  }

  test("every committed file's rows hash to its bucket id (the claimed invariant)") {
    val t = tmpTable("bkt_inv")
    LakeTable.overwriteBucketed(spark, t, left.limit(2200), 8, Seq("k"))
    LakeTable.append(spark, t, left.filter($"seq" >= 2200))
    val snap = LakeTable.latestSnapshot(spark, t).get
    snap.files.foreach { e =>
      val bid = Bucketing.bucketIdOf(e.path.split('/').last).get
      val bad = spark.read.parquet(s"$t/data/${e.path}")
        .filter(pmod(hash($"k"), lit(8)) =!= bid).count()
      assert(bad == 0, s"${e.path}: $bad rows hash outside bucket $bid")
    }
  }

  test("within-bucket sort columns are declared and files are sorted") {
    val t = tmpTable("bkt_sort")
    LakeTable.overwriteBucketed(spark, t, left, 4, Seq("k"), sortCols = Seq("seq"))
    val spec = Bucketing.spec(LakeTable.latestSnapshot(spark, t).get.schema).get
    assert(spec == Bucketing.Spec(4, Seq("k"), Seq("seq")))
    val snap = LakeTable.latestSnapshot(spark, t).get
    snap.files.foreach { e =>
      val seqs = spark.read.parquet(s"$t/data/${e.path}")
        .select("seq").collect().map(_.getLong(0))
      assert(seqs.sameElements(seqs.sorted), s"${e.path} not sorted by seq")
    }
  }

  test("sort/Z-order clustering and partition-overlapping keys are refused") {
    val t = tmpTable("bkt_refuse")
    LakeTable.overwriteBucketed(spark, t, left, 4, Seq("k"))
    intercept[IllegalArgumentException](
      LakeTable.compact(spark, t, sortBy = Seq("seq")))
    intercept[IllegalArgumentException](
      LakeTable.compact(spark, t, zorderBy = Seq("k", "seq")))
    intercept[IllegalArgumentException](
      LakeTable.reclusterIncremental(spark, t, sortBy = Seq("seq")))
    intercept[IllegalArgumentException](
      LakeTable.overwriteBucketed(spark, tmpTable("bkt_refuse2"),
        left.withColumn("p", $"k" % 3), 4, Seq("p"), partitionBy = Seq("p")))
  }

  test("bucket_join matches the raw-parquet oracle and joins without exchanges") {
    val got = operators.BucketedOps.bucketJoin(spark, sf)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val want = orders.join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(graft.functions.Money.msum(
        col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
    assert(rowsOf(got) == rowsOf(want))
    // the only exchange is the final 5-row priority aggregate; the
    // fact-to-fact join itself is co-located
    assert(shuffles(got) == 1, finalPlan(got))
  }

  test("hive partitioning composes with bucketing (pruning on both axes)") {
    val t = tmpTable("bkt_part")
    val df = left.withColumn("p", ($"seq" % 3).cast("int"))
    LakeTable.overwriteBucketed(spark, t, df, 4, Seq("k"), partitionBy = Seq("p"))
    LakeTable.append(spark, t, df.filter($"seq" < 0)) // empty append is a no-op commit
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(snap.files.nonEmpty)
    snap.files.foreach { e =>
      assert(e.path.startsWith("p="), s"hive dir lost: ${e.path}")
      assert(Bucketing.bucketIdOf(e.path.split('/').last).exists(_ < 4), e.path)
    }
    val agg = LakeTable.read(spark, t).filter($"p" === 1)
      .groupBy("k").agg(max($"seq").as("m"))
    assert(shuffles(agg) == 0, finalPlan(agg))
    assert(rowsOf(agg) ==
      rowsOf(df.filter($"p" === 1).groupBy("k").agg(max($"seq").as("m"))))
  }

  test("renaming the bucket column keeps the layout (column mapping)") {
    val t = tmpTable("bkt_ren")
    LakeTable.overwriteBucketed(spark, t, left, 4, Seq("k"))
    LakeTable.renameColumn(spark, t, "k", "kk")
    val spec = Bucketing.spec(LakeTable.latestSnapshot(spark, t).get.schema).get
    assert(spec.bucketCols == Seq("kk"))
    LakeTable.append(spark, t, left.withColumnRenamed("k", "kk").limit(500))
    val agg = LakeTable.read(spark, t).groupBy("kk").count()
    assert(shuffles(agg) == 0, finalPlan(agg))
    val all = left.union(left.limit(500)).groupBy("k").count()
      .withColumnRenamed("k", "kk")
    assert(rowsOf(agg) == rowsOf(all))
  }

  test("mismatched bucket counts join shuffle-free via bucket coalescing") {
    val (lt, rt) = (tmpTable("bkt_c8"), tmpTable("bkt_c4"))
    LakeTable.overwriteBucketed(spark, lt, left, 8, Seq("k"))
    LakeTable.overwriteBucketed(spark, rt, right, 4, Seq("k"))
    val key = "spark.sql.bucketing.coalesceBucketsInJoin.enabled"
    val prior = spark.conf.get(key)
    spark.conf.set(key, "true")
    try noBroadcast {
      val joined = LakeTable.read(spark, lt).hint("merge")
        .join(LakeTable.read(spark, rt), "k").groupBy("k").count()
      assert(shuffles(joined) == 0,
        s"8-bucket side should coalesce onto 4:\n${finalPlan(joined)}")
      assert(rowsOf(joined) == rowsOf(left.join(right, "k").groupBy("k").count()))
    } finally spark.conf.set(key, prior)
  }

  test("dropping the bucket column is refused; sort stamps keep a true prefix") {
    val t = tmpTable("bkt_drop")
    LakeTable.overwriteBucketed(spark, t, left, 4, Seq("k"), sortCols = Seq("lv", "seq"))
    intercept[IllegalArgumentException](LakeTable.dropColumn(spark, t, "k"))
    // dropping the FIRST sort column leaves no truthful ordering claim
    LakeTable.dropColumn(spark, t, "lv")
    val spec = Bucketing.spec(LakeTable.latestSnapshot(spark, t).get.schema).get
    assert(spec == Bucketing.Spec(4, Seq("k"), Nil))
    // layout survives: appends still route, aggs still skip the shuffle
    LakeTable.append(spark, t, left.drop("lv").limit(100))
    val agg = LakeTable.read(spark, t).groupBy("k").count()
    assert(shuffles(agg) == 0, finalPlan(agg))
  }

  test("writer API: option(bucketBy) creates the layout, overwrite preserves it") {
    val t = tmpTable("bkt_writer")
    left.write.format("graft").mode("overwrite")
      .option("bucketBy", "4,k").option("sortBy", "seq").save(t)
    val spec = Bucketing.spec(LakeTable.latestSnapshot(spark, t).get.schema).get
    assert(spec == Bucketing.Spec(4, Seq("k"), Seq("seq")))
    // writer overwrite WITHOUT the option keeps the layout (the
    // partitionBy-preserving principle applied to bucketing)
    left.limit(1000).write.format("graft").mode("overwrite").save(t)
    val kept = Bucketing.spec(LakeTable.latestSnapshot(spark, t).get.schema)
    assert(kept.contains(Bucketing.Spec(4, Seq("k"), Seq("seq"))))
    val agg = LakeTable.read(spark, t).groupBy("k").count()
    assert(shuffles(agg) == 0, finalPlan(agg))
    intercept[IllegalArgumentException](
      left.write.format("graft").mode("overwrite")
        .option("bucketBy", "k,4").save(tmpTable("bkt_writer_bad")))
  }

  test("plain overwrite de-buckets; re-bucketing with a new spec wins") {
    val t = tmpTable("bkt_over")
    LakeTable.overwriteBucketed(spark, t, left, 8, Seq("k"))
    LakeTable.overwrite(spark, t, right)
    assert(Bucketing.spec(LakeTable.latestSnapshot(spark, t).get.schema).isEmpty)
    LakeTable.overwriteBucketed(spark, t, right, 2, Seq("k"))
    val spec = Bucketing.spec(LakeTable.latestSnapshot(spark, t).get.schema).get
    assert(spec.numBuckets == 2)
    assert(rowsOf(LakeTable.read(spark, t)) == rowsOf(right))
  }

  test("a bucketed table carrying deletion vectors keeps its bucketed scan and drops the rows") {
    val t = tmpTable("bkt_dv")
    LakeTable.overwriteBucketed(spark, t, left, 8, Seq("k"))
    LakeTable.deleteMergeOnRead(spark, t, $"seq" % 10 === 3L)
    assert(LakeTable.latestSnapshot(spark, t).get.files.exists(_.dv.isDefined))
    val kept = left.filter($"seq" % 10 =!= 3L)
    val agg = LakeTable.read(spark, t).groupBy("k").agg(count(lit(1)).as("n"), max($"seq").as("m"))
    assert(shuffles(agg) == 0, s"bucket-keyed agg over vectors must not shuffle:\n${finalPlan(agg)}")
    assert(rowsOf(agg) == rowsOf(kept.groupBy("k").agg(count(lit(1)).as("n"), max($"seq").as("m"))))
  }
}
