package graft

/** The whole engine must be drivable from spark.sql, like the
  * reference's Trino SQL surface.
  */
class SqlSurfaceSpec extends SparkSpec {

  test("base tables and models are queryable via SQL") {
    GraftCatalog.registerAll(spark, sf)
    assert(spark.sql(
      "SELECT l_returnflag, sum(l_quantity) FROM lineitem GROUP BY 1").count() > 0)
    assert(spark.sql("SELECT count(*) FROM dim_customer").head.getLong(0) ==
      Tables.customer(spark, sf).count())
    assert(spark.sql(
      "SELECT * FROM gold_funnel WHERE enrolled > 0").count() > 0)
    // predicates on a view push through to the parquet scan
    val plan = spark.sql("SELECT c_name FROM dim_customer WHERE c_custkey = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,7)]"),
      s"filter not pushed:\n$plan")
  }

  test("materialized lake tables are queryable via SQL with partition pruning") {
    val tmp = java.nio.file.Files.createTempDirectory("sql_lake").toString
    Pipeline.runSilver(spark, sf, tmp)
    GraftCatalog.registerLake(spark, tmp)
    assert(spark.sql("SELECT count(*) FROM dim_customer_tbl").head.getLong(0) ==
      Tables.customer(spark, sf).count())
    // a time filter on the partitioned fact prunes through the view
    // (filter-only: an aggregate would wrap the scan in an AQE plan)
    val pruned = spark.sql(
      "SELECT * FROM fact_lineitem_tbl WHERE ship_date = DATE'1996-01-02'")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan"))
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount <= 1)
  }

  test("schema-qualified names: SELECT/INSERT/MERGE on <layer>.<table>, pruning intact, no path literals") {
    import graft.lake.LakeTable
    val tmp = java.nio.file.Files.createTempDirectory("sql_ns").toString
    Pipeline.runSilver(spark, sf, tmp)
    Pipeline.runGold(spark, sf, tmp)
    val names = GraftCatalog.registerLakeNamespaced(spark, tmp)
    assert(names.contains("silver.dim_customer"))
    assert(names.contains("gold.gold_funnel"))
    // SELECT by 2-part name — the identifier a Trino user types
    // (iceberg.silver.dim_students minus the catalog prefix)
    assert(spark.sql("SELECT count(*) FROM silver.dim_customer").head.getLong(0) ==
      Tables.customer(spark, sf).count())
    assert(spark.sql("SELECT * FROM gold.gold_funnel WHERE enrolled > 0").count() > 0)
    // partition pruning through the catalog table (filter-only — an
    // aggregate would wrap the scan in an AQE plan)
    val day = spark.sql("SELECT min(event_date) FROM silver.fact_events").head.getDate(0)
    val pruned = spark.sql(s"SELECT * FROM silver.fact_events WHERE event_date = DATE'$day'")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan"))
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount <= 1)
    // data filters push to the scan too
    val plan = spark.sql("SELECT c_name FROM silver.dim_customer WHERE c_custkey = 7")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), EqualTo(c_custkey,7)]"),
      s"filter not pushed:\n$plan")
    // INSERT INTO by 2-part name: a transactional lake append, visible
    // on the very next query with no re-registration
    val path = Pipeline.tablePath(tmp, "silver", "dim_customer")
    val v0 = LakeTable.versions(spark, path).last
    val n0 = spark.sql("SELECT count(*) FROM silver.dim_customer").head.getLong(0)
    spark.sql(
      """INSERT INTO silver.dim_customer
         SELECT concat(customer_key, '_ns'), c_custkey + 10000000, c_name,
                customer_label, c_mktsegment, c_acctbal, nation_name,
                region_name, has_orders
         FROM silver.dim_customer WHERE c_custkey = (SELECT min(c_custkey) FROM silver.dim_customer)""")
    assert(LakeTable.versions(spark, path).last == v0 + 1)
    assert(spark.sql("SELECT count(*) FROM silver.dim_customer").head.getLong(0) == n0 + 1)
    // MERGE INTO by 2-part name routes through the transaction log
    val k = spark.sql("SELECT min(c_custkey) FROM silver.dim_customer").head.getLong(0)
    spark.sql(
      s"""MERGE INTO silver.dim_customer t
          USING (SELECT CAST($k AS BIGINT) AS k, 'ns merged' AS nm) s
          ON t.c_custkey = s.k
          WHEN MATCHED THEN UPDATE SET c_name = s.nm""")
    assert(spark.sql(
      s"SELECT c_name FROM silver.dim_customer WHERE c_custkey = $k")
      .head.getString(0) == "ns merged")
    // the maintenance surface resolves the 2-part name too
    assert(spark.sql("DESCRIBE HISTORY silver.dim_customer").count() >= 3)
    // schema evolution lands in the log; the stock REFRESH TABLE
    // ritual (not a re-register) makes the catalog table re-resolve,
    // and the log — not the CREATE-time stored schema — wins
    LakeTable.addColumns(spark, path, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("ns_extra",
        org.apache.spark.sql.types.IntegerType))))
    spark.sql("REFRESH TABLE silver.dim_customer")
    assert(spark.sql("SELECT ns_extra FROM silver.dim_customer").columns
      .sameElements(Array("ns_extra")))
  }

  test("a fresh session resolves lake tables by name from the persisted catalog") {
    val tmp = java.nio.file.Files.createTempDirectory("sql_catalog").toString
    Pipeline.runSilver(spark, sf, tmp) // materialization writes _catalog.json
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$tmp/_catalog.json")))
    // a brand-new session has empty temp-view state: without the
    // persisted catalog it cannot see any lake table...
    val s2 = spark.newSession()
    intercept[org.apache.spark.sql.AnalysisException] {
      s2.sql("SELECT count(*) FROM fact_events_tbl").collect()
    }
    // ...but restores the full surface from the warehouse dir alone
    s2.conf.set("spark.graft.warehouse", tmp)
    val restored = GraftCatalog.init(s2)
    assert(restored.toSet == Pipeline.silverModels.keySet.map(_ + "_tbl"))
    assert(s2.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0) ==
      operators.Conform.factEvents(spark, sf).count())
    // partition pruning is intact through the restored view
    val day = s2.sql("SELECT min(event_date) FROM fact_events_tbl").head.getDate(0)
    val pruned = s2.sql(s"SELECT * FROM fact_events_tbl WHERE event_date = DATE'$day'")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan"))
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.selectedPartitions.partitionCount <= 1)
  }

  test("pinLake freezes the whole multi-table surface at one instant") {
    import graft.lake.LakeTable
    val tmp = java.nio.file.Files.createTempDirectory("sql_pin").toString
    Pipeline.runSilver(spark, sf, tmp)
    val pins = GraftCatalog.pinLake(spark, tmp)
    assert(pins.keySet == Pipeline.silverModels.keySet)
    val t = Pipeline.tablePath(tmp, "silver", "fact_events")
    assert(pins("fact_events") == LakeTable.latestSnapshot(spark, t).get.version)
    val before = spark.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0)
    // a writer commits mid-"job": the pinned surface must not move —
    // every later statement of the same build still reads the pin
    LakeTable.append(spark, t, spark.table("fact_events_tbl").limit(3))
    assert(spark.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0) == before)
    // a pinned fact still joins a pinned dim (multi-table consistency
    // is the point: both sides resolve to the same instant)
    assert(spark.sql(
      """SELECT count(*) FROM fact_events_tbl e
         JOIN dim_customer_tbl c ON e.user_id = c.c_custkey""").head.getLong(0) > 0)
    // releasing the pin (live re-register) sees the new commit...
    GraftCatalog.registerLake(spark, tmp)
    assert(spark.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0) == before + 3)
    // ...and a fresh pin resolves the advanced version
    val pins2 = GraftCatalog.pinLake(spark, tmp)
    assert(pins2("fact_events") == pins("fact_events") + 1)
    assert(spark.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0) == before + 3)
  }

  test("pinLake and registerLake find each table's newest version without listing its log") {
    import graft.lake.LakeTable
    import spark.implicits._
    CountingFileSystem.install(spark.sparkContext.hadoopConfiguration)
    val tmp = "cfs:" + java.nio.file.Files.createTempDirectory("sql_nolist").toString
    val t = Pipeline.tablePath(tmp, "silver", "fact_events")
    LakeTable.overwrite(spark, t, Seq((1L, "a")).toDF("id", "s"))
    LakeTable.append(spark, t, Seq((2L, "b")).toDF("id", "s"))
    CountingFileSystem.reset()
    val pins = GraftCatalog.pinLake(spark, tmp)
    assert(pins == Map("fact_events" -> 2L))
    GraftCatalog.registerLake(spark, tmp)
    assert(spark.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0) == 2L)
    val listed = CountingFileSystem.listedUnder("_graft_log")
    assert(listed.isEmpty, s"catalog registration listed table logs: $listed")
  }

  test("INSERT INTO a registered lake view commits a lake version, visible live") {
    val tmp = java.nio.file.Files.createTempDirectory("sql_insert").toString
    Pipeline.runSilver(spark, sf, tmp)
    GraftCatalog.registerLake(spark, tmp)
    val t = Pipeline.tablePath(tmp, "silver", "fact_events")
    val before = spark.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0)
    val vBefore = lake.LakeTable.latestSnapshot(spark, t).get.version
    // the reference's write surface is SQL materializing tables
    // (trino_sql blocks); INSERT INTO the live view is the analog
    spark.sql("INSERT INTO fact_events_tbl SELECT * FROM fact_events_tbl LIMIT 1")
    val snap = lake.LakeTable.latestSnapshot(spark, t).get
    assert(snap.version == vBefore + 1 && snap.operation == "APPEND")
    // visible on the SAME view, no re-registration (live), and the
    // partition layout survived the SQL write
    assert(spark.sql("SELECT count(*) FROM fact_events_tbl").head.getLong(0) == before + 1)
    assert(snap.partitionColumns == Seq("event_date"))
  }

  test("INSERT INTO / INSERT OVERWRITE a catalog graft table route through the log") {
    val t = java.nio.file.Files.createTempDirectory("sql_insert_ddl").toString + "/t"
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    import spark.implicits._
    Seq((1L, "p1", 10.0), (2L, "p2", 20.0)).toDF("id", "part", "v")
      .write.format("graft").mode("overwrite").option("partitionBy", "part").save(t)
    spark.sql(s"CREATE TABLE graft_ins_tbl USING graft OPTIONS (path '$t')")
    try {
      spark.sql("INSERT INTO graft_ins_tbl VALUES (3, 'p1', 30.0)")
      assert(spark.sql("SELECT count(*) FROM graft_ins_tbl").head.getLong(0) == 3)
      assert(lake.LakeTable.latestSnapshot(spark, t).get.operation == "APPEND")
      // INSERT OVERWRITE replaces the rows but PRESERVES partitioning
      spark.sql("INSERT OVERWRITE graft_ins_tbl VALUES (9, 'p3', 90.0)")
      assert(spark.sql("SELECT count(*) FROM graft_ins_tbl").head.getLong(0) == 1)
      val snap = lake.LakeTable.latestSnapshot(spark, t).get
      assert(snap.operation == "OVERWRITE" && snap.partitionColumns == Seq("part"))
      // every row landed as committed data, never raw files: the log's
      // file list covers exactly what a fresh reader sees
      assert(lake.LakeTable.read(spark, t).count() == 1)
      // static PARTITION specs would bypass the log — rejected loudly
      val e = intercept[Exception] {
        spark.sql("INSERT INTO graft_ins_tbl PARTITION (part='p1') VALUES (5, 50.0)")
      }
      def messages(x: Throwable): Seq[String] =
        Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
      assert(messages(e).exists(_.contains("PARTITION")), s"got: $e")
    } finally spark.sql("DROP TABLE IF EXISTS graft_ins_tbl")
  }

  test("MERGE INTO a registered lake view routes through the log's upsert") {
    import spark.implicits._
    import graft.lake.LakeTable
    val t = java.nio.file.Files.createTempDirectory("sql_merge").toString + "/t"
    LakeTable.overwrite(spark, t,
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "v"))
    LakeTable.readLive(spark, t).createOrReplaceTempView("merge_tgt")
    Seq((2L, "B", 99.0), (3L, "c", 30.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("merge_src")

    // upsert: UPDATE SET * + INSERT *
    spark.sql("""MERGE INTO merge_tgt USING merge_src ON merge_tgt.id = merge_src.id
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.table("merge_tgt").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(rows == Map(1L -> (("a", 10.0)), 2L -> (("B", 99.0)), 3L -> (("c", 30.0))))
    assert(LakeTable.latestSnapshot(spark, t).get.operation == "MERGE")

    // insert-only: matched rows untouched
    Seq((3L, "X", -1.0), (4L, "d", 40.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("merge_src2")
    spark.sql("""MERGE INTO merge_tgt USING merge_src2 ON merge_tgt.id = merge_src2.id
                 WHEN NOT MATCHED THEN INSERT *""")
    val r2 = spark.table("merge_tgt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r2 == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "d"))

    // update-only: unmatched source rows ignored
    Seq((4L, "D", 44.0), (9L, "z", 90.0)).toDF("id", "s", "v")
      .createOrReplaceTempView("merge_src3")
    spark.sql("""MERGE INTO merge_tgt USING merge_src3 ON merge_tgt.id = merge_src3.id
                 WHEN MATCHED THEN UPDATE SET *""")
    val r3 = spark.table("merge_tgt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r3 == Map(1L -> "a", 2L -> "B", 3L -> "c", 4L -> "D"))

    // an action shape MERGE cannot express still fails loudly: a
    // non-column assignment target
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    val badOn = intercept[Exception] {
      spark.sql("""MERGE INTO merge_tgt USING merge_src
                   ON merge_tgt.id > merge_src.id
                   WHEN MATCHED THEN UPDATE SET *""")
    }
    assert(messages(badOn).exists(_.contains("equality")), s"got: $badOn")
  }

  test("MERGE NOT MATCHED BY SOURCE and multiple conditioned INSERT clauses") {
    import spark.implicits._
    import graft.lake.LakeTable
    val t = java.nio.file.Files.createTempDirectory("sql_merge_nmbs").toString + "/t"
    LakeTable.overwrite(spark, t,
      Seq((1L, "keep", 10.0), (2L, "upd", 20.0), (3L, "stale", 30.0), (4L, "stale", 5.0))
        .toDF("id", "s", "v"))
    LakeTable.readLive(spark, t).createOrReplaceTempView("nmbs_tgt")
    Seq((1L, 11.0), (2L, 22.0), (5L, 50.0), (6L, -60.0)).toDF("id", "nv")
      .createOrReplaceTempView("nmbs_src")

    // full surface in one statement: conditioned matched update,
    // two conditioned insert clauses (first-true wins), and NOT MATCHED
    // BY SOURCE delete gated on a target-side condition
    spark.sql("""MERGE INTO nmbs_tgt USING nmbs_src ON nmbs_tgt.id = nmbs_src.id
                 WHEN MATCHED AND nmbs_src.nv > nmbs_tgt.v THEN UPDATE SET v = nmbs_src.nv
                 WHEN NOT MATCHED AND nmbs_src.nv >= 0 THEN INSERT (id, s, v) VALUES (nmbs_src.id, 'new', nmbs_src.nv)
                 WHEN NOT MATCHED AND nmbs_src.nv < 0 THEN INSERT (id, s, v) VALUES (nmbs_src.id, 'neg', -nmbs_src.nv)
                 WHEN NOT MATCHED BY SOURCE AND nmbs_tgt.v < 10 THEN DELETE""")
    val out = spark.table("nmbs_tgt").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(out == Map(
      1L -> (("keep", 11.0)),   // matched, 11 > 10 -> updated
      2L -> (("upd", 22.0)),    // matched, 22 > 20 -> updated
      3L -> (("stale", 30.0)),  // not matched by source, v >= 10 -> kept
      // 4L deleted: not matched by source, v < 10
      5L -> (("new", 50.0)),    // first insert clause
      6L -> (("neg", 60.0))),   // second insert clause
      s"got: $out")

    // NOT MATCHED BY SOURCE UPDATE: flag every unmatched row
    Seq(1L, 5L).toDF("id").createOrReplaceTempView("nmbs_src2")
    spark.sql("""MERGE INTO nmbs_tgt USING nmbs_src2 ON nmbs_tgt.id = nmbs_src2.id
                 WHEN NOT MATCHED BY SOURCE THEN UPDATE SET s = 'orphan'""")
    val flagged = spark.table("nmbs_tgt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(flagged == Map(1L -> "keep", 2L -> "orphan", 3L -> "orphan",
      5L -> "new", 6L -> "orphan"), s"got: $flagged")
  }

  test("MERGE matched conditions, DELETE, and partial SET preserving unassigned columns") {
    import spark.implicits._
    import graft.lake.LakeTable
    val t = java.nio.file.Files.createTempDirectory("sql_merge_rich").toString + "/t"
    LakeTable.overwrite(spark, t,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0))
        .toDF("id", "s", "v"))
    LakeTable.readLive(spark, t).createOrReplaceTempView("mrich_tgt")

    // conditional partial UPDATE: only v is assigned — s must be
    // PRESERVED on updated rows (SQL semantics), and only rows passing
    // the clause condition update
    Seq((1L, 100.0), (2L, 5.0)).toDF("id", "nv").createOrReplaceTempView("mrich_src1")
    spark.sql("""MERGE INTO mrich_tgt USING mrich_src1 ON mrich_tgt.id = mrich_src1.id
                 WHEN MATCHED AND mrich_src1.nv > mrich_tgt.v THEN UPDATE SET v = mrich_src1.nv""")
    val r1 = spark.table("mrich_tgt").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(r1 == Map(1L -> (("a", 100.0)), 2L -> (("b", 20.0)),
      3L -> (("c", 30.0)), 4L -> (("d", 40.0))),
      s"conditional partial update wrong: $r1")

    // WHEN MATCHED DELETE with condition + INSERT: matched-and-passing
    // rows vanish, unmatched source rows insert (unassigned -> null)
    Seq((3L, 1.0), (4L, 999.0), (9L, 90.0)).toDF("id", "nv")
      .createOrReplaceTempView("mrich_src2")
    spark.sql("""MERGE INTO mrich_tgt USING mrich_src2 ON mrich_tgt.id = mrich_src2.id
                 WHEN MATCHED AND mrich_src2.nv < 10 THEN DELETE
                 WHEN NOT MATCHED THEN INSERT (id, v) VALUES (mrich_src2.id, mrich_src2.nv)""")
    val r2 = spark.table("mrich_tgt").collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getDouble(2)))).toMap
    assert(r2 == Map(1L -> ((Some("a"), 100.0)), 2L -> ((Some("b"), 20.0)),
      4L -> ((Some("d"), 40.0)), 9L -> ((None, 90.0))),
      s"delete+insert wrong: $r2")

    // ordered clauses: DELETE claims its rows first, the later
    // unconditional UPDATE takes the rest
    Seq((2L, -1.0), (4L, 44.0)).toDF("id", "nv").createOrReplaceTempView("mrich_src3")
    spark.sql("""MERGE INTO mrich_tgt USING mrich_src3 ON mrich_tgt.id = mrich_src3.id
                 WHEN MATCHED AND mrich_src3.nv < 0 THEN DELETE
                 WHEN MATCHED THEN UPDATE SET v = mrich_src3.nv""")
    val r3 = spark.table("mrich_tgt").collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(r3 == Map(1L -> 100.0, 4L -> 44.0, 9L -> 90.0), s"ordered clauses wrong: $r3")

    // cardinality violation: duplicate source keys fail loudly
    def messages(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ messages(y.getCause))
    Seq((4L, 1.0), (4L, 2.0)).toDF("id", "nv").createOrReplaceTempView("mrich_dup")
    val dup = intercept[Exception] {
      spark.sql("""MERGE INTO mrich_tgt USING mrich_dup ON mrich_tgt.id = mrich_dup.id
                   WHEN MATCHED THEN UPDATE SET v = mrich_dup.nv""")
    }
    assert(messages(dup).exists(_.contains("duplicate")), s"got: $dup")

    // DuckDB-style oracle: replay the same four states imperatively
    // and compare final contents (values already asserted above; this
    // pins the FULL row set one more way)
    assert(spark.table("mrich_tgt").count() == 3)
  }

  test("SQL MERGE auto-scopes when partition columns are merge keys: disjoint dates race cleanly") {
    import spark.implicits._
    import graft.lake.LakeTable
    val t = java.nio.file.Files.createTempDirectory("sql_merge_scope").toString + "/t"
    LakeTable.overwrite(spark, t,
      Seq((1L, "d1", 10.0), (2L, "d1", 20.0), (3L, "d2", 30.0), (4L, "d2", 40.0))
        .toDF("id", "dt", "v"),
      partitionBy = Seq("dt"))
    LakeTable.readLive(spark, t).createOrReplaceTempView("mscope_tgt")
    Seq((2L, "d1", 99.0)).toDF("id", "dt", "v").createOrReplaceTempView("mscope_s1")
    Seq((3L, "d2", 77.0), (5L, "d2", 50.0)).toDF("id", "dt", "v")
      .createOrReplaceTempView("mscope_s2")
    val base = LakeTable.latestSnapshot(spark, t).get.version
    // both ON keys include the partition column -> auto-scoped; racing
    // merges into DIFFERENT dates must BOTH commit (disjoint rebase),
    // with no caller retry
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    def mergeTask(src: String) =
      pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          start.await()
          spark.sql(s"""MERGE INTO mscope_tgt USING $src
                        ON mscope_tgt.id = $src.id AND mscope_tgt.dt = $src.dt
                        WHEN MATCHED THEN UPDATE SET *
                        WHEN NOT MATCHED THEN INSERT *""")
          ()
        }
      })
    val fa = mergeTask("mscope_s1"); val fb = mergeTask("mscope_s2")
    start.countDown()
    fa.get(); fb.get()
    pool.shutdown()
    assert(LakeTable.latestSnapshot(spark, t).get.version == base + 2,
      "both scoped merges should have committed")
    val out = spark.table("mscope_tgt").select("id", "v")
      .as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 10.0, 2L -> 99.0, 3L -> 77.0, 4L -> 40.0, 5L -> 50.0))
  }

  test("DELETE FROM rewrites only the files containing matches; SQL and API agree") {
    import spark.implicits._
    import graft.lake.LakeTable
    import org.apache.spark.sql.functions.col
    val t = java.nio.file.Files.createTempDirectory("sql_delete").toString + "/t"
    // two files with disjoint id ranges -> a selective delete touches one
    LakeTable.overwrite(spark, t,
      spark.range(100).select(col("id"), (col("id") % 7).as("grp"))
        .repartitionByRange(2, col("id")))
    val before = LakeTable.latestSnapshot(spark, t).get
    assert(before.files.size == 2)

    // API delete: one matching range -> exactly one file rewritten
    val v = LakeTable.delete(spark, t, col("id") >= 90)
    val after = LakeTable.latestSnapshot(spark, t).get
    assert(after.version == v && after.operation == "DELETE")
    assert(LakeTable.read(spark, t).count() == 90)
    // the low-range file carried over by reference (same logged path)
    assert(after.files.map(_.path).toSet.intersect(before.files.map(_.path).toSet).size == 1)
    // time travel still sees the deleted rows
    assert(LakeTable.read(spark, t, asOf = Some(before.version)).count() == 100)
    // nothing-matched delete: no new version
    assert(LakeTable.delete(spark, t, col("id") > 1000) == v)

    // SQL surface over a registered live view
    LakeTable.readLive(spark, t).createOrReplaceTempView("del_tgt")
    spark.sql("DELETE FROM del_tgt WHERE grp = 3 AND id < 50")
    assert(spark.table("del_tgt").count() ==
      (0L until 90L).count(i => !(i % 7 == 3 && i < 50)))
    // NULL-condition rows are kept: delete on a null comparison removes nothing
    spark.sql("DELETE FROM del_tgt WHERE null = id")
    assert(spark.table("del_tgt").count() ==
      (0L until 90L).count(i => !(i % 7 == 3 && i < 50)))
  }

  test("UPDATE rewrites only matched files; SET can move rows across partitions") {
    import spark.implicits._
    import graft.lake.LakeTable
    import org.apache.spark.sql.functions.col
    val t = java.nio.file.Files.createTempDirectory("sql_update").toString + "/t"
    LakeTable.overwrite(spark, t,
      spark.range(100).select(col("id"), (col("id") % 2 === 0).as("even"),
        (col("id") * 10).as("v")).repartitionByRange(2, col("id")))
    val before = LakeTable.latestSnapshot(spark, t).get
    assert(before.files.size == 2)

    // API update: one range matched -> one file rewritten, one carried
    LakeTable.update(spark, t, Seq("v" -> (col("v") + 1)), col("id") >= 90)
    val after = LakeTable.latestSnapshot(spark, t).get
    assert(after.operation == "UPDATE")
    assert(after.files.map(_.path).toSet.intersect(before.files.map(_.path).toSet).size == 1)
    val got = LakeTable.read(spark, t).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((0L until 100L).forall(i => got(i) == (if (i >= 90) i * 10 + 1 else i * 10)))

    // SQL surface, expression referencing another column + WHERE
    LakeTable.readLive(spark, t).createOrReplaceTempView("upd_tgt")
    spark.sql("UPDATE upd_tgt SET v = id WHERE id < 5")
    val g2 = spark.table("upd_tgt").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((0L until 5L).forall(i => g2(i) == i) && g2(10L) == 100L)
    // time travel still sees the original values
    assert(LakeTable.read(spark, t, asOf = Some(before.version)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap.apply(0L) == 0L)

    // updating a partition column re-routes rows to their new directory
    val tp = java.nio.file.Files.createTempDirectory("sql_update_part").toString + "/t"
    LakeTable.overwrite(spark, tp,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "part"), partitionBy = Seq("part"))
    LakeTable.update(spark, tp, Seq("part" -> org.apache.spark.sql.functions.lit("c")),
      col("id") === 2)
    val rows = LakeTable.read(spark, tp).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "c", 3L -> "b"))
    // and a partition filter finds the moved row (dir layout is real)
    assert(LakeTable.read(spark, tp).filter(col("part") === "c").count() == 1)
  }

  test("sketch functions are available in SQL without registration") {
    // GraftSession.builder injects GraftExtensions — no Sketches.register
    GraftCatalog.registerTables(spark, sf)
    val row = spark.sql(
      """SELECT doc_id,
           simhash_bits(transform(split(trim(text), '\\s+'), t -> xxhash64(t))) AS sh,
           dot_d(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp
         FROM documents LIMIT 1""").head
    assert(row.getAs[Double]("dp") == 11.0)
    assert(row.getAs[Long]("sh") != 0L)
  }

  test("a pure-SQL session reads the batch change feed of a DML range") {
    import spark.implicits._
    import graft.lake.LakeTable
    import org.apache.spark.sql.functions.col
    val t = java.nio.file.Files.createTempDirectory("sql_cdf").toString + "/t"
    LakeTable.overwrite(spark, t, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")) // v1
    LakeTable.append(spark, t, Seq((3L, 30.0)).toDF("id", "v"))                // v2
    LakeTable.delete(spark, t, col("id") === 1L)                               // v3
    LakeTable.update(spark, t, Seq("v" -> (col("v") + 1)), col("id") === 2L)   // v4
    // SQL-only surface: a temp view over the feed options
    spark.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW cdf_feed
          USING graft
          OPTIONS (path '$t', readChangeFeed 'true', startingVersion '2')""")
    val viaSql = spark.sql(
      s"""SELECT ${LakeTable.CommitVersionCol}, id, v, ${LakeTable.ChangeTypeCol}
          FROM cdf_feed ORDER BY 1, 2, 4""")
      .as[(Long, Long, Double, String)].collect().toSeq
    val viaApi = LakeTable.changes(spark, t, 2L, 4L)
      .select(LakeTable.CommitVersionCol, "id", "v", LakeTable.ChangeTypeCol)
      .as[(Long, Long, Double, String)].collect().toSeq.sorted
    assert(viaSql.sorted == viaApi, s"SQL feed $viaSql != API feed $viaApi")
    assert(viaSql.exists(_._4 == "delete") && viaSql.exists(_._4 == "update_postimage"))
    // filters compose in SQL over the feed
    assert(spark.sql(
      s"SELECT count(*) FROM cdf_feed WHERE ${LakeTable.ChangeTypeCol} = 'insert'")
      .head.getLong(0) == 1L)
    // an invalid range names itself in the error
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("readChangeFeed", "true").option("startingVersion", "99")
        .load(t)
    }
    assert(e.getMessage.contains("[99, 4]"))
    val e2 = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true").load(t)
    }
    assert(e2.getMessage.contains("startingVersion"))
  }

  test("OPTIMIZE ... WHERE compacts only the scoped partition") {
    import org.apache.spark.sql.functions._
    import graft.lake.LakeTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_optw").toString + "/t"
    LakeTable.overwrite(spark, t,
      Seq((1L, "d1"), (2L, "d2")).toDF("id", "dt"), partitionBy = Seq("dt"))
    (3L to 8L).foreach(i => LakeTable.append(spark, t,
      Seq((i, if (i % 2 == 0) "d2" else "d1")).toDF("id", "dt")))
    def filesIn(p: String): Int = LakeTable.latestSnapshot(spark, t).get
      .files.count(_.path.startsWith(s"dt=$p/"))
    val (d1Before, d2Before) = (filesIn("d1"), filesIn("d2"))
    assert(d1Before >= 3 && d2Before >= 3)
    spark.sql(s"OPTIMIZE `$t` WHERE dt = 'd1'").collect()
    assert(filesIn("d1") < d1Before, "scoped partition must bin-pack")
    assert(filesIn("d2") == d2Before, "out-of-scope partition untouched")
    assert(LakeTable.read(spark, t).count() == 8)
  }

  test("maintenance SQL: OPTIMIZE / VACUUM / RESTORE / ADD|DROP CONSTRAINT") {
    import org.apache.spark.sql.functions._
    import graft.lake.LakeTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_maint").toString + "/t"
    LakeTable.overwrite(spark, t, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount"))
    (3L to 6L).foreach(i =>
      LakeTable.append(spark, t, Seq((i, i * 10.0)).toDF("id", "amount")))
    val preFiles = LakeTable.latestSnapshot(spark, t).get.files.size
    assert(preFiles >= 5)

    // OPTIMIZE by path (backticks) bin-packs the small files
    val v1 = spark.sql(s"OPTIMIZE `$t`").head.getLong(0)
    assert(LakeTable.latestSnapshot(spark, t).get.files.size < preFiles)
    assert(LakeTable.read(spark, t).count() == 6)

    // OPTIMIZE a registered view with SORT BY clusters (disjoint bounds)
    spark.read.format("graft").load(t).createOrReplaceTempView("maint_v")
    (7L to 9L).foreach(i =>
      LakeTable.append(spark, t, Seq((i, i * 10.0)).toDF("id", "amount")))
    spark.sql("OPTIMIZE maint_v SORT BY (id)").collect()
    assert(LakeTable.read(spark, t).count() == 9)

    // ALTER TABLE ADD CONSTRAINT enforces; violating append refused
    spark.sql(s"ALTER TABLE `$t` ADD CONSTRAINT amount_positive CHECK (amount > 0)")
      .collect()
    assert(LakeTable.latestSnapshot(spark, t).get.constraints
      .contains("amount_positive"))
    val err = intercept[Exception](
      LakeTable.append(spark, t, Seq((99L, -1.0)).toDF("id", "amount")))
    def msgs(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + " | " + msgs(x.getCause)
    assert(msgs(err).contains("CHECK constraint violated"))
    spark.sql(s"ALTER TABLE `$t` DROP CONSTRAINT amount_positive").collect()
    LakeTable.append(spark, t, Seq((99L, -1.0)).toDF("id", "amount"))

    // RESTORE ... VERSION AS OF rolls back (to the post-OPTIMIZE state)
    spark.sql(s"RESTORE `$t` TO VERSION AS OF $v1").collect()
    assert(LakeTable.read(spark, t).count() == 6)

    // VACUUM DRY RUN counts the same set the real run would (both 0
    // here: the age grace protects seconds-old files — the full vacuum
    // semantics are covered in LakeSpec); the table stays readable
    val dry = spark.sql(s"VACUUM `$t` RETAIN 2 VERSIONS DRY RUN").head.getLong(0)
    val real = spark.sql(s"VACUUM `$t` RETAIN 2 VERSIONS").head.getLong(0)
    assert(dry == real, s"dry $dry real $real")
    assert(LakeTable.read(spark, t).count() == 6)

    // everything else still parses through the delegate
    assert(spark.sql("SELECT 1 + 1").head.getInt(0) == 2)
    // a non-graft target names itself in the error
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("not_lake")
    val e3 = intercept[IllegalArgumentException](spark.sql("OPTIMIZE not_lake").collect())
    assert(e3.getMessage.contains("not_lake"))
  }

  test("DESCRIBE HISTORY / DESCRIBE DETAIL read the log, not the data") {
    import org.apache.spark.sql.functions._
    import graft.lake.LakeTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_desc").toString + "/t"
    // one file per hive partition, so the MoR delete below leaves a
    // dv-bearing entry (a fully-deleted file would drop outright)
    LakeTable.overwrite(spark, t,
      Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
        .toDF("id", "grp", "amount").repartition(1), partitionBy = Seq("grp"))
    LakeTable.append(spark, t, Seq((4L, "b", 40.0)).toDF("id", "grp", "amount"))
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 2L)
    spark.sql(s"ALTER TABLE `$t` ADD CONSTRAINT amt_pos CHECK (amount > 0)").collect()

    val hist = spark.sql(s"DESCRIBE HISTORY `$t`").collect()
    assert(hist.length == 4)
    assert(hist.head.getLong(0) == 4L) // latest first
    assert(hist.map(_.getString(2)).toSeq ==
      Seq("ADD CONSTRAINT", "DELETE", "APPEND", "OVERWRITE"))
    // history values agree with the snapshot they summarize
    assert(hist(1).getLong(3) ==
      LakeTable.snapshotAt(spark, t, 3).files.size.toLong)

    val d = spark.sql(s"DESCRIBE DETAIL `$t`").head
    assert(d.getString(0) == "graft")
    assert(d.getLong(1) == 4L)                       // version
    assert(d.getString(3) == "ADD CONSTRAINT")       // operation
    val snap = LakeTable.latestSnapshot(spark, t).get
    assert(d.getLong(4) == snap.files.size.toLong)   // num_files
    assert(d.getLong(5) == snap.files.map(_.size).sum)
    assert(d.getLong(6) == 3L)                       // live rows after dv
    assert(d.getLong(7) == 1L)                       // one dv-bearing file
    assert(d.getString(8) == "grp")                  // partition columns
    assert(d.isNullAt(9))                            // no bucket spec
    assert(d.isNullAt(10))                           // no generated columns
    assert(d.getString(11) == "amt_pos")
    assert(d.getLong(12) == 3L && d.getLong(13) == 4L) // protocol stamps

    // a bucketed table reports its layout
    val b = java.nio.file.Files.createTempDirectory("sql_desc_b").toString + "/b"
    LakeTable.overwriteBucketed(spark, b,
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), numBuckets = 4,
      bucketCols = Seq("k"))
    val db = spark.sql(s"DESCRIBE DETAIL `$b`").head
    assert(db.getString(9) == "buckets=4 by=k")

    // a generated (hidden-partitioned) table reports its transforms
    val g = java.nio.file.Files.createTempDirectory("sql_desc_g").toString + "/g"
    LakeTable.overwriteGenerated(spark, g,
      Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 10:00:00")))
        .toDF("id", "ts"),
      Seq(graft.lake.GeneratedColumns.Spec("p_day", "day", "ts")))
    val dg = spark.sql(s"DESCRIBE DETAIL `$g`").head
    assert(dg.getString(8) == "p_day")
    assert(dg.getString(10) == "p_day=day(ts)")
    // DESC abbreviation parses too
    assert(spark.sql(s"DESC HISTORY `$b`").count() == 1)
  }

  test("REORG TABLE APPLY (PURGE) rewrites exactly the dv-carrying files") {
    import org.apache.spark.sql.functions._
    import graft.lake.LakeTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_reorg").toString + "/t"
    // two files; vector only one of them
    LakeTable.overwrite(spark, t, (0L until 100L).map(i => (i, s"a$i")).toDF("id", "s"))
    LakeTable.append(spark, t, (100L until 200L).map(i => (i, s"b$i")).toDF("id", "s"))
    LakeTable.deleteMergeOnRead(spark, t, $"id" === 5L)
    val before = LakeTable.latestSnapshot(spark, t).get
    assert(before.files.count(_.dv.isDefined) == 1)
    val untouched = before.files.filter(_.dv.isEmpty).map(_.path).toSet
    val v = spark.sql(s"REORG TABLE `$t` APPLY (PURGE)").head.getLong(0)
    val after = LakeTable.snapshotAt(spark, t, v)
    assert(after.files.forall(_.dv.isEmpty), "purge must clear every vector")
    // the dv-free file was NOT rewritten (carried by reference)
    assert(untouched.subsetOf(after.files.map(_.path).toSet))
    assert(LakeTable.read(spark, t).count() == 199)
    // nothing to purge → no-op version
    assert(spark.sql(s"REORG TABLE `$t` APPLY (PURGE)").head.getLong(0) == v)
  }

  test("SHOW PARTITIONS and VACUUM RETAIN HOURS parse and read the log") {
    import org.apache.spark.sql.functions._
    import graft.lake.LakeTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_showp").toString + "/t"
    LakeTable.overwrite(spark, t,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp").repartition(1),
      partitionBy = Seq("grp"))
    LakeTable.append(spark, t, Seq((4L, "a")).toDF("id", "grp"))
    val parts = spark.sql(s"SHOW PARTITIONS `$t`").collect()
    assert(parts.map(_.getString(0)).toSeq == Seq("grp=a", "grp=b"))
    val a = parts.find(_.getString(0) == "grp=a").get
    assert(a.getLong(1) == 2L)  // seed file + appended file
    assert(a.getLong(2) == 3L)  // live rows
    val b = parts.find(_.getString(0) == "grp=b").get
    assert(b.getLong(1) == 1L && b.getLong(2) == 1L)
    // live rows drop through a MoR delete without rewriting files
    LakeTable.deleteMergeOnRead(spark, t, col("id") === 2L)
    assert(spark.sql(s"SHOW PARTITIONS `$t`").collect()
      .find(_.getString(0) == "grp=a").get.getLong(2) == 2L)
    // unpartitioned target refuses with a clear message
    val u = java.nio.file.Files.createTempDirectory("sql_showp_u").toString + "/u"
    LakeTable.overwrite(spark, u, Seq((1L, 1.0)).toDF("id", "x"))
    val e = intercept[IllegalArgumentException](
      spark.sql(s"SHOW PARTITIONS `$u`").collect())
    assert(e.getMessage.contains("not partitioned"))
    // time-based vacuum parses through SQL; wide window sweeps nothing
    assert(spark.sql(s"VACUUM `$t` RETAIN 168 HOURS DRY RUN").head.getLong(0) == 0L)
    assert(LakeTable.read(spark, t).count() == 3)
  }

  test("column-evolution SQL: ADD COLUMNS / RENAME COLUMN / DROP COLUMN on a path") {
    import org.apache.spark.sql.functions._
    import graft.lake.LakeTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_coldl").toString + "/t"
    LakeTable.overwrite(spark, t, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "amount"))

    spark.sql(s"ALTER TABLE `$t` ADD COLUMNS (note STRING, score INT)").collect()
    val s1 = LakeTable.latestSnapshot(spark, t).get
    assert(s1.schema.fieldNames.toSeq == Seq("id", "amount", "note", "score"))
    // metadata-only: old files read the new columns as null
    assert(LakeTable.read(spark, t).filter(col("note").isNull).count() == 2)

    spark.sql(s"ALTER TABLE `$t` RENAME COLUMN amount TO amt").collect()
    assert(LakeTable.read(spark, t).select("amt").as[Double].collect().sorted
      .sameElements(Array(10.0, 20.0)))

    spark.sql(s"ALTER TABLE `$t` DROP COLUMN score").collect()
    assert(LakeTable.latestSnapshot(spark, t).get.schema.fieldNames.toSeq ==
      Seq("id", "amt", "note"))
    // dropped-then-re-added name reads null, never the old bytes
    spark.sql(s"ALTER TABLE `$t` ADD COLUMNS (score INT)").collect()
    assert(LakeTable.read(spark, t).filter(col("score").isNotNull).count() == 0)

    // catalog-table ALTER still parses through the delegate (identifier
    // target — our intercept is quoted-path only)
    val e = intercept[Exception](
      spark.sql("ALTER TABLE some_missing_table ADD COLUMNS (x INT)"))
    assert(!e.getMessage.contains("graft lake table"))
  }

  test("RESTORE TO TIMESTAMP AS OF resolves like the timestampAsOf read option") {
    import graft.lake.LakeTable
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_rts").toString + "/t"
    LakeTable.overwrite(spark, t, Seq((1L, 1.0)).toDF("id", "x"))
    val ts1 = LakeTable.latestSnapshot(spark, t).get.timestampMs
    Thread.sleep(20)
    LakeTable.append(spark, t, Seq((2L, 2.0)).toDF("id", "x"))
    assert(LakeTable.read(spark, t).count() == 2)
    // restore to the instant right after v1's commit → back to 1 row
    val v = spark.sql(s"RESTORE `$t` TO TIMESTAMP AS OF ${ts1 + 1}").head.getLong(0)
    assert(v == 3L)
    assert(LakeTable.read(spark, t).count() == 1)
  }

  test("SELECT-level time travel: [FOR] VERSION/TIMESTAMP AS OF pins like the read option") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_tt").toString + "/t"
    LakeTable.overwrite(spark, t, Seq((1L, 1.0)).toDF("id", "x"))      // v1
    val ts1 = LakeTable.latestSnapshot(spark, t).get.timestampMs
    Thread.sleep(20)
    LakeTable.append(spark, t, Seq((2L, 2.0)).toDF("id", "x"))         // v2
    LakeTable.update(spark, t, Seq("x" -> lit(9.0)), col("id") === 1L) // v3
    // Trino's FOR form on a quoted path
    assert(spark.sql(s"SELECT id, x FROM `$t` FOR VERSION AS OF 1")
      .as[(Long, Double)].collect().toSet == Set((1L, 1.0)))
    // Spark's FOR-less form; pinned SELECT equals read(asOf)
    assert(spark.sql(s"SELECT id, x FROM `$t` VERSION AS OF 2")
      .as[(Long, Double)].collect().toSet ==
      LakeTable.read(spark, t, asOf = Some(2L))
        .select("id", "x").as[(Long, Double)].collect().toSet)
    // TIMESTAMP AS OF (same literal forms RESTORE takes)
    assert(spark.sql(s"SELECT count(*) FROM `$t` FOR TIMESTAMP AS OF ${ts1 + 1}")
      .head.getLong(0) == 1L)
    // composes through a registered live view, including a self-join of
    // two pinned versions; the unpinned view still reads the head
    LakeTable.readLive(spark, t).createOrReplaceTempView("tt_live")
    assert(spark.sql(
      """SELECT a.id, a.x, b.x FROM tt_live FOR VERSION AS OF 1 a
         JOIN tt_live FOR VERSION AS OF 3 b ON a.id = b.id""")
      .as[(Long, Double, Double)].collect().toSet == Set((1L, 1.0, 9.0)))
    assert(spark.sql("SELECT sum(x) FROM tt_live").head.getDouble(0) == 11.0)
    // a bad version fails loudly at parse time
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM `$t` FOR VERSION AS OF 99"))
    assert(e.getMessage != null)
    // a quoted version literal coerces instead of NumberFormatException
    assert(spark.sql(s"SELECT count(*) FROM `$t` FOR VERSION AS OF '2'")
      .head.getLong(0) == 2L)
    // string literals and comments are NEVER rewritten: the exact
    // pattern inside a literal survives byte for byte, and a trailing
    // comment carrying it does not disturb the statement
    assert(spark.sql("SELECT 'audit FROM tt_live VERSION AS OF 1 done' AS s")
      .head.getString(0) == "audit FROM tt_live VERSION AS OF 1 done")
    assert(spark.sql("SELECT 'x FROM table_changes(y, 1) z' AS s")
      .head.getString(0) == "x FROM table_changes(y, 1) z")
    assert(spark.sql(
      s"SELECT count(*) FROM `$t` FOR VERSION AS OF 1 -- FROM tt_live VERSION AS OF 99\n")
      .head.getLong(0) == 1L)
    // a backslash-escaped quote inside a literal (Spark's default
    // lexer mode) must not desync the mask: the travel clause AFTER
    // the literal still rewrites, the literal itself survives
    assert(spark.sql(
      s"SELECT 'don\\'t' AS s, count(*) AS n FROM `$t` FOR VERSION AS OF 1")
      .head.getString(0) == "don't")
    // a malformed TIMESTAMP literal falls through to the delegate's
    // own parse error (same contract as junk VERSION), not a graft
    // stack trace at mask/rewrite time
    val eTs = intercept[Exception](
      spark.sql(s"SELECT * FROM `$t` FOR TIMESTAMP AS OF 'not-a-time'").collect())
    assert(!String.valueOf(eTs.getMessage).contains("graft"))
    // a non-graft table_changes target falls through to the delegate's
    // own error, not graft's resolver message
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM table_changes('no_such_thing_xyz', 1)").collect())
    assert(!String.valueOf(e2.getMessage).contains("does not resolve to a graft lake table"))
  }

  test("table_changes() replays an incremental fold from spark.sql alone") {
    import graft.lake.LakeTable
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_tvf").toString + "/t"
    LakeTable.overwrite(spark, t, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")) // v1
    LakeTable.append(spark, t, Seq((3L, 30.0)).toDF("id", "v"))                // v2
    LakeTable.delete(spark, t, col("id") === 1L)                               // v3
    LakeTable.update(spark, t, Seq("v" -> (col("v") + 1)), col("id") === 2L)   // v4
    // the TVF rewrite equals the API feed, typed and stamped
    val viaSql = spark.sql(
      s"""SELECT ${LakeTable.CommitVersionCol}, id, v, ${LakeTable.ChangeTypeCol}
          FROM table_changes('$t', 2, 4)""")
      .as[(Long, Long, Double, String)].collect().toSeq.sorted
    val viaApi = LakeTable.changes(spark, t, 2L, 4L)
      .select(LakeTable.CommitVersionCol, "id", "v", LakeTable.ChangeTypeCol)
      .as[(Long, Long, Double, String)].collect().toSeq.sorted
    assert(viaSql == viaApi, s"TVF feed $viaSql != API feed $viaApi")
    // the incr fold, SQL only: latest surviving image per key == the table
    val replayed = spark.sql(
      s"""SELECT id, v FROM (
            SELECT id, v, ${LakeTable.ChangeTypeCol} AS ct, row_number() OVER (
              PARTITION BY id ORDER BY ${LakeTable.CommitVersionCol} DESC,
              CASE WHEN ${LakeTable.ChangeTypeCol} IN ('insert', 'update_postimage')
                   THEN 1 ELSE 0 END DESC) AS rn
            FROM table_changes('$t', 1, 4))
          WHERE rn = 1 AND ct IN ('insert', 'update_postimage')""")
      .as[(Long, Double)].collect().toSet
    assert(replayed == LakeTable.read(spark, t)
      .select("id", "v").as[(Long, Double)].collect().toSet)
    // end version defaults to the latest commit; view names resolve too
    LakeTable.readLive(spark, t).createOrReplaceTempView("tvf_live")
    assert(spark.sql(s"SELECT count(*) FROM table_changes('$t', 4)")
      .head.getLong(0) == 2L) // v4 = update pre+post images
    assert(spark.sql("SELECT count(*) FROM table_changes(tvf_live, 1, 2)")
      .head.getLong(0) == 3L) // v1-v2 inserts
  }

  test("PUBLISH TABLE lands a branch's audited delta from pure SQL") {
    import graft.lake.LakeTable
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("sql_wap").toString
    val (src, br) = (s"$d/src", s"$d/branch")
    LakeTable.overwrite(spark, src, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x"))
    spark.sql(s"CREATE TABLE `$br` SHALLOW CLONE `$src`").collect()
    LakeTable.append(spark, br, Seq((3L, 30.0)).toDF("id", "x"))
    val v = spark.sql(s"PUBLISH TABLE `$br` TO `$src`").head.getLong(0)
    assert(v == 2L)
    assert(LakeTable.read(spark, src).count() == 3)
    // NO COPY variant: zero-copy foreign references
    LakeTable.append(spark, br, Seq((4L, 40.0)).toDF("id", "x"))
    val e = intercept[Exception](
      spark.sql(s"PUBLISH TABLE `$br` TO `$src`").collect())
    // the already-copied file is REUSED (same size — the crash-recovery
    // replay path GraftTxn's roll-forward needs), so the refusal comes
    // from the fast-forward write-set check, not the copy step
    assert(e.getMessage.contains("independently added") ||
      e.getMessage.contains("already exists"),
      s"re-publishing the same branch files must refuse: ${e.getMessage}")
    assert(LakeTable.read(spark, src).count() == 3,
      "the refused publish must not have changed the source")
  }

  test("APPLY CHANGES INTO drives scd2 CDC semantics from spark.sql alone") {
    import graft.lake.LakeTable
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("sql_scd2").toString
    val (src, dim) = (s"$d/src", s"$d/dim")
    LakeTable.overwrite(spark, src,
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("k", "status", "score")) // v1
    spark.sql(s"APPLY CHANGES INTO `$dim` FROM `$src` KEYS (k) " +
      "TRACK (status, score) STORED AS SCD TYPE 2").collect()
    assert(LakeTable.read(spark, dim).count() == 3, "initial build opens every key")

    // the source's own DML, also via SQL
    spark.read.format("graft").load(src).createOrReplaceTempView("ac_src")
    spark.sql("UPDATE ac_src SET status = 'z' WHERE k = 1") // v2
    spark.sql("DELETE FROM ac_src WHERE k = 2")             // v3
    val v = spark.sql(s"APPLY CHANGES INTO `$dim` FROM `$src` " +
      "KEYS (k) TRACK (status, score)").head.getLong(0)

    val state = LakeTable.read(spark, dim)
      .select("k", "status", "score", "valid_from", "valid_to", "is_current")
      .as[(Long, String, Long, Long, Option[Long], Boolean)].collect().toSet
    assert(state == Set(
      (1L, "a", 1L, 1L, Some(2L), false), // closed at its update's commit version
      (1L, "z", 1L, 2L, None, true),
      (2L, "b", 2L, 1L, Some(3L), false), // retired at its delete's commit version
      (3L, "c", 3L, 1L, None, true)))     // untouched key stays open

    // replay is watermark-idempotent: same version back, no new commit
    val v2 = spark.sql(s"APPLY CHANGES INTO `$dim` FROM `$src` " +
      "KEYS (k) TRACK (status, score)").head.getLong(0)
    assert(v2 == v, "replayed APPLY CHANGES must no-op on the watermark")
  }

  test("APPLY CHANGES STORED AS SCD TYPE 1 overwrites in place, no history") {
    import graft.lake.LakeTable
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("sql_scd1").toString
    val (src, dim) = (s"$d/src", s"$d/dim")
    LakeTable.overwrite(spark, src,
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("k", "status", "score")) // v1
    def apply1(): Long = spark.sql(s"APPLY CHANGES INTO `$dim` FROM `$src` " +
      "KEYS (k) TRACK (status, score) STORED AS SCD TYPE 1").head.getLong(0)
    apply1()
    assert(LakeTable.read(spark, dim).columns.toSet == Set("k", "status", "score"),
      "TYPE 1 keeps no interval bookkeeping columns")

    spark.read.format("graft").load(src).createOrReplaceTempView("ac1_src")
    spark.sql("UPDATE ac1_src SET status = 'z' WHERE k = 1")            // v2
    spark.sql("DELETE FROM ac1_src WHERE k = 2")                        // v3
    LakeTable.append(spark, src, Seq((4L, "d", 4L)).toDF("k", "status", "score")) // v4
    val v = apply1()

    // final state == a plain upsert replay: update in place, delete
    // removes the key, insert lands — no closed rows anywhere
    val state = LakeTable.read(spark, dim)
      .as[(Long, String, Long)].collect().toSet
    assert(state == Set((1L, "z", 1L), (3L, "c", 3L), (4L, "d", 4L)))

    // replay is watermark-idempotent
    assert(apply1() == v, "replayed TYPE 1 APPLY CHANGES must no-op")

    // a malformed column list fails at parse time, not inside applyFeed
    val e = intercept[Exception](
      spark.sql(s"APPLY CHANGES INTO `$dim` FROM `$src` KEYS ( , ) " +
        "TRACK (status) STORED AS SCD TYPE 1").collect())
    assert(e.getMessage.contains("no usable column names"), e.getMessage)
  }

  test("CREATE/REFRESH INCREMENTAL VIEW drives incr-join semantics from spark.sql alone") {
    import graft.lake.LakeTable
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("sql_incrv").toString
    val (l, r, tgt) = (s"$d/facts", s"$d/dims", s"$d/view")
    LakeTable.overwrite(spark, l,
      Seq((1L, 10L, 1.0), (2L, 20L, 2.0), (3L, 10L, 3.0)).toDF("id", "k", "v"))
    LakeTable.overwrite(spark, r,
      Seq((10L, "a"), (20L, "b"), (30L, "c")).toDF("k", "name"))

    // CREATE runs the initial build and persists the definition
    spark.sql(s"CREATE INCREMENTAL VIEW `$tgt` PRIMARY KEY (id) AS " +
      s"SELECT * FROM `$l` l JOIN `$r` r ON l.k = r.k").collect()
    def state(): Set[(Long, Long, Double, String)] = LakeTable.read(spark, tgt)
      .select("id", "k", "v", "name").as[(Long, Long, Double, String)]
      .collect().toSet
    assert(state() == Set((1L, 10L, 1.0, "a"), (2L, 20L, 2.0, "b"),
      (3L, 10L, 3.0, "a")))

    // source DML via SQL, then REFRESH: cost-of-the-change semantics
    spark.read.format("graft").load(l).createOrReplaceTempView("iv_facts")
    spark.read.format("graft").load(r).createOrReplaceTempView("iv_dims")
    spark.sql(s"INSERT INTO iv_facts VALUES (4, 30, 4.0)")
    spark.sql(s"UPDATE iv_dims SET name = 'B' WHERE k = 20")
    spark.sql(s"DELETE FROM iv_facts WHERE id = 1")
    val v = spark.sql(s"REFRESH INCREMENTAL VIEW `$tgt`").head.getLong(0)
    assert(state() == Set((2L, 20L, 2.0, "B"), (3L, 10L, 3.0, "a"),
      (4L, 30L, 4.0, "c")))
    // idle sources: REFRESH is a watermark no-op
    assert(spark.sql(s"REFRESH INCREMENTAL VIEW `$tgt`").head.getLong(0) == v)
    // re-CREATE over an existing view refuses
    val e1 = intercept[Exception](
      spark.sql(s"CREATE INCREMENTAL VIEW `$tgt` PRIMARY KEY (id) AS " +
        s"SELECT * FROM `$l` l JOIN `$r` r ON l.k = r.k").collect())
    assert(e1.getMessage.contains("already an incremental view"), e1.getMessage)

    // aggregate form: sums/count fold from the feed, min/max hybrid
    val agg = s"$d/agg_view"
    spark.sql(s"CREATE INCREMENTAL VIEW `$agg` AS " +
      s"SELECT k, sum(v) AS total, count(*) AS n, max(v) AS hi " +
      s"FROM `$l` GROUP BY k").collect()
    def aggState(): Set[(Long, Double, Long, Double)] = LakeTable.read(spark, agg)
      .select("k", "total", "n", "hi").as[(Long, Double, Long, Double)]
      .collect().toSet
    assert(aggState() == Set((10L, 3.0, 1L, 3.0), (20L, 2.0, 1L, 2.0),
      (30L, 4.0, 1L, 4.0)))
    spark.sql(s"INSERT INTO iv_facts VALUES (5, 10, 7.0)")
    spark.sql(s"DELETE FROM iv_facts WHERE id = 3") // retires the group max
    spark.sql(s"REFRESH INCREMENTAL VIEW `$agg`").collect()
    assert(aggState() == Set((10L, 7.0, 1L, 7.0), (20L, 2.0, 1L, 2.0),
      (30L, 4.0, 1L, 4.0)))
  }

  test("a stale thread's time-travel pins age out of eviction protection") {
    import graft.lake.{GraftSqlParser, LakeTable}
    import spark.implicits._
    val t = java.nio.file.Files.createTempDirectory("sql_pin_stale").toString + "/t"
    val versions = GraftSqlParser.MaxPinnedViews + 3
    LakeTable.overwrite(spark, t, Seq(1L).toDF("id")) // v1
    (2 to versions).foreach(i => LakeTable.append(spark, t, Seq(i.toLong).toDF("id")))
    def graftViews: Int = spark.sessionState.catalog
      .listLocalTempViews("graft_tt_*").size
    // a worker thread pins ONE snapshot view, then never parses again —
    // its in-flight set must not protect that pin forever (weak keys
    // alone only release on thread death)
    val worker = new Thread(() =>
      spark.sql(s"SELECT count(*) FROM `$t` FOR VERSION AS OF 1").collect())
    worker.start(); worker.join()
    // this thread then parses more statements than StalePinGenerations,
    // pinning a fresh snapshot each time: once the worker's set is
    // stale, crossing MaxPinnedViews must evict its view — the pinned
    // set returns to (at most) the cap instead of idling above it
    (2 to versions).foreach { v =>
      spark.sql(s"SELECT count(*) FROM `$t` FOR VERSION AS OF $v").collect()
    }
    assert(graftViews <= GraftSqlParser.MaxPinnedViews,
      s"pinned views idle above the cap: $graftViews")
    // an evicted pin is re-registered on demand — same deterministic name
    assert(spark.sql(s"SELECT count(*) FROM `$t` FOR VERSION AS OF 1")
      .head.getLong(0) == 1L)
  }
}
