package graft

import org.apache.spark.sql.functions._
import graft.sources.Bronze

class BronzeSpec extends SparkSpec {
  test("landing->bronze roundtrip stamps metadata and partitions by date") {
    val tmp = java.nio.file.Files.createTempDirectory("bronze").toString
    val out = Bronze.ingest(spark, s"$sf/customer.parquet", "parquet",
      "peoplesoft-analog", "customer", "2026-08-12", "batch-001", s"$tmp/customer")
    assert(out.columns.contains("_ingest_date"))
    val read = spark.read.parquet(s"$tmp/customer")
    assert(read.count() == Tables.customer(spark, sf).count())
    assert(read.select("_source_system").distinct().head.getString(0) == "peoplesoft-analog")
    // partition pruning works on the ingest date
    assert(read.filter(col("_ingest_date") === "2026-08-12").count() == read.count())
    assert(read.filter(col("_ingest_date") === "1999-01-01").count() == 0)
  }

  test("streaming ingest picks up landing files into bronze") {
    val tmp = java.nio.file.Files.createTempDirectory("stream_ingest").toString
    val nat = Tables.nation(spark, sf)
    nat.write.mode("overwrite").parquet(s"$tmp/landing")
    val q = Bronze.streamIngest(spark, s"$tmp/landing", nat.schema,
      "highered-analog", "nation", "2026-08-12", s"$tmp/bronze", s"$tmp/ckpt")
    q.processAllAvailable()
    // a second file lands: the sensor analog picks it up incrementally
    nat.limit(5).write.mode("append").parquet(s"$tmp/landing")
    q.processAllAvailable()
    q.stop()
    val bronze = spark.read.parquet(s"$tmp/bronze")
    assert(bronze.count() == 30)
    assert(bronze.select("_source_system").distinct().head.getString(0) == "highered-analog")
  }

  test("streaming ingest resumes from checkpoint without re-ingesting") {
    val tmp = java.nio.file.Files.createTempDirectory("stream_resume").toString
    val nat = Tables.nation(spark, sf)
    nat.write.mode("overwrite").parquet(s"$tmp/landing")
    val q1 = Bronze.streamIngest(spark, s"$tmp/landing", nat.schema,
      "sap-analog", "nation", "2026-08-12", s"$tmp/bronze", s"$tmp/ckpt")
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(s"$tmp/bronze").count() == 25)
    // new file lands while the query is down; a restarted query with the
    // same checkpoint must ingest ONLY the new file (exactly-once)
    nat.limit(3).write.mode("append").parquet(s"$tmp/landing")
    val q2 = Bronze.streamIngest(spark, s"$tmp/landing", nat.schema,
      "sap-analog", "nation", "2026-08-12", s"$tmp/bronze", s"$tmp/ckpt")
    q2.processAllAvailable()
    q2.stop()
    assert(spark.read.parquet(s"$tmp/bronze").count() == 28)
  }

  test("csv and json landing formats roundtrip") {
    val tmp = java.nio.file.Files.createTempDirectory("landing").toString
    val nat = Tables.nation(spark, sf)
    nat.write.mode("overwrite").option("header", "true").csv(s"$tmp/nation_csv")
    nat.write.mode("overwrite").json(s"$tmp/nation_json")
    val fromCsv = Bronze.readLanding(spark, s"$tmp/nation_csv", "csv")
    val fromJson = Bronze.readLanding(spark, s"$tmp/nation_json", "json")
    assert(fromCsv.count() == 25)
    assert(fromJson.count() == 25)
    assert(fromJson.columns.sorted.sameElements(nat.columns.sorted))
  }
}

class PipelineSpec extends SparkSpec {
  test("daily run materializes silver+gold and passes the quality gate") {
    val tmp = java.nio.file.Files.createTempDirectory("warehouse").toString
    val counts = Pipeline.runAll(spark, sf, tmp)
    assert(counts.keySet == Pipeline.silverModels.keySet ++ Pipeline.goldModels.keySet)
    assert(counts("dim_customer") == Tables.customer(spark, sf).count())
    assert(counts("gold_funnel") > 0)
    // materialized tables are readable lake tables with one commit each
    val gsm = Pipeline.tablePath(tmp, "gold", "gold_sales_metrics")
    assert(lake.LakeTable.read(spark, gsm).count() == counts("gold_sales_metrics"))
    assert(lake.LakeTable.versions(spark, gsm) == Seq(1L))
    // materialized schemas match the declared contracts
    (Pipeline.silverModels.keySet.map(("silver", _)) ++ Pipeline.goldModels.keySet.map(("gold", _)))
      .foreach { case (layer, name) =>
        val actual = lake.LakeTable.read(spark, Pipeline.tablePath(tmp, layer, name)).schema
        assert(operators.Contracts.conforms(actual, operators.Contracts.all(name)),
          s"$name: ${operators.Contracts.drift(actual, operators.Contracts.all(name))}")
      }
    // a re-run is an atomic versioned overwrite, not an in-place clobber
    val counts2 = Pipeline.runGold(spark, sf, tmp)
    assert(counts2("gold_sales_metrics") == counts("gold_sales_metrics"))
    assert(lake.LakeTable.versions(spark, gsm) == Seq(1L, 2L))
    // every silver table carries the pk_not_null invariant, and it is
    // ENFORCED on later writes (not just re-audited): a null-key append
    // into the warehouse table is refused at write time
    Pipeline.silverModels.keySet.foreach { name =>
      val t = Pipeline.tablePath(tmp, "silver", name)
      assert(lake.LakeTable.latestSnapshot(spark, t).get.constraints
        .contains("pk_not_null"), s"$name missing pk_not_null")
    }
    val dimC = Pipeline.tablePath(tmp, "silver", "dim_customer")
    val bad = lake.LakeTable.read(spark, dimC).limit(1)
      .withColumn("customer_key",
        org.apache.spark.sql.functions.lit(null).cast("string"))
    val e = intercept[Exception](lake.LakeTable.append(spark, dimC, bad))
    def msgs(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + " | " + msgs(x.getCause)
    assert(msgs(e).contains("CHECK constraint violated"))
  }

  test("a failing model propagates after the others commit; no staging left, no catalog") {
    val tmp = java.nio.file.Files.createTempDirectory("warehouse_fail").toString
    // fails inside its staged write (a task failure), not at plan time
    def broken(tag: String): (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame =
      (s, d) => Tables.nation(s, d).withColumn("n_name",
        coalesce(raise_error(lit(s"injected failure $tag")).cast("string"), col("n_name")))
    val good = Pipeline.silverModels.filter { case (n, _) => n.startsWith("dim_") }
    val models = good + ("dim_c_broken" -> broken("c")) + ("dim_z_broken" -> broken("z"))
    val e = intercept[Exception] {
      Pipeline.materialize(spark, sf, tmp, "silver", models)(())
    }
    def chain(x: Throwable): String =
      if (x == null) "" else Option(x.getMessage).getOrElse("") + " | " + chain(x.getCause)
    // the first failing model in name order propagates; the other rides
    // along as suppressed
    assert(chain(e).contains("injected failure c"), chain(e))
    assert(e.getSuppressed.exists(x => chain(x).contains("injected failure z")),
      e.getSuppressed.map(chain).mkString("; "))
    // every other model finished and committed, with its invariant
    good.keys.foreach { name =>
      val snap = lake.LakeTable.latestSnapshot(spark, Pipeline.tablePath(tmp, "silver", name))
      assert(snap.exists(_.constraints.contains("pk_not_null")), s"$name not committed")
    }
    // no staged write is left under any model table, failed ones included
    models.keys.foreach { name =>
      val staging = new java.io.File(Pipeline.tablePath(tmp, "silver", name), "_staging")
      assert(Option(staging.list()).forall(_.isEmpty),
        s"$name: left ${Option(staging.list()).map(_.mkString(",")).getOrElse("")}")
    }
    assert(!new java.io.File(tmp, "_catalog.json").exists(), "catalog written despite a failure")
  }

  test("partitioned facts prune on the partition column") {
    val tmp = java.nio.file.Files.createTempDirectory("warehouse_part").toString
    Pipeline.runSilver(spark, sf, tmp)
    val li = lake.LakeTable.read(spark, Pipeline.tablePath(tmp, "silver", "fact_lineitem"))
    val pruned = li.filter(col("ship_date") === java.sql.Date.valueOf("1996-01-02"))
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    // the partition filter reached the file index and pruned the scan
    assert(scan.partitionFilters.nonEmpty, "no partition filters on the scan")
    val totalParts = li.select("ship_date").distinct().count()
    assert(scan.selectedPartitions.partitionCount < totalParts,
      s"scan read ${scan.selectedPartitions.partitionCount} of $totalParts partitions")
    assert(scan.selectedPartitions.partitionCount <= 1)
    // and the data still reads correctly under the pruned plan
    val expected = operators.Conform.factLineitem(spark, sf)
      .filter(col("ship_date") === java.sql.Date.valueOf("1996-01-02")).count()
    assert(pruned.count() == expected)
  }

  test("late-arriving fact corrections MERGE into the partitioned fact table") {
    val tmp = java.nio.file.Files.createTempDirectory("warehouse_merge").toString
    Pipeline.runSilver(spark, sf, tmp)
    val t = Pipeline.tablePath(tmp, "silver", "fact_lineitem")
    val cur = lake.LakeTable.read(spark, t)
    val total = cur.count()
    // lineitem_key is md5(orderkey-linenumber) and the source data has
    // duplicate (orderkey, linenumber) pairs — pick verified-unique keys
    val uniqueKeys = cur.groupBy("lineitem_key").count()
      .filter(col("count") === 1).limit(3).select("lineitem_key")
    val updates = cur.join(uniqueKeys, Seq("lineitem_key"))
      .withColumn("l_quantity", col("l_quantity") + 1000.0)
    val nUpd = updates.count()
    assert(nUpd == 3)
    val before = lake.LakeTable.latestSnapshot(spark, t).get
    lake.LakeTable.merge(spark, t, updates, keys = Seq("lineitem_key"))
    val after = lake.LakeTable.read(spark, t)
    assert(after.count() == total)
    // the corrections landed: total quantity moved by exactly 3000
    val sumBefore = cur.agg(sum("l_quantity")).head.getDouble(0)
    val sumAfter = after.agg(sum("l_quantity")).head.getDouble(0)
    assert(math.abs(sumAfter - sumBefore - 3000.0) < 1e-6)
    // copy-on-write stayed file-granular: most files carried over
    val snap = lake.LakeTable.latestSnapshot(spark, t).get
    val carried = before.filePaths.toSet.intersect(snap.filePaths.toSet)
    assert(carried.size >= before.files.size - nUpd.toInt)
  }

  test("incremental date refresh rewrites only that date's partition files") {
    val tmp = java.nio.file.Files.createTempDirectory("warehouse_incr").toString
    Pipeline.runSilver(spark, sf, tmp)
    val t = Pipeline.tablePath(tmp, "silver", "fact_events")
    val full = lake.LakeTable.read(spark, t)
    val total = full.count()
    val day = full.select(col("event_date")).distinct().orderBy("event_date")
      .head.getDate(0).toString
    val before = lake.LakeTable.latestSnapshot(spark, t).get
    Pipeline.refreshFactEvents(spark, sf, tmp, Seq(day))
    val after = lake.LakeTable.latestSnapshot(spark, t).get
    // same rows (idempotent replay of an unchanged day)...
    assert(lake.LakeTable.read(spark, t).count() == total)
    assert(after.operation == "MERGE" && after.version == before.version + 1)
    // ...and the rewrite stayed inside that day's partition
    val removed = before.filePaths.toSet.diff(after.filePaths.toSet)
    val added = after.filePaths.toSet.diff(before.filePaths.toSet)
    assert(removed.nonEmpty && added.nonEmpty)
    assert(removed.forall(_.startsWith(s"event_date=$day/")), removed.mkString(","))
    assert(added.forall(_.startsWith(s"event_date=$day/")), added.mkString(","))
    // content unchanged vs a fresh full conform
    val expected = operators.Conform.factEvents(spark, sf).count()
    assert(total == expected)
  }

  test("bucketed fact join plans with zero shuffle exchanges") {
    Pipeline.materializeBucketedFacts(spark, sf, buckets = 4)
    val joined = Pipeline.bucketedOrderRevenue(spark)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected co-located bucketed join, got:\n$plan")
    // and the result matches the unbucketed equivalent
    val expected = operators.Conform.factLineitem(spark, sf)
      .groupBy("l_orderkey").count().count()
    assert(joined.count() == expected)
  }

  test("freshness SLA gate fails stale sources before materialization") {
    val lags = operators.Quality.dqFreshness(spark, sf)
      .select("lag_ms").collect().map(_.getLong(0))
    assert(lags.max > 0, "test data should have unevenly fresh sources")
    // threshold below the worst lag: that source breaches, others pass
    val gate = operators.Quality.dqFreshnessGate(spark, sf, maxLagMs = lags.max - 1)
    assert(gate.filter(not(col("passed"))).count() >= 1)
    assert(gate.filter(col("passed")).count() >= 1)
    // a tolerant threshold passes everything
    assert(operators.Quality.dqFreshnessGate(spark, sf, lags.max)
      .filter(not(col("passed"))).count() == 0)
    // wired into the silver run: breach aborts BEFORE any table is written
    val tmp = java.nio.file.Files.createTempDirectory("warehouse_sla").toString
    val e = intercept[IllegalStateException] {
      Pipeline.runSilver(spark, sf, tmp, freshnessSlaMs = Some(lags.max - 1))
    }
    assert(e.getMessage.contains("freshness gate failed"))
    assert(lake.LakeTable.versions(spark,
      Pipeline.tablePath(tmp, "silver", "fact_events")).isEmpty)
  }

  test("wall-clock SLA catches a total outage the relative-lag gate is blind to") {
    val fresh = operators.Quality.dqFreshness(spark, sf).collect()
    val maxTs = fresh.map(_.getAs[Long]("last_ts_ms")).max
    val maxLag = fresh.map(_.getAs[Long]("lag_ms")).max
    // simulate "ingest halted an hour ago": every source is uniformly
    // an hour older than the pinned clock. Relative lag alone passes...
    val hour = 3600L * 1000
    val now = () => maxTs + hour
    val blind = operators.Quality.dqFreshnessGate(spark, sf, maxLagMs = maxLag)
    assert(blind.filter(not(col("passed"))).count() == 0)
    // ...the wall-clock SLA breaches every source
    val gate = operators.Quality.dqFreshnessGate(spark, sf, maxLagMs = maxLag,
      maxAgeMs = Some(hour - 1), nowMs = now)
    assert(gate.filter(col("passed")).count() == 0)
    assert(gate.columns.contains("age_ms") && gate.columns.contains("max_age_ms"))
    // a tolerant age bound passes everything again
    assert(operators.Quality.dqFreshnessGate(spark, sf, maxLag,
      Some(hour + maxLag), now).filter(not(col("passed"))).count() == 0)
    // wired into runSilver: the age-only breach aborts before any write
    val tmp = java.nio.file.Files.createTempDirectory("warehouse_age").toString
    val e = intercept[IllegalStateException] {
      Pipeline.runSilver(spark, sf, tmp, freshnessMaxAgeMs = Some(0L))
    }
    assert(e.getMessage.contains("freshness gate failed"))
    assert(lake.LakeTable.versions(spark,
      Pipeline.tablePath(tmp, "silver", "fact_events")).isEmpty)
  }

  test("lineage covers every silver and gold model column, tagged and described") {
    val lin = operators.Lineage.lineage(spark, sf)
    val models = lin.select("model").distinct().collect().map(_.getString(0)).toSet
    assert(models == Pipeline.silverModels.keySet ++ Pipeline.goldModels.keySet)
    // every output column of each model appears in lineage
    (Pipeline.silverModels ++ Pipeline.goldModels).foreach { case (name, fn) =>
      val cols = fn(spark, sf).columns.toSet
      val linCols = lin.filter(col("model") === name)
        .select("column_name").distinct().collect().map(_.getString(0)).toSet
      assert(linCols == cols, s"$name: lineage $linCols vs actual $cols")
    }
    // the OpenMetadata surface: every row carries a description and the
    // model's PII/Domain/Tier tags, with the Tier tag naming the layer
    val rows = lin.collect()
    rows.foreach { r =>
      val (m, d, t) = (r.getString(0), r.getString(3), r.getString(4))
      assert(d.nonEmpty, s"$m.${r.getString(1)}: missing description")
      assert(t.contains("PII:") && t.contains("Domain:") && t.contains("Tier:"),
        s"$m: incomplete tag taxonomy '$t'")
      val tier = if (Pipeline.goldModels.contains(m)) "Tier:Gold" else "Tier:Silver"
      assert(t.contains(tier), s"$m: wrong tier in '$t'")
    }
  }
}
