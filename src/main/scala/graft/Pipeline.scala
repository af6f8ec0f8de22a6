package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_millis, to_date}
import graft.lake.LakeTable
import graft.operators.{Analytics, Conform, Contracts, Quality}

/** Layered pipeline runner — the compute analog of the reference's
  * scheduled jobs (ref: defs/schedules/defs.yaml: bronze_nightly_
  * ingestion → silver_daily_transforms → gold_daily_analytics), minus
  * the scheduler itself (cron/sensors are an orchestration concern; the
  * Structured Streaming pipelines in graft.streaming cover the
  * event-driven path).
  *
  * Running a layer materializes its models to `warehouseDir/<layer>/
  * <model>` as graft.lake transaction-log tables — the analog of the
  * reference's Iceberg-table-per-transform layout (ref:
  * trino_iceberg_transform_component.py:116-123): atomic versioned
  * overwrites, time travel, schema evolution and MERGE, with the
  * 100 TB fact tables date-partitioned so time filters prune at the
  * file-index level. Quality gates (row checks + declared schema
  * contracts) guard each layer like the reference's asset checks.
  *
  * A layer's models read only bronze, so they materialize
  * CONCURRENTLY, one thread per model ([[materialize]]): each table's
  * log commits independently, so writers to different tables need no
  * coordination. Silver's freshness gate still runs first, before any
  * write; its quality gate (bronze-only) runs beside the models and its
  * verdict is checked once they have all finished.
  */
object Pipeline {

  val silverModels: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dim_customer"  -> Conform.dimCustomer _,
    "dim_part"      -> Conform.dimPart _,
    "dim_supplier"  -> Conform.dimSupplier _,
    "fact_lineitem" -> Conform.factLineitem _,
    "fact_orders"   -> Conform.factOrders _,
    "fact_events"   -> Conform.factEvents _)

  val goldModels: Map[String, (SparkSession, String) => DataFrame] = Map(
    "gold_sales_metrics" -> Analytics.goldSalesMetrics _,
    "gold_finance"       -> Analytics.goldFinance _,
    "gold_funnel"        -> Analytics.goldFunnel _)

  /** Date partitioning for the tables that are huge at 100 TB: a time
    * filter on them must prune files, not scan seven years. Dims and
    * gold rollups stay unpartitioned (schema-bounded or small).
    */
  val partitioning: Map[String, Seq[String]] = Map(
    "fact_events"   -> Seq("event_date"),
    "fact_lineitem" -> Seq("ship_date"))

  /** Materialization-time derived columns (partition keys that are not
    * model output columns). Declared in the schema contract — they are
    * part of the stored table a consumer sees.
    */
  private def withDerived(name: String, df: DataFrame): DataFrame = name match {
    case "fact_events" =>
      df.withColumn("event_date", to_date(timestamp_millis(col("ts_ms"))))
    case _ => df
  }

  def tablePath(warehouseDir: String, layer: String, name: String): String =
    s"$warehouseDir/$layer/$name"

  /** Table-level invariant attached at materialization: the silver
    * surrogate key is never null. This upgrades the reference's
    * ERROR-severity not_null_pk audit (trino_iceberg_transform_
    * component.py:192-206) from re-checked-after-every-run to
    * ENFORCED on every subsequent write — an incremental MERGE
    * ([[refreshFactEvents]]) or ad-hoc append cannot introduce a null
    * key in the first place. Idempotent: attached once, carried by the
    * log thereafter.
    */
  private val silverPk: Map[String, String] = Map(
    "dim_customer" -> "customer_key", "dim_part" -> "part_key",
    "dim_supplier" -> "supplier_key", "fact_lineitem" -> "lineitem_key",
    "fact_orders" -> "order_key", "fact_events" -> "event_key")

  /** Materialize `models` into `warehouseDir/<layer>/`, each model's
    * whole body (overwrite, contract check, pk_not_null, count) on its
    * own thread of a pool sized to the model count, while `beside` runs
    * on the calling thread. Every model is joined before the catalog is
    * published. A failing model rethrows — the first in name order,
    * the others suppressed on it — and the catalog is not written; a
    * model failure outranks any failure of `beside`, which is rethrown
    * only after the catalog is written.
    */
  private[graft] def materialize[G](spark: SparkSession, srcDir: String, warehouseDir: String,
                                    layer: String,
                                    models: Map[String, (SparkSession, String) => DataFrame])(
                                    beside: => G): (Map[String, Long], G) = {
    val byName = models.toSeq.sortBy(_._1)
    val (counts, aside) = Parallel.mapAllBeside(byName, byName.size) { case (name, fn) =>
      val out = tablePath(warehouseDir, layer, name)
      val df = withDerived(name, fn(spark, srcDir))
      LakeTable.overwrite(spark, out, df, partitioning.getOrElse(name, Nil))
      val materialized = LakeTable.read(spark, out)
      Contracts.all.get(name).foreach { expected =>
        val drift = Contracts.drift(materialized.schema, expected)
        if (drift.nonEmpty)
          throw new IllegalStateException(s"schema contract violated for $name: $drift")
      }
      silverPk.get(name).foreach { pk =>
        val has = LakeTable.latestSnapshot(spark, out)
          .exists(_.constraints.contains("pk_not_null"))
        if (!has)
          LakeTable.addConstraint(spark, out, "pk_not_null", s"$pk IS NOT NULL")
      }
      materialized.count()
    }(beside)
    // materialization registers in the warehouse's persistent catalog
    // (the Glue analog) — a fresh session restores the tables by name
    // from the directory alone (GraftCatalog.restoreLake/init)
    GraftCatalog.saveCatalog(spark, warehouseDir)
    (byName.map(_._1).zip(counts).toMap, aside.get)
  }

  /** silver_daily_transforms analog: conform all dims/facts
    * concurrently, with the quality gate running beside them. Returns
    * per-model row counts; throws if any zero-violation check fails
    * (the reference's ERROR severity).
    *
    * `freshnessSlaMs` is the max tolerated staleness of any event
    * source behind the freshest one; a breach fails the run BEFORE
    * materializing (don't build silver from stale bronze — the
    * reference gates freshness at landing, s3_data_landing_component
    * .py:176-196). `freshnessMaxAgeMs` additionally gates against wall
    * clock, catching the total-outage case where every source is
    * uniformly stale and relative lag reads 0.
    */
  def runSilver(spark: SparkSession, srcDir: String, warehouseDir: String,
                freshnessSlaMs: Option[Long] = None,
                freshnessMaxAgeMs: Option[Long] = None): Map[String, Long] = {
    if (freshnessSlaMs.isDefined || freshnessMaxAgeMs.isDefined) {
      val sla = freshnessSlaMs.getOrElse(Long.MaxValue)
      val stale = Quality.dqFreshnessGate(spark, srcDir, sla, freshnessMaxAgeMs)
        .filter(org.apache.spark.sql.functions.not(org.apache.spark.sql.functions.col("passed")))
        .collect()
      if (stale.nonEmpty)
        throw new IllegalStateException("freshness gate failed: " + stale
          .map(r => s"${r.getAs[String]("event_type")} lags ${r.getAs[Long]("lag_ms")}ms" +
            (if (freshnessMaxAgeMs.isDefined) s" (age ${r.getAs[Long]("age_ms")}ms)" else ""))
          .mkString(", "))
    }
    val (counts, failures) = materialize(spark, srcDir, warehouseDir, "silver", silverModels)(
      Quality.dqChecks(spark, srcDir)
        .filter(org.apache.spark.sql.functions.not(org.apache.spark.sql.functions.col("passed")))
        .collect())
    if (failures.nonEmpty)
      throw new IllegalStateException(
        s"quality gate failed: ${failures.map(r => s"${r.get(0)}/${r.get(1)}=${r.get(2)}").mkString(", ")}")
    counts
  }

  /** Incremental silver refresh for the date-partitioned fact_events:
    * conform ONLY the given event dates and MERGE them into the
    * existing lake table by event_key. This is the daily operating
    * mode at 100 TB — a late-landing or corrected day touches that
    * day's partition files (the MERGE's copy-on-write is file-
    * granular and the matched keys all live in the refreshed dates'
    * partitions), while a full overwrite would rewrite years of
    * history. Idempotent: replaying a date converges to the same
    * table. Returns the committed version.
    */
  def refreshFactEvents(spark: SparkSession, srcDir: String, warehouseDir: String,
                        dates: Seq[String]): Long = {
    val t = tablePath(warehouseDir, "silver", "fact_events")
    val updates = withDerived("fact_events", Conform.factEvents(spark, srcDir))
      .filter(org.apache.spark.sql.functions.col("event_date")
        .isin(dates.map(java.sql.Date.valueOf): _*))
    // event_key determines event_date, so the matched-file detection can
    // be scoped to the refreshed dates' partitions — the one-day refresh
    // reads one day's files, not the whole fact
    LakeTable.merge(spark, t, updates, keys = Seq("event_key"),
      scopeToUpdatePartitions = true)
  }

  /** gold_daily_analytics analog. */
  def runGold(spark: SparkSession, srcDir: String, warehouseDir: String): Map[String, Long] =
    materialize(spark, srcDir, warehouseDir, "gold", goldModels)(())._1

  /** Full daily run: silver (with quality gate) then gold. */
  def runAll(spark: SparkSession, srcDir: String, warehouseDir: String,
             freshnessSlaMs: Option[Long] = None): Map[String, Long] =
    runSilver(spark, srcDir, warehouseDir, freshnessSlaMs) ++
      runGold(spark, srcDir, warehouseDir)

  /** Bucketed fact materialization: fact_lineitem and fact_orders are
    * written bucketed + sorted on the order key, so every downstream
    * order-grain join between them is co-located — zero shuffle
    * exchanges at any scale. This is the Spark-native equivalent of the
    * co-location the reference gets from Iceberg partitioning; at
    * 100 TB the bucket count is sized so one bucket fits an executor.
    */
  def materializeBucketedFacts(spark: SparkSession, srcDir: String,
                               buckets: Int = 32): Unit = {
    // idempotent across JVMs: the in-memory catalog forgets tables on
    // restart but their warehouse directories persist, and saveAsTable
    // refuses to reuse an orphan location
    Seq("graft_fact_lineitem_b", "graft_fact_orders_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // Hadoop Path/FileSystem resolves the warehouse URI (scheme or
      // plain path, spaces included) uniformly — no java.net.URI parsing
      val loc = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    Conform.factLineitem(spark, srcDir).write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_fact_lineitem_b")
    Conform.factOrders(spark, srcDir).write.mode("overwrite")
      .format("parquet")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_fact_orders_b")
  }

  /** Order-grain revenue join over the bucketed facts (plans with no
    * shuffle exchange — see PipelineSpec).
    */
  def bucketedOrderRevenue(spark: SparkSession): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.table("graft_fact_lineitem_b")
      .join(spark.table("graft_fact_orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        first(col("o_totalprice")).as("o_totalprice"))
  }
}
