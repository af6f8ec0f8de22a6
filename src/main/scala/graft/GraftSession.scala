package graft

import org.apache.spark.sql.SparkSession

/** Session factory with confs tuned for the engine.
  *
  * Local testing uses `local[32]`; the conf set below is chosen so the
  * same plans scale to a multi-executor cluster: AQE for runtime
  * coalescing/skew handling, explicit shuffle-partition count, UTC
  * session time zone for oracle parity.
  */
object GraftSession {
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Spark still DEFAULTS parquet timestamps to legacy INT96, whose
      // footer min/max graft's stats collection (ParquetStats) cannot
      // trust — with INT96 no lake-written timestamp column gets logged
      // bounds, so time-range file skipping and whole-file retention
      // proofs silently degrade to full candidacy. INT64 micros is the
      // modern representation every engine reads.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config(graft.lake.LocalFs.ImplConf, graft.lake.LocalFs.Impl)

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // restore the lake-table SQL surface when a warehouse is configured
    // (spark.graft.warehouse) — the Glue-catalog analog for consumers.
    // Once per (session, warehouse): repeated get() calls must not
    // re-read _catalog.json and re-resolve every table's snapshot —
    // the restored views are live (format "graft"), so a second restore
    // buys nothing.
    val wh = s.conf.getOption("spark.graft.warehouse")
    if (wh.isDefined && s.conf.getOption("spark.graft.warehouse.restored") != wh) {
      // only latch the flag when something was actually restored: a
      // consumer session created BEFORE the producer materialized (no
      // _catalog.json yet) must retry on its next get(), not stay
      // empty forever
      if (GraftCatalog.init(s).nonEmpty)
        s.conf.set("spark.graft.warehouse.restored", wh.get)
    }
    s
  }

  /** Ensure confs that matter for plan shape/correctness are applied to a
    * session we did not build (Verify/Bench construct their own).
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark
  }
}
