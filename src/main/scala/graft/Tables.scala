package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed loaders for the lakehouse tables (one parquet per table).
  *
  * Mirrors the reference's bronze layer (ref:
  * s3_data_landing_component.py — raw Parquet per source table); here
  * each loader is a parquet scan that Catalyst can push filters and
  * column pruning into.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in two physical forms across testdata drops:
    * parquet TIMESTAMP(NANOS) (readable only via the nanos-as-long legacy
    * conf) and plain timestamp[us] (read as TIMESTAMP_NTZ). Probe the
    * loaded schema and branch instead of hard-coding either quirk, and
    * normalize to a session-zone TimestampType `ts` (sessions run UTC, so
    * epoch values match DuckDB's `epoch_ms(CAST(ts AS TIMESTAMP))`).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw =
      try load(s, d, "events")
      catch {
        case e: Exception if e.getMessage != null && e.getMessage.contains("NANOS") =>
          // Scope the legacy handling to this relation. Schema
          // INFERENCE only honors the session conf, so set it for the
          // one synchronous inference and restore in a finally — then
          // hand the inferred schema to a fresh read whose nanos
          // handling rides a per-relation READ OPTION (merged into the
          // scan's hadoopConf at execution). The session conf is back
          // to its prior value before this function returns, so no
          // later parquet read in the session changes behavior. The flip
          // is serialized: two concurrent loads (the pipeline runs its
          // models side by side) must not capture each other's `true`
          // as the prior value.
          val key = "spark.sql.legacy.parquet.nanosAsLong"
          val inferred = Tables.synchronized {
            val prior = s.conf.getOption(key)
            s.conf.set(key, "true")
            try load(s, d, "events").schema
            finally prior match {
              case Some(v) => s.conf.set(key, v)
              case None    => s.conf.unset(key)
            }
          }
          s.read.schema(inferred).option(key, "true")
            .parquet(s"$d/events.parquet")
      }
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other; expected long (nanos), timestamp, or timestamp_ntz")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
