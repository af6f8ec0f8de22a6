package graft.lake

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset, StreamExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StructField, StructType}

/** Structured Streaming sink for lake tables —
  * `df.writeStream.format("graft").option("checkpointLocation", …)
  * .start(path)` — with END-TO-END exactly-once semantics: each
  * micro-batch commits atomically through the transaction log, and the
  * snapshot's `txns` watermark (queryId → batchId) makes the
  * post-restart replay of the last batch a no-op instead of duplicate
  * rows. This replaces the `foreachBatch` + manual-idempotence pattern
  * the same way the reference's hourly Dagster materializations land in
  * Iceberg tables (ref: trino_iceberg_transform_component.py:116-123)
  * rather than raw files: a reader half-way through a batch never sees
  * it, and a re-run batch never lands twice.
  *
  * Append mode appends (schema-evolving, like batch appends); Complete
  * mode replaces the table per batch (for streaming aggregations);
  * Update mode is rejected — a keyed upsert stream should use
  * `foreachBatch` + [[LakeTable.merge]], which needs the key columns
  * that OutputMode does not carry.
  */
private[lake] class GraftSink(spark: SparkSession, path: String,
                              partitionColumns: Seq[String],
                              outputMode: OutputMode,
                              autoCompact: Boolean = false)
    extends Sink with Logging {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // The micro-batch's plan carries streaming leaves the writer API
    // refuses; re-wrap its physical rows as a batch frame. The rows are
    // computed lazily, once, by the write job itself.
    val session = data.sparkSession
    val batchDf = SqlShims.internalCreateDataFrame(
      session, SqlShims.rowsOf(data), data.schema, isStreaming = false)
    // the watermark key: stable across restarts of the same checkpoint
    val queryId = Option(session.sparkContext
        .getLocalProperty(StreamExecution.QUERY_ID_KEY))
      .getOrElse(throw new IllegalStateException(
        "graft sink invoked outside a streaming query (no queryId local property)"))
    val committed =
      if (outputMode == OutputMode.Complete())
        LakeTable.overwriteStream(session, path, batchDf, queryId, batchId, partitionColumns)
      else
        LakeTable.appendStream(session, path, batchDf, queryId, batchId, partitionColumns)
    if (committed.isEmpty)
      logInfo(s"graft sink: batch $batchId of query $queryId already in the log at " +
        s"$path — replay skipped")
    // per-micro-batch commits are THE small-file generator: bin-pack the
    // just-touched partitions once they cross the threshold (no-op
    // otherwise; a replayed batch triggers nothing). The streaming
    // SOURCE delivers rows before the COMPACT version and skips it as
    // a byte-level rewrite, so downstream readers are unaffected.
    else if (autoCompact) LakeTable.autoCompact(session, path)
  }

  override def toString: String = s"GraftSink[$path]"
}

/** Structured Streaming source tailing a lake table —
  * `spark.readStream.format("graft").load(path)` — the change-feed
  * reader that turns any graft table into a queue: a downstream
  * pipeline stage follows upstream commits instead of re-scanning,
  * which at 100 TB is the difference between incremental and
  * recompute-the-world.
  *
  * Offsets are transaction-log versions — durable, totally ordered,
  * and replayable (a version's file list never mutates), exactly what
  * exactly-once recovery needs. A batch for (v₁, v₂] is the set of
  * files ADDED by the commits in that range, read through the native
  * parquet scan path (pruning and pushdown still apply; the leaves are
  * re-marked streaming via [[SqlShims.asStreaming]]).
  *
  * Per-commit semantics over the range:
  *  - APPEND / STREAMING APPEND / insert-only MERGE: added files are
  *    emitted.
  *  - COMPACT: skipped entirely — it rewrites bytes, not rows, so its
  *    "added" files are data the stream already delivered.
  *  - any commit that REMOVES files (OVERWRITE, row-rewriting MERGE):
  *    the table is no longer append-only; the source fails loudly
  *    unless `option("skipChangeCommits", "true")` opts into skipping
  *    such commits wholesale (Delta's semantics under the same name).
  *
  * The first batch delivers the full snapshot current at that moment
  * (the stream then tails from there); `option("startingVersion", v)`
  * starts tailing at `v` INSTEAD of the initial snapshot, delivering
  * the changes of version v and later — INCLUSIVE of v, matching
  * Delta's option of the same name. The value is validated against the
  * table's existing version range at source construction (1 ≤ v ≤
  * latest + 1; `latest + 1` means "only commits after now").
  *
  * Batches are derived from the log's per-commit DELTAS: a version's
  * added files are read straight from its commit entry — O(commits in
  * range) metadata, independent of table size. The pinned schema is
  * revalidated per tailed commit: upstream schema evolution or a
  * partition-layout change mid-stream fails loudly with a restart hint
  * (Delta stops the stream the same way) instead of silently
  * projecting the new column away.
  */
private[lake] class GraftSource(spark: SparkSession, table: String,
                                options: Map[String, String])
    extends Source with Logging {

  private val skipChangeCommits =
    options.get("skipChangeCommits").exists(_.equalsIgnoreCase("true"))
  private val readChangeFeed =
    options.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  private val initialSnapshot = LakeTable.latestSnapshot(spark, table)
    .getOrElse(throw new IllegalArgumentException(
      s"cannot stream from $table: no committed version"))

  /** Exclusive lower bound derived from the INCLUSIVE user option.
    * `startingTimestamp` (Delta's option, same semantics) resolves to
    * the first commit AT OR AFTER the given instant — epoch millis,
    * `yyyy-MM-dd`, or `yyyy-MM-dd HH:mm:ss` UTC, like `timestampAsOf`;
    * a timestamp before the first commit starts from version 1, one
    * after the latest delivers only future commits. O(tail) through the
    * snapshot checkpoint's commit summaries, exactly like time travel.
    */
  private val startingVersion: Option[Long] = {
    if (options.contains("startingVersion") && options.contains("startingTimestamp"))
      throw new IllegalArgumentException(
        "startingVersion and startingTimestamp are mutually exclusive")
    val byVersion = options.get("startingVersion").map { raw =>
      val v = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"startingVersion must be a version number, got '$raw'"))
      val latest = initialSnapshot.version
      if (v < 1 || v > latest + 1)
        throw new IllegalArgumentException(
          s"startingVersion $v is outside the version range of $table: versions " +
            s"start at 1 and the latest commit is $latest (use ${latest + 1} to " +
            "deliver only commits after now). startingVersion is inclusive — the " +
            "stream's first delivered commit is the given version.")
      v - 1
    }
    byVersion.orElse(options.get("startingTimestamp").map { raw =>
      val tsMs = GraftDataSource.parseTimestampMs(raw)
      // greatest version committed at or before tsMs; the stream starts
      // AFTER it — unless that commit is exactly at tsMs (inclusive)
      try {
        val v = LakeTable.versionAtTimestamp(spark, table, tsMs)
        val exact = LakeTable.logEntryAt(spark, table, v).timestampMs == tsMs
        if (exact) v - 1 else v
      } catch {
        // every commit is later than tsMs: deliver from the beginning
        case _: IllegalArgumentException => 0L
      }
    })
  }

  /** With `readChangeFeed`: table columns + the Delta-convention
    * change columns; the batch is every row-level change of the tailed
    * commits (MERGE/DELETE/UPDATE pre/post images included) instead of
    * added-file rows — the downstream consumer sees deletes and
    * updates it could otherwise only get by diffing snapshots.
    */
  override val schema: StructType = {
    val base = GraftDataSource.asNullable(initialSnapshot.schema)
    if (!readChangeFeed) base
    else StructType(base.fields ++ Seq(
      StructField(LakeTable.ChangeTypeCol, org.apache.spark.sql.types.StringType),
      StructField(LakeTable.CommitVersionCol, org.apache.spark.sql.types.LongType),
      StructField(LakeTable.CommitTimestampCol, org.apache.spark.sql.types.LongType)))
  }

  private def pinnedTableSchema: StructType =
    GraftDataSource.asNullable(initialSnapshot.schema)

  private def versionOf(o: OffsetV1): Long = o match {
    case l: LongOffset       => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other               => other.json.trim.toLong
  }

  /** `maxVersionsPerTrigger` caps how many COMMITS one micro-batch
    * tails (admission control — Delta's maxFilesPerTrigger concern): a
    * stream catching up on a long-idle 100 TB table drains the backlog
    * as several bounded batches instead of one unbounded one, keeping
    * per-batch memory and checkpoint granularity flat. The initial
    * snapshot batch is indivisible (it is one snapshot, not a version
    * range) and is delivered whole regardless. After a restart the
    * FIRST batch may exceed the cap when the engine does not replay
    * the last batch (the source only learns its progress from
    * getBatch); every subsequent batch is capped.
    */
  private val maxVersionsPerTrigger: Option[Long] =
    options.get("maxVersionsPerTrigger").map { raw =>
      raw.toLongOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"maxVersionsPerTrigger must be a positive number, got '$raw'"))
    }

  /** Highest version this source has handed to getBatch — the pacing
    * base for the cap (volatile: the stream thread and the offset
    * thread may differ).
    */
  @volatile private var lastBatchEnd: Option[Long] = None

  override def getOffset: Option[OffsetV1] =
    LakeTable.latestVersion(spark, table).map { latest =>
      val capped = maxVersionsPerTrigger match {
        case Some(max) =>
          // before the first batch there is no version base: the
          // initial snapshot (or startingVersion tail) resolves it
          val base = lastBatchEnd.orElse(startingVersion)
          base.map(b => math.min(latest, b + max)).getOrElse(latest)
        case None => latest
      }
      LongOffset(capped)
    }

  /** Upstream schema/layout evolution mid-stream is delivered rows
    * silently missing the new column (the batch projects through the
    * pinned schema) — fail loudly instead; the fix is a stream restart,
    * which re-pins.
    */
  private def checkSchemaPinned(v: Long, evolvedSchema: StructType,
                                parts: Seq[String]): Unit = {
    if (GraftDataSource.asNullable(evolvedSchema) != pinnedTableSchema)
      throw new IllegalStateException(
        s"streaming from $table: the schema evolved at version $v (pinned at " +
          s"v${initialSnapshot.version} when this stream started) — restart the " +
          "stream to pick up the new schema")
    if (parts != initialSnapshot.partitionColumns)
      throw new IllegalStateException(
        s"streaming from $table: the partition layout changed at version $v — " +
          "restart the stream to pick up the new layout")
  }

  /** The change-feed batch for the range: every commit's recorded (or
    * synthesized) row-level changes, projected through the pinned feed
    * schema. COMPACT contributes nothing; a row-rewriting commit whose
    * changes were never recorded fails loudly via
    * [[LakeTable.changesOfEntry]].
    */
  private def changeFeedBatch(start: Option[Long], endV: Long): DataFrame = {
    val frames: Seq[DataFrame] = start match {
      case None =>
        // initial batch: the whole snapshot as inserts at endV. A
        // snapshot's outstanding deletion vectors apply in the scan —
        // the raw file list would resurrect vector-deleted rows into
        // the feed.
        val snap = LakeTable.snapshotAt(spark, table, endV)
        checkSchemaPinned(endV, snap.schema, snap.partitionColumns)
        if (snap.files.isEmpty) Seq.empty
        else {
          Seq(LakeScan.morScan(spark, table, snap, snap.files, keepPos = false)
            .withColumn(LakeTable.ChangeTypeCol, org.apache.spark.sql.functions.lit("insert"))
            .withColumn(LakeTable.CommitVersionCol, org.apache.spark.sql.functions.lit(endV))
            .withColumn(LakeTable.CommitTimestampCol,
              org.apache.spark.sql.functions.lit(snap.timestampMs)))
        }
      case Some(startV) =>
        (startV + 1 to endV).flatMap { v =>
          val e = LakeTable.logEntryAt(spark, table, v)
          checkSchemaPinned(v, e.schema, e.partitionColumns)
          LakeTable.changesOfEntry(spark, table, e)
        }
    }
    if (frames.isEmpty) {
      SqlShims.internalCreateDataFrame(spark,
        spark.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
        schema, isStreaming = true)
    } else {
      val df = frames.reduce(_.unionByName(_, allowMissingColumns = true))
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      SqlShims.asStreaming(df)
    }
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val endV = versionOf(end)
    lastBatchEnd = Some(endV)
    if (readChangeFeed)
      return changeFeedBatch(start.map(versionOf).orElse(startingVersion), endV)
    val files: Seq[LakeTable.FileEntry] = start.map(versionOf).orElse(startingVersion) match {
      case None =>
        // initial batch: the whole table as of endV
        val snap = LakeTable.snapshotAt(spark, table, endV)
        checkSchemaPinned(endV, snap.schema, snap.partitionColumns)
        snap.files
      case Some(startV) =>
        // one log-entry read per commit in the range: a delta names its
        // added/removed files directly, so the batch's metadata cost is
        // O(versions in range), never O(versions × files).
        val added = ArrayBuffer.empty[LakeTable.FileEntry]
        var v = startV + 1
        while (v <= endV) {
          val e = LakeTable.logEntryAt(spark, table, v)
          checkSchemaPinned(v, e.schema, e.partitionColumns)
          // the CREATION commit (version 1) is reset-flagged but has
          // no predecessor to remove from — it is morally an append
          // of the initial data, and Delta's "timestamp precedes all
          // commits ⇒ start from the earliest version" contract
          // depends on it being deliverable
          val removedNow = (e.reset && v > 1) || e.removes.nonEmpty
          if (e.operation == "COMPACT") {
            () // byte-level rewrite; rows already delivered
          } else if (removedNow) {
            if (!skipChangeCommits)
              throw new UnsupportedOperationException(
                s"streaming from $table: version $v (${e.operation}) removed data " +
                  "files — the table is not append-only at this commit. Set " +
                  "option(\"skipChangeCommits\", \"true\") to skip such commits, or " +
                  "restart the stream from a later startingVersion.")
            logWarning(s"graft source: skipping change commit v$v (${e.operation}) " +
              s"on $table")
          } else {
            added ++= e.adds
          }
          v += 1
        }
        added.toSeq
    }
    if (files.isEmpty) {
      SqlShims.internalCreateDataFrame(spark,
        spark.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
        schema, isStreaming = true)
    } else {
      // outstanding deletion vectors apply: the raw file list would
      // resurrect deleted rows
      SqlShims.asStreaming(LakeScan.morScan(spark, table, initialSnapshot, files,
        keepPos = false))
    }
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"GraftSource[$table]"
}
