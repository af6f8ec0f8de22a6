package graft.lake

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Minimal lakehouse table format: parquet data files + a versioned
  * JSON transaction log with atomic rename commits.
  *
  * The reference stores every silver/gold model as an Iceberg table
  * (ref: trino_iceberg_transform_component.py:116-123, defs.yaml
  * `iceberg_table:` per transform). Neither Delta nor Iceberg resolves
  * in this offline environment, so the table-format *semantics* are
  * implemented directly on Spark + Hadoop FileSystem primitives:
  *
  *  - ACID commits: a snapshot is one immutable JSON file in
  *    `_graft_log/` named by zero-padded version; publishing is an
  *    atomic put-if-absent (hard link on local POSIX filesystems,
  *    FileContext.rename(Rename.NONE) elsewhere — see publishIfAbsent),
  *    so concurrent writers serialize by optimistic retry and a taken
  *    version can never be silently clobbered. Readers always see a
  *    complete snapshot — never a half-written directory.
  *  - Snapshot isolation + time travel: each log entry carries the full
  *    file list and schema; `read(asOf = version)` reconstructs any
  *    retained version.
  *  - Schema evolution: `append` merges new columns into the snapshot
  *    schema; old files simply lack the column and read as nulls
  *    (parquet with user-specified schema), old versions keep theirs.
  *  - MERGE/upsert: file-granularity copy-on-write — only data files
  *    that contain a matched key are rewritten; untouched files carry
  *    over into the new snapshot by reference.
  *  - Partitioning: data files live in hive-style `col=value/` dirs
  *    under `data/`; reads pass the snapshot's file list with
  *    `basePath`, so Catalyst recovers partition values and
  *    partition-prunes filters on partition columns.
  *  - Vacuum: unreferenced files (crashed writes, overwritten
  *    versions beyond the retention window) are deleted.
  *
  * Scale notes: the log is SHARDED — each commit writes only a DELTA
  * ({adds, removes} plus the small schema/partition/txns metadata), so
  * commit cost is O(files touched), not O(table): appending one file
  * to a million-file table writes one small JSON, not a million-entry
  * manifest. Every `checkpointInterval`-th commit additionally writes
  * a full-state `<v>.checkpoint.json` (advisory) that also carries
  * every commit's history summary, and readers
  * reconstruct a snapshot as nearest-base + ≤interval deltas, where a
  * base is a checkpoint, a legacy full-state entry, or a `reset` delta
  * (OVERWRITE carries its complete new file list and is therefore its
  * own base). This is the manifest / manifest-list discipline of
  * Iceberg (the reference's format, ref:
  * trino_iceberg_transform_component.py:116-123) and Delta's
  * delta-log + checkpoint. "What is the newest version" resolves
  * through the O(1) `_latest_hint` file (written post-commit, verified
  * + probed forward on read) instead of an O(commits) directory
  * listing. Data is never rewritten except the matched files of a
  * MERGE; overwrite is a metadata swap.
  *
  * Layout:
  * {{{
  * <table>/_graft_log/00000000000000000001.json              (delta, or legacy full-state)
  * <table>/_graft_log/00000000000000000010.checkpoint.json   (segment list + commit summaries, every 10th)
  * <table>/_graft_log/_manifests/<md5>.segment.json          (checkpoint file-list segments)
  * <table>/_graft_log/_latest_hint                           (newest version, advisory)
  * <table>/data/<part=val>/part-<uuid>.parquet
  * <table>/_change_data/<uuid>/part-*.parquet                (change-feed rows of DML commits)
  * <table>/_deletes/<uuid>.bin                              (deletion-vector bitmaps of one commit)
  * <table>/_index/bloom/<uuid>.json                          (bloom sidecars, advisory)
  * <table>/_staging/<uuid>/                                  (transient)
  * }}}
  */
object LakeTable extends org.apache.spark.internal.Logging {

  /** Min/max/null-count of one column within one data file, rendered in
    * the canonical string domain of [[ParquetStats]]/[[DataSkipping]].
    * Absent pieces mean "unknown" — never skipped on.
    */
  final case class ColStats(min: Option[String], max: Option[String],
                            nullCount: Option[Long])

  /** A positional deletion vector attached to one data file — the
    * merge-on-read delete analog of Iceberg v2's positional delete
    * files (the reference's tables are Iceberg-v2-on-Trino, ref:
    * trino_iceberg_transform_component.py:33,116-123), in Delta's
    * deletion-vector form: one serialized Roaring bitmap of the file's
    * deleted 0-based physical row positions ([[DeletionVectors]]).
    * `path` is a table-root-relative sidecar `_deletes/<uuid>.bin`;
    * one delete commit writes ONE sidecar holding the bitmaps of every
    * file it touched back to back, and `offset`/`size` locate this
    * file's bitmap in it. The bitmap is the file's COMPLETE current
    * deleted set (a later delete on the same file ORs the old bitmap
    * into its new one). `cardinality` is that set's size. The log
    * renders it as `dv: {p, o, s, c}`; an entry without `o`/`s` (the
    * earlier parquet-directory form) parses with -1 and fails loudly
    * when read.
    */
  final case class DeleteVector(path: String, offset: Long, size: Long, cardinality: Long)

  /** One data file as the transaction log records it: table-relative
    * path plus the metadata a reader needs to PLAN a scan without
    * touching the file or its directory — size and mtime (to build a
    * `FileStatus` without a LIST), row count and per-column bounds (to
    * skip the file against pushed filters). This is the manifest-entry
    * role Iceberg plays for the reference (ref:
    * trino_iceberg_transform_component.py:116-123). `size < 0` marks a
    * legacy entry (pre-stats log) — readers fall back to listing, and
    * the entry upgrades on the next rewrite of the file's snapshot.
    *
    * `dv`: the file's outstanding [[DeleteVector]], if any — readers
    * must filter the file's rows by position against it. Logged
    * min/max/nullCount stats stay SOUND under a dv (they bound a
    * superset of the live rows — skipping can only under-prune, never
    * misprune), but `rowCount` alone over-counts: use [[liveRowCount]].
    *
    * `bloom`: table-relative path of the commit sidecar holding this
    * file's per-column bloom filters ([[BloomIndex]]) — ADVISORY
    * equality-skipping metadata; absent/unreadable degrades to "scan
    * the file", so no protocol gate guards it.
    */
  final case class FileEntry(path: String, size: Long, mtimeMs: Long,
                             rowCount: Long, stats: Map[String, ColStats],
                             dv: Option[DeleteVector] = None,
                             bloom: Option[String] = None) {
    /** Rows a scan of this file yields after dv filtering; -1 unknown. */
    def liveRowCount: Long =
      if (rowCount < 0) -1L else rowCount - dv.map(_.cardinality).getOrElse(0L)
  }

  /** The log's protocol stamp (Delta's protocol action / Iceberg's
    * format-version): `reader` names the capability a client needs to
    * READ the table correctly, `writer` the capability to WRITE it
    * without corrupting invariants newer clients rely on. Every commit
    * and checkpoint carries the stamp; entries written before the stamp
    * existed read as version 1. A client refuses — loudly, naming both
    * numbers — to read past [[LakeTable.MaxReaderVersion]] or commit
    * past [[LakeTable.MaxWriterVersion]], so a future format change
    * (manifest segments, column mapping) degrades to a clear "upgrade
    * the library" error instead of a silent misread.
    */
  final case class Protocol(reader: Int, writer: Int)

  /** Highest log protocol this library can read / write. Bump ONLY with
    * the feature that requires it, and stamp the bumped version only on
    * tables that actually use the feature — older tables stay readable
    * by older clients.
    *
    * Version 2 = column mapping ([[ColumnMapping]]): the schema's
    * logical names indirect to stable physical names in the data
    * files. A version-1 reader would match logical names against the
    * files and read every renamed column as null — exactly the silent
    * misread the gate prevents. Only tables that RENAME/DROP a column
    * (or enable mapping explicitly) get stamped 2.
    *
    * Version 3 = merge-on-read deletes ([[DeleteVector]]): file entries
    * may carry positional deletion vectors that a reader must apply. A
    * version-≤2 reader would scan the files raw and RESURRECT deleted
    * rows; a version-≤2 writer would rewrite entries without their dv
    * field on its next commit, silently undeleting. Only tables that
    * actually commit a dv ([[deleteMergeOnRead]]) get stamped 3.
    *
    * Writer version 4 = CHECK constraints ([[addConstraint]]): the log
    * carries invariant expressions every row-adding commit must have
    * validated. Reading is unaffected (reader stays ≤3), but a
    * version-≤3 writer would append unvalidated rows, silently breaking
    * the invariant readers rely on. Only tables that ADD a constraint
    * get stamped writer 4.
    *
    * Reader version 4 = metadata-only file drops (`removedFull` on a
    * DELETE entry): a file every live row of which provably matched the
    * predicate is removed from the snapshot WITHOUT being read, so its
    * delete rows are not in the commit's recorded change data — the
    * change feed synthesizes them lazily from the previous snapshot. A
    * version-≤3 reader reads SNAPSHOTS of such a table correctly (the
    * file list is complete), but would silently UNDER-REPORT the change
    * feed of the dropping commit; feed soundness wins over snapshot
    * availability for stale clients, so the whole table gates. Only
    * tables where a delete actually drops a file by metadata get
    * stamped reader 4.
    */
  val MaxReaderVersion = 4
  val MaxWriterVersion = 4

  final class ProtocolVersionException(msg: String) extends RuntimeException(msg)

  final case class Snapshot(version: Long, timestampMs: Long, operation: String,
                            schema: StructType, partitionColumns: Seq[String],
                            files: Seq[FileEntry],
                            txns: Map[String, Long] = Map.empty,
                            protocol: Protocol = Protocol(1, 1),
                            constraints: Map[String, String] = Map.empty) {
    def filePaths: Seq[String] = files.map(_.path)
  }

  /** One parsed log file. A legacy (pre-sharding) file carries the
    * complete file list in `full`; a delta commit carries only the
    * files it added/removed. `reset = true` marks a commit that
    * replaced the table contents (OVERWRITE): its `adds` ARE the full
    * new file list, making the entry a reconstruction base. `cdc`
    * names the commit's change-data files (table-root-relative, under
    * `_change_data/`) — row-level pre/post images a DML commit records
    * for the change feed.
    */
  private[graft] final case class LogEntry(
      version: Long, timestampMs: Long, operation: String,
      schema: StructType, partitionColumns: Seq[String],
      txns: Map[String, Long],
      full: Option[Seq[FileEntry]],
      adds: Seq[FileEntry], removes: Seq[String], reset: Boolean,
      cdc: Option[Seq[String]],
      protocol: Protocol,
      constraints: Map[String, String] = Map.empty,
      // removed with NO change-data coverage because every live row was
      // provably deleted (metadata-only retention drop): the change
      // feed synthesizes their rows as deletes lazily from the previous
      // snapshot. Always a subset of `removes`.
      removedFull: Seq[String] = Nil)

  final class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

  private[lake] def logPath(table: String) = new Path(table, "_graft_log")
  private[lake] def dataPath(table: String) = new Path(table, "data")
  private[lake] def deletesPath(table: String) = new Path(table, "_deletes")
  private[lake] def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sessionState.newHadoopConf())

  private def versionFile(table: String, v: Long): Path =
    new Path(logPath(table), f"$v%020d.json")

  // ---------------------------------------------------------------- log I/O

  private def renderFile(e: FileEntry): JValue = JObject(List(
    "p" -> JString(e.path),
    "sz" -> JLong(e.size),
    "mt" -> JLong(e.mtimeMs),
    "rc" -> JLong(e.rowCount),
    "st" -> JObject(e.stats.toList.sortBy(_._1).map { case (c, s) =>
      c -> (JObject(List(
        s.min.map(m => "mn" -> JString(m)),
        s.max.map(m => "mx" -> JString(m)),
        s.nullCount.map(n => "nc" -> JLong(n))).flatten): JValue)
    })) ++
    e.dv.map(d => "dv" -> (JObject(List("p" -> JString(d.path), "o" -> JLong(d.offset),
      "s" -> JLong(d.size), "c" -> JLong(d.cardinality))): JValue)).toList ++
    e.bloom.map(b => "bf" -> (JString(b): JValue)).toList)

  private def commonFields(version: Long, timestampMs: Long, operation: String,
                           schema: StructType, partitionColumns: Seq[String],
                           txns: Map[String, Long],
                           protocol: Protocol,
                           constraints: Map[String, String]): List[(String, JValue)] = {
    val base = List(
      "version" -> JLong(version),
      "timestampMs" -> JLong(timestampMs),
      "rv" -> JLong(protocol.reader.toLong),
      "wv" -> JLong(protocol.writer.toLong),
      "operation" -> JString(operation),
      "schemaJson" -> JString(schema.json),
      "partitionColumns" -> JArray(partitionColumns.map(JString(_)).toList))
    // streaming-writer watermarks (queryId -> highest committed epoch),
    // the exactly-once ledger; omitted when no stream has ever written
    val withTxns = if (txns.isEmpty) base
    else base :+ ("txns" -> (JObject(txns.toList.sortBy(_._1).map {
      case (q, b) => q -> (JLong(b): JValue)
    }): JValue))
    // CHECK constraints (name -> SQL expression) ride along in full
    // like schema/txns — O(constraints), small
    if (constraints.isEmpty) withTxns
    else withTxns :+ ("cks" -> (JObject(constraints.toList.sortBy(_._1).map {
      case (n, e) => n -> (JString(e): JValue)
    }): JValue))
  }

  // (The legacy full-state RENDER is gone — checkpoints are segmented
  // now, see "manifest segments" below — but the full-state PARSE stays:
  // legacy version files and v1 checkpoints still read.)

  /** Delta render — what every commit writes: O(files touched), never
    * O(table). Schema/partition-columns/txns ride along in full (they
    * are O(columns + streams), small) so any single delta yields the
    * snapshot's non-file state without a walk.
    */
  private def renderDelta(s: Snapshot, adds: Seq[FileEntry],
                          removes: Seq[String], reset: Boolean,
                          cdc: Option[Seq[String]],
                          removedFull: Seq[String] = Nil): String = {
    val fields = commonFields(s.version, s.timestampMs, s.operation, s.schema,
      s.partitionColumns, s.txns, s.protocol, s.constraints) ++
      List("adds" -> JArray(adds.map(renderFile).toList)) ++
      (if (reset) List("reset" -> JBool(true))
       else if (removes.nonEmpty)
         List("removes" -> JArray(removes.map(JString(_)).toList))
       else Nil) ++
      // "cdc" present (possibly empty) ⇔ this commit RECORDED its
      // changes; absent ⇔ changes must be synthesized or are unknowable
      cdc.map(c => "cdc" -> (JArray(c.map(JString(_)).toList): JValue)).toList ++
      // metadata-only drops: removed files whose delete rows the feed
      // synthesizes lazily (reader ≥ 4 — see Protocol doc)
      (if (removedFull.isEmpty) Nil
       else List("rfull" -> JArray(removedFull.map(JString(_)).toList)))
    JsonMethods.compact(JsonMethods.render(JObject(fields)))
  }

  private def jLong(v: JValue): Long = v match {
    case JLong(x) => x
    case JInt(x)  => x.toLong
    case other    => throw new IllegalStateException(s"expected number, got $other")
  }
  private def jStr(v: JValue): String = v match {
    case JString(x) => x
    case other      => throw new IllegalStateException(s"expected string, got $other")
  }

  private def jLongOpt(v: JValue): Option[Long] = v match {
    case JLong(x) => Some(x)
    case JInt(x)  => Some(x.toLong)
    case _        => None
  }
  private def jStrOpt(v: JValue): Option[String] = v match {
    case JString(x) => Some(x)
    case _          => None
  }
  private def jMap[T](v: JValue)(value: JValue => T): Map[String, T] = v match {
    case JObject(fields) => fields.map { case (k, x) => k -> value(x) }.toMap
    case _               => Map.empty
  }

  /** Back-compat: a pre-stats log records a file as its bare relative
    * path string; it parses to an entry with unknown size/rows/stats,
    * which readers treat as "go stat the filesystem".
    */
  private def parseFile(j: JValue): FileEntry = j match {
    case JString(p) => FileEntry(p, -1L, -1L, -1L, Map.empty)
    case o: JObject =>
      val stats = (o \ "st") match {
        case JObject(cols) => cols.map { case (c, v) =>
          c -> ColStats(jStrOpt(v \ "mn"), jStrOpt(v \ "mx"), jLongOpt(v \ "nc"))
        }.toMap
        case _ => Map.empty[String, ColStats]
      }
      val dv = (o \ "dv") match {
        case d: JObject => Some(DeleteVector(jStr(d \ "p"), jLongOpt(d \ "o").getOrElse(-1L),
          jLongOpt(d \ "s").getOrElse(-1L), jLong(d \ "c")))
        case _          => None
      }
      FileEntry(jStr(o \ "p"), jLong(o \ "sz"), jLong(o \ "mt"), jLong(o \ "rc"), stats,
        dv, jStrOpt(o \ "bf"))
    case other => throw new IllegalStateException(s"expected file entry, got $other")
  }

  /** Parse either format: `files` present ⇒ full-state (legacy version
    * file or checkpoint); otherwise a delta with `adds`/`removes`.
    */
  private def parseLogEntry(s: String): LogEntry = {
    val j = JsonMethods.parse(s)
    // protocol gate FIRST: refusing to read a future-reader entry must
    // not depend on the rest of the entry parsing (a future format may
    // not even carry today's fields)
    val rv = jLongOpt(j \ "rv").map(_.toInt).getOrElse(1)
    val wv = jLongOpt(j \ "wv").map(_.toInt).getOrElse(1)
    if (rv > MaxReaderVersion)
      throw new ProtocolVersionException(
        s"this table's log requires readerVersion $rv, but this library reads " +
          s"up to readerVersion $MaxReaderVersion — upgrade the library to read " +
          "this table")
    val full = (j \ "files") match {
      case JArray(entries) => Some(entries.map(parseFile))
      case _               => None
    }
    LogEntry(
      version = jLong(j \ "version"),
      timestampMs = jLong(j \ "timestampMs"),
      operation = jStr(j \ "operation"),
      schema = DataType.fromJson(jStr(j \ "schemaJson")).asInstanceOf[StructType],
      partitionColumns = (j \ "partitionColumns").asInstanceOf[JArray].arr.map(jStr),
      txns = jMap(j \ "txns")(jLong),
      full = full,
      adds = (j \ "adds") match {
        case JArray(entries) => entries.map(parseFile)
        case _               => Seq.empty
      },
      removes = (j \ "removes") match {
        case JArray(entries) => entries.map(jStr)
        case _               => Seq.empty
      },
      reset = (j \ "reset") match {
        case JBool(b) => b
        case _        => false
      },
      cdc = (j \ "cdc") match {
        case JArray(entries) => Some(entries.map(jStr))
        case _               => None
      },
      protocol = Protocol(rv, wv),
      constraints = jMap(j \ "cks")(jStr),
      removedFull = (j \ "rfull") match {
        case JArray(entries) => entries.map(jStr)
        case _               => Seq.empty
      })
  }

  private def readFileText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
  }

  /** The log entry of one committed version (delta or legacy full). */
  private[graft] def logEntryAt(spark: SparkSession, table: String, version: Long): LogEntry = {
    val f = fs(spark, table)
    val p = versionFile(table, version)
    if (!f.exists(p))
      throw new IllegalArgumentException(s"no version $version at $table")
    parseLogEntry(readFileText(f, p))
  }

  // a committed snapshot is exactly 20 digits + ".json"; anything else in
  // _graft_log/ (hint file, tmp files, foreign droppings) is not a version
  private val VersionFileName = """(\d{20})\.json""".r

  /** All committed versions, ascending. O(log-dir listing) — the
    * fallback of history/time-travel/vacuum when no usable checkpoint
    * covers the log; "is there a table / what is the newest version"
    * goes through the hint file instead (see [[latestVersion]]).
    */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val f = fs(spark, table)
    val lp = logPath(table)
    if (!f.exists(lp)) Seq.empty
    else f.listStatus(lp).toSeq
      .map(_.getPath.getName)
      .collect { case VersionFileName(digits) => digits.toLong }
      .sorted
  }

  // --------------------------------------------------- latest-version hint
  //
  // Resolving "latest" by listing _graft_log/ is O(commits) per read — at
  // daily-commit cadence over years that listing is the reader's metadata
  // bottleneck (the problem Delta solves with _last_checkpoint and Iceberg
  // with version-hint.text). Every graft snapshot is already full-state
  // (it carries the complete file list + schema), so no multi-file log
  // replay is needed — only "what is the newest version?". A best-effort
  // `_latest_hint` file answers that in O(1): written after every
  // successful commit, read + probed-forward on access. The hint is
  // advisory only — it can lag (writer crashed between commit and hint;
  // racing writers overwrite it out of order) but correctness never
  // depends on it: readers verify the hinted version exists, probe
  // forward past it, and fall back to the full listing when it is
  // missing or unparsable.

  private def hintFile(table: String) = new Path(logPath(table), "_latest_hint")

  private def writeLatestHint(f: FileSystem, table: String, v: Long): Unit =
    try {
      val out = f.create(hintFile(table), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    } catch { case _: java.io.IOException => () } // advisory — never fail a commit

  private def readHint(f: FileSystem, table: String): Option[Long] =
    try {
      val p = hintFile(table)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val s = try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
        s.toLongOption.filter(_ > 0)
      }
    } catch { case _: java.io.IOException => None }

  /** Newest committed version: hint + forward probe (O(1) + O(commits
    * since the hint was written)), falling back to the O(commits)
    * directory listing when there is no usable hint.
    */
  private[graft] def latestVersion(spark: SparkSession, table: String): Option[Long] = {
    val f = fs(spark, table)
    readHint(f, table).filter(h => f.exists(versionFile(table, h))) match {
      case Some(h) =>
        var v = h
        while (f.exists(versionFile(table, v + 1))) v += 1
        Some(v)
      case None => versions(spark, table).lastOption
    }
  }

  def latestSnapshot(spark: SparkSession, table: String): Option[Snapshot] =
    latestVersion(spark, table).map(v => snapshotAt(spark, table, v))

  // ------------------------------------------------ snapshot checkpoints
  //
  // Every checkpointInterval-th commit also writes `<v>.checkpoint.json`
  // — the state as of v (its file list as manifest segments, below) plus
  // the (version, ts, operation, num_files) summary of every commit up
  // to v — so reconstruction walks back at most ~interval deltas before
  // hitting a base, and history() reads one checkpoint plus the
  // ≤interval tail instead of O(commits) entries. The checkpoint is
  // ADVISORY (post-commit, best-effort): a missing or torn one just
  // lengthens the walk, which still terminates at a legacy full-state
  // entry, a `reset` delta (OVERWRITE), or the table's first commit
  // (whose delta applies to the empty base), and history falls back to
  // the log listing.

  private[lake] val checkpointInterval = 10L

  /** One commit as history() reports it. */
  private final case class HistEntry(version: Long, timestampMs: Long,
                                     operation: String, numFiles: Long)

  private def snapshotCheckpointFile(table: String, v: Long): Path =
    new Path(logPath(table), f"$v%020d.checkpoint.json")

  // ------------------------------------------------- manifest segments
  //
  // A full-state checkpoint serialized as ONE file costs O(table) bytes
  // every checkpointInterval commits — at 1M files that is hundreds of
  // MB of JSON re-serialized thousands of times over a streaming
  // table's life, the last O(table) metadata WRITE in the format. The
  // file list is therefore SEGMENTED: immutable, content-addressed
  // manifest files of ~segmentTargetEntries entries each, sorted and
  // range-partitioned by data-file path, under `_graft_log/_manifests/`.
  // The checkpoint itself is just the ordered list of segment
  // references (name, entry count, path range). A later checkpoint
  // REUSES every segment whose membership did not change: removals
  // rewrite only the segment(s) whose path range covers them (located
  // by range — untouched segments are never even read), adds chunk into
  // fresh segments, and runt segments fold into the next chunking so
  // the segment count stays O(files / segmentSize), not O(checkpoints).
  // This is Iceberg's manifest / manifest-list reuse discipline (the
  // format behind every reference transform, ref:
  // trino_iceberg_transform_component.py:116-123); Delta's multi-part
  // checkpoints shard the same way. Content addressing (name = md5 of
  // content) makes segment publication idempotent across racing
  // checkpointers, and turns a rewrite that changed nothing into no
  // write at all.
  //
  // The v2 checkpoint file deliberately does NOT carry the legacy
  // `schemaJson` key: a pre-segment reader's checkpoint parse fails,
  // and it degrades to delta-chain reconstruction — correct, just
  // longer — instead of silently misreading a checkpoint format it
  // does not understand. (New READERS of old single-file checkpoints
  // still work: both formats parse below.)

  /** One immutable manifest segment, as the checkpoint references it:
    * content-addressed file name, entry count, and the sorted
    * data-file-path range it covers (how removals find their segment
    * without reading any).
    */
  private[lake] final case class SegmentRef(name: String, count: Long,
                                            minPath: String, maxPath: String)

  private[lake] def manifestsPath(table: String) = new Path(logPath(table), "_manifests")

  /** Target entries per manifest segment. ~300 bytes of JSON per entry
    * puts the default segment near the 8-16 MB manifest sweet spot;
    * specs shrink it to exercise multi-segment checkpoints on small
    * tables.
    */
  private[lake] def segmentTargetEntries(spark: SparkSession): Int =
    spark.sessionState.conf.getConfString(
      "spark.graft.checkpoint.segmentTargetEntries", "50000").toInt

  /** Write `entries` (sorted by path, non-empty) as a content-addressed
    * segment, unless that exact content is already published.
    */
  private def writeSegment(f: FileSystem, table: String,
                           entries: Seq[FileEntry]): SegmentRef = {
    val body = JsonMethods.compact(JsonMethods.render(
      JObject("files" -> JArray(entries.map(renderFile).toList))))
    val bytes = body.getBytes("UTF-8")
    val name = java.security.MessageDigest.getInstance("MD5").digest(bytes)
      .map("%02x".format(_)).mkString + ".segment.json"
    val target = new Path(manifestsPath(table), name)
    if (!f.exists(target)) {
      f.mkdirs(manifestsPath(table))
      val tmp = new Path(logPath(table), s".seg-tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(bytes) finally out.close()
      publishIfAbsent(f, tmp, target) // same-content race: either write stands
    }
    SegmentRef(name, entries.size.toLong, entries.head.path, entries.last.path)
  }

  private def readSegment(f: FileSystem, table: String, name: String): Seq[FileEntry] =
    (JsonMethods.parse(readFileText(f, new Path(manifestsPath(table), name))) \ "files")
      .asInstanceOf[JArray].arr.map(parseFile)

  /** A parsed `<v>.checkpoint.json`. A v2 checkpoint's `head` has no
    * files — they sit in its manifest `segments`, read only by callers
    * that need them ([[checkpointSnapshot]]); a legacy single-file
    * checkpoint carries them inline and has no segments. `hist` holds
    * the summaries of the commits up to v; it is empty when the
    * checkpoint predates them, which means "no summaries", never "no
    * versions".
    */
  private final case class Checkpoint(head: Snapshot, segments: Option[Seq[SegmentRef]],
                                      hist: Seq[HistEntry]) {
    def numFiles: Long = head.files.size + segments.getOrElse(Nil).map(_.count).sum
  }

  private def renderCheckpointV2(s: Snapshot, segs: Seq[SegmentRef],
                                 hist: Seq[HistEntry]): String =
    JsonMethods.compact(JsonMethods.render(JObject(List(
      "checkpointV" -> JLong(2L),
      "version" -> JLong(s.version),
      "timestampMs" -> JLong(s.timestampMs),
      "rv" -> JLong(s.protocol.reader.toLong),
      "wv" -> JLong(s.protocol.writer.toLong),
      "operation" -> JString(s.operation),
      // "schema", NOT the legacy "schemaJson" — see the format note above
      "schema" -> JString(s.schema.json),
      "partitionColumns" -> JArray(s.partitionColumns.map(JString(_)).toList),
      "txns" -> JObject(s.txns.toList.sortBy(_._1).map { case (q, b) =>
        q -> (JLong(b): JValue) }),
      "cks" -> JObject(s.constraints.toList.sortBy(_._1).map { case (n, e) =>
        n -> (JString(e): JValue) }),
      "segments" -> JArray(segs.map(r => JObject(
        "n" -> JString(r.name), "c" -> JLong(r.count),
        "lo" -> JString(r.minPath), "hi" -> JString(r.maxPath))).toList),
      // one compact row per commit: the cumulative form lets vacuum drop
      // older checkpoints without losing history
      "hist" -> JArray(hist.map(h => JArray(List(JLong(h.version),
        JLong(h.timestampMs), JString(h.operation), JLong(h.numFiles)))).toList)))))

  /** Parse `<v>.checkpoint.json` if present and readable — a v2
    * segmented checkpoint or a legacy single-file full state — without
    * reading any segment. A missing, torn or foreign file is None
    * (callers degrade to the delta walk or the log listing); an entry
    * with neither `checkpointV` nor `files` is never read as an empty
    * table.
    */
  private def openCheckpoint(f: FileSystem, table: String, v: Long): Option[Checkpoint] =
    if (v <= 0) None
    else try {
      val p = snapshotCheckpointFile(table, v)
      if (!f.exists(p)) None
      else scala.util.Try {
        val txt = readFileText(f, p)
        val j = JsonMethods.parse(txt)
        if (jLongOpt(j \ "checkpointV").contains(2L)) {
          val rv = jLongOpt(j \ "rv").map(_.toInt).getOrElse(1)
          // a checkpoint newer than this reader is skipped: the delta
          // walk then meets the log entry's own gate, which refuses loudly
          require(rv <= MaxReaderVersion, s"checkpoint needs readerVersion $rv")
          val head = Snapshot(
            jLong(j \ "version"), jLong(j \ "timestampMs"), jStr(j \ "operation"),
            DataType.fromJson(jStr(j \ "schema")).asInstanceOf[StructType],
            (j \ "partitionColumns").asInstanceOf[JArray].arr.map(jStr), Nil,
            jMap(j \ "txns")(jLong),
            Protocol(rv, jLongOpt(j \ "wv").map(_.toInt).getOrElse(1)),
            jMap(j \ "cks")(jStr))
          val segs = (j \ "segments").asInstanceOf[JArray].arr.map(s =>
            SegmentRef(jStr(s \ "n"), jLong(s \ "c"), jStr(s \ "lo"), jStr(s \ "hi")))
          val hist = (j \ "hist") match {
            case JArray(rows) => rows.map {
              case JArray(List(hv, ts, op, nf)) => HistEntry(jLong(hv), jLong(ts), jStr(op), jLong(nf))
              case other => throw new IllegalStateException(s"bad history row $other")
            }
            case _ => Nil
          }
          Checkpoint(head, Some(segs), hist)
        } else {
          val e = parseLogEntry(txt)
          Checkpoint(Snapshot(e.version, e.timestampMs, e.operation, e.schema,
            e.partitionColumns, e.full.get, e.txns, e.protocol, e.constraints), None, Nil)
        }
      }.toOption
    } catch { case _: java.io.IOException => None }

  /** The snapshot a checkpoint holds, with its segments read; None when
    * any segment is missing or unreadable.
    */
  private def checkpointSnapshot(f: FileSystem, table: String, v: Long): Option[Snapshot] =
    openCheckpoint(f, table, v).flatMap(cp => scala.util.Try(cp.head.copy(files =
      cp.head.files ++ cp.segments.getOrElse(Nil).flatMap(r => readSegment(f, table, r.name))))
      .toOption)

  /** Segments of the new checkpoint given the previous checkpoint's and
    * the plain deltas since it: reuse untouched segments, rewrite the
    * range-touched ones without their removed paths, and chunk the
    * window's adds — pooling runt segments into the chunking so they
    * fold forward instead of accumulating. O(segments touched + adds),
    * never O(table).
    */
  private def incrementalSegments(f: FileSystem, table: String,
                                  prev: Seq[SegmentRef], deltas: Seq[LogEntry],
                                  sortedNow: Seq[FileEntry],
                                  segTarget: Int): Seq[SegmentRef] = {
    val removed = deltas.flatMap(_.removes).toSet
    val addedPaths = deltas.flatMap(_.adds.map(_.path)).toSet
    val liveByPath = sortedNow.map(e => e.path -> e).toMap
    val added = sortedNow.filter(e => addedPaths(e.path)) // sorted already
    def touches(r: SegmentRef): Boolean =
      removed.exists(p => p >= r.minPath && p <= r.maxPath)
    val (touched, untouched) = prev.partition(touches)
    val rewritten = touched.flatMap { r =>
      // refresh surviving entries from the live snapshot (stats may have
      // upgraded); identical content re-publishes as itself — no write
      val entries = readSegment(f, table, r.name)
        .filterNot(e => removed(e.path))
        .map(e => liveByPath.getOrElse(e.path, e))
      if (entries.isEmpty) None else Some(writeSegment(f, table, entries))
    }
    // runts fold into this checkpoint's chunking (log-structured merge):
    // without this, streaming-cadence checkpoints leak one small segment
    // each and the manifest list grows O(checkpoints)
    val (runts, keep) = (untouched ++ rewritten).partition(_.count < segTarget / 2)
    val (pooledRunts, keptRunts) =
      if (added.nonEmpty || runts.size >= 2) (runts, Seq.empty[SegmentRef])
      else (Seq.empty[SegmentRef], runts)
    val pool = (added ++ pooledRunts.flatMap(r =>
      readSegment(f, table, r.name).map(e => liveByPath.getOrElse(e.path, e))))
      .sortBy(_.path)
    val pooled = pool.grouped(segTarget).filter(_.nonEmpty)
      .map(g => writeSegment(f, table, g)).toSeq
    val out = (keep ++ keptRunts ++ pooled).sortBy(_.minPath)
    // paranoia: the composed segments must account for exactly the live
    // set; any drift (however caused) falls back to a full re-chunk
    if (out.map(_.count).sum != sortedNow.size.toLong)
      chunkSegments(f, table, sortedNow, segTarget)
    else out
  }

  private def chunkSegments(f: FileSystem, table: String, sorted: Seq[FileEntry],
                            segTarget: Int): Seq[SegmentRef] =
    sorted.grouped(segTarget).filter(_.nonEmpty)
      .map(g => writeSegment(f, table, g)).toSeq

  /** The log entries of `vs`, each read and parsed once; a missing or
    * unparsable entry is a Failure.
    */
  private def readEntries(f: FileSystem, table: String,
                          vs: Seq[Long]): Seq[(Long, scala.util.Try[LogEntry])] =
    vs.map(v => v -> scala.util.Try(parseLogEntry(readFileText(f, versionFile(table, v)))))

  /** History rows of consecutive log entries. numFiles is DELTA
    * ARITHMETIC (previous count - removes + adds) seeded with `seed`,
    * the count just before the first entry — no snapshot per version.
    * A missing or unparsable entry is skipped and poisons the running
    * count, or every later version would compound off a stale base; the
    * next version then pays one reconstruction.
    */
  private def summarize(f: FileSystem, table: String,
                        entries: Seq[(Long, scala.util.Try[LogEntry])],
                        seed: Option[Long]): Seq[HistEntry] = {
    var count = seed
    entries.flatMap { case (v, parsed) =>
      val h = parsed.flatMap(e => scala.util.Try {
        val nf = e.full.map(_.size.toLong)
          .orElse(if (e.reset) Some(e.adds.size.toLong)
                  else (if (v == 1L) Some(0L) else count).map(_ - e.removes.size + e.adds.size))
          .getOrElse(reconstruct(f, table, v).files.size.toLong)
        HistEntry(v, e.timestampMs, e.operation, nf)
      }).toOption
      count = h.map(_.numFiles)
      h
    }
  }

  private def writeSnapshotCheckpoint(spark: SparkSession, f: FileSystem,
                                      table: String, snap: Snapshot): Unit =
    try {
      val target = snapshotCheckpointFile(table, snap.version)
      if (f.exists(target)) return // deterministic content; first write stands
      val segTarget = math.max(1, segmentTargetEntries(spark))
      val sorted = snap.files.sortBy(_.path)
      val from = snap.version - checkpointInterval
      val prev = openCheckpoint(f, table, from)
      val window = readEntries(f, table, from + 1 to snap.version)
      // summaries: the previous checkpoint's plus the window's, or — when
      // it carries none — computed once from version 1
      val hist = prev.filter(_.hist.nonEmpty) match {
        case Some(p) => p.hist ++ summarize(f, table, window, Some(p.numFiles))
        case None    => summarize(f, table, readEntries(f, table, 1L to from) ++ window, None)
      }
      // incremental only over a window of PLAIN deltas: a reset (its own
      // base) or legacy full-state entry in range means the previous
      // segments describe a dead lineage — re-chunk from the live list
      val deltas = window.map(_._2.toOption.filter(e => e.full.isEmpty && !e.reset))
      val segs = prev.flatMap(_.segments) match {
        case Some(refs) if deltas.forall(_.isDefined) =>
          scala.util.Try(incrementalSegments(f, table, refs, deltas.flatten, sorted, segTarget))
            .getOrElse(chunkSegments(f, table, sorted, segTarget))
        case _ => chunkSegments(f, table, sorted, segTarget)
      }
      val tmp = new Path(logPath(table), s".cp-snap-tmp-${java.util.UUID.randomUUID()}")
      val out = f.create(tmp, false)
      try out.write(renderCheckpointV2(snap, segs, hist).getBytes("UTF-8"))
      finally out.close()
      publishIfAbsent(f, tmp, target)
      ()
    } catch { case _: java.io.IOException => () } // advisory — never fail a commit

  /** Reconstruct the snapshot of `version`: nearest base at or below it
    * (snapshot checkpoint, legacy full-state entry, or `reset` delta),
    * then the deltas up to `version` applied in order. O(interval)
    * small metadata reads, independent of table size.
    */
  def snapshotAt(spark: SparkSession, table: String, version: Long): Snapshot =
    reconstruct(fs(spark, table), table, version)

  private def reconstruct(f: FileSystem, table: String, version: Long): Snapshot = {
    checkpointSnapshot(f, table, version).getOrElse {
      val p = versionFile(table, version)
      if (!f.exists(p))
        throw new IllegalArgumentException(s"no version $version at $table")
      val head = parseLogEntry(readFileText(f, p))
      head.full match {
        case Some(files) =>
          Snapshot(version, head.timestampMs, head.operation, head.schema,
            head.partitionColumns, files, head.txns, head.protocol,
            head.constraints)
        case None =>
          // walk back to a base, collecting the delta chain (ascending)
          var chain: List[LogEntry] = List(head)
          var base: Seq[FileEntry] = if (head.reset) Seq.empty else null
          var cur = version
          while (base == null) {
            if (cur - 1 == 0) base = Seq.empty // first commit: empty base
            else checkpointSnapshot(f, table, cur - 1) match {
              case Some(cp) => base = cp.files
              case None =>
                val q = versionFile(table, cur - 1)
                if (!f.exists(q))
                  throw new IllegalStateException(
                    s"cannot reconstruct version $version of $table: log entry " +
                      s"${cur - 1} is missing (foreign log deletion?)")
                val e = parseLogEntry(readFileText(f, q))
                e.full match {
                  case Some(files) => base = files
                  case None =>
                    chain ::= e
                    if (e.reset) base = Seq.empty
                    else cur -= 1
                }
            }
          }
          var files = base
          chain.foreach { d =>
            files =
              if (d.reset) d.adds
              else {
                val rm = d.removes.toSet
                (if (rm.isEmpty) files else files.filterNot(x => rm(x.path))) ++ d.adds
              }
          }
          Snapshot(version, head.timestampMs, head.operation, head.schema,
            head.partitionColumns, files, head.txns, head.protocol,
            head.constraints)
      }
    }
  }

  /** Commit `snap` as `snap.version` iff that version does not exist
    * yet, writing the DELTA (`adds`/`removes`/`reset`) — O(files
    * touched) JSON, never the full file list. `snap` is the full
    * post-commit state the caller derived; at every
    * `checkpointInterval`-th version the winner also rolls it into a
    * snapshot checkpoint (advisory). Returns false on a lost race
    * (version taken by another writer). Writers reach it only through
    * [[commitLoop]].
    */
  private[lake] def tryCommit(spark: SparkSession, table: String, snap: Snapshot,
                              adds: Seq[FileEntry], removes: Seq[String],
                              reset: Boolean = false,
                              cdc: Option[Seq[String]] = None,
                              prev: Option[Snapshot] = None,
                              constraintsUpdate: Option[Map[String, String]] = None,
                              removedFull: Seq[String] = Nil): Boolean = meteredCommit { meteredFileOps {
    // writer gate: refuse to commit over a log that demands a newer
    // writer (the invariants it encodes are unknown to this client);
    // the stamp is monotonic — a commit never downgrades the table's
    // protocol, so one upgraded writer doesn't strand later readers
    prev.map(_.protocol).foreach { p =>
      if (p.writer > MaxWriterVersion)
        throw new ProtocolVersionException(
          s"table $table requires writerVersion ${p.writer}, but this library " +
            s"writes up to writerVersion $MaxWriterVersion — upgrade the " +
            "library to write this table")
    }
    val stamped = snap.copy(
      protocol = Protocol(
        math.max(snap.protocol.reader, prev.map(_.protocol.reader).getOrElse(1)),
        math.max(snap.protocol.writer, prev.map(_.protocol.writer).getOrElse(1))),
      // CHECK constraints carry forward CENTRALLY (like the protocol
      // stamp): no DML path can silently drop them by forgetting to
      // thread the field; only an explicit ADD/DROP CONSTRAINT commit
      // replaces the set
      constraints = constraintsUpdate.getOrElse(
        prev.map(_.constraints).getOrElse(snap.constraints)))
    val f = fs(spark, table)
    f.mkdirs(logPath(table))
    val target = versionFile(table, stamped.version)
    if (f.exists(target)) return false // fast path only; atomicity is in the publish
    val tmp = new Path(logPath(table), s".tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(renderDelta(stamped, adds, removes, reset, cdc, removedFull)
      .getBytes("UTF-8"))
    finally out.close()
    val won = publishIfAbsent(f, tmp, target)
    if (won) {
      writeLatestHint(f, table, stamped.version)
      if (stamped.version % checkpointInterval == 0)
        writeSnapshotCheckpoint(spark, f, table, stamped)
    }
    won
  }}

  // ------------------------------------------------------ commit publishing
  //
  // Publishing a version file is delegated to a per-scheme
  // CommitPublisher (the pluggable seam an object-store deployment
  // fills in). Only schemes with a KNOWN-atomic put-if-absent ship
  // built in; anything else is refused loudly at commit time — the
  // alternative is a commit protocol that silently degrades to
  // last-writer-wins under concurrency.

  private val commitPublishers =
    new java.util.concurrent.ConcurrentHashMap[String, CommitPublisher]()
  commitPublishers.put("file", HardLinkPublisher)
  // hdfs/viewfs: single-namespace-op no-overwrite rename; abfs(s): ADLS
  // Gen2 hierarchical namespace, true atomic rename; cfs: this repo's
  // counting test filesystem (a RawLocal delegate — same contract)
  Seq("hdfs", "viewfs", "abfs", "abfss", "cfs").foreach(
    commitPublishers.put(_, RenameNonePublisher))

  /** Register (or replace) the [[CommitPublisher]] for a URI scheme —
    * how an S3-family deployment supplies its conditional-PUT /
    * lock-table primitive. See [[CommitPublisher]] for the contract.
    */
  def registerCommitPublisher(scheme: String, p: CommitPublisher): Unit =
    commitPublishers.put(scheme.toLowerCase(java.util.Locale.ROOT), p)

  private def publisherFor(f: FileSystem): CommitPublisher = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
      .toLowerCase(java.util.Locale.ROOT)
    commitPublishers.get(scheme) match {
      case null => throw new UnsupportedOperationException(
        s"no atomic commit publisher is registered for filesystem scheme " +
          s"'$scheme' — the commit protocol requires an atomic put-if-absent " +
          "primitive, and this scheme has no known-safe rename/link (S3-family " +
          "stores notably lack one: without it, concurrent writers degrade to " +
          "last-writer-wins and lose snapshots). Register one with " +
          "LakeTable.registerCommitPublisher(scheme, publisher) backed by a " +
          "conditional PUT or an external lock service")
      case p => p
    }
  }

  /** Atomically publish the fully-written `tmp` as `target` iff `target`
    * does not exist, via the scheme's registered [[CommitPublisher]].
    */
  private[lake] def publishIfAbsent(f: FileSystem, tmp: Path, target: Path): Boolean = {
    val won = publisherFor(f).publishIfAbsent(f, tmp, target)
    // link path: tmp still exists either way; rename path: only on loss.
    try f.delete(tmp, false) catch { case _: java.io.IOException => () }
    won
  }

  // ------------------------------------------------------------- data files

  /** Every file under `dir`, found with one `listStatus` per directory;
    * empty when `dir` does not exist. Not `listFiles(dir, true)`: the
    * located statuses it builds load each file's permissions, which on
    * Hadoop's local file system without native IO forks an `ls` per
    * file. On an object store this is one LIST per directory, and the
    * trees listed here are at most as deep as the partition columns.
    */
  private[lake] def leafFiles(f: FileSystem, dir: Path): Seq[FileStatus] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[FileStatus]
    def walk(d: Path): Unit =
      (try f.listStatus(d) catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] })
        .foreach(st => if (st.isDirectory) walk(st.getPath) else if (st.isFile) out += st)
    walk(dir)
    out.toSeq
  }

  /** Write `df` as parquet into a fresh `<table>/_staging/<uuid>`
    * directory and hand that directory to `publish`, then delete it
    * whether the write, the publish or neither failed — a failed
    * statement (a CHECK violation, a `raise_error` in a SET value, a
    * lost rename) leaves no staging litter for vacuum's grace period to
    * sweep. The write meters as commit time; `publish` meters its own
    * file operations.
    */
  private[lake] def withStagedWrite[T](spark: SparkSession, table: String, df: DataFrame,
                                       partitionBy: Seq[String] = Nil)(publish: Path => T): T = {
    val staging = new Path(new Path(table, "_staging"), java.util.UUID.randomUUID().toString)
    // no _SUCCESS marker: the log, not a marker file, defines commit
    // visibility — and a directory-rename publish would otherwise carry
    // the marker along as litter
    val writer = df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    // a failed write returns while its other tasks are still being
    // killed, and a killed task can still create its attempt directory
    // under the staging dir: tag the write's jobs so the failure path
    // can wait for them before deleting
    val tag = s"graft-staged-write-${staging.getName}"
    val sc = spark.sparkContext
    try {
      sc.addJobTag(tag)
      try meteredCommit((if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
        .parquet(staging.toString))
      catch { case e: Throwable => awaitTasksEnded(spark, tag); throw e }
      finally sc.removeJobTag(tag)
      publish(staging)
    } finally {
      try fs(spark, table).delete(staging, true) catch { case _: java.io.IOException => () }
    }
  }

  /** Wait, for at most 30 s, until no task of the jobs tagged `tag` is
    * running. Read from the status store after draining the listener
    * bus: a stage's active-task count is rewritten when its last task
    * ends, so a stale count only overstates what still runs.
    */
  private def awaitTasksEnded(spark: SparkSession, tag: String): Unit = {
    val st = spark.sparkContext.statusTracker
    def running: Boolean = {
      org.apache.spark.sql.graft.SqlShims.drainListenerBus(spark)
      st.getJobIdsForTag(tag).exists(j => st.getJobInfo(j).exists(_.stageIds.exists(s =>
        st.getStageInfo(s).exists(_.numActiveTasks > 0))))
    }
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Write `df` to a transient staging dir, then move the part files
    * into the shared `data/` tree (preserving hive partition subdirs).
    * Part file names embed the write job's UUID, so moves never
    * collide. Returns the new files as log entries, with size/mtime and
    * footer stats collected while the just-written files are
    * page-cache-warm — the one moment metadata is cheap; every later
    * reader plans from the log alone.
    */
  private[lake] def stageFiles(spark: SparkSession, table: String, df: DataFrame,
                         partitionBy: Seq[String],
                         mapping: Map[String, String] = Map.empty,
                         checks: Map[String, String] = Map.empty,
                         replaceLayout: Boolean = false): Seq[FileEntry] = {
    val snapMeta = latestSnapshot(spark, table)
    // CHECK constraints evaluate over LOGICAL names, in-flight, before
    // any physical renaming — see withChecks
    val checked = withChecks(spark, table, df, checks)
    // column mapping: files (and therefore their footer stats, and the
    // stats recorded in the log) always carry PHYSICAL column names —
    // `mapping` is the caller's authoritative logical → physical map
    // for this commit's schema; identity (or empty) for unmapped tables
    val physDf = ColumnMapping.renameToPhysical(checked, mapping)
    val physParts = partitionBy.map(p => mapping.getOrElse(p, p))
    // generated partition columns: re-derive from the source on EVERY
    // write path (the transform is a pure function, so recomputation is
    // idempotent) — appends, streaming appends, CoW rewrites, dynamic
    // partition overwrite and compaction all preserve "stored value ==
    // transform(source)". A creation frame's own stamps win; a
    // layout-keeping write inherits the table's; a layout-replacing
    // overwrite without stamps de-generates, like de-bucketing.
    val genSpecs = {
      val own = GeneratedColumns.specs(df.schema)
      if (own.nonEmpty) own
      else if (replaceLayout) Nil
      else snapMeta.map(s => GeneratedColumns.specs(s.schema)).getOrElse(Nil)
    }
    val gened =
      if (genSpecs.isEmpty) physDf
      else {
        val snapMapping = snapMeta.map(s => ColumnMapping.mapping(s.schema))
          .getOrElse(Map.empty[String, String])
        GeneratedColumns.derive(physDf, genSpecs,
          n => mapping.getOrElse(n, snapMapping.getOrElse(n, n)))
      }
    // bucketed layout: the incoming frame's schema stamps win (a
    // bucketed (re)creation); otherwise a layout-keeping write (append,
    // CoW rewrite, compact) inherits the table's spec, so EVERY write
    // path preserves "all live data files are bucket files". A
    // layout-replacing write (overwrite) with an unstamped frame
    // de-buckets — overwrite replaces the schema wholesale, spec
    // included.
    val bucketing = Bucketing.spec(df.schema).orElse(
      if (replaceLayout) None
      else snapMeta.flatMap(s => Bucketing.spec(s.schema)))
    val routed = bucketing match {
      case Some(sp) =>
        val bcols = sp.bucketCols.map(c => col(mapping.getOrElse(c, c)))
        // HashPartitioning: partition id = pmod(murmur3(bucketCols), n)
        // — the exact function FileSourceScanExec assumes of bucket
        // files, so the staged task id IS the bucket id
        val rp = gened.repartition(sp.numBuckets, bcols: _*)
        if (sp.sortCols.isEmpty) rp
        else rp.sortWithinPartitions(
          (physParts ++ sp.sortCols.map(c => mapping.getOrElse(c, c))).map(col): _*)
      case None => gened
    }
    val f = fs(spark, table)
    // partition column values live in the dir path, not the file — only
    // data columns have footer stats (physical names: the files' own)
    val dataSchema = StructType(gened.schema.filterNot(fl => physParts.contains(fl.name)))
    val conf = spark.sessionState.newHadoopConf()
    val entries = withStagedWrite(spark, table, routed, physParts) { staging =>
      // the staged listing's FileStatus stands for the published file:
      // rename preserves length and mtime, so no per-file re-stat after
      // the move (one round trip per file saved on an object store)
      val staged = meteredCommit { meteredFileOps {
        leafFiles(f, staging).filter(_.getPath.getName.endsWith(".parquet")).map(st =>
          (relativize(staging, st.getPath), st.getPath, st.getLen, st.getModificationTime))
      }}
      // An unpartitioned, unbucketed commit (staged files all at the
      // staging root) publishes its data files with ONE directory rename
      // — data/<batch-uuid>/<part-file> — instead of a move per file:
      // the log's paths are opaque table-relative names, so the extra
      // level costs readers nothing (partition parsing is a no-op on an
      // empty partition schema), and the per-file rename+mkdirs round
      // trips vanish from the commit path (guide §6). Hive-partitioned
      // layouts keep per-file moves (their dir names ARE semantics);
      // bucketed commits keep them too (the move renames the file to
      // carry its bucket id).
      val bulkMove = bucketing.isEmpty && physParts.isEmpty &&
        staged.nonEmpty && staged.forall(s => !s._1.contains('/'))
      // move + stat + footer-read PER FILE, fanned out on a bounded pool:
      // serially this is the driver-side commit bottleneck once a write
      // stages thousands of files (each footer read is a GET on an object
      // store); the files are independent, so the wall cost drops to
      // ceil(files / threads) round trips
      if (bulkMove) {
        val batchDir = staging.getName // the write's UUID — unique
        val destDir = new Path(dataPath(table), batchDir)
        meteredCommit { meteredFileOps {
          f.mkdirs(dataPath(table))
          if (!f.rename(staging, destDir))
            throw new IllegalStateException(s"could not move $staging to $destDir")
        }}
        stageParallel(staged) { case (rel0, _, len, mtime) =>
          val rel = s"$batchDir/$rel0"
          val (rows, stats) =
            ParquetStats.collect(conf, new Path(dataPath(table), rel), dataSchema)
          FileEntry(rel, len, mtime, rows, stats)
        }
      } else if (bucketing.isEmpty && physParts.nonEmpty) {
        // hive-partitioned, unbucketed: publish each staged leaf
        // partition directory with ONE rename —
        // <k=v dirs>/<batch-uuid>/<part-file> — instead of a move per
        // file (guide §6, the partitioned sibling of bulkMove above).
        // Partition identity is carried by the LEADING k=v segments,
        // which every consumer parses by name (PartitionPaths.valuesOf)
        // or by leading run (partitionDirOf), so the nested batch dir
        // is invisible to partition semantics. Single-file partitions
        // keep the flat per-file move (a dir rename would add nesting
        // for no round-trip win).
        val batchDir = staging.getName
        val byDir = staged.groupBy { case (rel0, _, _, _) =>
          val i = rel0.lastIndexOf('/')
          if (i < 0) "" else rel0.substring(0, i)
        }.toSeq.sortBy(_._1)
        val moved = stageParallel(byDir) { case (pdir, files) =>
          val destParent =
            if (pdir.isEmpty) dataPath(table) else new Path(dataPath(table), pdir)
          f.mkdirs(destParent)
          if (files.size > 1 && pdir.nonEmpty) {
            val destDir = new Path(destParent, batchDir)
            if (!f.rename(new Path(staging, pdir), destDir))
              throw new IllegalStateException(
                s"could not move ${new Path(staging, pdir)} to $destDir")
            files.map { case (rel0, _, len, mtime) =>
              (s"$pdir/$batchDir/${rel0.substring(pdir.length + 1)}", len, mtime)
            }
          } else files.map { case (rel0, src, len, mtime) =>
            val dest = new Path(dataPath(table), rel0)
            if (!f.rename(src, dest))
              throw new IllegalStateException(s"could not move $src to $dest")
            (rel0, len, mtime)
          }
        }
        stageParallel(moved.flatten) { case (rel, len, mtime) =>
          val (rows, stats) =
            ParquetStats.collect(conf, new Path(dataPath(table), rel), dataSchema)
          FileEntry(rel, len, mtime, rows, stats)
        }
      } else {
        // mkdirs once per distinct destination directory, not per file
        meteredCommit { meteredFileOps {
          staged.map { case (rel0, _, _, _) =>
            new Path(dataPath(table), rel0).getParent
          }.distinct.foreach(f.mkdirs)
        }}
        stageParallel(staged) { case (rel0, src, len, mtime) =>
          // bucketed commit: the staged name's task id (= bucket id under
          // the repartition above) moves into Spark's bucket-file naming,
          // `_NNNNN` before the extension — what BucketingUtils parses
          val rel = bucketing match {
            case Some(_) =>
              val slash = rel0.lastIndexOf('/')
              val (dir, name) = rel0.splitAt(slash + 1)
              val tid = Bucketing.taskIdOf(name).getOrElse(
                throw new IllegalStateException(
                  s"staged file $name carries no task id — cannot assign its bucket"))
              dir + Bucketing.bucketedName(name, tid)
            case None => rel0
          }
          val dest = new Path(dataPath(table), rel)
          if (!f.rename(src, dest))
            throw new IllegalStateException(s"could not move $src to $dest")
          val (rows, stats) = ParquetStats.collect(conf, dest, dataSchema)
          FileEntry(rel, len, mtime, rows, stats)
        }
      }
    }
    // bloom sidecar for flagged columns: the table's CURRENT schema
    // metadata names them (enableBloomFilter); the build reads the
    // just-moved, page-cache-warm files once, distributed. Flags are
    // logical names; the staged files (and the probe-side stats path)
    // carry physical names, so translate through this write's mapping.
    val flagged = snapMeta
      .map(s => BloomIndex.flaggedColumns(s.schema)).getOrElse(Nil)
    if (flagged.isEmpty || entries.isEmpty) entries
    else {
      val byPhys = flagged.flatMap { case (logical, fpp) =>
        val phys = mapping.getOrElse(logical, logical)
        dataSchema.fields.find(_.name == phys).map(fl => (phys, fl.dataType, fpp))
      }
      BloomIndex.buildSidecar(spark, table, entries, byPhys) match {
        case Some(sidecar) => entries.map(_.copy(bloom = Some(sidecar)))
        case None => entries
      }
    }
  }

  // ------------------------------------------------------ commit-time meter
  //
  // Wall nanos spent inside the commit MACHINERY, accumulated JVM-wide
  // as TWO counters with different envelopes:
  //   - commitNanos: staged parquet write + per-file move/stat/footer
  //     fan-out + log write/publish. NOTE the staged write executes the
  //     entire upstream query plan (the joins/aggregations producing
  //     the rows), so for write-heavy keys this INCLUDES engine
  //     compute — it bounds "time under the write path", not pure FS
  //     machinery.
  //   - fileOpsNanos: ONLY the post-execution file operations —
  //     listing/moving/stat'ing staged files, footer-stats reads, log
  //     write + publish. This is the FS-latency-bound part that tracks
  //     the write canary's regime.
  // Bench samples deltas of both around each key (commit_s /
  // fileops_s in BENCH_DETAIL), so box-level write-path drift is
  // attributable without overstating it as the whole staged write.
  // The depth guard is per thread, so CONCURRENT operations (e.g. the
  // pipeline's models, materialized side by side) each add their own
  // wall time: a span's commit seconds can then exceed its wall time —
  // perfbench's lake.commit_s and lake.overwrite_ms on nightly_pipeline
  // read as summed per-model commit time, not elapsed time.
  private val commitNanosAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  private val meterDepth = new ThreadLocal[Integer] { override def initialValue = Integer.valueOf(0) }
  private val fileOpsNanosAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  private val fileOpsDepth = new ThreadLocal[Integer] { override def initialValue = Integer.valueOf(0) }

  /** Cumulative commit-machinery wall nanos in this JVM (includes the
    * staged write's query execution — see the section comment).
    */
  def commitNanos: Long = commitNanosAcc.get()

  /** Cumulative post-execution commit file-operation wall nanos in
    * this JVM (move/stat/footer/log/publish only — no query compute).
    */
  def fileOpsNanos: Long = fileOpsNanosAcc.get()

  /** Meter `body` into [[commitNanos]]; nested spans on the same
    * thread count once (outermost wins).
    */
  @inline private[lake] def meteredCommit[T](body: => T): T = {
    val d = meterDepth.get.intValue
    meterDepth.set(Integer.valueOf(d + 1))
    val t0 = System.nanoTime()
    try body finally {
      meterDepth.set(Integer.valueOf(d))
      if (d == 0) commitNanosAcc.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Meter `body` into [[fileOpsNanos]] (outermost wins per thread);
    * composes with [[meteredCommit]] — the two counters are
    * independent.
    */
  @inline private[lake] def meteredFileOps[T](body: => T): T = {
    val d = fileOpsDepth.get.intValue
    fileOpsDepth.set(Integer.valueOf(d + 1))
    val t0 = System.nanoTime()
    try body finally {
      fileOpsDepth.set(Integer.valueOf(d))
      if (d == 0) fileOpsNanosAcc.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Persist `df` (MEMORY_AND_DISK) unless an identical plan is cached
    * already, checking and adding under the CacheManager's lock. Two
    * concurrent statements over one plan (racing refreshes of one
    * target) then share one cache entry: without the lock both persist
    * it, and Spark warns "Asked to cache already cached data". True when
    * this call made the entry — only its maker unpersists it; a sharer
    * whose maker finished first reads through to the plan again.
    */
  private[lake] def persistShared(df: DataFrame): Boolean = {
    val cm = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    cm.synchronized {
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE && {
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        true
      }
    }
  }

  /** Run two INDEPENDENT staged writes concurrently (guide §2.6/§5:
    * a DML commit's data-file, change-feed and deletion-vector writes
    * share no lineage beyond already-persisted inputs, so running them
    * serially leaves the cluster idle during each one's driver-side
    * planning). `b` runs on a helper thread with the commit/fileops
    * meters SUPPRESSED — the caller's wall clock already covers the
    * overlapped region once, and double-counting both threads would
    * inflate commit_s beyond wall time. Spark actions are thread-safe;
    * the helper thread inherits the caller's job group/description
    * (InheritableThreadLocal) so bench job labels stay attached.
    */
  private[lake] def stageConcurrently[A, B](a: => A)(b: => B): (A, B) = meteredCommit {
    // the whole overlapped region (including the join wait) meters as
    // the CALLER's commit wall, once — nested meters inside `a` are
    // depth-guarded, `b`'s thread is suppressed outright
    val rb = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, B]]()
    val t = new Thread(() => {
      meterDepth.set(Integer.valueOf(1))
      fileOpsDepth.set(Integer.valueOf(1))
      rb.set(
        try Right(b)
        catch { case e: Throwable => Left(e) })
    }, "graft-staging")
    t.setDaemon(true)
    t.start()
    val ra =
      try a
      catch {
        case e: Throwable =>
          // graft.Parallel's contract: the first failure rethrows with
          // the other side's attached, not dropped
          t.join()
          rb.get() match {
            case Left(eb) if eb ne e => e.addSuppressed(eb)
            case _ => ()
          }
          throw e
      }
    t.join()
    rb.get() match {
      case Right(v) => (ra, v)
      case Left(e)  => throw e
    }
  }

  /** Run `body` over the items on a bounded thread pool
    * ([[graft.Parallel.mapAll]]: ordered results, every task awaited,
    * the first failure in item order rethrown) — so a caller's
    * `finally` that deletes the staging directory never races a rename
    * still in flight.
    */
  private def stageParallel[A, B](items: Seq[A])(body: A => B): Seq[B] =
    meteredCommit { meteredFileOps { graft.Parallel.mapAll(items, 16)(body) } }

  // ------------------------------------------------------ change data feed

  /** Column names of the change feed (Delta's public convention). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"

  private[lake] def changeDataPath(table: String) = new Path(table, "_change_data")

  /** Write `df` (already carrying `_change_type`) as this commit's
    * change-data files, returning their table-root-relative paths for
    * the log entry. Like [[stageFiles]] but into `_change_data/`, no
    * hive partitioning, no stats (the feed is read whole per commit).
    */
  private[lake] def stageChangeFiles(spark: SparkSession, table: String,
                               df: DataFrame): Seq[String] =
    withStagedWrite(spark, table, df) { staging =>
      // change files are never partitioned: publish the whole staged dir
      // with ONE rename — _change_data/<batch-uuid>/<part-file> — the
      // feed reader takes the recorded paths verbatim, so the extra
      // level is free (see the bulk-move note in stageFiles)
      meteredCommit { meteredFileOps {
        val f = fs(spark, table)
        val staged = leafFiles(f, staging).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(relativize(staging, _))
        if (staged.isEmpty) Nil
        else {
          val batchDir = staging.getName
          val destDir = new Path(changeDataPath(table), batchDir)
          f.mkdirs(changeDataPath(table))
          if (!f.rename(staging, destDir))
            throw new IllegalStateException(s"could not move $staging to $destDir")
          staged.toSeq.map(rel => s"_change_data/$batchDir/$rel")
        }
      }}
    }

  /** Row-level changes of exactly version `v`: the table columns of
    * that commit's schema plus `_change_type` ('insert' | 'delete' |
    * 'update_preimage' | 'update_postimage'), `_commit_version`, and
    * `_commit_timestamp`. `None` for COMPACT (bytes moved, no rows
    * changed). DML commits read their recorded change files;
    * append-shaped commits synthesize inserts from their added files;
    * OVERWRITE synthesizes the previous snapshot as deletes plus the
    * new files as inserts. A legacy row-rewriting commit with no
    * recorded change data fails loudly — its row-level delta is
    * unknowable after the fact.
    */
  private[lake] def changesOf(spark: SparkSession, table: String,
                              v: Long): Option[DataFrame] =
    changesOfEntry(spark, table, logEntryAt(spark, table, v))

  private[lake] def changesOfEntry(spark: SparkSession, table: String,
                                   e: LogEntry): Option[DataFrame] = {
    val v = e.version
    def decorate(df: DataFrame, changeType: Option[String]): DataFrame = {
      val typed = changeType.map(t => df.withColumn(ChangeTypeCol, lit(t))).getOrElse(df)
      typed
        .withColumn(CommitVersionCol, lit(v))
        .withColumn(CommitTimestampCol, lit(e.timestampMs))
    }
    // entry-aware read: a snapshot / add-list may carry deletion
    // vectors (e.g. a RESTORE re-referencing dv'd entries) whose
    // deleted rows must not appear in synthesized change rows
    def readEntries(entries: Seq[FileEntry], schema: StructType): DataFrame =
      LakeScan.morScan(spark, table,
        Snapshot(v, e.timestampMs, e.operation, schema, e.partitionColumns, entries),
        entries, keepPos = false)
    def emptyChanges: DataFrame = decorate(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        GraftDataSource.asNullable(e.schema)).withColumn(ChangeTypeCol, lit("insert"))
        .filter(lit(false)), None)
    // metadata-only drops (removedFull): the dropping commit recorded
    // no change rows for these files (reading them would defeat the
    // drop); synthesize their rows as deletes from the previous
    // snapshot's entries — dv state honored — and union with whatever
    // the commit DID record
    def removedFullDeletes: Option[DataFrame] =
      if (e.removedFull.isEmpty) None
      else {
        val rset = e.removedFull.toSet
        val prev = snapshotAt(spark, table, v - 1)
        val removed = prev.files.filter(f => rset.contains(f.path))
        if (removed.isEmpty) None
        else Some(decorate(readEntries(removed, prev.schema), Some("delete")))
      }
    if (e.operation == "COMPACT") None
    else if (e.cdc.exists(_.nonEmpty)) {
      // recorded change files carry the commit's columns + _change_type
      val feedSchema = GraftDataSource.asNullable(e.schema)
        .add(ChangeTypeCol, org.apache.spark.sql.types.StringType)
      val recorded = decorate(LakeScan.scanEntries(spark, table, feedSchema, Nil,
        e.cdc.get.map(rel => FileEntry(rel, -1L, -1L, -1L, Map.empty)),
        base = Some(new Path(table))), None)
      Some(removedFullDeletes.fold(recorded)(d =>
        recorded.unionByName(d, allowMissingColumns = true)))
    } else if (e.cdc.isDefined) {
      // recorded, and genuinely empty (e.g. a conditional merge where
      // no clause fired) — a real empty change set, not a legacy gap
      Some(removedFullDeletes.getOrElse(emptyChanges))
    } else e.full match {
      case Some(_) =>
        throw new UnsupportedOperationException(
          s"change feed of $table: version $v is a legacy full-state commit " +
            "(pre-change-feed) — its row-level changes were not recorded")
      case None if e.reset =>
        // overwrite: everything before is deleted, everything added
        // inserts. Version 1 has no previous snapshot — a table CREATED
        // by overwrite (the common case) starts from the empty base,
        // mirroring reconstruct's "first commit: empty base" rule.
        val deletes =
          if (v == 1) emptyChanges
          else {
            val prev = snapshotAt(spark, table, v - 1)
            if (prev.files.isEmpty) emptyChanges
            else decorate(readEntries(prev.files, prev.schema), Some("delete"))
          }
        val inserts =
          if (e.adds.isEmpty) emptyChanges
          else decorate(readEntries(e.adds, e.schema), Some("insert"))
        Some(deletes.unionByName(inserts, allowMissingColumns = true))
      case None if e.operation == "OVERWRITE PARTITIONS" || e.operation == "PUBLISH" =>
        // dynamic partition overwrite — and a WAP branch PUBLISH, which
        // has the same commit shape — synthesize like OVERWRITE, but
        // scoped: deletes are the rows of exactly the REPLACED files
        // (recovered from the previous snapshot so their dv state is
        // honored), inserts are the added files' rows
        val removedSet = e.removes.toSet
        val deletes =
          if (removedSet.isEmpty) emptyChanges
          else {
            val prev = snapshotAt(spark, table, v - 1)
            val removed = prev.files.filter(f => removedSet.contains(f.path))
            if (removed.isEmpty) emptyChanges
            else decorate(readEntries(removed, prev.schema), Some("delete"))
          }
        val inserts =
          if (e.adds.isEmpty) emptyChanges
          else decorate(readEntries(e.adds, e.schema), Some("insert"))
        Some(deletes.unionByName(inserts, allowMissingColumns = true))
      case None if e.removes.nonEmpty =>
        throw new UnsupportedOperationException(
          s"change feed of $table: version $v (${e.operation}) rewrote rows but " +
            "recorded no change data (written before the change feed existed?)")
      case None =>
        // append-shaped: added files ARE the inserted rows
        if (e.adds.isEmpty) Some(emptyChanges)
        else Some(decorate(readEntries(e.adds, e.schema), Some("insert")))
    }
  }

  /** The change feed over the inclusive version range — Delta's
    * `table_changes` analog: every row-level change each commit made,
    * typed and stamped with its commit version/timestamp. Reading a
    * graft table incrementally through this is what turns a 100 TB
    * dedup/update pipeline from recompute-the-world into
    * propagate-the-delta. Columns follow the latest schema in the
    * range (earlier commits' missing columns read null).
    */
  def changes(spark: SparkSession, table: String, startVersion: Long,
              endVersion: Long): DataFrame = {
    require(startVersion >= 1 && startVersion <= endVersion,
      s"invalid change range [$startVersion, $endVersion]")
    val frames = (startVersion to endVersion).flatMap(changesOf(spark, table, _))
    frames.reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
      .getOrElse {
        // every commit in range was maintenance (COMPACT): a truthful
        // empty feed, typed to the range-end schema — callers like
        // Incremental fold it as "nothing changed", not an error
        val schema = GraftDataSource.asNullable(
          snapshotAt(spark, table, endVersion).schema)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .withColumn(ChangeTypeCol, lit("insert"))
          .withColumn(CommitVersionCol, lit(endVersion))
          .withColumn(CommitTimestampCol, lit(0L))
          .filter(lit(false))
      }
  }

  private[lake] def relativize(base: Path, p: Path): String = {
    val b = base.toUri.getPath.stripSuffix("/")
    val s = p.toUri.getPath
    require(s.startsWith(b + "/"), s"$p not under $base")
    s.drop(b.length + 1)
  }

  /** A FOREIGN entry is a zero-copy [[shallowClone]] reference: an
    * absolute URI into the SOURCE table's data root, vs the normal
    * data-root-relative path. (Local-FS qualified paths render as
    * `file:/x` — single slash — so test `:/`, not `://`.)
    */
  private[lake] def isForeignEntry(rel: String): Boolean =
    rel.startsWith("/") || rel.contains(":/")

  /** The exact string `_metadata.file_path` yields for a log path.
    * Spark publishes scan paths as RFC-2396-percent-encoded URIs
    * (SparkPath), while log entries store Hadoop `Path.toString`
    * (decoded) forms — a path with a space would compare unequal
    * verbatim. Building a `Path` and taking `toUri` applies the same
    * quoting the scan does, so every driver-side literal compared
    * against [[FilePathCol]] or a deletion-vector key must pass
    * through these. Paths without percent-encodable characters
    * round-trip unchanged, so this is a no-op on conventional layouts.
    */
  private[lake] def scanFormAbs(p: String): String = scanFormPath(new Path(p))

  /** [[scanFormAbs]] for a data-root-relative log path. */
  private[lake] def scanFormRel(rel: String): String = scanFormPath(new Path(rel))

  /** Render like Hadoop `Path.toString` (scheme:, `//authority` only
    * when non-empty — `makeQualified` on a local fs yields an EMPTY
    * authority while listed statuses carry none, and `URI.toString`
    * would print them differently) but with the RAW (encoded) path.
    */
  private[lake] def scanFormPath(p: Path): String = {
    val u = p.toUri
    val sb = new StringBuilder
    if (u.getScheme != null) sb.append(u.getScheme).append(':')
    if (u.getAuthority != null && u.getAuthority.nonEmpty)
      sb.append("//").append(u.getAuthority)
    sb.append(u.getRawPath)
    sb.toString
  }

  /** The physical location of a log entry's file. */
  private[lake] def entryPath(dataRoot: Path, rel: String): Path =
    if (isForeignEntry(rel)) new Path(rel) else new Path(dataRoot, rel)

  // ------------------------------------------------- merge-on-read reads
  //
  // A snapshot whose entries carry deletion vectors applies them inside
  // the parquet reader ([[GraftParquetFileFormat]]); every scan of log
  // entries and the one pruner live in LakeScan.scala. These are the
  // file-identity columns DML detection maps its hits to entries by.

  /** Column names the MoR scan uses for file identity + row position.
    * Underscored like Delta's internal columns; dropped before rows
    * reach a user unless the caller asks to keep them (detection
    * scans).
    */
  private[lake] val FilePathCol = "__graft_file_path"
  private[lake] val RowPosCol = "__graft_row_pos"

  private[lake] def hasDv(snap: Snapshot): Boolean = snap.files.exists(_.dv.isDefined)

  /** The absolute data-root prefix EXACTLY as the scan's
    * `_metadata.file_path` renders file paths (Hadoop's
    * `Path.toString` of the qualified path — `file:/x`, not the URI
    * form `file:///x`). Hits that violate the assumption fail loudly in
    * [[RowLevelOps]]'s mapping of hits to entries rather than
    * committing a vector for no file.
    */
  private def qualifiedDataPrefix(spark: SparkSession, table: String): String =
    fs(spark, table).makeQualified(dataPath(table)).toString

  /** [[qualifiedDataPrefix]] in the scan form ([[scanFormAbs]]) — the
    * prefix `_metadata.file_path` values of local files start with.
    */
  private[lake] def scanDataPrefix(spark: SparkSession, table: String): String =
    scanFormPath(fs(spark, table).makeQualified(dataPath(table))) + "/"

  /** Incoming write schema decorated for the target's column mapping:
    * fields whose name the snapshot knows take its physical name; new
    * fields get a fresh one when (and only when) the table is mapped.
    * Returns the decorated fields plus the logical → physical map to
    * stage this write's files with. Identity for unmapped tables.
    */
  private[lake] def mappedIncoming(prev: Option[Snapshot],
                             incoming: StructType): (StructType, Map[String, String]) =
    prev match {
      case Some(p) if ColumnMapping.isMapped(p.schema) =>
        val snapMap = ColumnMapping.mapping(p.schema)
        val fields = incoming.fields.map { f =>
          ColumnMapping.withPhysical(f,
            snapMap.getOrElse(f.name, ColumnMapping.freshPhysicalName()))
        }
        val st = StructType(fields)
        (st, ColumnMapping.mapping(st))
      case _ => (incoming, Map.empty)
    }

  /** Commit-time guard for writes that staged files BEFORE the commit
    * loop resolved the final snapshot: if a racing RENAME/DROP (or
    * mapping enable) changed any staged column's physical name since,
    * the staged files carry the wrong names — abort loudly rather than
    * commit unreadable bytes.
    */
  private def checkMappingStable(table: String, stagePrev: Option[Snapshot],
                                 prev: Option[Snapshot],
                                 incoming: StructType,
                                 staged: Map[String, String]): Unit = {
    val was = stagePrev.map(p => ColumnMapping.mapping(p.schema)).getOrElse(Map.empty)
    val cur = prev.map(p => ColumnMapping.mapping(p.schema)).getOrElse(Map.empty)
    val drift = incoming.fieldNames.filter(n =>
      // the column's physical name changed since staging, or a column
      // the stage-time snapshot knew has since been renamed/dropped —
      // committing would re-add its old logical name over bytes (or a
      // physical name) that now belong to something else
      cur.get(n).exists(_ != staged.getOrElse(n, n)) ||
        (was.contains(n) && !cur.contains(n)))
    if (drift.nonEmpty)
      throw new ConcurrentCommitException(
        s"write to $table raced a column-mapping change (RENAME/DROP COLUMN) on: " +
          s"${drift.mkString(", ")} — the staged files carry outdated physical " +
          "names; re-run the write")
  }

  /** In-flight CHECK-constraint enforcement (Delta invariants analog):
    * wraps the outgoing frame so that any row where a constraint
    * evaluates to exactly FALSE (SQL CHECK semantics — null PASSES)
    * raises an error naming the violated constraints DURING the write.
    * The guard rides the first column's write projection, so
    * enforcement costs zero extra passes over the data — the same
    * in-task check Delta's CheckInvariant performs, vs a separate
    * validation scan that would double the read cost of every append
    * at 100 TB.
    *
    * A constraint referencing a column the frame doesn't carry (schema
    * evolution: this append omits it, readers see null) evaluates over
    * nulls and therefore passes — skipped, matching SQL CHECK.
    */
  private def withChecks(spark: SparkSession, table: String, df: DataFrame,
                         checks: Map[String, String]): DataFrame = {
    if (checks.isEmpty || df.columns.isEmpty) return df
    val resolver = spark.sessionState.conf.resolver
    val applicable = checks.toSeq.sortBy(_._1).filter { case (_, sql) =>
      val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }
      refs.forall(r => df.columns.exists(c => resolver(c, r)))
    }
    if (applicable.isEmpty) return df
    val viols = applicable.map { case (n, sql) =>
      (n, coalesce(not(expr(sql)), lit(false)))
    }
    val anyViol = viols.map(_._2).reduce(_ || _)
    val first = df.columns.head
    val dt = df.schema.head.dataType
    val msg = concat(
      lit(s"CHECK constraint violated on write to $table: "),
      concat_ws(", ", viols.map { case (n, v) => when(v, lit(n)) }: _*))
    df.withColumn(first,
      when(anyViol, raise_error(msg).cast(dt)).otherwise(col(first)))
  }

  /** Commit-time guard for writes that validated their rows against the
    * constraint set of an earlier snapshot: if the snapshot this commit
    * lands on carries a constraint the stager never checked (added or
    * changed since), abort loudly — committing would put unvalidated
    * rows behind an invariant readers trust. Dropped constraints are
    * harmless (the write over-checked).
    */
  private def checkConstraintsStable(table: String, stagePrev: Option[Snapshot],
                                     prev: Option[Snapshot]): Unit = {
    val was = stagePrev.map(_.constraints).getOrElse(Map.empty)
    val cur = prev.map(_.constraints).getOrElse(Map.empty)
    val unchecked = cur.filter { case (n, e) => !was.get(n).contains(e) }
    if (unchecked.nonEmpty)
      throw new ConcurrentCommitException(
        s"write to $table raced ADD CONSTRAINT (${unchecked.keys.toSeq.sorted.mkString(", ")}) " +
          "committed after this write validated its rows — re-run the write")
  }

  // ---------------------------------------------------------------- writes

  /** How many commit races a writer may lose before [[commitLoop]]
    * gives up — the only retry bound of the commit protocol.
    */
  private[lake] val maxRetries = 3

  /** What a writer's derive step decides for one commit attempt:
    * commit a [[CommitSpec]], or stop at an [[AlreadyCommitted]]
    * version. Refusing is throwing [[ConcurrentCommitException]].
    */
  private[lake] sealed trait Attempt

  /** Commit this: the full derived state (for the in-memory snapshot +
    * checkpoints) and the delta the log file records (`adds`,
    * `removes`, `reset`, the staged change-feed dirs `cdc`, and the
    * `removedFull` files whose deletes the change feed synthesizes).
    * `txnUpdate` merges into the head's txns; `constraintsUpdate`
    * replaces the head's CHECK constraints (None carries them).
    */
  private[lake] final case class CommitSpec(schema: StructType, partitionColumns: Seq[String],
                                            files: Seq[FileEntry], adds: Seq[FileEntry],
                                            removes: Seq[String], reset: Boolean,
                                            txnUpdate: Map[String, Long] = Map.empty,
                                            protocol: Protocol = Protocol(1, 1),
                                            constraintsUpdate: Option[Map[String, String]] = None,
                                            cdc: Option[Seq[String]] = None,
                                            removedFull: Seq[String] = Nil) extends Attempt

  /** Commit nothing and return `version`: the head already holds this
    * write (a replayed stream batch or txn watermark).
    */
  private[lake] final case class AlreadyCommitted(version: Long) extends Attempt

  /** The one commit loop of the table format (optimistic concurrency,
    * Delta Lake VLDB 2020 §3), and the only caller of [[tryCommit]].
    * Each attempt hands the head to the writer's `derive`, assembles
    * version head+1 from the returned [[CommitSpec]] and publishes it
    * put-if-absent. A lost race re-reads the head and derives again; the
    * writer decides there whether its staged work still holds on the new
    * head (rebase) or not (throw [[ConcurrentCommitException]]). After
    * [[maxRetries]] lost races the loop gives up with
    * `"<op> on <table> lost N commit races"`. The loop never deletes a
    * file: what a writer staged is the writer's to clean up.
    *
    * Carried forward from the head on every attempt: its txn watermarks
    * (merged with `txnUpdate`, so no commit drops a stream's progress),
    * and — inside [[tryCommit]] — its protocol (the stamp only rises)
    * and its CHECK constraints (only `constraintsUpdate` replaces them).
    *
    * `held` is the head the writer already read, used for the first
    * attempt instead of a fresh read (`Some(None)`: known not to exist).
    *
    * Rebase rules, per writer (each refusal throws
    * [[ConcurrentCommitException]]):
    * {{{
    * writer                         on a lost race
    * ------------------------------ --------------------------------------------
    * append, appendStream,          re-derive on the head; refuse when a
    *   overwritePartitions            RENAME/DROP COLUMN, ADD CONSTRAINT or
    *                                  bucket-layout change raced the staged files
    * overwrite, overwriteStream     re-derive; refuse when ADD CONSTRAINT raced
    * appendStream, overwriteStream  stop (None) once the head holds the batch
    * DML (RowLevelOps.commit)       rebase when schema, layout and constraints
    *                                  are unchanged, every removed or vectored
    *                                  file is unchanged, and every winner-added
    *                                  file is provably outside the footprint
    * compact, reclusterIncremental  rebase when schema, layout and every
    *   (rewriteFiles)                 rewritten file are unchanged
    * publish                        fast-forward when the branch's write set,
    *                                  schema, layout and constraints hold; stop
    *                                  once the head holds its txn
    * shallowClone                   refuse: the clone target now exists
    * addConstraint                  refuse: rows landed after its validation
    * other DDL, restore             re-derive on the head
    * }}}
    */
  private[lake] def commitLoop(spark: SparkSession, table: String, op: String,
                               held: Option[Option[Snapshot]] = None)(
      derive: Option[Snapshot] => Attempt): Long = {
    @annotation.tailrec def attempt(head: Option[Snapshot], n: Int): Long =
      derive(head) match {
        case AlreadyCommitted(v) => v
        case spec: CommitSpec =>
          val snap = Snapshot(head.map(_.version).getOrElse(0L) + 1,
            System.currentTimeMillis(), op, spec.schema, spec.partitionColumns, spec.files,
            txns = head.map(_.txns).getOrElse(Map.empty) ++ spec.txnUpdate,
            protocol = spec.protocol)
          if (tryCommit(spark, table, snap, spec.adds, spec.removes, spec.reset, spec.cdc,
              head, spec.constraintsUpdate, spec.removedFull)) snap.version
          else if (n == maxRetries)
            throw new ConcurrentCommitException(s"$op on $table lost $maxRetries commit races")
          else attempt(latestSnapshot(spark, table), n + 1)
      }
    attempt(held.getOrElse(latestSnapshot(spark, table)), 1)
  }

  /** Commit `staged` files through [[commitLoop]]; under `once =
    * (queryId, batchId)`, with the stream writers' exactly-once stop
    * rule: a head that already holds that batch (or a later one) stops
    * the commit, the staged files are deleted (orphans otherwise; vacuum
    * also reclaims) and the result is None.
    */
  private def commitStaged(spark: SparkSession, table: String, op: String,
                           staged: Seq[FileEntry], once: Option[(String, Long)])(
      derive: Option[Snapshot] => CommitSpec): Option[Long] = {
    var replayed = false
    val v = commitLoop(spark, table, op) { head =>
      replayed = holdsBatch(head, once)
      if (replayed) AlreadyCommitted(head.get.version) else derive(head)
    }
    if (!replayed) return Some(v)
    val f = fs(spark, table)
    staged.foreach(e =>
      try f.delete(new Path(dataPath(table), e.path), false)
      catch { case _: java.io.IOException => () })
    None
  }

  private def holdsBatch(s: Option[Snapshot], once: Option[(String, Long)]): Boolean =
    once.exists { case (queryId, batchId) =>
      s.exists(_.txns.get(queryId).exists(_ >= batchId)) }

  /** Replace the table contents atomically. Previous versions stay
    * readable (time travel) until vacuumed. Schema may differ freely
    * from the previous version.
    *
    * `txn = Some(appId -> version)` records an APPLICATION watermark in
    * the same commit (the txnAppId/txnVersion idiom): data and progress
    * marker land atomically, so an idempotent writer can check
    * `latestSnapshot.txns(appId)` and skip work it already committed —
    * the exactly-once primitive [[Incremental]] builds on.
    */
  def overwrite(spark: SparkSession, table: String, df0: DataFrame,
                partitionBy: Seq[String] = Nil,
                txn: Option[(String, Long)] = None,
                extraTxns: Map[String, Long] = Map.empty): Long =
    overwriteAs(spark, table, df0, "OVERWRITE", _ => partitionBy,
      txn.toMap ++ extraTxns, once = None).get

  /** The body of [[overwrite]] and [[overwriteStream]]. */
  private def overwriteAs(spark: SparkSession, table: String, df0: DataFrame, op: String,
                          partitionBy: Option[Snapshot] => Seq[String],
                          txns: Map[String, Long], once: Option[(String, Long)]): Option[Long] = {
    // overwrite replaces the schema wholesale, so it replaces the
    // column mapping too: sanitize strips any metadata the frame
    // carried from a mapped source, and the files are written with the
    // logical names — the fresh-table state. (A renamed table's
    // protocol stays ≥2, which is harmless: the stamp is monotonic.)
    val df = ColumnMapping.sanitize(df0)
    // CHECK constraints SURVIVE an overwrite (they are governance
    // metadata, not data) — the replacement rows must satisfy them
    val prev0 = latestSnapshot(spark, table)
    if (holdsBatch(prev0, once)) return None // replay detected before any staging cost
    val parts = partitionBy(prev0)
    val newFiles = stageFiles(spark, table, df, parts,
      checks = prev0.map(_.constraints).getOrElse(Map.empty), replaceLayout = true)
    commitStaged(spark, table, op, newFiles, once) { prev =>
      checkConstraintsStable(table, prev0, prev)
      // reset delta: carries the complete new file list, so it is its
      // own reconstruction base — an overwrite's delta IS full-state
      CommitSpec(df.schema, parts, newFiles, newFiles, Nil, reset = true,
        txnUpdate = txns ++ once)
    }
  }

  /** (Re)create the table hash-bucketed on `bucketCols` into
    * `numBuckets` buckets (optionally sorted by `sortCols` within each
    * bucket) — see [[Bucketing]]. Every later write preserves the
    * layout; a plain [[overwrite]] drops it.
    */
  def overwriteBucketed(spark: SparkSession, table: String, df0: DataFrame,
                        numBuckets: Int, bucketCols: Seq[String],
                        sortCols: Seq[String] = Nil,
                        partitionBy: Seq[String] = Nil,
                        txn: Option[(String, Long)] = None): Long = {
    val overlap = bucketCols.intersect(partitionBy)
    require(overlap.isEmpty,
      s"bucket column(s) ${overlap.mkString(", ")} are partition columns — a " +
        "partition value is constant per file; bucket on a non-partition key")
    val stamped = Bucketing.stampDf(ColumnMapping.sanitize(df0),
      numBuckets, bucketCols, sortCols)
    overwrite(spark, table, stamped, partitionBy, txn)
  }

  /** (Re)create the table hidden-partitioned by generated columns —
    * see [[GeneratedColumns]]. Each spec `(target, transform, source)`
    * adds a derived partition column (`p_day = day(event_ts)`, UTC
    * semantics) that every later write re-derives automatically and
    * every read prunes by from predicates on the RAW source column.
    * `partitionBy` names additional IDENTITY partition columns; the
    * generated targets are appended after them in the layout. A plain
    * [[overwrite]] drops the generated layout, like de-bucketing.
    */
  def overwriteGenerated(spark: SparkSession, table: String, df0: DataFrame,
                         gens: Seq[GeneratedColumns.Spec],
                         partitionBy: Seq[String] = Nil,
                         txn: Option[(String, Long)] = None): Long = {
    val clean = ColumnMapping.sanitize(df0)
    val stampedSchema = GeneratedColumns.stamp(clean.schema, gens)
    val withCols = GeneratedColumns.derive(clean, gens, identity)
    // re-alias so the frame's schema carries the stamps into the commit
    val stamped = withCols.select(stampedSchema.fields.map(f =>
      withCols(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
    overwrite(spark, table, stamped, partitionBy ++ gens.map(_.target), txn)
  }

  /** Dynamic partition overwrite — atomically REPLACE exactly the hive
    * partitions the incoming rows land in, carrying every other
    * partition's files untouched (Spark's
    * `partitionOverwriteMode=dynamic` / Delta partition-replaceWhere
    * analog; also reachable from SQL: `INSERT OVERWRITE` under the
    * dynamic conf routes here). THE idempotent daily reload at 100 TB:
    * re-running a day's load replaces that day's partitions and
    * nothing else — no read-modify-write, no full overwrite, commit
    * cost O(touched partitions), never O(table). The change feed
    * synthesizes delete-of-replaced + insert-of-new lazily from the
    * log (like OVERWRITE), so the write itself stages no change files.
    *
    * ref: the reference's scheduled silver/gold rebuilds re-materialize
    * the current slice per run (schedules/defs.yaml; silver defs.yaml
    * trino_sql) — this is that pattern without rewriting history.
    */
  def overwritePartitions(spark: SparkSession, table: String, df0: DataFrame,
                          txn: Option[(String, Long)] = None): Long = {
    val df = ColumnMapping.sanitize(df0)
    val prev0 = latestSnapshot(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"no committed version at $table — create it first " +
          "(overwrite with partitionBy)"))
    val parts = prev0.partitionColumns
    require(parts.nonEmpty,
      s"$table is unpartitioned — dynamic partition overwrite needs a hive " +
        "partition layout; use overwrite to replace the whole table")
    val (incoming, mapping) = mappedIncoming(Some(prev0), df.schema)
    val newFiles = stageFiles(spark, table, df, parts, mapping,
      checks = prev0.constraints)
    if (newFiles.isEmpty && txn.isEmpty) return prev0.version // empty load, no watermark
    // a file's partition is its LEADING run of k=v segments — written
    // by the same hive encoder on both sides, so string equality is the
    // partition identity. NOT the raw parent dir: per-partition
    // bulk-move publishes nest a batch dir inside the partition dir, so
    // the parent of a new file can differ from the parent of the old
    // file it replaces while both live in the same partition.
    val touched = newFiles.map(e => partitionDirOf(e.path)).toSet
    commitLoop(spark, table, "OVERWRITE PARTITIONS") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalStateException(
        s"$table lost its log while this write was staging"))
      checkMappingStable(table, Some(prev0), prevOpt, df.schema, mapping)
      checkConstraintsStable(table, Some(prev0), prevOpt)
      checkBucketingStable(table, Some(prev0), prevOpt)
      require(prev.partitionColumns == parts,
        s"partition layout of $table changed while this write was staging " +
          s"(${parts.mkString(",")} -> ${prev.partitionColumns.mkString(",")})")
      val (replaced, carried) =
        prev.files.partition(e => touched.contains(partitionDirOf(e.path)))
      CommitSpec(mergeSchemas(prev.schema, incoming), parts,
        carried ++ newFiles, newFiles, replaced.map(_.path), reset = false,
        txnUpdate = txn.toMap)
    }
  }

  /** Commit-loop guard: the bucket layout the staged files were
    * written under must still be the table's layout at commit time — a
    * racing bucketed/unbucketed overwrite otherwise slips differently-
    * partitioned files into a spec-carrying snapshot, silently
    * breaking the co-location the scan claims.
    */
  private def checkBucketingStable(table: String, stagePrev: Option[Snapshot],
                                   commitPrev: Option[Snapshot]): Unit = {
    val staged = stagePrev.flatMap(s => Bucketing.spec(s.schema))
    val now = commitPrev.flatMap(s => Bucketing.spec(s.schema))
    if (staged != now)
      throw new ConcurrentCommitException(
        s"bucket layout of $table changed while this write was staging " +
          s"($staged -> $now) — re-run so the files are routed under the " +
          "current layout")
  }

  /** Append rows; new columns merge into the snapshot schema (old files
    * read them as null). Partitioning is carried from the table.
    */
  def append(spark: SparkSession, table: String, df0: DataFrame): Long =
    appendAs(spark, table, df0, "APPEND", Nil, once = None).get

  /** The body of [[append]] and [[appendStream]]. */
  private def appendAs(spark: SparkSession, table: String, df0: DataFrame, op: String,
                       partitionByIfNew: Seq[String],
                       once: Option[(String, Long)]): Option[Long] = {
    val df = ColumnMapping.sanitize(df0)
    val prev0 = latestSnapshot(spark, table)
    if (holdsBatch(prev0, once)) return None // replay detected before any staging cost
    val parts = prev0.map(_.partitionColumns).getOrElse(partitionByIfNew)
    // on a mapped table the files stage under the snapshot's physical
    // names (fresh names for evolution columns); the commit loop
    // re-verifies the mapping against the snapshot it actually lands on
    val (incoming, mapping) = mappedIncoming(prev0, df.schema)
    val newFiles = stageFiles(spark, table, df, parts, mapping,
      checks = prev0.map(_.constraints).getOrElse(Map.empty))
    commitStaged(spark, table, op, newFiles, once) { prev =>
      checkMappingStable(table, prev0, prev, df.schema, mapping)
      checkConstraintsStable(table, prev0, prev)
      checkBucketingStable(table, prev0, prev)
      val schema = prev.map(p => mergeSchemas(p.schema, incoming)).getOrElse(incoming)
      CommitSpec(schema, prev.map(_.partitionColumns).getOrElse(parts),
        prev.map(_.files).getOrElse(Nil) ++ newFiles, newFiles, Nil, reset = false,
        txnUpdate = once.toMap)
    }
  }

  /** Exactly-once streaming append: commit `df` as `(queryId, batchId)`
    * iff the log has not already recorded that batch (or a later one)
    * for this query. Structured Streaming replays the last micro-batch
    * after a restart from checkpoint; the `txns` watermark in the
    * snapshot turns that replay into a no-op instead of duplicate rows
    * — the transaction-log half of end-to-end exactly-once (the other
    * half is the source's replayable offsets). Returns the committed
    * version, or None when the batch was already in the log. Creates a
    * missing table, partitioned by `partitionByIfNew`.
    *
    * The watermark check runs again inside the commit loop: two
    * instances of the same query racing (a zombie executor's driver
    * still flushing while its successor runs) resolve to one winner,
    * and the loser's staged files are dropped before they ever enter a
    * snapshot.
    */
  def appendStream(spark: SparkSession, table: String, df0: DataFrame,
                   queryId: String, batchId: Long,
                   partitionByIfNew: Seq[String] = Nil,
                   operation: String = "STREAMING APPEND"): Option[Long] =
    appendAs(spark, table, df0, operation, partitionByIfNew, Some(queryId -> batchId))

  /** Exactly-once Complete-mode streaming write: each batch replaces
    * the table contents (the snapshot carries only the new files), with
    * the same `(queryId, batchId)` replay protection as
    * [[appendStream]]. An empty `partitionBy` keeps the table's layout.
    */
  def overwriteStream(spark: SparkSession, table: String, df0: DataFrame,
                      queryId: String, batchId: Long,
                      partitionBy: Seq[String] = Nil,
                      operation: String = "STREAMING OVERWRITE"): Option[Long] =
    overwriteAs(spark, table, df0, operation,
      prev => if (partitionBy.nonEmpty) partitionBy
              else prev.map(_.partitionColumns).getOrElse(Nil),
      Map.empty, Some(queryId -> batchId))

  /** Fields of `existing` plus any new fields of `incoming`; a name
    * present in both must have the same type (no silent widening).
    * Nullability is ignored in the conflict check — read schemas are
    * deep-nullable anyway, and a SQL INSERT hands back the relation's
    * nullable variant of the table's own schema.
    */
  private[lake] def mergeSchemas(existing: StructType, incoming: StructType): StructType = {
    val byName = existing.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { e =>
        require(GraftDataSource.nullableType(e.dataType) ==
            GraftDataSource.nullableType(f.dataType),
          s"schema conflict on '${f.name}': ${e.dataType} vs ${f.dataType}")
      }
    }
    StructType(existing.fields ++ incoming.fields.filterNot(f => byName.contains(f.name)))
  }

  // ----------------------------------------------------------------- reads

  /** Read the latest (or `asOf`) snapshot, PINNED at call time — the
    * right semantics for a single job execution ([[readLive]]
    * re-resolves per query instead). Routed through the registered
    * `graft` source with an explicit `versionAsOf`, so a pinned read
    * gets the full metadata path: planning from logged stats (no
    * listings), partition pruning, AND file-level [[DataSkipping]]
    * against the logged bounds — a selective filter on a pinned read
    * prunes whole files exactly like a live read. Column order is the
    * snapshot schema's (partition columns overlap in place).
    */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame = {
    val v = asOf.getOrElse(latestVersion(spark, table)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $table")))
    spark.read.format("graft").option("versionAsOf", v).load(table)
  }

  // ---------------------------------------------------------- commit history
  //
  // history(), timestamp travel and time-based vacuum need (version, ts,
  // operation, num_files) per commit; with only the per-version JSONs
  // that is O(commits) file reads per call — fine at daily cadence,
  // painful for a maintenance dashboard over a streaming table with tens
  // of thousands of commits. The newest snapshot checkpoint carries the
  // summaries of every commit up to it, so these read that one file
  // plus the ≤interval tail since it, through the same arithmetic the
  // checkpoint writer uses ([[summarize]]).

  /** The log as the newest checkpoint at or below the latest version
    * sees it: that checkpoint's summaries and file count, and the tail
    * versions since it — found by the latest hint and existence probes,
    * no listing. None when that checkpoint is missing, torn or carries
    * no summaries, or the tail has a hole (foreign log deletion: the
    * hint sees past it, a probe would not); callers then list the log.
    */
  private def checkpointedLog(spark: SparkSession,
                              table: String): Option[(Seq[HistEntry], Long, Seq[Long])] = {
    val f = fs(spark, table)
    latestVersion(spark, table).flatMap { latest =>
      val c = latest - latest % checkpointInterval
      val tail = c + 1 to latest
      val base =
        if (c == 0) Some((Seq.empty[HistEntry], 0L))
        else openCheckpoint(f, table, c).filter(_.hist.nonEmpty).map(cp => (cp.hist, cp.numFiles))
      base.filter(_ => tail.forall(v => f.exists(versionFile(table, v))))
        .map { case (hist, numFiles) => (hist, numFiles, tail) }
    }
  }

  /** Committed versions without the O(commits) log listing: the
    * checkpoint's summaries name the covered prefix, a forward probe
    * the tail, and no tail entry is parsed. Degrades to the full
    * listing when there is no usable checkpoint. Used by vacuum().
    */
  private[lake] def versionsFast(spark: SparkSession, table: String): Seq[Long] =
    checkpointedLog(spark, table) match {
      case Some((hist, _, tail)) => hist.map(_.version) ++ tail
      case None                  => versions(spark, table)
    }

  /** Every commit's summary, ascending: the checkpoint's plus the tail's
    * (O(tail) entry reads, no snapshot built); with no usable checkpoint,
    * every listed entry through the same arithmetic.
    */
  private def summaries(spark: SparkSession, table: String): Seq[HistEntry] = {
    val f = fs(spark, table)
    checkpointedLog(spark, table).flatMap { case (hist, numFiles, tail) =>
      val rows = summarize(f, table, readEntries(f, table, tail), Some(numFiles))
      if (rows.size == tail.size) Some(hist ++ rows) else None
    }.getOrElse {
      val vs = versions(spark, table)
      if (vs.isEmpty) Nil else summarize(f, table, readEntries(f, table, vs.head to vs.last), None)
    }
  }

  /** Read the table through the registered `graft` data source
    * ([[GraftDataSource]]): the returned DataFrame re-resolves the
    * latest snapshot's file list at EVERY query planning, so a
    * long-lived handle (an SQL view, a cached-in-a-notebook DataFrame)
    * always reads the newest committed data. [[read]] pins the snapshot
    * at call time — right for a single job execution; this is right for
    * a registered surface. Column order matches the snapshot schema
    * (partition columns overlap in place in the relation — see
    * [[GraftDataSource]]), and the DataFrame is the BARE relation, no
    * projection on top, so a temp view over it is a valid
    * `INSERT INTO` target.
    */
  def readLive(spark: SparkSession, table: String): DataFrame = {
    if (latestSnapshot(spark, table).isEmpty)
      throw new IllegalArgumentException(s"no committed version at $table")
    spark.read.format("graft").load(table)
  }

  /** Commit history, latest first: (version, timestamp_ms, operation,
    * num_files). Reads the summaries the newest snapshot checkpoint
    * carries for the covered prefix and parses per-version JSONs only
    * for the tail since it (≤ checkpointInterval files), so the call is
    * O(tail), not O(commits); with no usable checkpoint it degrades to
    * parsing every listed entry.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    summaries(spark, table)
      .map(e => (e.version, e.timestampMs, e.operation, e.numFiles))
      .sortBy(-_._1)
      .toDF("version", "timestamp_ms", "operation", "num_files")
  }

  /** The newest version committed at or before `tsMs` — timestamp time
    * travel (`option("timestampAsOf", ...)`), resolved from the
    * checkpoint's summaries + tail like [[history]] (O(tail), no full
    * log parse). Commit timestamps are the writers' wall clocks:
    * monotonic per table in practice (commits serialize through
    * put-if-absent), but clock skew between writers can reorder them —
    * ties and inversions resolve to the highest qualifying version,
    * matching Delta.
    */
  def versionAtTimestamp(spark: SparkSession, table: String, tsMs: Long): Long = {
    val qualifying = summaries(spark, table).filter(_.timestampMs <= tsMs)
    if (qualifying.isEmpty)
      throw new IllegalArgumentException(
        s"no version of $table committed at or before timestamp $tsMs " +
          "(the table's first commit is later)")
    qualifying.map(_.version).max
  }

  // ---------------------------------------------------------- row-level DML
  //
  // Every DML entry point below is a thin shim that describes its
  // statement to the one row-level core, [[RowLevelOps]]: detection, the
  // copy-on-write or merge-on-read materializer, change-feed staging and
  // the commit step with its rebase rule live there once.

  /** Upsert (MERGE): rows of `updates` replace current rows with the
    * same `keys` value; unmatched update rows insert — [[mergeRows]]
    * with update-all and insert-all clauses. File-granularity
    * copy-on-write: only files containing a matched key are rewritten;
    * all other files carry over by reference. `updates` must be
    * key-unique (the SQL MERGE cardinality error otherwise). Schema
    * evolves like [[append]]: new update columns merge into the
    * snapshot schema (reading as null from files not rewritten),
    * existing-name type conflicts are refused, and an update set
    * missing an existing column writes null there.
    *
    * `scopeToUpdatePartitions` restricts the matched-file detection
    * scan to the partitions present in `updates` — the daily operating
    * mode for a date-partitioned 100 TB fact, where an unscoped
    * detection would scan the WHOLE table to refresh one day. Sound iff
    * the merge key determines the partition value (a matched key can
    * only live in its update row's partition — e.g. event_key →
    * event_date); with that contract broken, a matched row in an
    * unscanned partition would survive next to its replacement. This is
    * the same discipline Delta asks of users via partition predicates
    * in the MERGE condition. A scoped merge that loses a commit race
    * rebases when every file the winner added lies provably outside
    * those partitions; an unscoped one read the whole table and refuses
    * any race.
    */
  def merge(spark: SparkSession, table: String, updates0: DataFrame,
            keys: Seq[String], scopeToUpdatePartitions: Boolean = false): Long =
    RowLevelOps.run(spark, table, RowLevelOps.Statement("MERGE", Some(updates0), keys,
      upsert = true, scoped = scopeToUpdatePartitions))

  // ------------------------------------------------------------- mergeRows

  /** One `WHEN MATCHED` clause of a row-level merge. Conditions and
    * assignment values are Columns over the aliased sides `t` (target)
    * and `s` (source) — e.g. `col("s.v") > col("t.v")`. A `None`
    * condition always applies; a NULL condition result means "does not
    * apply" (SQL semantics). Clauses are evaluated IN ORDER per matched
    * row; the first whose condition holds wins.
    */
  sealed trait MatchedClause { def condition: Option[Column] }
  final case class MatchedUpdate(condition: Option[Column],
                                 set: Map[String, Column]) extends MatchedClause
  final case class MatchedDelete(condition: Option[Column]) extends MatchedClause

  /** Row-level MERGE: the general form of [[merge]], expressing the
    * full SQL `MERGE INTO` action surface — ordered `WHEN MATCHED`
    * clauses with per-clause conditions (UPDATE preserving unassigned
    * target columns per SQL, or DELETE), ordered condition-gated
    * `WHEN NOT MATCHED INSERT` clauses (first-true wins; unassigned
    * columns are null), and ordered `WHEN NOT MATCHED BY SOURCE`
    * clauses applying to target rows with no source key match (their
    * conditions/assignments may reference the target side only). Rows
    * claimed by no clause carry over unchanged.
    *
    * File-granularity copy-on-write: the rewrite set is the files
    * holding a key match (with WHEN MATCHED clauses) or a row a NOT
    * MATCHED BY SOURCE clause claims. `scopeToUpdatePartitions` has
    * [[merge]]'s contract and enables the same disjoint-race rebase; it
    * is ignored (full detection, abort-on-race) when NOT MATCHED BY
    * SOURCE clauses exist, since those semantically concern the WHOLE
    * table. The target schema is FIXED here (assignments must name
    * existing columns — schema evolution stays on the [[merge]]
    * upsert); assigned values cast to the column's snapshot type.
    *
    * With ONLY insert clauses, nothing is rewritten: the anti-joined
    * insert rows are appended through a commit that ABORTS on any
    * concurrent commit rather than rebasing, because a racing writer
    * could have inserted the same key between the anti-join read and
    * the commit.
    *
    * `source` must be key-unique; violations fail loudly (the SQL
    * cardinality error) instead of silently duplicating target rows.
    */
  def mergeRows(spark: SparkSession, table: String, source: DataFrame,
                keys: Seq[String], matched: Seq[MatchedClause],
                notMatchedInsert: Seq[(Option[Column], Map[String, Column])] = Nil,
                notMatchedBySource: Seq[MatchedClause] = Nil,
                scopeToUpdatePartitions: Boolean = false,
                txn: Option[(String, Long)] = None,
                extraTxns: Map[String, Long] = Map.empty): Long =
    RowLevelOps.run(spark, table, RowLevelOps.Statement("MERGE", Some(source), keys,
      matched, notMatchedInsert, notMatchedBySource,
      scoped = scopeToUpdatePartitions && notMatchedBySource.isEmpty,
      txns = txn.toMap ++ extraTxns))

  /** A user partition predicate resolved against a snapshot's partition
    * schema, evaluable driver-side: per FILE path (exact, all columns
    * bound) and per DIRECTORY at any hive level (conjunct-wise — a
    * conjunct judges a dir only once every column it references is
    * bound by the path so far, so pruning is sound for arbitrary
    * predicates, not just leading-column ones).
    */
  private final class PartitionScope(
      conjuncts: Seq[(org.apache.spark.sql.catalyst.expressions.BasePredicate, Int)],
      pSchema: StructType, tz: Option[String]) {
    /** Exact membership of a table-relative FILE path. */
    def fileInScope(rel: String): Boolean = {
      val row = PartitionPaths.valuesOf(rel, pSchema, tz)
      conjuncts.forall(_._1.eval(row))
    }
    /** Can the dir binding columns [0, depth] still contain matches?
      * False only when some fully-bound conjunct refutes it.
      */
    def dirMayMatch(dirRel: String, depth: Int): Boolean = {
      val row = PartitionPaths.valuesOf(dirRel + "/_", pSchema, tz)
      !conjuncts.exists { case (p, maxIdx) => maxIdx <= depth && !p.eval(row) }
    }
    def numPartitionCols: Int = pSchema.size
  }

  /** Resolve a user `Column` against the PARTITION schema alone (an
    * empty frame): references to non-partition columns fail here, and
    * analysis applies the usual implicit casts. Shared by compact and
    * vacuum scoping.
    */
  private def resolvePartitionFilter(spark: SparkSession, snap: Snapshot,
                                     c: Column, what: String): PartitionScope = {
    import org.apache.spark.sql.catalyst.expressions.{And, Expression}
    val pSchema = GraftDataSource.asNullable(
      StructType(snap.partitionColumns.map(snap.schema(_))))
    val expr =
      try spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pSchema)
        .filter(c).queryExecution.analyzed.collectFirst {
          case fl: org.apache.spark.sql.catalyst.plans.logical.Filter => fl.condition
        }.getOrElse(throw new IllegalArgumentException(
          s"could not resolve $what partitionFilter $c"))
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$what partitionFilter must reference only partition columns " +
              s"(${snap.partitionColumns.mkString(", ")}): ${e.getMessage}")
      }
    val resolver = spark.sessionState.conf.resolver
    require(PartitionPaths.evaluableOnPartitions(Seq(expr), pSchema, resolver),
      s"$what partitionFilter must reference only partition columns " +
        s"(${snap.partitionColumns.mkString(", ")}) deterministically")
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val bound = split(expr).map { cj =>
      val maxIdx = cj.references.toSeq.map(a =>
        pSchema.fields.indexWhere(f => resolver(f.name, a.name))).foldLeft(0)(math.max)
      (PartitionPaths.bind(Seq(cj), pSchema, resolver), maxIdx)
    }
    new PartitionScope(bound, pSchema, tz)
  }

  // ---------------------------------------------------------------- delete

  /** Copy-on-write DELETE: remove the rows matching `condition`,
    * rewriting ONLY the files that contain at least one matching row —
    * every other file carries over by reference, so a selective delete
    * on a 100 TB table costs its matched files, not the table. Rows
    * where the condition is NULL are kept (SQL DELETE semantics).
    * Previous versions still time-travel. Returns the committed
    * version — the current one unchanged when nothing matched.
    *
    * METADATA-ONLY fast path: a file every live row of which provably
    * matches the predicate is dropped from the snapshot WITHOUT being
    * read or rewritten ([[DataSkipping.proveAllRows]] over the logged
    * min/max bounds, the hive partition values, and the source ranges
    * generated-transform partition values imply) — so a retention
    * delete (`ts < cutoff` on a day-partitioned 100 TB fact) costs
    * O(boundary partition). The dropped files' delete rows are not
    * recorded as change data; the commit marks them `removedFull` and
    * the change feed synthesizes them lazily from the previous snapshot
    * (reader protocol 4 — see [[Protocol]]).
    *
    * A lost commit race rebases onto the winner when every file the
    * winner added provably misses the predicate and every file this
    * delete read is unchanged (the continuous-ingest-vs-retention race);
    * anything else refuses with [[ConcurrentCommitException]].
    */
  def delete(spark: SparkSession, table: String, condition: Column): Long =
    RowLevelOps.run(spark, table,
      RowLevelOps.Statement("DELETE", bySource = Seq(MatchedDelete(Some(condition)))))

  /** Merge-on-read DELETE: instead of rewriting every data file that
    * contains a matching row (copy-on-write [[delete]] — O(bytes of
    * affected files)), commit a positional [[DeleteVector]] per
    * affected file and leave the data files untouched — O(deleted
    * rows) bytes written, the Iceberg-v2 positional-delete / Delta
    * deletion-vector discipline. The canonical 100 TB case is a trickle
    * of GDPR-style point deletes against a fact table: CoW rewrites the
    * table; this writes kilobytes.
    *
    * Reads apply the vectors inside the parquet reader; [[compact]] reconciles
    * them back into clean files; the change feed records the deleted
    * rows at commit time exactly like CoW. A file whose every row is
    * deleted is simply REMOVED from the snapshot (no vector needed), and
    * provably-covered files drop by metadata as in [[delete]]. Repeat
    * deletes on the same file fold the old vector into the new one, so
    * each entry references its complete deleted set. Commits stamp
    * protocol (3, 3): older readers/writers refuse loudly instead of
    * resurrecting rows. Races rebase under [[delete]]'s rule. Returns
    * the committed version — unchanged when nothing matched.
    */
  def deleteMergeOnRead(spark: SparkSession, table: String, condition: Column): Long =
    RowLevelOps.run(spark, table, RowLevelOps.Statement("DELETE",
      bySource = Seq(MatchedDelete(Some(condition))), mor = true))

  /** Merge-on-read UPDATE: express the update as a positional delete of
    * the old images plus an APPEND of the new ones — the Iceberg-v2
    * position-delete + data-file discipline — instead of rewriting every
    * file containing a match (copy-on-write [[update]]). A 1-row update
    * on a 100 TB fact therefore writes O(updated rows) bytes (one tiny
    * vector + one tiny data file), not O(bytes of affected files).
    * The post-image rows stage through the ordinary append path, so
    * partition routing (including re-routing on a partition-column
    * assignment), CHECK constraints, column mapping and generated
    * columns all hold. The change feed records pre/post images exactly
    * like CoW UPDATE. Commits stamp protocol (3, 3); races rebase under
    * [[delete]]'s rule; returns the committed version — unchanged when
    * nothing matched.
    */
  def updateMergeOnRead(spark: SparkSession, table: String,
                        set: Seq[(String, Column)], condition: Column): Long =
    RowLevelOps.run(spark, table, updateStatement(table, set, condition, mor = true))

  /** Merge-on-read MERGE (upsert): [[merge]]'s semantics — existing
    * keys take the source row, fresh keys insert — expressed as a
    * positional delete of the replaced target rows plus an APPEND of
    * the source rows, instead of rewriting every file containing a key
    * match. A trickle upsert against a 100 TB fact therefore writes
    * O(source rows) bytes. Detection prunes files against the logged
    * key bounds when the source's distinct keys are bounded (pushed
    * per-column IN, the [[graft.operators.Dedup.probeMinhashIndex]]
    * discipline), and that predicate is the race footprint: a lost race
    * rebases when the winner's added files provably hold none of the
    * keys. The change feed carries the same pre/post/insert images as
    * the CoW path. Schema evolution stays on the CoW path: source
    * columns must exist in the snapshot schema (missing ones write
    * null, like [[merge]]). Returns the committed version.
    */
  def mergeMergeOnRead(spark: SparkSession, table: String, updates0: DataFrame,
                       keys: Seq[String]): Long =
    RowLevelOps.run(spark, table, RowLevelOps.Statement("MERGE", Some(updates0), keys,
      upsert = true, mor = true))

  /** Merge-on-read form of [[mergeRows]]: the same clause surface and
    * semantics (ordered, condition-gated WHEN MATCHED UPDATE / DELETE,
    * WHEN NOT MATCHED INSERT and WHEN NOT MATCHED BY SOURCE clauses over
    * the aliased sides `t`/`s`; first-true wins; NULL conditions do not
    * apply; SQL cardinality violations fail loudly). The target rows
    * CLAIMED by some clause are position-deleted (vectors folding with
    * the affected files' existing ones); update post-images and
    * anti-joined inserts land through the ordinary append path. A
    * matched row claimed by NO clause keeps its position in place —
    * zero bytes written for it, where the CoW [[mergeRows]] rewrites its
    * whole file. NOT MATCHED BY SOURCE reads the whole table (its
    * semantics concern every target row) but still writes only O(claimed
    * rows). Schema is FIXED. Detection prunes files by pushed per-column
    * IN when the source's distinct keys are bounded, as
    * [[mergeMergeOnRead]]. Returns the committed version — unchanged
    * when no clause claims anything.
    */
  def mergeRowsMergeOnRead(spark: SparkSession, table: String, source0: DataFrame,
                           keys: Seq[String], matched: Seq[MatchedClause],
                           notMatchedInsert: Seq[(Option[Column], Map[String, Column])] = Nil,
                           notMatchedBySource: Seq[MatchedClause] = Nil,
                           txn: Option[(String, Long)] = None): Long =
    RowLevelOps.run(spark, table, RowLevelOps.Statement("MERGE", Some(source0), keys,
      matched, notMatchedInsert, notMatchedBySource, mor = true, txns = txn.toMap))

  /** Copy-on-write UPDATE: apply `set` to the rows matching `condition`
    * (NULL conditions leave rows untouched, SQL semantics), rewriting
    * only the files containing at least one match — the same
    * file-granularity discipline and race rule as [[delete]]. Assigned
    * values are cast to the column's snapshot type (no silent type
    * drift in the log); assigning a PARTITION column re-routes the
    * updated rows to their new hive directories (the whole matched file
    * is rewritten, so its unmatched rows stay in place). Returns the
    * committed version — unchanged when nothing matched.
    */
  def update(spark: SparkSession, table: String, set: Seq[(String, Column)],
             condition: Column): Long =
    RowLevelOps.run(spark, table, updateStatement(table, set, condition, mor = false))

  private def updateStatement(table: String, set: Seq[(String, Column)], condition: Column,
                              mor: Boolean): RowLevelOps.Statement = {
    require(set.nonEmpty, s"UPDATE on $table assigns no columns")
    RowLevelOps.Statement("UPDATE",
      bySource = Seq(MatchedUpdate(Some(condition), set.toMap)), mor = mor)
  }

  // --------------------------------------------------------------- compact

  /** `REORG TABLE … APPLY (PURGE)` (Delta's name): rewrite ONLY the
    * files carrying outstanding deletion vectors — no bin-packing of
    * small files, no clustering — so readers get back the columnar
    * reader and vacuum can reclaim the vectors, without touching
    * anything else. A zero-byte small-file threshold makes [[compact]]
    * select exactly the dv-carrying set (it always pulls those in).
    */
  def reorgPurge(spark: SparkSession, table: String,
                 partitionFilter: Option[Column] = None): Long =
    compact(spark, table, smallFileBytes = 0L, partitionFilter = partitionFilter)

  /** Bin-pack small data files (streaming MERGE and frequent appends
    * accumulate them) into fewer, larger ones — the OPTIMIZE /
    * rewrite_data_files analog. Files already at or above
    * `smallFileBytes` carry over by reference; only the small ones are
    * read back and rewritten, partitioning preserved. Rows are
    * untouched, so every reader sees identical data before and after;
    * earlier versions still time-travel (vacuum reclaims the old small
    * files once they age out of retention). Returns the committed
    * version, or the current one if there was nothing to pack.
    *
    * `sortBy` RANGE-CLUSTERS the rewrite on the given columns: rows
    * range-partition across the output files and sort within each, so
    * the per-file min/max bounds recorded in the transaction log come
    * out narrow and pairwise disjoint — a selective filter on the
    * leading sort column then skips whole FILES from the log
    * ([[DataSkipping]]), and parquet row-group stats prune within the
    * file. At 100 TB that is the difference between reading a file
    * list and reading a partition.
    *
    * `zorderBy` (mutually exclusive with `sortBy`, ≥2 columns) maps
    * each row onto a Z-order curve over the given columns and
    * range-clusters on that — every participating column keeps
    * file-bound locality, so filters on ANY one of them skip files,
    * where a linear sort only serves its leading column ([[ZOrder]]).
    *
    * `targetFileBytes` sizes the rewritten files (~one task per that
    * many input bytes).
    *
    * `partitionFilter` scopes the rewrite to the matching partitions
    * (evaluated driver-side against each file's hive path — no scan):
    * a 100 TB streaming fact compacts one day at a time instead of
    * bin-packing the whole table in one job. Files outside the scope
    * carry over by reference. The predicate must reference only
    * partition columns.
    */
  def compact(spark: SparkSession, table: String,
              smallFileBytes: Long = 32L << 20,
              sortBy: Seq[String] = Nil,
              partitionFilter: Option[Column] = None,
              zorderBy: Seq[String] = Nil,
              targetFileBytes: Long = 128L << 20,
              dirScope: Option[Set[String]] = None): Long = {
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "pass sortBy OR zorderBy, not both")
    rewriteFiles(spark, table, "COMPACT", sortBy, zorderBy, targetFileBytes) { snap =>
      val inFilter: FileEntry => Boolean = partitionFilter match {
        case None => _ => true
        case Some(c) =>
          val scope = resolvePartitionFilter(spark, snap, c, "compact")
          e => scope.fileInScope(e.path)
      }
      // dirScope (autoCompact's touched-partition set) composes with the
      // predicate filter: both must admit the file
      val inScope: FileEntry => Boolean = dirScope match {
        case None => inFilter
        case Some(ds) => e => inFilter(e) && ds.contains(partitionDirOf(e.path))
      }
      // A file with an outstanding deletion vector joins the rewrite set
      // REGARDLESS of size: compact is where merge-on-read deletes
      // reconcile back into clean files (Iceberg's rewrite_data_files
      // with delete-file compaction), so readers stop filtering by
      // row index and vacuum can reclaim the vector.
      val small = snap.files.filter(inScope).map(e => e -> sizeOf(spark, table, e))
        .filter { case (e, sz) => sz < smallFileBytes || e.dv.isDefined }
      if (small.size <= 1 && small.forall(_._1.dv.isEmpty)) Nil else small
    }
  }

  /** A file's size from the log; a legacy entry (pre-stats log) costs
    * one stat — never a listing.
    */
  private def sizeOf(spark: SparkSession, table: String, e: FileEntry): Long =
    if (e.size >= 0) e.size
    else fs(spark, table).getFileStatus(entryPath(dataPath(table), e.path)).getLen

  /** The rewrite body of [[compact]] and [[reclusterIncremental]]:
    * validate the cluster columns, read back the live rows of the
    * files `pick` selects (with their sizes) from the current snapshot,
    * cluster them — Z-order, range sort, or plain coalescing — into
    * ~`targetFileBytes` files, stage, and commit them in place of the
    * selected set. An empty pick commits nothing and returns the
    * current version. `watermark` names a txn key that records this
    * commit's version (see [[reclusterIncremental]]).
    *
    * Rebase-on-race: the rewrite is value-preserving surgery on a FIXED
    * file set, so losing the commit race to a concurrent APPEND (the
    * nightly-OPTIMIZE-under-continuous-ingest case) must not discard
    * it. As long as the newer head still carries every rewritten entry
    * UNCHANGED (same path, size, stats, and crucially the same dv — a
    * concurrent MoR delete disqualifies) and neither schema nor
    * partitioning moved (schema equality covers the bucket spec and
    * column mapping, which live in field metadata), the same staged
    * files re-commit on top of the new head: its files minus the
    * rewritten set plus the rewrite, its txns (concurrent streaming
    * watermarks survive). Anything else — a racing DELETE/UPDATE/
    * COMPACT that touched the set, a schema change — refuses loudly.
    * On a rebase the watermark stays at the PRE-RACE version: the
    * rebased snapshot holds the racer's unclustered file, so the next
    * pass re-sorts this pass's output plus the racer (work bounded by
    * the race window) and only then advances over a clean snapshot.
    */
  private def rewriteFiles(spark: SparkSession, table: String, what: String,
                           sortBy: Seq[String], zorderBy: Seq[String],
                           targetFileBytes: Long, watermark: Option[String] = None)(
      pick: Snapshot => Seq[(FileEntry, Long)]): Long = {
    require(zorderBy.isEmpty || zorderBy.size >= 2,
      "zorderBy needs at least two columns — use sortBy to cluster on one")
    require(zorderBy.size <= 10,
      s"zorderBy supports at most 10 columns (${ZOrder.BitsPerDim} bits each " +
        "must fit one long) — and curve locality degrades past a few anyway")
    val snap = latestSnapshot(spark, table)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $table"))
    // a bucketed table's clustering IS its bucket layout; a sort/Z-order
    // rewrite would be silently undone by the bucket re-routing in
    // stageFiles — refuse loudly (plain compact bin-packs per bucket)
    require(Bucketing.spec(snap.schema).isEmpty ||
        (sortBy.isEmpty && zorderBy.isEmpty),
      s"$table is hash-bucketed — sortBy/zorderBy clustering does not compose " +
        "with a bucket layout; use plain compact (per-bucket bin-packing), or " +
        "re-create the table unbucketed to cluster it")
    // validate cluster columns BEFORE any early return: a misspelled
    // column on an already-compacted scope must fail loudly, not no-op
    (sortBy ++ zorderBy).foreach { c =>
      require(snap.schema.fieldNames.contains(c),
        s"cluster column $c is not in the schema of $table")
      require(!snap.partitionColumns.contains(c),
        s"cluster column $c is a partition column — constant per file already")
    }
    val picked = pick(snap)
    if (picked.isEmpty) return snap.version
    val set = picked.map(_._1)
    // a byte-budgeted task count: Spark's split planning targets one
    // split PER CORE (files.minPartitionNum defaults to the
    // parallelism), which on tiny inputs re-emits one output file per
    // input — the opposite of packing. ~targetFileBytes of input bytes
    // per task ⇒ each rewritten file lands near the parquet sweet spot.
    val targetTasks = math.max(1,
      math.ceil(picked.map(_._2).sum.toDouble / targetFileBytes).toInt)
    val packed = LakeScan.readDataFilesLive(spark, table, snap, set.map(_.path))
    // partition cols lead the range-partitioning and the sort, so the
    // write path's required ordering is already satisfied and it does
    // not re-sort (which would destroy the clustering)
    val pCols = snap.partitionColumns.map(col)
    val rows =
      if (zorderBy.nonEmpty) {
        // logged LIVE row counts size the boundary sample; a legacy
        // entry (rowCount unknown) costs one count of the scope
        val counts = set.map(_.liveRowCount)
        val totalRows = if (counts.forall(_ >= 0)) counts.sum else packed.count()
        val zc = "_graft_zvalue"
        packed.withColumn(zc, ZOrder.zvalue(packed, zorderBy, totalRows))
          .repartitionByRange(targetTasks, (pCols :+ col(zc)).toIndexedSeq: _*)
          .sortWithinPartitions((pCols :+ col(zc)).toIndexedSeq: _*)
          // dropping the helper is a projection: intra-partition order
          // survives, and so does the (partition-cols) ordering prefix
          // the writer requires
          .drop(zc)
      } else if (sortBy.nonEmpty) {
        val sCols = pCols ++ sortBy.map(col)
        packed.repartitionByRange(targetTasks, sCols.toIndexedSeq: _*)
          .sortWithinPartitions(sCols.toIndexedSeq: _*)
      } else packed.coalesce(targetTasks)
    val newFiles = stageFiles(spark, table, rows, snap.partitionColumns,
      ColumnMapping.mapping(snap.schema))
    compactBeforeCommitHook()
    val rewritten = set.toSet
    commitLoop(spark, table, "COMPACT", held = Some(Some(snap))) { head =>
      val newer = head.getOrElse(throw new ConcurrentCommitException(
        s"$what on $table: log disappeared during the commit race"))
      val rebased = newer.version != snap.version
      if (rebased && !(newer.schema == snap.schema &&
          newer.partitionColumns == snap.partitionColumns &&
          rewritten.subsetOf(newer.files.toSet)))
        throw new ConcurrentCommitException(
          s"$what on $table lost the commit race and cannot rebase — a " +
            "concurrent commit changed the schema, the partitioning, or the " +
            "files being rewritten; re-run")
      CommitSpec(newer.schema, newer.partitionColumns,
        newer.files.filterNot(rewritten.contains) ++ newFiles, newFiles,
        set.map(_.path), reset = false,
        txnUpdate = watermark.map(_ -> (if (rebased) snap.version else snap.version + 1)).toMap)
    }
  }

  /** Test seam: invoked after a compact stages its rewrite, before the
    * commit loop — lets a spec interleave a concurrent commit
    * deterministically.
    */
  @volatile private[graft] var compactBeforeCommitHook: () => Unit = () => ()

  /** Test seam: invoked by every DML statement after it staged its
    * files and change data, before its commit step — lets a spec
    * interleave a concurrent commit deterministically.
    */
  @volatile private[graft] var dmlBeforeCommitHook: () => Unit = () => ()

  /** The hive partition directory of a table-relative file path ("" on
    * an unpartitioned table).
    */
  /** A file's HIVE-PARTITION identity: the leading run of `k=v` path
    * segments. Distinct from its parent directory since bulk-move
    * commits (r17) nest unpartitioned files under an opaque per-commit
    * batch dir — two trickle appends to an unpartitioned table land in
    * different parent dirs but the SAME (empty) partition, and
    * autoCompact's hot-partition scoping must see them together.
    */
  private[lake] def partitionDirOf(p: String): String =
    p.split('/').dropRight(1).takeWhile(_.contains('=')).mkString("/")

  /** Post-write auto-compaction (the Delta autoCompact idea): bin-pack
    * ONLY the hive partitions the LATEST commit touched, and only once
    * at least `minSmallFiles` in-scope files sit below
    * `smallFileBytes`. Trickle appends and per-micro-batch streaming
    * commits are THE small-file generators at 100 TB; this keeps each
    * hot partition's file count bounded without ever looking at — let
    * alone rewriting — the cold 99% of the table: the scope comes from
    * the last log entry's added paths (O(1 commit) metadata), the
    * decision from logged sizes, and the rewrite from a dir-scoped
    * [[compact]]. Below threshold it commits NOTHING (no empty COMPACT
    * versions from every write). Wired to
    * `option("autoCompact", "true")` on both the batch writer and the
    * streaming sink. Returns the COMPACT version, or None when below
    * threshold / nothing to do.
    */
  def autoCompact(spark: SparkSession, table: String,
                  smallFileBytes: Long = 32L << 20,
                  minSmallFiles: Int = 8,
                  targetFileBytes: Long = 128L << 20): Option[Long] = {
    val snapOpt = latestSnapshot(spark, table)
    if (snapOpt.isEmpty) return None
    val snap = snapOpt.get
    val entry = logEntryAt(spark, table, snap.version)
    val touched = entry.full.map(_.map(_.path)).getOrElse(entry.adds.map(_.path))
    if (touched.isEmpty) return None
    val dirs = touched.map(partitionDirOf).toSet
    val smallInScope = snap.files.count(e =>
      dirs.contains(partitionDirOf(e.path)) && sizeOf(spark, table, e) < smallFileBytes)
    if (smallInScope < minSmallFiles) None
    else {
      val v = compact(spark, table, smallFileBytes = smallFileBytes,
        targetFileBytes = targetFileBytes, dirScope = Some(dirs))
      if (v == snap.version) None else Some(v)
    }
  }

  /** Reserved txn-ledger key recording the last clustering commit for
    * a given cluster spec — rides the snapshot's txns map (atomic with
    * the commit), distinguished from streaming writer ids by prefix.
    */
  private def clusterWatermarkKey(sortBy: Seq[String], zorderBy: Seq[String]): String =
    if (zorderBy.nonEmpty) s"__graft_cluster:z:${zorderBy.mkString(",")}"
    else s"__graft_cluster:s:${sortBy.mkString(",")}"

  /** Incremental re-cluster: range/Z-order-cluster ONLY the files that
    * arrived since the last clustering commit with the same spec (the
    * "unclustered tail"), carrying every already-clustered file by
    * reference. The last clustering version is a WATERMARK in the
    * snapshot's txn ledger (committed atomically with the clustering
    * itself), and "new since" is exactly the entries absent from that
    * version's snapshot — entries are immutable per path, so set
    * difference is the precise tail.
    *
    * This is the maintenance loop a daily-append 100 TB fact needs:
    * the first call clusters everything (no watermark yet); each later
    * call sorts just the day's appends into tightly-bounded files, so
    * [[DataSkipping]] keeps serving narrow per-file ranges WITHOUT the
    * daily full-partition rewrite a plain clustered [[compact]] costs.
    * Tail files overlap the historical runs' key ranges, which
    * file-bound skipping is indifferent to (each file's own bounds
    * stay tight); run a full clustered compact on the rare cadence
    * where merging runs pays. Files with outstanding deletion vectors
    * join the rewrite (same reconcile-on-rewrite rule as [[compact]]).
    * Returns the committed version — unchanged when the tail is empty.
    */
  def reclusterIncremental(spark: SparkSession, table: String,
                           sortBy: Seq[String] = Nil,
                           zorderBy: Seq[String] = Nil,
                           targetFileBytes: Long = 128L << 20,
                           partitionFilter: Option[Column] = None): Long = {
    require(sortBy.nonEmpty ^ zorderBy.nonEmpty,
      "pass exactly one of sortBy / zorderBy")
    val key = clusterWatermarkKey(sortBy, zorderBy)
    rewriteFiles(spark, table, "incremental recluster", sortBy, zorderBy,
        targetFileBytes, watermark = Some(key)) { snap =>
      val clusteredAsOf: Set[String] = snap.txns.get(key) match {
        case Some(v) => scala.util.Try(snapshotAt(spark, table, v).filePaths.toSet)
          .getOrElse(Set.empty) // watermark version vacuumed from the log → full pass
        case None => Set.empty
      }
      val inScope: FileEntry => Boolean = partitionFilter match {
        case None => _ => true
        case Some(c) =>
          val scope = resolvePartitionFilter(spark, snap, c, "recluster")
          e => scope.fileInScope(e.path)
      }
      // NOTE: the watermark is table-global per cluster spec — use a
      // consistent partitionFilter across calls (a scoped first pass
      // followed by an unscoped one would treat never-clustered files
      // that predate the watermark as clustered; run one unscoped full
      // pass to re-baseline)
      snap.files.filter(e =>
        inScope(e) && (!clusteredAsOf.contains(e.path) || e.dv.isDefined))
        .map(e => e -> sizeOf(spark, table, e))
    }
  }

  // ------------------------------------------------------------ schema DDL

  /** Explicit schema evolution — the ALTER TABLE ADD COLUMNS analog,
    * metadata-only: one commit carrying the widened schema, no data
    * touched. Existing files simply lack the new columns and read them
    * as null, exactly like append/merge evolution; the new columns
    * must therefore be nullable.
    *
    * On an UNMAPPED table, a name that some LIVE file physically
    * carries (visible in its logged stats — e.g. the column was
    * dropped from the schema by an overwrite and is being re-added) is
    * refused: the old bytes would silently resurrect as the "new"
    * column's values. This guard is best-effort (stats only cover
    * stats-bearing primitive columns). On a COLUMN-MAPPED table the
    * guard is unnecessary — every added field gets a fresh
    * `col-<uuid>` physical name, so no live file can carry its bytes
    * by construction; drop + re-add ([[dropColumn]]) reads null, never
    * stale values.
    */
  /** Opt `column` into per-file bloom-filter indexing ([[BloomIndex]])
    * — a metadata-only commit stamping the fpp into the field's schema
    * metadata. Every LATER write builds blooms for its staged files;
    * run a [[compact]] to backfill existing files. Supported types:
    * integral and string (anything else is flagged but silently
    * unindexed — blooms are advisory). Use on high-cardinality columns
    * that equality probes hit and clustering does not serve: min/max
    * bounds cannot skip a point lookup on an unclustered key.
    */
  def enableBloomFilter(spark: SparkSession, table: String, column: String,
                        fpp: Double = 0.01): Long = {
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0,1), got $fpp")
    commitLoop(spark, table, "ENABLE BLOOM") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"no committed version at $table"))
      require(prev.schema.fieldNames.contains(column),
        s"bloom column $column is not in the schema of $table")
      require(!prev.partitionColumns.contains(column),
        s"bloom column $column is a partition column — pruned from the path already")
      val fields = prev.schema.fields.map { fl =>
        if (fl.name != column) fl
        else fl.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(fl.metadata).putDouble(BloomIndex.MetaKey, fpp).build())
      }
      CommitSpec(StructType(fields), prev.partitionColumns, prev.files, Nil, Nil,
        reset = false, protocol = prev.protocol)
    }
  }

  def addColumns(spark: SparkSession, table: String, cols: StructType): Long = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    val resolver = spark.sessionState.conf.resolver
    commitLoop(spark, table, "ADD COLUMNS") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"no committed version at $table"))
      val clash = cols.fieldNames.filter(n =>
        prev.schema.fieldNames.exists(resolver(_, n)))
      require(clash.isEmpty,
        s"column(s) already exist on $table: ${clash.mkString(", ")}")
      val notNullable = cols.fields.filterNot(_.nullable).map(_.name)
      require(notNullable.isEmpty,
        s"new column(s) must be nullable — existing rows have no value for: " +
          notNullable.mkString(", "))
      val mapped = ColumnMapping.isMapped(prev.schema)
      if (!mapped) {
        val resurrected = cols.fieldNames.filter(n =>
          prev.files.exists(_.stats.keys.exists(resolver(_, n))))
        require(resurrected.isEmpty,
          s"live data files of $table still carry bytes for: " +
            s"${resurrected.mkString(", ")} — re-adding the name would resurrect " +
            "stale values; rewrite first (overwrite/compact) or pick another name")
      }
      val newFields =
        if (mapped) cols.fields.map(f =>
          ColumnMapping.withPhysical(f, ColumnMapping.freshPhysicalName()))
        else cols.fields
      CommitSpec(StructType(prev.schema.fields ++ newFields),
        prev.partitionColumns, prev.files, Nil, Nil, reset = false)
    }
  }

  /** ADD a CHECK constraint (Delta `ALTER TABLE ... ADD CONSTRAINT ...
    * CHECK` analog): `exprSql` is a boolean SQL expression over the
    * table's logical columns that every row must not evaluate to FALSE
    * (null PASSES — SQL CHECK semantics). Existing data is validated
    * FIRST with one filtered scan (pushed filters + file skipping
    * apply); any violating row refuses the DDL with an example. The
    * commit is metadata-only, stamps writer-version 4 (a pre-constraint
    * writer must not append unvalidated rows — see [[Protocol]]), and
    * aborts if ANY other commit landed after the validation scan (rows
    * the scan never saw could violate — re-run). From then on every
    * row-adding write enforces the set in-flight ([[withChecks]]).
    */
  def addConstraint(spark: SparkSession, table: String, name: String,
                    exprSql: String): Long = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be alphanumeric/underscore, got '$name'")
    val snap0 = latestSnapshot(spark, table).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $table"))
    if (snap0.constraints.contains(name))
      throw new IllegalArgumentException(
        s"constraint '$name' already exists on $table " +
          s"(${snap0.constraints(name)}); drop it first")
    // fail fast on syntax before any scan
    spark.sessionState.sqlParser.parseExpression(exprSql)
    val bad = read(spark, table)
      .filter(coalesce(not(expr(exprSql)), lit(false))).limit(1).collect()
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"cannot add CHECK constraint '$name' ($exprSql) to $table: existing " +
          s"rows violate it, e.g. ${bad.head}")
    commitLoop(spark, table, "ADD CONSTRAINT") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"no committed version at $table"))
      if (prev.version != snap0.version)
        throw new ConcurrentCommitException(
          s"ADD CONSTRAINT '$name' on $table raced commit v${prev.version}: the " +
            "validation scan read v" + snap0.version + " and cannot vouch for " +
            "later rows — re-run")
      CommitSpec(prev.schema, prev.partitionColumns, prev.files, Nil, Nil,
        reset = false, protocol = Protocol(prev.protocol.reader, 4),
        constraintsUpdate = Some(prev.constraints + (name -> exprSql)))
    }
  }

  /** DROP a CHECK constraint. Metadata-only; enforcement stops with the
    * commit. The writer-version stamp stays (monotonic, like Delta).
    */
  def dropConstraint(spark: SparkSession, table: String, name: String): Long =
    commitLoop(spark, table, "DROP CONSTRAINT") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"no committed version at $table"))
      if (!prev.constraints.contains(name))
        throw new IllegalArgumentException(
          s"no constraint '$name' on $table (have: " +
            s"${prev.constraints.keys.toSeq.sorted.mkString(", ")})")
      CommitSpec(prev.schema, prev.partitionColumns, prev.files, Nil, Nil,
        reset = false, constraintsUpdate = Some(prev.constraints - name))
    }

  /** Stamp every field that lacks one with physical name == its
    * current logical name — the state transition that turns an
    * unmapped table into a mapped one without touching a byte: the
    * files already carry exactly those names.
    */
  private def ensureMapped(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      if (f.metadata.contains(ColumnMapping.PhysicalNameKey)) f
      else ColumnMapping.withPhysical(f, f.name)))

  /** Enable column mapping explicitly (RENAME/DROP COLUMN do it
    * implicitly on first use): each field's current name becomes its
    * stable physical name, and the commit stamps `Protocol(2, 2)` — a
    * version-1 reader would match logical names against the files and
    * silently misread every later-renamed column as null, so it must
    * refuse instead (see [[Protocol]]). Metadata-only; no data files
    * are read or written. Idempotent.
    */
  def enableColumnMapping(spark: SparkSession, table: String): Long =
    commitLoop(spark, table, "ENABLE COLUMN MAPPING") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"no committed version at $table"))
      CommitSpec(ensureMapped(prev.schema), prev.partitionColumns, prev.files,
        Nil, Nil, reset = false, protocol = Protocol(2, 2))
    }

  /** `ALTER TABLE … RENAME COLUMN` — metadata-only: the field keeps
    * its physical name (the one in the data files and their logged
    * stats), only the logical name in the schema changes; zero data
    * files are read or written, at any table size. First use enables
    * column mapping ([[enableColumnMapping]]) and stamps
    * `Protocol(2, 2)` in the same commit. Reads and writes after the
    * rename translate logical ⇄ physical at the scan/stage boundary
    * ([[GraftParquetFileFormat]], [[stageFiles]]); time travel to
    * pre-rename versions sees the old name. The reference renames
    * Iceberg columns the same metadata-only way via Trino ALTER (ref:
    * trino_iceberg_transform_component.py:116-123).
    *
    * Partition columns are not renameable: their names are baked into
    * the hive directory layout of every existing data file.
    */
  def renameColumn(spark: SparkSession, table: String,
                   oldName: String, newName: String): Long = {
    require(newName.nonEmpty, "new column name must be non-empty")
    val resolver = spark.sessionState.conf.resolver
    commitLoop(spark, table, "RENAME COLUMN") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"no committed version at $table"))
      require(!prev.partitionColumns.exists(resolver(_, oldName)),
        s"cannot rename partition column '$oldName' of $table — partition " +
          "names are baked into the hive directory layout of existing files")
      val mapped = ensureMapped(prev.schema)
      val idx = mapped.fields.indexWhere(f => resolver(f.name, oldName))
      require(idx >= 0, s"no such column on $table: '$oldName'")
      val clash = mapped.fields.zipWithIndex.exists { case (f, i) =>
        i != idx && resolver(f.name, newName) }
      require(!clash, s"column '$newName' already exists on $table")
      val fields = mapped.fields.clone()
      fields(idx) = fields(idx).copy(name = newName)
      // a generated column's spec references its SOURCE by logical
      // name — follow the rename so derivation keeps working
      val renamed = fields.map { f =>
        if (f.metadata.contains(GeneratedColumns.SourceKey) &&
            resolver(f.metadata.getString(GeneratedColumns.SourceKey), oldName)) {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString(GeneratedColumns.SourceKey, newName)
          f.copy(metadata = mb.build())
        } else f
      }
      CommitSpec(StructType(renamed), prev.partitionColumns, prev.files,
        Nil, Nil, reset = false, protocol = Protocol(2, 2))
    }
  }

  /** `ALTER TABLE … DROP COLUMN` — metadata-only: the field leaves the
    * schema; the bytes in existing files are simply never requested
    * again (and vanish physically as compaction/DML rewrite the files
    * through the post-drop schema). First use enables column mapping
    * and stamps `Protocol(2, 2)`, which is what makes a later re-add
    * of the same name SAFE: [[addColumns]] on a mapped table assigns a
    * fresh `col-<uuid>` physical name, so the dropped bytes can never
    * resurrect as the new column's values — they read as null.
    *
    * Partition columns cannot be dropped (their values live in the
    * directory layout, not the files); the last data column cannot be
    * dropped (a table needs a schema).
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val resolver = spark.sessionState.conf.resolver
    commitLoop(spark, table, "DROP COLUMN") { prevOpt =>
      val prev = prevOpt.getOrElse(throw new IllegalArgumentException(
        s"no committed version at $table"))
      require(!prev.partitionColumns.exists(resolver(_, name)),
        s"cannot drop partition column '$name' of $table — partition values " +
          "live in the directory layout of existing files")
      val mapped = ensureMapped(prev.schema)
      val idx = mapped.fields.indexWhere(f => resolver(f.name, name))
      require(idx >= 0, s"no such column on $table: '$name'")
      require(mapped.fields.length > 1,
        s"cannot drop the last column of $table")
      // a bucket column's name is load-bearing: the read relation
      // resolves the BucketSpec against it, and every write routes rows
      // by it — dropping it would orphan the layout claim
      require(!Bucketing.spec(mapped).exists(_.bucketCols.exists(resolver(_, name))),
        s"cannot drop bucket column '$name' of $table — the table's hash-bucket " +
          "layout is keyed on it; re-create the table unbucketed (or bucketed on " +
          "another key) first")
      // a generated partition column derives from its SOURCE on every
      // write — dropping the source would orphan the layout
      GeneratedColumns.specs(mapped).find(sp => resolver(sp.source, name)).foreach(sp =>
        throw new IllegalArgumentException(
          s"cannot drop column '$name' of $table — generated partition column " +
            s"'${sp.target}' derives from it (${sp.transform}); re-create the " +
            "table without the generated layout first"))
      // dropping a within-bucket SORT column: existing files are sorted
      // by the full sort-col sequence, which implies ordering only by
      // any PREFIX of it — keep the stamps before the dropped column,
      // strip the rest (a claim of ordering by the suffix alone would
      // be false of the files)
      val afterDrop = StructType(mapped.fields.patch(idx, Nil, 1))
      val newSchema = Bucketing.spec(mapped) match {
        case Some(sp) if sp.sortCols.exists(resolver(_, name)) =>
          val keep = sp.sortCols.takeWhile(!resolver(_, name))
          Bucketing.stamp(Bucketing.strip(afterDrop), sp.numBuckets,
            sp.bucketCols, keep)
        case _ => afterDrop
      }
      CommitSpec(newSchema,
        prev.partitionColumns, prev.files,
        Nil, Nil, reset = false, protocol = Protocol(2, 2))
    }
  }

  // --------------------------------------------------------------- restore

  /** Roll the table back to the state of `version` as a NEW commit —
    * the RESTORE analog. The commit is a reset delta carrying the old
    * version's complete file list, so data files are re-referenced,
    * never copied; nothing between is erased: the rolled-back versions
    * remain time-travelable (until vacuumed), and the change feed
    * synthesizes the rollback as delete-all + re-insert exactly like
    * an OVERWRITE, so downstream incremental readers converge instead
    * of diverging. Schema and partition layout restore with the data.
    *
    * Fails loudly (before committing anything) when any restored file
    * has already been vacuumed away — a restore that silently produced
    * a table with holes would be corruption, not rollback.
    */
  /** Zero-copy SHALLOW CLONE (Delta `CREATE TABLE ... SHALLOW CLONE` /
    * Iceberg snapshot-ref analog): commit `dst` whose v1 REFERENCES
    * `src`'s data files in place — absolute URIs in the log, zero
    * bytes copied — so a 100 TB dev/test sandbox materializes in one
    * metadata commit. The clone is fully independent from then on:
    * appends land in its own data dir, CoW DML rewrites cloned files
    * INTO the clone (the source never changes), and the clone's
    * vacuum can never touch source bytes (foreign files are outside
    * its data root, which is all vacuum ever lists). Per-file stats,
    * skipping, schema/partition layout, protocol and CHECK
    * constraints all carry over with the cloned entries.
    *
    * Caveats (the Delta shallow-clone contract):
    *  - vacuuming the SOURCE can remove files the clone still
    *    references — retain accordingly, or compact the clone
    *    (rewrites localize every file they touch);
    *  - ACTIVE deletion vectors clone by COPY: their bitmaps are
    *    copied into one sidecar in the clone's own `_deletes/` —
    *    O(deleted rows) bytes, never O(data) — so the clone OWNS its
    *    vectors (source vacuum cannot strand them) and a MoR-heavy
    *    fact branches without a compact-first;
    *  - bloom sidecars are dropped (advisory; rebuilt on rewrite);
    *  - merge-on-read DML on still-foreign files works: a vector
    *    belongs to its log entry, whatever the entry's path, so a
    *    clone takes trickle DELETE/UPDATE/MERGE without localizing a
    *    byte of source data.
    */
  def shallowClone(spark: SparkSession, src: String, dst: String,
                   asOf: Option[Long] = None): Long = {
    val snap = asOf.map(v => snapshotAt(spark, src, v)).getOrElse(
      latestSnapshot(spark, src).getOrElse(
        throw new IllegalArgumentException(s"no committed version at $src")))
    require(latestSnapshot(spark, dst).isEmpty,
      s"refusing to clone into $dst: it already has committed versions")
    require(snap.files.forall(_.size >= 0),
      s"cannot shallow-clone $src at v${snap.version}: legacy entries without " +
        "logged stats — compact the source first")
    val f = fs(spark, src)
    val srcRoot = f.makeQualified(dataPath(src))
    def absOf(rel: String): String =
      if (isForeignEntry(rel)) rel // clone of a clone: same refs
      else new Path(srcRoot, rel).toString
    // active vectors: copy their bitmaps' bytes into ONE sidecar of
    // the CLONE
    val dvd = snap.files.filter(_.dv.exists(_.cardinality > 0))
    val copied: Map[String, DeleteVector] =
      if (dvd.isEmpty) Map.empty
      else {
        val bytes = DeletionVectors.readAll(f, new Path(src), dvd)
        val (sidecar, at) = DeletionVectors.writeSidecar(spark, dst, dvd.map(e => bytes(e.path)))
        dvd.zip(at).map { case (e, (offset, size)) =>
          e.path -> DeleteVector(sidecar, offset, size, e.dv.get.cardinality)
        }.toMap
      }
    val entries = snap.files.map(e =>
      e.copy(path = absOf(e.path), dv = copied.get(e.path), bloom = None))
    commitLoop(spark, dst, "CLONE", held = Some(None)) { head =>
      if (head.nonEmpty)
        throw new ConcurrentCommitException(s"CLONE into $dst lost the commit race")
      CommitSpec(snap.schema, snap.partitionColumns, entries, entries, Nil, reset = true,
        protocol = snap.protocol, constraintsUpdate = Some(snap.constraints))
    }
  }

  /** Write-audit-publish PUBLISH (Iceberg's audit-branch /
    * `wap.branch` workflow; ref: the reference gates silver
    * materialization on quality checks before consumers see it,
    * trino_iceberg_transform_component.py:192-206 — WAP is that gate
    * made transactional): fast-forward the audited changes of a
    * [[shallowClone]] branch back onto its source table as ONE atomic
    * commit. The workflow: clone `src` → `branch` (zero-copy
    * metadata), run any writes/DML on the branch, audit the BRANCH
    * (quality checks, row counts, eyeballs) while `src` readers still
    * see only pre-branch data, then `publish` — or simply delete the
    * branch directory to abandon.
    *
    * The published commit is the branch's net file delta replayed on
    * the CURRENT source head: files the branch rewrote or deleted are
    * removed, files the branch wrote are added, and everything the
    * branch did NOT touch rides at the source's current state — so
    * concurrent appends to `src` merge in (they land in files the
    * branch never saw). Conflict rule (the file-level discipline
    * shared with DML rebase): the branch's WRITE-SET must be stable —
    * every file the branch rewrote/deleted must still sit in the
    * source head bit-identical (same size/rowCount, no vectors) —
    * and the source's schema, partition layout and CHECK constraints
    * must be unchanged since the fork (branch writes were only
    * audited against the fork-time contract). Anything else refuses
    * loudly; re-branch and re-audit.
    *
    * With `copy = true` (default) the branch's new data files are
    * copied into the source's data root under their branch-relative
    * paths — O(branch delta) bytes, never O(table) — so the branch
    * directory is disposable after publish. With `copy = false` the
    * commit references the branch's files in place (zero bytes
    * moved), inheriting the shallow-clone lifetime caveat: the branch
    * dir must outlive the source's references (compact localizes).
    *
    * Branch schema evolution (ADD/RENAME COLUMN…) and constraint
    * additions publish through: the commit carries the branch-head
    * schema/constraints (source files read missing columns as null,
    * the existing column-evolution discipline). Active deletion
    * vectors on the branch are refused — `reorgPurge` the branch
    * first (vector rows key on branch-relative paths).
    *
    * The change feed synthesizes PUBLISH like a partition overwrite:
    * removed files' rows as deletes, added files' rows as inserts —
    * file-granular, lazy, no extra bytes at commit time. Returns the
    * published version (the unchanged head when the branch made no
    * changes).
    *
    * `txn = (appId, ver)` makes the publish IDEMPOTENT (the batch-write
    * txn-watermark protocol): if the source already carries `appId` at
    * `>= ver` the call returns the current head untouched — a replay
    * after a crash (or a coordinator retry, see [[GraftTxn]]) cannot
    * double-apply the delta. The stamp rides in the PUBLISH snapshot's
    * `txns` map, so the guard survives restarts and is checked under
    * the same commit race the delta is.
    */
  def publish(spark: SparkSession, src: String, branch: String,
              copy: Boolean = true, txn: Option[(String, Long)] = None): Long = {
    txn.foreach { case (appId, ver) =>
      latestSnapshot(spark, src).foreach { s =>
        if (s.txns.get(appId).exists(_ >= ver)) return s.version
      }
    }
    val head = latestSnapshot(spark, branch).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $branch"))
    val fork = snapshotAt(spark, branch, 1L)
    require(fork.operation == "CLONE",
      s"$branch is not a WAP branch: its v1 is '${fork.operation}', expected a " +
        "shallow clone of the publish target")
    require(head.partitionColumns == fork.partitionColumns,
      s"cannot publish $branch: the branch changed the partition layout " +
        s"(${fork.partitionColumns.mkString(",")} -> ${head.partitionColumns.mkString(",")})")
    // CARRIED foreign refs may hold cloned vectors (a branch of a
    // MoR-heavy source) — inert at publish, since untouched files ride
    // at the source's CURRENT state below. Only vectors on the branch's
    // OWN files have no publish expression.
    require(head.files.forall(e =>
        isForeignEntry(e.path) || e.dv.forall(_.cardinality == 0)),
      s"cannot publish $branch: the branch head carries active deletion vectors " +
        "on its own data files (their bitmaps live in the branch's own _deletes/) — " +
        "REORG TABLE ... APPLY (PURGE) the branch first")
    val f = fs(spark, src)
    val srcPrefix = qualifiedDataPrefix(spark, src) + "/"
    fork.files.foreach(e => require(e.path.startsWith(srcPrefix),
      s"$branch is not a branch of $src: its fork snapshot references ${e.path}, " +
        s"outside $src's data root"))
    val (refs, local) = head.files.partition(e => isForeignEntry(e.path))
    refs.find(!_.path.startsWith(srcPrefix)).foreach(e =>
      throw new IllegalArgumentException(
        s"cannot publish $branch onto $src: branch head references ${e.path} " +
          "from a THIRD table (clone of a clone?) — compact the branch to " +
          "localize foreign files first"))
    val carriedRels = refs.map(_.path.stripPrefix(srcPrefix)).toSet
    val removedByBranch = fork.files
      .map(e => e.copy(path = e.path.stripPrefix(srcPrefix)))
      .filterNot(e => carriedRels.contains(e.path))
    // Stage the branch's own files: copy into the source data root
    // (same relative path, so hive partition dirs survive for pruning)
    // or reference them in place. Bloom sidecars are advisory and
    // branch-local — dropped, rebuilt on the next rewrite.
    val adds: Seq[FileEntry] =
      if (local.isEmpty) Nil
      else if (copy) {
        val bf = fs(spark, branch)
        val bRoot = dataPath(branch)
        val conf = spark.sparkContext.hadoopConfiguration
        // Paths the source's CURRENT snapshot references — a same-named file
        // already live in src is a genuine collision; one NOT referenced can
        // only be debris from an earlier publish attempt whose copy died
        // mid-write (its commit never landed), so replay may reclaim it.
        val liveInSrc: Set[String] = latestSnapshot(spark, src)
          .map(_.files.iterator.map(_.path.stripPrefix(srcPrefix)).toSet)
          .getOrElse(Set.empty)
        stageParallel(local) { e =>
          val from = entryPath(bRoot, e.path)
          val to = entryPath(dataPath(src), e.path)
          // Copy via a temp name + rename so a coordinator death mid-copy
          // never leaves a partial file AT the destination path — replay
          // then sees either nothing or a complete copy, and the documented
          // always-roll-forward guarantee holds without operator surgery.
          def copyViaTemp(): Unit = {
            f.mkdirs(to.getParent)
            val tmp = new Path(to.getParent, to.getName + ".staging-" +
              java.util.UUID.randomUUID().toString.take(8))
            if (!org.apache.hadoop.fs.FileUtil.copy(bf, from, f, tmp, false, conf))
              throw new IllegalStateException(s"could not copy $from to $tmp")
            if (!f.rename(tmp, to)) {
              // another replay of the SAME publish won the rename race —
              // branch file names embed the write job's UUID, so an equal-size
              // file at the destination IS this file; accept it
              f.delete(tmp, false)
              val st = if (f.exists(to)) Some(f.getFileStatus(to)) else None
              if (!st.exists(_.getLen == e.size))
                throw new IllegalStateException(s"could not rename $tmp to $to")
            }
          }
          val existing = if (f.exists(to)) Some(f.getFileStatus(to)) else None
          existing match {
            case Some(st) if st.getLen == e.size =>
              // crash-recovery replay: this exact branch file (names embed
              // the write job's UUID) was already copied by an earlier
              // attempt that died before its commit landed — reuse it
              ()
            case Some(_) if !liveInSrc.contains(e.path) =>
              // truncated debris from a pre-temp-rename attempt (or a crash
              // between mkdirs and copy): not referenced by any committed
              // source snapshot, so no reader can see it — delete and recopy
              f.delete(to, false)
              copyViaTemp()
            case Some(_) =>
              throw new IllegalStateException(
                s"publish target $to already exists with a DIFFERENT size and " +
                  s"is referenced by $src's current snapshot — was $branch " +
                  "already published, or did another writer claim the path?")
            case None =>
              copyViaTemp()
          }
          e.copy(dv = None, bloom = None)
        }
      } else {
        val bPrefix = qualifiedDataPrefix(spark, branch) + "/"
        local.map(e => e.copy(path = bPrefix + e.path, dv = None, bloom = None))
      }
    // A no-delta branch publishes as the unchanged head — except under a
    // txn stamp, where an (empty) commit must still land the watermark so
    // coordinator recovery can tell "published, no delta" from "never ran"
    if (adds.isEmpty && removedByBranch.isEmpty && txn.isEmpty)
      return latestVersion(spark, src).getOrElse(
        throw new IllegalStateException(s"source $src has no committed versions"))
    val removedSet = removedByBranch.map(_.path).toSet
    commitLoop(spark, src, "PUBLISH") { srcHead =>
      val cur = srcHead.getOrElse(
        throw new IllegalStateException(s"source $src has no committed versions"))
      def refuse(why: String): Nothing = throw new ConcurrentCommitException(
        s"PUBLISH of $branch onto $src cannot fast-forward: $why — re-branch " +
          "from the current head and re-audit")
      if (cur.schema != fork.schema)
        refuse("the source schema changed since the branch forked")
      if (cur.partitionColumns != fork.partitionColumns)
        refuse("the source partition layout changed since the branch forked")
      if (cur.constraints != fork.constraints)
        refuse("the source CHECK constraints changed since the branch forked " +
          "(branch writes were never audited against them)")
      val curByPath = cur.files.iterator.map(e => e.path -> e).toMap
      removedByBranch.foreach { e =>
        curByPath.get(e.path) match {
          case None =>
            refuse(s"the source no longer contains ${e.path}, a file the branch " +
              "rewrote or deleted")
          case Some(c) =>
            // dv comparison is against the FORK's state: a source that
            // already carried vectors when the branch forked is no
            // conflict; only vectors the source gained (or dropped)
            // SINCE the fork mean the branch audited stale rows
            if (c.size != e.size || c.rowCount != e.rowCount ||
                c.dv.map(_.cardinality).getOrElse(0L) !=
                  e.dv.map(_.cardinality).getOrElse(0L))
              refuse(s"the source rewrote or vectored ${e.path}, a file the " +
                "branch rewrote or deleted")
        }
      }
      adds.find(a => curByPath.contains(a.path)).foreach(a =>
        refuse(s"the source independently added a file named ${a.path}"))
      // replay guard re-checked under the commit race: a competing
      // coordinator may have landed the same txn while we validated
      if (txn.exists { case (appId, ver) => cur.txns.get(appId).exists(_ >= ver) })
        AlreadyCommitted(cur.version)
      else CommitSpec(head.schema, head.partitionColumns,
        cur.files.filterNot(e => removedSet.contains(e.path)) ++ adds, adds,
        removedByBranch.map(_.path), reset = false, txnUpdate = txn.toMap,
        protocol = head.protocol, constraintsUpdate = Some(head.constraints))
    }
  }

  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val target = snapshotAt(spark, table, version)
    val f = fs(spark, table)
    val base = dataPath(table)
    // existence probes fan out like staging: bounded pool, one RPC
    // each. Deletion-vector sidecars are re-referenced state too — a
    // vacuumed vector would silently RESURRECT its deleted rows.
    val probeRels: Seq[String] =
      target.filePaths ++ target.files.flatMap(_.dv.map(_.path)).distinct
    def probeMissing(): Seq[String] = stageParallel(probeRels)(rel =>
      if (f.exists(
        if (rel.startsWith("_deletes/")) new Path(table, rel)
        else entryPath(base, rel))) None
      else Some(rel)).flatten
    // probe INSIDE each commit attempt, so the vulnerable window
    // against a concurrent vacuum is one probe→publish, not the whole
    // call; vacuum narrows its side too (it re-validates its doomed
    // list against the log right before deleting, so a committed
    // RESTORE re-protects its files)
    var preHead: Option[Snapshot] = None
    val v = commitLoop(spark, table, "RESTORE") { prev =>
      require(prev.exists(_.version >= version),
        s"restore target $version is beyond the latest version of $table")
      preHead = prev
      val missing = probeMissing()
      require(missing.isEmpty,
        s"cannot restore $table to version $version: ${missing.size} of its data " +
          s"file(s) were vacuumed (first: ${missing.headOption.getOrElse("")}) — " +
          "that version is outside the retention window")
      CommitSpec(target.schema, target.partitionColumns, target.files,
        target.files, Nil, reset = true)
    }
    // detection for the residual window: a vacuum whose live set
    // predates this commit may still have swept the re-referenced
    // files between our probe and publish — surface that NOW, loudly,
    // instead of as FILE_NOT_EXIST at some later read. Before
    // throwing, commit a COMPENSATING restore back to the pre-restore
    // head (whose files a concurrent vacuum retained by definition) so
    // the table stays readable while the failure still surfaces —
    // otherwise every read fails until a manual re-restore.
    val gone = probeMissing()
    if (gone.nonEmpty) {
      val compensated = preHead.exists { h =>
        scala.util.Try(commitLoop(spark, table, "RESTORE") { p =>
          // only compensate while OUR broken restore is still the head —
          // a later commit supersedes the problem (and the authority to
          // fix it)
          require(p.exists(_.version == v),
            s"head moved past v$v; not compensating")
          CommitSpec(h.schema, h.partitionColumns, h.files, h.files, Nil,
            reset = true)
        }).isSuccess
      }
      throw new IllegalStateException(
        s"restore of $table to version $version committed as v$v, but " +
          s"${gone.size} re-referenced data file(s) were vacuumed concurrently " +
          s"(first: ${gone.head}) — the restored version is unreadable; " +
          (if (compensated)
            s"a compensating restore to the pre-restore state " +
              s"(v${preHead.get.version}) was committed so the table stays " +
              "readable; re-run restore to a version inside the current " +
              "retention window"
          else
            "re-run restore to a version inside the current retention window " +
              "(compensating restore could not be committed)"))
    }
    v
  }

  // ---------------------------------------------------------------- vacuum

  /** Delete data files referenced only by versions older than the
    * `retainVersions` most recent, plus any orphans from crashed
    * writes. Time travel further back than the retention window stops
    * working (the log entries remain for history). Returns the number
    * of files deleted.
    *
    * `graceMs` protects concurrent writers: a file younger than the
    * grace window is never deleted even if unreferenced, because it may
    * be an in-flight writer's freshly staged/moved data whose commit
    * has not landed yet (the same reason Delta's VACUUM defaults to a
    * 7-day retention). Staging dirs are likewise only swept once they
    * age past the grace window. Pass `graceMs = 0` only when no other
    * writer can be active. `dryRun = true` counts what WOULD be
    * deleted without touching anything (VACUUM DRY RUN).
    *
    * `partitionFilter` SCOPES the sweep to the matching hive
    * partitions: the walk descends only into directories the predicate
    * could match (conjuncts are judged as soon as the path binds the
    * columns they reference), so a 100 TB fact vacuums one day with a
    * one-day listing — the same maintenance scoping compact has —
    * and files outside the scope are never listed, let alone deleted.
    * A scoped pass sweeps ONLY the data tree; the whole-table sweeps
    * (change-data files, aged checkpoints, orphan manifest segments,
    * staging dirs) run on unscoped passes, which a maintenance
    * schedule should still include periodically.
    *
    * `retainMs` switches retention from count-based to TIME-based
    * ("keep 7 days of time travel", `VACUUM t RETAIN 168 HOURS`):
    * every version committed inside the window survives, the newest
    * always survives, and `retainVersions` is ignored. Commit times come
    * from the newest snapshot checkpoint's summaries plus the tail since
    * it, as in [[history]].
    */
  def vacuum(spark: SparkSession, table: String, retainVersions: Int = 2,
             graceMs: Long = 15L * 60 * 1000, dryRun: Boolean = false,
             partitionFilter: Option[Column] = None,
             retainMs: Option[Long] = None): Int = {
    val f = fs(spark, table)
    val vs = versionsFast(spark, table)
    if (vs.isEmpty) return 0
    // `retainMs` switches retention from count-based to TIME-based
    // (the production norm: "keep 7 days of time travel"): every
    // version committed inside the window survives, the newest always
    // survives, and timestamps come from the checkpoint's summaries
    // plus the tail — O(tail), not O(commits)
    def retainedVersions(vsX: Seq[Long]): Seq[Long] = retainMs match {
      case None => vsX.takeRight(math.max(1, retainVersions))
      case Some(ms) =>
        val cutoff = System.currentTimeMillis() - math.max(0L, ms)
        val ts = summaries(spark, table).map(e => e.version -> e.timestampMs).toMap
        // a version with no summary (unparsable entry) has no known age: kept
        val kept = vsX.filter(v => ts.get(v).forall(_ >= cutoff))
        if (kept.isEmpty) vsX.takeRight(1) else kept
    }
    val retainedVs = retainedVersions(vs)
    val retainedSnaps = retainedVs.map(v => snapshotAt(spark, table, v))
    val retained = retainedSnaps.flatMap(_.filePaths).toSet
    val cutoffMs = System.currentTimeMillis() - math.max(0L, graceMs)
    val dp = dataPath(table)
    if (!f.exists(dp)) return 0
    var deleted = 0
    val toDelete = scala.collection.mutable.ArrayBuffer.empty[Path]
    // Restore-race re-validation, called right before any data-file
    // deletion: a commit that landed while this vacuum walked (a
    // RESTORE re-referencing old files being the dangerous one) makes
    // doomed files live again. Re-resolving the retained set against
    // the CURRENT log shrinks the unprotected window from the whole
    // listing+compute duration to one metadata roundtrip. NOT fully
    // closed: a RESTORE that commits AFTER this re-check but BEFORE
    // the delete loop finishes can still lose files with restore's own
    // probe-in-commit passing — store-side coordination no object
    // store offers would be needed. postDeleteCheck below detects that
    // ordering after the fact and warns loudly.
    def revalidated(paths: Seq[Path]): Seq[Path] = {
      val vsNow = versionsFast(spark, table)
      if (vsNow == vs) paths
      else {
        val retainedNow = retainedVersions(vsNow)
          .flatMap(v => snapshotAt(spark, table, v).filePaths).toSet
        paths.filterNot(p => retainedNow.contains(relativize(dp, p)))
      }
    }
    // Residual-race detector: if the log advanced WHILE the delete loop
    // ran, a commit (RESTORE being the dangerous one) may reference
    // files this vacuum just swept — surface it here, loudly, instead
    // of as FILE_NOT_EXIST at some later read.
    def postDeleteCheck(): Unit = {
      val vsAfter = versionsFast(spark, table)
      if (vsAfter != vs)
        logWarning(s"vacuum of $table raced a concurrent commit (log advanced " +
          s"from v${vs.max} to v${vsAfter.max} during deletion) — if that commit " +
          "was a RESTORE re-referencing vacuumed files, the restored version may " +
          "be unreadable; verify with a read and re-run restore if needed")
    }
    partitionFilter match {
      case Some(c) =>
        val snap = snapshotAt(spark, table, vs.max)
        require(snap.partitionColumns.nonEmpty,
          s"partition-scoped vacuum needs a partitioned table; $table has no " +
            "partition columns")
        val scope = resolvePartitionFilter(spark, snap, c, "vacuum")
        def walk(dir: Path, rel: String, depth: Int): Unit =
          f.listStatus(dir).foreach { st =>
            val name = st.getPath.getName
            val childRel = if (rel.isEmpty) name else s"$rel/$name"
            if (st.isDirectory) {
              if (depth >= scope.numPartitionCols ||
                  scope.dirMayMatch(childRel, depth))
                walk(st.getPath, childRel, depth + 1)
            } else if (depth >= scope.numPartitionCols &&
                st.getModificationTime < cutoffMs &&
                scope.fileInScope(childRel) && !retained.contains(childRel))
              toDelete += st.getPath
            // a file ABOVE leaf depth is not hive data of this layout —
            // out of scope by definition; the unscoped pass handles it
          }
        walk(dp, "", 0)
        if (dryRun) deleted += toDelete.size
        else {
          revalidated(toDelete.toSeq).foreach { p =>
            if (f.delete(p, false)) deleted += 1
          }
          postDeleteCheck()
        }
        return deleted
      case None => ()
    }
    leafFiles(f, dp).foreach { st =>
      if (st.getModificationTime < cutoffMs && !retained.contains(relativize(dp, st.getPath)))
        toDelete += st.getPath
    }
    if (dryRun) deleted += toDelete.size
    else {
      revalidated(toDelete.toSeq).foreach { p =>
        if (f.delete(p, false)) deleted += 1
      }
      postDeleteCheck()
    }
    // change-data files age out with their versions: keep those the
    // retained versions recorded (the feed stays readable over the
    // same window time travel works), sweep the rest once old enough
    // — including orphans from aborted DML commits
    val retainedCdc = retainedVs
      .flatMap(v => scala.util.Try(logEntryAt(spark, table, v)).toOption)
      .flatMap(_.cdc.getOrElse(Nil)).toSet
    val cdp = changeDataPath(table)
    if (f.exists(cdp)) {
      val cdcToDelete = leafFiles(f, cdp).filter(st => st.getModificationTime < cutoffMs &&
        !retainedCdc.contains("_change_data/" + relativize(cdp, st.getPath))).map(_.getPath)
      if (dryRun) deleted += cdcToDelete.size
      else cdcToDelete.foreach { p => if (f.delete(p, false)) deleted += 1 }
    }
    // deletion-vector sidecars age out the same way: one referenced by
    // no retained snapshot (superseded by a later delete's merged
    // vector, reconciled by compact, or orphaned by a lost commit
    // race) is swept once past the grace window
    val retainedDv = retainedSnaps
      .flatMap(_.files.flatMap(_.dv.map(_.path))).toSet
    val delp = deletesPath(table)
    if (f.exists(delp)) {
      f.listStatus(delp).foreach { st =>
        if (st.isFile && st.getModificationTime < cutoffMs &&
            !retainedDv.contains("_deletes/" + st.getPath.getName)) {
          if (dryRun) deleted += 1
          else if (f.delete(st.getPath, false)) deleted += 1
        }
      }
    }
    // bloom sidecars: advisory, swept when no retained entry references
    // them (their files were rewritten/vacuumed) and old enough
    val retainedBloom = retainedSnaps
      .flatMap(_.files.flatMap(_.bloom)).toSet
    val blp = BloomIndex.bloomPath(table)
    if (f.exists(blp)) {
      f.listStatus(blp).foreach { st =>
        if (st.isFile && st.getModificationTime < cutoffMs &&
            !retainedBloom.contains("_index/bloom/" + st.getPath.getName)) {
          if (dryRun) deleted += 1
          else if (f.delete(st.getPath, false)) deleted += 1
        }
      }
    }
    // checkpoints strictly below the newest one still useful to the
    // retention window age out, then manifest segments referenced by NO
    // surviving checkpoint (dead lineages, orphans of crashed
    // checkpoint writes) — same grace discipline as data files. The
    // newest checkpoint at or below the OLDEST retained version stays:
    // it is that version's reconstruction base, and every newer one
    // stays with it — the newest carries the commit summaries history()
    // reads, so no sweep loses history. Checkpoints only ever
    // land at interval multiples, so they are FOUND by existence probes
    // (O(commits / interval) stats), never by listing the log dir —
    // vacuum stays zero-listing on the log.
    val cpVersions = (checkpointInterval to vs.max by checkpointInterval)
      .filter(v => f.exists(snapshotCheckpointFile(table, v)))
    val oldestRetained = retainedVs.min
    val keepFloor = cpVersions.filter(_ <= oldestRetained).lastOption.getOrElse(Long.MinValue)
    val (cpDrop0, cpKeep) = cpVersions.partition(_ < keepFloor)
    val cpDrop = cpDrop0.filter { v =>
      val st = scala.util.Try(f.getFileStatus(snapshotCheckpointFile(table, v))).toOption
      st.exists(_.getModificationTime < cutoffMs)
    }
    if (dryRun) deleted += cpDrop.size
    else cpDrop.foreach { v =>
      if (f.delete(snapshotCheckpointFile(table, v), false)) deleted += 1
    }
    val mp = manifestsPath(table)
    if (f.exists(mp)) {
      // checkpoints surviving this pass: kept ones plus any below the
      // floor that the grace window protected (they still reference
      // their segments) — same set whether this is a dry run or not
      val survivors = cpKeep ++ cpDrop0.diff(cpDrop)
      val referenced = survivors
        .flatMap(v => openCheckpoint(f, table, v).flatMap(_.segments).getOrElse(Nil))
        .map(_.name).toSet
      val segsToDelete = f.listStatus(mp).toSeq.filter(st =>
        st.isFile && st.getModificationTime < cutoffMs &&
          !referenced.contains(st.getPath.getName))
      if (dryRun) deleted += segsToDelete.size
      else segsToDelete.foreach { st => if (f.delete(st.getPath, false)) deleted += 1 }
    }
    // sweep staging dirs from crashed writes — only once they are old
    // enough that no live writer can still be using them
    val staging = new Path(table, "_staging")
    if (!dryRun && f.exists(staging)) {
      f.listStatus(staging).foreach { st =>
        if (st.getModificationTime < cutoffMs) f.delete(st.getPath, true)
      }
    }
    deleted
  }

  /** Log-vs-filesystem integrity audit (Delta's FSCK role): verify that
    * every file a snapshot references — data files, deletion-vector
    * sidecars, bloom sidecars — is present and sized as the log recorded,
    * WITHOUT opening any of them (stat-only, O(referenced files)
    * metadata). The check an operator runs after an incident (an
    * over-eager external cleanup, a partial restore from backup, a
    * mis-scoped recursive delete) before trusting reads or letting
    * vacuum loose. Returns one row per problem, empty when healthy:
    * (path, component, issue). A missing deletion vector is flagged as
    * resurrection risk — the data file would read with its deleted rows
    * back; a missing bloom is advisory (skipping quietly degrades).
    */
  def fsck(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame = {
    val v = asOf.getOrElse(latestVersion(spark, table)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $table")))
    val snap = snapshotAt(spark, table, v)
    val f = fs(spark, table)
    val droot = dataPath(table)
    val issues = Seq.newBuilder[(String, String, String)]
    snap.files.foreach { e =>
      val p = if (isForeignEntry(e.path)) new Path(e.path) else new Path(droot, e.path)
      (try Some(f.getFileStatus(p))
       catch { case _: java.io.FileNotFoundException => None }) match {
        case None => issues += ((e.path, "data", "missing"))
        case Some(st) if e.size >= 0 && st.getLen != e.size =>
          issues += ((e.path, "data",
            s"size mismatch: logged ${e.size} bytes, found ${st.getLen}"))
        case _ => ()
      }
    }
    // sidecars are shared per commit (one vector sidecar / bloom json can
    // serve many file entries) — report each missing one ONCE, with the
    // blast radius aggregated over its referencing entries
    snap.files.flatMap(e => e.dv.map(dv => (dv.path, dv.cardinality)))
      .groupBy(_._1).foreach { case (p, refs) =>
        if (!f.exists(new Path(table, p)))
          issues += ((p, "delete_vector",
            s"missing: ${refs.size} data file(s) would resurrect " +
              s"${refs.map(_._2).sum} deleted rows"))
      }
    snap.files.flatMap(_.bloom).groupBy(identity).foreach { case (b, refs) =>
      if (!f.exists(new Path(table, b)))
        issues += ((b, "bloom", s"missing sidecar referenced by ${refs.size} " +
          "file entries (advisory: bloom skipping degrades)"))
    }
    import spark.implicits._
    issues.result().toDF("path", "component", "issue")
  }
}
