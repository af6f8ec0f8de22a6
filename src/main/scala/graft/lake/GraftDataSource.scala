package graft.lake

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, InsertableRelation, RelationProvider, SchemaRelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

object GraftDataSource {
  /** Timestamp-as-of parsing shared by the read option and the SQL
    * RESTORE route: epoch millis, `yyyy-MM-dd`, or
    * `yyyy-MM-dd HH:mm:ss[.S]` (UTC — deterministic across sessions).
    */
  private[lake] def parseTimestampMs(v: String): Long =
    v.toLongOption.getOrElse {
      val t = v.trim
      try {
        val local =
          if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay()
          else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        local.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      } catch {
        case _: java.time.format.DateTimeParseException =>
          throw new IllegalArgumentException(
            s"timestampAsOf must be epoch millis, 'yyyy-MM-dd', or " +
              s"'yyyy-MM-dd HH:mm:ss' (UTC), got '$v'")
      }
    }

  /** Deep-nullable copy of a schema (StructType.asNullable is
    * private[spark]): read schemas must be nullable like every
    * user-specified file-source schema, or the vectorized parquet
    * reader hard-errors on a column an old pre-evolution file lacks.
    */
  private[lake] def asNullable(schema: StructType): StructType =
    nullableType(schema).asInstanceOf[StructType]

  private[lake] def nullableType(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f =>
        f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case a: ArrayType => a.copy(elementType = nullableType(a.elementType), containsNull = true)
    case m: MapType => m.copy(valueType = nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }
}

/** The lake format as a registered Spark data source (`format("graft")`),
  * so any Spark job — not just code importing `graft.lake` — can read
  * and write lake tables through the standard API:
  *
  * {{{
  * spark.read.format("graft").load("/w/silver/fact_events")            // latest, LIVE
  * spark.read.format("graft").option("versionAsOf", 3).load(path)     // time travel
  * df.write.format("graft").mode("append").save(path)                 // append/evolve
  * df.write.format("graft").mode("overwrite")
  *   .option("partitionBy", "event_date").save(path)                  // repartitioned overwrite
  * }}}
  *
  * Every read relation holds a live [[GraftFileIndex]], which resolves
  * the snapshot from the transaction log once at creation and again at
  * every query planning — a registered view or long-lived DataFrame
  * always reads the newest committed snapshot (the Glue+Trino behavior
  * of the reference). `versionAsOf` pins a version, which is the
  * correct frozen semantics for time travel. A snapshot without
  * deletion vectors reads as a [[GraftRelation]]; one with vectors as
  * a [[GraftMorRelation]]. SQL inserts into either commit through
  * [[GraftInsertCommand.insert]].
  *
  * This is deliberately the V1 `RelationProvider` extension point, not
  * DataSourceV2: returning a `HadoopFsRelation` reuses Spark's entire
  * native parquet path — vectorized reader, whole-stage codegen,
  * filter pushdown, partition pruning — where a V2 `PartitionReader`
  * would reimplement (worse) what Tungsten already does. Delta Lake
  * made the same call for years for the same reason.
  *
  * Writes translate `SaveMode` onto the log's transactional commits:
  * append → `LakeTable.append` (schema-evolving), overwrite →
  * `LakeTable.overwrite`. `.partitionBy(...)` on the writer is NOT
  * forwarded to V1 sources by Spark — pass `option("partitionBy",
  * "a,b")` instead; appends always carry the table's partitioning.
  */
class GraftDataSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSinkProvider with StreamSourceProvider
    with DataSourceRegister
    with org.apache.spark.internal.Logging {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "format(\"graft\") requires a table path: .load(path) or option(\"path\", ...)"))

  /** `timestampAsOf` accepts epoch millis, `yyyy-MM-dd`, or
    * `yyyy-MM-dd HH:mm:ss[.S]` (UTC — deterministic across sessions),
    * resolved to the newest version committed at or before it.
    */
  private def parseTimestampMs(v: String): Long =
    GraftDataSource.parseTimestampMs(v)

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = pathOf(parameters)
    // batch change-feed read: option("readChangeFeed", "true") +
    // startingVersion [+ endingVersion] — Delta's batch CDF surface.
    // Registered as a temp view (`CREATE TEMPORARY VIEW c USING graft
    // OPTIONS (path ..., readChangeFeed 'true', startingVersion '2')`)
    // it gives a SQL-only consumer the same feed LakeTable.changes
    // serves in Scala.
    if (parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))) {
      if (parameters.contains("versionAsOf") || parameters.contains("timestampAsOf"))
        throw new IllegalArgumentException(
          "readChangeFeed cannot be combined with versionAsOf/timestampAsOf — " +
            "the feed is already a range of versions")
      def longOpt(key: String): Option[Long] = parameters.get(key).map(v =>
        v.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"$key must be a version number, got '$v'")))
      val latest = LakeTable.latestVersion(spark, table).getOrElse(
        throw new IllegalArgumentException(s"no committed version at $table"))
      val start = longOpt("startingVersion").getOrElse(
        throw new IllegalArgumentException(
          "readChangeFeed requires option(\"startingVersion\", ...); add " +
            "endingVersion to bound the range (default: the latest version)"))
      val end = longOpt("endingVersion").getOrElse(latest)
      if (start < 1 || start > end || end > latest)
        throw new IllegalArgumentException(
          s"invalid change range [$start, $end] for $table: need " +
            s"1 <= startingVersion <= endingVersion <= $latest (latest)")
      return new GraftChangeFeedRelation(
        LakeTable.changes(spark, table, start, end), spark)
    }
    if (parameters.contains("versionAsOf") && parameters.contains("timestampAsOf"))
      throw new IllegalArgumentException(
        "versionAsOf and timestampAsOf are mutually exclusive")
    val asOf = parameters.get("versionAsOf").map { v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"versionAsOf must be a version number, got '$v'"))
    }.orElse(parameters.get("timestampAsOf").map(t =>
      LakeTable.versionAtTimestamp(spark, table, parseTimestampMs(t))))
    // the index resolves the snapshot once; the relation branches on it
    // and the first scan reuses it. A snapshot carrying merge-on-read
    // deletion vectors cannot be served by the HadoopFsRelation scan (it
    // would read deleted rows back) — it resolves to the dv-applying
    // composition relation instead, and back to this (faster,
    // whole-stage-codegen) relation once compact reconciles the vectors
    // away
    val index = new GraftFileIndex(spark, table, asOf)
    val snap = index.initialSnapshot
    if (LakeTable.hasDv(snap))
      return new GraftMorRelation(index, spark)
    val partitionSchema = index.partitionSchema
    // The FULL snapshot schema serves as dataSchema, partition columns
    // included: HadoopFsRelation treats a partition column that also
    // appears in dataSchema as "overlapped" and keeps it IN PLACE in
    // the relation schema (the scan still materializes it from the dir
    // path, never the file), so the relation's column order is exactly
    // the snapshot's — no reordering Project on top, which is what
    // makes registered views directly INSERT-able. Nullable like every
    // user-specified file-source schema: an evolved column is absent
    // from pre-evolution files and must read as null — the vectorized
    // reader hard-errors on a missing NON-nullable column.
    val dataSchema = GraftDataSource.asNullable(snap.schema)
    // a column-mapped snapshot reads through the name-translating
    // parquet format; identity-mapped tables keep the stock format
    // (and its class-based plan-cache equality)
    val mapped = ColumnMapping.needsTranslation(snap.schema)
    val fileFormat =
      if (mapped) new GraftParquetFileFormat(ColumnMapping.mapping(snap.schema))
      else new ParquetFileFormat
    // HadoopFsRelation equality includes `options`, and stock
    // ParquetFileFormat.equals is isInstanceOf-based (so
    // stock.equals(graftFormat) is TRUE while the reverse is false).
    // Stamp the mapping into the relation's options so a mapped
    // relation can never compare equal to a stock-format relation —
    // in EITHER direction — whatever a cache's lookup order is.
    val relOptions =
      if (mapped)
        parameters + ("graft.columnMapping" ->
          ColumnMapping.mapping(snap.schema).toSeq.sorted.mkString(","))
      else parameters
    // a bucketed snapshot hands Spark the real BucketSpec: the scan
    // reports HashPartitioning(bucketCols, n) — co-located joins/aggs
    // skip their exchange, and equality filters on the bucket column
    // prune to the matching bucket's files (see Bucketing)
    val bucketSpec = Bucketing.spec(snap.schema).map(Bucketing.toBucketSpec)
    new GraftRelation(index, partitionSchema, dataSchema, fileFormat,
      relOptions, spark, bucketSpecArg = bucketSpec)
  }

  /** `CREATE TABLE ... USING graft` support: the session catalog stores
    * the schema observed at CREATE time and re-passes it on every later
    * resolution. The transaction log — not the catalog — owns this
    * table's schema (it may have evolved since CREATE), so the passed
    * schema is deliberately ignored in favor of the current snapshot's;
    * a bare RelationProvider would instead hard-fail the resolution on
    * the first post-CREATE schema evolution. A user handing a DIFFERENT
    * schema to `spark.read.schema(...)` gets the snapshot schema too —
    * loudly, via a warning, since silently honoring the log over an
    * explicit ask would surprise them.
    */
  override def createRelation(sqlContext: SQLContext, parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val rel = createRelation(sqlContext, parameters)
    if (GraftDataSource.asNullable(schema) != GraftDataSource.asNullable(rel.schema)) {
      logWarning(s"graft table ${pathOf(parameters)}: the supplied read schema differs " +
        "from the transaction log's current schema; the log wins (catalog-resolution " +
        "passes the CREATE-time schema here, which may have evolved since)")
    }
    rel
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = pathOf(parameters)
    val requestedPartitionBy = parameters.get("partitionBy")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val current = LakeTable.latestSnapshot(spark, table)
    val exists = current.isDefined
    // Overwrite without an explicit partitionBy PRESERVES the existing
    // table's layout (Delta's default): an accidental layout drop from a
    // plain mode("overwrite") save would silently cost every future
    // query its partition pruning. Changing the layout requires saying
    // so with option("partitionBy", ...).
    val partitionBy = requestedPartitionBy
      .orElse(current.map(_.partitionColumns))
      .getOrElse(Nil)
    // option("bucketBy", "<numBuckets>,<col>[,<col>...]") [+ option(
    // "sortBy", "<col>[,...]")] — the writer-API route to a bucketed
    // (re)creation (see Bucketing). Like partitionBy above, an
    // overwrite WITHOUT the option preserves an existing bucket
    // layout; dropping it requires the Scala API's plain overwrite.
    val requestedBucketBy = parameters.get("bucketBy").map { s =>
      val ps = s.split(",").map(_.trim).filter(_.nonEmpty)
      require(ps.length >= 2 && ps.head.toIntOption.exists(_ > 0),
        "option(\"bucketBy\") must be \"<numBuckets>,<col>[,<col>...]\", " +
          s"got '$s'")
      val sorts = parameters.get("sortBy")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
      Bucketing.Spec(ps.head.toInt, ps.tail.toSeq, sorts)
    }
    val bucketBy = requestedBucketBy
      .orElse(current.flatMap(s => Bucketing.spec(s.schema)))
    // option("generatedPartition", "p_day=day(event_ts)[;p2=...]") —
    // the writer-API route to hidden partitioning (see
    // GeneratedColumns). Like partitionBy/bucketBy above, an overwrite
    // WITHOUT the option preserves an existing generated layout;
    // dropping it requires the Scala API's plain overwrite.
    val GenSpecRe = """([^=;()]+)=([A-Za-z_0-9]+)\(([^()]+)\)""".r
    val requestedGens = parameters.get("generatedPartition").map { s =>
      s.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map {
        case GenSpecRe(tgt, tf, src) =>
          GeneratedColumns.Spec(tgt.trim, tf.trim, src.trim)
        case bad => throw new IllegalArgumentException(
          "option(\"generatedPartition\") must be " +
            s"\"<target>=<transform>(<source>)[;...]\", got '$bad'")
      }
    }
    val gens = requestedGens
      .orElse(current.map(s => GeneratedColumns.specs(s.schema)).filter(_.nonEmpty))
      .getOrElse(Nil)
    def replace(): Unit = (bucketBy, gens) match {
      case (Some(_), g) if g.nonEmpty => throw new IllegalArgumentException(
        "bucketBy and generatedPartition cannot be combined in one writer call; " +
          "create the generated layout first, then append")
      case (Some(sp), _) => LakeTable.overwriteBucketed(spark, table, data,
        sp.numBuckets, sp.bucketCols, sp.sortCols, partitionBy)
      case (None, g) if g.nonEmpty =>
        // an inherited layout re-derives the same targets; partitionBy
        // resolved from the current table already names them — strip so
        // overwriteGenerated can re-append
        LakeTable.overwriteGenerated(spark, table, data, g,
          partitionBy.filterNot(g.map(_.target).contains))
      case (None, _) => LakeTable.overwrite(spark, table, data, partitionBy)
    }
    mode match {
      case SaveMode.Overwrite => replace()
      case SaveMode.Append =>
        // option("txnAppId", id) + option("txnVersion", n): idempotent
        // batch appends through the snapshot's txn ledger (the batch
        // face of the streaming sink's exactly-once watermark) — a
        // retried job re-running the same (appId, version) commits
        // nothing, so "write then maybe-crash then rerun" is safe
        val txn = for {
          app <- parameters.get("txnAppId")
          v   <- parameters.get("txnVersion")
        } yield (app, v.toLong)
        (txn, exists) match {
          case (Some((app, v)), true) =>
            LakeTable.appendStream(spark, table, data, app, v,
              operation = "APPEND")
          case (Some((app, v)), false) =>
            // first write creates the table in ONE commit carrying both
            // the data and the ledger stamp — no crash window between
            // create and stamp for a re-run to duplicate through
            require(bucketBy.isEmpty,
              "txnAppId/txnVersion with bucketBy on a not-yet-existing " +
                "table is unsupported — create the bucketed table first")
            LakeTable.overwriteStream(spark, table, data, app, v,
              partitionBy, operation = "OVERWRITE")
          case (None, true)  => LakeTable.append(spark, table, data)
          case (None, false) => replace()
        }
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"lake table $table already exists (SaveMode.ErrorIfExists)")
        replace()
      case SaveMode.Ignore =>
        if (!exists) replace()
    }
    // option("autoCompact", "true"): bin-pack the partitions this write
    // touched once they accumulate enough small files (see
    // LakeTable.autoCompact) — a no-op commit-wise below threshold
    if (parameters.get("autoCompact").exists(_.equalsIgnoreCase("true")))
      LakeTable.autoCompact(spark, table)
    createRelation(sqlContext, parameters - "versionAsOf" - "timestampAsOf")
  }

  // -------------------------------------------------------------- streaming

  /** `writeStream.format("graft")`: exactly-once micro-batch commits
    * through the transaction log (see [[GraftSink]]). Append and
    * Complete modes; Update needs keys — use `foreachBatch` +
    * [[LakeTable.merge]].
    */
  override def createSink(sqlContext: SQLContext, parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    if (outputMode == OutputMode.Update())
      throw new UnsupportedOperationException(
        "graft sink: Update mode needs merge keys — use foreachBatch with " +
          "LakeTable.merge; Append and Complete are supported directly")
    // V1 sinks do get .partitionBy() forwarded (unlike batch V1 writes);
    // accept the option spelling too for symmetry with the batch writer
    val parts =
      if (partitionColumns.nonEmpty) partitionColumns
      else parameters.get("partitionBy")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    new GraftSink(sqlContext.sparkSession, pathOf(parameters), parts, outputMode,
      autoCompact = parameters.get("autoCompact").exists(_.equalsIgnoreCase("true")))
  }

  /** `readStream.format("graft")`: tail the transaction log, versions
    * as offsets (see [[GraftSource]]).
    */
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val table = pathOf(parameters)
    val snap = LakeTable.latestSnapshot(sqlContext.sparkSession, table)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot stream from $table: no committed version"))
    val base = GraftDataSource.asNullable(snap.schema)
    val withFeed =
      if (!parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))) base
      else StructType(base.fields ++ Seq(
        org.apache.spark.sql.types.StructField(LakeTable.ChangeTypeCol,
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(LakeTable.CommitVersionCol,
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(LakeTable.CommitTimestampCol,
          org.apache.spark.sql.types.LongType)))
    (shortName(), withFeed)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new GraftSource(sqlContext.sparkSession, pathOf(parameters), parameters)
}

/** Batch change-feed relation: the computed feed DataFrame behind the
  * `BaseRelation` surface so SQL (`CREATE TEMPORARY VIEW ... USING
  * graft`) can consume it. `needConversion = false` hands Spark the
  * plan's InternalRows directly (the documented V1 contract for
  * relations producing catalyst rows) — the scan stays distributed and
  * the underlying parquet reads keep their codegen path; no pushdown
  * is lost that matters, since a feed range is read whole by design.
  */
private[graft] class GraftChangeFeedRelation(df: org.apache.spark.sql.DataFrame,
                                             spark: SparkSession)
    extends BaseRelation with org.apache.spark.sql.sources.TableScan {
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = df.schema
  override def needConversion: Boolean = false
  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    df.queryExecution.toRdd.asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
}

/** The relation a vector-free snapshot reads as: a
  * [[HadoopFsRelation]] over the live [[GraftFileIndex]], so Spark's
  * whole native parquet scan path applies — vectorized reader,
  * codegen, pushdown, partition pruning and file skipping. SQL
  * `INSERT INTO`/`INSERT OVERWRITE` on a `USING graft` catalog table or
  * a registered view commit through the transaction log
  * ([[GraftTableRelation]]) instead of Spark's raw
  * write-files-into-the-directory command. The reference's entire write
  * surface is SQL statements materializing Iceberg tables (ref: silver
  * defs.yaml:22 `trino_sql` blocks); this is the analog.
  */
private[graft] class GraftRelation(
    val index: GraftFileIndex,
    partitionSchemaArg: StructType,
    dataSchemaArg: StructType,
    fileFormat: ParquetFileFormat,
    options: Map[String, String],
    spark: SparkSession,
    bucketSpecArg: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = None)
  extends HadoopFsRelation(index, partitionSchemaArg, dataSchemaArg,
    bucketSpec = bucketSpecArg, fileFormat, options)(spark)
  with GraftTableRelation

/** A relation `format("graft")` resolves to, plain or merge-on-read,
  * with the live index behind it: the table path and any pinned
  * version come from there. Spark plans an insert into a relation with
  * no partition columns as `InsertIntoDataSourceCommand`, which calls
  * [[insert]] directly; both routes end in [[GraftInsertCommand.insert]].
  */
private[graft] trait GraftTableRelation extends InsertableRelation {
  def index: GraftFileIndex

  override def insert(data: DataFrame, overwrite: Boolean): Unit =
    GraftInsertCommand.insert(data.sparkSession, index, data, overwrite)
}
