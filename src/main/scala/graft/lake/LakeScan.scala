package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BasePredicate, BoundReference, Cast, EvalMode, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import LakeTable.{FileEntry, Snapshot}

/** The [[FileIndex]] every graft scan reads through, in one of two
  * forms.
  *
  * '''Live''' (`new GraftFileIndex(spark, table, asOf)`): the index a
  * `format("graft")` relation holds. It re-resolves the snapshot at
  * QUERY time, not at registration time: Spark calls [[listFiles]]
  * during the physical planning of every query execution, so a temp
  * view or long-lived DataFrame always reads the newest committed
  * snapshot, like the reference's Trino readers resolving the current
  * Iceberg snapshot per query (ref:
  * trino_iceberg_transform_component.py:37,116-123). With `asOf` set
  * the index pins that version forever — time travel is frozen.
  * Resolution is cached by version, so repeated metadata calls within
  * one planning pass cost one hint read (the same discipline as
  * `LakeTable.latestVersion`), and the snapshot the index was created
  * over seeds that cache: a pinned read reconstructs it once. The
  * SCHEMA and partition layout are fixed at creation (Spark resolved
  * the plan's attributes against them); a writer evolving either
  * under a live plan makes the next query FAIL LOUDLY with a
  * re-register hint (see `checkNotStale`). Equality is identity.
  *
  * '''Pinned''' ([[LakeScan.scanEntries]]): a fixed set of a table's
  * log entries — the engine's own scans of known files (rewrites, the
  * change feed, DML detection, bloom builds, streaming batches). Entry paths resolve against `base` (the data root, or the
  * table root for change files); local and foreign (cloned) entries
  * share one index, and `rootPaths` is `base` whatever the entries.
  * Equality is by the set of absolute file paths and their deletion
  * vectors, so two scans of the same file states match in the plan
  * cache.
  *
  * Both forms build each `FileStatus` from the logged size and mtime —
  * no LIST, no stat; an entry of unknown size (a file named outside
  * the snapshot, a change file) costs one `getFileStatus`. A listed
  * file carrying a deletion vector carries its serialized bitmap as
  * file metadata, which Spark hands the reader
  * with each split ([[GraftParquetFileFormat]] applies it), so a scan
  * applies exactly the vectors of the snapshot it listed; the bitmaps
  * of the files a scan keeps are read on the driver while listing. Both prune
  * through [[LakeScan.prune]]: partition values parsed from the
  * hive-style `col=value/` dirs, plus file skipping on the logged
  * bounds and bloom sidecars.
  */
final class GraftFileIndex private[lake] (spark: SparkSession, val tablePath: String,
                                          val asOf: Option[Long], base: Path,
                                          private val pinned: Option[Snapshot])
    extends FileIndex {

  def this(spark: SparkSession, tablePath: String, asOf: Option[Long]) =
    this(spark, tablePath, asOf, LakeTable.dataPath(tablePath), None)

  private val root = LakeTable.fs(spark, tablePath).makeQualified(base)
  private lazy val hadoopConf = spark.sessionState.newHadoopConf()

  private def versionNow(): Long = pinned.map(_.version).orElse(asOf)
    .orElse(LakeTable.latestVersion(spark, tablePath))
    .getOrElse(throw new IllegalArgumentException(s"no committed version at $tablePath"))

  /** The snapshot this index was created over (the pinned form's fixed
    * entries): its schema and partition layout are the relation's.
    */
  val initialSnapshot: Snapshot =
    pinned.getOrElse(LakeTable.snapshotAt(spark, tablePath, versionNow()))

  override val partitionSchema: StructType = LakeScan.partitionSchemaOf(initialSnapshot)

  /** Does the relation over this index apply deletion vectors? Decided
    * by the snapshot it was created over: a live relation created
    * vector-free keeps the stock (columnar) reader and refuses a
    * snapshot that has since gained vectors (see [[listFiles]]).
    */
  val appliesDeletes: Boolean = pinned.isDefined || LakeTable.hasDv(initialSnapshot)

  /** A pinned version or fixed files: nothing may be inserted. */
  def readOnly: Boolean = asOf.isDefined || pinned.isDefined

  override def rootPaths: Seq[Path] = Seq(root)

  /** (snapshot, per-partition-tuple file groups, total bytes). */
  private var cached: Option[(Snapshot, Seq[(InternalRow, Seq[(FileStatus, FileEntry)])], Long)] = None

  /** The relation's schema and partition layout are pinned at
    * registration (Spark resolved the plan's attributes against them);
    * if a writer has since evolved the schema or re-partitioned the
    * table, serving the old shape would be SILENTLY wrong — stale
    * columns projected, partition values parsed as null, filters
    * pruning everything. Fail loudly instead; the fix is one
    * re-registration (`REFRESH TABLE` / re-create the view).
    */
  private def checkNotStale(snap: Snapshot): Unit = {
    if (snap.partitionColumns != initialSnapshot.partitionColumns)
      throw new IllegalStateException(
        s"partition layout of $tablePath changed at v${snap.version} " +
          s"(${initialSnapshot.partitionColumns.mkString(",")} -> " +
          s"${snap.partitionColumns.mkString(",")}) since this relation was " +
          "registered at v" + initialSnapshot.version +
          " — re-register the view (REFRESH TABLE / re-create it) to pick up the new layout")
    if (GraftDataSource.asNullable(snap.schema) !=
        GraftDataSource.asNullable(initialSnapshot.schema))
      throw new IllegalStateException(
        s"schema of $tablePath evolved at v${snap.version} since this relation was " +
          s"registered at v${initialSnapshot.version} — re-register the view " +
          "(REFRESH TABLE / re-create it) to read the evolved schema")
  }

  private def statusOf(e: FileEntry): FileStatus =
    if (e.size >= 0)
      new FileStatus(e.size, false, 1, 128L << 20, math.max(e.mtimeMs, 0L),
        LakeTable.entryPath(root, e.path))
    else {
      val p = LakeTable.entryPath(root, e.path)
      p.getFileSystem(hadoopConf).getFileStatus(p)
    }

  private def resolve(): (Snapshot, Seq[(InternalRow, Seq[(FileStatus, FileEntry)])], Long) =
    synchronized {
      // revalidate by VERSION first (O(1) hint read) — the snapshot
      // reconstruction (checkpoint + deltas) only runs when the version
      // actually moved
      val v = versionNow()
      cached.filter(_._1.version == v).getOrElse {
        val snap =
          if (v == initialSnapshot.version) initialSnapshot
          else LakeTable.snapshotAt(spark, tablePath, v)
        checkNotStale(snap)
        val statuses = snap.files.map(e => (statusOf(e), e))
        val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
        val parts = statuses.groupBy { case (_, e) =>
          PartitionPaths.valuesOf(e.path, partitionSchema, tz)
        }.toSeq
        val r = (snap, parts, statuses.map(_._1.getLen).sum)
        cached = Some(r)
        r
      }
    }

  /** The snapshot a scan planned now reads, checked against schema and
    * layout drift: metadata-only answers (e.g. [[MetadataOnlyAgg]])
    * fail as loudly on an evolved table as the scan would.
    */
  def snapshot(): Snapshot = resolve()._1

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (snap, parts, _) = resolve()
    // same loud-failure discipline as schema drift: a merge-on-read
    // DELETE that committed since a vector-free relation was registered
    // means its stock reader would RESURRECT deleted rows — the
    // re-registered relation reads through the vector-applying format
    if (!appliesDeletes && LakeTable.hasDv(snap))
      throw new IllegalStateException(
        s"table $tablePath carries merge-on-read deletion vectors as of " +
          s"v${snap.version}, committed after this relation was registered " +
          s"at v${initialSnapshot.version} — a plain scan would read deleted " +
          "rows; re-register the view (REFRESH TABLE / re-create it) to read " +
          "through the vector-applying reader")
    val kept = LakeScan.prune[(FileStatus, FileEntry)](spark, tablePath, initialSnapshot, parts,
      _._2, partitionFilters, dataFilters)
    // the kept files' vectors ride their listing to the reader
    val vectored = kept.flatMap(_._2.map(_._2)).filter(_.dv.isDefined)
    val bitmaps =
      if (vectored.isEmpty) Map.empty[String, Array[Byte]]
      else DeletionVectors.readAll(LakeTable.fs(spark, tablePath), new Path(tablePath), vectored)
    kept.map { case (row, files) =>
      PartitionDirectory(row, files.map { case (st, e) =>
        FileStatusWithMetadata(st, bitmaps.get(e.path).map(DeletionVectors.MetadataKey -> _).toMap)
      })
    }
  }

  override def inputFiles: Array[String] =
    resolve()._2.flatMap(_._2.map(_._1.getPath.toString)).toArray

  override def sizeInBytes: Long = resolve()._3

  override def refresh(): Unit = synchronized { cached = None }

  private lazy val fileSet: Set[(String, Option[LakeTable.DeleteVector])] =
    pinned.toSeq.flatMap(_.files).iterator
      .map(e => (LakeTable.entryPath(root, e.path).toString, e.dv)).toSet

  override def equals(o: Any): Boolean = o match {
    case p: GraftFileIndex if pinned.isDefined && p.pinned.isDefined => fileSet == p.fileSet
    case _ => super.equals(o)
  }

  override def hashCode: Int = if (pinned.isDefined) fileSet.hashCode else super.hashCode

  override def toString: String = pinned match {
    case Some(s) => s"GraftFileIndex($tablePath, ${s.files.size} files)"
    case None => s"GraftFileIndex($tablePath${asOf.map(v => s", asOf=$v").getOrElse("")})"
  }
}

/** How log entries become a scan: the pinned parquet scan over known
  * entries (deletion vectors applied inside the reader), the one
  * pruner, and the predicate resolution that feeds it.
  */
private[lake] object LakeScan {

  def partitionSchemaOf(snap: Snapshot): StructType = GraftDataSource.asNullable(
    StructType(snap.partitionColumns.map(snap.schema(_))))

  /** The one pruner. Keeps the groups of `parts` (files grouped by
    * partition tuple) whose tuple the partition filters admit, and in
    * them the files the data filters may match. `snap` supplies the
    * logical schema and layout the filters are written against.
    *
    *  - Hidden partitioning: data filters on a generated partition
    *    column's SOURCE synthesize partition filters on its target
    *    ([[GeneratedColumns]]), evaluated on distinct partition tuples,
    *    upstream of (and far cheaper than) the per-file pass.
    *  - The per-file pass proves files empty of matches from their
    *    logged min/max bounds ([[DataSkipping]]) and, for equality
    *    probes, their bloom sidecars (advisory — a file without one is
    *    just not bloom-skipped). Stats are keyed by PHYSICAL column
    *    names, so on a column-mapped table the filters translate
    *    logical → physical first.
    *
    * Spark drops partition filters from the plan above a file scan, so
    * an index must apply them; every other skip is sound weakening.
    */
  def prune[T](spark: SparkSession, table: String, snap: Snapshot,
               parts: Seq[(InternalRow, Seq[T])], entryOf: T => FileEntry,
               partitionFilters: Seq[Expression],
               dataFilters: Seq[Expression]): Seq[(InternalRow, Seq[T])] = {
    if (partitionFilters.isEmpty && dataFilters.isEmpty) return parts
    val resolver = spark.sessionState.conf.resolver
    val pSchema = partitionSchemaOf(snap)
    val gens = GeneratedColumns.specs(snap.schema).filter(s =>
      snap.partitionColumns.contains(s.target) && !snap.partitionColumns.contains(s.source))
    val pConds = partitionFilters ++
      GeneratedColumns.synthesize(dataFilters, gens, pSchema, resolver)
    val admitted =
      if (pConds.isEmpty || pSchema.isEmpty) parts
      else {
        val bound = PartitionPaths.bind(pConds, pSchema, resolver)
        parts.filter { case (row, _) => bound.eval(row) }
      }
    val dataSchema = ColumnMapping.physicalSchema(
      StructType(snap.schema.filterNot(f => snap.partitionColumns.contains(f.name))))
    val physFilters =
      if (ColumnMapping.needsTranslation(snap.schema))
        dataFilters.map(ColumnMapping.physicalizeExpr(_, ColumnMapping.mapping(snap.schema)))
      else dataFilters
    val probes = BloomIndex.equalityProbes(physFilters, dataSchema, resolver)
    lazy val f = LakeTable.fs(spark, table)
    admitted.map { case (row, files) =>
      (row, files.filterNot { t =>
        val e = entryOf(t)
        DataSkipping.skip(physFilters, dataSchema, resolver, e) ||
          BloomIndex.skip(f, table, e, probes)
      })
    }.filter(_._2.nonEmpty)
  }

  /** [[prune]] over `snap`'s entries, in their order, for the paths that
    * plan their own file list (DML detection and rebase). `conds`
    * mixes partition and data
    * conjuncts; those that evaluate on partition values alone act as
    * partition filters. A point delete on a clustered key reads ~1
    * file, not the table.
    */
  def prune(spark: SparkSession, table: String, snap: Snapshot,
            conds: Seq[Expression]): Seq[FileEntry] = {
    if (conds.isEmpty) return snap.files
    val resolver = spark.sessionState.conf.resolver
    val pSchema = partitionSchemaOf(snap)
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val (pConds, rest) = conds.partition(c =>
      PartitionPaths.evaluableOnPartitions(Seq(c), pSchema, resolver))
    prune[FileEntry](spark, table, snap,
      snap.files.map(e => (PartitionPaths.valuesOf(e.path, pSchema, tz), Seq(e))), identity,
      pConds, rest).flatMap(_._2)
  }

  /** One parquet scan over `entries` of `table`, straight from the log:
    * a `HadoopFsRelation` over a pinned [[GraftFileIndex]], so building
    * it lists no directory and infers no schema. `physSchema` is the
    * full PHYSICAL read schema, partition columns in place (as in
    * [[GraftDataSource]]'s relation); their values parse from each
    * file's `k=v` dirs. Entry paths are relative to `base` (the data
    * root unless given); local and foreign (cloned) entries read in the
    * same scan, and `_metadata` columns are available on the result.
    * Entries carrying deletion vectors read through the
    * vector-applying [[GraftParquetFileFormat]]; the scan is one
    * `FileScan` either way.
    */
  def scanEntries(spark: SparkSession, table: String, physSchema: StructType,
                  partitionColumns: Seq[String], entries: Seq[FileEntry],
                  base: Option[Path] = None): DataFrame = {
    val index = new GraftFileIndex(spark, table, None,
      base.getOrElse(LakeTable.dataPath(table)),
      Some(Snapshot(-1L, 0L, "SCAN", physSchema, partitionColumns, entries)))
    val format =
      if (entries.exists(_.dv.isDefined)) new GraftParquetFileFormat(Map.empty, deletes = true)
      else new ParquetFileFormat
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema, physSchema,
      None, format, Map.empty)(spark))
  }

  /** Scan `entries` of `snap` with their deletion vectors applied, in
    * one [[scanEntries]] scan — the read of every rewrite, feed and
    * streaming path that bypasses the registered source. Output
    * columns are the snapshot's logical schema (for column mapping the
    * scan requests the PHYSICAL names, deep-nullable — evolved columns
    * are absent from old files — and renames back), plus
    * `FilePathCol`/`RowPosCol` when `keepPos`: the scan's file path and
    * physical row index, the detection-scan form DML keys its vectors
    * by.
    */
  def morScan(spark: SparkSession, table: String, snap: Snapshot,
              entries: Seq[FileEntry], keepPos: Boolean): DataFrame = {
    val nullable = GraftDataSource.asNullable(snap.schema)
    val pos =
      if (!keepPos) Nil
      else Seq(col("_metadata.file_path").as(LakeTable.FilePathCol),
        col("_metadata.row_index").as(LakeTable.RowPosCol))
    scanEntries(spark, table, ColumnMapping.physicalSchema(nullable), snap.partitionColumns,
      entries)
      .select(nullable.fields.toSeq.map(f => col(ColumnMapping.physicalName(f)).as(f.name)) ++
        pos: _*)
  }

  /** The LIVE rows of the named files of `snap` — [[morScan]] over
    * their entries, what every rewrite/feed path that means live rows
    * must use. A path the snapshot does not name reads with an unknown
    * size, so its scan stats it once.
    */
  def readDataFilesLive(spark: SparkSession, table: String, snap: Snapshot,
                        relPaths: Seq[String]): DataFrame = {
    val byPath = snap.files.iterator.map(e => e.path -> e).toMap
    morScan(spark, table, snap,
      relPaths.map(p => byPath.getOrElse(p, FileEntry(p, -1L, -1L, -1L, Map.empty))),
      keepPos = false)
  }

  /** Best-effort resolution of a user `Column` predicate against a
    * schema, split into conjuncts — feeds driver-side file pruning
    * ([[prune]]). Empty on any resolution failure: pruning is an
    * optimization, never a gate.
    */
  def resolvedConjuncts(spark: SparkSession, schema: StructType,
                        condition: Column): Seq[Expression] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    try {
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        GraftDataSource.asNullable(schema))
      empty.filter(condition).queryExecution.analyzed.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => split(f.condition)
      }.flatten.map(foldConstants)
    } catch { case scala.util.control.NonFatal(_) => Nil }
  }

  /** Fold foldable subtrees to Literals — the analyzed plan (which
    * [[resolvedConjuncts]] reads; the OPTIMIZED plan of an empty
    * relation eliminates the filter altogether) leaves computed
    * constants like `timestamp_micros(1700000000L)` as calls, which no
    * bounds proof pattern-matches. Evaluation is safe: foldable implies
    * deterministic and input-free.
    */
  private def foldConstants(e: Expression): Expression =
    e.transformUp {
      case f if f.foldable && !f.isInstanceOf[Literal] => Literal.create(f.eval(null), f.dataType)
    }
}

/** Hive-style partition-path parsing and driver-side partition
  * predicates, shared by [[LakeScan.prune]] (scan-time pruning),
  * [[MetadataOnlyAgg]] (partition-filtered aggregates from the log), and
  * `LakeTable.compact` (partition-scoped maintenance).
  */
private[lake] object PartitionPaths {

  /** Parse the `col=value/` dirs of a table-relative file path into
    * the partition-schema row (same unescape + cast semantics the
    * built-in partition discovery applies; LEGACY cast mode so a
    * malformed value surfaces as null, not an ANSI throw). A foreign
    * entry's absolute path parses the same way — its partition dirs
    * are the last `k=v` ones.
    */
  def valuesOf(rel: String, partitionSchema: StructType,
               tz: Option[String]): InternalRow = {
    if (partitionSchema.isEmpty) return InternalRow.empty
    val dirs = rel.split('/').dropRight(1)
    val byName = dirs.iterator.map(_.split("=", 2)).collect {
      case Array(k, v) => k -> ExternalCatalogUtils.unescapePathName(v)
    }.toMap
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case None | Some(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) => null
        case Some(raw) =>
          Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType, tz,
            EvalMode.LEGACY).eval(InternalRow.empty)
      }
    })
  }

  /** An interpreted predicate over the partition schema, built from
    * expressions whose attributes resolve (by the given resolver) to
    * partition columns. Callers must have verified resolvability.
    */
  def bind(conds: Seq[Expression], partitionSchema: StructType,
           resolver: (String, String) => Boolean): BasePredicate = {
    val bound = Predicate.createInterpreted(conds.reduce(And).transform {
      case a: AttributeReference =>
        val i = partitionSchema.fields.indexWhere(f => resolver(f.name, a.name))
        require(i >= 0, s"attribute ${a.name} is not a partition column")
        BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
    })
    bound.initialize(0)
    bound
  }

  /** Do all the expressions' references resolve to partition columns,
    * with no non-deterministic parts or subqueries? The soundness gate
    * for evaluating them driver-side against parsed path values.
    */
  def evaluableOnPartitions(conds: Seq[Expression], partitionSchema: StructType,
                            resolver: (String, String) => Boolean): Boolean =
    partitionSchema.nonEmpty && conds.nonEmpty && conds.forall { c =>
      c.deterministic &&
        !c.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]) &&
        c.references.forall(a =>
          partitionSchema.fields.exists(f => resolver(f.name, a.name)))
    }
}
