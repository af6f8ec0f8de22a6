package graft.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BasePredicate, BoundReference, Cast, EvalMode, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A [[FileIndex]] over a graft lake table that re-resolves the
  * snapshot at QUERY time, not at registration time.
  *
  * This is the piece that makes the SQL surface live: a temp view (or
  * `spark.read.format("graft")` DataFrame) holds this index inside its
  * `HadoopFsRelation`, and Spark calls [[listFiles]] during the
  * physical planning of EVERY query execution — so a reader session
  * always sees the newest committed snapshot, exactly like the
  * reference's Trino readers resolving the current Iceberg snapshot
  * through Glue per query (ref:
  * trino_iceberg_transform_component.py:37,116-123). The previous
  * design baked a fixed file list into the view at registration,
  * leaving every other session indefinitely stale after a writer's
  * MERGE/append. With `asOf` set the index pins that version forever —
  * time travel is supposed to be frozen.
  *
  * Pinning: the snapshot is resolved once per [[listFiles]] call and
  * cached keyed by version, so repeated metadata calls within one
  * planning pass are O(1) revalidations (a hint-file read — the same
  * cost discipline as `LakeTable.latestVersion`). The SCHEMA the
  * enclosing relation exposes is still fixed at relation creation —
  * when a writer evolves the schema or changes the partition layout
  * under a live view, the next query FAILS LOUDLY with a re-register
  * hint (see checkNotStale) instead of silently projecting stale
  * columns; the file list alone re-resolves freely.
  *
  * Partition pruning: snapshot files live in hive-style `col=value/`
  * dirs; the index parses partition values from the paths and
  * evaluates Spark's pushed partition filters against them (the same
  * name-bound interpreted predicate `PartitioningAwareFileIndex`
  * uses), so a filter on a partition column reads only that
  * partition's files — plan-visible as a pruned `FileSourceScan`.
  */
final class GraftFileIndex(spark: SparkSession, val tablePath: String,
                           val asOf: Option[Long]) extends FileIndex {

  private val hadoopFs = LakeTable.fs(spark, tablePath)
  private val dataRoot = hadoopFs.makeQualified(LakeTable.dataPath(tablePath))

  /** Snapshot the next scan will read: `asOf` pins; otherwise latest. */
  def snapshotNow(): LakeTable.Snapshot = asOf match {
    case Some(v) => LakeTable.snapshotAt(spark, tablePath, v)
    case None => LakeTable.latestSnapshot(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(s"no committed version at $tablePath"))
  }

  /** [[snapshotNow]] plus the same staleness validation a scan runs:
    * metadata-only answers (e.g. [[MetadataOnlyAgg]]) must fail
    * loudly on an evolved table exactly like the scan they replace
    * would, not silently succeed where `SELECT *` errors.
    */
  def snapshotChecked(): LakeTable.Snapshot = {
    val snap = snapshotNow()
    checkNotStale(snap)
    snap
  }

  // fixed at index creation: the relation's schema cannot change under
  // a live plan (Spark resolved attributes against it)
  private val initialSnapshot: LakeTable.Snapshot = snapshotNow()

  override val partitionSchema: StructType = GraftDataSource.asNullable(
    StructType(initialSnapshot.partitionColumns.map(initialSnapshot.schema(_))))

  override def rootPaths: Seq[Path] = Seq(dataRoot)

  // ------------------------------------------------ snapshot-keyed cache

  /** (version, per-partition-tuple file groups, total bytes). */
  private var cached: Option[(Long, Seq[(InternalRow, Array[(FileStatus, LakeTable.FileEntry)])], Long)] = None

  /** The relation's schema and partition layout are pinned at
    * registration (Spark resolved the plan's attributes against them);
    * if a writer has since evolved the schema or re-partitioned the
    * table, serving the old shape would be SILENTLY wrong — stale
    * columns projected, partition values parsed as null, filters
    * pruning everything. Fail loudly instead; the fix is one
    * re-registration (`REFRESH TABLE` / re-create the view).
    */
  private def checkNotStale(snap: LakeTable.Snapshot): Unit = {
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

  private def resolve(): (Seq[(InternalRow, Array[(FileStatus, LakeTable.FileEntry)])], Long) = synchronized {
    // revalidate by VERSION first (O(1) hint read) — the snapshot
    // reconstruction (checkpoint + deltas) only runs when the version
    // actually moved
    val curVersion = asOf.orElse(LakeTable.latestVersion(spark, tablePath))
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $tablePath"))
    cached match {
      case Some((v, parts, bytes)) if v == curVersion => (parts, bytes)
      case _ =>
        val snap = LakeTable.snapshotAt(spark, tablePath, curVersion)
        checkNotStale(snap)
        // same loud-failure discipline as schema drift: a merge-on-read
        // DELETE that committed since this relation was registered means
        // the plain file-list scan would RESURRECT deleted rows — the
        // re-registered relation resolves through the dv-aware scan
        if (LakeTable.hasDv(snap))
          throw new IllegalStateException(
            s"table $tablePath carries merge-on-read deletion vectors as of " +
              s"v${snap.version}, committed after this relation was registered " +
              s"at v${initialSnapshot.version} — a plain scan would read deleted " +
              "rows; re-register the view (REFRESH TABLE / re-create it) to read " +
              "through the vector-aware scan")
        val statuses: Seq[(FileStatus, LakeTable.FileEntry)] =
          if (snap.files.forall(_.size >= 0)) {
            // the log carries size + mtime per file, so the scan's
            // FileStatus objects are built WITHOUT touching the
            // filesystem — no LIST, no stat. At object-store scale this
            // is the difference between one small JSON read and a
            // million-object recursive listing per snapshot change.
            snap.files.map(e => (GraftFileIndex.logStatus(dataRoot, e), e))
          } else {
            // legacy snapshot (pre-stats log): one recursive listing of
            // data/ (not one RPC per file), then keep exactly the
            // snapshot's files — time travel and racing writers may
            // leave extra files on disk that must not be read
            val byRel = LakeTable.leafFiles(hadoopFs, dataRoot)
              .map(st => LakeTable.relativize(dataRoot, st.getPath) -> st).toMap
            snap.files.map { e =>
              // a foreign (cloned) entry lives under its SOURCE root,
              // never in this table's listing: stat it directly
              val st =
                if (LakeTable.isForeignEntry(e.path))
                  hadoopFs.getFileStatus(new Path(e.path))
                else byRel.getOrElse(e.path,
                // a file committed in the snapshot but absent from the
                // listing is corruption (or an over-eager vacuum) — fail
                // loudly rather than silently returning partial data
                throw new IllegalStateException(
                  s"snapshot v${snap.version} of $tablePath references missing data file ${e.path}"))
              (st, e)
            }
          }
        val parts = GraftFileIndex.byPartition(statuses, partitionSchema, spark)
        val bytes = statuses.map(_._1.getLen).sum
        cached = Some((snap.version, parts, bytes))
        (parts, bytes)
    }
  }

  // generated partition columns whose SOURCE is a data column: data
  // predicates on the source synthesize partition predicates on the
  // target (hidden partitioning — see GeneratedColumns)
  private val genSpecs: Seq[GeneratedColumns.Spec] =
    GeneratedColumns.specs(initialSnapshot.schema).filter(s =>
      partitionSchema.fieldNames.contains(s.target) &&
        !initialSnapshot.partitionColumns.contains(s.source))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val (parts, _) = resolve()
    val resolver = spark.sessionState.conf.resolver
    // hidden partitioning: a filter on the raw source column implies a
    // partition predicate on its generated transform — synthesized
    // pruning runs on DISTINCT PARTITION TUPLES, upstream of (and far
    // cheaper than) the per-file bounds pass below
    val allPartFilters = partitionFilters ++
      GeneratedColumns.synthesize(dataFilters, genSpecs, partitionSchema, resolver)
    val pruned = GraftFileIndex.prune(parts, allPartFilters, partitionSchema, resolver)
    // file-level data skipping on the logged min/max bounds: a file
    // whose bounds exclude the pushed filters never reaches the scan.
    // Stats are keyed by PHYSICAL column names (the names in the files,
    // collected at write time), so on a column-mapped table both the
    // schema and the filters' attributes translate logical → physical
    // before the bounds comparison — identity for unmapped tables.
    val nameMap = ColumnMapping.mapping(initialSnapshot.schema)
    val dataSchema = ColumnMapping.physicalSchema(
      StructType(initialSnapshot.schema
        .filterNot(f => initialSnapshot.partitionColumns.contains(f.name))))
    val physFilters =
      if (ColumnMapping.needsTranslation(initialSnapshot.schema))
        dataFilters.map(ColumnMapping.physicalizeExpr(_, nameMap))
      else dataFilters
    // equality probes additionally consult the per-file bloom sidecars
    // (advisory — a file without one just isn't bloom-skipped)
    val probes =
      if (dataFilters.isEmpty) Nil
      else BloomIndex.equalityProbes(physFilters, dataSchema, resolver)
    val skipped = pruned.map { case (row, files) =>
      val kept =
        if (dataFilters.isEmpty) files
        else files.filterNot { case (_, entry) =>
          DataSkipping.skip(physFilters, dataSchema, resolver, entry) ||
            BloomIndex.skip(hadoopFs, tablePath, entry, probes)
        }
      (row, kept)
    }.filter(_._2.nonEmpty)
    skipped.map { case (row, files) => PartitionDirectory(row, files.map(_._1)) }
  }

  override def inputFiles: Array[String] =
    resolve()._1.flatMap(_._2.map(_._1.getPath.toString)).toArray

  override def sizeInBytes: Long = resolve()._2

  override def refresh(): Unit = synchronized { cached = None }

  override def toString: String =
    s"GraftFileIndex($tablePath${asOf.map(v => s", asOf=$v").getOrElse("")})"
}

private[lake] object GraftFileIndex {

  /** The scan `FileStatus` of a log entry with a known size, built from
    * the logged size and mtime — no LIST, no stat.
    */
  def logStatus(root: Path, e: LakeTable.FileEntry): FileStatus =
    new FileStatus(e.size, false, 1, 128L << 20, math.max(e.mtimeMs, 0L),
      LakeTable.entryPath(root, e.path))

  /** Group (status, entry) pairs by the partition tuple parsed from
    * each entry's hive-style `col=value/` dirs (see
    * [[PartitionPaths.valuesOf]]; a foreign entry's absolute path
    * parses the same way — its partition dirs are the last `k=v` ones).
    */
  def byPartition(files: Seq[(FileStatus, LakeTable.FileEntry)], partitionSchema: StructType,
                  spark: SparkSession): Seq[(InternalRow, Array[(FileStatus, LakeTable.FileEntry)])] = {
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    files.groupBy { case (_, e) => PartitionPaths.valuesOf(e.path, partitionSchema, tz) }
      .toSeq
      .map { case (row, group) => (row, group.toArray) }
  }

  /** The partition groups `filters` admit. Spark drops partition
    * filters from the plan above a file scan, so an index must apply
    * them itself.
    */
  def prune[T](parts: Seq[(InternalRow, T)], filters: Seq[Expression],
               partitionSchema: StructType,
               resolver: (String, String) => Boolean): Seq[(InternalRow, T)] =
    if (filters.isEmpty || partitionSchema.isEmpty) parts
    else {
      val bound = PartitionPaths.bind(filters, partitionSchema, resolver)
      parts.filter { case (row, _) => bound.eval(row) }
    }
}

/** A [[FileIndex]] over a fixed set of a table's log entries: the
  * engine's own scans of known files (rewrites, the change feed, the
  * merge-on-read legs, bloom builds, streaming batches) read through
  * it. Statuses come from the logged size and mtime, as in
  * [[GraftFileIndex]], so building the scan lists nothing and infers
  * nothing; an entry whose size is unknown (a legacy log, a file named
  * outside the snapshot, a change file) costs one `getFileStatus`.
  * Entry paths resolve against `base` — the data root, or the table
  * root for change files — and foreign (cloned) entries share the
  * index with local ones. `rootPaths` is `base` whatever the entries,
  * and equality is by the set of absolute file paths, so two scans of
  * the same files match in the plan cache.
  */
private[lake] final class PinnedFileIndex(spark: SparkSession, table: String, base: Path,
                                          entries: Seq[LakeTable.FileEntry],
                                          override val partitionSchema: StructType)
    extends FileIndex {

  private val root = LakeTable.fs(spark, table).makeQualified(base)

  private lazy val parts: Seq[(InternalRow, Array[(FileStatus, LakeTable.FileEntry)])] =
    GraftFileIndex.byPartition(entries.map { e =>
      val st =
        if (e.size >= 0) GraftFileIndex.logStatus(root, e)
        else {
          val p = LakeTable.entryPath(root, e.path)
          p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p)
        }
      (st, e)
    }, partitionSchema, spark)

  private lazy val fileSet: Set[String] =
    entries.iterator.map(e => LakeTable.entryPath(root, e.path).toString).toSet

  override def rootPaths: Seq[Path] = Seq(root)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    GraftFileIndex.prune(parts, partitionFilters, partitionSchema,
      spark.sessionState.conf.resolver)
      .map { case (row, files) => PartitionDirectory(row, files.map(_._1)) }

  override def inputFiles: Array[String] = parts.flatMap(_._2.map(_._1.getPath.toString)).toArray

  override def sizeInBytes: Long = parts.iterator.flatMap(_._2).map(_._1.getLen).sum

  override def refresh(): Unit = ()

  override def equals(o: Any): Boolean = o match {
    case p: PinnedFileIndex => fileSet == p.fileSet
    case _ => false
  }

  override def hashCode: Int = fileSet.hashCode

  override def toString: String = s"PinnedFileIndex($table, ${entries.size} files)"
}

/** Hive-style partition-path parsing and driver-side partition
  * predicates, shared by [[GraftFileIndex]] (scan-time pruning),
  * [[MetadataOnlyAgg]] (partition-filtered aggregates from the log), and
  * `LakeTable.compact` (partition-scoped maintenance).
  */
private[lake] object PartitionPaths {

  /** Parse the `col=value/` dirs of a table-relative file path into
    * the partition-schema row (same unescape + cast semantics the
    * built-in partition discovery applies; LEGACY cast mode so a
    * malformed value surfaces as null, not an ANSI throw).
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
