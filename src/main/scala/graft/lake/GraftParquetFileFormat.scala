package graft.lake

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** [[ParquetFileFormat]] for the graft tables the stock format cannot
  * read, in two independent ways (DeltaParquetFileFormat's two jobs —
  * public technique):
  *
  *  - column mapping (`logicalToPhysical` non-empty): the schemas
  *    handed to the parquet reader (and the pushed-down filters) are
  *    rewritten from LOGICAL to PHYSICAL column names, so the reader
  *    requests the names the files actually contain. The returned rows
  *    are POSITIONAL with respect to the required schema — Spark's scan
  *    consumes them by ordinal, never by name — so the enclosing plan
  *    keeps its logical attributes untouched;
  *  - deletion vectors (`deletes`): the reader also requests the
  *    parquet row index (`_tmp_metadata_row_index`, correct under
  *    splits and row-group skipping), drops every row whose index is in
  *    its file's bitmap ([[DeletionVectors]]; the listing carries the
  *    bitmap on each file) and projects the index away
  *    unless the query asked for `_metadata.row_index` itself. Such a
  *    relation returns rows, not columnar batches.
  *
  * Tables needing neither never get this class (see
  * [[GraftDataSource.createRelation]], [[LakeScan.scanEntries]]); they
  * keep the stock [[ParquetFileFormat]] and its plan-cache equality.
  */
private[lake] class GraftParquetFileFormat(val logicalToPhysical: Map[String, String],
                                           val deletes: Boolean = false)
    extends ParquetFileFormat {

  override def supportBatch(sparkSession: SparkSession, schema: StructType): Boolean =
    !deletes && super.supportBatch(sparkSession, schema)

  private def physicalize(schema: StructType): StructType =
    StructType(schema.fields.map(f =>
      f.copy(name = logicalToPhysical.getOrElse(f.name, f.name))))

  /** Rewrite a pushed filter's attribute names logical → physical;
    * None when the filter shape is unknown (dropping a pushdown is
    * sound — Spark re-evaluates every data filter above the scan).
    */
  private def physicalizeFilter(f: sources.Filter): Option[sources.Filter] = {
    def nm(a: String): String = logicalToPhysical.getOrElse(a, a)
    f match {
      case sources.EqualTo(a, v) => Some(sources.EqualTo(nm(a), v))
      case sources.EqualNullSafe(a, v) => Some(sources.EqualNullSafe(nm(a), v))
      case sources.GreaterThan(a, v) => Some(sources.GreaterThan(nm(a), v))
      case sources.GreaterThanOrEqual(a, v) => Some(sources.GreaterThanOrEqual(nm(a), v))
      case sources.LessThan(a, v) => Some(sources.LessThan(nm(a), v))
      case sources.LessThanOrEqual(a, v) => Some(sources.LessThanOrEqual(nm(a), v))
      case sources.In(a, vs) => Some(sources.In(nm(a), vs))
      case sources.IsNull(a) => Some(sources.IsNull(nm(a)))
      case sources.IsNotNull(a) => Some(sources.IsNotNull(nm(a)))
      case sources.StringStartsWith(a, v) => Some(sources.StringStartsWith(nm(a), v))
      case sources.StringEndsWith(a, v) => Some(sources.StringEndsWith(nm(a), v))
      case sources.StringContains(a, v) => Some(sources.StringContains(nm(a), v))
      case sources.Not(c) => physicalizeFilter(c).map(sources.Not)
      case sources.And(l, r) =>
        for (pl <- physicalizeFilter(l); pr <- physicalizeFilter(r))
          yield sources.And(pl, pr)
      case sources.Or(l, r) =>
        for (pl <- physicalizeFilter(l); pr <- physicalizeFilter(r))
          yield sources.Or(pl, pr)
      case t: sources.AlwaysTrue => Some(t)
      case fa: sources.AlwaysFalse => Some(fa)
      case _ => None
    }
  }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[sources.Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    val rowIndex = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
    val asked = requiredSchema.fieldNames.indexOf(rowIndex)
    val readSchema =
      if (!deletes || asked >= 0) requiredSchema
      else requiredSchema.add(StructField(rowIndex, LongType))
    val read = super.buildReaderWithPartitionValues(
      sparkSession,
      physicalize(dataSchema),
      // partition columns are never renameable (their names are baked
      // into the hive directory layout), so the partition schema is
      // identity-mapped by invariant — passed through untouched
      partitionSchema,
      physicalize(readSchema),
      filters.flatMap(physicalizeFilter),
      options,
      hadoopConf)
    if (!deletes) return read
    // rows come back as readSchema ++ partitionSchema
    val at = if (asked >= 0) asked else requiredSchema.length
    val kept = (requiredSchema.fields ++ partitionSchema.fields).toSeq.zipWithIndex.map {
      case (f, i) => BoundReference(if (i < at) i else i + 1, f.dataType, f.nullable)
    }
    file => {
      val rows = DeletionVectors.bitmapOf(file).fold(read(file)) { bm =>
        read(file).filterNot(r => bm.contains(r.getLong(at).toInt))
      }
      if (asked >= 0) rows else rows.map(UnsafeProjection.create(kept))
    }
  }

  // ParquetFileFormat compares equal by CLASS; two graft formats with
  // different name maps or vector handling (or a graft and a plain
  // one) must not — plan/relation caches key on this
  override def equals(other: Any): Boolean = other match {
    case g: GraftParquetFileFormat =>
      g.logicalToPhysical == logicalToPhysical && g.deletes == deletes
    case _ => false
  }
  override def hashCode(): Int = (logicalToPhysical, deletes).hashCode()
  override def toString: String = "GraftParquet"
}
