package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

/** Hash-bucketed table layout: the lake's co-located-join story.
  *
  * A bucketed table's rows are hash-partitioned into `numBuckets`
  * buckets on the bucket columns at WRITE time — every commit's files
  * carry their bucket id in the file name, Spark's own bucketed-file
  * convention (`..._00007.c000.snappy.parquet`). At READ time the
  * relation hands Spark a real [[BucketSpec]], so
  * `FileSourceScanExec` reports `HashPartitioning(bucketCols,
  * numBuckets)` as its output partitioning and:
  *
  *  - a join of two tables bucketed the same way on the bucket key
  *    runs with ZERO shuffle on either side — at 100 TB this is the
  *    difference between a nightly fact-to-fact join re-shuffling
  *    both tables and one that streams bucket-aligned splits;
  *  - an aggregation keyed on the bucket columns skips its exchange;
  *  - an equality/IN filter on the bucket column prunes to the
  *    matching bucket's files before any I/O (bucket pruning), the
  *    unclustered-point-lookup complement to min/max + bloom skipping.
  *
  * The spec rides in the table schema's FIELD METADATA (like the
  * bloom-filter opt-in, [[BloomIndex.MetaKey]]): every commit already
  * carries the schema in full, checkpoints preserve it, and appends
  * merge schemas field-wise keeping existing metadata — so the spec
  * needs no log-format change and survives the table's lifetime.
  * Bucketing is declared at (re)creation time
  * ([[LakeTable.overwriteBucketed]]) and every subsequent write path
  * funnels through [[LakeTable]]'s `stageFiles`, which re-applies the
  * bucket partitioning — appends, CoW rewrites (UPDATE / DELETE /
  * MERGE) and plain compaction all preserve the invariant "every live
  * data file is a bucket file". Merge-on-read deletion vectors never
  * move rows, so they preserve it trivially (a vectored scan claims
  * the partitioning like any other).
  *
  * Hash compatibility: rows are routed with
  * `df.repartition(numBuckets, bucketCols)` — catalyst
  * `HashPartitioning`, whose partition-id expression is
  * `pmod(murmur3_hash(cols), numBuckets)`: byte-identical to the
  * function `FileSourceScanExec` assumes for bucketed files, which is
  * what makes the claimed output partitioning TRUE of the data.
  *
  * ref: the reference's Iceberg tables expose `bucket(N, col)`
  * partition transforms for the same co-location purpose
  * (trino_iceberg_transform_component.py:33 creates Iceberg tables;
  * Iceberg's bucket transform is the Trino-side analog).
  *
  * The conscious write-side trade: routing with `repartition(n, ...)`
  * caps each commit's write parallelism at `numBuckets` and yields ONE
  * file per bucket per commit (the "optimized write" shape — stock
  * Spark's shuffle-free bucketed write instead emits tasks×buckets
  * small files). So pick `numBuckets` at least as large as the write
  * parallelism a single load needs — on a 1000-executor daily load
  * that means thousands of buckets, which is also what keeps each
  * bucket file near the parquet sweet spot at 100 TB.
  */
object Bucketing {

  /** Field-metadata keys. `NumKey` marks a bucket column (value =
    * bucket count, identical on every bucket column); `PosKey` orders
    * multi-column bucket keys; `SortPosKey` marks/orders the
    * within-bucket sort columns.
    */
  val NumKey = "graft.bucketing.numBuckets"
  val PosKey = "graft.bucketing.bucketPos"
  val SortPosKey = "graft.bucketing.sortPos"

  final case class Spec(numBuckets: Int, bucketCols: Seq[String], sortCols: Seq[String])

  /** The table's bucket spec, if its schema metadata declares one.
    * Names are LOGICAL (the schema's own) — callers writing files map
    * them through the commit's column mapping.
    */
  def spec(schema: StructType): Option[Spec] = {
    val bs = schema.fields.filter(_.metadata.contains(NumKey))
    if (bs.isEmpty) None
    else {
      val n = bs.head.metadata.getLong(NumKey).toInt
      val cols = bs.sortBy(_.metadata.getLong(PosKey)).map(_.name).toSeq
      val sorts = schema.fields.filter(_.metadata.contains(SortPosKey))
        .sortBy(_.metadata.getLong(SortPosKey)).map(_.name).toSeq
      Some(Spec(n, cols, sorts))
    }
  }

  def toBucketSpec(s: Spec): BucketSpec =
    BucketSpec(s.numBuckets, s.bucketCols, s.sortCols)

  /** Stamp the spec into `schema`'s field metadata (replacing any
    * previous bucketing stamps).
    */
  def stamp(schema: StructType, numBuckets: Int,
            bucketCols: Seq[String], sortCols: Seq[String]): StructType = {
    require(numBuckets > 0 && numBuckets <= 100000,
      s"numBuckets must be in [1, 100000], got $numBuckets")
    require(bucketCols.nonEmpty, "bucketing needs at least one bucket column")
    require(bucketCols.distinct == bucketCols, "duplicate bucket columns")
    val missing = (bucketCols ++ sortCols).filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"bucket/sort column(s) not in schema: ${missing.mkString(", ")}")
    StructType(schema.fields.map { f =>
      val mb = new MetadataBuilder().withMetadata(f.metadata)
      mb.remove(NumKey); mb.remove(PosKey); mb.remove(SortPosKey)
      val bi = bucketCols.indexOf(f.name)
      if (bi >= 0) { mb.putLong(NumKey, numBuckets.toLong); mb.putLong(PosKey, bi.toLong) }
      val si = sortCols.indexOf(f.name)
      if (si >= 0) mb.putLong(SortPosKey, si.toLong)
      f.copy(metadata = mb.build())
    })
  }

  /** `stamp` applied to a DataFrame: a projection that re-aliases each
    * column with the stamped metadata, so the frame's schema carries
    * the spec into the commit.
    */
  def stampDf(df: DataFrame, numBuckets: Int,
              bucketCols: Seq[String], sortCols: Seq[String]): DataFrame = {
    val stamped = stamp(df.schema, numBuckets, bucketCols, sortCols)
    df.select(stamped.fields.map(f => df(f.name).as(f.name, f.metadata)).toIndexedSeq: _*)
  }

  /** Strip bucketing stamps (an unbucketed overwrite of a previously
    * bucketed table).
    */
  def strip(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      if (!f.metadata.contains(NumKey) && !f.metadata.contains(SortPosKey)) f
      else {
        val mb = new MetadataBuilder().withMetadata(f.metadata)
        mb.remove(NumKey); mb.remove(PosKey); mb.remove(SortPosKey)
        f.copy(metadata = mb.build())
      }
    })

  // ------------------------------------------------------- file naming

  private val TaskId = """part-(\d+)-.*""".r

  /** The writing task's partition id, parsed from a staged part-file
    * name. Under `repartition(numBuckets, bucketCols)` the partition
    * id IS the bucket id (HashPartitioning's partition-id expression).
    */
  def taskIdOf(baseName: String): Option[Int] = baseName match {
    case TaskId(d) => d.toIntOption
    case _ => None
  }

  /** Rename a staged part file to Spark's bucketed-file convention:
    * `_NNNNN` inserted before the first extension dot, which is
    * exactly what `BucketingUtils.getBucketId` (regex
    * `.*_(\d+)(?:\..*)?$`) parses back out at scan time.
    */
  def bucketedName(baseName: String, bucketId: Int): String = {
    val dot = baseName.indexOf('.')
    val (stem, ext) = if (dot < 0) (baseName, "") else baseName.splitAt(dot)
    f"${stem}_$bucketId%05d$ext"
  }

  /** Bucket id of a committed bucket file (Spark's own parse). */
  private val BucketId = """.*_(\d+)(?:\..*)?$""".r
  def bucketIdOf(baseName: String): Option[Int] = baseName match {
    case BucketId(d) => d.toIntOption
    case _ => None
  }
}
