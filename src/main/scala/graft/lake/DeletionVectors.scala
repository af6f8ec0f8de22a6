package graft.lake

import java.nio.ByteBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.roaringbitmap.RoaringBitmap

import LakeTable.FileEntry

/** The deletion-vector codec: one portable-format Roaring bitmap of
  * deleted row positions per data file (Delta's deletion-vector
  * protocol, without its inline and UUID-path variants). One commit
  * writes one sidecar, `_deletes/<uuid>.bin`, holding the bitmaps of
  * every file it vectored back to back; each file's [[LakeTable.DeleteVector]]
  * names the sidecar and the bitmap's offset and size within it, so a
  * scan loads exactly its files' bytes, one positioned read each — no
  * Spark job, no listing.
  *
  * Positions are the parquet reader's physical row index
  * (`_metadata.row_index`), unsigned 32-bit in the bitmap: a file of
  * more than 2^32 rows cannot carry a vector and fails loudly.
  */
private[lake] object DeletionVectors {

  /** The key of a file's serialized bitmap in its listed metadata,
    * which Spark copies into `PartitionedFile.otherConstantMetadataColumnValues`.
    */
  val MetadataKey = "graft_dv"

  /** The bitmap a listed file carries, if it has a vector. */
  def bitmapOf(file: PartitionedFile): Option[RoaringBitmap] =
    Option(file.otherConstantMetadataColumnValues).flatMap(_.get(MetadataKey))
      .map(b => deserialize(b.asInstanceOf[Array[Byte]]))

  /** The serialized bitmaps of the vectors of `entries` (of the table at
    * `table`), by entry path; entries without a vector are skipped. One
    * open per sidecar, one positioned read per bitmap.
    */
  def readAll(f: FileSystem, table: Path, entries: Seq[FileEntry]): Map[String, Array[Byte]] =
    entries.filter(_.dv.isDefined).groupBy(_.dv.get.path).flatMap { case (sidecar, es) =>
      val in = f.open(new Path(table, sidecar))
      try es.map { e =>
        val d = e.dv.get
        val buf = new Array[Byte](Math.toIntExact(d.size))
        in.readFully(d.offset, buf)
        e.path -> buf
      } finally in.close()
    }

  def serialize(bm: RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val buf = ByteBuffer.allocate(bm.serializedSizeInBytes())
    bm.serialize(buf)
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): RoaringBitmap = {
    val bm = new RoaringBitmap
    bm.deserialize(ByteBuffer.wrap(bytes))
    bm
  }

  /** Write `bitmaps` (serialized) as one new sidecar of `table`;
    * returns its table-relative path and each bitmap's (offset, size).
    * Unreferenced until a commit names it — a lost race leaves an
    * orphan that `vacuum` sweeps past its grace window.
    */
  def writeSidecar(spark: SparkSession, table: String,
                   bitmaps: Seq[Array[Byte]]): (String, Seq[(Long, Long)]) =
    LakeTable.meteredCommit { LakeTable.meteredFileOps {
      val rel = s"_deletes/${java.util.UUID.randomUUID()}.bin"
      val out = LakeTable.fs(spark, table).create(new Path(table, rel), false)
      try bitmaps.foreach(out.write) finally out.close()
      val sizes = bitmaps.map(_.length.toLong)
      (rel, sizes.scanLeft(0L)(_ + _).zip(sizes))
    }}

  /** Each file's bitmap of the positions in `hits` (columns: file path,
    * row position), in one Spark job with no shuffle: every partition
    * folds its rows into per-file bitmaps and the driver ORs them, so
    * positions never reach the driver as rows.
    */
  def positionsByFile(hits: DataFrame): Map[String, RoaringBitmap] =
    hits.queryExecution.toRdd.mapPartitions { rows =>
      val byFile = scala.collection.mutable.HashMap.empty[String, RoaringBitmap]
      rows.foreach { r =>
        val pos = r.getLong(1)
        if ((pos >>> 32) != 0L)
          throw new IllegalStateException(s"row position $pos does not fit a deletion vector")
        byFile.getOrElseUpdate(r.getUTF8String(0).toString, new RoaringBitmap).add(pos.toInt)
      }
      Iterator.single(byFile.toMap)
    }.collect().foldLeft(Map.empty[String, RoaringBitmap]) { (acc, part) =>
      part.foldLeft(acc) { case (m, (file, bm)) =>
        m.get(file).fold(m + (file -> bm)) { seen => seen.or(bm); m }
      }
    }
}
