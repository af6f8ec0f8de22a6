package graft.lake

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Per-file bloom filters for designated high-cardinality columns —
  * the auxiliary file-skipping index for EQUALITY probes that min/max
  * bounds cannot serve: a point lookup on an unclustered key (doc_id,
  * event_key) overlaps every file's [min,max], so bounds skip nothing,
  * while a bloom answers "this file provably lacks the key" per file.
  * Iceberg/Delta answer the same gap with per-file bloom filters; the
  * reference's tables are Iceberg on Trino (ref:
  * trino_iceberg_transform_component.py:116-123).
  *
  * Lifecycle: a column opts in via [[LakeTable.enableBloomFilter]]
  * (schema-metadata commit). Every LATER write builds blooms for its
  * staged files in one distributed pass over the page-cache-warm bytes
  * (one `BloomFilter` per file×column, sized from the file's exact row
  * count), serialized into ONE sidecar JSON per commit under
  * `_index/bloom/`, referenced from each file's log entry. A compact
  * backfills older files by rewriting them. Sidecars are ADVISORY:
  * missing, torn or unreadable blooms degrade to "no skip", never to a
  * wrong answer, so they need no protocol bump (an old reader ignores
  * the field and merely scans more) and vacuum sweeps unreferenced
  * ones like any aged artifact.
  *
  * Soundness: a bloom has false POSITIVES only — `mightContain =
  * false` proves absence, so skipping on it can never drop a matching
  * file; fpp merely bounds how often a file is read in vain.
  */
private[graft] object BloomIndex {

  /** Schema-metadata key carrying the fpp; presence = column enabled. */
  val MetaKey = "graft.bloom.fpp"

  def bloomPath(table: String) = new Path(table, "_index/bloom")

  /** Flagged (logical) columns of a schema with their fpp. */
  def flaggedColumns(schema: StructType): Seq[(String, Double)] =
    schema.fields.toSeq.collect {
      case f if f.metadata.contains(MetaKey) => f.name -> f.metadata.getDouble(MetaKey)
    }

  private def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => true
    case _ => false
  }

  /** Build blooms for `entries` (freshly staged, physical column
    * names) in one distributed pass, write the commit's sidecar, and
    * return its table-relative path. `physCols` are (physical name,
    * type, fpp): the scan reads exactly those columns by their known
    * types, through the entries' logged statuses
    * ([[LakeScan.scanEntries]]); each entry's row count sizes its
    * filters exactly. Returns None when nothing is flagged or no
    * column type is supported.
    */
  def buildSidecar(spark: SparkSession, table: String,
                   entries: Seq[LakeTable.FileEntry],
                   physCols: Seq[(String, DataType, Double)]): Option[String] = {
    val cols = physCols.filter { case (_, dt, _) => supported(dt) }
    if (cols.isEmpty || entries.isEmpty) return None
    val base = LakeTable.dataPath(table)
    val f = LakeTable.fs(spark, table)
    // scan form: _metadata.file_path is percent-encoded; sidecar keys
    // must come out in the LOG rel form or lookups would miss on
    // encodable paths (skipping silently lost, never wrong results)
    val prefix = LakeTable.scanFormPath(f.makeQualified(base)) + "/"
    val relByScan: Map[String, String] =
      entries.map(e => LakeTable.scanFormRel(e.path) -> e.path).toMap
    val names = cols.map(_._1)
    val kinds: Array[Int] = cols.map {
      case (_, StringType, _) => 1
      case _ => 0 // integral family, read as long
    }.toArray
    val fpps = cols.map(_._3).toArray
    val sizes = entries.map(e => e.path -> math.max(64L, e.rowCount)).toMap

    val readSchema = StructType(cols.map { case (n, dt, _) => StructField(n, dt) })
    val df = LakeScan.scanEntries(spark, table, readSchema, Nil, entries)
      .select(col("_metadata.file_path").as("__f") +:
        names.zipWithIndex.map { case (n, i) =>
          if (kinds(i) == 1) col(n).cast("string").as(s"__c$i")
          else col(n).cast("long").as(s"__c$i")
        }: _*)

    val nCols = names.size
    val merged = df.queryExecution.toRdd.mapPartitions { it =>
      val local = scala.collection.mutable.HashMap.empty[(String, Int), BloomFilter]
      it.foreach { row =>
        val enc = row.getUTF8String(0).toString.stripPrefix(prefix)
        val rel = relByScan.getOrElse(enc, enc)
        var i = 0
        while (i < nCols) {
          if (!row.isNullAt(i + 1)) {
            val bf = local.getOrElseUpdate((rel, i),
              BloomFilter.create(sizes.getOrElse(rel, 64L), fpps(i)))
            if (kinds(i) == 1) bf.putString(row.getUTF8String(i + 1).toString)
            else bf.putLong(row.getLong(i + 1))
          }
          i += 1
        }
      }
      local.iterator
    }.reduceByKey { (a, b) => a.mergeInPlace(b); a }.collect()

    if (merged.isEmpty) return None
    val byFile = merged.groupBy(_._1._1).map { case (rel, entries) =>
      rel -> (JObject(entries.toList.map { case ((_, i), bf) =>
        val out = new java.io.ByteArrayOutputStream()
        bf.writeTo(out)
        names(i) -> (JString(
          java.util.Base64.getEncoder.encodeToString(out.toByteArray)): JValue)
      }): JValue)
    }
    val body = JsonMethods.compact(JsonMethods.render(JObject(
      "files" -> JObject(byFile.toList))))
    val name = java.util.UUID.randomUUID().toString + ".json"
    val dir = bloomPath(table)
    f.mkdirs(dir)
    val target = new Path(dir, name)
    val out = f.create(target, false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    Some(s"_index/bloom/$name")
  }

  // ------------------------------------------------------------- probe side

  /** Driver-side cache of parsed sidecars, keyed by absolute path —
    * sidecar files are immutable, so entries never invalidate; the
    * bound just caps memory for long-lived sessions over many tables.
    */
  private val cache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Map[String, Map[String, BloomFilter]]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Map[String, Map[String, BloomFilter]]]): Boolean =
        size() > 64
    })

  /** Parsed sidecar: data-file rel path → physical column → filter.
    * None (and no retry churn: negative results cache too) on any
    * read/parse failure — advisory discipline.
    */
  def load(f: FileSystem, table: String, sidecarRel: String): Map[String, Map[String, BloomFilter]] = {
    val abs = new Path(table, sidecarRel).toString
    val hit = cache.get(abs)
    if (hit != null) return hit
    val parsed: Map[String, Map[String, BloomFilter]] =
      try {
        val in = f.open(new Path(table, sidecarRel))
        val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        (JsonMethods.parse(txt) \ "files") match {
          case JObject(files) => files.map { case (rel, cols) =>
            rel -> (cols match {
              case JObject(cs) => cs.flatMap { case (c, v) => v match {
                case JString(b64) => scala.util.Try(BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(
                    java.util.Base64.getDecoder.decode(b64)))).toOption.map(c -> _)
                case _ => None
              }}.toMap
              case _ => Map.empty[String, BloomFilter]
            })
          }.toMap
          case _ => Map.empty
        }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    cache.put(abs, parsed)
    parsed
  }

  /** The equality probes a conjunct list implies, per (physical)
    * column: `col = v`, `col IN (...)`. Values are converted to the
    * build domain (long for integrals, String for strings); a column
    * with ANY unconvertible probe contributes nothing.
    */
  def equalityProbes(filters: Seq[Expression], schema: StructType,
                     resolver: Resolver): Seq[(String, Seq[Any])] = {
    def domain(attr: String, v: Any): Option[Any] =
      schema.fields.find(fl => resolver(fl.name, attr)).flatMap(fl => (fl.dataType, v) match {
        case (_, null) => None
        case (ByteType | ShortType | IntegerType | LongType, n: Number) => Some(n.longValue())
        case (StringType, u: org.apache.spark.unsafe.types.UTF8String) => Some(u.toString)
        case _ => None
      })
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    filters.flatMap(split).flatMap {
      case EqualTo(a: AttributeReference, Literal(v, _)) =>
        domain(a.name, v).map(d => a.name -> Seq(d))
      case EqualTo(Literal(v, _), a: AttributeReference) =>
        domain(a.name, v).map(d => a.name -> Seq(d))
      case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val ds = vs.map { case Literal(v, _) => domain(a.name, v) }
        if (ds.forall(_.isDefined)) Some(a.name -> ds.map(_.get)) else None
      case InSet(a: AttributeReference, vs) if vs.nonEmpty =>
        val ds = vs.toSeq.map(domain(a.name, _))
        if (ds.forall(_.isDefined)) Some(a.name -> ds.map(_.get)) else None
      case _ => None
    }
  }

  /** true iff some probe PROVES the file matches no row: every value
    * of an equality/IN probe on a bloom-indexed column misses the
    * file's filter. A file or column without a filter is never skipped.
    */
  def skip(f: FileSystem, table: String, entry: LakeTable.FileEntry,
           probes: Seq[(String, Seq[Any])]): Boolean = {
    if (probes.isEmpty) return false
    entry.bloom.exists { sidecar =>
      val byCol = load(f, table, sidecar).getOrElse(entry.path, Map.empty)
      byCol.nonEmpty && probes.exists { case (c, vs) =>
        byCol.get(c).exists(bf => vs.forall {
          case l: Long   => !bf.mightContainLong(l)
          case s: String => !bf.mightContainString(s)
          case _         => false
        })
      }
    }
  }
}
