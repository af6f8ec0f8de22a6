package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import LakeTable._
import LakeScan.{morScan, readDataFilesLive, resolvedConjuncts}

/** The one row-level-operation core behind every DML entry point of
  * [[LakeTable]] — copy-on-write (CoW) and merge-on-read (MoR) MERGE,
  * DELETE and UPDATE — the split Spark's `SupportsRowLevelOperations`
  * makes between a group-based (CoW) and a delta-based (MoR) writer.
  * Every statement runs the same pipeline:
  *
  *  1. resolve: snapshot, validation, the schema to write under, and the
  *     statement's footprint predicate;
  *  1. drop whole files from metadata alone ([[provablyCoveredFiles]],
  *     DELETE only) and prune the candidate files driver-side
  *     ([[LakeScan.prune]]);
  *  1. one detection collect over the candidates: the files holding a
  *     claimed row, each with the bitmap of its claimed row positions
  *     (the SQL MERGE cardinality check rides it as a sentinel row);
  *  1. a materializer: CoW rewrites the affected files as kept rows plus
  *     post-images; MoR ORs each file's new bitmap into its old vector
  *     on the driver, writes them as one sidecar, and appends the
  *     post-images. Inserts append either way;
  *  1. stage the change feed (pre/post/delete images of claimed rows,
  *     plus inserts) concurrently with the data writes;
  *  1. one commit step ([[commit]]), rebasing onto concurrent commits
  *     when the statement's footprint provably excludes the winners.
  *
  * DELETE and UPDATE are one target-only clause gated by their
  * condition (the `bySource` tier with no source); the `merge(keys)`
  * upsert is MERGE with update-all and insert-all clauses.
  */
private[lake] object RowLevelOps {

  /** One row-level statement. `source` is None for DELETE/UPDATE, whose
    * single clause sits in `bySource` and applies to every target row.
    * `upsert` replaces `matched`/`inserts` with update-all + insert-all
    * images of the source (absent columns null); the CoW upsert first
    * merges new source columns into the schema (MoR refuses them). `scoped`
    * restricts detection to the source's partitions (see
    * [[LakeTable.merge]]).
    */
  final case class Statement(op: String,
                             source: Option[DataFrame] = None,
                             keys: Seq[String] = Nil,
                             matched: Seq[MatchedClause] = Nil,
                             inserts: Seq[(Option[Column], Map[String, Column])] = Nil,
                             bySource: Seq[MatchedClause] = Nil,
                             mor: Boolean = false,
                             upsert: Boolean = false,
                             scoped: Boolean = false,
                             txns: Map[String, Long] = Map.empty) {
    def insertOnly: Boolean = !upsert && matched.isEmpty && bySource.isEmpty
    /** How refusals name the statement. */
    def what: String = (if (mor) "merge-on-read " else "") +
      (if (insertOnly) "insert-only " else "") + op
  }

  /** Distinct source keys up to which a MoR merge pushes a per-column
    * key-IN predicate for file pruning (and as its rebase footprint).
    */
  val MaxPushedKeys = 10000

  private val dupMark = "\u0000__dup_key__" // impossible in a file URI

  def run(spark: SparkSession, table: String, st0: Statement): Long = {
    val snap = latestSnapshot(spark, table)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $table"))
    // application watermark(s) already at or past these versions: a
    // previous (possibly crashed-and-replayed) run committed the work.
    // With several watermarks ALL must be current.
    if (st0.txns.nonEmpty &&
        st0.txns.forall { case (appId, v) => snap.txns.get(appId).exists(_ >= v) })
      return snap.version
    require(st0.upsert || st0.matched.nonEmpty || st0.inserts.nonEmpty || st0.bySource.nonEmpty,
      s"${st0.op} needs at least one matched, insert or not-matched-by-source clause")
    require(st0.source.isEmpty == st0.keys.isEmpty && st0.keys.forall(snap.schema.fieldNames.contains),
      s"merge keys must be target columns: ${st0.keys.mkString(", ")}")
    // The source is scanned several times — cardinality check,
    // detection, rewrite join, insert anti-join, change feed. Persist
    // it once so every scan reads the same materialization: a
    // non-deterministic source could otherwise yield different rewrite
    // and change-feed images (why Delta stages its MERGE source). A
    // source the caller already holds cached is read from that cache.
    val source = st0.source.map(ColumnMapping.sanitize)
    val ownCache = source.filter(persistShared)
    try {
      source.foreach { s =>
        val missing = st0.keys.filterNot(s.columns.contains)
        require(missing.isEmpty, s"source is missing merge key column(s): ${missing.mkString(", ")}")
      }
      val schema = source.filter(_ => st0.upsert && !st0.mor)
        .fold(snap.schema)(s => mergeSchemas(snap.schema, mappedIncoming(Some(snap), s.schema)._1))
      val st = source.filter(_ => st0.upsert).fold(st0) { s =>
        val newCols = s.columns.filterNot(schema.fieldNames.contains)
        require(newCols.isEmpty, s"${st0.what} on $table cannot add column(s) " +
          s"${newCols.mkString(", ")} — schema evolution is copy-on-write; use merge()")
        val all = schema.fieldNames.map(n =>
          n -> (if (s.columns.contains(n)) col(s"s.$n") else lit(null))).toMap
        st0.copy(matched = Seq(MatchedUpdate(None, all)), inserts = Seq((None, all)))
      }.copy(source = source)
      val unknown = ((st.matched ++ st.bySource).collect { case MatchedUpdate(_, set) => set.keys }
        .flatten ++ st.inserts.flatMap(_._2.keys)).filterNot(schema.fieldNames.contains).distinct
      require(unknown.isEmpty, s"${st.op} on $table assigns unknown column(s): " +
        s"${unknown.mkString(", ")} — only the merge(keys) upsert evolves the schema")
      execute(spark, table, snap, schema, st)
    } finally ownCache.foreach(_.unpersist(blocking = false))
  }

  private def execute(spark: SparkSession, table: String, snap: Snapshot,
                      schema: StructType, st: Statement): Long = {
    val ordered = schema.fields.toSeq
    val dupMsg = s"MERGE source has duplicate values of key (${st.keys.mkString(", ")}) — " +
      "each target row may match at most one source row"
    def dupProbe(s: DataFrame): DataFrame = s.groupBy(st.keys.map(col): _*)
      .agg(count(lit(1)).as("__cnt")).filter(col("__cnt") > 1)
      .limit(1).select(lit(dupMark).as(FilePathCol), lit(0L).as(RowPosCol))

    // ---- resolve: the prune predicate and the footprint a rebase must
    // prove the winners miss. DELETE/UPDATE: the condition; scoped
    // merges: the source's partition tuples; bounded-key MoR merges:
    // per-column key IN (a conjunctive superset — sound for skipping).
    // A MoR merge's one key collect doubles as the cardinality check.
    val rawPred = st.bySource.map(_.condition.getOrElse(lit(true))).reduceOption(_ || _)
    val keyStats = st.source.filter(_ => st.mor && st.bySource.isEmpty).map(s =>
      s.groupBy(st.keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
        .limit(MaxPushedKeys + 1).collect())
    val dupChecked = keyStats.exists(_.length <= MaxPushedKeys)
    keyStats.filter(_ => dupChecked).foreach(rows =>
      require(!rows.exists(_.getLong(st.keys.length) > 1L), dupMsg))
    val prune: Option[Column] = st.source match {
      case None => rawPred
      case Some(_) if st.bySource.nonEmpty => None
      case Some(s) if st.scoped && snap.partitionColumns.nonEmpty =>
        Some(partitionTuplePredicate(s, snap.partitionColumns))
      case Some(_) => keyStats.filter(_ => dupChecked).map(rows =>
        st.keys.zipWithIndex.map { case (k, i) =>
          col(k).isInCollection(rows.map(_.get(i)).distinct.toSeq)
        }.reduce(_ && _))
    }
    val conds = prune.map(resolvedConjuncts(spark, snap.schema, _)).getOrElse(Nil)
    val footprint = if (st.insertOnly || st.bySource.nonEmpty && st.source.isDefined) None
      else prune.map(_ => conds)

    // ---- metadata pass (DELETE): files every live row of which provably
    // matches leave by log edit, never read; their delete rows ride
    // `removedFull` for lazy change-feed synthesis
    val dropped =
      if (st.source.isEmpty && st.bySource.forall(_.isInstanceOf[MatchedDelete]))
        provablyCoveredFiles(spark, snap, conds)
      else Nil
    val droppedSet = dropped.toSet
    val cands = LakeScan.prune(spark, table,
      snap.copy(files = snap.files.filterNot(e => droppedSet(e.path))), conds)

    // ---- detection: the claimed rows, plus (when inserting) every
    // key-matched row — the insert anti-join's existing keys. Persisted
    // when several consumers read it (MoR: vectors, post-images, feed);
    // bounded by matched rows, not table size.
    val (det0, marks) = evaluate(st, morScan(spark, table, snap, cands, keepPos = true)
      .alias("t"), outer = st.bySource.nonEmpty)
    val claimed = any(marks.map(_._1))
    val keyMatched = st.source.fold(lit(false))(_ => col("__s_matched").isNotNull)
    // CoW with matched clauses rewrites every file holding a key match
    // (file granularity); MoR vectors exactly the claimed rows
    val touched = if (st.mor || st.matched.isEmpty) claimed else claimed || keyMatched
    val det = det0.filter(rawPred.filter(_ => st.source.isEmpty)
      .getOrElse(if (st.inserts.nonEmpty) claimed || keyMatched else touched))
    val ownDet = (st.mor || st.inserts.nonEmpty) && persistShared(det)
    try {
      // the claimed files, each with the bitmap of its claimed positions
      // (MoR's new vector)
      val hits = det.filter(touched).select(col(FilePathCol), col(RowPosCol))
      val detected = DeletionVectors.positionsByFile(
        st.source.filter(_ => !dupChecked).fold(hits)(s => hits.unionByName(dupProbe(s))))
      require(!detected.contains(dupMark), dupMsg)
      val prefix = scanDataPrefix(spark, table)
      def scanAbsOf(e: FileEntry): String =
        if (isForeignEntry(e.path)) scanFormAbs(e.path) else prefix + scanFormRel(e.path)
      val affected = cands.filter(e => detected.contains(scanAbsOf(e)))
      val unmapped = detected.keySet -- affected.map(scanAbsOf)
      require(unmapped.isEmpty, s"${st.op} matched file ${unmapped.headOption.getOrElse("")} " +
        "that is neither under the table data root nor a cloned reference of this snapshot — " +
        "refusing to commit (the file could not be marked for rewrite)")
      if (affected.isEmpty && dropped.isEmpty && st.inserts.isEmpty && st.txns.isEmpty)
        return snap.version

      // ---- materialize
      val inserted = st.source.filter(_ => st.inserts.nonEmpty).map { s =>
        val existing = det.select(st.keys.map(k => col(s"t.$k").as(k)): _*)
        insertProjectionOf(s.alias("s").join(existing, st.keys, "left_anti"), st.inserts, ordered)
      }
      // CoW: the affected files' rows through the same clause evaluation,
      // unclaimed rows kept as they are. MoR: the detection rows.
      val (evaluated, evMarks) =
        if (st.mor || affected.isEmpty) (det, marks)
        else evaluate(st, readDataFilesLive(spark, table, snap, affected.map(_.path))
          .alias("t"), outer = true)
      val body: Seq[DataFrame] =
        if (affected.isEmpty) Nil
        else if (!st.mor)
          Seq(evaluated.filter(!any(evMarks.collect { case (a, _: MatchedDelete) => a }))
            .select(projected(snap, ordered, evMarks): _*))
        else if (marks.exists(_._2.isInstanceOf[MatchedUpdate]))
          Seq(det.filter(any(marks.collect { case (a, _: MatchedUpdate) => a }))
            .select(projected(snap, ordered, marks): _*))
        else Nil
      val toWrite = (body ++ inserted).reduceOption(_ unionByName _)
      // ---- stage: data and change feed are independent writes —
      // overlapped. Nothing removed ⇒ the commit is append-shaped and
      // the feed synthesizes the identical inserts from its added files:
      // no change-feed write.
      val (newFiles, cdc) = stageConcurrently(
        toWrite.fold(Seq.empty[FileEntry])(stageFiles(spark, table, _, snap.partitionColumns,
          ColumnMapping.mapping(schema), checks = snap.constraints)))(
        if (affected.isEmpty) (if (dropped.isEmpty) None else Some(Nil))
        else Some(stageChangeFiles(spark, table,
          (changes(snap, ordered, evaluated, evMarks) ++
            inserted.map(_.withColumn(ChangeTypeCol, lit("insert")))).reduce(_ unionByName _))))
      // MoR: each affected file's vector is its detected bitmap ORed
      // with its old one; a file left with no live row leaves the
      // snapshot outright, the rest share one new sidecar
      val vectors = if (!st.mor) Nil else {
        val old = DeletionVectors.readAll(fs(spark, table), new Path(table), affected)
        affected.map { e =>
          val bm = detected(scanAbsOf(e))
          old.get(e.path).foreach(b => bm.or(DeletionVectors.deserialize(b)))
          (e, bm)
        }.filter { case (e, bm) => e.rowCount < 0 || bm.getLongCardinality < e.rowCount }
      }
      val vectored = if (vectors.isEmpty) Nil else {
        val (sidecar, at) = DeletionVectors.writeSidecar(spark, table,
          vectors.map(v => DeletionVectors.serialize(v._2)))
        vectors.zip(at).map { case ((e, bm), (offset, size)) =>
          e.copy(dv = Some(DeleteVector(sidecar, offset, size, bm.getLongCardinality)))
        }
      }
      val removed = affected.map(_.path) ++ dropped
      if (removed.isEmpty && newFiles.isEmpty && st.txns.isEmpty) return snap.version
      commit(spark, table, snap, st, schema, vectored ++ newFiles, removed,
        dropped, cdc, footprint)
    } finally if (ownDet) det.unpersist(blocking = false)
  }

  /** `t` (aliased "t") joined to the source and marked by the clauses in
    * SQL MERGE order: matched rows by `matched`, target rows without a
    * source match by `bySource` (every row for DELETE/UPDATE). An inner
    * join unless `outer`.
    */
  private def evaluate(st: Statement, t: DataFrame,
                       outer: Boolean): (DataFrame, Seq[(Column, MatchedClause)]) =
    st.source match {
      case None => (t, appliedMarks(lit(true), st.bySource))
      case Some(s) =>
        val keyCond = st.keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
        val m = col("__s_matched").isNotNull
        (t.join(s.withColumn("__s_matched", lit(true)).alias("s"), keyCond,
          if (outer) "left_outer" else "inner"),
          appliedMarks(m, st.matched) ++ appliedMarks(!m, st.bySource))
    }

  private def any(cs: Seq[Column]): Column = cs.reduceOption(_ || _).getOrElse(lit(false))

  /** A target column as the statement writes it: the target value, or
    * null for a column the upsert's schema evolution adds.
    */
  private def targetCol(snap: Snapshot, fld: StructField): Column =
    (if (snap.schema.fieldNames.contains(fld.name)) col(s"t.${fld.name}")
     else lit(null).cast(fld.dataType)).as(fld.name)

  /** Post-image projection: the first applying update clause's value,
    * else the target value (SQL: unassigned columns keep their value).
    */
  private def projected(snap: Snapshot, ordered: Seq[StructField],
                        marks: Seq[(Column, MatchedClause)]): Seq[Column] = ordered.map { fld =>
    marks.collect { case (a, MatchedUpdate(_, set)) if set.contains(fld.name) =>
      (a, set(fld.name).cast(fld.dataType))
    }.foldRight(targetCol(snap, fld)) { case ((a, v), acc) => when(a, v).otherwise(acc) }
      .as(fld.name)
  }

  /** Change rows of claimed target rows: pre/post images of updates,
    * deletes of deletions — one frame per change kind the clauses can
    * produce.
    */
  private def changes(snap: Snapshot, ordered: Seq[StructField], df: DataFrame,
                      marks: Seq[(Column, MatchedClause)]): Seq[DataFrame] = {
    val pre = ordered.map(targetCol(snap, _))
    val upd = marks.collect { case (a, _: MatchedUpdate) => a }
    val del = marks.collect { case (a, _: MatchedDelete) => a }
    val updated = df.filter(any(upd))
    (if (upd.isEmpty) Nil else Seq(
      updated.select(pre: _*).withColumn(ChangeTypeCol, lit("update_preimage")),
      updated.select(projected(snap, ordered, marks): _*)
        .withColumn(ChangeTypeCol, lit("update_postimage")))) ++
      (if (del.isEmpty) Nil
       else Seq(df.filter(any(del)).select(pre: _*).withColumn(ChangeTypeCol, lit("delete"))))
  }

  /** Ordered first-true-wins application marks: applied_i = gate ∧
    * ¬c₁ ∧ … ∧ ¬c_{i-1} ∧ c_i (NULL conditions do not apply).
    */
  private def appliedMarks(gate: Column, clauses: Seq[MatchedClause]): Seq[(Column, MatchedClause)] = {
    var notPrev: Column = lit(true)
    clauses.map { cl =>
      val c = cl.condition.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
      val a = gate && notPrev && c
      notPrev = notPrev && !c
      (a, cl)
    }
  }

  /** Insert projection for anti-joined source rows under ordered insert
    * clauses; rows claimed by no clause are dropped.
    */
  private def insertProjectionOf(anti: DataFrame,
                                 notMatchedInsert: Seq[(Option[Column], Map[String, Column])],
                                 ordered: Seq[StructField]): DataFrame = {
    var notPrev: Column = lit(true)
    val marks = notMatchedInsert.map { case (cond, image) =>
      val c = cond.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
      val a = notPrev && c
      notPrev = notPrev && !c
      (a, image)
    }
    anti.filter(any(marks.map(_._1)))
      .select(ordered.map { fld =>
        marks.collect { case (a, image) if image.contains(fld.name) =>
          (a, image(fld.name).cast(fld.dataType))
        }.foldRight(lit(null).cast(fld.dataType): Column) { case ((a, v), acc) =>
          when(a, v).otherwise(acc)
        }.as(fld.name)
      }: _*)
  }

  /** Partition-tuple predicate of `source`'s distinct partition values
    * — bounded by partitions touched, not rows.
    */
  private def partitionTuplePredicate(source: DataFrame, pcols: Seq[String]): Column = {
    val tuples = source.select(pcols.map(col): _*).distinct().collect()
    if (tuples.isEmpty) lit(false)
    else tuples.map { r =>
      pcols.zipWithIndex.map { case (c, i) =>
        if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
      }.reduce(_ && _)
    }.reduce(_ || _)
  }

  /** The one commit step of every DML statement: replace `removed` with
    * `adds` on top of the base snapshot, through [[LakeTable.commitLoop]]
    * (first attempt on `base`, no head re-read). On a lost race it rebases onto
    * the new head only when (a) schema, partition layout and CHECK
    * constraints are unchanged, (b) every file this statement removed
    * or vectored is unchanged in the head (FileEntry equality — a
    * racing vector on one of them disqualifies: kept rows and change
    * images were computed under the old state), and (c) every file the
    * winners added is provably outside the statement's `footprint`
    * predicate, by the pruning a detection scan uses (partition values,
    * transform bounds, logged min/max, bloom) — Delta's
    * AddFile-vs-predicate conflict rule. No footprint refuses any race.
    */
  private def commit(spark: SparkSession, table: String, base: Snapshot, st: Statement,
                     schema: StructType, adds: Seq[FileEntry], removed: Seq[String],
                     removedFull: Seq[String], cdc: Option[Seq[String]],
                     footprint: Option[Seq[Expression]]): Long = {
    dmlBeforeCommitHook()
    val removedSet = removed.toSet
    val protocol = Protocol(if (removedFull.nonEmpty) 4 else if (st.mor) 3 else 1,
      if (st.mor) 3 else 1)
    var cur = base
    commitLoop(spark, table, st.op, held = Some(Some(base))) { head =>
      val newest = head.getOrElse(
        throw new IllegalStateException(s"log of $table disappeared mid-commit"))
      if (newest.version != cur.version) {
        def refuse(why: String): Nothing = throw new ConcurrentCommitException(
          s"${st.what} on $table lost the commit race to v${newest.version}, and the " +
            s"winning commit overlaps what this ${st.op.toLowerCase} read or cannot be " +
            s"proven not to: $why — cannot rebase safely, re-run")
        val conds = footprint.getOrElse(refuse("its footprint has no predicate to " +
          "prove the winner disjoint (insert-only, NOT MATCHED BY SOURCE or unbounded keys)"))
        if (newest.schema != cur.schema || newest.partitionColumns != cur.partitionColumns)
          refuse("the winner changed the schema or partition layout")
        if (newest.constraints != cur.constraints)
          refuse("the winner changed the CHECK constraints")
        if (st.txns.exists { case (appId, v) => newest.txns.get(appId).exists(_ >= v) })
          refuse("the winner already committed this transaction")
        val curByPath = cur.files.iterator.map(e => e.path -> e).toMap
        val newestByPath = newest.files.iterator.map(e => e.path -> e).toMap
        removed.find(p => !newestByPath.get(p).contains(curByPath(p))).foreach(p =>
          refuse(s"the winner rewrote, vectored or removed $p, a file this " +
            s"${st.op.toLowerCase} read"))
        val winnersAdds = newest.files.filterNot(e => curByPath.get(e.path).contains(e))
        if (conds.isEmpty && winnersAdds.nonEmpty)
          refuse("the predicate did not resolve for a disjointness proof")
        val mightMatch = LakeScan.prune(spark, table, newest.copy(files = winnersAdds), conds)
        if (mightMatch.nonEmpty)
          refuse(s"the winner added file(s) the predicate cannot be proven to miss " +
            s"(e.g. ${mightMatch.head.path})")
        cur = newest
      }
      CommitSpec(schema, cur.partitionColumns,
        cur.files.filterNot(e => removedSet(e.path)) ++ adds, adds, removed, reset = false,
        txnUpdate = st.txns, protocol = protocol, cdc = cdc, removedFull = removedFull)
    }
  }

  /** The metadata pass behind retention deletes: files of `snap` whose
    * every row PROVABLY satisfies the conjuncts
    * ([[DataSkipping.proveAllRows]]) given the logged footer stats,
    * the file's hive partition values (constant per file — partition
    * columns are never renamed, so logical == physical), and the
    * source intervals generated-transform partition values imply
    * ([[GeneratedColumns.sourceBounds]]). `conds`'s AND must equal the
    * caller's predicate exactly (resolvedConjuncts guarantees it when
    * non-empty; empty proves nothing).
    */
  private def provablyCoveredFiles(spark: SparkSession, snap: Snapshot,
                                   conds: Seq[Expression]): Seq[String] = {
    if (conds.isEmpty) return Nil
    val resolver = spark.sessionState.conf.resolver
    val pSchema = GraftDataSource.asNullable(
      StructType(snap.partitionColumns.map(snap.schema(_))))
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    val nameMap = ColumnMapping.mapping(snap.schema)
    val physSchema = ColumnMapping.physicalSchema(snap.schema)
    val physConds =
      if (ColumnMapping.needsTranslation(snap.schema))
        conds.map(ColumnMapping.physicalizeExpr(_, nameMap))
      else conds
    val gens = GeneratedColumns.specs(snap.schema)
      .filter(s => snap.partitionColumns.contains(s.target))
    snap.files.filter { e =>
      val row = PartitionPaths.valuesOf(e.path, pSchema, tz)
      val known = scala.collection.mutable.Map.empty[String, DataSkipping.KnownBounds]
      pSchema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!row.isNullAt(i))
          known(f.name) =
            DataSkipping.KnownBounds(f.dataType, row.get(i, f.dataType), row.get(i, f.dataType))
      }
      gens.foreach { sp =>
        val i = pSchema.fieldIndex(sp.target)
        if (!row.isNullAt(i)) {
          snap.schema.find(_.name == sp.source).foreach { sf =>
            GeneratedColumns.sourceBounds(sp.transform, sf.dataType,
                row.get(i, pSchema(sp.target).dataType)).foreach { case (lo, hi) =>
              known(nameMap.getOrElse(sp.source, sp.source)) =
                DataSkipping.KnownBounds(sf.dataType, lo, hi)
            }
          }
        }
      }
      DataSkipping.proveAllRows(physConds, physSchema, resolver, e, known.toMap)
    }.map(_.path)
  }
}
