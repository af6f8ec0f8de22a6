package graft.lake

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Global `count(*)` / `count(col)` / `min(col)` / `max(col)` over a
  * graft table answered from the transaction log alone: every snapshot
  * file entry carries its exact footer row count and per-column
  * min/max/null-count, so these aggregates are a fold over the log —
  * no scan, no tasks, O(1) in data size. At 100 TB the difference is a
  * sub-millisecond metadata lookup vs a full-table file-open storm
  * (even parquet's footer-only paths open every file). Delta ships the
  * same optimization (OptimizeMetadataOnlyQuery / aggregate pushdown);
  * the reference gets it from Iceberg manifests via Trino. The
  * canonical 100 TB beneficiary: `SELECT max(event_date) FROM fact` —
  * the freshness probe every orchestrator runs before each refresh.
  *
  * An aggregate whose ONLY filters reference partition columns still
  * folds over the log: partition values parse from each entry's hive
  * path, the filter evaluates driver-side per partition directory, and
  * only admitted entries contribute.
  *
  * Fires only when provably exact:
  *  - global aggregation (no GROUP BY); every aggregate one of plain
  *    `count(1)`/`count(*)`, `count(col)`, `min(col)`, `max(col)` — no
  *    DISTINCT, no FILTER clause;
  *  - over the relation through row-count-preserving steps only:
  *    attribute-only Projects, and Filters whose predicate is
  *    deterministic, subquery-free, and references only partition
  *    columns (anything else bails to the scan);
  *  - counts need every admitted entry's logged row count (and dv
  *    cardinality); `count(col)` on a data column additionally needs
  *    its null count and bails if any admitted file carries a live
  *    deletion vector (the deleted rows' nullness is unknowable from
  *    metadata);
  *  - min/max on a DATA column fires only for types whose footer
  *    bounds are exact attained values — integral, date, timestamp,
  *    boolean. Strings bail (writers may truncate binary bounds:
  *    sound for skipping, not attained), floats bail (NaN sorts above
  *    max in Spark but is excluded from parquet stats; ±0.0 collapse).
  *    The extreme must also be attained by at least one file WITHOUT a
  *    live deletion vector — a dv'd file's logged bound may belong to
  *    a deleted row;
  *  - min/max on a PARTITION column is exact for any parseable type
  *    (the path value is exact and shared by every live row of the
  *    file); entries with zero live rows don't contribute;
  *  - column-mapped tables translate the logical name before the
  *    stats lookup, exactly like the scan-time skipping path.
  *
  * The snapshot is re-resolved at rule time, consistent with the
  * live-view semantics of [[GraftFileIndex]]; `versionAsOf` relations
  * answer from their pinned version.
  */
class MetadataOnlyAgg extends Rule[LogicalPlan] {

  private sealed trait MetaAgg
  private case object CountStar extends MetaAgg
  private final case class CountCol(name: String) extends MetaAgg
  private final case class MinMax(name: String, isMin: Boolean) extends MetaAgg

  private def aggOf(e: NamedExpression): Option[MetaAgg] = {
    val ae = e match {
      case Alias(a: AggregateExpression, _) => Some(a)
      case a: AggregateExpression           => Some(a)
      case _                                => None
    }
    ae.flatMap {
      case AggregateExpression(Count(Seq(Literal(v, _))), Complete, false, None, _)
          if v != null => Some(CountStar)
      case AggregateExpression(Count(Seq(a: AttributeReference)), Complete, false, None, _) =>
        Some(CountCol(a.name))
      case AggregateExpression(Min(a: AttributeReference), Complete, false, None, _) =>
        Some(MinMax(a.name, isMin = true))
      case AggregateExpression(Max(a: AttributeReference), Complete, false, None, _) =>
        Some(MinMax(a.name, isMin = false))
      case _ => None
    }
  }

  /** The graft relation under attribute-only
    * Projects and Filters, with the filter conditions collected on the
    * way down. A Project that computes or renames anything bails: a
    * collected condition could then reference an alias this rule would
    * mis-bind.
    */
  private def graftScan(plan: LogicalPlan): Option[(GraftFileIndex, Seq[Expression])] =
    plan match {
      case LogicalRelation(rel: GraftRelation, _, _, false, _) => Some((rel.index, Nil))
      case Project(projectList, child)
          if projectList.forall(_.isInstanceOf[AttributeReference]) =>
        graftScan(child)
      case Filter(cond, child) =>
        graftScan(child).map { case (rel, cs) => (rel, cond +: cs) }
      case _ => None
    }

  /** Footer bounds are exact ATTAINED values for these types only. */
  private def exactBoundType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType | BooleanType => true
    case _ => false
  }

  private def toInternal(dt: DataType, l: Long): Any = dt match {
    case ByteType                                   => l.toByte
    case ShortType                                  => l.toShort
    case IntegerType | DateType                     => l.toInt
    case BooleanType                                => l != 0L
    case _                                          => l
  }

  /** Driver-side compare of two partition-value internals. None =
    * incomparable type (bail).
    */
  private def cmpInternal(dt: DataType, a: Any, b: Any): Option[Int] = (dt, a, b) match {
    case (ByteType | ShortType | IntegerType | LongType | DateType |
          TimestampType | TimestampNTZType, x: Number, y: Number) =>
      Some(java.lang.Long.compare(x.longValue, y.longValue))
    case (BooleanType, x: java.lang.Boolean, y: java.lang.Boolean) =>
      Some(java.lang.Boolean.compare(x, y))
    case (StringType, x: UTF8String, y: UTF8String) => Some(x.compareTo(y))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case agg @ Aggregate(Nil, aggExprs, child, _)
        if aggExprs.nonEmpty && aggExprs.forall(e => aggOf(e).isDefined) =>
      graftScan(child) match {
        case Some((index, conds)) =>
          // checked: an evolved/re-partitioned table fails as loudly
          // here as the scan this answer replaces would
          val snap = index.snapshot()
          val pSchema = index.partitionSchema
          val tz = Option(conf.sessionLocalTimeZone)
          val resolver = conf.resolver

          // admitted entries, grouped by partition dir (partition value
          // evaluates once per DIRECTORY, not per file); None = the
          // filters aren't partition-evaluable → bail to the scan
          val byDir = snap.files.groupBy(e => {
            val i = e.path.lastIndexOf('/')
            if (i < 0) "" else e.path.substring(0, i)
          })
          val admittedOpt: Option[Seq[(InternalRow, Seq[LakeTable.FileEntry])]] =
            if (conds.isEmpty)
              Some(byDir.valuesIterator.map(fs =>
                (PartitionPaths.valuesOf(fs.head.path, pSchema, tz), fs)).toSeq)
            else if (PartitionPaths.evaluableOnPartitions(conds, pSchema, resolver)) {
              val pred = PartitionPaths.bind(conds, pSchema, resolver)
              Some(byDir.valuesIterator.flatMap { fs =>
                val row = PartitionPaths.valuesOf(fs.head.path, pSchema, tz)
                if (pred.eval(row)) Some((row, fs)) else None
              }.toSeq)
            } else None

          admittedOpt match {
            case Some(admitted) =>
              val files = admitted.flatMap(_._2)
              val nameMap = ColumnMapping.mapping(snap.schema)
              lazy val countable = files.forall(e =>
                e.rowCount >= 0 && e.dv.forall(_.cardinality >= 0))

              def partIndex(name: String): Int =
                pSchema.fields.indexWhere(f => resolver(f.name, name))

              def answer(m: MetaAgg): Option[Any] = m match {
                case CountStar =>
                  if (countable) Some(files.map(_.liveRowCount).sum) else None

                case CountCol(name) =>
                  val pi = partIndex(name)
                  if (pi >= 0) {
                    // every live row of a file shares its path's value,
                    // so dv'd files still count exactly
                    if (!countable) None
                    else Some(admitted.iterator.map { case (row, fs) =>
                      if (row.isNullAt(pi)) 0L else fs.map(_.liveRowCount).sum
                    }.sum)
                  } else snap.schema.fields.find(f => resolver(f.name, name)).flatMap { f =>
                    val key = nameMap.getOrElse(f.name, f.name)
                    // a live dv makes the deleted rows' nullness unknowable
                    val ok = files.forall(e => e.rowCount >= 0 &&
                      e.dv.forall(_.cardinality == 0) &&
                      e.stats.get(key).exists(_.nullCount.isDefined))
                    if (ok) Some(files.map(e =>
                      e.rowCount - e.stats(key).nullCount.get).sum)
                    else None
                  }

                case MinMax(name, isMin) =>
                  val pi = partIndex(name)
                  if (pi >= 0) {
                    val dt = pSchema.fields(pi).dataType
                    if (!countable) None
                    else {
                      val vals = admitted.iterator.collect {
                        case (row, fs) if !row.isNullAt(pi) && fs.exists(_.liveRowCount > 0) =>
                          row.get(pi, dt)
                      }.toSeq
                      if (vals.isEmpty) Some(null)
                      else vals.foldLeft(Option(vals.head)) { (accO, v) =>
                        accO.flatMap(acc => cmpInternal(dt, v, acc).map(c =>
                          if ((isMin && c < 0) || (!isMin && c > 0)) v else acc))
                      }
                    }
                  } else snap.schema.fields.find(f => resolver(f.name, name)).flatMap { f =>
                    if (!exactBoundType(f.dataType)) None
                    else {
                      val key = nameMap.getOrElse(f.name, f.name)
                      // per contributing file: (bound, dv-free); a file
                      // that is provably all-null or fully deleted
                      // contributes nothing; anything unprovable bails
                      val contribs = files.foldLeft(Option(Seq.empty[(Long, Boolean)])) {
                        case (None, _) => None
                        case (Some(acc), e) =>
                          if (e.rowCount < 0 || e.dv.exists(_.cardinality < 0)) None
                          else if (e.liveRowCount == 0) Some(acc)
                          else e.stats.get(key) match {
                            case Some(s) =>
                              val bound = (if (isMin) s.min else s.max)
                                .flatMap(v => scala.util.Try(v.toLong).toOption)
                              bound match {
                                case Some(b) =>
                                  Some(acc :+ (b, e.dv.forall(_.cardinality == 0)))
                                case None =>
                                  // no range: exact only if provably all-null
                                  if (s.nullCount.contains(e.rowCount)) Some(acc) else None
                              }
                            case None => None
                          }
                      }
                      contribs.flatMap { cs =>
                        if (cs.isEmpty) Some(null) // min/max over no non-null values
                        else {
                          val best = if (isMin) cs.map(_._1).min else cs.map(_._1).max
                          // the extreme must be ATTAINED by a dv-free file
                          if (cs.exists(c => c._1 == best && c._2))
                            Some(toInternal(f.dataType, best))
                          else None
                        }
                      }
                    }
                  }
              }

              val vals = aggExprs.map(e => answer(aggOf(e).get))
              if (vals.forall(_.isDefined))
                LocalRelation(agg.output.map(_.toAttribute),
                  Seq(InternalRow.fromSeq(vals.map(_.get))))
              else agg
            case None => agg
          }
        case _ => agg
      }
  }
}
