package graft.lake

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter => FilterPlan, Project}
import org.apache.spark.sql.graft.SqlShims
import org.apache.spark.sql.sources.{BaseRelation, CatalystScan, Filter}
import org.apache.spark.sql.types.StructType

/** The relation `format("graft")` resolves to when the snapshot
  * carries merge-on-read deletion vectors. The plain
  * [[GraftRelation]]'s `HadoopFsRelation` scan cannot serve such a
  * snapshot (it would read deleted rows back), so this relation plans
  * the [[LakeScan.morScan]] composition per query instead: dv-free
  * files through the stock parquet path, dv-bearing files anti-joined
  * against their vectors on `(_metadata.file_path,
  * _metadata.row_index)`.
  *
  * It holds the same live [[GraftFileIndex]] a plain relation does,
  * which resolves the snapshot per scan (`asOf` pins), fails loudly on
  * schema or layout drift with a re-register hint, and sizes the
  * relation. As a `CatalystScan` it receives Spark's predicates as
  * Catalyst expressions: the deterministic, subquery-free ones prune
  * the snapshot's files through [[LakeScan.prune]] — the pruning the
  * index gives a plain relation, so a point lookup still reads ~1
  * file — and apply INSIDE the composition, where Catalyst pushes them
  * into both legs' parquet scans. Every predicate is also declared
  * unhandled, so Spark re-evaluates it above the scan and pushing stays
  * a pure optimization. Tables reconcile back to the plain relation
  * (and whole-stage codegen over `HadoopFsRelation`) after a
  * [[LakeTable.compact]] clears their vectors — the read path is the
  * merge-on-read TAX, compact is the amortization.
  */
private[graft] class GraftMorRelation(val index: GraftFileIndex, spark: SparkSession)
    extends BaseRelation with CatalystScan with GraftTableRelation {

  override def sqlContext: SQLContext = spark.sqlContext

  /** Full snapshot schema, partition columns in place (same contract
    * as [[GraftRelation]] — registered views stay INSERT-able).
    */
  override val schema: StructType = GraftDataSource.asNullable(index.initialSnapshot.schema)

  override def needConversion: Boolean = false

  override def sizeInBytes: Long = index.sizeInBytes

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def buildScan(requiredColumns: Seq[Attribute],
                         filters: Seq[Expression]): RDD[Row] = {
    val snap = index.snapshot()
    val pushable = filters.filter(f =>
      f.deterministic && !f.exists(_.isInstanceOf[PlanExpression[_]]))
    val table = index.tablePath
    val plan = LakeScan.morScan(spark, table, snap, LakeScan.prune(spark, table, snap, pushable),
      keepPos = false).queryExecution.analyzed
    val resolver = spark.sessionState.conf.resolver
    def rebind(a: Attribute): Attribute = plan.output.find(o => resolver(o.name, a.name))
      .getOrElse(throw new IllegalStateException(s"column ${a.name} is not in the scan of $table"))
    val filtered = pushable.map(_.transform { case a: AttributeReference => rebind(a) })
      .reduceOption(And).fold(plan)(FilterPlan(_, plan))
    // needConversion = false: hand Spark the plan's InternalRows
    // directly (the V1 contract for catalyst-row relations) — the
    // underlying parquet scans keep codegen, the join stays distributed
    SqlShims.ofRows(spark, Project(requiredColumns.map(rebind), filtered))
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
