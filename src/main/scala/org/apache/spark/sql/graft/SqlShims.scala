package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.StructType

/** Minimal bridge into Spark's `private[sql]` plan→DataFrame
  * constructors, for [[graft.lake.GraftInsertCommand]] and the
  * streaming source/sink: a command receives the already-analyzed
  * INSERT source as a LogicalPlan and must re-wrap it to hand to the
  * writer API; a V1 streaming `Source.getBatch` must return a
  * DataFrame whose leaves carry `isStreaming = true`; a V1 streaming
  * `Sink.addBatch` must re-wrap the micro-batch's physical rows to
  * run a write job over them. Living under `org.apache.spark.sql`
  * grants the access — the same technique Delta Lake uses for the
  * same reason.
  */
object SqlShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` with every file-scan leaf re-marked `isStreaming = true`
    * — what `Source.getBatch` must hand back. Keeping the
    * LogicalRelation (rather than round-tripping rows through an RDD)
    * preserves the native parquet scan path for the micro-batch:
    * column pruning and filter pushdown still reach the files, exactly
    * how Spark's own FileStreamSource builds its batches.
    */
  def asStreaming(df: DataFrame): DataFrame =
    ofRows(df.sparkSession, df.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming => lr.copy(isStreaming = true)
    })

  /** A batch DataFrame over already-computed internal rows. The sink
    * uses it to re-wrap `addBatch`'s micro-batch (whose plan carries
    * streaming leaves) into a plain batch plan the writer API accepts;
    * the source uses it (isStreaming = true) for the empty batch.
    */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
                              schema: StructType, isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  /** The physical rows of an (already planned) micro-batch, ready to
    * re-wrap. `toRdd` executes the incremental plan lazily — the rows
    * are computed once, when the write job over the re-wrapped frame
    * runs.
    */
  def rowsOf(df: DataFrame): RDD[InternalRow] = df.queryExecution.toRdd

  /** Block until every listener event posted so far has been delivered.
    * Spark's listener bus is asynchronous, so a listener's records can
    * lag the action that produced them; a reader of job records drains
    * first. `listenerBus` is `private[spark]`.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A user-facing Column over a catalyst expression (the classic
    * ColumnNode bridge) — how a SQL command's resolved predicate is
    * re-applied to a fresh DataFrame.
    */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
}
