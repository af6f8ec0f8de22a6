package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

/** SQL DML (`INSERT INTO` / `INSERT OVERWRITE`) on a graft table,
  * routed through the transaction log.
  *
  * Spark's analyzer plans an insert into a data source relation one of
  * two ways, and both end in [[GraftInsertCommand.insert]]:
  *
  *  - into a relation with partition columns (a partitioned
  *    [[GraftRelation]]) as [[InsertIntoHadoopFsRelationCommand]] — a
  *    RAW write of part files into the relation's directory, which for
  *    a lake table would bypass the log entirely: untracked files, no
  *    commit, the rows silently invisible to every log-driven reader.
  *    [[GraftInsertRule]] rewrites it into this command;
  *  - into an unpartitioned relation as `InsertIntoDataSourceCommand`,
  *    which calls the relation's `insert` ([[GraftRelation]]).
  *
  * This gives the reference's SQL write surface (every `trino_sql`
  * block materializes an Iceberg table, ref: silver defs.yaml:22) a
  * transactional analog.
  */
final case class GraftInsertCommand(index: GraftFileIndex, query: LogicalPlan,
                                    overwrite: Boolean) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    GraftInsertCommand.insert(spark, index,
      org.apache.spark.sql.graft.SqlShims.ofRows(spark, query), overwrite)
    Seq.empty
  }
}

object GraftInsertCommand {

  /** Commit one SQL insert into the table behind `index`: an append,
    * or an overwrite that replaces rows and never the partition layout.
    * Under Spark's dynamic partition-overwrite conf a partitioned table
    * replaces ONLY the partitions the rows land in (the conf's own
    * semantics on stock file sources, made transactional). A
    * time-travel or fixed-file relation is read-only. The index is
    * refreshed afterwards: its relation may serve the very next query.
    */
  private[lake] def insert(spark: SparkSession, index: GraftFileIndex, data: DataFrame,
                           overwrite: Boolean): Unit = {
    val table = index.tablePath
    if (index.readOnly)
      throw new IllegalArgumentException(
        s"cannot INSERT into a time-travel (versionAsOf) or fixed-file graft relation of $table")
    if (overwrite) {
      val parts = LakeTable.latestSnapshot(spark, table).map(_.partitionColumns).getOrElse(Nil)
      val dynamic = spark.conf
        .get("spark.sql.sources.partitionOverwriteMode", "STATIC")
        .equalsIgnoreCase("dynamic")
      if (dynamic && parts.nonEmpty) LakeTable.overwritePartitions(spark, table, data)
      else LakeTable.overwrite(spark, table, data, parts)
    } else {
      LakeTable.append(spark, table, data)
    }
    index.refresh()
  }
}

/** Rewrites the analyzer's raw-file insert command into
  * [[GraftInsertCommand]] whenever the target relation is backed by a
  * [[GraftFileIndex]]. Static `PARTITION (col=value)` specs are
  * rejected loudly (they would route rows past the value-derived hive
  * layout — partition routing is automatic, as in Delta).
  */
final class GraftInsertRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case cmd: InsertIntoHadoopFsRelationCommand =>
      cmd.fileIndex match {
        case Some(idx: GraftFileIndex) =>
          if (cmd.staticPartitions.nonEmpty)
            throw new IllegalArgumentException(
              "static PARTITION specs are not supported on graft tables — partition " +
                "routing is automatic from the row values (as in Delta); drop the " +
                "PARTITION clause and include the column in the data")
          GraftInsertCommand(idx, cmd.query, cmd.mode == SaveMode.Overwrite)
        case _ => plan
      }
    case _ => plan
  }
}
