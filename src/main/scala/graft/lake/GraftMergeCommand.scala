package graft.lake

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeIntoTable, Project, SubqueryAlias, UpdateAction, UpdateTable, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** SQL `MERGE INTO` on a graft table, routed through the transaction
  * log's row-level merge ([[LakeTable.mergeRows]]). Spark's analyzer
  * fully resolves `MergeIntoTable` over a V1 relation (star actions
  * expand to per-column assignments, attributes bind, CheckAnalysis
  * passes) — only the PLANNER has no V1 strategy, so
  * [[GraftMergeRule]] converts every resolved MERGE into this command:
  * ordered WHEN MATCHED clauses with conditions (UPDATE preserving
  * unassigned target columns, DELETE), ordered condition-gated WHEN
  * NOT MATCHED INSERT clauses, and ordered WHEN NOT MATCHED BY SOURCE
  * clauses (UPDATE/DELETE over target rows with no source match).
  * Expressions arrive pre-rebound to the `t`/`s` aliases the row-level
  * merge joins under; insert-only merges take
  * [[LakeTable.mergeRows]]'s version-checked commit, which ABORTS on a
  * concurrent commit instead of blindly rebasing an append (a racing
  * writer could have inserted the same key between the anti-join read
  * and the commit). A clause tuple's second element is `Some(set)` for
  * UPDATE, `None` for DELETE.
  */
final case class GraftMergeRowsCommand(
    tablePath: String, source: LogicalPlan, keys: Seq[String],
    matched: Seq[(Option[Expression], Option[Seq[(String, Expression)]])],
    insert: Seq[(Option[Expression], Seq[(String, Expression)])],
    notMatchedBySource: Seq[(Option[Expression], Option[Seq[(String, Expression)]])])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.graft.SqlShims.columnOf
    val data = org.apache.spark.sql.graft.SqlShims.ofRows(spark, source)
    def toClauses(specs: Seq[(Option[Expression], Option[Seq[(String, Expression)]])]) =
      specs.map {
        case (cond, Some(set)) =>
          LakeTable.MatchedUpdate(cond.map(columnOf),
            set.map { case (n, v) => n -> columnOf(v) }.toMap)
        case (cond, None) =>
          LakeTable.MatchedDelete(cond.map(columnOf))
      }
    val insertClauses = insert.map { case (cond, image) =>
      (cond.map(columnOf), image.map { case (n, v) => n -> columnOf(v) }.toMap)
    }
    // auto-scope: when every partition column is a merge key, a matched
    // row can only live in its source row's partition — the scoped
    // detection contract holds by construction, so the merge detection
    // partition-prunes AND qualifies for the disjoint-race rebase (two
    // SQL merges into different dates of a partitioned fact both land)
    val parts = LakeTable.latestSnapshot(spark, tablePath)
      .map(_.partitionColumns).getOrElse(Nil)
    val scoped = parts.nonEmpty && parts.forall(keys.contains)
    // merge.mode=mor: position-delete the claimed pre-images + append.
    // Every clause shape now has an MoR expression — NOT MATCHED BY
    // SOURCE pays a condition-bounded whole-table READ (inherent to its
    // semantics) but writes O(claimed rows), where CoW rewrites every
    // file holding one claimed row.
    if (GraftMergeRowsCommand.morMode(spark))
      LakeTable.mergeRowsMergeOnRead(spark, tablePath, data, keys,
        toClauses(matched), insertClauses, toClauses(notMatchedBySource))
    else
      LakeTable.mergeRows(spark, tablePath, data, keys, toClauses(matched),
        insertClauses, toClauses(notMatchedBySource),
        scopeToUpdatePartitions = scoped)
    Seq.empty
  }
}

object GraftMergeRowsCommand {
  /** `spark.graft.merge.mode` parsed: true = merge-on-read. */
  private def morMode(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.merge.mode").map(_.toLowerCase) match {
      case Some("mor") => true
      case Some("cow") | None => false
      case Some(other) => throw new IllegalArgumentException(
        s"spark.graft.merge.mode must be 'cow' or 'mor', got '$other'")
    }
}

/** SQL `DELETE FROM <graft table> WHERE ...`, planned onto
  * [[LakeTable.delete]] (file-granularity copy-on-write) or — when the
  * session sets `spark.graft.delete.mode=mor` —
  * [[LakeTable.deleteMergeOnRead]] (positional deletion vectors, the
  * O(deleted rows) point-delete path). The resolved predicate's
  * attribute references are re-bound BY NAME against the fresh read
  * the delete performs — the exprIds of the command's view resolution
  * do not exist in that plan.
  */
final case class GraftDeleteCommand(tablePath: String, condition: Expression)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val byName = condition.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
    val cond = org.apache.spark.sql.graft.SqlShims.columnOf(byName)
    spark.conf.getOption("spark.graft.delete.mode").map(_.toLowerCase) match {
      case Some("mor") => LakeTable.deleteMergeOnRead(spark, tablePath, cond)
      case Some("cow") | None => LakeTable.delete(spark, tablePath, cond)
      case Some(other) => throw new IllegalArgumentException(
        s"spark.graft.delete.mode must be 'cow' or 'mor', got '$other'")
    }
    Seq.empty
  }
}

/** SQL `UPDATE <graft table> SET ... [WHERE ...]`, planned onto
  * [[LakeTable.update]] (file-granularity copy-on-write) or — when the
  * session sets `spark.graft.update.mode=mor` —
  * [[LakeTable.updateMergeOnRead]] (position-delete + append, the
  * O(updated rows) point-update path). Like [[GraftDeleteCommand]],
  * resolved references re-bind by name.
  */
final case class GraftUpdateCommand(tablePath: String,
                                    set: Seq[(String, Expression)],
                                    condition: Expression)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    def byName(e: Expression): Expression = e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
    import org.apache.spark.sql.graft.SqlShims.columnOf
    val assigns = set.map { case (n, v) => n -> columnOf(byName(v)) }
    val cond = columnOf(byName(condition))
    spark.conf.getOption("spark.graft.update.mode").map(_.toLowerCase) match {
      case Some("mor") => LakeTable.updateMergeOnRead(spark, tablePath, assigns, cond)
      case Some("cow") | None => LakeTable.update(spark, tablePath, assigns, cond)
      case Some(other) => throw new IllegalArgumentException(
        s"spark.graft.update.mode must be 'cow' or 'mor', got '$other'")
    }
    Seq.empty
  }
}

final class GraftMergeRule extends Rule[LogicalPlan] {

  /** The live index (table path, pinned version) behind a (possibly
    * aliased/viewed) graft relation — plain or merge-on-read form.
    */
  private def graftIndex(plan: LogicalPlan): Option[GraftFileIndex] = plan match {
    case LogicalRelation(rel: GraftTableRelation, _, _, _, _) => Some(rel.index)
    case SubqueryAlias(_, child) => graftIndex(child)
    case View(_, _, child, _) => graftIndex(child)
    case _ => None
  }

  private def unsupported(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"MERGE INTO a graft table: $what. Supported shape: ON a conjunction of " +
        "target-column = source-expression equalities, then any ordered mix of " +
        "WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE, " +
        "WHEN NOT MATCHED [AND cond] THEN INSERT ... and " +
        "WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE clauses, " +
        "whose UPDATE and INSERT assignments target columns")

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d @ DeleteFromTable(target, condition)
        if d.resolved && graftIndex(target).isDefined =>
      val idx = graftIndex(target).get
      if (idx.asOf.isDefined)
        throw new IllegalArgumentException(
          s"cannot DELETE from a time-travel graft relation of ${idx.tablePath}")
      GraftDeleteCommand(idx.tablePath, condition)

    case u @ UpdateTable(target, assignments, condition)
        if u.resolved && graftIndex(target).isDefined =>
      val idx = graftIndex(target).get
      if (idx.asOf.isDefined)
        throw new IllegalArgumentException(
          s"cannot UPDATE a time-travel graft relation of ${idx.tablePath}")
      val set = assignments.map {
        case Assignment(k: Attribute, v) => k.name -> v
        case Assignment(k, _) => throw new UnsupportedOperationException(
          s"UPDATE on a graft table: assignment target $k is not a column")
      }
      GraftUpdateCommand(idx.tablePath, set,
        condition.getOrElse(org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))

    case m: MergeIntoTable if m.resolved && graftIndex(m.targetTable).isDefined =>
      val idx = graftIndex(m.targetTable).get
      if (idx.asOf.isDefined)
        throw new IllegalArgumentException(
          s"cannot MERGE into a time-travel graft relation of ${idx.tablePath}")
      if (m.withSchemaEvolution) {
        // WITH SCHEMA EVOLUTION is the default behavior of the log's
        // merge (new columns merge into the snapshot schema) — accept
      }
      val targetAttrs = m.targetTable.outputSet
      val sourceAttrs = m.sourceTable.outputSet

      // ON condition → (target key name, source-side expression) pairs
      val keyPairs: Seq[(String, Expression)] = conjuncts(m.mergeCondition).map {
        case EqualTo(t: AttributeReference, s) if targetAttrs.contains(t) &&
            s.references.subsetOf(sourceAttrs) => (t.name, s)
        case EqualTo(s, t: AttributeReference) if targetAttrs.contains(t) &&
            s.references.subsetOf(sourceAttrs) => (t.name, s)
        case other => unsupported(s"ON condition term '${other.sql}' is not a " +
          "target-column = source-expression equality")
      }
      val keys = keyPairs.map(_._1).distinct

      def toPairs(as: Seq[Assignment]): Seq[(String, Expression)] = as.map {
        case Assignment(k: Attribute, v) => k.name -> v
        case Assignment(k, _) => unsupported(s"assignment target $k is not a column")
      }

      val matchedParsed: Seq[(Option[Expression], Option[Seq[(String, Expression)]])] =
        m.matchedActions.map {
          case UpdateAction(cond, assignments, _) => (cond, Some(toPairs(assignments)))
          case DeleteAction(cond)                 => (cond, None)
          case other => unsupported(s"matched action $other")
        }
      val insertParsed: Seq[(Option[Expression], Seq[(String, Expression)])] =
        m.notMatchedActions.map {
          case InsertAction(cond, assignments) => (cond, toPairs(assignments))
          case other => unsupported(s"not-matched action $other")
        }
      val nmbsParsed: Seq[(Option[Expression], Option[Seq[(String, Expression)]])] =
        m.notMatchedBySourceActions.map {
          case UpdateAction(cond, assignments, _) => (cond, Some(toPairs(assignments)))
          case DeleteAction(cond)                 => (cond, None)
          case other => unsupported(s"not-matched-by-source action $other")
        }
      if (matchedParsed.isEmpty && insertParsed.isEmpty && nmbsParsed.isEmpty)
        unsupported("no UPDATE, DELETE or INSERT action given")

      // The source relation must expose each ON key under the target's
      // key NAME (mergeRows joins t.k = s.k): alias the key expression in
      // when the source lacks the column; refuse when the source has a
      // DIFFERENT column of that name.
      val sourceByName = m.sourceTable.output.map(a => a.name -> a).toMap
      val needAlias = keyPairs.filter { case (n, e) =>
        sourceByName.get(n) match {
          case Some(a) if a.semanticEquals(e) => false
          case Some(_) => unsupported(s"the source already has a column named '$n' " +
            s"that differs from the ON key expression '${e.sql}' — alias one of them")
          case None => true
        }
      }
      val sourcePlan =
        if (needAlias.isEmpty) m.sourceTable
        else Project(m.sourceTable.output ++
          needAlias.map { case (n, e) => Alias(e, n)() }, m.sourceTable)

      // rebind target/source attributes to the t/s aliases the
      // row-level merge joins under (resolution is by name at run time)
      def rebind(e: Expression): Expression = e.transform {
        case a: AttributeReference if targetAttrs.contains(a) =>
          UnresolvedAttribute(Seq("t", a.name))
        case a: AttributeReference if sourceAttrs.contains(a) =>
          UnresolvedAttribute(Seq("s", a.name))
      }
      val matchedSpecs = matchedParsed.map { case (cond, set) =>
        (cond.map(rebind), set.map(_.map { case (n, v) => n -> rebind(v) }))
      }
      val insertSpecs = insertParsed.map { case (cond, image) =>
        (cond.map(rebind), image.map { case (n, v) => n -> rebind(v) })
      }
      val nmbsSpecs = nmbsParsed.map { case (cond, set) =>
        (cond.map(rebind), set.map(_.map { case (n, v) => n -> rebind(v) }))
      }
      GraftMergeRowsCommand(idx.tablePath, sourcePlan, keys, matchedSpecs,
        insertSpecs, nmbsSpecs)
    case _ => plan
  }
}
