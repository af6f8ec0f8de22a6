package graft.lake

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Maintenance SQL for graft tables, Delta-SQL-parser style: a
  * delegating [[ParserInterface]] that recognizes the statements the
  * Spark grammar lacks and hands everything else to the session's
  * parser untouched. With these, the ENTIRE lifecycle a Trino/Iceberg
  * operator runs — DML, maintenance, rollback, governance — is
  * drivable from `spark.sql`:
  *
  *   OPTIMIZE <target> [WHERE <partition predicate>]
  *            [ZORDER BY (c1, c2, ...)] | [SORT BY (c1, ...)]
  *   REORG TABLE <target> [WHERE <partition predicate>] APPLY (PURGE)
  *   VACUUM <target> [RETAIN <n> VERSIONS | RETAIN <n> HOURS] [DRY RUN]
  *   SHOW PARTITIONS `path`
  *   PUBLISH TABLE <branch> TO <target> [NO COPY]
  *   RESTORE <target> [TO] VERSION AS OF <v>
  *   RESTORE <target> [TO] TIMESTAMP AS OF '<ts>'
  *   ALTER TABLE <target> ADD CONSTRAINT <name> CHECK (<expr>)
  *   ALTER TABLE <target> DROP CONSTRAINT <name>
  *   DESCRIBE HISTORY <target>
  *   DESCRIBE DETAIL <target>
  *   FSCK TABLE <target> [VERSION AS OF <v>]
  *   ALTER TABLE `path` ADD COLUMNS (c1 TYPE, ...)
  *   ALTER TABLE `path` RENAME COLUMN a TO b
  *   ALTER TABLE `path` DROP COLUMN c
  *   APPLY CHANGES INTO <dim> FROM <source>
  *         KEYS (k1, ...) TRACK (a1, ...) [STORED AS SCD TYPE {1|2}]
  *   CREATE INCREMENTAL VIEW `path` AS SELECT g1, ..., sum(e) AS m, ...
  *         FROM <source> GROUP BY g1, ...
  *   CREATE INCREMENTAL VIEW `path` PRIMARY KEY (k1, ...) AS
  *         SELECT * FROM <left> l [INNER|LEFT] JOIN <right> r
  *         ON l.a = r.b [AND ...]
  *   REFRESH INCREMENTAL VIEW <target>
  *
  * Plus two SELECT-level rewrites that compose inside any query (see
  * [[GraftSqlParser!.rewriteTimeTravel rewriteTimeTravel]] /
  * [[GraftSqlParser!.rewriteTableChanges rewriteTableChanges]]):
  *
  *   SELECT ... FROM <t> [FOR] VERSION AS OF <v> ...
  *   SELECT ... FROM <t> [FOR] TIMESTAMP AS OF '<ts>' ...
  *   SELECT ... FROM table_changes(<t>, <start> [, <end>]) ...
  *
  * APPLY CHANGES is the DLT-style statement form of
  * [[Scd2.applyFeed]]: fold the source's change feed since the dim's
  * watermark into an SCD Type-2 interval table (sequencing is the
  * source's commit version — the lake's own total order — so no
  * SEQUENCE BY clause is needed or accepted). The first application
  * creates the dim; replays are watermark-idempotent. Returns the
  * committed dim version. `STORED AS SCD TYPE 1` switches to
  * [[Scd2.applyFeedType1]]: overwrite-in-place, no history — the dim
  * holds the latest attributes per key and a feed DELETE removes the
  * key; TYPE 2 (the default) keeps the full interval history.
  *
  * The column-evolution forms are intercepted for QUOTED-PATH targets
  * only: those never parse in stock Spark, so nothing is stolen from
  * the delegate, while catalog-table ALTERs keep flowing to Spark
  * untouched (use the LakeTable API for registered live views).
  * RENAME/DROP auto-enable column mapping (Protocol(2,2)) on first
  * use, exactly like the API.
  *
  * `<target>` is a path in backticks or single quotes (Delta's
  * `delta.`/path`` idiom without the prefix), or the name of a
  * registered live view — resolved through the view's analyzed plan to
  * the transaction-log path, so `<name>_tbl` views from
  * [[graft.GraftCatalog.registerLake]] work directly. ALTER TABLE is
  * intercepted ONLY when it contains a CONSTRAINT clause; every other
  * ALTER TABLE parses through Spark.
  */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = {
    // pins below belong to THIS statement: a fresh set (stamped with
    // this parse's global sequence number) releases the previous
    // statement's eviction protection for this thread only
    statementPins.synchronized {
      statementPins.put(Thread.currentThread(),
        (parseSeq.incrementAndGet(), scala.collection.mutable.Set.empty[String]))
    }
    parseMaintenance(sqlText.trim)
      .getOrElse(delegate.parsePlan(rewriteTimeTravel(rewriteTableChanges(sqlText))))
  }

  /** CDF from SQL — Delta's `table_changes` TVF analog:
    *
    *   SELECT ... FROM table_changes(<t>, <start> [, <end>]) ...
    *
    * `<t>` is a registered view name, a backquoted path, or a
    * single-quoted name/path (Delta's string-arg form); `<end>`
    * defaults to the latest committed version at parse time. Rewritten
    * to a deterministic temp view over [[LakeTable.changes]], so a
    * SQL-only user can drive incremental folds (the `incr_agg`
    * discipline) without touching the Scala API.
    */
  private def rewriteTableChanges(sqlText: String): String = {
    val masked = maskedSpans(sqlText)
    TableChangesRe.replaceAllIn(sqlText, m => {
      val unchanged = java.util.regex.Matcher.quoteReplacement(m.matched)
      if (masked(m.start)) unchanged // inside a string literal / comment
      else {
        val (kw, target, v1) = (m.group(1), m.group(2), m.group(3).toLong)
        // a target that is not a graft table is left for the delegate
        // (another extension may own a table_changes of its own)
        val resolved: Option[String] =
          try Some(
            if (target.startsWith("`")) target.substring(1, target.length - 1)
            else if (target.startsWith("'")) {
              // Delta's form quotes a table NAME; accept a quoted path too
              val s = target.substring(1, target.length - 1)
              if (LakeTable.latestVersion(spark, s).nonEmpty) s
              else resolveTarget(spark, s)
            } else resolveTarget(spark, target))
          catch { case _: Exception => None }
        resolved match {
          case None => unchanged
          case Some(path) =>
            val v2 = Option(m.group(4)).map(_.toLong).getOrElse(
              LakeTable.latestVersion(spark, path).getOrElse(
                throw new IllegalArgumentException(s"no committed version at $path")))
            val name = pinViewName("graft_cdf_", s"$path@$v1-$v2")
            registerPin(name, LakeTable.changes(spark, path, v1, v2))
            java.util.regex.Matcher.quoteReplacement(s"$kw $name")
        }
      }
    })
  }

  /** SELECT-level time travel (Trino-on-Iceberg's user syntax, which
    * the reference's analysts type verbatim, plus Spark's FOR-less v2
    * form):
    *
    *   SELECT ... FROM <t> [FOR] VERSION AS OF <v> ...
    *   SELECT ... FROM <t> [FOR] TIMESTAMP AS OF '<ts>' ...
    *
    * Rewritten BEFORE delegation: each travelled relation resolves to
    * its log path, pins via the existing `versionAsOf` reader option,
    * and registers as a deterministic session temp view
    * (`graft_tt_<hash>`, idempotent — same (path, version) reuses the
    * name) whose name substitutes into the text. Composes anywhere a
    * relation can appear (joins, subqueries, several travelled tables,
    * self-joins of two versions). A target that does not resolve to a
    * graft table is left untouched for the delegate to reject with its
    * own error.
    */
  private def rewriteTimeTravel(sqlText: String): String = {
    val masked = maskedSpans(sqlText)
    TimeTravelRe.replaceAllIn(sqlText, m => {
      val unchanged = java.util.regex.Matcher.quoteReplacement(m.matched)
      val (kw, target, kind, lit) = (m.group(1), m.group(2), m.group(3), m.group(4))
      val raw = if (lit.startsWith("'")) lit.substring(1, lit.length - 1) else lit
      val resolved =
        if (masked(m.start)) None // inside a string literal / comment
        else try Some(resolveTarget(spark, target))
        catch { case _: Exception => None }
      val version = resolved.flatMap { path =>
        if (kind.equalsIgnoreCase("VERSION")) raw.toLongOption // quoted '2' coerces; junk → delegate
        else {
          // a MALFORMED timestamp literal falls through to the delegate
          // (same contract as junk-version above); a WELL-FORMED one on a
          // resolved graft table resolves eagerly, so "no version that
          // early" fails here with the reader's own clear error
          val tsMs = try Some(GraftDataSource.parseTimestampMs(raw))
                     catch { case _: Exception => None }
          tsMs.map(LakeTable.versionAtTimestamp(spark, path, _))
        }
      }
      (resolved, version) match {
        case (Some(path), Some(v)) =>
          val name = pinViewName("graft_tt_", s"$path@$v")
          // resolves the snapshot eagerly — a bad version fails HERE,
          // at parse time, with the reader's own error
          registerPin(name, LakeTable.read(spark, path, asOf = Some(v)))
          java.util.regex.Matcher.quoteReplacement(s"$kw $name")
        case _ => unchanged
      }
    })
  }

  /** Deterministic temp-view name for a pinned relation: same
    * (path, version) key reuses the same name across queries.
    */
  private def pinViewName(prefix: String, key: String): String =
    prefix + java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** Register a pinned temp view, bounding the accumulation the
    * SELECT-level rewrites would otherwise leak: each distinct
    * (path, version) key pins one `graft_tt_`/`graft_cdf_` view for
    * the session's lifetime, so a long-lived session sweeping many
    * snapshots would grow its catalog without bound. An LRU of the
    * most recent [[GraftSqlParser.MaxPinnedViews]] keys evicts (drops)
    * the eldest — safe because an evicted name is deterministically
    * re-pinned the next time the same snapshot is queried. Guards:
    * all map access is synchronized (threads may share a session), and
    * a view pinned by the STATEMENT CURRENTLY BEING PARSED on this
    * thread is never evicted — a generated query unioning more than
    * MaxPinnedViews snapshots must not have its own pins dropped
    * before the delegate sees them. The in-flight sets live in a
    * SHARED weak-keyed map (thread → its current statement's pins),
    * consulted globally at eviction: on a shared session, thread B
    * crossing the cap must not drop a view thread A pinned for a
    * statement parsed but not yet analyzed (a ThreadLocal check would
    * only protect B's own pins). Weak keys release a dead thread's
    * protection with the thread — and, since a thread that STOPS
    * parsing would otherwise keep its last statement's pins protected
    * forever (idling pinnedViews above its cap), each set is stamped
    * with its parse's global sequence number and eviction ignores sets
    * more than [[GraftSqlParser.StalePinGenerations]] statements old:
    * far wider than any parse→analysis window, yet bounded (protection
    * cannot outlive the next N statements parsed on the session).
    */
  private val pinnedViews = new java.util.LinkedHashMap[String, Unit](16, 0.75f, true)
  private val parseSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private val statementPins = new java.util.WeakHashMap[
    Thread, (Long, scala.collection.mutable.Set[String])]()
  private def registerPin(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    val inFlight = statementPins.synchronized {
      val mine = statementPins.get(Thread.currentThread())
      if (mine != null) mine._2 += name
      else statementPins.put(Thread.currentThread(),
        (parseSeq.get(), scala.collection.mutable.Set(name)))
      import scala.jdk.CollectionConverters._
      val now = parseSeq.get()
      statementPins.values.asScala
        .collect { case (g, s) if now - g <= StalePinGenerations => s }
        .flatten.toSet
    }
    val evicted = pinnedViews.synchronized {
      pinnedViews.put(name, ())
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = pinnedViews.keySet().iterator()
      while (pinnedViews.size - out.size > MaxPinnedViews && it.hasNext) {
        val eldest = it.next()
        if (!inFlight.contains(eldest)) out += eldest
      }
      out.foreach(pinnedViews.remove)
      out
    }
    evicted.foreach { v =>
      try spark.catalog.dropTempView(v)
      catch { case _: Exception => () }
    }
  }

  /** Character mask of the regions the SELECT-level rewrites must
    * never touch: single-quoted string literals (with '' escapes),
    * double-quoted literals, `--` line comments and C-style block
    * comments. Backquoted identifiers stay UNMASKED — they are
    * legitimate rewrite targets. A rewrite applies only when its match
    * STARTS outside a masked span (a quoted `table_changes` argument
    * sits inside the match but after its start, so it still rewrites).
    */
  private def maskedSpans(s: String): Array[Boolean] = {
    // legacy mode: backslash is a plain character inside literals
    val escapedStringLiterals = spark.conf
      .getOption("spark.sql.parser.escapedStringLiterals").contains("true")
    val m = new Array[Boolean](s.length)
    var mode = 0 // 0 plain, 1 'str', 2 "str", 3 line comment, 4 block comment
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      mode match {
        case 0 =>
          if (c == '\'') { mode = 1; m(i) = true }
          else if (c == '"') { mode = 2; m(i) = true }
          else if (c == '-' && i + 1 < s.length && s.charAt(i + 1) == '-') { mode = 3; m(i) = true }
          else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') { mode = 4; m(i) = true }
        case 1 =>
          m(i) = true
          if (c == '\\' && i + 1 < s.length && !escapedStringLiterals) {
            // Spark's default lexer (escapedStringLiterals=false) treats
            // \x as an escape, so 'don\'t' is ONE literal — consume the
            // escaped char or the mask desyncs past it
            m(i + 1) = true; i += 1
          } else if (c == '\'') {
            if (i + 1 < s.length && s.charAt(i + 1) == '\'') { m(i + 1) = true; i += 1 }
            else mode = 0
          }
        case 2 =>
          m(i) = true
          if (c == '\\' && i + 1 < s.length && !escapedStringLiterals) {
            m(i + 1) = true; i += 1
          } else if (c == '"') mode = 0
        case 3 =>
          if (c == '\n') mode = 0 else m(i) = true
        case 4 =>
          m(i) = true
          if (c == '*' && i + 1 < s.length && s.charAt(i + 1) == '/') {
            m(i + 1) = true; i += 1; mode = 0
          }
      }
      i += 1
    }
    m
  }

  private def parseMaintenance(s: String): Option[LogicalPlan] = s match {
    case OptimizeRe(target, whereOpt, kindOpt, colsOpt) =>
      val cols = Option(colsOpt).map(_.split(",").map(_.trim.stripPrefix("`")
        .stripSuffix("`")).toSeq).getOrElse(Nil)
      val zorder = Option(kindOpt).exists(_.equalsIgnoreCase("zorder"))
      val where = Option(whereOpt).map(_.trim).filter(_.nonEmpty)
      Some(GraftOptimizeCommand(target, where,
        if (zorder) Nil else cols, if (zorder) cols else Nil))
    case VacuumRe(target, retainOpt, unitOpt, dryOpt) =>
      val hours = Option(unitOpt).exists(_.equalsIgnoreCase("HOURS"))
      Some(GraftVacuumCommand(target,
        if (hours) 2 else Option(retainOpt).map(_.toInt).getOrElse(2),
        dryOpt != null,
        retainMs = if (hours) Some(retainOpt.toLong * 3600L * 1000L) else None))
    case ReorgRe(target, whereOpt) =>
      Some(GraftReorgPurgeCommand(target,
        Option(whereOpt).map(_.trim).filter(_.nonEmpty)))
    case ShowPartitionsRe(target) =>
      Some(GraftShowPartitionsCommand(target))
    case RestoreRe(target, v) =>
      Some(GraftRestoreCommand(target, v.toLong))
    case RestoreTsRe(target, ts) =>
      Some(GraftRestoreTimestampCommand(target,
        if (ts.startsWith("'")) ts.substring(1, ts.length - 1) else ts))
    case AddConstraintRe(target, name, expr) =>
      Some(GraftAddConstraintCommand(target, name, expr.trim))
    case DropConstraintRe(target, name) =>
      Some(GraftDropConstraintCommand(target, name))
    case CloneRe(dst, src, vOpt, tsOpt) =>
      Some(GraftCloneCommand(dst, src, Option(vOpt).map(_.toLong),
        Option(tsOpt).map(ts =>
          if (ts.startsWith("'")) ts.substring(1, ts.length - 1) else ts)))
    case PublishRe(branch, target, noCopy) =>
      Some(GraftPublishCommand(branch, target, copy = noCopy == null))
    case DescHistoryRe(target) =>
      Some(GraftDescribeHistoryCommand(target))
    case DescDetailRe(target) =>
      Some(GraftDescribeDetailCommand(target))
    case FsckRe(target, v) =>
      Some(GraftFsckCommand(target, Option(v).map(_.toLong)))
    case AddColumnsRe(target, colsDdl) =>
      Some(GraftAddColumnsCommand(target, colsDdl.trim))
    case RenameColumnRe(target, oldName, newName) =>
      Some(GraftRenameColumnCommand(target, oldName, newName))
    case DropColumnRe(target, name) =>
      Some(GraftDropColumnCommand(target, name))
    case CreateIncAggRe(target, selectList, source, groupByRaw) =>
      val groupBy = groupByRaw.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`").trim).filter(_.nonEmpty).toSeq
      require(groupBy.nonEmpty, "CREATE INCREMENTAL VIEW needs GROUP BY columns")
      Some(GraftCreateIncAggCommand(target, selectList.trim, source, groupBy))
    case CreateIncJoinRe(target, pkRaw, left, joinTypeRaw, right, on) =>
      val pk = pkRaw.split(",")
        .map(_.trim.stripPrefix("`").stripSuffix("`").trim).filter(_.nonEmpty).toSeq
      require(pk.nonEmpty, "CREATE INCREMENTAL VIEW needs PRIMARY KEY columns")
      val joinType =
        if (Option(joinTypeRaw).exists(_.toUpperCase.startsWith("LEFT"))) "left"
        else "inner"
      Some(GraftCreateIncJoinCommand(target, pk, left, right, joinType, on.trim))
    case RefreshIncViewRe(target) =>
      Some(GraftRefreshIncViewCommand(target))
    case ApplyChangesRe(dim, source, keys, attrs, scdType) =>
      // tolerate a trailing comma (empty tail segment) but refuse a list
      // that degenerates to no usable names — fail AT PARSE TIME, not
      // later inside Scd2.applyFeed with a misleading column error
      def cols(what: String, s0: String) = {
        val out = s0.split(",")
          .map(_.trim.stripPrefix("`").stripSuffix("`").trim)
          .filter(_.nonEmpty).toSeq
        require(out.nonEmpty,
          s"APPLY CHANGES $what list '$s0' has no usable column names")
        out
      }
      Some(GraftApplyChangesCommand(dim, source, cols("KEYS", keys),
        cols("TRACK", attrs),
        scdType = Option(scdType).map(_.toInt).getOrElse(2)))
    case _ => None
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

private[graft] object GraftSqlParser {
  /** Cap on pinned `graft_tt_`/`graft_cdf_` temp views per session. */
  val MaxPinnedViews = 64

  /** How many statements (session-wide) a thread's in-flight pin set
    * stays eviction-protected after its parse: wide enough to cover any
    * parse→analysis gap, small enough that an idle thread's stale pins
    * cannot hold [[pinnedViews]] above [[MaxPinnedViews]] indefinitely.
    */
  val StalePinGenerations = 64L

  // target: `path`, 'path', or an identifier (registered view name)
  private val T = "(`[^`]+`|'[^']+'|[A-Za-z_][A-Za-z0-9_.]*)"
  private val OptimizeRe =
    ("""(?is)^OPTIMIZE\s+""" + T +
      """(?:\s+WHERE\s+(.+?))?(?:\s+(ZORDER|SORT)\s+BY\s*\(([^)]+)\))?\s*;?\s*$""").r
  // Delta's REORG TABLE t APPLY (PURGE): rewrite ONLY the files
  // carrying outstanding deletion vectors
  private val ReorgRe =
    ("""(?is)^REORG\s+TABLE\s+""" + T +
      """(?:\s+WHERE\s+(.+?))?\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""").r
  private val VacuumRe =
    ("""(?is)^VACUUM\s+""" + T +
      """(?:\s+RETAIN\s+(\d+)\s+(VERSIONS|HOURS))?(\s+DRY\s+RUN)?\s*;?\s*$""").r
  // quoted-path only: SHOW PARTITIONS <identifier> is valid stock
  // Spark for catalog tables — never steal it
  private val ShowPartitionsRe =
    """(?is)^SHOW\s+PARTITIONS\s+(`[^`]+`|'[^']+')\s*;?\s*$""".r
  private val RestoreRe =
    ("""(?is)^RESTORE\s+""" + T + """\s+(?:TO\s+)?VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""").r
  // ts operand: quoted 'yyyy-MM-dd[ HH:mm:ss]' or bare epoch millis
  private val RestoreTsRe =
    ("""(?is)^RESTORE\s+""" + T +
      """\s+(?:TO\s+)?TIMESTAMP\s+AS\s+OF\s+('[^']+'|\d+)\s*;?\s*$""").r
  private val AddConstraintRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + T +
      """\s+ADD\s+CONSTRAINT\s+([A-Za-z0-9_]+)\s+CHECK\s*\((.+)\)\s*;?\s*$""").r
  private val DropConstraintRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + T +
      """\s+DROP\s+CONSTRAINT\s+([A-Za-z0-9_]+)\s*;?\s*$""").r
  // CREATE TABLE `dst` SHALLOW CLONE src [VERSION AS OF v |
  // TIMESTAMP AS OF '<ts>'] (Delta syntax, both pin forms)
  private val CloneRe =
    ("""(?is)^CREATE\s+TABLE\s+""" + T + """\s+SHALLOW\s+CLONE\s+""" + T +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+('[^']+'|\d+))?\s*;?\s*$""").r
  // write-audit-publish: land a shallow-clone branch's delta on its
  // source; NO COPY publishes zero-copy foreign references instead of
  // localizing the branch's files
  private val PublishRe =
    ("""(?is)^PUBLISH\s+TABLE\s+""" + T + """\s+TO\s+""" + T +
      """(\s+NO\s+COPY)?\s*;?\s*$""").r
  private val DescHistoryRe =
    ("""(?is)^DESC(?:RIBE)?\s+HISTORY\s+""" + T + """\s*;?\s*$""").r
  private val DescDetailRe =
    ("""(?is)^DESC(?:RIBE)?\s+DETAIL\s+""" + T + """\s*;?\s*$""").r
  private val FsckRe =
    ("""(?is)^FSCK\s+TABLE\s+""" + T +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""").r
  // column evolution: QUOTED-PATH targets only (never valid in stock
  // Spark), so catalog-table ALTERs still delegate
  private val Q = "(`[^`]+`|'[^']+')"
  private val AddColumnsRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Q +
      """\s+ADD\s+COLUMNS?\s*\((.+)\)\s*;?\s*$""").r
  private val RenameColumnRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Q +
      """\s+RENAME\s+COLUMN\s+([A-Za-z0-9_]+)\s+TO\s+([A-Za-z0-9_]+)\s*;?\s*$""").r
  private val DropColumnRe =
    ("""(?is)^ALTER\s+TABLE\s+""" + Q +
      """\s+DROP\s+COLUMN\s+([A-Za-z0-9_]+)\s*;?\s*$""").r
  // SQL-defined incremental views over Incremental.refreshAgg/-Join
  // (see IncrementalView). The CREATE target is a NEW table: quoted
  // path only. The join form fixes the side aliases to `l`/`r` so the
  // ON conjuncts parse unambiguously without an analyzer.
  private val CreateIncAggRe =
    ("""(?is)^CREATE\s+INCREMENTAL\s+VIEW\s+""" + Q +
      """\s+AS\s+SELECT\s+(.+?)\s+FROM\s+""" + T +
      """\s+GROUP\s+BY\s+(.+?)\s*;?\s*$""").r
  private val CreateIncJoinRe =
    ("""(?is)^CREATE\s+INCREMENTAL\s+VIEW\s+""" + Q +
      """\s+PRIMARY\s+KEY\s*\(([^)]+)\)\s+AS\s+SELECT\s+\*\s+FROM\s+""" + T +
      """\s+(?:AS\s+)?l\s+(?:(INNER|LEFT(?:\s+OUTER)?)\s+)?JOIN\s+""" + T +
      """\s+(?:AS\s+)?r\s+ON\s+(.+?)\s*;?\s*$""").r
  private val RefreshIncViewRe =
    ("""(?is)^REFRESH\s+INCREMENTAL\s+VIEW\s+""" + T + """\s*;?\s*$""").r
  // SELECT-level time travel: FROM/JOIN <t> [FOR] VERSION|TIMESTAMP AS OF <lit>
  private val TimeTravelRe =
    ("""(?is)\b(FROM|JOIN)\s+""" + T +
      """\s+(?:FOR\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+('[^']*'|\d+)""").r
  // CDF TVF: FROM/JOIN table_changes(<t>, <start> [, <end>])
  private val TableChangesRe =
    ("""(?is)\b(FROM|JOIN)\s+TABLE_CHANGES\s*\(\s*""" + T +
      """\s*,\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)""").r
  // DLT-style CDC → SCD2 statement (sequencing = lake commit version)
  private val ApplyChangesRe =
    ("""(?is)^APPLY\s+CHANGES\s+INTO\s+""" + T + """\s+FROM\s+""" + T +
      """\s+KEYS\s*\(([^)]+)\)\s+TRACK\s*\(([^)]+)\)""" +
      """(?:\s+STORED\s+AS\s+SCD\s+TYPE\s+([12]))?\s*;?\s*$""").r

  /** The transaction-log path behind a maintenance target: a quoted
    * path literally, or a registered view resolved through its
    * analyzed plan (works for both plain and merge-on-read relations).
    */
  def resolveTarget(spark: SparkSession, target: String): String = {
    if (target.startsWith("`") || target.startsWith("'"))
      target.substring(1, target.length - 1)
    else {
      val plan = spark.table(target).queryExecution.analyzed
      plan.collectFirst {
        case LogicalRelation(r: GraftTableRelation, _, _, _, _) => r.index.tablePath
      }.getOrElse(throw new IllegalArgumentException(
        s"$target does not resolve to a graft lake table — register it " +
          "(GraftCatalog.registerLake / format(\"graft\") view) or pass its " +
          "path in backticks"))
    }
  }
}

private[graft] case class GraftOptimizeCommand(target: String,
                                               where: Option[String],
                                               sortBy: Seq[String],
                                               zorderBy: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    val pf = where.map(org.apache.spark.sql.functions.expr)
    val v = LakeTable.compact(spark, path, sortBy = sortBy, zorderBy = zorderBy,
      partitionFilter = pf,
      smallFileBytes = if (sortBy.nonEmpty || zorderBy.nonEmpty) Long.MaxValue
                       else 32L << 20)
    Seq(Row(v))
  }
}

private[graft] case class GraftReorgPurgeCommand(target: String,
                                                 where: Option[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.reorgPurge(spark, path,
      where.map(org.apache.spark.sql.functions.expr))))
  }
}

private[graft] case class GraftVacuumCommand(target: String, retain: Int,
                                             dryRun: Boolean,
                                             retainMs: Option[Long] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("files_reclaimed", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.vacuum(spark, path, retainVersions = retain,
      dryRun = dryRun, retainMs = retainMs).toLong))
  }
}

/** `SHOW PARTITIONS \`path\`` — the head snapshot's hive partitions
  * with live file/row/byte counts, straight from the log (no listing,
  * no data read). Quoted-path targets only: the identifier form is
  * stock Spark's for catalog tables.
  */
private[graft] case class GraftShowPartitionsCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("partition", StringType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("num_live_rows", LongType, nullable = true)(),
    AttributeReference("size_bytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    val s = LakeTable.latestSnapshot(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    require(s.partitionColumns.nonEmpty,
      s"$path is not partitioned — SHOW PARTITIONS needs a hive layout")
    // partition identity = leading k=v run, NOT the parent dir: bulk
    // published files nest a batch dir inside the partition dir
    s.files.groupBy(e => LakeTable.partitionDirOf(e.path))
      .toSeq.sortBy(_._1).map { case (dir, es) =>
      val rows: Any =
        if (es.exists(_.liveRowCount < 0)) null else es.map(_.liveRowCount).sum
      Row(dir, es.size.toLong, rows, es.map(_.size).sum)
    }
  }
}

private[graft] case class GraftRestoreCommand(target: String, version: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.restore(spark, path, version)))
  }
}

/** `RESTORE t TO TIMESTAMP AS OF '<ts>'` — resolved to the newest
  * version committed at or before the timestamp (writer wall clocks,
  * same semantics as `option("timestampAsOf", ...)` reads), then a
  * plain version restore.
  */
private[graft] case class GraftRestoreTimestampCommand(target: String, ts: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    val tsMs = GraftDataSource.parseTimestampMs(ts)
    val v = LakeTable.versionAtTimestamp(spark, path, tsMs)
    Seq(Row(LakeTable.restore(spark, path, v)))
  }
}

private[graft] case class GraftAddConstraintCommand(target: String, name: String,
                                                    expr: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.addConstraint(spark, path, name, expr)))
  }
}

private[graft] case class GraftDropConstraintCommand(target: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.dropConstraint(spark, path, name)))
  }
}

/** `DESCRIBE HISTORY t` — the commit log as rows, latest first; the
  * SQL face of [[LakeTable.history]] (O(tail) past the newest
  * snapshot checkpoint, never O(commits)).
  */
private[graft] case class GraftDescribeHistoryCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    LakeTable.history(spark, path).collect().toSeq
  }
}

/** `FSCK TABLE t [VERSION AS OF v]` — [[LakeTable.fsck]] as SQL: one
  * row per integrity finding (missing/size-drifted data file, missing
  * deletion vector or bloom sidecar), empty result = healthy. Stat-only.
  */
private[graft] case class GraftFsckCommand(target: String, version: Option[Long])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("path", StringType, nullable = false)(),
    AttributeReference("component", StringType, nullable = false)(),
    AttributeReference("issue", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    LakeTable.fsck(spark, path, version).collect().toSeq
  }
}

/** `DESCRIBE DETAIL t` — one row summarizing the head snapshot: live
  * file/byte/row counts (rows AFTER deletion-vector filtering; null
  * when some file predates logged row counts), outstanding dv count,
  * layout (partition columns, bucket spec), constraint names, and the
  * protocol stamp. Everything is read from the transaction log — no
  * data file is opened.
  */
private[graft] case class GraftDescribeDetailCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp_ms", LongType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("num_files", LongType, nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("num_live_rows", LongType, nullable = true)(),
    AttributeReference("num_dv_files", LongType, nullable = false)(),
    AttributeReference("partition_columns", StringType, nullable = false)(),
    AttributeReference("bucket_spec", StringType, nullable = true)(),
    AttributeReference("generated_columns", StringType, nullable = true)(),
    AttributeReference("constraints", StringType, nullable = true)(),
    AttributeReference("reader_version", LongType, nullable = false)(),
    AttributeReference("writer_version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    val s = LakeTable.latestSnapshot(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no committed version at $path"))
    val liveRows: Any =
      if (s.files.exists(_.liveRowCount < 0)) null
      else s.files.map(_.liveRowCount).sum
    val bucket = Bucketing.spec(s.schema)
      .map(b => s"buckets=${b.numBuckets} by=${b.bucketCols.mkString(",")}" +
        (if (b.sortCols.nonEmpty) s" sort=${b.sortCols.mkString(",")}" else ""))
      .orNull
    val gens = GeneratedColumns.specs(s.schema) match {
      case Nil => null
      case sp => sp.map(g => s"${g.target}=${g.transform}(${g.source})").mkString(",")
    }
    Seq(Row("graft", s.version, s.timestampMs, s.operation,
      s.files.size.toLong, s.files.map(_.size).sum, liveRows,
      s.files.count(_.dv.isDefined).toLong,
      s.partitionColumns.mkString(","), bucket, gens,
      if (s.constraints.isEmpty) null else s.constraints.keys.toSeq.sorted.mkString(","),
      s.protocol.reader.toLong, s.protocol.writer.toLong))
  }
}

private[graft] case class GraftAddColumnsCommand(target: String, colsDdl: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.addColumns(spark, path, StructType.fromDDL(colsDdl))))
  }
}

private[graft] case class GraftRenameColumnCommand(target: String,
                                                   oldName: String,
                                                   newName: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.renameColumn(spark, path, oldName, newName)))
  }
}

private[graft] case class GraftDropColumnCommand(target: String, name: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.dropColumn(spark, path, name)))
  }
}

private[graft] case class GraftPublishCommand(branch: String, target: String,
                                              copy: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val branchPath = GraftSqlParser.resolveTarget(spark, branch)
    val srcPath = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(LakeTable.publish(spark, srcPath, branchPath, copy)))
  }
}

private[graft] case class GraftCloneCommand(dst: String, src: String,
                                            asOf: Option[Long],
                                            asOfTs: Option[String] = None)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    // dst is a NEW table: a bare path (backticks/quotes) only — there
    // is no existing relation to resolve
    require(dst.startsWith("`") || dst.startsWith("'"),
      s"SHALLOW CLONE destination must be a quoted path, got $dst")
    val dstPath = dst.substring(1, dst.length - 1)
    val srcPath = GraftSqlParser.resolveTarget(spark, src)
    // TIMESTAMP AS OF resolves like RESTORE's: newest version committed
    // at or before the timestamp (writer wall clocks)
    val pin = asOf.orElse(asOfTs.map(ts => LakeTable.versionAtTimestamp(
      spark, srcPath, GraftDataSource.parseTimestampMs(ts))))
    Seq(Row(LakeTable.shallowClone(spark, srcPath, dstPath, pin)))
  }
}

private[graft] case class GraftApplyChangesCommand(dim: String, source: String,
                                                   keys: Seq[String],
                                                   attrs: Seq[String],
                                                   scdType: Int = 2)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val srcPath = GraftSqlParser.resolveTarget(spark, source)
    // the dim may not exist yet (the first application CREATES it), so a
    // quoted path resolves literally; a registered view also works
    val dimPath = GraftSqlParser.resolveTarget(spark, dim)
    Seq(Row(
      if (scdType == 1) Scd2.applyFeedType1(spark, srcPath, dimPath, keys, attrs)
      else Scd2.applyFeed(spark, srcPath, dimPath, keys, attrs)))
  }
}

private[graft] object IncViewSql {
  /** Split on top-level commas (parenthesis-aware), for select lists
    * whose aggregate arguments may themselves contain commas.
    */
  def splitTop(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    val cur = new StringBuilder
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.toString.trim; cur.clear()
      case c => cur += c
    }
    val last = cur.toString.trim
    if (last.nonEmpty) out += last
    out.result()
  }

  val AggItemRe: scala.util.matching.Regex =
    """(?is)^(sum|min|max|count)\s*\((.+)\)\s+AS\s+`?([A-Za-z_][A-Za-z0-9_]*)`?$""".r
  val OnPairRe: scala.util.matching.Regex =
    """(?is)^([lr])\.`?([A-Za-z0-9_]+)`?\s*=\s*([lr])\.`?([A-Za-z0-9_]+)`?$""".r

  def newTablePath(target: String): String = {
    require(target.startsWith("`") || target.startsWith("'"),
      s"CREATE INCREMENTAL VIEW target must be a quoted path (a NEW table), got $target")
    target.substring(1, target.length - 1)
  }
}

private[graft] case class GraftCreateIncAggCommand(target: String,
                                                   selectList: String,
                                                   source: String,
                                                   groupBy: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val targetPath = IncViewSql.newTablePath(target)
    val srcPath = GraftSqlParser.resolveTarget(spark, source)
    val groupSet = groupBy.toSet
    var sums = Seq.empty[(String, String)]
    var mins = Seq.empty[(String, String)]
    var maxs = Seq.empty[(String, String)]
    IncViewSql.splitTop(selectList).foreach {
      case IncViewSql.AggItemRe(fn, e, name) => fn.toLowerCase match {
        case "sum" => sums :+= name -> e.trim
        case "min" => mins :+= name -> e.trim
        case "max" => maxs :+= name -> e.trim
        case "count" =>
          // only the row count folds from a feed; count(col) skips nulls,
          // which the feed's signed fold cannot see
          require(e.trim == "*" || e.trim == "1",
            s"incremental views support count(*) / count(1) only, got count($e)")
          sums :+= name -> "1"
      }
      case item =>
        val bare = item.stripPrefix("`").stripSuffix("`").trim
        require(groupSet.contains(bare),
          s"select item '$item' is neither an aggregate (sum/min/max/count(*) " +
            "... AS name) nor a GROUP BY column")
    }
    require(sums.nonEmpty,
      "CREATE INCREMENTAL VIEW needs at least one additive measure (sum/count)")
    Seq(Row(IncrementalView.create(spark, targetPath,
      IncrementalView.AggDef(srcPath, groupBy, sums, mins, maxs))))
  }
}

private[graft] case class GraftCreateIncJoinCommand(target: String,
                                                    pk: Seq[String],
                                                    left: String, right: String,
                                                    joinType: String, on: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val targetPath = IncViewSql.newTablePath(target)
    val joinKeys = on.split("""(?i)\s+AND\s+""").toSeq.map(_.trim).map {
      case IncViewSql.OnPairRe(s1, c1, s2, c2) =>
        require(s1.toLowerCase != s2.toLowerCase,
          s"ON conjunct must join l against r, got $s1.$c1 = $s2.$c2")
        if (s1.toLowerCase == "l") (c1, c2) else (c2, c1)
      case other => throw new IllegalArgumentException(
        s"ON conjunct '$other' must have the shape l.<col> = r.<col>")
    }
    Seq(Row(IncrementalView.create(spark, targetPath,
      IncrementalView.JoinDef(GraftSqlParser.resolveTarget(spark, left),
        GraftSqlParser.resolveTarget(spark, right), pk, joinKeys, joinType))))
  }
}

private[graft] case class GraftRefreshIncViewCommand(target: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val path = GraftSqlParser.resolveTarget(spark, target)
    Seq(Row(IncrementalView.refresh(spark, path)))
  }
}
