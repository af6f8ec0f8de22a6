package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.lake.{GraftTxn, LakeTable}

/** Cross-engine maintenance check (ref behavior: every reference
  * transform materializes an Iceberg table that Trino then reads back,
  * trino_iceberg_transform_component.py:116-129): one PARTITIONED lake
  * table is driven through the full maintenance surface — overwrite,
  * append, MERGE upsert, copy-on-write DELETE and UPDATE, clustered
  * COMPACT, an "oops" delete, and a RESTORE that undoes it — and the
  * FINAL TABLE STATE is handed to the correctness gate, where DuckDB
  * replays the same history as plain SQL over the same input parquet.
  * A hash match means an independent engine agrees with every commit
  * path end to end, closing the loop that `incr_agg` closes for the
  * change feed.
  */
object MaintenanceOps {

  def lakeDml(spark: SparkSession, dir: String): DataFrame = {
    val work = Work.dir("graft_lakedml")
    val t = s"$work/orders_lake"
    val key = col("o_orderkey")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")

    // v1: partitioned overwrite of one slice, v2: append another
    LakeTable.overwrite(spark, t, orders.filter(key % 3 === 0),
      partitionBy = Seq("o_orderstatus"))
    LakeTable.append(spark, t, orders.filter(key % 3 === 1))
    // v3: MERGE upsert — existing keys take the source row (price
    // bumped), fresh keys insert
    LakeTable.merge(spark, t,
      orders.filter(key % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0),
      keys = Seq("o_orderkey"))
    // v4: copy-on-write DELETE, v5: copy-on-write UPDATE
    LakeTable.delete(spark, t, key % 7 === 3)
    LakeTable.update(spark, t,
      Seq("o_totalprice" -> (col("o_totalprice") * 2)),
      col("o_orderpriority") === "1-URGENT")
    // v6: clustered compact — rows untouched, so the oracle must not
    // notice; v7: an accidental delete; v8: RESTORE undoes it by
    // re-referencing v6's files
    val v6 = LakeTable.compact(spark, t, smallFileBytes = 1L << 30,
      sortBy = Seq("o_orderkey"))
    LakeTable.delete(spark, t, key % 2 === 0)
    LakeTable.restore(spark, t, v6)

    LakeTable.read(spark, t).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
      col("o_totalprice").cast("double").as("o_totalprice"))
  }

  /** Merge-on-read maintenance check: the same cross-engine loop as
    * [[lakeDml]], but driving the DELETION-VECTOR surface (ref:
    * Iceberg v2 positional deletes, trino_iceberg_transform_component
    * .py:33,116-123) — two MoR deletes whose vectors fold on shared
    * files, a copy-on-write UPDATE over the vectored table (rewrite
    * clears the affected files' vectors), a COMPACT that reconciles
    * the rest, and a final MoR delete so the state handed to the
    * correctness gate still carries ACTIVE vectors: the hash compare
    * therefore proves the MoR read itself (the reader's per-file
    * bitmap against the parquet row index), not just vector bookkeeping. DuckDB replays the
    * history as plain SQL over the same input parquet.
    */
  def lakeDv(spark: SparkSession, dir: String): DataFrame = {
    val work = Work.dir("graft_lakedv")
    val t = s"$work/orders_lake"
    val key = col("o_orderkey")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")

    // v1: partitioned overwrite of one slice, v2: append another
    LakeTable.overwrite(spark, t, orders.filter(key % 3 === 0),
      partitionBy = Seq("o_orderstatus"))
    LakeTable.append(spark, t, orders.filter(key % 3 === 1))
    // v3, v4: merge-on-read deletes — the second folds its vectors
    // into the first's on every shared file
    LakeTable.deleteMergeOnRead(spark, t, key % 7 === 3)
    LakeTable.deleteMergeOnRead(spark, t, col("o_orderpriority") === "5-LOW")
    // v5: copy-on-write UPDATE over the vectored table (must not
    // resurrect; rewritten files drop their vectors)
    LakeTable.update(spark, t,
      Seq("o_totalprice" -> (col("o_totalprice") * 2)),
      col("o_orderpriority") === "1-URGENT")
    // v6: compact reconciles every remaining vector into clean files
    LakeTable.compact(spark, t, smallFileBytes = 1L << 30)
    // v7: a fresh MoR delete — the FINAL state carries active vectors,
    // so the oracle compare exercises the MoR read path end to end
    LakeTable.deleteMergeOnRead(spark, t, key % 11 === 5)
    // v8: merge-on-read UPDATE — pre-images vanish behind vectors that
    // FOLD with v7's on shared files, post-images land as appended
    // files; the hash compare proves the position-delete + append
    // composition, not just delete vectors
    LakeTable.updateMergeOnRead(spark, t,
      Seq("o_totalprice" -> (col("o_totalprice") + 10.0)),
      col("o_orderstatus") === "F" && key % 13 === 2)

    LakeTable.read(spark, t).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
      col("o_totalprice").cast("double").as("o_totalprice"))
  }

  /** DuckDB replay of [[lakeDv]]'s history (deletes commute with the
    * priority-gated price update, so the chain flattens to filters).
    */
  val dvOracleSql: String =
    """SELECT o_orderkey, o_orderpriority, o_orderstatus,
              CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2
                        ELSE o_totalprice END
                   + CASE WHEN o_orderstatus = 'F' AND o_orderkey % 13 = 2
                          THEN 10.0 ELSE 0.0 END AS DOUBLE) AS o_totalprice
       FROM orders
       WHERE o_orderkey % 3 IN (0, 1)
         AND o_orderkey % 7 <> 3
         AND o_orderpriority <> '5-LOW'
         AND o_orderkey % 11 <> 5"""

  /** The full merge-on-read DML tier in one cross-engine gate: a
    * partitioned lake table takes an MoR DELETE, an MoR UPDATE and an
    * MoR MERGE upsert in sequence — every pre-image hidden behind
    * positional vectors that FOLD across the three commits, every
    * post-image landed by append — and the FINAL state (still carrying
    * active vectors on multiple files) goes to the hash compare, where
    * DuckDB replays the same history as plain SQL. A match proves the
    * position-delete + append composition of all four MoR paths —
    * including merge re-inserting a key an earlier MoR delete retired,
    * the GENERAL clause surface (conditioned MATCHED DELETE, MATCHED
    * UPDATE reading both sides, NOT MATCHED INSERT) as one atomic MoR
    * commit, and (r14) the NOT MATCHED BY SOURCE sync-deletes shape
    * retiring condition-gated unmatched rows behind vectors.
    */
  def lakeMor(spark: SparkSession, dir: String): DataFrame = {
    val work = Work.dir("graft_lakemor")
    val t = s"$work/orders_lake"
    val key = col("o_orderkey")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")

    // v1/v2: partitioned overwrite of one slice + append of another
    LakeTable.overwrite(spark, t, orders.filter(key % 3 === 0),
      partitionBy = Seq("o_orderstatus"))
    LakeTable.append(spark, t, orders.filter(key % 3 === 1))
    // v3: MoR delete, v4: MoR update (vectors fold on shared files)
    LakeTable.deleteMergeOnRead(spark, t, key % 7 === 3)
    LakeTable.updateMergeOnRead(spark, t,
      Seq("o_totalprice" -> (col("o_totalprice") + 5.0)),
      col("o_orderpriority") === "2-HIGH")
    // v5: MoR merge upsert — replaces live matches (discarding v4's
    // image for them), RE-INSERTS keys v3 retired, inserts fresh keys
    LakeTable.mergeMergeOnRead(spark, t,
      orders.filter(key % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 3.0),
      keys = Seq("o_orderkey"))
    // v6: GENERAL-clause MoR merge — a conditioned MATCHED DELETE
    // (retire finished matches), a MATCHED UPDATE mixing both sides'
    // values, and a NOT MATCHED INSERT, all as position-deletes +
    // appends in ONE commit; matched rows claimed by no clause keep
    // their position untouched. Trickle-sized source (2.5% of keys):
    // the operating regime MoR exists for, and small enough that the
    // bounded-key prune pushes into file skipping
    LakeTable.mergeRowsMergeOnRead(spark, t,
      orders.filter(key % 40 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 0.25),
      keys = Seq("o_orderkey"),
      matched = Seq(
        LakeTable.MatchedDelete(Some(col("t.o_orderstatus") === "F")),
        LakeTable.MatchedUpdate(None,
          Map("o_totalprice" -> (col("s.o_totalprice") + col("t.o_totalprice"))))),
      notMatchedInsert = Seq((None, Map(
        "o_orderkey" -> col("s.o_orderkey"),
        "o_orderpriority" -> col("s.o_orderpriority"),
        "o_orderstatus" -> col("s.o_orderstatus"),
        "o_totalprice" -> col("s.o_totalprice")))))
    // v7: NOT MATCHED BY SOURCE (r14) — the sync-deletes shape: rows
    // whose key the (even-keyed) source no longer names retire behind
    // vectors when the condition gates them in; every other row keeps
    // its position, ZERO data files rewritten (the CoW alternative
    // rewrites every file holding one claimed row)
    LakeTable.mergeRowsMergeOnRead(spark, t,
      orders.filter(key % 2 === 0).select("o_orderkey"),
      keys = Seq("o_orderkey"),
      matched = Nil,
      notMatchedBySource = Seq(
        LakeTable.MatchedDelete(Some(col("t.o_orderpriority") === "3-MEDIUM"))))

    LakeTable.read(spark, t).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
      col("o_totalprice").cast("double").as("o_totalprice"))
  }

  /** DuckDB replay of [[lakeMor]]'s history: merge-source keys carry
    * the source image (price ×3, regardless of earlier DML); everything
    * else survives iff it entered at v1/v2 and escaped the v3 delete,
    * with v4's +5 where the priority matched — that's state s5. The v6
    * general-clause merge then replays over s5: matched 'F' rows
    * delete, other matches take source+target price, unmatched source
    * keys insert, unmatched target rows carry over.
    */
  val morOracleSql: String =
    """WITH src AS (SELECT o_orderkey, o_orderpriority, o_orderstatus,
             CAST(o_totalprice * 3.0 AS DOUBLE) AS o_totalprice
           FROM orders WHERE o_orderkey % 5 = 0),
         keep AS (SELECT o_orderkey, o_orderpriority, o_orderstatus,
             CAST(o_totalprice + CASE WHEN o_orderpriority = '2-HIGH'
                                      THEN 5.0 ELSE 0.0 END AS DOUBLE) AS o_totalprice
           FROM orders
           WHERE o_orderkey % 3 IN (0, 1)
             AND o_orderkey % 7 <> 3
             AND o_orderkey % 5 <> 0),
         s5 AS (SELECT * FROM src UNION ALL SELECT * FROM keep),
         src6 AS (SELECT o_orderkey, o_orderpriority, o_orderstatus,
             CAST(o_totalprice + 0.25 AS DOUBLE) AS o_totalprice
           FROM orders WHERE o_orderkey % 40 = 1),
         s6 AS (
       SELECT k.o_orderkey, k.o_orderpriority, k.o_orderstatus,
              CAST(s.o_totalprice + k.o_totalprice AS DOUBLE) AS o_totalprice
       FROM s5 k JOIN src6 s USING (o_orderkey)
       WHERE k.o_orderstatus <> 'F'
       UNION ALL
       SELECT k.* FROM s5 k
       WHERE NOT EXISTS (SELECT 1 FROM src6 s WHERE s.o_orderkey = k.o_orderkey)
       UNION ALL
       SELECT s.* FROM src6 s
       WHERE NOT EXISTS (SELECT 1 FROM s5 k WHERE k.o_orderkey = s.o_orderkey))
       -- v7 NMBS sync: odd-keyed rows (unmatched by the even-key source)
       -- delete where the clause condition gates them in
       SELECT * FROM s6
       WHERE NOT (o_orderkey % 2 <> 0 AND o_orderpriority = '3-MEDIUM')"""

  /** Dynamic partition overwrite end to end: a partitioned lake table
    * gets one partition (`o_orderstatus = 'O'`) atomically REPLACED by
    * a re-derived daily slice — fewer rows (only even order keys
    * survive) with adjusted prices — while every other partition's
    * files are carried untouched; the reload then re-runs to prove
    * idempotence. The oracle replays the final state as plain SQL:
    * a hash match proves "replace the partition, don't merge into it"
    * semantics against an independent engine.
    */
  def lakeDpo(spark: SparkSession, dir: String): DataFrame = {
    val work = Work.dir("graft_lakedpo")
    val t = s"$work/orders_lake"
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")
    LakeTable.overwrite(spark, t, orders, partitionBy = Seq("o_orderstatus"))
    val reload = orders
      .filter(col("o_orderstatus") === "O" && col("o_orderkey") % 2 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
    LakeTable.overwritePartitions(spark, t, reload)
    LakeTable.overwritePartitions(spark, t, reload) // idempotent re-run
    LakeTable.read(spark, t).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
      col("o_totalprice").cast("double").as("o_totalprice"))
  }

  val dpoOracleSql: String =
    """SELECT o_orderkey, o_orderpriority, o_orderstatus,
              CAST(o_totalprice AS DOUBLE) AS o_totalprice
       FROM orders WHERE o_orderstatus <> 'O'
       UNION ALL
       SELECT o_orderkey, o_orderpriority, o_orderstatus,
              CAST(o_totalprice * 1.1 AS DOUBLE) AS o_totalprice
       FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0"""

  /** Hidden partitioning end to end (Iceberg partition-transform
    * analog — see [[graft.lake.GeneratedColumns]]; ref: the
    * reference's Iceberg tables, trino_iceberg_transform_component
    * .py:33,116-123): events land in a table partitioned by the
    * GENERATED `p_day = day(ts)` — the creation write derives it, the
    * second write proves a plain append INHERITS the layout and
    * derives it too — and the gated query then filters a three-day
    * window on the RAW timestamp, never mentioning `p_day`; the read
    * prunes to those days' partitions (spec-proven with the stats cap
    * removing min/max from the picture). Grouping by the stored
    * `p_day` puts the derived values themselves under the hash
    * compare: DuckDB recomputes the UTC day independently with
    * `CAST(ts AS DATE)`, so a single mis-derived partition value
    * breaks the match.
    */
  def lakeHidden(spark: SparkSession, dir: String): DataFrame = {
    val work = Work.dir("graft_lakehid")
    val t = s"$work/events_lake"
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value", "ts")
    val key = col("event_id")
    LakeTable.overwriteGenerated(spark, t, ev.filter(key % 2 === 0),
      Seq(graft.lake.GeneratedColumns.Spec("p_day", "day", "ts")))
    LakeTable.append(spark, t, ev.filter(key % 2 === 1))
    // three UTC days starting the day after the first — boundaries
    // derived from the data so the window exists at every SF
    val d0 = LakeTable.read(spark, t).agg(min(col("p_day"))).head().getDate(0)
      .toLocalDate
    val loUs = d0.plusDays(1).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000L
    val hiUs = loUs + 3L * graft.lake.GeneratedColumns.MicrosPerDay - 1L
    LakeTable.read(spark, t)
      .filter(col("ts") >= timestamp_micros(lit(loUs)) &&
        col("ts") <= timestamp_micros(lit(hiUs)))
      .groupBy(col("event_type"), col("p_day"))
      .agg(count(lit(1)).as("n"),
        graft.functions.Money.msum(col("value")).as("sum_value"))
  }

  /** Retention delete end to end: a generated day-partitioned events
    * table gets `DELETE WHERE ts < cutoff` with the cutoff mid-day —
    * the interior days leave by METADATA (no read, no rewrite;
    * RetentionDeleteSpec proves zero data-file opens with the counting
    * FS), only the boundary day's files rewrite, and the final state —
    * including the derived `p_day` values — is hash-compared against
    * DuckDB replaying the delete as a plain filter. The canonical
    * 100 TB shape: a daily retention sweep on a day-partitioned fact
    * costs O(one boundary partition), never O(table).
    */
  def lakeRetention(spark: SparkSession, dir: String): DataFrame = {
    val work = Work.dir("graft_lakeret")
    val t = s"$work/events_lake"
    val ev = Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value", "ts")
    LakeTable.overwriteGenerated(spark, t, ev,
      Seq(graft.lake.GeneratedColumns.Spec("p_day", "day", "ts")))
    val d0 = LakeTable.read(spark, t).agg(min(col("p_day"))).head().getDate(0)
      .toLocalDate
    // mid-day cutoff two days in: interior days drop by metadata, the
    // boundary day rewrites
    val cutoffUs = d0.plusDays(2).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000L + 12L * 3600L * 1000000L
    LakeTable.delete(spark, t, col("ts") < timestamp_micros(lit(cutoffUs)))
    LakeTable.read(spark, t).select(
      col("event_id"), col("user_id"), col("event_type"),
      col("value").cast("double").as("value"), col("p_day"))
  }

  /** DuckDB replays the retention delete as a plain filter and
    * recomputes the UTC day independently.
    */
  val retentionOracleSql: String =
    """WITH b AS (SELECT CAST(CAST(min(ts) AS DATE) + 2 AS TIMESTAMP)
                    + INTERVAL 12 HOUR AS cutoff FROM events)
       SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
              CAST(ts AS DATE) AS p_day
       FROM events, b WHERE ts >= b.cutoff"""

  /** DuckDB recomputes the UTC day and the window independently. */
  val hiddenOracleSql: String =
    """WITH b AS (SELECT CAST(min(ts) AS DATE) + 1 AS lo FROM events)
       SELECT event_type, CAST(ts AS DATE) AS p_day, count(*) AS n,
              CAST(round(sum(CAST(value AS DECIMAL(38,6))),2) AS DOUBLE) AS sum_value
       FROM events, b
       WHERE CAST(ts AS DATE) >= b.lo AND CAST(ts AS DATE) <= b.lo + 2
       GROUP BY 1,2"""

  /** DuckDB replays the same history as one SQL expression. */
  val oracleSql: String =
    """WITH merged AS (
         SELECT o_orderkey, o_orderpriority, o_orderstatus,
                CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
                     ELSE o_totalprice END AS p
         FROM orders
         WHERE o_orderkey % 3 IN (0, 1) OR o_orderkey % 5 = 0
       )
       SELECT o_orderkey, o_orderpriority, o_orderstatus,
              CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN p * 2
                        ELSE p END AS DOUBLE) AS o_totalprice
       FROM merged
       WHERE o_orderkey % 7 <> 3"""

  /** Write-audit-publish end to end (Iceberg audit-branch analog; ref
    * gates silver materialization on quality checks,
    * trino_iceberg_transform_component.py:192-206): a partitioned lake
    * table forks a zero-copy branch, the branch takes a derived append
    * and a copy-on-write delete, the SOURCE takes a concurrent append
    * during the audit window (its files are disjoint from the branch's
    * write-set, so publish must merge it in, not clobber it), the
    * branch passes a quality audit, and `publish` lands the whole
    * delta as one atomic commit. The final state is hash-checked:
    * DuckDB replays the merged history as plain SQL.
    */
  def lakeWap(spark: SparkSession, dir: String): DataFrame = {
    val work = Work.dir("graft_lakewap")
    val t = s"$work/orders_lake"
    val b = s"$work/orders_audit"
    val key = col("o_orderkey")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderpriority", "o_orderstatus", "o_totalprice")

    LakeTable.overwrite(spark, t, orders.filter(key % 3 === 0),
      partitionBy = Seq("o_orderstatus"))
    LakeTable.shallowClone(spark, t, b)
    // branch: a re-derived daily slice lands, then a correction delete
    LakeTable.append(spark, b, orders.filter(key % 3 === 2)
      .withColumn("o_totalprice", col("o_totalprice") + 500.0))
    LakeTable.delete(spark, b, key % 9 === 0)
    // meanwhile the source moves on — an independent append the
    // publish must carry through untouched
    LakeTable.append(spark, t, orders.filter(key % 3 === 1))
    // audit the BRANCH before anyone else can see its rows
    val bad = LakeTable.read(spark, b)
      .filter(col("o_orderkey").isNull || col("o_totalprice") < 0).count()
    require(bad == 0, s"audit failed: $bad bad rows — branch abandoned, not published")
    LakeTable.publish(spark, t, b)

    LakeTable.read(spark, t).select(
      col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus"),
      col("o_totalprice").cast("double").as("o_totalprice"))
  }

  /** DuckDB replay of [[lakeWap]]: the branch's delete (key%9=0) can
    * only hit the fork slice (key%3=0, since 9|k implies 3|k), the
    * branch append is the key%3=2 slice with adjusted prices, and the
    * source's concurrent append (key%3=1) rides through untouched.
    */
  val wapOracleSql: String =
    """SELECT o_orderkey, o_orderpriority, o_orderstatus,
              CAST(CASE WHEN o_orderkey % 3 = 2 THEN o_totalprice + 500.0
                        ELSE o_totalprice END AS DOUBLE) AS o_totalprice
       FROM orders
       WHERE o_orderkey % 3 IN (1, 2)
          OR (o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0)"""

  /** Coordinated multi-table publish end to end ([[graft.lake.GraftTxn]];
    * ref: gold defs.yaml materializes several Iceberg assets per run and
    * leans on orchestrator retries for partial failure — this makes the
    * retry SAFE): a fact and a dim table move together — the txn's fact
    * branch takes a price-adjusted append, its dim branch a CoW delete,
    * the fact SOURCE takes a concurrent append during the audit window
    * (publish must merge it, not clobber it), and the commit itself is
    * exercised through the crash path: the fact branch's publish lands
    * first as a "dead coordinator" would leave it, then `commit` claims
    * the journal and rolls forward — the replayed fact publish must
    * no-op on its txn watermark, the dim publish must land. A final
    * `recover` proves full idempotence before the joined cross-table
    * state is hash-checked against DuckDB's replay.
    */
  def lakeTxn(spark: SparkSession, dir: String): DataFrame = {
    val work = Work.dir("graft_laketxn")
    val fact = s"$work/orders_lake"
    val dim = s"$work/customer_lake"
    val key = col("o_orderkey")
    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val customer = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal")

    LakeTable.overwrite(spark, fact, orders.filter(key % 3 === 0))
    LakeTable.overwrite(spark, dim, customer)

    val txn = GraftTxn.begin(spark, Seq(fact, dim), s"$work/txns", id = "gate")
    LakeTable.append(spark, txn.branch(fact), orders.filter(key % 3 === 2)
      .withColumn("o_totalprice", col("o_totalprice") + 500.0))
    LakeTable.delete(spark, txn.branch(dim), col("c_custkey") % 10 === 0)
    // the fact source moves on during the audit window
    LakeTable.append(spark, fact, orders.filter(key % 3 === 1))

    // crash path: the coordinator "died" after the fact publish landed…
    LakeTable.publish(spark, fact, txn.branch(fact), txn = Some("graft-txn:gate" -> 1L))
    // …and the retried commit rolls the plan forward (fact no-ops on its
    // watermark — exactly one PUBLISH may exist — the dim publish lands)
    val versions = GraftTxn.commit(spark, txn)
    val replayed = GraftTxn.recover(spark, s"$work/txns", "gate")
    require(replayed == versions, "recover() after completion must be a no-op")
    val factPubs = LakeTable.history(spark, fact)
      .filter(col("operation") === "PUBLISH").count()
    require(factPubs == 1, s"txn watermark failed: $factPubs fact publishes")

    LakeTable.read(spark, fact).as("o")
      .join(LakeTable.read(spark, dim).as("c"),
        col("o.o_custkey") === col("c.c_custkey"))
      .select(col("o.o_orderkey").as("o_orderkey"),
        col("o.o_custkey").as("o_custkey"), col("c.c_name").as("c_name"),
        col("o.o_totalprice").cast("double").as("o_totalprice"))
  }

  /** DuckDB replay of [[lakeTxn]]: all three fact slices end up present
    * (init %3=0, source append %3=1, branch append %3=2 with +500), the
    * dim lost every custkey%10=0 row, and the join drops their orders.
    */
  val txnOracleSql: String =
    """SELECT o.o_orderkey, o.o_custkey, c.c_name,
              CAST(CASE WHEN o.o_orderkey % 3 = 2 THEN o.o_totalprice + 500.0
                        ELSE o.o_totalprice END AS DOUBLE) AS o_totalprice
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       WHERE c.c_custkey % 10 <> 0"""
}
