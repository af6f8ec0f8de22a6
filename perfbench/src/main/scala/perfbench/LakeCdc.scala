package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}

import graft.lake.{Incremental, LakeTable, Scd2}

/** One row of the live table, as the model holds it. `shipDay` is the
  * epoch day of `ship_date`; `year` is the partition value.
  */
final case class LRow(id: Long, orderkey: Long, partkey: Long, suppkey: Long, linenumber: Int,
                      qty: Double, price: Double, disc: Double, tax: Double,
                      rflag: String, lstatus: String, shipDay: Int, year: Int)

object LRow {
  def yearOf(day: Int): Int = java.time.LocalDate.ofEpochDay(day.toLong).getYear
}

/** A client operation on the live table. */
sealed trait CdcOp { def kind: String; def cls: String }
object CdcOp {
  final case class Point(id: Long) extends CdcOp { val kind = "point"; val cls = "read" }
  final case class Bloom(partkey: Long) extends CdcOp { val kind = "bloom"; val cls = "read" }
  final case class Range(from: Int, until: Int) extends CdcOp { val kind = "range"; val cls = "read" }
  case object Agg extends CdcOp { val kind = "agg"; val cls = "read" }
  /** Time travel `back` commits behind the head. */
  final case class TimeTravel(back: Int) extends CdcOp { val kind = "timetravel"; val cls = "read" }
  final case class Append(rows: Seq[LRow]) extends CdcOp { val kind = "append"; val cls = "write" }
  final case class Merge(rows: Seq[LRow], mor: Boolean) extends CdcOp {
    val kind = if (mor) "merge_mor" else "merge"; val cls = "write"
  }
  final case class Delete(ids: Seq[Long], mor: Boolean) extends CdcOp {
    val kind = if (mor) "delete_mor" else "delete"; val cls = "write"
  }
  /** l_quantity += 1 on `ids`. */
  final case class Update(ids: Seq[Long], mor: Boolean) extends CdcOp {
    val kind = if (mor) "update_mor" else "update"; val cls = "write"
  }
  case object RefreshAgg extends CdcOp { val kind = "refresh_agg"; val cls = "cdc" }
  case object Scd2Apply extends CdcOp { val kind = "scd2_apply"; val cls = "cdc" }
  case object Compact extends CdcOp { val kind = "compact"; val cls = "maint" }
  case object Vacuum extends CdcOp { val kind = "vacuum"; val cls = "maint" }
}

/** The independent model of the live table: its rows, and the
  * (row count, quantity sum) of every committed version.
  */
final class CdcModel(initial: Seq[LRow]) {
  val rows = mutable.HashMap[Long, LRow]()
  private val ids = mutable.ArrayBuffer[Long]()
  private val pos = mutable.HashMap[Long, Int]()
  var nextId: Long = 0L
  val minDay: Int = if (initial.isEmpty) 9131 else initial.map(_.shipDay).min
  val maxDay: Int = if (initial.isEmpty) 11630 else initial.map(_.shipDay).max
  /** (version, rows, quantity sum) per commit of the live table. */
  val versions = mutable.ArrayBuffer[(Long, Long, Double)]()
  initial.foreach(put)

  def put(r: LRow): Unit = {
    if (!rows.contains(r.id)) { pos(r.id) = ids.size; ids += r.id }
    rows(r.id) = r
    nextId = math.max(nextId, r.id + 1)
  }

  def remove(id: Long): Unit = if (rows.remove(id).isDefined) {
    val i = pos.remove(id).get
    val last = ids.remove(ids.size - 1)
    if (last != id) { ids(i) = last; pos(last) = i }
  }

  def size: Int = ids.size

  /** `k` distinct live keys, drawn by `rng`. */
  def pick(rng: scala.util.Random, k: Int): Seq[Long] = {
    val out = mutable.LinkedHashSet[Long]()
    val want = math.min(k, ids.size)
    while (out.size < want) out += ids(rng.nextInt(ids.size))
    out.toSeq
  }

  def qtySum: Double = rows.valuesIterator.map(_.qty).sum

  /** Record the engine's version after a commit of the current rows. */
  def commit(version: Long): Unit = {
    if (versions.isEmpty || versions.last._1 != version) versions += ((version, size.toLong, qtySum))
  }

  /** Apply a write to the rows; returns the number of rows it changed. */
  def apply(op: CdcOp): Long = op match {
    case CdcOp.Append(rs) => rs.foreach(put); rs.size
    case CdcOp.Merge(rs, _) => rs.foreach(put); rs.size
    case CdcOp.Delete(ks, _) =>
      val hit = ks.count(rows.contains); ks.foreach(remove); hit
    case CdcOp.Update(ks, _) =>
      ks.flatMap(rows.get).map(r => put(r.copy(qty = r.qty + 1))).size
    case _ => 0L
  }

  def groups: Map[String, (Long, Double)] =
    rows.valuesIterator.toSeq.groupBy(_.rflag).map { case (f, rs) => f -> ((rs.size.toLong, rs.map(_.qty).sum)) }

  /** Order-independent hash of the live rows. */
  def hash: Long = rows.valuesIterator.map(LakeCdc.rowHash).sum
}

/** Seeded generator of the op stream. Ops come in decks of every kind
  * once, in a fixed order: copy-on-write DML, reads of the rewritten
  * table, a change-feed refresh, merge-on-read DML, reads over the
  * deletion vectors it left, the SCD2 consumer, then maintenance. The
  * deck is a coverage deck, not a traffic model: it samples every kind
  * once per deck, whatever its share of real traffic. The seed draws the parameters (which live
  * keys, which rows, which dates); sizes are fixed, so every deck does
  * the same work. Each DML touches `batch` rows, the size of a TPC-H
  * refresh function (0.1% of the table). Keys are drawn from the model's
  * live set, so no DML matches nothing.
  */
final class OpGen(seed: Long, val batch: Int) {
  import CdcOp._
  private val rng = new scala.util.Random(seed)
  /** A MERGE's source: half updates of live keys, half new keys, so
    * both clauses do the same work.
    */
  val MergeUpdates: Int = (batch + 1) / 2
  val MergeInserts: Int = batch / 2
  /** One month of ship dates, as in TPC-H Q14. */
  val RangeDays = 30
  /** Commits behind the head a time-travel read goes: in the fixed
    * deck order (merge_mor, delete_mor, update_mor just before it), the
    * version the merge-on-read merge committed, which carries deletion
    * vectors.
    */
  val TimeTravelBack = 2
  private var deck: List[String] = Nil

  private def freshRow(m: CdcModel, id: Long): LRow = {
    val day = m.minDay + rng.nextInt(m.maxDay - m.minDay + 1)
    LRow(id, rng.nextInt(1 << 20).toLong, rng.nextInt(20000).toLong, rng.nextInt(1000).toLong,
      1 + rng.nextInt(7), (1 + rng.nextInt(50)).toDouble,
      math.round(rng.nextDouble() * 10400000.0 + 90000.0) / 100.0,
      rng.nextInt(11) / 100.0, rng.nextInt(9) / 100.0,
      Seq("N", "A", "R")(rng.nextInt(3)), Seq("O", "F")(rng.nextInt(2)), day, LRow.yearOf(day))
  }

  private def fresh(m: CdcModel, n: Int): Seq[LRow] =
    (0 until n).map(i => freshRow(m, m.nextId + i))

  def next(m: CdcModel): CdcOp = {
    if (deck.isEmpty) deck = OpGen.Kinds.toList
    val kind = deck.head
    deck = deck.tail
    def live(k: Int) = m.pick(rng, k)
    kind match {
      case "point" => Point(live(1).head)
      case "bloom" => Bloom(m.rows(live(1).head).partkey)
      case "range" =>
        val d = m.rows(live(1).head).shipDay
        Range(d, d + RangeDays)
      case "agg" => Agg
      case "timetravel" => TimeTravel(TimeTravelBack)
      case "append" => Append(fresh(m, batch))
      case "merge" | "merge_mor" =>
        val upd = live(MergeUpdates).map { id =>
          val r = m.rows(id)
          r.copy(qty = r.qty % 50 + 1, disc = ((math.round(r.disc * 100) + 3) % 11) / 100.0)
        }
        Merge(upd ++ fresh(m, MergeInserts), kind == "merge_mor")
      case "delete" | "delete_mor" => Delete(live(batch), kind == "delete_mor")
      case "update" | "update_mor" => Update(live(batch), kind == "update_mor")
      case "refresh_agg" => RefreshAgg
      case "scd2_apply" => Scd2Apply
      case "compact" => Compact
      case "vacuum" => Vacuum
    }
  }
}

object OpGen {
  val Kinds: Seq[String] = Seq("append", "merge", "delete", "update", "point", "bloom",
    "refresh_agg", "merge_mor", "delete_mor", "update_mor", "range", "agg", "timetravel",
    "scd2_apply", "compact", "vacuum")

  /** Rows per DML on a table of `rows` rows: a TPC-H refresh function
    * (RF1 inserts, RF2 deletes SF×1500 orders with their line items)
    * changes about 0.1% of ORDERS and LINEITEM.
    */
  def batchFor(rows: Int): Int = math.max(2, math.round(rows * 0.001).toInt)
}

object LakeCdc {
  val Cols: Seq[String] = Seq("li_id", "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "ship_date", "ship_year")

  def rowHash(r: LRow): Long =
    scala.util.hashing.MurmurHash3.stringHash(
      s"${r.id}|${r.orderkey}|${r.partkey}|${r.suppkey}|${r.linenumber}|${r.qty}|${r.price}|" +
        s"${r.disc}|${r.tax}|${r.rflag}|${r.lstatus}|${r.shipDay}|${r.year}").toLong

  def toDf(spark: SparkSession, rows: Seq[LRow]): DataFrame = {
    import spark.implicits._
    rows.toDF().select(col("id").as("li_id"), col("orderkey").as("l_orderkey"),
      col("partkey").as("l_partkey"), col("suppkey").as("l_suppkey"),
      col("linenumber").as("l_linenumber"), col("qty").as("l_quantity"),
      col("price").as("l_extendedprice"), col("disc").as("l_discount"), col("tax").as("l_tax"),
      col("rflag").as("l_returnflag"), col("lstatus").as("l_linestatus"),
      expr("date_from_unix_date(shipDay)").as("ship_date"), col("year").as("ship_year"))
  }

  /** The live table's columns in model order (ship_date as epoch day). */
  def modelCols: Seq[org.apache.spark.sql.Column] =
    Cols.map(c => if (c == "ship_date") expr("unix_date(ship_date)") else col(c))

  /** Collected [[modelCols]] rows, back in model form. */
  def fromRows(rs: Array[org.apache.spark.sql.Row]): Seq[LRow] =
    rs.toSeq.map(r => LRow(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4),
      r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getString(9),
      r.getString(10), r.getInt(11), r.getInt(12)))

  def fromDf(df: DataFrame): Seq[LRow] = fromRows(df.select(modelCols: _*).collect())

  /** The generated `lineitem` read with plain Spark (not the engine),
    * keyed by rank in ship-date order so the key clusters with the
    * partition column.
    */
  def initialRows(spark: SparkSession, data: String): Seq[LRow] = {
    val raw = spark.read.parquet(s"$data/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), expr("unix_date(to_date(l_shipdate))"))
      .collect()
    raw.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3), r.getDouble(4),
      r.getDouble(5), r.getDouble(6), r.getDouble(7), r.getString(8), r.getString(9), r.getInt(10)))
      .sortBy(t => (t._11, t._1, t._4, t._2, t._3, t._5, t._6))
      .zipWithIndex.map { case (t, i) =>
        LRow(i.toLong, t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8, t._9, t._10, t._11,
          LRow.yearOf(t._11))
      }.toSeq
  }

  /** Create the live table (partitioned by ship year, bloom filter on
    * l_partkey) holding `rows`, sorted by key so it clusters.
    */
  def load(spark: SparkSession, t: String, rows: Seq[LRow]): Long = {
    LakeTable.overwrite(spark, t, toDf(spark, Nil), Seq("ship_year"))
    LakeTable.enableBloomFilter(spark, t, "l_partkey")
    LakeTable.append(spark, t, toDf(spark, rows.sortBy(_.id)).repartition(4, col("ship_year"))
      .sortWithinPartitions("li_id"))
  }
}

/** `lake_cdc`: one live, partitioned table under a closed loop of
  * [[OpGen]] decks — reads, row-level writes (CoW and MoR), change-feed
  * consumers and maintenance — each checked against [[CdcModel]].
  */
final class LakeCdc extends Workload {
  import CdcOp._
  import LakeCdc._

  private var initial: Seq[LRow] = Nil
  private var model: CdcModel = _
  private var gen: OpGen = _
  private var t, aggT, dimT = ""
  /** Deferred read checks (what, model's answer, engine's answer), compared in verify. */
  private val checks = mutable.ArrayBuffer[(String, Any, Any)]()
  private val aggChecks = mutable.ArrayBuffer[(Long, Map[String, (Long, Double)])]()
  private var changed, dml, noop = 0L
  private val snapshotMs = mutable.ArrayBuffer[Double]()
  /** Per traced read: (data files opened, files live, live files with a deletion vector). */
  private val readFiles = mutable.ArrayBuffer[(Long, Long, Long)]()
  /** One round is one deck: every op kind once. */
  val OpsPerRound: Int = OpGen.Kinds.size
  /** Versions vacuum keeps: a change-feed consumer runs once per deck,
    * so it lags at most two decks' commits (eight per deck).
    */
  val RetainVersions = 20

  def setup(ctx: Ctx, rep: Int): Unit = {
    val s = ctx.spark
    if (initial.isEmpty) initial = initialRows(s, ctx.data)
    ctx.rmrf(s"${ctx.work}/cdc")
    val root = s"${ctx.work}/cdc/$rep"
    t = s"$root/live"; aggT = s"$root/agg_by_flag"; dimT = s"$root/dim_scd2"
    model = new CdcModel(initial)
    gen = new OpGen(ctx.seed, OpGen.batchFor(initial.size))
    model.commit(load(s, t, initial))
    refreshAgg(s)
    Scd2.applyFeed(s, t, dimT, Seq("li_id"), Seq("l_quantity", "l_discount"))
  }

  private def refreshAgg(s: SparkSession): Long =
    Incremental.refreshAgg(s, t, aggT, Seq("l_returnflag"), Map("qty" -> col("l_quantity")))

  private def expect(what: String, want: Any, got: Option[Any]): Unit =
    got.foreach(g => checks += ((what, want, g)))

  private def readDf(s: SparkSession) = LakeTable.read(s, t)

  /** Collect a read; traced runs also note the data files it opened
    * against the files live in the snapshot it read.
    */
  private def collectRead(ctx: Ctx, df: DataFrame): Array[org.apache.spark.sql.Row] = {
    CountingLocalFs.takeOpened()
    val rows = df.collect()
    if (ctx.tracer.enabled) {
      val files = LakeTable.latestSnapshot(ctx.spark, t).map(_.files).getOrElse(Nil)
      // a snapshot's file paths are relative to the table's data/ directory
      val data = new org.apache.hadoop.fs.Path(t, "data")
      val live = files.map(f => new org.apache.hadoop.fs.Path(data, f.path).toUri.getPath).toSet
      readFiles += ((CountingLocalFs.takeOpened().count(live).toLong, files.size.toLong,
        files.count(_.dv.isDefined).toLong))
    }
    rows
  }

  /** Execute one op against the engine and the model. */
  private def run(ctx: Ctx, op: CdcOp): Unit = {
    val s = ctx.spark
    val layerName = op.cls match {
      case "read" => "lake.scan"; case "cdc" => "lake.cdc"; case _ => "lake.commit"
    }
    op match {
      case Point(id) =>
        val got = ctx.op(op.kind, op.cls, layerName)(fromRows(collectRead(ctx,
          readDf(s).filter(col("li_id") === id).select(modelCols: _*))))
        expect(s"point $id", model.rows.get(id).toSeq, got)
      case Bloom(pk) =>
        val got = ctx.op(op.kind, op.cls, layerName)(collectRead(ctx,
          readDf(s).filter(col("l_partkey") === pk).select("li_id")).map(_.getLong(0)).toSet)
        expect(s"bloom $pk", model.rows.valuesIterator.filter(_.partkey == pk).map(_.id).toSet, got)
      case Range(a, b) =>
        val got = ctx.op(op.kind, op.cls, layerName) {
          val r = collectRead(ctx, readDf(s)
            .filter(expr(s"ship_date >= date_from_unix_date($a) AND ship_date < date_from_unix_date($b)"))
            .agg(count(lit(1)), sum(col("l_quantity")))).head
          (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
        }
        val in = model.rows.valuesIterator.filter(r => r.shipDay >= a && r.shipDay < b).toSeq
        expect(s"range $a..$b", (in.size.toLong, in.map(_.qty).sum), got)
      case Agg =>
        val got = ctx.op(op.kind, op.cls, layerName)(collectRead(ctx, readDf(s)
          .groupBy("l_returnflag").agg(count(lit(1)), sum(col("l_quantity"))))
          .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap)
        expect("agg", model.groups, got)
      case TimeTravel(back) =>
        val (v, n, q) = model.versions(math.max(0, model.versions.size - 1 - back))
        val got = ctx.op(op.kind, op.cls, layerName) {
          val r = s.sql(s"SELECT count(*) AS n, sum(l_quantity) AS q FROM `$t` VERSION AS OF $v")
            .collect().head
          (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
        }
        expect(s"timetravel v$v", (n, q), got)
      case Append(rs) => write(ctx, op, LakeTable.append(s, t, toDf(s, rs)))
      case Merge(rs, mor) =>
        write(ctx, op,
          if (mor) LakeTable.mergeMergeOnRead(s, t, toDf(s, rs), Seq("li_id"))
          else LakeTable.merge(s, t, toDf(s, rs), Seq("li_id")))
      case Delete(ks, mor) =>
        val c = col("li_id").isin(ks: _*)
        write(ctx, op, if (mor) LakeTable.deleteMergeOnRead(s, t, c) else LakeTable.delete(s, t, c))
      case Update(ks, mor) =>
        val set = Seq("l_quantity" -> (col("l_quantity") + 1))
        val c = col("li_id").isin(ks: _*)
        write(ctx, op,
          if (mor) LakeTable.updateMergeOnRead(s, t, set, c) else LakeTable.update(s, t, set, c))
      case RefreshAgg =>
        ctx.op(op.kind, op.cls, layerName)(refreshAgg(s)).foreach { v =>
          aggChecks += ((v, model.groups))
        }
      case Scd2Apply =>
        ctx.op(op.kind, op.cls, layerName)(
          Scd2.applyFeed(s, t, dimT, Seq("li_id"), Seq("l_quantity", "l_discount")))
      case Compact =>
        ctx.op(op.kind, op.cls, layerName)(LakeTable.compact(s, t, sortBy = Seq("li_id")))
          .foreach(model.commit)
      case Vacuum =>
        ctx.op(op.kind, op.cls, layerName)(LakeTable.vacuum(s, t, retainVersions = RetainVersions, graceMs = 0L))
    }
    if (ctx.tracer.enabled) {
      val t0 = System.nanoTime()
      ctx.tracer.span("snapshot", "lake.log", -1)(LakeTable.latestSnapshot(s, t))
      snapshotMs += (System.nanoTime() - t0) / 1e6
    }
  }

  /** A DML: run it, then apply it to the model and record the version. */
  private def write(ctx: Ctx, op: CdcOp, body: => Long): Unit =
    ctx.op(op.kind, op.cls, "lake.commit")(body).foreach { v =>
      val n = model.apply(op)
      if (ctx.timing) {
        changed += n; dml += 1
        if (n == 0) noop += 1
      }
      model.commit(v)
    }

  def warmup(ctx: Ctx): Unit = ()

  def round(ctx: Ctx, r: Int): Unit = (0 until OpsPerRound).foreach(_ => run(ctx, gen.next(model)))

  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    ctx.context("noop_ratio") = if (dml > 0) noop.toDouble / dml else 0.0
    checks.foreach { case (what, want, got) =>
      if (want != got) ctx.fail(s"$what: engine ${String.valueOf(got).take(200)} != model ${String.valueOf(want).take(200)}")
    }
    val final0 = fromDf(LakeTable.read(s, t))
    if (final0.size != model.size || final0.map(rowHash).sum != model.hash)
      ctx.fail(s"final table: ${final0.size} rows (hash ${final0.map(rowHash).sum}) != model ${model.size} rows (hash ${model.hash})")
    // every refresh the loop made, read back at its version, then a final one
    val groupsOf = (df: DataFrame) => df.select(col("l_returnflag"), col(Incremental.RowsCol), col("qty"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      .filter(_._2._1 > 0)
    (aggChecks :+ ((refreshAgg(s), model.groups))).foreach { case (v, want) =>
      val got = groupsOf(LakeTable.read(s, aggT, Some(v)))
      if (got != want) ctx.fail(s"refresh_agg v$v: $got != model $want")
    }
    Scd2.applyFeed(s, t, dimT, Seq("li_id"), Seq("l_quantity", "l_discount"))
    val cur = LakeTable.read(s, dimT).filter(col(Scd2.CurrentCol))
      .select("li_id", "l_quantity", "l_discount").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val want = model.rows.valuesIterator.map(r => (r.id, r.qty, r.disc)).toSet
    if (cur.length != want.size || cur.toSet != want)
      ctx.fail(s"scd2 current rows: ${cur.length} (distinct ${cur.toSet.size}) != model ${want.size}")
  }

  def layerMetrics(ctx: Ctx, rounds: Int): Unit = {
    val s = ctx.spark
    val L = ctx.layer
    val byKind = ctx.samples.groupBy(_.kind).map { case (k, ss) => k -> ss.map(_.ms).toSeq }
    def p50(k: String) = Stats.median(byKind.getOrElse(k, Nil))
    Seq("append", "merge", "merge_mor", "delete", "delete_mor", "update", "update_mor",
      "compact", "vacuum").foreach(k => L(s"lake.${k}_ms") = p50(k))
    Seq("point", "bloom", "range", "agg", "timetravel").foreach(k => L(s"scan.${k}_ms") = p50(k))
    L("cdc.refresh_agg_ms") = p50("refresh_agg")
    L("cdc.scd2_apply_ms") = p50("scd2_apply")
    L("cdc.feed_rows") = changed
    L("cdc.noop_ratio") = ctx.context("noop_ratio")
    def cls(c: String) = ctx.samples.filter(_.cls == c).map(_.ms).toSeq
    L("lake.commit_p50_ms") = Stats.median(cls("write"))
    L("lake.commit_p90_ms") = Stats.tail(cls("write"))._2
    L("scan.read_p50_ms") = Stats.median(cls("read"))
    L("scan.read_p90_ms") = Stats.tail(cls("read"))._2
    L("cdc.refresh_p50_ms") = Stats.median(cls("cdc"))
    L("lake.snapshot_ms") = Stats.median(snapshotMs.toSeq)
    L("lake.log_files") = ctx.du(s"$t/_graft_log")._1
    val liveBytes = LakeTable.latestSnapshot(s, t).get.files.map(_.size).sum.toDouble
    if (readFiles.nonEmpty) {
      val n = readFiles.size.toDouble
      L("scan.files_read") = readFiles.map(_._1).sum / n
      L("scan.files_live") = readFiles.map(_._2).sum / n
      L("scan.dv_files") = readFiles.map(_._3).sum / n
      L("scan.prune_ratio") = 1.0 - readFiles.map(_._1).sum.toDouble / math.max(1L, readFiles.map(_._2).sum)
    }
    val bytesPerRow = liveBytes / math.max(1, model.size)
    L("lake.write_amp") =
      if (changed > 0) L.getOrElse("fs.bytes_written", 0.0) / (changed * bytesPerRow) else 0.0
    L("lake.space_amp") = ctx.du(t)._2 / liveBytes
  }
}
