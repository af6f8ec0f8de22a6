package perfbench

import graft.{Pipeline, Tables}
import graft.lake.LakeTable

/** `nightly_pipeline`: one round is the scheduled job into a fresh
  * warehouse — `Pipeline.runSilver`, `runGold`, then
  * `refreshFactEvents` for two seed-chosen event dates — followed by one
  * pass of the operator board ([[Board]]) over the same inputs. The job
  * is bulk partitioned overwrites, where the lake commit and file-
  * operation path dominates; the board is operators and Spark execution.
  */
final class Nightly extends Workload {
  private val board = new Board
  private var dates: Seq[String] = Nil
  private val counts = scala.collection.mutable.ArrayBuffer[Map[String, Long]]()
  private var lastWh = ""
  private var silverS, goldS, refreshS = 0.0
  private var overwriteCommitS = 0.0

  private def wh(ctx: Ctx, tag: String) = s"${ctx.work}/warehouse/$tag"

  def setup(ctx: Ctx, rep: Int): Unit = {
    val s = ctx.spark
    val d = ctx.data
    board.setup(ctx)
    // the refresh dates: two distinct event dates present in the data
    val all = Tables.events(s, d).selectExpr("cast(to_date(ts) as string) d").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    dates = new scala.util.Random(ctx.seed).shuffle(all).take(2).sorted
    ctx.rmrf(s"${ctx.work}/warehouse")
  }

  private def runOnce(ctx: Ctx, w: String): Unit = {
    val s = ctx.spark
    val d = ctx.data
    val t0 = System.nanoTime()
    val c0 = LakeTable.commitNanos
    val silver = ctx.op("silver", "stage", "pipeline")(Pipeline.runSilver(s, d, w))
    val t1 = System.nanoTime()
    val gold = ctx.op("gold", "stage", "pipeline")(Pipeline.runGold(s, d, w))
    val t2 = System.nanoTime()
    val c1 = LakeTable.commitNanos
    ctx.op("refresh", "stage", "pipeline")(Pipeline.refreshFactEvents(s, d, w, dates))
    val t3 = System.nanoTime()
    if (ctx.timing) {
      silverS += (t1 - t0) / 1e9; goldS += (t2 - t1) / 1e9; refreshS += (t3 - t2) / 1e9
      overwriteCommitS += (c1 - c0) / 1e9
      counts += silver.getOrElse(Map.empty) ++ gold.getOrElse(Map.empty)
    }
  }

  /** The board's correctness pass. The pipeline gets no warm-up: like
    * the scheduled job, it runs in a fresh process.
    */
  def warmup(ctx: Ctx): Unit = board.capture(ctx)

  def round(ctx: Ctx, r: Int): Unit = {
    if (lastWh.nonEmpty) ctx.rmrf(lastWh)
    lastWh = wh(ctx, s"r$r")
    runOnce(ctx, lastWh)
    board.pass(ctx, r)
  }

  /** Per-model counts of every round, and of the final warehouse's
    * tables (after the refresh merged its dates back in), against the
    * same models computed directly.
    */
  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    val d = ctx.data
    val expected: Map[String, Long] =
      Pipeline.silverModels.map { case (n, f) => n -> f(s, d).count() } ++
        Pipeline.goldModels.map { case (n, f) => n -> f(s, d).count() }
    counts.zipWithIndex.foreach { case (c, r) =>
      if (c != expected)
        ctx.fail(s"round $r model counts ${c.toSeq.sorted} != direct ${expected.toSeq.sorted}")
    }
    expected.foreach { case (n, want) =>
      val layer = if (Pipeline.silverModels.contains(n)) "silver" else "gold"
      val got = LakeTable.read(s, Pipeline.tablePath(lastWh, layer, n)).count()
      if (got != want) ctx.fail(s"final $layer/$n has $got rows, direct model has $want")
    }
  }

  def layerMetrics(ctx: Ctx, rounds: Int): Unit = {
    board.layerMetrics(ctx, rounds)
    val L = ctx.layer
    L("pipeline.silver_s") = silverS / rounds
    L("pipeline.gold_s") = goldS / rounds
    L("pipeline.refresh_s") = refreshS / rounds
    val (files, bytes) = ctx.du(lastWh)
    L("pipeline.files_written") = files
    val models = Pipeline.silverModels.size + Pipeline.goldModels.size
    L("lake.overwrite_ms") = overwriteCommitS / (rounds * models) * 1000.0
    // write amplification: bytes written per round over the bytes the
    // round leaves live (rows materialized × stored bytes per row)
    val live = (Pipeline.silverModels.keys.map(n => (n, "silver")) ++
      Pipeline.goldModels.keys.map(n => (n, "gold"))).toSeq.map { case (n, l) =>
      LakeTable.latestSnapshot(ctx.spark, Pipeline.tablePath(lastWh, l, n))
        .map(_.files.map(_.size).sum).getOrElse(0L)
    }.sum
    L("lake.write_amp") = if (live > 0) L.getOrElse("fs.bytes_written", 0.0) / rounds / live else 0.0
    L("lake.space_amp") = if (live > 0) bytes.toDouble / live else 0.0
  }
}
