package perfbench

import scala.collection.mutable

import graft.{SparkEntry, Tables}

/** The operator board: a fixed set of board keys that make no lake
  * commit, each result consumed by the `noop` sink, key order permuted
  * per pass by the seed. Operators and Spark execution do nearly all the
  * work. It runs as the second phase of [[Nightly]]'s round.
  *
  * The warm-up pass writes every key's result to `work/results/<key>/`
  * and the SQL of its DuckDB oracle (null for a rows-only key) to
  * `work/oracle_sql.json`; run.py checks them outside the timed region.
  */
object Board {
  /** Key → family (the per-layer `operators.<family>_s` split). Eight
    * keys, so a warm pass takes about five seconds on four cores: every
    * family keeps at least one key, and similarity keeps the IVF probe.
    */
  val keys: Seq[(String, String)] = Seq(
    "q1_pricing_summary" -> "relational",
    "range_join"         -> "relational",
    "events_approx"      -> "relational",
    "top_terms"          -> "text",
    "dedup_exact"        -> "dedup",
    "ann_topk"           -> "similarity",
    "ann_ivf"            -> "similarity",
    "mm_features"        -> "other"
  )

  val families: Seq[String] = Seq("relational", "text", "dedup", "similarity", "other")

  /** The seeded key order of pass `r`. */
  def order(seed: Long, r: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + r).shuffle(keys.map(_._1))
}

final class Board {
  import Board._
  private val family = keys.toMap

  /** The inputs the keys scan: read and count every base table. */
  def setup(ctx: Ctx): Unit = {
    val d = ctx.data
    val s = ctx.spark
    Seq(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d), Tables.supplier(s, d),
      Tables.part(s, d), Tables.orders(s, d), Tables.lineitem(s, d), Tables.events(s, d),
      Tables.documents(s, d), Tables.embeddings(s, d)).foreach(_.count())
  }

  /** The correctness pass: each key's result captured as parquet. */
  def capture(ctx: Ctx): Unit = {
    val res = s"${ctx.work}/results"
    ctx.rmrf(res)
    keys.map(_._1).foreach { k =>
      ctx.op(k, "key", "operators") {
        SparkEntry.queries(k)(ctx.spark, ctx.data).write.mode("overwrite").parquet(s"$res/$k")
      }
    }
    // every key, with its DuckDB oracle SQL or null (rows-only keys)
    val oracle = keys.map(_._1).map(k => k -> SparkEntry.oracleSql.get(k).map(Json.str).getOrElse("null"))
    val pw = new java.io.PrintWriter(s"${ctx.work}/oracle_sql.json", "UTF-8")
    try pw.println(Json.obj(oracle)) finally pw.close()
  }

  /** One timed pass. */
  def pass(ctx: Ctx, r: Int): Unit =
    order(ctx.seed, r).foreach { k =>
      ctx.op(k, "key", "operators") {
        SparkEntry.queries(k)(ctx.spark, ctx.data).write.format("noop").mode("overwrite").save()
      }
    }

  def layerMetrics(ctx: Ctx, rounds: Int): Unit = {
    val perFamily = mutable.Map[String, Double]().withDefaultValue(0.0)
    ctx.samples.filter(_.cls == "key").foreach(s => perFamily(family(s.kind)) += s.ms / 1000.0)
    families.foreach(f => ctx.layer(s"operators.${f}_s") = perFamily(f) / rounds)
  }
}
