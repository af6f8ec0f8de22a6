package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A timed call into one layer. Times are epoch milliseconds (the clock
  * Spark stamps job events with) plus a nanosecond duration.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
                      startMs: Long, endMs: Long, nanos: Long)

/** Counters of one Spark job, summed over its tasks. */
final class JobRec(val id: Int, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
}

/** Records every Spark job and the task metrics of its stages. */
final class JobListener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); rec <- jobs.get(j)) {
      rec.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        rec.cpuNs += m.executorCpuTime
        rec.inputBytes += m.inputMetrics.bytesRead
        rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        rec.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}

/** Span recorder. Disabled, `span` only runs its body; enabled, it keeps
  * every span in memory until [[Tracer.write]] at the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String, layer: String, op: Int)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val ns = System.nanoTime() - t0
        open = open.tail
        spans += Span(id, name, layer, parent, op, ms0, System.currentTimeMillis(), ns)
      }
    }

  /** Union length (ms) of `ivs` clipped to [lo, hi]. */
  private def unionMs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var reach = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }

  /** Innermost span containing each job's start: with one client
    * thread, the operation that was running when the job began.
    */
  def jobOwners(jobs: Seq[JobRec]): Map[Int, Int] = {
    val byDepth = spans.sortBy(s => -(s.startMs))
    jobs.flatMap { j =>
      byDepth.find(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .map(s => j.id -> s.id)
    }.toMap
  }

  /** Per-layer self time in seconds: span time minus what its child
    * spans and child jobs cover.
    */
  def selfSeconds(jobs: Seq[JobRec]): Map[String, Double] = {
    val owners = jobOwners(jobs)
    val jobsBySpan = jobs.groupBy(j => owners.getOrElse(j.id, -1))
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val ivs = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs)) ++
          jobsBySpan.getOrElse(s.id, Nil).map(j => (j.startMs, math.max(j.endMs, j.startMs)))
        math.max(0L, (s.endMs - s.startMs) - unionMs(ivs.toSeq, s.startMs, s.endMs))
      }.sum / 1000.0
    }
  }

  /** Union of all job intervals, seconds. */
  def jobUnionSeconds(jobs: Seq[JobRec], lo: Long, hi: Long): Double =
    unionMs(jobs.map(j => (j.startMs, math.max(j.endMs, j.startMs))), lo, hi) / 1000.0

  /** Write spans and jobs (with their owning span) as JSON lines. */
  def write(path: String, jobs: Seq[JobRec]): Unit = {
    val owners = jobOwners(jobs)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.sortBy(_.id).foreach { s =>
        w.println(s"""{"span":${s.id},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
          s""""parent":${s.parent},"op":${s.op},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
          s""""ms":${Json.num(s.nanos / 1e6)}}""")
      }
      jobs.foreach { j =>
        w.println(s"""{"job":${j.id},"parent":${owners.getOrElse(j.id, -1)},""" +
          s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
          s""""cpu_ms":${Json.num(j.cpuNs / 1e6)},"input_bytes":${j.inputBytes},""" +
          s""""shuffle_write_bytes":${j.shuffleWriteBytes}}""")
      }
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
