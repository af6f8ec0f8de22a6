package perfbench

import scala.collection.mutable

/** JVM side of the benchmark (launched by perfbench/run.py):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --work DIR --out FILE [--cores N]
  *
  * Builds the session, sets the workload up (several times, each from
  * scratch; the median is `setup_s`), warms it up (session start, first
  * set-up and warm-up together are `setup_cold_s`), repeats rounds while
  * the next one should still end inside `--seconds` (at least one), checks
  * the results, and writes one JSON object to `--out`: the end-to-end
  * metrics, the per-layer metrics (traced runs), the op counts, every
  * failure with its cause, and box-regime context.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a.getOrElse("cores", "4").toInt
    val work = a("work")
    val loadPre = Meters.loadAvg
    Meters.watchHeapAfterGc()

    val t0 = System.nanoTime()
    val b = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    // traced runs count file-system calls; untraced ones use the stock FS
    if (traced) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val listener = new JobListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, new Tracer(traced), work, a("data"), a("seed").toLong)
    val w: Workload = workload match {
      case "nightly_pipeline" => new Nightly
      case "lake_cdc"         => new LakeCdc
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupS = (0 until SetupReps).map { i =>
      val s0 = System.nanoTime()
      w.setup(ctx, i)
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup(ctx)
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupColdS = sessionS + setupS.head + warmupS
    val canaryS = Meters.writeCanary(spark, s"$work/canary")

    // ---- timed region
    if (traced) { org.apache.spark.PerfbenchBus.drain(spark.sparkContext); listener.jobs.clear() }
    ctx.tracer.spans.clear()
    val issuedBefore = ctx.issued
    val roundS = mutable.ArrayBuffer[Double]()
    val roundCpu = mutable.ArrayBuffer[Double]()
    val fs0 = Meters.fs
    val (fsR0, fsW0) = (CountingLocalFs.reads.get, CountingLocalFs.writes.get)
    val gc0 = Meters.gcSeconds
    val c0 = graft.lake.LakeTable.commitNanos
    val f0 = graft.lake.LakeTable.fileOpsNanos
    val startMs = System.currentTimeMillis()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    ctx.timing = true
    // another round starts only if it should end inside the window
    while (roundS.isEmpty || elapsed + roundS.last <= seconds) {
      val cpu = Meters.cpuSeconds
      val r0 = System.nanoTime()
      ctx.tracer.span(s"round ${roundS.size}", "harness", -1)(w.round(ctx, roundS.size))
      roundS += (System.nanoTime() - r0) / 1e9
      roundCpu += Meters.cpuSeconds - cpu
    }
    ctx.timing = false
    val timedS = elapsed
    val endMs = System.currentTimeMillis()
    val fsD = Meters.fs - fs0
    val (fsReads, fsWrites) = (CountingLocalFs.reads.get - fsR0, CountingLocalFs.writes.get - fsW0)
    val gcS = Meters.gcSeconds - gc0
    val commitS = (graft.lake.LakeTable.commitNanos - c0) / 1e9
    val fileOpsS = (graft.lake.LakeTable.fileOpsNanos - f0) / 1e9
    val timedOps = ctx.issued - issuedBefore
    // ---- end of timed region

    val v0 = System.nanoTime()
    w.verify(ctx)
    val verifyS = (System.nanoTime() - v0) / 1e9
    val loadPost = Meters.loadAvg
    val lat = ctx.samples.map(_.ms).toSeq
    val (tailP, tailMs) = Stats.tail(lat)
    val e2e = Seq(
      "setup_s" -> Stats.median(setupS),
      "setup_cold_s" -> setupColdS,
      "round_s" -> Stats.median(roundS.toSeq),
      "ops_per_s" -> timedOps / timedS,
      "op_geomean_ms" -> Stats.geomean(lat),
      "op_p50_ms" -> Stats.median(lat),
      "op_p90_ms" -> tailMs,
      "cpu_s" -> Stats.median(roundCpu.toSeq),
      "rss_peak_mb" -> Meters.rssPeakMb)

    if (traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val jobs = listener.jobs.values.toSeq
      val L = ctx.layer
      L("spark.jobs") = jobs.size
      L("spark.tasks") = jobs.map(_.tasks).sum
      L("spark.executor_cpu_s") = jobs.map(_.cpuNs).sum / 1e9
      val union = ctx.tracer.jobUnionSeconds(jobs, startMs, endMs)
      L("spark.job_union_s") = union
      L("spark.driver_gap_s") = math.max(0.0, timedS - union)
      L("spark.input_bytes") = jobs.map(_.inputBytes).sum
      L("spark.shuffle_write_bytes") = jobs.map(_.shuffleWriteBytes).sum
      L("spark.spill_bytes") = jobs.map(_.spillBytes).sum
      L("spark.output_bytes") = jobs.map(_.outputBytes).sum
      L("lake.commit_s") = commitS
      L("lake.fileops_s") = fileOpsS
      L("fs.bytes_written") = fsD.bytesWritten
      L("fs.bytes_read") = fsD.bytesRead
      L("fs.write_ops") = fsWrites
      L("fs.read_ops") = fsReads
      L("jvm.gc_s") = gcS
      L("jvm.heap_after_gc_peak_mb") = Meters.heapAfterGcPeakMb
      val self = ctx.tracer.selfSeconds(jobs)
      Seq("operators", "pipeline", "lake.commit", "lake.scan", "lake.cdc", "lake.log", "harness")
        .foreach(l => L(s"self.${l.replace('.', '_')}_s") = self.getOrElse(l, 0.0))
      e2e.foreach { case (k, v) => L(s"traced.$k") = v }
      L("traced.tracing_spans") = ctx.tracer.spans.size
      w.layerMetrics(ctx, roundS.size)
      ctx.tracer.write(s"$work/trace.jsonl", jobs)
    }

    val kinds = ctx.samples.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, ss) =>
      k -> Json.obj(Seq("n" -> ss.size.toString, "p50_ms" -> Json.num(Stats.median(ss.map(_.ms).toSeq))))
    }
    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ctx.issued.toString,
      "timed_ops" -> timedOps.toString,
      "rounds" -> roundS.size.toString,
      "timed_s" -> Json.num(timedS),
      "errors" -> ctx.errors.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layer" -> Json.obj(ctx.layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "op_kinds" -> Json.obj(kinds),
      "context" -> Json.obj(Seq(
        "load_pre" -> Json.num(loadPre), "load_post" -> Json.num(loadPost),
        "write_canary_s" -> Json.num(canaryS), "session_s" -> Json.num(sessionS),
        "heap_after_gc_peak_mb" -> Json.num(Meters.heapAfterGcPeakMb),
        "setup_reps_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
        "warmup_s" -> Json.num(warmupS), "verify_s" -> Json.num(verifyS),
        "round_s" -> roundS.map(Json.num).mkString("[", ",", "]"),
        "op_tail_percentile" -> Json.num(tailP), "cores" -> cores.toString,
        "traced" -> traced.toString) ++ ctx.context.toSeq.map { case (k, v) => k -> Json.num(v) })))
    val pw = new java.io.PrintWriter(a("out"), "UTF-8")
    try pw.println(out) finally pw.close()
    spark.stop()
  }
}
