package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.SqlShims

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. A full warmup pass runs first so the
  * timed passes measure steady-state engine throughput (plan + codegen
  * compiled, JIT warm, parquet footers in page cache) rather than JVM
  * startup — the regime that matters for a long-running cluster.
  *
  * The benchmarked action is a `noop`-sink write, not count():
  * count() lets Catalyst prune every projected column, so
  * row-preserving queries (redact_pii, token_count, fact_*) would be
  * timed without their regex/hash work. The noop sink consumes every
  * column of every row and discards it — full computation, no I/O.
  *
  * A query that throws is reported in a separate "failed" list with
  * value -1, never as a (fast-looking) partial elapsed time. Two timed
  * passes run after warmup and the per-query minimum is kept —
  * single-sample local[32] timings carry ±30% background-load noise.
  *
  * Contamination gate (three rounds of RETRY-stamped boards taught us
  * a 1-minute load sample cannot see the FS-latency regime):
  *   - load average is sampled BEFORE and AFTER the run;
  *   - a fixed sub-second CANARY query (events_json: one codegen'd
  *     get_json_object projection, untouched since r5) is timed right
  *     after warmup. If it exceeds SPARK_GRAFT_CANARY_MAX seconds the
  *     box is in a bad regime: sleep and re-time, up to
  *     SPARK_GRAFT_CANARY_RETRIES times, before starting the board;
  *   - the canary is re-timed at the END, catching contamination that
  *     arrives mid-run (the 07:50-r14 pathology: clean load sample,
  *     2x FS latency);
  *   - a WRITE canary (3-commit lake cycle) gates alongside it: the
  *     read canary cannot see the FS-latency regime that inflates the
  *     commit-machinery keys (r15's first board: canary clean at
  *     0.52s, lake_mor still 1.6x its quiet value off a loaded start).
  * Both canary samples and both load samples ship in the JSON; a
  * still-hot canary stamps note=RETRY so the artifact carries its own
  * "re-measure before judging" flag.
  *
  * Per-key instrumentation (round 16, tightened round 17):
  *   - COMMIT SPLIT: LakeTable.commitNanos deltas around each key
  *     ("commit_s" in BENCH_DETAIL, "commit" total on the compact
  *     line). NOTE commit_s includes the staged write's QUERY
  *     EXECUTION (the write action runs the upstream plan), so for
  *     write-heavy keys it overstates pure machinery — that is what
  *     the second meter is for:
  *   - FILE-OPS SPLIT (round 17): LakeTable.fileOpsNanos deltas meter
  *     ONLY the post-execution file operations (list/move/stat/footer/
  *     log/publish) — the truly FS-latency-bound part that tracks the
  *     write canary's regime ("fileops_s" in DETAIL, "fo" total on the
  *     compact line).
  *   - OUTLIER GATE (tightened round 17): a key >2x its quiet
  *     reference (optional BENCH_EXPECTED.json /
  *     SPARK_GRAFT_BENCH_EXPECTED) and >1s, while the nearest write-
  *     canary sample reads degraded (>1.5x quiet), or >5s absolute
  *     over its reference regardless of regime, gets ONE re-run after
  *     a pause — transient box regimes self-correct, true regressions
  *     reproduce; re-run keys listed in DETAIL, count stamped in-band
  *     as "rr" on the compact line.
  *   - WCANARY TIMELINE: the write canary re-samples every 8th key
  *     and immediately before every gate-triggered re-run, so a
  *     mid-board regime shift localizes to the keys it hit
  *     ("wcanary_timeline" in DETAIL: a list of `[index, seconds]`
  *     pairs). A non-negative index `i` is a sweep sample taken
  *     before board key `i` (0 = the start-of-board canary); a
  *     NEGATIVE index `-(i+1)` tags a sample the outlier gate took for
  *     key `i` — at its 2x-arm decision or right before its re-run —
  *     so sweep and gate samples never share an index.
  *   - JOB SPLIT: a SparkListener records every Spark job of a key's
  *     timed runs; for the best run, DETAIL carries `jobs` (job count),
  *     `job_union_s` (the union of the job intervals — time the
  *     cluster had work), `driver_gap_s` (wall − union: planning, log
  *     replay, driver-side loops and per-job overhead) and `top_jobs`
  *     (the 5 job descriptions — last stage name, first 60 characters
  *     — with the most summed job time, as `[description, count,
  *     seconds]`): whether a key is bound by query execution or by
  *     per-job/driver overhead.
  *
  * The printed line is kept COMPACT (2-3 significant digits, short
  * field names, empty fields omitted): the driver captures only the
  * last 2000 characters of stdout, and r1-r14's full-precision lines
  * exceeded it — every board shipped unparseable. Full-precision
  * per-query timings are written to SPARK_GRAFT_BENCH_OUT
  * (default ./BENCH_DETAIL.json) for human/judge consumption.
  */
object Bench {
  private final case class JobRec(desc: String, start: Long, var end: Long)

  /** One timed run's job split: job count, union of the job intervals
    * and driver gap (seconds), top descriptions by summed job time. */
  private final case class JobSplit(jobs: Int, unionS: Double, gapS: Double,
                                    top: Seq[(String, Int, Double)])

  private def jobSplit(recs0: Seq[JobRec], wall: Double): JobSplit = {
    val recs = recs0.filter(_.end > 0).sortBy(_.start)
    // union of job intervals -> busy time; wall - busy = driver gap
    var busy = 0L
    var curS = -1L; var curE = -1L
    recs.foreach { r =>
      if (r.start > curE) { busy += (curE - curS) max 0L; curS = r.start; curE = r.end }
      else if (r.end > curE) curE = r.end
    }
    busy += (curE - curS) max 0L
    val byDesc = recs.groupBy(r => if (r.desc.length > 60) r.desc.take(60) else r.desc)
      .map { case (d, rs) => (d, rs.size, rs.map(r => r.end - r.start).sum / 1e3) }
      .toSeq.sortBy(-_._3)
    JobSplit(recs.size, busy / 1e3, wall - busy / 1e3, byDesc.take(5))
  }

  // Locale.ROOT: the f-interpolator honors the default locale, and a
  // comma-decimal locale would make the compact JSON line unparseable.
  private def fmt(v: Double): String =
    if (v < 0) "-1"
    else if (v < 9.995) String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    else if (v < 99.95) String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    else String.format(java.util.Locale.ROOT, "%.0f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val canaryMax = sys.env.get("SPARK_GRAFT_CANARY_MAX").flatMap(_.toDoubleOption).getOrElse(1.5)
    val canaryRetries = sys.env.get("SPARK_GRAFT_CANARY_RETRIES").flatMap(_.toIntOption).getOrElse(8)
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_DETAIL.json")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = js.stageInfos.lastOption.map(_.name)
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))))
          .getOrElse("")
        jobs.put(js.jobId, JobRec(desc, js.time, -1L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val r = jobs.get(je.jobId)
        if (r != null) r.end = je.time
      }
    })

    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadPre = loadAvg

    // Full materialization of every column, zero sink cost.
    def consume(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // SPARK_GRAFT_ONLY=a,b,c restricts the run (diagnosis; the driver
    // never sets it, so driver benches always cover every query)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // warmup: execute each query once (ignore failures; timed passes report them)
    names.foreach { n =>
      try consume(SparkEntry.queries(n)(spark, sfDir))
      catch { case _: Throwable => () }
      spark.catalog.clearCache() // operators cache intermediates; isolate queries
    }

    // Canary: warm events_json already ran above; time it cold-cache-free.
    def timeCanary(): Double = {
      val t0 = System.nanoTime()
      try consume(SparkEntry.queries("events_json")(spark, sfDir))
      catch { case _: Throwable => return -1.0 }
      finally spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    // Write canary: the read canary cannot see the FS-latency regime
    // that inflates the commit-machinery keys (lake_mor, scd2_*) — a
    // fixed 3-commit lake cycle (overwrite + 2 appends of 32 rows)
    // probes exactly the stage-files + rename + log-write path those
    // keys pay per commit. Quiet value ~1.5s at 32 cpus (measured
    // r15); gate at SPARK_GRAFT_WCANARY_MAX (default 3.0s = 2x quiet).
    val wcanaryMax = sys.env.get("SPARK_GRAFT_WCANARY_MAX").flatMap(_.toDoubleOption).getOrElse(3.0)
    // like timeCanary: an erroring canary reports -1 (stamped in the
    // note below) rather than destroying the whole board; the probe
    // table is deleted so retries don't accumulate temp dirs
    def timeWriteCanary(): Double = {
      import org.apache.spark.sql.functions.col
      val root = java.nio.file.Files.createTempDirectory("bench_wc")
      try {
        val dir = root.toString + "/t"
        val df = spark.range(32).select(col("id"))
        val t0 = System.nanoTime()
        graft.lake.LakeTable.overwrite(spark, dir, df)
        graft.lake.LakeTable.append(spark, dir, df)
        graft.lake.LakeTable.append(spark, dir, df)
        (System.nanoTime() - t0) / 1e9
      } catch { case _: Throwable => -1.0 }
      finally {
        try org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
        catch { case _: Throwable => () }
      }
    }
    val hasCanaryQuery = names.contains("events_json")
    timeWriteCanary() // JIT/classload warm, unmeasured
    var canaryFirst = if (hasCanaryQuery) timeCanary() else -1.0
    var wcanaryFirst = timeWriteCanary()
    var waits = 0
    // The READ canary's absolute threshold is tuned at the standard
    // test dirs (sf0.1 and below) and its cost scales with the data;
    // on a SCALED dir it would never pass and the loop would burn all
    // its retries. Two consecutive samples within 15% mean the box is
    // STABLE — that IS the canary's honest cost at that data scale,
    // not contamination (a contaminated box drifts) — so the absolute
    // gate stands down THERE ONLY: on the tuned dirs a steady
    // co-tenant load (which also does not drift) must keep stamping
    // RETRY, not silently pass (the r16 advisor's hole). Any stand-down
    // is stamped CANARY_REL on the compact line. The WRITE canary
    // stays absolute everywhere: its 32-row cycle is
    // data-scale-independent.
    val tunedDirs = Set("sf0.001", "sf0.01", "sf0.1")
    val relStandDownAllowed = !tunedDirs.contains(
      sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir))
    var canaryStableOver = false
    var canaryPrev = canaryFirst
    while (((canaryFirst > canaryMax && !canaryStableOver) || wcanaryFirst > wcanaryMax)
           && waits < canaryRetries) {
      System.err.println(f"[bench] canary $canaryFirst%.2fs/$canaryMax%.2fs write $wcanaryFirst%.2fs/$wcanaryMax%.2fs - box contaminated, waiting 30s (${waits + 1}/$canaryRetries)")
      Thread.sleep(30000)
      waits += 1
      if (hasCanaryQuery) {
        val next = timeCanary()
        if (relStandDownAllowed && next > canaryMax && canaryPrev > canaryMax &&
            next > 0 && math.abs(next - canaryPrev) <= 0.15 * canaryPrev)
          canaryStableOver = true
        canaryPrev = next
        canaryFirst = next
      }
      wcanaryFirst = timeWriteCanary()
    }

    // Quiet-reference board for the per-key outlier gate (tightened
    // round 17 — the r16 board let 7 keys through at 2.1-3.7x expected
    // with zero re-runs): a key gets ONE re-run after a pause when
    //   - it times >2x its quiet value (and >1s absolute) AND the
    //     NEAREST write-canary sample reads a degraded regime
    //     (>1.5x the quiet wcanary = 0.75 * wcanaryMax), OR
    //   - its absolute swing over the quiet value exceeds 5s
    //     (scd2_cdc-class keys: always worth one re-run).
    // Transient box regimes (the r15 incr_distinct 35.3s-vs-1.1s
    // pathology) correct themselves; true regressions reproduce and
    // stay on the board. The wcanary is re-sampled right before the
    // re-run so the attribution signal is per-key, not per-window.
    // Optional: no file, no gate.
    val expectedPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXPECTED", "BENCH_EXPECTED.json")
    val expected: Map[String, Double] = try {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(expectedPath)), "UTF-8")) match {
        case JObject(fields) => fields.collect {
          case (k, JDouble(v))   => k -> v
          case (k, JInt(v))      => k -> v.toDouble
          case (k, JDecimal(v))  => k -> v.toDouble
        }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty[String, Double] }

    val timedRuns = 2
    val rerun = scala.collection.mutable.ArrayBuffer.empty[String]
    val wcTimeline = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    // per-key (best seconds, commit-machinery seconds of the best run):
    // LakeTable.commitNanos deltas split FS-latency-bound commit work
    // from engine compute, so write-path drift is attributable per key
    wcTimeline += ((0, wcanaryFirst)) // already measured moments ago
    val results = names.zipWithIndex.map { case (name, i) =>
      // wcanary interleave: sample the write path every 8th key so a
      // mid-board regime shift localizes to the keys it actually hit
      if (i % 8 == 0 && i > 0) wcTimeline += ((i, timeWriteCanary()))
      var best = Double.MaxValue
      var bestCommit = 0.0
      var bestFileOps = 0.0
      var bestJobs = JobSplit(0, 0.0, 0.0, Nil)
      var failed = false
      def timedRun(): Unit = {
        SqlShims.drainListenerBus(spark)
        jobs.clear()
        val c0 = graft.lake.LakeTable.commitNanos
        val fo0 = graft.lake.LakeTable.fileOpsNanos
        val t0 = System.nanoTime()
        var isBest = false
        try {
          consume(SparkEntry.queries(name)(spark, sfDir))
          val el = (System.nanoTime() - t0) / 1e9
          if (el < best) {
            best = el
            bestCommit = (graft.lake.LakeTable.commitNanos - c0) / 1e9
            bestFileOps = (graft.lake.LakeTable.fileOpsNanos - fo0) / 1e9
            isBest = true
          }
        } catch { case _: Throwable => failed = true }
        spark.catalog.clearCache() // not part of the measured query
        // the listener bus delivers job events asynchronously: drain it
        // so the key's last job-end is recorded before the split
        if (isBest) {
          SqlShims.drainListenerBus(spark)
          import scala.jdk.CollectionConverters._
          bestJobs = jobSplit(jobs.values.asScala.toSeq, best)
        }
      }
      var run = 0
      while (run < timedRuns && !failed) { timedRun(); run += 1 }
      // the 2x arm's regime test samples the wcanary FRESH at decision
      // time (the every-8th sweep's last entry can be up to 7 keys
      // stale — a regime that degraded since then could only fire via
      // the +5s arm); decision/re-run samples enter the timeline with
      // a NEGATIVE index tag, -(i+1), so sweep entries stay unambiguous
      var sampledAtFire = false
      val fire = !failed && expected.get(name).exists { e =>
        if (best > e + 5.0) true
        else if (best > math.max(2 * e, 1.0)) {
          val w = timeWriteCanary()
          wcTimeline += ((-(i + 1), w))
          sampledAtFire = true
          w > 0.75 * wcanaryMax // 1.5x quiet
        } else false
      }
      if (fire) {
        rerun += name
        Thread.sleep(5000)
        // fresh regime sample right before the re-run: attribution for
        // THIS key, not the window the every-8th sweep happened to cover
        if (!sampledAtFire) wcTimeline += ((-(i + 1), timeWriteCanary()))
        val hadBest = best
        timedRun()
        // the re-run exists to REPLACE a regime-inflated sample with a
        // better one; a transient failure in it must not discard the
        // two valid measurements already in hand
        if (failed) { failed = false; best = hadBest }
      }
      (name, if (failed) -1.0 else best, if (failed) 0.0 else bestCommit,
        if (failed) 0.0 else bestFileOps, if (failed) None else Some(bestJobs))
    }
    val canaryLast = if (hasCanaryQuery) timeCanary() else -1.0
    val wcanaryLast = timeWriteCanary()
    val loadPost = loadAvg

    val ok = results.filter(_._2 >= 0)
    val failedNames = results.collect { case (k, v, _, _, _) if v < 0 => "\"" + k + "\"" }
    val total = ok.map(_._2).sum
    val commitTotal = ok.map(_._3).sum
    val fileOpsTotal = ok.map(_._4).sum
    val sfShort = {
      val base = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
      if (base.startsWith("sf")) base.drop(2) else base
    }
    // a canary that ERRORED (-1 where one should have run) must not
    // read as a clean gate — surface it
    val canaryBroken =
      (hasCanaryQuery && (canaryFirst < 0 || canaryLast < 0)) ||
        wcanaryFirst < 0 || wcanaryLast < 0
    // On a NON-tuned (scaled) dir, judge the END sample RELATIVE to the
    // start: the absolute 1.5s threshold is the canary's honest cost at
    // sf0.1, which a x100 dir legitimately exceeds late in a long board
    // (page-cache churn), while a real regime shift reads >1.5x the
    // run's own start. This covers both the stable-over stand-down case
    // AND a scaled run whose first sample happened to pass. Tuned dirs
    // keep the absolute end gate. Any relative judging is disclosed
    // in-band (CANARY_REL below).
    val canaryEffMax =
      if (canaryStableOver || (relStandDownAllowed && canaryFirst > 0))
        math.max(canaryMax, 1.5 * canaryFirst)
      else canaryMax
    val note =
      if ((canaryFirst > canaryMax && !canaryStableOver) || canaryLast > canaryEffMax)
        s""","note":"RETRY canary ${fmt(math.max(canaryFirst, canaryLast))}s>${fmt(canaryEffMax)}s""""
      else if (wcanaryFirst > wcanaryMax || wcanaryLast > wcanaryMax)
        s""","note":"RETRY wcanary ${fmt(math.max(wcanaryFirst, wcanaryLast))}s>${fmt(wcanaryMax)}s""""
      else if (canaryBroken)
        s""","note":"RETRY canary errored - gate did not run""""
      else if (canaryStableOver || canaryLast > canaryMax)
        // the read-canary was judged RELATIVELY (scaled dir): either the
        // absolute start gate stood down, or the end sample exceeded the
        // sf0.1-tuned absolute but stayed within 1.5x the run's own
        // start — disclose it in-band so the judged line carries its
        // own caveat
        s""","note":"CANARY_REL ${fmt(canaryFirst)}s/${fmt(canaryLast)}s abs-gate relative""""
      else ""
    val qs = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val failedJson = if (failedNames.isEmpty) "" else s""","failed":${failedNames.mkString("[", ",", "]")}"""
    // rerun marker in-band: re-run-assisted totals must be
    // distinguishable from plain 2-run totals on the compact line the
    // driver judges (full key list in DETAIL)
    val rrJson = if (rerun.isEmpty) "" else s""","rr":${rerun.size}"""
    val line = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
      s""""sf":"$sfShort","commit":${fmt(commitTotal)},"fo":${fmt(fileOpsTotal)},""" +
      s""""load":[${fmt(loadPre)},${fmt(loadPost)}],""" +
      s""""canary":[${fmt(canaryFirst)},${fmt(canaryLast)}],""" +
      s""""wcanary":[${fmt(wcanaryFirst)},${fmt(wcanaryLast)}]$rrJson$failedJson$note}"""

    // Full precision for humans/judge; the printed line is budgeted for
    // the driver's 2000-char tail capture.
    val qsFull = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val commitFull = results.collect { case (k, _, c, _, _) if c > 0 => "\"" + k + "\":" + c }
      .mkString("{", ",", "}")
    val fileOpsFull = results.collect { case (k, _, _, fo, _) if fo > 0 => "\"" + k + "\":" + fo }
      .mkString("{", ",", "}")
    val splits = results.collect { case (k, _, _, _, Some(j)) => k -> j }
    def perKey(f: JobSplit => String): String =
      splits.map { case (k, j) => "\"" + k + "\":" + f(j) }.mkString("{", ",", "}")
    val jobsJson = s""""jobs":${perKey(_.jobs.toString)},""" +
      s""""job_union_s":${perKey(_.unionS.toString)},""" +
      s""""driver_gap_s":${perKey(_.gapS.toString)},""" +
      s""""top_jobs":${perKey(_.top.map { case (d, n, sec) =>
        s"[${org.json4s.jackson.JsonMethods.compact(org.json4s.JString(d))},$n,$sec]" }.mkString("[", ",", "]"))},"""
    val rerunJson = rerun.map("\"" + _ + "\"").mkString("[", ",", "]")
    val wcTlJson = wcTimeline.map { case (i, s) => s"[$i,$s]" }.mkString("[", ",", "]")
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,""" +
      s""""commit_s":$commitFull,"commit_total":$commitTotal,""" +
      s""""fileops_s":$fileOpsFull,"fileops_total":$fileOpsTotal,$jobsJson"rerun":$rerunJson,""" +
      s""""wcanary_timeline":$wcTlJson,""" +
      s""""failed":${failedNames.mkString("[", ",", "]")},"runs":$timedRuns,"cpus":"$cpus",""" +
      s""""sf":"$sfDir","load_pre":$loadPre,"load_post":$loadPost,""" +
      s""""canary_first":$canaryFirst,"canary_last":$canaryLast,"canary_max":$canaryMax,""" +
      s""""wcanary_first":$wcanaryFirst,"wcanary_last":$wcanaryLast,"wcanary_max":$wcanaryMax,"canary_waits":$waits$note}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(detailPath),
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Throwable => () }

    println(line)
    spark.stop()
  }
}
