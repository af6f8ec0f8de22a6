package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** One timed call the client made. `cls` groups calls for latency
  * metrics: "read", "write", "cdc", "maint", "key" (a board key) or
  * "stage" (a pipeline stage).
  */
final case class OpSample(kind: String, cls: String, ms: Double)

/** State shared by a workload and the runner: the session, the tracer,
  * the op log and the per-layer metrics the workload fills in.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: String,
                val data: String, val seed: Long) {
  val samples = mutable.ArrayBuffer[OpSample]()
  val errors = mutable.ArrayBuffer[String]()
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Workload context reported on every run, traced or not. */
  val context = mutable.LinkedHashMap[String, Double]()
  var timing = false
  private var nextOp = 0

  /** Run one operation: timed, traced as a span of `layer`, failures
    * logged (with their cause) rather than thrown. Spark's cache is
    * cleared after every call, outside the timer.
    */
  def op[A](kind: String, cls: String, layerName: String)(body: => A): Option[A] = {
    val id = nextOp
    nextOp += 1
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.span(kind, layerName, id)(body))
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          errors += s"op $id $kind failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    if (timing) samples += OpSample(kind, cls, ms)
    spark.catalog.clearCache()
    res
  }

  /** Count of operations issued so far (timed or not). */
  def issued: Int = nextOp

  def fail(msg: String): Unit = errors += msg

  def rmrf(dir: String): Unit = {
    val p = new Path(dir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (f.exists(p)) f.delete(p, true)
  }

  /** (files, bytes) under `dir`, recursively. */
  def du(dir: String): (Long, Long) = {
    val p = new Path(dir)
    val f = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!f.exists(p)) return (0L, 0L)
    val it = f.listFiles(p, true)
    var n = 0L
    var b = 0L
    while (it.hasNext) { val s = it.next(); n += 1; b += s.getLen }
    (n, b)
  }
}

/** A workload: a starting state, a fixed unit of work ("round") the
  * runner repeats for the measured time, and checks of what it did.
  */
trait Workload {
  /** Build the starting state from the generated inputs; repeatable. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed warm-up (the board also captures its results here). */
  def warmup(ctx: Ctx): Unit
  /** One round of work; every call goes through `ctx.op`. */
  def round(ctx: Ctx, r: Int): Unit
  /** Correctness checks outside the timed region; failures go to `ctx`. */
  def verify(ctx: Ctx): Unit
  /** Per-layer metrics of this workload (traced runs), after verify. */
  def layerMetrics(ctx: Ctx, rounds: Int): Unit
}

/** Process-level meters. */
object Meters {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9

  def loadAvg: Double = os.getSystemLoadAverage

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  @volatile private var heapAfterGcPeak = 0L

  /** From now on, note the heap in use just after each collection. */
  def watchHeapAfterGc(): Unit = {
    import scala.jdk.CollectionConverters._
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            if (used > heapAfterGcPeak) heapAfterGcPeak = used
          }, null, null)
      case _ => ()
    }
  }

  /** Peak heap in use just after a collection, MiB: the live set plus
    * the old-generation garbage a young collection leaves behind. Unlike
    * VmHWM it does not count heap the collector touched and freed.
    */
  def heapAfterGcPeakMb: Double = heapAfterGcPeak / 1048576.0

  /** Peak resident set of this process (VmHWM), MiB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Hadoop FileSystem byte counters of the local file system. */
  final case class Fs(bytesWritten: Long, bytesRead: Long) {
    def -(o: Fs): Fs = Fs(bytesWritten - o.bytesWritten, bytesRead - o.bytesRead)
  }

  def fs: Fs = {
    import scala.jdk.CollectionConverters._
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Fs(st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }

  /** The fixed three-commit write canary (overwrite + two appends of 32
    * rows into a fresh table), seconds. Context only.
    */
  def writeCanary(spark: SparkSession, dir: String): Double = {
    import org.apache.spark.sql.functions.col
    val t = s"$dir/t"
    val df = spark.range(32).select(col("id"))
    val t0 = System.nanoTime()
    graft.lake.LakeTable.overwrite(spark, t, df)
    graft.lake.LakeTable.append(spark, t, df)
    graft.lake.LakeTable.append(spark, t, df)
    val s = (System.nanoTime() - t0) / 1e9
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    s
  }
}
