package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile, `p` in (0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else xs.sorted.apply((math.ceil(xs.length * p / 100.0).toInt - 1).max(0))

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum

  def dataFiles(f: File): Long =
    if (f.isFile) { if (f.getName.endsWith(".parquet")) 1L else 0L }
    else Option(f.listFiles()).toSeq.flatten.map(dataFiles).sum

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete(); ()
  }
}

/** One benchmark run: the session, the input dir, the timed phase's clock
  * and everything the run reports.
  */
final class Run(val spark: SparkSession, val in: String, val work: String,
    val seconds: Double, val traced: Boolean, val listener: Option[WorkListener]) {

  val attempted = new java.util.concurrent.atomic.AtomicLong(0)
  val failed = new java.util.concurrent.atomic.AtomicLong(0)
  /** Epoch millis of the first timed operation (end of set-up). */
  var firstOpEpochMs = 0L
  private var timedStartNs = 0L
  private var work0: Option[WorkListener#Work] = None

  /** Metrics a user sees: name -> (value, unit, sample count). */
  val report = mutable.LinkedHashMap.empty[String, (Double, String, Long)]
  val perLayer = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def metric(name: String, value: Double, unit: String, n: Long): Unit =
    report(name) = (value, unit, n)

  /** A progress line in the JVM log, stamped with seconds since JVM start. */
  def note(msg: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] $up%.2fs $msg")
  }

  def check(name: String, ok: Boolean, detail: String): Unit =
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail)

  /** Marks the end of set-up and the start of the timed phase. */
  def startTimed(): Unit = {
    note("set-up done")
    graft.BenchProbe.drain()
    work0 = listener.map(_.total(spark.sparkContext))
    firstOpEpochMs = System.currentTimeMillis()
    timedStartNs = System.nanoTime()
  }

  def elapsedS: Double = (System.nanoTime() - timedStartNs) / 1e9
  def timeLeft: Boolean = elapsedS < seconds

  /** Ends the timed phase; returns its wall seconds and the engine's
    * BenchProbe phases recorded during it.
    */
  def endTimed(): (Double, Map[String, Double]) = {
    ((System.nanoTime() - timedStartNs) / 1e9, graft.BenchProbe.drain())
  }

  /** Wrap one timed operation: time it, count it, and count (never rethrow)
    * a failure. Returns the latency in ms, or None if it failed.
    */
  def op(what: String)(body: => Unit): Option[Double] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      body
      val ms = (System.nanoTime() - t0) / 1e6
      note(f"$what: $ms%.1f ms")
      Some(ms)
    }
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] $what failed: ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).take(400))
        None
    }
  }

  /** Set-up warm-up: runs `body(i)` for i in [0, n) on two client threads,
    * so JIT compilation sees twice the calls per second of wall time.
    * Failures are logged and otherwise ignored.
    */
  def warmUp(n: Int)(body: Int => Unit): Unit = {
    val threads = (0 until 2).map { t =>
      new Thread(() => (t until n by 2).foreach { i =>
        try body(i)
        catch { case e: Throwable => System.err.println(s"[perfbench] warm-up $i failed: $e") }
      }, s"perfbench-warmup-$t")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    note(s"warm-up of $n done")
  }

  /** Driver heap in use after a full GC. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** spark.* per-layer metrics: executor work over the timed phase per
    * closed-loop operation.
    */
  def sparkLayer(ops: Long): Unit = listener.foreach { l =>
    val w = l.total(spark.sparkContext)
    val w0 = work0.get
    val n = ops.max(1).toDouble
    perLayer("spark.cpu_s") = (w.cpuNs - w0.cpuNs) / 1e9 / n
    perLayer("spark.gc_s") = (w.gcMs - w0.gcMs) / 1e3 / n
    perLayer("spark.shuffle_read_mb") = (w.shReadB - w0.shReadB) / 1048576.0 / n
    perLayer("spark.shuffle_write_mb") = (w.shWriteB - w0.shWriteB) / 1048576.0 / n
    perLayer("spark.input_mb") = (w.inB - w0.inB) / 1048576.0 / n
    perLayer("spark.output_mb") = (w.outB - w0.outB) / 1048576.0 / n
    perLayer("spark.spill_mb") = (w.spillB - w0.spillB) / 1048576.0 / n
    perLayer("spark.jobs") = (w.jobs - w0.jobs) / n
    perLayer("spark.stages") = (w.stages - w0.stages) / n
    perLayer("spark.tasks") = (w.tasks - w0.tasks) / n
  }

  /** spark.read_*: median stages and tasks per PIT request, from the job
    * groups the request spans set (request ids selected by `isRead`).
    */
  def readWork(isRead: Long => Boolean): Unit = listener.foreach { l =>
    val reads = l.byGroup(spark.sparkContext).collect {
      case (g, w) if g.startsWith("req-") && isRead(g.stripPrefix("req-").toLong) => w
    }.toSeq
    perLayer("spark.read_stages") = Stats.median(reads.map(_.stages.toDouble))
    perLayer("spark.read_tasks") = Stats.median(reads.map(_.tasks.toDouble))
  }

  /** Median duration (ms) of the spans named `name`. */
  def spanMs(name: String): Double = Stats.median(Trace.named(name).map(_.ms))

  def result(): Map[String, Any] = Map(
    "first_op_epoch_ms" -> firstOpEpochMs,
    "attempted" -> attempted.get, "failed" -> failed.get,
    "report" -> report.map { case (k, (v, u, n)) =>
      k -> Map("value" -> v, "unit" -> u, "n" -> n) }.toMap,
    "per_layer" -> perLayer.toMap,
    "checks" -> checks.toSeq,
    "extra" -> extra.toMap)
}
