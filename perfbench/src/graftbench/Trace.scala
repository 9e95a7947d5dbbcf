package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans recorded around the benchmark's calls into the engine.
  *
  * A span is (name, start, end, parent, request id). Nothing is recorded
  * while tracing is off: the untraced run only pays one flag check per call.
  * In a traced run every span also tags the Spark jobs it launches with a
  * job group, so [[WorkListener]] can attribute executor work per request.
  */
object Trace {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
      parent: Long, req: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  @volatile var enabled = false
  @volatile var sc: SparkContext = _

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  // the thread-local job properties a span's job group replaces, restored
  // as they were (a streaming query's own group included)
  private val JobProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")

  /** Run `body` as span `name`; `req` < 0 inherits the enclosing span's. */
  def span[T](name: String, req: Long = -1)(body: => T): T = {
    if (!enabled) return body
    val outer = stack.get
    val parent = outer.headOption.map(_._1).getOrElse(-1L)
    val r = if (req >= 0) req else outer.headOption.map(_._2).getOrElse(-1L)
    val id = ids.incrementAndGet()
    val saved = JobProps.map(k => k -> sc.getLocalProperty(k))
    if (r >= 0) sc.setJobGroup(s"req-$r", name)
    stack.set((id, r) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, t0, System.nanoTime(), parent, r))
      stack.set(outer)
      if (r >= 0) saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spans named `name`, in start order. */
  def named(name: String): Seq[Span] = all.filter(_.name == name).sortBy(_.startNs)

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Main.json.writeValueAsString(Map("id" -> s.id, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "parent" -> s.parent,
        "req" -> s.req)))
    } finally w.close()
  }
}

/** Executor work per job group, summed from task-end events. Registered only
  * in a traced run. Jobs without a group (streaming micro-batches use their
  * own) are summed under that group or under "other".
  */
final class WorkListener extends SparkListener {
  final class Work {
    var cpuNs, gcMs, inB, outB, shReadB, shWriteB, spillB = 0L
    var jobs, stages, tasks = 0L
    def +=(o: Work): Unit = {
      cpuNs += o.cpuNs; gcMs += o.gcMs; inB += o.inB; outB += o.outB
      shReadB += o.shReadB; shWriteB += o.shWriteB; spillB += o.spillB
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
    }
    def copy(): Work = { val w = new Work; w += this; w }
  }

  // the listener bus delivers events on one thread; readers call drain first
  private val groups = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def work(g: String): Work = groups.computeIfAbsent(g, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("other")
    e.stageIds.foreach(stageGroup.put(_, g))
    work(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    work(stageGroup.getOrDefault(e.stageInfo.stageId, "other")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageGroup.getOrDefault(e.stageId, "other"))
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.inB += m.inputMetrics.bytesRead
      w.outB += m.outputMetrics.bytesWritten
      w.shReadB += m.shuffleReadMetrics.totalBytesRead
      w.shWriteB += m.shuffleWriteMetrics.bytesWritten
      w.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Sum over every group, after all posted events were delivered. */
  def total(sc: SparkContext): Work = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val t = new Work
    groups.values.asScala.foreach(t += _)
    t
  }

  /** Per-group copies, after all posted events were delivered. */
  def byGroup(sc: SparkContext): Map[String, Work] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    groups.asScala.map { case (k, v) => k -> v.copy() }.toMap
  }
}
