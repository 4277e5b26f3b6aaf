package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into graft. Off unless
  * `tracing` is set; spans stay in memory until the run ends. */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        start: Long, end: Long)

  @volatile var tracing = false
  @volatile private var op = 0
  @volatile private var opRoot = 0
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  /** Run `body` as operation `opId`; its root span is `name`. */
  def operation[T](opId: Int, name: String)(body: => T): T = {
    op = opId
    if (!tracing) body
    else {
      opRoot = 0
      span(name) { opRoot = stack.get().head; body }
    }
  }

  /** Record `body` as a span named after the layer and call it wraps.
    * Spans on threads other than the client's hang under the current
    * operation's root span. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val id = ids.incrementAndGet()
      val st = stack.get()
      val parent = st.headOption.getOrElse(opRoot)
      stack.set(id :: st)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, name, parent, op, t0, System.nanoTime()))
        stack.set(st)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)
}

/** Counter values and JVM GC milliseconds at one instant. */
final case class Snap(v: Map[String, Long], gc: Long)

/** Engine counters from one listener, read in sequential windows: one
  * client thread runs one operation at a time, so the deltas between
  * two drained snapshots belong to the operation between them. */
class Counters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val names: Seq[String] = Seq("jobs", "stages", "tasks", "exec_run_ms",
    "shuffle_bytes", "spill_bytes", "in_bytes", "in_records", "out_records",
    "plan_ms")
  private val c = names.map(_ -> new AtomicLong(0)).toMap
  /** (launch ms, finish ms) of every finished task. */
  private val taskSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  /** submit ms and job group of running jobs; (submit ms, end ms, job
    * group) of finished ones. */
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long, String)]()

  private def add(k: String, v: Long): Unit = { c(k).addAndGet(v); () }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStarts.put(e.jobId, (e.time, group))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, g) =>
      jobSpans.add((t0, e.time, g)) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    val i = e.taskInfo
    taskSpans.add((i.launchTime, i.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      add("exec_run_ms", m.executorRunTime)
      add("shuffle_bytes", m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("in_bytes", m.inputMetrics.bytesRead)
      add("in_records", m.inputMetrics.recordsRead)
      add("out_records", m.outputMetrics.recordsWritten)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    add("plan_ms", qe.tracker.phases.values.map(_.durationMs).sum)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def snap(): Snap = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    Snap(c.map { case (k, a) => k -> a.get }, gcMs)
  }

  /** Counter deltas of the window [a, b], plus the time within the wall
    * window [w0, w1] (epoch ms) when at least one task ran. */
  def delta(a: Snap, b: Snap, w0: Long, w1: Long): Map[String, Double] = {
    val d = names.map(k => k -> (b.v(k) - a.v(k)).toDouble).toMap
    val iv = taskSpans.asScala.iterator
      .map { case (s, e) => (math.max(s, w0), math.min(e, w1)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy += curE - curS
    d ++ Map("busy_ms" -> busy.toDouble, "gc_ms" -> (b.gc - a.gc).toDouble)
  }

  /** Jobs that ran inside [w0, w1] (epoch ms), as (start, end, group). */
  def jobsIn(w0: Long, w1: Long): Seq[(Long, Long, String)] =
    jobSpans.asScala.filter { case (s, e, _) => s >= w0 && e <= w1 }.toSeq

  /** Forget task and job intervals that ended before `t` (epoch ms). */
  def prune(t: Long): Unit = {
    taskSpans.removeIf(_._2 < t)
    jobSpans.removeIf(_._2 < t)
    ()
  }
}
