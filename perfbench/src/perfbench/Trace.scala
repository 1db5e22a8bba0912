package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from the benchmark's side of the
  * call. `tag` groups the spans of one request (an ingest phase, a
  * question, an operator row).
  */
case class Span(id: Int, name: String, parent: Int, tag: String, startNs: Long, var endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the driver thread. While a span is open its
  * id is the Spark job description, so [[SparkAttribution]] can charge
  * task metrics to it. Disabled, it only runs the body.
  */
class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var tag = ""

  def withTag[T](t: String)(body: => T): T = {
    val prev = tag
    tag = t
    try body finally tag = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0), tag,
        System.nanoTime(), 0L)
      spans += s
      stack.push(s)
      val prevDesc = sc.getLocalProperty(Tracer.JobDescription)
      sc.setJobDescription(s"span:${s.id}")
      try body finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setJobDescription(prevDesc)
      }
    }

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Duration minus the part of the span's interval its children cover. */
  def selfNs(s: Span): Long = {
    val kids = children.getOrElse(s.id, Nil)
      .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  def totalSec(name: String): Double = spans.filter(_.name == name).map(_.durNs).sum / 1e9

  /** Self time of every span that is not, and does not lie under, a span
    * named in `read`: the traced time no layer metric accounts for.
    */
  def unattributedNs(read: Set[String]): Long = {
    val byId = spans.map(s => s.id -> s).toMap
    def covered(s: Span): Boolean = read(s.name) || byId.get(s.parent).exists(covered)
    spans.filterNot(covered).map(selfNs).sum
  }

  /** Spans as JSON lines, with self time and the Spark metrics charged to each. */
  def write(path: String, attribution: SparkAttribution): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val m = attribution.bySpan(s.id)
      Json.value(mutable.LinkedHashMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "tag" -> s.tag,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> selfNs(s) / 1e6,
        "jobs" -> m.jobs, "tasks" -> m.tasks, "task_run_ms" -> m.runMs,
        "input_records" -> m.inputRecords, "shuffle_read_bytes" -> m.shuffleRead,
        "shuffle_write_bytes" -> m.shuffleWrite))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

object Tracer {
  /** The local property Spark copies into each job's description. */
  val JobDescription = "spark.job.description"
}

/** Task metrics summed over a set of jobs. */
class TaskTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var schedWaitMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var resultBytes = 0L
  var inputRecords = 0L

  def addTask(e: SparkListenerTaskEnd, stageSubmitMs: Long): Unit = {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      resultBytes += m.resultSize
      inputRecords += m.inputMetrics.recordsRead
    }
    if (stageSubmitMs > 0) schedWaitMs += math.max(0L, e.taskInfo.launchTime - stageSubmitMs)
  }
}

/** SparkListener that charges every task to the span named in its job's
  * description, and keeps run-wide totals. Totals are read after
  * [[SparkAttribution.drain]].
  */
class SparkAttribution(sc: SparkContext) extends SparkListener {
  private val stageToSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val spanTotals = new ConcurrentHashMap[Int, TaskTotals]()
  @volatile var total = new TaskTotals

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.JobDescription)))
      .filter(_.startsWith("span:")).map(_.drop(5).toInt).getOrElse(0)

  def bySpan(id: Int): TaskTotals = Option(spanTotals.get(id)).getOrElse(new TaskTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = spanOf(e.properties)
    e.stageIds.foreach(s => stageToSpan.put(s, span))
    total.jobs += 1
    spanTotals.computeIfAbsent(span, _ => new TaskTotals).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    val span = Option(stageToSpan.get(e.stageInfo.stageId)).map(_.intValue).getOrElse(0)
    spanTotals.computeIfAbsent(span, _ => new TaskTotals).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val submit = Option(stageSubmit.get(e.stageId)).map(_.longValue).getOrElse(0L)
    total.addTask(e, submit)
    val span = Option(stageToSpan.get(e.stageId)).map(_.intValue).getOrElse(0)
    spanTotals.computeIfAbsent(span, _ => new TaskTotals).addTask(e, submit)
  }

  /** Start a fresh run-wide total (span totals are kept). */
  def resetTotal(): Unit = synchronized { total = new TaskTotals }

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)
}

/** Sums Catalyst analysis + optimization + planning time over every
  * action the session runs.
  */
class PlanTime extends QueryExecutionListener {
  val nanos = new AtomicLong()

  private def add(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
    nanos.addAndGet(ms * 1000000L)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Listeners the traced run installs on the session. */
class Instruments(spark: SparkSession, enabled: Boolean) {
  val sc: SparkContext = spark.sparkContext
  val tracer = new Tracer(sc, enabled)
  val attribution = new SparkAttribution(sc)
  val plan = new PlanTime
  if (enabled) {
    sc.addSparkListener(attribution)
    spark.listenerManager.register(plan)
  }

  def close(): Unit = if (enabled) {
    attribution.drain()
    sc.removeSparkListener(attribution)
    spark.listenerManager.unregister(plan)
  }
}

object Jvm {
  /** Sum of the heap memory pools' peak usage, in MiB. */
  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetPeaks(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}
