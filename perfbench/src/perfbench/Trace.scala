package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's own calls into engine modules, and counters fed
  * by Spark's public listeners. Disabled (the default), [[span]] runs its body
  * and nothing else, so end-to-end runs carry no tracing cost.
  *
  * A span records name, layer, start, end, parent and request id. Jobs started
  * inside a span run under a job group named by the span id, so task metrics
  * can be attributed to the enclosing span.
  */
object Trace {

  final case class Span(id: Long, parent: Long, layer: String, name: String,
      req: Long, startNs: Long, endNs: Long)

  @volatile private var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val request = ThreadLocal.withInitial[java.lang.Long](() => -1L)
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  /** Time the tracing itself costs: span bookkeeping and listener handlers. */
  private val overheadNs = new DoubleAdder

  def isOn: Boolean = enabled

  /** Turn tracing on for `spark` and register the listeners. */
  def start(spark: SparkSession, onProgress: StreamingQueryListener.QueryProgressEvent => Unit): Unit = {
    sc = spark.sparkContext
    enabled = true
    sc.addSparkListener(new TaskListener)
    spark.listenerManager.register(new PlanListener)
    spark.streams.addListener(new ProgressListener(onProgress))
  }

  /** Run `body` as request `id`: every span opened inside carries it. */
  def asRequest[T](id: Long)(body: => T): T = {
    val prev = request.get
    request.set(id)
    try body finally request.set(prev)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      sc.setJobGroup(id.toString, s"$layer:$name", interruptOnCancel = false)
      val start = System.nanoTime()
      overheadNs.add((start - t0).toDouble)
      try body
      finally {
        val end = System.nanoTime()
        stack.set(parents)
        parents match {
          case p :: _ => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
          case Nil    => sc.clearJobGroup()
        }
        spans.add(Span(id, parents.headOption.getOrElse(0L), layer, name,
          request.get, start, end))
        overheadNs.add((System.nanoTime() - end).toDouble)
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)

  /** Run `body`, counting its time as tracing overhead (listener handlers,
    * traced-only probes).
    */
  def overhead[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally overheadNs.add((System.nanoTime() - t0).toDouble)
  }

  def result(): Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
      "req" -> s.req, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
    "counters" -> counters.asScala.map { case (k, v) => k -> v.sum() }.toMap,
    "overhead_ms" -> overheadNs.sum() / 1e6)

  private val MB = 1024.0 * 1024.0

  /** Task and job counters, attributed to the span that started the job. */
  private final class TaskListener extends SparkListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = overhead {
      add("exec.jobs", 1)
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("0")
      e.stageIds.foreach(s => stageGroup.put(s, group))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = overhead {
      val m = e.taskMetrics
      if (m != null) {
        add("exec.tasks", 1)
        add("exec.task_ms", m.executorRunTime.toDouble)
        add("exec.cpu_ms", m.executorCpuTime / 1e6)
        add("exec.gc_ms", m.jvmGCTime.toDouble)
        add("exec.task_overhead_ms",
          math.max(0L, e.taskInfo.duration - m.executorRunTime).toDouble)
        if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
          add("exec.empty_tasks", 1)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
        add("exec.spill_mb", m.diskBytesSpilled / MB)
        add(s"group_task_ms.${stageGroup.getOrDefault(e.stageId, "0")}",
          m.executorRunTime.toDouble)
      }
    }
  }

  /** Catalyst phase times and file-scan volume of every executed query. */
  private final class PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = overhead {
      add("plan.queries", 1)
      val phases = qe.tracker.phases
      phases.get("analysis").foreach(p => add("plan.analysis_ms", p.durationMs.toDouble))
      phases.get("optimization").foreach(p => add("plan.optimizer_ms", p.durationMs.toDouble))
      phases.get("planning").foreach(p => add("plan.physical_ms", p.durationMs.toDouble))
      val (files, bytes) = PlanWalk.scans(qe.executedPlan)
      add("sources.scan_files", files.toDouble)
      add("sources.scan_mb", bytes / MB)
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      overhead(add("plan.failed_queries", 1))
  }

  private final class ProgressListener(
      onProgress: StreamingQueryListener.QueryProgressEvent => Unit)
      extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      overhead(onProgress(e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** File-scan metrics of an executed plan, including scans under AQE query
    * stages and the plans that fill in-memory caches (each cache once).
    */
  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def scans(plan: SparkPlan): (Long, Long) = {
      var files = 0L
      var bytes = 0L
      val seen = new java.util.IdentityHashMap[SparkPlan, Unit]()
      def visit(p: SparkPlan): Unit = foreach(p) {
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(files += _.value)
          s.metrics.get("filesSize").foreach(bytes += _.value)
        case m: InMemoryTableScanExec =>
          val cached = m.relation.cachedPlan
          if (!seen.containsKey(cached)) { seen.put(cached, ()); visit(cached) }
        case _ => ()
      }
      visit(plan)
      (files, bytes)
    }
  }
}
