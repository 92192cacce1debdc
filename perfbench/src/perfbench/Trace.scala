package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.{InputAdapter, WholeStageCodegenExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters read around each timed execution: cheap reads
  * of JVM and Spark singletons. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }
  def classesLoaded: Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  /** Janino compilations: every miss of Spark's generated-class cache. */
  def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Peak resident set of this process (VmHWM), in kB; -1 if unreadable. */
  def vmHwmKb: Long = try {
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Snapshot of the counters above, in the order of [[Probe.names]]. */
  def snap(): Array[Long] = Array(gcMs, jitMs, classesLoaded, compiles, compileNs / 1000000L)
  val names: Seq[String] =
    Seq("jvm.gc_ms", "jvm.jit_ms", "jvm.classes_loaded", "codegen.compiles", "codegen.compile_ms")
}

/** One timed interval. Times are epoch milliseconds with sub-ms
  * resolution, so the benchmark's own spans, Spark's job and stage
  * times and the Catalyst phase times share one clock. */
final case class Span(id: Int, parent: Int, name: String, key: String,
    start: Double, end: Double, counts: Map[String, Double])

object Trace {
  private final case class JobRec(id: Int, start: Double, end: Double, stages: Seq[Int])
  private final case class PhaseRec(name: String, start: Double, end: Double)
  private final case class PlanRec(time: Double, operators: Int, exchanges: Int)
}

/** Spans and listener counts of a traced run, kept in memory until exit.
  *
  * Spark delivers listener events asynchronously, so a job, stage or
  * Catalyst phase is attached afterwards to the innermost benchmark
  * span (`build` or `action`) whose interval holds its start time.
  * Queries run one at a time, so that attribution is exact. */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer[Span]()
  private var on = true

  /** Records `name` under `parent` around `body` when tracing is on;
    * the span id is passed to `body` so that children can nest. */
  def span[T](name: String, parent: Int, key: String = "")(body: Int => T): T =
    if (!on) body(-1) else {
      val id = record(name, parent, now, Double.NaN, key)
      try body(id) finally close(id)
    }

  /** Records a span with given times; an open one has `end` NaN. */
  def record(name: String, parent: Int, start: Double, end: Double, key: String = ""): Int = {
    spans += Span(spans.size, parent, name, key, start, end, Map.empty)
    spans.size - 1
  }

  def close(id: Int): Unit = if (id >= 0) spans(id) = spans(id).copy(end = now)

  /** Adds counts to an open or closed span (ignored when off). */
  def count(id: Int, kv: (String, Double)*): Unit =
    if (id >= 0) spans(id) = spans(id).copy(counts = spans(id).counts ++ kv)

  /** Turns span recording and the listeners on or off for the passes
    * that follow; the traced run alternates them to measure overhead. */
  def setOn(flag: Boolean): Unit = if (flag != on) {
    drain()
    if (flag) register() else unregister()
    on = flag
  }

  private def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  private def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  register()

  // ---- listener side (called on Spark's listener threads) ----
  import Trace._
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  private val stageTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Double)]()
  private val stageSums = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private val events = new AtomicLong()

  /** Per-stage task sums, in this order. */
  private val taskFields = Seq("exec.tasks", "exec.task_ms", "exec.cpu_ms",
    "exec.sched_delay_ms", "exec.deser_ms", "scan.bytes", "scan.rows",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "shuffle.spill_bytes", "write.bytes", "write.rows")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobStarts.put(e.jobId, JobRec(e.jobId, e.time.toDouble, Double.NaN, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    val s = jobStarts.remove(e.jobId)
    if (s != null) jobs.add(s.copy(end = e.time.toDouble))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.incrementAndGet()
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime)
      stageTimes.put(i.stageId, (a.toDouble, b.toDouble))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      val sr = m.shuffleReadMetrics
      // Spark UI's definition: the part of a task's life spent neither
      // running, deserializing, serializing its result nor fetching it.
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      val v = Array[Double](1, m.executorRunTime, m.executorCpuTime / 1e6, sched,
        m.executorDeserializeTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, sr.remoteBytesRead + sr.localBytesRead,
        sr.fetchWaitTime, m.diskBytesSpilled, m.outputMetrics.bytesWritten,
        m.outputMetrics.recordsWritten)
      stageSums.merge(e.stageId, v, (a, b) => a.indices.map(i => a(i) + b(i)).toArray)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordPlan(qe)

  private val trackers = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[QueryPlanningTracker, java.lang.Boolean]()))

  /** Records the Catalyst phases of a query once, however often it is
    * reported. The DataFrame `QDef.run` returns is analysed during the
    * build but never executed itself (the action plans a write command
    * over it), so its tracker is recorded from the main thread. */
  def recordPhases(t: QueryPlanningTracker): Unit = if (on && trackers.add(t))
    t.phases.foreach { case (n, p) =>
      phases.add(PhaseRec(n, p.startTimeMs.toDouble, p.endTimeMs.toDouble)) }

  private def recordPlan(qe: QueryExecution): Unit = {
    events.incrementAndGet()
    recordPhases(qe.tracker)
    val t = qe.tracker.phases.values.map(_.startTimeMs).minOption.map(_.toDouble).getOrElse(now)
    val nodes = qe.executedPlan.collectWithSubqueries {
      case p if !p.isInstanceOf[WholeStageCodegenExec] && !p.isInstanceOf[InputAdapter] => p
    }
    plans.add(PlanRec(t, nodes.size, nodes.count(_.isInstanceOf[Exchange])))
  }

  /** Waits until every started job has ended and no listener event has
    * arrived for 150 ms (bounded at 20 s). */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20000000000L
    var last = -1L
    while (System.nanoTime() < deadline && (!jobStarts.isEmpty || events.get != last)) {
      last = events.get
      Thread.sleep(150)
    }
  }

  /** All spans with the listener records attached: jobs and Catalyst
    * phases become child spans, and their counts are summed onto the
    * `build` or `action` span they fell in. */
  def finish(): Seq[Span] = {
    drain()
    val leaves = spans.filter(s => s.name == "build" || s.name == "action").sortBy(_.start)
    val starts = leaves.map(_.start).toArray
    def leafAt(t: Double): Option[Span] = {
      val i = java.util.Arrays.binarySearch(starts, t) match {
        case i if i >= 0 => i
        case i => -i - 2
      }
      if (i >= 0 && t <= leaves(i).end) Some(leaves(i)) else None
    }
    val out = mutable.ArrayBuffer[Span]() ++= spans
    val add = mutable.Map[Int, mutable.Map[String, Double]]()
    def bump(id: Int, k: String, v: Double): Unit =
      add.getOrElseUpdate(id, mutable.Map()).updateWith(k)(o => Some(o.getOrElse(0.0) + v))
    for (j <- jobs.asScala.toSeq.sortBy(_.start); leaf <- leafAt(j.start)) {
      val jid = out.size
      out += Span(jid, leaf.id, "job", leaf.key, j.start, j.end, Map.empty)
      bump(leaf.id, "exec.jobs", 1)
      if (leaf.name == "build") bump(leaf.id, "build.jobs", 1)
      for (sid <- j.stages; sums <- Option(stageSums.remove(sid))) {
        val (a, b) = Option(stageTimes.get(sid)).getOrElse((j.start, j.end))
        out += Span(out.size, jid, "stage", leaf.key, a, b,
          taskFields.zip(sums).toMap)
        bump(leaf.id, "exec.stages", 1)
        taskFields.zip(sums).foreach { case (k, v) => bump(leaf.id, k, v) }
      }
    }
    for (p <- phases.asScala; leaf <- leafAt(p.start) if p.name != "parsing") {
      out += Span(out.size, leaf.id, p.name, leaf.key, p.start, p.end, Map.empty)
      bump(leaf.id, s"catalyst.${p.name}_ms", p.end - p.start)
    }
    for (p <- plans.asScala; leaf <- leafAt(p.time)) {
      bump(leaf.id, "plan.operators", p.operators)
      bump(leaf.id, "plan.exchanges", p.exchanges)
    }
    out.map(s => add.get(s.id).fold(s)(m => s.copy(counts = s.counts ++ m))).toSeq
  }
}
