package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds (see [[Clock]]);
  * `req` ties together every span of one request (op, drain, set-up rep). */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, req: String) {
  def dur: Long = end - start
}

/** Epoch-aligned nanosecond clock, so spans timed here and job/stream events
  * stamped by Spark in epoch milliseconds share one time line. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNanos = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNanos + (System.nanoTime() - baseNano)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

/** Span recorder. Off (the default), [[span]] only runs its body. On, each
  * call records a span whose parent is the innermost open span on the
  * calling thread; spans stay in memory until [[Trace.spans]] is read at the
  * end of the run. */
object Trace {
  @volatile var enabled = false
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  def nextId(): Long = ids.incrementAndGet()

  def span[A](name: String, req: String = null)(f: => A): A =
    if (!enabled) f
    else {
      val stack = open.get()
      val id = nextId()
      val r = if (req != null) req else stack.headOption.map(_._2).getOrElse("")
      open.set((id, r) :: stack)
      val t0 = Clock.now()
      try f
      finally {
        val t1 = Clock.now()
        open.set(stack)
        done.add(Span(id, name, t0, t1, stack.headOption.map(_._1).getOrElse(0L), r))
      }
    }

  def add(s: Span): Unit = if (enabled) done.add(s)
  def spans: Seq[Span] = done.asScala.toSeq

  /** Self time per span: its duration minus the part of it its children's
    * intervals cover (children may overlap each other; their union counts). */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JVM-wide counters read through the management beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos: Long = os.getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def heapUsed: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  def heapMax: Long = Runtime.getRuntime.maxMemory
  /** Live heap after full collections, repeated (with a pause for Spark's
    * context cleaner to release what the previous one freed) until two
    * readings agree within 1 MB, at most 8 times. */
  def liveHeap(): Long = {
    var last = Long.MaxValue; var cur = Long.MaxValue; var i = 0
    do { last = cur; System.gc(); Thread.sleep(100); cur = heapUsed; i += 1 }
    while (i < 8 && math.abs(last - cur) > (1L << 20))
    cur
  }
  def startEpochMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNanos: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
}

/** What Spark reports about one job, tagged with the request that issued it
  * (the `perfbench.req` local property of the submitting thread, which the
  * stream execution thread inherits from the drain that started it). */
final case class JobRec(id: Int, req: String, start: Long, var end: Long,
    var tasks: Int, var cpuNanos: Long)
/** One SQL action, as the `QueryExecutionListener` reports it. `start` is
  * when its first query phase began, in whole milliseconds. */
final case class ActionRec(func: String, planNanos: Long, execNanos: Long,
    start: Long, rowsScanned: Long, regionsPlanned: Long, regionsTotal: Long)
final case class ProgressRec(runId: String, batchId: Long, start: Long,
    durations: Map[String, Long], inputRows: Long)

/** Listeners over the Spark scheduler, the SQL action path and streaming
  * progress. Registered only for traced runs. */
final class SparkObserver(spark: SparkSession) {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val actions = new ConcurrentLinkedQueue[ActionRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  val queryStarts = new ConcurrentLinkedQueue[(String, Long)]()
  @volatile private var sentinelSeen = -1

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val req = Option(e.properties).flatMap(p => Option(p.getProperty(SparkObserver.ReqKey)))
        .getOrElse("")
      jobs.put(e.jobId, JobRec(e.jobId, req, Clock.fromEpochMs(e.time), -1L, 0, 0L))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = Clock.fromEpochMs(e.time)
      if (j != null && j.req == SparkObserver.Sentinel) sentinelSeen = e.jobId
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
      if (j != null) {
        j.tasks += 1
        if (e.taskMetrics != null) j.cpuNanos += e.taskMetrics.executorCpuTime
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val plan = phases.values.map(p => p.durationMs).sum * 1000000L
      val start = phases.values.map(_.startTimeMs).reduceOption(_ min _)
        .map(Clock.fromEpochMs).getOrElse(0L)
      val (r, p, t) = SparkObserver.scanMetrics(qe.executedPlan)
      actions.add(ActionRec(func, plan, durationNs, start, r, p, t))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryStarts.add(e.runId.toString -> SparkObserver.isoNanos(e.timestamp))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(p.runId.toString, p.batchId, SparkObserver.isoNanos(p.timestamp),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap, p.numInputRows))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until the listener buses have delivered every event posted so far:
    * run a tagged one-task job and wait for its end, then let the SQL and
    * streaming buses drain for a moment. */
  def flush(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SparkObserver.ReqKey)
    sc.setLocalProperty(SparkObserver.ReqKey, SparkObserver.Sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(SparkObserver.ReqKey, prev)
    val deadline = System.nanoTime() + 10000000000L
    while (sentinelSeen < 0 && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(200)
    sentinelSeen = -1
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object SparkObserver {
  val ReqKey = "perfbench.req"
  val Sentinel = "perfbench.sentinel"
  def isoNanos(ts: String): Long =
    Clock.fromEpochMs(java.time.Instant.parse(ts).toEpochMilli)

  /** Every physical node, through adaptive and query-stage wrappers and
    * subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** (rows scanned, regions planned, regions total) summed over the graft-kv
    * scans of an executed plan, from the scan node's SQL metrics. */
  def scanMetrics(plan: SparkPlan): (Long, Long, Long) = {
    var r = 0L; var p = 0L; var t = 0L
    nodes(plan).foreach {
      case b: BatchScanExec =>
        def m(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
        r += m("graftRowsScanned"); p += m("graftRegionsPlanned"); t += m("graftRegionsTotal")
      case _ =>
    }
    (r, p, t)
  }
}
