package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One client request. `run` returns true iff the answer was checked and
  * correct; a false or a throw counts as a failed op and its latency is
  * never recorded as a success. */
final case class Op(kind: String, run: () => Boolean)

final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload provides to the harness. */
trait Workload {
  /** Op kinds whose median latencies, averaged, are the run's `op_p50_ms`
    * (one kind, or one per side of an alternating schedule). */
  def primaries: Seq[String]
  /** Ops of each primary kind per warm-up window (windows are compared
    * for steadiness). */
  def warmWindow: Int
  /** Warm-up windows to run: a fixed amount of work, so every run starts
    * its timed window at the same point of the JIT warm-up curve. */
  def warmWindows: Int
  /** Build the workload's state from scratch; returns the encoded key and
    * value bytes it loaded (the denominator of `heap_per_user_byte`). */
  def setupOnce(rep: Int): Long
  /** Drop every table the workload created (before a heap baseline). */
  def teardown(): Unit
  /** The i-th op of the seeded client schedule. */
  def op(i: Int): Op
  /** Correctness checks over the final state, after the timed window. */
  def finalChecks(): Seq[Check]
  /** Workload-specific end-to-end numbers (printed, not gated). */
  def extras(): Map[String, Any] = Map.empty
  /** Workload-specific layer numbers of the timed window [w0, w1] for the
    * traced run's report. */
  def layers(obs: SparkObserver, w0: Long, w1: Long): Map[String, Any] = Map.empty
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    work: java.nio.file.Path, cores: Int)

object Harness {
  /** Warm-up runs the workload's `warmWindows` windows; no new window
    * starts after WarmCapS seconds, a guard for a very slow host. An
    * earlier warm-up that stopped once window medians agreed, or after
    * 25 s, ended at varying points of the JIT curve, and timed medians
    * spread ~20% from run to run. The JIT keeps compiling Catalyst's rules
    * for minutes (kv_read gets still get ~1% faster per second after 40 s
    * of load), so no affordable warm-up is steady: a fixed one plus a long
    * timed window is. The record still says whether the last three window
    * medians agreed within SteadyShare. */
  val WarmCapS = 60
  val SteadyShare = 0.05
}

/** Runs a workload: repeated set-up, a fixed warm-up, then a timed
  * closed loop with one client for `seconds`, then the final checks. */
final class Harness(ctx: Ctx, w: Workload) {
  private val sc = ctx.spark.sparkContext
  val setupReps = 3

  final class OpStats {
    val lat = mutable.ArrayBuffer[Double]()
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer[String]()
  }

  private def runOp(i: Int, req: String, stats: mutable.Map[String, OpStats],
      spans: mutable.ArrayBuffer[(String, String, Long, Long)]): Unit = {
    val o = w.op(i)
    val st = stats.getOrElseUpdate(o.kind, new OpStats)
    sc.setLocalProperty(SparkObserver.ReqKey, req)
    val t0 = Clock.now()
    var error = s"wrong answer in op $i (${o.kind})"
    val ok = try Trace.span(o.kind, req)(o.run()) catch {
      case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}".take(300); false
    }
    val t1 = Clock.now()
    sc.setLocalProperty(SparkObserver.ReqKey, null)
    st.attempted += 1
    if (ok) { st.lat += (t1 - t0) / 1e6; spans += ((o.kind, req, t0, t1)) }
    else {
      st.failed += 1
      if (st.errors.size < 5) st.errors += error
    }
  }

  def run(obs: Option[SparkObserver]): Map[String, Any] = {
    // ---- set-up, repeated; the last repetition's state is the one used
    val setupS = mutable.ArrayBuffer[Double]()
    var heapBefore = 0L; var heapAfter = 0L; var userBytes = 0L
    (1 to setupReps).foreach { rep =>
      if (rep == setupReps) { w.teardown(); heapBefore = Jvm.liveHeap() }
      sc.setLocalProperty(SparkObserver.ReqKey, s"setup-$rep")
      val t0 = System.nanoTime()
      userBytes = Trace.span("setup", s"setup-$rep")(w.setupOnce(rep))
      setupS += (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(SparkObserver.ReqKey, null)
      if (rep == setupReps) heapAfter = Jvm.liveHeap()
    }

    // ---- warm-up, in windows of primary ops (see the Harness object)
    val warmStats = mutable.Map[String, OpStats]()
    val warmT0 = System.nanoTime()
    var i = 1000000
    val windowMedians = mutable.ArrayBuffer[Double]()
    var steady = false
    def done(k: String) = warmStats.get(k).map(_.lat.size).getOrElse(0)
    while (windowMedians.size < w.warmWindows &&
        System.nanoTime() - warmT0 < Harness.WarmCapS * 1e9) {
      val from = w.primaries.map(k => k -> done(k)).toMap
      while (w.primaries.exists(k => done(k) - from(k) < w.warmWindow)) {
        runOp(i, s"warm-$i", warmStats, mutable.ArrayBuffer()); i += 1
        if (warmStats.values.map(_.failed).sum > 20) throw new IllegalStateException(
          "warm-up ops keep failing: " + warmStats.values.flatMap(_.errors).take(3).mkString("; "))
      }
      windowMedians += w.primaries.map(k => Layers.median(warmStats(k).lat.drop(from(k)))).sum /
        w.primaries.size
      steady = windowMedians.size >= 3 &&
        windowMedians.takeRight(3).sliding(2).forall(p => math.abs(p(1) - p(0)) <= Harness.SteadyShare * p(0))
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9

    // ---- timed window, from a collected heap (as JMH starts each
    // iteration), so that no run carries the warm-up's garbage into it
    System.gc()
    val stats = mutable.Map[String, OpStats]()
    val opSpans = mutable.ArrayBuffer[(String, String, Long, Long)]()
    val served0 = graft.store.KvStore.rowsServed
    val cg0 = (Jvm.codegenCompiles, Jvm.codegenNanos)
    val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
    val cpu0 = Jvm.cpuNanos
    val t0 = System.nanoTime(); val w0 = Clock.now()
    val deadline = t0 + ctx.seconds * 1000000000L
    i = 0
    while (System.nanoTime() < deadline) { runOp(i, s"op-$i", stats, opSpans); i += 1 }
    val timedS = (System.nanoTime() - t0) / 1e9
    val w1 = Clock.now()
    val cpuS = (Jvm.cpuNanos - cpu0) / 1e9
    val gcMs = Jvm.gcMs - gc0; val jitMs = Jvm.jitMs - jit0
    val cg1 = (Jvm.codegenCompiles, Jvm.codegenNanos)
    val served = graft.store.KvStore.rowsServed - served0

    // warm-up ops are checked too: their failures count under their own
    // kind, which has no latencies (warm-up is never timed)
    val warm = new OpStats
    warm.attempted = warmStats.values.map(_.attempted).sum
    warm.failed = warmStats.values.map(_.failed).sum
    warm.errors ++= warmStats.values.flatMap(_.errors).take(5)

    val checks = w.finalChecks()
    val record = mutable.LinkedHashMap[String, Any](
      "primaries" -> w.primaries,
      "setup_rep_s" -> setupS.toSeq,
      "warmup_s" -> warmS,
      "warmup_windows_ms" -> windowMedians.toSeq,
      "warmup_steady" -> steady,
      "timed_s" -> timedS,
      "cpu_s" -> cpuS,
      "jit_s" -> jitMs / 1e3,
      "gc_s" -> gcMs / 1e3,
      "heap_added_bytes" -> (heapAfter - heapBefore),
      "user_bytes" -> userBytes,
      "ops" -> (stats.toMap + ("warmup" -> warm)).map { case (k, s) =>
        k -> Map("lat_ms" -> s.lat.toSeq, "attempted" -> s.attempted, "failed" -> s.failed,
          "errors" -> s.errors.toSeq) },
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "extras" -> w.extras())
    obs.foreach { o =>
      o.flush()
      record("layers") = Layers.observed(o, w0, w1, opSpans.toSeq, w.primaries,
        stats.values.map(_.attempted).sum, gcMs, jitMs, cg1._1 - cg0._1,
        (cg1._2 - cg0._2) / 1e6, served, Jvm.liveHeap()) ++ w.layers(o, w0, w1)
    }
    record.toMap
  }
}
