package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timer: runMain graft.TimeOne <sfDir> <name> [name...]
  * (test scope — not part of the shipped library). */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val builder = GraftExtensions.configure(SparkSession.builder() // parity with Bench
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false"))
    // ad-hoc conf overrides for profiling experiments: GRAFT_CONF="k=v;k=v"
    sys.env.get("GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => }
    try SparkEntry.queries("q9_count")(spark, sfDir).count() catch { case _: Throwable => }
    val stageProf = sys.env.contains("GRAFT_STAGE_PROF")
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Int)]()
    if (stageProf) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = e.stageInfo
          val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
          stages.put(i.stageId, (i.name.takeWhile(_ != '\n').take(90), ms, i.numTasks))
        }
      })
    // GRAFT_JOB_PROF: per-job wall + the driver "think gap" before each job
    // (time since the previous job ended) — attributes the between-stages
    // wall that stage times can't see to the call site that launched the
    // NEXT job (planning/codegen/checkpoint IO all land in the gap).
    val jobProf = sys.env.contains("GRAFT_JOB_PROF")
    case class JobRec(id: Int, site: String, start: Long, var end: Long)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    if (jobProf) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
          jobs.put(e.jobId, JobRec(e.jobId, site, e.time, e.time))
        }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobs.get(e.jobId)).foreach(_.end = e.time)
        }
      })
    // GRAFT_PHASE_PROF: split one invocation's wall into driver-side phases
    // (registry+construction / analysis / physical planning / execution) to
    // attribute fixed per-query overhead that stage times can't see
    val phaseProf = sys.env.contains("GRAFT_PHASE_PROF")
    args.tail.foreach { name =>
      stages.clear()
      if (sys.env.contains("GRAFT_EXPLAIN")) {
        val mode = // GRAFT_EXPLAIN=formatted -> the plans/ deliverable format
          if (sys.env.get("GRAFT_EXPLAIN").contains("formatted"))
            org.apache.spark.sql.execution.FormattedMode
          else org.apache.spark.sql.execution.ExtendedMode
        println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(mode))
      }
      val t0 = System.nanoTime()
      val c0 = Bench.jvmCpuNanos() // cpu-seconds are load-insensitive: the A/B signal this host's noisy wall can't fake
      val n = if (phaseProf) {
        def ms(since: Long) = (System.nanoTime() - since) / 1e6
        val b0 = System.nanoTime(); val df = SparkEntry.queries(name)(spark, sfDir)
        val build = ms(b0)
        // plan/exec split on the COUNT's own QueryExecution (df.count()
        // would build a fresh one, re-planning inside the exec bucket and
        // discarding the plan we timed)
        val agg = df.groupBy().count()
        val a0 = System.nanoTime(); agg.queryExecution.assertAnalyzed()
        val analyze = ms(a0)
        val p0 = System.nanoTime(); agg.queryExecution.executedPlan
        val plan = ms(p0)
        val e0 = System.nanoTime(); val rows = agg.collect()(0).getLong(0)
        val exec = ms(e0)
        println(f"PHASES $name build=$build%.0fms analyze=$analyze%.0fms plan=$plan%.0fms exec=$exec%.0fms")
        rows
      } else SparkEntry.queries(name)(spark, sfDir).count()
      val cpuS = (Bench.jvmCpuNanos() - c0) / 1e9
      val gcMs = {
        import scala.jdk.CollectionConverters._
        java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum
      }
      println(f"TIMED $name rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f cpu=$cpuS%.2f gcCumMs=$gcMs")
      if (stageProf) {
        import scala.jdk.CollectionConverters._
        val top = stages.asScala.toSeq.sortBy(-_._2._2).take(20)
        top.foreach { case (id, (nm, ms, nt)) => println(f"STAGE $ms%6dms tasks=$nt%-3d #$id $nm") }
        println(f"STAGECOUNT ${stages.size()} totalMs=${stages.asScala.values.map(_._2).sum}")
      }
      if (jobProf) {
        import scala.jdk.CollectionConverters._
        val recs = jobs.asScala.values.toSeq.sortBy(_.start)
        val gaps = recs.sliding(2).collect {
          case Seq(a, b) => (b.start - a.end, b.site)
        }.toSeq
        val jobMs = recs.map(r => r.end - r.start)
        println(f"JOBPROF n=${recs.size} jobMs=${jobMs.sum} gapMs=${gaps.map(_._1).sum}")
        // top gaps individually, and gap totals grouped by next-job site
        gaps.sortBy(-_._1).take(12).foreach { case (g, s) => println(f"GAP   $g%6dms -> $s") }
        gaps.groupBy(_._2).map { case (s, g) => (g.map(_._1).sum, g.size, s) }
          .toSeq.sortBy(-_._1).take(15)
          .foreach { case (tot, n, s) => println(f"GAPSITE $tot%6dms n=$n%-3d $s") }
        recs.sortBy(r => r.start - r.end).take(8).foreach { r =>
          println(f"JOB   ${r.end - r.start}%6dms #${r.id} ${r.site}") }
        jobs.clear()
      }
    }
    spark.stop()
  }
}
