package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.catalog.GraftCatalog
import graft.datasource.{FilterCompiler, KvRowCodec, RowMaterializer}
import graft.ranges.{BytesUtil, ScanRange}
import graft.store.{ColumnSet, KvRow, KvStore}
import graft.types.{AvroCoder, FieldCoder, PhoenixCoder, PrimitiveCoder}

/** Per-layer numbers of a traced run: what the listeners observed over the
  * timed window, and a microbenchmark that calls each layer's functions
  * directly at fixed sizes. */
object Layers {

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Spark- and JVM-level numbers over the timed window [`w0`, `w1`].
    * `ops` are the window's successful ops (kind, req, start, end). Per-op
    * figures are medians over the ops of each primary kind, averaged over
    * the primary kinds (as `op_p50_ms` is); per-op counts are means. */
  def observed(o: SparkObserver, w0: Long, w1: Long, ops: Seq[(String, String, Long, Long)],
      primaries: Seq[String], attempted: Int, gcMs: Long, jitMs: Long,
      codegenCompiles: Long, codegenMs: Double, rowsServed: Long,
      liveHeap: Long): Map[String, Any] = {
    val n = math.max(attempted, 1)
    val jobsByReq = o.jobs.values.asScala.toSeq.filter(_.end > 0).groupBy(_.req)
    // An action belongs to the last op that started by its start time. That
    // time is cut to whole milliseconds, so an op counts as started from the
    // start of its millisecond. Ops are sequential and last far longer.
    val byStart = ops.sortBy(_._3).toArray
    val starts = byStart.map(op => op._3 / 1000000L * 1000000L)
    def opOf(a: ActionRec): Option[String] = {
      val i = starts.lastIndexWhere(_ <= a.start)
      if (i >= 0 && a.start <= byStart(i)._4) Some(byStart(i)._2) else None
    }
    val actsByReq = o.actions.asScala.toSeq.flatMap(a => opOf(a).map(_ -> a)).groupMap(_._1)(_._2)
    val acts = actsByReq.values.flatten.toSeq
    val windowSpans = Trace.spans.filter(sp => sp.start >= w0 && sp.end <= w1)
    val spansByReq = windowSpans.groupBy(_.req)
    final case class PerOp(jobs: Int, tasks: Int, jobMs: Double, gapMs: Double,
        firstJobMs: Option[Double], actions: Int, planMs: Double, execMs: Double)
    val per = ops.map { case (kind, req, s, e) =>
      val js = jobsByReq.getOrElse(req, Nil)
      val union = Trace.union(js.map(j => (math.max(j.start, s), math.min(j.end, e))))
      val as = actsByReq.getOrElse(req, Nil)
      // the benchmark's own plan/exec spans where it planned the op itself,
      // else the query phases and durations of the op's actions
      def phaseMs(span: String, fromActions: ActionRec => Long): Double = {
        val own = spansByReq.getOrElse(req, Nil).filter(_.name == span)
        (if (own.nonEmpty) own.map(_.dur).sum else as.map(fromActions).sum) / 1e6
      }
      kind -> PerOp(js.size, js.map(_.tasks).sum, union / 1e6, ((e - s) - union) / 1e6,
        if (js.isEmpty) None else Some(math.max(0L, js.map(_.start).min - s) / 1e6),
        as.size, phaseMs("plan", _.planNanos), phaseMs("exec", _.execNanos))
    }
    val byKind = primaries.map(k => per.collect { case (`k`, p) => p })
    def med(f: PerOp => Option[Double]): Double =
      byKind.map(ps => median(ps.flatMap(f))).sum / byKind.size
    def mean(f: PerOp => Double): Double =
      byKind.map(ps => if (ps.isEmpty) 0.0 else ps.map(f).sum / ps.size).sum / byKind.size
    val allJobs = ops.flatMap { case (_, req, _, _) => jobsByReq.getOrElse(req, Nil) }
    // job spans join the trace under the op span that issued them
    val opSpanIds = Trace.spans.groupBy(_.req).map { case (r, ss) => r -> ss.maxBy(_.dur) }
    jobsByReq.values.flatten.foreach { j =>
      Trace.add(Span(Trace.nextId(), "job", j.start, j.end,
        opSpanIds.get(j.req).map(_.id).getOrElse(0L), j.req))
    }
    val planned = acts.map(_.regionsPlanned).sum
    val total = acts.map(_.regionsTotal).sum
    Map(
      "spark.build_ms" -> median(windowSpans.filter(_.name == "build").map(_.dur / 1e6)),
      "spark.plan_ms" -> med(p => Some(p.planMs)),
      "spark.exec_ms" -> med(p => Some(p.execMs)),
      "spark.actions_per_op" -> mean(_.actions.toDouble),
      "spark.jobs_per_op" -> mean(_.jobs.toDouble),
      "spark.tasks_per_op" -> mean(_.tasks.toDouble),
      "spark.job_ms" -> med(p => Some(p.jobMs)),
      "spark.gap_ms" -> med(p => Some(p.gapMs)),
      "spark.first_job_ms" -> med(_.firstJobMs),
      "spark.task_cpu_s" -> allJobs.map(_.cpuNanos).sum / 1e9,
      "spark.codegen_compiles" -> codegenCompiles,
      "spark.codegen_ms" -> codegenMs,
      "jvm.gc_ms" -> gcMs,
      "jvm.jit_ms" -> jitMs,
      "jvm.heap_live_mb" -> liveHeap / 1048576.0,
      "scan.rows_scanned_per_op" -> acts.map(_.rowsScanned).sum.toDouble / n,
      "scan.regions_planned_ratio" -> (if (total == 0) 0.0 else planned.toDouble / total),
      "store.rows_served_per_op" -> rowsServed.toDouble / n)
  }

  /** Median over `reps` batches of the nanoseconds per call of `body`,
    * after one unmeasured batch; each batch is one `micro.<name>` span. */
  private def nsPer(name: String, calls: Int, reps: Int = 5)(body: Int => Unit): Double = {
    body(calls)
    val per = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Trace.span("micro." + name)(body(calls))
      (System.nanoTime() - t0).toDouble / calls
    }
    median(per)
  }

  private var sink = 0L // keeps results live

  /** The layer microbenchmark. Drops every store table first (it must run
    * after the workload's checks) and leaves the store empty. */
  def micro(work: java.nio.file.Path): Map[String, Any] = {
    KvStore.disableWal()
    KvStore.dropAll()
    val out = mutable.LinkedHashMap[String, Any]()
    val n = 20000

    // ---- graft.types: one field value per call
    val longs = Array.tabulate(n)(i => Gen.hash(1, 1, i))
    val strs = Array.tabulate(n)(i => "tag-" + (Gen.hash(1, 3, i) & 0xfffff))
    val arrs = Array.tabulate(n)(i => Seq.tabulate(8)(j => (Gen.hash(1, 4, i * 8 + j) & 0xff).toInt))
    val avro = new AvroCoder("""{"type":"array","items":"int"}""")
    val avroDt = AvroCoder.sqlTypeFor("""{"type":"array","items":"int"}""")
    def coder(tag: String, c: FieldCoder, dt: DataType, vals: Int => Any): Unit = {
      val enc = Array.tabulate(n)(i => c.encode(dt, vals(i)))
      out(s"coder.encode_ns.$tag") = nsPer(s"encode.$tag", n) { k =>
        var i = 0; while (i < k) { sink += c.encode(dt, vals(i)).length; i += 1 } }
      out(s"coder.decode_ns.$tag") = nsPer(s"decode.$tag", n) { k =>
        var i = 0; while (i < k) { if (c.decode(dt, enc(i)) == null) sink += 1; i += 1 } }
    }
    // Primitive over the kv tables' mix (bigint keys and string values),
    // Phoenix over bigints, Avro over 8-int arrays (the PQ code column)
    coder("phoenix", PhoenixCoder, LongType, i => longs(i))
    coder("avro", avro, avroDt, i => arrs(i))
    def primDt(i: Int): DataType = if (i % 2 == 0) LongType else StringType
    def primVal(i: Int): Any = if (i % 2 == 0) longs(i) else strs(i)
    val pEnc = Array.tabulate(n)(i => PrimitiveCoder.encode(primDt(i), primVal(i)))
    out("coder.encode_ns.primitive") = nsPer("encode.primitive", n) { k =>
      var i = 0; while (i < k) { sink += PrimitiveCoder.encode(primDt(i), primVal(i)).length; i += 1 }
    }
    out("coder.decode_ns.primitive") = nsPer("decode.primitive", n) { k =>
      var i = 0
      while (i < k) { if (PrimitiveCoder.decode(primDt(i), pEnc(i)) == null) sink += 1; i += 1 }
    }

    // ---- graft.datasource: filter compile, write codec, materialize
    val cat = GraftCatalog.parse(Accounts.Catalog)
    val getFilters = Seq(sources.EqualTo("acct", 42L), sources.EqualTo("seq", 7))
    val scanFilters = Seq(sources.LessThan("qty", 500), sources.GreaterThanOrEqual("acct", 10L),
      sources.LessThan("acct", 300L))
    out("filter.compile_us") = nsPer("filter.compile", 2000) { k =>
      var i = 0
      while (i < k) {
        sink += FilterCompiler.compileAll(cat, if (i % 2 == 0) getFilters else scanFilters).ranges.size
        i += 1
      }
    } / 1000.0
    val codec = new KvRowCodec(cat, Accounts.Schema)
    val rows = Array.tabulate(n) { i =>
      val v = Accounts.vals(1, i / 1000, i % 1000)
      InternalRow(i / 1000L, i % 1000, v.amount, v.qty, UTF8String.fromString(v.tag), v.score)
    }
    out("codec.ns_row") = nsPer("codec", n) { k =>
      var i = 0
      while (i < k) { sink += codec.key(rows(i)).length + codec.cells(rows(i), 1L).size; i += 1 }
    }
    val kvRows = rows.map(r => KvRow(codec.key(r), codec.cells(r, 1L)))
    val mat = new RowMaterializer(cat, cat.fields.map(f => (f, f.dataType)), mergeToLatest = true)
    out("materialize.ns_row") = nsPer("materialize", n) { k =>
      var i = 0
      while (i < k) { val it = mat.materialize(kvRows(i)); while (it.hasNext) { it.next(); sink += 1 }; i += 1 }
    }

    // ---- graft.ranges: a 64-point set AND-ed against 8 region bounds
    implicit val ord: Ordering[Array[Byte]] = BytesUtil.byteArrayOrdering
    val points = (0 until 64).map(i => ScanRange.point(PrimitiveCoder.encode(LongType, Gen.below(1, 5, i, 500))))
    val bounds = (0 until 8).map { r =>
      ScanRange[Array[Byte]](
        if (r == 0) graft.ranges.Bound.negInf else graft.ranges.Bound.incl(PrimitiveCoder.encode(LongType, r * 62L)),
        if (r == 7) graft.ranges.Bound.posInf else graft.ranges.Bound.excl(PrimitiveCoder.encode(LongType, (r + 1) * 62L)))
    }
    out("ranges.and_us") = nsPer("ranges.and", 500) { k =>
      var i = 0; while (i < k) { sink += ScanRange.and(points, bounds).size; i += 1 }
    } / 1000.0

    // ---- graft.store: put / get / scan on an 8-region table, WAL off
    val splits = (1 until 8).map(r => PrimitiveCoder.encode(LongType, r * (n / 1000L) / 8))
    var gen = 0
    def freshTable() = { gen += 1; KvStore.createTable(s"default:pb_micro_$gen", splits) }
    out("store.put_ns_row") = nsPer("store.put", n) { k =>
      val t = freshTable()
      var i = 0; while (i < k) { t.put(kvRows(i).key, kvRows(i).cells); i += 1 }
      KvStore.drop(t.name)
    }
    val t = freshTable()
    kvRows.foreach(r => t.put(r.key, r.cells))
    out("store.get_ns") = nsPer("store.get", n) { k =>
      var i = 0
      while (i < k) {
        if (t.get(kvRows((i * 7919) % n).key, ColumnSet.All, None, 1).isEmpty) sink += 1
        i += 1
      }
    }
    out("store.scan_ns_row") = nsPer("store.scan", n) { k =>
      var m = 0
      t.regionInfos.foreach { r =>
        val it = t.scan(r.index, ScanRange.all, ColumnSet.All, None, 1, None)
        while (it.hasNext && m < k) { it.next(); m += 1 }
      }
      sink += m
    }
    KvStore.dropAll()

    // ---- graft.store WAL: per-record flush (the default), then a
    // checkpoint and a replay of the log
    val walDir = work.resolve("micro-wal")
    java.nio.file.Files.createDirectories(walDir)
    KvStore.enableWal(walDir)
    val userBytes = kvRows.map(r => r.key.length + r.cells.map(_.value.length).sum).sum.toLong
    val tw = KvStore.createTable("default:pb_micro_wal", splits)
    val t0 = System.nanoTime()
    Trace.span("micro.store.put_wal")(kvRows.foreach(r => tw.put(r.key, r.cells)))
    out("store.put_wal_ns_row") = (System.nanoTime() - t0).toDouble / n
    KvStore.walSync()
    out("wal.bytes_per_user_byte") = dirBytes(walDir).toDouble / userBytes
    val rot0 = (KvStore.walRotations, KvStore.walRotationNanos)
    Trace.span("micro.wal.checkpoint")(KvStore.checkpointWal())
    out("wal.rotations") = KvStore.walRotations - rot0._1
    out("wal.rotation_ms") = (KvStore.walRotationNanos - rot0._2) / 1e6
    // a log tail after the snapshot, so replay reads both
    kvRows.take(n / 4).foreach(r => tw.put(r.key, r.cells.map(c => c.copy(ts = 2L))))
    KvStore.disableWal()
    val t1 = System.nanoTime()
    Trace.span("micro.wal.replay")(KvStore.replayWal(walDir))
    out("wal.replay_ms") = (System.nanoTime() - t1) / 1e6
    val back = KvStore.table("default:pb_micro_wal")
    val replayed = back.regionInfos.map(r => back.scan(r.index, ScanRange.all, ColumnSet.All, None, 1, None).size).sum
    if (replayed != n) throw new IllegalStateException(s"micro WAL replay restored $replayed of $n rows")
    KvStore.dropAll()
    out.toMap
  }

  def dirBytes(d: java.nio.file.Path): Long = {
    val s = java.nio.file.Files.walk(d)
    try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum
    finally s.close()
  }
}
