package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Benchmark JVM entry point, started by `perfbench/run.py`:
  *
  * {{{
  *   Main --workload kv_read --seed 1 --seconds 10 --trace 0 --work DIR --out FILE --cores N
  * }}}
  *
  * Writes the run record (raw samples, counts, checks, context, and for a
  * traced run the per-layer numbers) as JSON to `--out`; spans go to
  * `--work`/spans.json. run.py turns the record into the reported metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val out = Paths.get(args("out"))
    val cores = args("cores").toInt
    haltWithParent()
    val load0 = loadavg()
    val calibMs = calibrate()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("graft.stream.tmpBase", mkdir(work.resolve("stream")).toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyS = (System.currentTimeMillis() - Jvm.startEpochMs) / 1e3

    val ctx = Ctx(spark, seed, seconds, work, cores)
    val w: Workload = workload match {
      case "kv_read" => new KvRead(ctx)
      case "cdc_drain" => new CdcDrain(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val obs = if (traced) {
      Trace.enabled = true
      val o = new SparkObserver(spark); o.register(); Some(o)
    } else None
    val t0 = System.nanoTime()
    var record = new Harness(ctx, w).run(obs)
    if (traced) {
      val micro = Trace.span("micro", "micro")(Layers.micro(work) ++ AnnProbe.run(spark, cores))
      obs.foreach(_.unregister())
      val spans = Trace.spans
      val self = Trace.selfTimes(spans)
      // self time per span name, summed over the run
      val selfByName = spans.groupBy(_.name).map { case (n, ss) =>
        n -> ss.map(s => self(s.id)).sum / 1e6 }
      val spansFile = work.resolve("spans.json")
      Files.writeString(spansFile, Json.write(spans.map(s => Map(
        "id" -> s.id, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "parent" -> s.parent, "req" -> s.req, "self_ns" -> self(s.id)))))
      record = record ++ Map(
        "layers" -> (record.getOrElse("layers", Map.empty).asInstanceOf[Map[String, Any]] ++ micro),
        "self_ms_by_span" -> selfByName,
        "spans" -> spans.size,
        "spans_file" -> spansFile.toString)
    }
    val context = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cores, "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Jvm.heapMax / 1048576, "loadavg_start" -> load0,
      "loadavg_end" -> loadavg(), "calib_ms" -> calibMs,
      "jvm_to_session_s" -> sessionReadyS, "run_s" -> (System.nanoTime() - t0) / 1e9,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))
    Files.writeString(out, Json.write(record ++ Map("context" -> context)))
    spark.stop()
  }

  private def mkdir(p: Path): Path = Files.createDirectories(p)

  /** Halt when the process that started this JVM (run.py) is gone, so a
    * killed run never leaves a benchmark JVM behind. */
  private def haltWithParent(): Unit =
    ProcessHandle.current().parent().ifPresent { parent =>
      val t = new Thread(() => {
        while (parent.isAlive) Thread.sleep(500)
        Runtime.getRuntime.halt(3)
      }, "perfbench-parent-watch")
      t.setDaemon(true)
      t.start()
    }

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** A fixed single-threaded mixing loop (min of 3, ms): host-speed context
    * for reading a run, never used to normalise a metric. */
  def calibrate(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 40000000) { h ^= i; h *= 0xC2B2AE3D27D4EB4FL; h ^= (h >>> 29); i += 1 }
      if (h == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e6
    }
    (1 to 3).map(_ => once()).min
  }
}
