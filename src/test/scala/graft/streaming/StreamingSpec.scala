package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.store.KvStore

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); KvStore.dropAll() }

  private val sfDir = "/root/testdata/sf0.001"

  /** Stream the events parquet (copied into a dir source); ts arrives as
    * nanos-long and is normalized exactly like the batch loader. */
  private def eventStream() = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = Files.createTempDirectory("graft-stream-src")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      src.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.queries.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(src.toString))
  }

  test("streaming windowed aggregation matches the batch twin") {
    val agg = GraftStreaming.windowedEventAgg(eventStream())
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("stream_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.sql("SELECT * FROM stream_out")
    val batch = graft.queries.Events.ev1WindowAgg(spark, sfDir)
    // append mode emits only watermark-closed windows; every emitted row
    // must match the batch result exactly, and most windows should close
    val b = batch.collect().map(_.toSeq).toSet
    val s = streamed.collect().map(_.toSeq).toSet
    assert(s.nonEmpty)
    assert(s.subsetOf(b), s"streamed rows not in batch result: ${s.diff(b).take(3)}")
    assert(s.size >= b.size - 5) // only trailing windows may stay open
  }

  test("stateful sessionization matches the batch twin") {
    val sess = GraftStreaming.sessionizeStream(eventStream())
    val q = sess.writeStream.outputMode("update")
      .format("memory").queryName("sess_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    // update mode re-emits users per batch; the LAST row per user is final.
    // AvailableNow over one file = one batch, so the table holds one row
    // per user; compare directly to the batch sessionizer.
    val streamed = spark.sql(
      "SELECT user_id, max(n_sessions) AS n_sessions, max(n_events) AS n_events " +
        "FROM sess_out GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = graft.queries.Events.ev2Sessionize(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed == batch)
  }

  test("streaming OHLC emits each bar exactly once across a checkpointed restart") {
    import org.apache.spark.sql.streaming.Trigger
    // split events by time: run 1 sees the older 60%, run 2 the rest —
    // boundary-hour bars accumulate state in run 1 and close in run 2
    val all = graft.queries.Tables.events(spark, sfDir).orderBy(col("ts")).cache()
    val n = all.count()
    val cut = all.orderBy(col("ts")).limit((n * 6 / 10).toInt)
      .agg(max(col("ts"))).head().getTimestamp(0)
    val src = Files.createTempDirectory("graft-ohlc-src")
    val sink = Files.createTempDirectory("graft-ohlc-sink").toString
    val ckpt = Files.createTempDirectory("graft-ohlc-ckpt").toString
    all.filter(col("ts") <= cut).coalesce(1).write.mode("overwrite")
      .parquet(src.resolve("part1").toString)
    val schema = spark.read.parquet(src.resolve("part1").toString).schema
    def runOnce(): Unit = {
      val stream = graft.queries.Tables.normalizeEventTs(
        spark.readStream.schema(schema).option("recursiveFileLookup", "true")
          .parquet(src.toString))
      val q = GraftStreaming.ohlcStream(stream).writeStream
        .outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val afterRun1 = spark.read.parquet(sink).count()
    assert(afterRun1 > 0, "run 1 closed no bars")
    all.filter(col("ts") > cut).coalesce(1).write.mode("overwrite")
      .parquet(src.resolve("part2").toString)
    runOnce()
    val emitted = spark.read.parquet(sink)
    assert(emitted.count() > afterRun1, "run 2 closed no further bars")
    // exactly-once: no bar key appears twice across the two runs
    val dups = emitted.groupBy("ws", "event_type").count().filter(col("count") > 1)
    assert(dups.isEmpty, s"duplicate bars: ${dups.collect().take(3).mkString}")
    // every emitted bar equals the batch bar over the FULL event set —
    // boundary bars must have merged run-1 state with run-2 events
    val batch = graft.queries.Events.ev12Ohlc(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) -> r.toSeq.drop(2)).toMap
    emitted.collect().foreach { r =>
      val key = (r.getString(1), r.getTimestamp(0))
      assert(batch.get(key).contains(Seq(r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))),
        s"bar $key diverges from the batch twin")
    }
    all.unpersist()
  }

  test("mixtureDeltaStream: insert/update/move deltas are exact and sum to current state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "source", "text")
    val sink = Files.createTempDirectory("graft-mds-sink").toString
    val ckpt = Files.createTempDirectory("graft-mds-ckpt").toString
    def drain(): Unit = {
      val q = GraftStreaming.mixtureDeltaStream(docs).writeStream
        .outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: two inserts
    in.addData((1L, "a", "one two three"), (2L, "b", "x y"))
    drain()
    // batch 2: doc 1 grows by a token; doc 2 MOVES to source a with new text;
    // doc 3 inserts
    in.addData((1L, "a", "one two three four"), (2L, "a", "x y z"), (3L, "b", "solo"))
    drain()
    val deltas = spark.read.parquet(sink)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expected = Seq(
      ("a", 1L, 3L),   // insert doc 1
      ("b", 1L, 2L),   // insert doc 2
      ("a", 0L, 1L),   // doc 1: +1 token
      ("b", -1L, -2L), // doc 2 leaves b
      ("a", 1L, 3L),   // doc 2 arrives in a with 3 tokens
      ("b", 1L, 1L))   // insert doc 3
    assert(deltas.sorted.toSeq == expected.sorted.toSeq)
    // and the log sums to the current corpus state
    val summed = deltas.groupBy(_._1).map { case (s, ds) =>
      s -> (ds.map(_._2).sum, ds.map(_._3).sum)
    }
    assert(summed == Map("a" -> (2L, 7L), "b" -> (1L, 1L)))
  }

  test("mixtureDeltaStream: multi-version batches apply newest-stamp-wins, arrival-order independent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String, String, Long)]
    val docs = in.toDF().toDF("doc_id", "source", "text", "_cell_ts")
    val sink = Files.createTempDirectory("graft-mvs-sink").toString
    val ckpt = Files.createTempDirectory("graft-mvs-ckpt").toString
    def drain(): Unit = {
      val q = GraftStreaming.mixtureDeltaStream(docs).writeStream
        .outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // batch 1: TWO versions of doc 1 in one batch, NEWEST ADDED FIRST (the
    // adversarial iterator order) — the stamp-20 version (source b, 2
    // tokens) must win over the stamp-10 insert (source a, 3 tokens);
    // plus a plain insert of doc 2
    in.addData((1L, "b", "two tokens", 20L), (1L, "a", "one two three", 10L),
      (2L, "a", "x", 5L))
    drain()
    val d1 = spark.read.parquet(sink)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted
    assert(d1.toSeq == Seq(("a", 1L, 1L), ("b", 1L, 2L)),
      s"newest-stamp version must win within a batch; got ${d1.toSeq}")
    // batch 2: a STALE replay of doc 1 (stamp 15 < state's 20) must emit
    // nothing and not regress state; doc 2 updates normally (stamp 6)
    in.addData((1L, "a", "one two three", 15L), (2L, "a", "x y z", 6L))
    drain()
    val d2 = spark.read.parquet(sink)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val summed = d2.groupBy(_._1).view.mapValues(ds =>
      (ds.map(_._2).sum, ds.map(_._3).sum)).toMap
    // current corpus: doc 1 = (b, 2 tokens) — the stale replay ignored;
    // doc 2 = (a, 3 tokens)
    assert(summed == Map("a" -> (1L, 3L), "b" -> (1L, 2L)),
      s"delta log must sum to current corpus state; got $summed")
  }

  test("mixtureDeltaStream: tombstones retract, dead state blocks stale resurrection") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, String, String, Long, Boolean)]
    val docs = in.toDF().toDF("doc_id", "source", "text", "_cell_ts", "_deleted")
    val sink = Files.createTempDirectory("graft-mdt-sink").toString
    val ckpt = Files.createTempDirectory("graft-mdt-ckpt").toString
    def drain(): Unit = {
      val q = GraftStreaming.mixtureDeltaStream(docs).writeStream
        .outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def summed(): Map[String, (Long, Long)] = spark.read.parquet(sink)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).view.mapValues(ds =>
        (ds.map(_._2).sum, ds.map(_._3).sum)).toMap
    // insert two docs
    in.addData((1L, "a", "one two three", 10L, false), (2L, "b", "x y", 10L, false))
    drain()
    assert(summed() == Map("a" -> (1L, 3L), "b" -> (1L, 2L)))
    // tombstone doc 1 (null value columns, like the CDC source emits)
    in.addData((1L, null, null, 20L, true))
    drain()
    assert(summed() == Map("a" -> (0L, 0L), "b" -> (1L, 2L)),
      "a tombstone must retract the doc's contribution exactly")
    // a STALE pre-delete version must not resurrect the doc; a genuinely
    // newer re-insert must
    in.addData((1L, "a", "one two three", 15L, false))
    drain()
    assert(summed() == Map("a" -> (0L, 0L), "b" -> (1L, 2L)),
      "a stale replay of a pre-delete version must stay dead")
    in.addData((1L, "c", "fresh doc", 30L, false))
    drain()
    assert(summed() == Map("a" -> (0L, 0L), "b" -> (1L, 2L), "c" -> (1L, 2L)),
      "a newer re-insert after a delete must count again")
  }

  test("stream offsets parse strictly; malformed checkpoints fail loudly") {
    import graft.datasource.GraftStreamOffset
    val ok = GraftStreamOffset(Map(0 -> 12L, 3 -> -5L))
    assert(GraftStreamOffset.parse(ok.json()).stamps == ok.stamps)
    assert(GraftStreamOffset.parse("{}").stamps.isEmpty)
    Seq("""{"0":12""", "garbage", """{"0":12,}""", """[1,2]""", "").foreach { bad =>
      intercept[IllegalArgumentException](GraftStreamOffset.parse(bad))
    }
  }

  test("default write stamps register in-flight so offset capture cannot strand them") {
    val t = graft.store.KvStore.createTable("stream:inflight", Seq.empty,
      dropExisting = true)
    try {
      assert(t.regions.forall(_.minInFlight == Long.MaxValue))
      t.withWriteStamp { s =>
        // while a default-stamp write is in flight, every region's capture
        // floor sits below it
        assert(t.regions.forall(_.minInFlight == s))
        t.withWriteStamp { s2 => // nested/concurrent writers stack
          assert(t.regions.forall(_.minInFlight == math.min(s, s2)))
        }
        assert(t.regions.forall(_.minInFlight == s))
      }
      assert(t.regions.forall(_.minInFlight == Long.MaxValue),
        "deregistration must clear the capture floor")
    } finally graft.store.KvStore.drop("stream:inflight")
  }

  test("stateful anomaly detection matches the batch twin bit for bit") {
    val anom = GraftStreaming.anomalyStream(eventStream())
    val q = anom.writeStream.outputMode("update")
      .format("memory").queryName("anom_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql(
      "SELECT user_id, max(n_events) AS e, max(n_scored) AS s, max(n_anomalies) AS a " +
        "FROM anom_out GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val batch = graft.queries.Events.ev7Anomaly(spark, sfDir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(streamed == batch)
  }

  test("update-mode streaming aggregation sinks into the kv store as upserts") {
    // SupportsStreamingUpdateAsAppend: a watermarked windowed aggregate in
    // UPDATE mode writes straight to graft-kv; each group's re-emission
    // upserts the same rowkey, so the final table equals the batch twin
    val catalog =
      """{"table":{"namespace":"default", "name":"kv_stream_agg"},
        |"rowkey":"k1:k2",
        |"columns":{
        |"ws_us":{"cf":"rowkey", "col":"k1", "type":"bigint"},
        |"event_type":{"cf":"rowkey", "col":"k2", "type":"string"},
        |"n":{"cf":"f", "col":"n", "type":"bigint"},
        |"sum_value":{"cf":"f", "col":"sv", "type":"bigint"}}}""".stripMargin
    val agg = GraftStreaming.windowedEventAgg(eventStream())
      .selectExpr("unix_micros(ws) AS ws_us", "event_type", "n", "sum_value")
    val q = GraftStreaming.kvSink(agg, Map("catalog" -> catalog, "newtable" -> "4"))
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.format("graft-kv").option("catalog", catalog).load()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    val batch = graft.queries.Events.ev1WindowAgg(spark, sfDir)
      .selectExpr("unix_micros(ws) AS ws_us", "event_type", "n", "sum_value")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed == batch)
  }

  test("stateful funnel matches the batch twin stage for stage") {
    val fun = GraftStreaming.funnelStream(eventStream())
    val q = fun.writeStream.outputMode("update")
      .format("memory").queryName("funnel_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql(
      """SELECT user_id, CAST(max(funnel_stage) AS INT) AS stage,
        |  max(tv_us) AS tv, max(tc_us) AS tc, max(tp_us) AS tp
        |FROM funnel_out GROUP BY user_id""".stripMargin)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    val batch = graft.queries.Events.ev8Funnel(spark, sfDir)
      .selectExpr("user_id", "funnel_stage", "unix_micros(ts_view) AS tv",
        "unix_micros(ts_click) AS tc", "unix_micros(ts_purchase) AS tp")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.get(2)), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(streamed == batch)
  }

  test("stateful transition counting matches the batch twin") {
    val trans = GraftStreaming.transitionStream(eventStream())
    val q = trans.writeStream.outputMode("update")
      .format("memory").queryName("trans_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql(
      """WITH per AS (SELECT user_id, from_type, to_type, max(n) AS n
        |             FROM trans_out GROUP BY 1, 2, 3)
        |SELECT from_type, to_type, sum(n) AS n FROM per GROUP BY 1, 2""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = graft.queries.Events.ev11Transitions(spark, sfDir)
      .collect().map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        r.getAs[Long]("n")).toMap
    assert(streamed == batch)
  }

  test("streaming dedup emits one row per distinct key") {
    val deduped = GraftStreaming.dedupStream(
      eventStream(), Seq("user_id", "event_type"), "ts")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.sql("SELECT count(*) FROM dedup_out").head.getLong(0)
    val batch = graft.queries.Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct().count()
    assert(streamed == batch)
  }

  test("sessionization contract under late cross-batch events: counted, never corrupting") {
    // two source files forced into two micro-batches (maxFilesPerTrigger=1):
    // batch 1 carries user 7's events at t=0 and t=3600s (two sessions,
    // 30-min gap); batch 2 delivers a LATE event at t=100s — behind the
    // key's clock. Contract (GraftStreaming.sessionizeStream): the late
    // event increments n_events but neither rewinds the session clock nor
    // opens a session.
    val src = java.nio.file.Files.createTempDirectory("graft-late-src")
    import spark.implicits._
    def writeBatch(name: String, rows: Seq[(Long, Long, Long)]): Unit = {
      rows.toDF("event_id", "user_id", "ts_sec")
        .selectExpr("event_id", "user_id", "timestamp_seconds(ts_sec) AS ts")
        .coalesce(1).write.parquet(s"$src/$name")
      // move the part file up so the directory is a flat file-stream source
      val dir = new java.io.File(s"$src/$name")
      val part = dir.listFiles().find(_.getName.startsWith("part-")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$src/$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
    writeBatch("b1", Seq((1L, 7L, 0L), (2L, 7L, 3600L)))
    Thread.sleep(1100) // distinct modification times => deterministic file order
    writeBatch("b2", Seq((3L, 7L, 100L)))
    val schema = spark.read.parquet(s"$src/b1.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src.toString)
    val q = GraftStreaming.sessionizeStream(stream)
      .writeStream.outputMode("update").format("memory").queryName("late_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val r = spark.sql(
      "SELECT max(n_sessions) AS s, max(n_events) AS e FROM late_out WHERE user_id = 7")
      .head()
    assert(r.getLong(0) == 2, s"late event must not open/merge sessions: ${r}")
    assert(r.getLong(1) == 3, s"late event must still be counted: ${r}")
  }

  test("stream-stream interval join matches the batch interval join") {
    val joined = GraftStreaming.intervalJoinStream(eventStream())
      .select(col("l_id"), col("r_id"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("sv4_test_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("sv4_test_out").collect().map(_.toSeq).toSet
    val e = graft.queries.Tables.events(spark, sfDir)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("l_id"), col("user_id").as("u"), col("ts").as("pts"))
    val c = e.filter(col("event_type") === "click")
      .select(col("event_id").as("r_id"), col("user_id").as("u2"), col("ts").as("cts"))
    val batch = p.join(c, col("u") === col("u2") &&
        col("cts") >= col("pts") - expr("INTERVAL 600 SECONDS") &&
        col("cts") <= col("pts"))
      .select(col("l_id"), col("r_id")).collect().map(_.toSeq).toSet
    // inner-join matches emit when both sides are present — the finite run
    // must produce the exact batch match set
    assert(streamed == batch,
      s"stream=${streamed.size} batch=${batch.size} diff=${(batch -- streamed).take(3)}")
  }

  test("graft-kv streaming SOURCE: per-batch CDC across three resumed runs, late updates included") {
    import org.apache.spark.sql.streaming.Trigger
    val catalog =
      """{"table":{"namespace":"default", "name":"cdc_src"},
        |"rowkey":"key",
        |"columns":{
        |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"v":{"cf":"f", "col":"v", "type":"string"},
        |"w":{"cf":"f", "col":"w", "type":"bigint"}}}""".stripMargin
    import spark.implicits._
    def write(rows: Seq[(Long, String, Long)], ts: Long, mode: String = "append"): Unit =
      rows.toDF("k", "v", "w").write.format("graft-kv")
        .options(Map("catalog" -> catalog, "newtable" -> "4", "timestamp" -> ts.toString,
          "minSplitNum" -> "0", "maxSplitNum" -> "1000"))
        .mode(mode).save()

    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Set[(Long, String, Long)])]()
    // foreachBatch is a recoverable sink, so one checkpoint threads the
    // offset log through all three runs — each run resumes at the committed
    // per-region stamp vector and must see ONLY the rows written since
    def drain(): Unit = {
      val q = spark.readStream.format("graft-kv").option("catalog", catalog).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          batches.add(id -> df.collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet)
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // run 1: initial snapshot (keys spread across all four regions)
    write(Seq((1L, "a", 10L), (300L, "b", 20L), (600L, "c", 30L), (900L, "d", 40L)),
      ts = 1000, mode = "overwrite")
    drain()
    // run 2: an update to an existing key + a brand-new key
    write(Seq((300L, "b2", 21L), (450L, "e", 50L)), ts = 2000)
    drain()
    // run 3: another generation touching a key updated in run 2 (the "late
    // update" path: same key keeps re-appearing with advancing stamps)
    write(Seq((300L, "b3", 22L), (1L, "a2", 11L)), ts = 3000)
    drain()

    import scala.jdk.CollectionConverters._
    val got = batches.asScala.toSeq.sortBy(_._1).map(_._2).filter(_.nonEmpty)
    assert(got.size == 3, s"expected 3 non-empty micro-batches, got $batches")
    assert(got(0) == Set((1L, "a", 10L), (300L, "b", 20L), (600L, "c", 30L), (900L, "d", 40L)))
    assert(got(1) == Set((300L, "b2", 21L), (450L, "e", 50L)),
      "resumed run must emit ONLY the second-generation writes")
    assert(got(2) == Set((300L, "b3", 22L), (1L, "a2", 11L)),
      "third run must emit only the third-generation writes")

    // a write stamped BEHIND its REGION's committed offset is invisible
    // (CDC low-watermark contract, per region exactly like a region
    // server's WAL position): key 450's region committed at 3000 above, so
    // a ts=1500 write there never streams — while a fresh stamp in another
    // region (900's, committed at 1000) still does
    write(Seq((450L, "stale", 51L)), ts = 1500)
    write(Seq((900L, "d2", 41L)), ts = 4000)
    drain()
    val after = batches.asScala.toSeq.sortBy(_._1).map(_._2).filter(_.nonEmpty)
    assert(after.last == Set((900L, "d2", 41L)),
      s"stale-stamped write must not re-stream: ${after.last}")
  }

  test("graft-kv streaming SOURCE: delete tombstones under the tombstones option") {
    import org.apache.spark.sql.streaming.Trigger
    val catalogJson =
      """{"table":{"namespace":"default", "name":"cdc_tomb"},
        |"rowkey":"key",
        |"columns":{
        |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
    import spark.implicits._
    def write(rows: Seq[(Long, String)], ts: Long, mode: String = "append"): Unit =
      rows.toDF("k", "v").write.format("graft-kv")
        .options(Map("catalog" -> catalogJson, "newtable" -> "4", "timestamp" -> ts.toString,
          "minSplitNum" -> "0", "maxSplitNum" -> "1000"))
        .mode(mode).save()
    val parsed = graft.catalog.GraftCatalog.parse(catalogJson, Map.empty)
    def deleteRange(lo: Long, hi: Long, stamp: Long): Long = {
      val hrf = graft.datasource.FilterCompiler.compileAll(parsed, Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("k", lo),
        org.apache.spark.sql.sources.LessThanOrEqual("k", hi)))
      KvStore.table("default:cdc_tomb").delete(hrf.ranges, hrf.pred, stamp)
    }

    val ckpt = Files.createTempDirectory("graft-tomb-ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer[Set[(Long, Option[String], Boolean, Long)]]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-kv")
        .option("catalog", catalogJson).option("tombstones", "true").load()
        .select(col("k"), col("v"), col("_deleted"), col("_cell_ts"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect()
            .map(r => (r.getLong(0), Option(r.getString(1)), r.getBoolean(2), r.getLong(3))).toSet
          if (rows.nonEmpty) batches.synchronized { batches += rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // snapshot: all upserts, _deleted=false, _cell_ts = write stamp
    write(Seq((1L, "a"), (300L, "b"), (600L, "c"), (900L, "d")), ts = 1000, mode = "overwrite")
    drain()
    assert(batches.last == Set((1L, Some("a"), false, 1000L), (300L, Some("b"), false, 1000L),
      (600L, Some("c"), false, 1000L), (900L, Some("d"), false, 1000L)))

    // ranged delete → tombstone rows: value null, _deleted=true, stamp = delete stamp
    assert(deleteRange(300, 600, stamp = 2000) == 2)
    drain()
    assert(batches.last == Set((300L, None, true, 2000L), (600L, None, true, 2000L)),
      s"expected exactly the two tombstones: ${batches.last}")

    // resurrect one key: the re-put supersedes its marker — upsert only
    write(Seq((300L, "b2")), ts = 3000)
    drain()
    assert(batches.last == Set((300L, Some("b2"), false, 3000L)))

    // put + delete inside ONE window → only the tombstone survives (the row
    // is gone from the store; the marker is the newest event)
    write(Seq((42L, "temp")), ts = 3500)
    assert(deleteRange(42, 42, stamp = 3600) == 1)
    drain()
    assert(batches.last == Set((42L, None, true, 3600L)),
      s"put-then-delete in one window must stream only the tombstone: ${batches.last}")

    // without the option: same table, no _deleted column, deletes invisible
    val plain = spark.readStream.format("graft-kv").option("catalog", catalogJson).load()
    assert(!plain.schema.fieldNames.contains("_deleted"))
  }

  test("tombstones honor pushed predicates and survive mergeToLatest=false") {
    import org.apache.spark.sql.streaming.Trigger
    // composite key: a filter on the SUFFIX part k2 compiles to ranges=All
    // plus an exact key predicate — Spark drops the residual, so tombstones
    // must apply the predicate themselves (they used to bypass it entirely)
    val catalogJson =
      """{"table":{"namespace":"default", "name":"cdc_tombpred"},
        |"rowkey":"k1:k2",
        |"columns":{
        |"k1":{"cf":"rowkey", "col":"k1", "type":"string", "length":"1"},
        |"k2":{"cf":"rowkey", "col":"k2", "type":"bigint"},
        |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
    import spark.implicits._
    def write(rows: Seq[(String, Long, String)], ts: Long, mode: String = "append"): Unit =
      rows.toDF("k1", "k2", "v").write.format("graft-kv")
        .options(Map("catalog" -> catalogJson, "newtable" -> "4", "timestamp" -> ts.toString))
        .mode(mode).save()
    val parsed = graft.catalog.GraftCatalog.parse(catalogJson, Map.empty)
    def deleteK1(k1: String, stamp: Long): Long = {
      val hrf = graft.datasource.FilterCompiler.compileAll(parsed, Seq(
        org.apache.spark.sql.sources.EqualTo("k1", k1)))
      KvStore.table("default:cdc_tombpred").delete(hrf.ranges, hrf.pred, stamp)
    }

    def drainWith(filter: org.apache.spark.sql.Column, ckpt: String,
        extraOpts: Map[String, String] = Map.empty): Seq[Set[(String, Long, Boolean)]] = {
      val out = scala.collection.mutable.ArrayBuffer[Set[(String, Long, Boolean)]]()
      val q = spark.readStream.format("graft-kv")
        .option("catalog", catalogJson).option("tombstones", "true")
        .options(extraOpts).load()
        .where(filter)
        .select(col("k1"), col("k2"), col("_deleted"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
          if (rows.nonEmpty) out.synchronized { out += rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      out.toSeq
    }

    write(Seq(("a", 1L, "x"), ("a", 2L, "y"), ("b", 1L, "z"), ("b", 3L, "w")),
      ts = 1000, mode = "overwrite")

    // suffix-key predicate: only the k2=1 tombstones may stream
    val ck1 = Files.createTempDirectory("graft-tp1").toString
    val first = drainWith(col("k2") === 1L, ck1)
    assert(first.last == Set(("a", 1L, false), ("b", 1L, false)))
    assert(deleteK1("a", stamp = 2000) == 2) // kills (a,1) and (a,2)
    val second = drainWith(col("k2") === 1L, ck1)
    assert(second.last == Set(("a", 1L, true)),
      s"only the k2=1 tombstone may pass the pushed key predicate: ${second.last}")

    // value predicate: a tombstone's values are null — v = 'z' can never
    // match a delete row, and IS NULL matches exactly the tombstones
    write(Seq(("a", 1L, "x"), ("a", 2L, "y")), ts = 3000) // resurrect
    val ck2 = Files.createTempDirectory("graft-tp2").toString
    drainWith(col("v") === "z", ck2)
    assert(deleteK1("b", stamp = 4000) == 2)
    val eq = drainWith(col("v") === "z", ck2)
    assert(eq.isEmpty,
      s"a value-equality filter must not emit null-valued tombstones: $eq")
    val ck3 = Files.createTempDirectory("graft-tp3").toString
    write(Seq(("b", 1L, "z"), ("b", 3L, "w")), ts = 5000) // resurrect
    drainWith(col("v").isNull, ck3)
    assert(deleteK1("b", stamp = 6000) == 2)
    val isNull = drainWith(col("v").isNull, ck3)
    assert(isNull.last == Set(("b", 1L, true), ("b", 3L, true)),
      s"IS NULL matches the all-null tombstone rows: ${isNull.last}")

    // mergeToLatest=false: the explosion path must still emit ONE row per
    // tombstone (it used to explode zero stamps and drop the delete)
    write(Seq(("c", 9L, "c1")), ts = 7000)
    val ck4 = Files.createTempDirectory("graft-tp4").toString
    drainWith(lit(true), ck4, Map("mergeToLatest" -> "false"))
    assert(deleteK1("c", stamp = 8000) == 1)
    val exploded = drainWith(lit(true), ck4, Map("mergeToLatest" -> "false"))
    assert(exploded.last.exists { case (k1, k2, del) => k1 == "c" && k2 == 9L && del },
      s"mergeToLatest=false must not swallow delete events: ${exploded.last}")
  }

  test("graft-kv streaming SOURCE: maxRowsPerBatch drains a backlog in stamp-ordered chunks") {
    import org.apache.spark.sql.streaming.Trigger
    val catalogJson =
      """{"table":{"namespace":"default", "name":"cdc_limit"},
        |"rowkey":"key",
        |"columns":{
        |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
    import spark.implicits._
    def write(rows: Seq[(Long, String)], ts: Long, mode: String = "append"): Unit =
      rows.toDF("k", "v").write.format("graft-kv")
        .options(Map("catalog" -> catalogJson, "newtable" -> "4", "timestamp" -> ts.toString,
          "minSplitNum" -> "0", "maxSplitNum" -> "1000"))
        .mode(mode).save()

    // a 9-generation backlog, two rows per stamp in DIFFERENT regions
    // (keys g and 500+g), written BEFORE the stream ever starts
    write(Seq((0L, "g0"), (500L, "g0")), ts = 1000, mode = "overwrite")
    (1 to 8).foreach(g => write(Seq((g.toLong, s"g$g"), (500L + g, s"g$g")), ts = 1000L + g))

    val ckpt = Files.createTempDirectory("graft-limit-ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer[Seq[(Long, String)]]()
    def drain(maxRows: Int): Unit = {
      val q = spark.readStream.format("graft-kv")
        .option("catalog", catalogJson).option("maxRowsPerBatch", maxRows.toString)
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
          if (rows.nonEmpty) batches.synchronized { batches += rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    // budget 5 admits whole stamps WITHIN the budget: 2+2=4 fits, a third
    // stamp would cross, so the 18-row backlog drains as four 4-row
    // batches of consecutive generations plus a 2-row tail — every batch
    // within budget, never one 18-row batch
    drain(maxRows = 5)
    assert(batches.size == 5, s"expected 5 bounded catch-up batches, got ${batches.size}")
    batches.zipWithIndex.foreach { case (b, i) =>
      val gens =
        if (i < 4) Set(2 * i, 2 * i + 1).map(g => s"g$g") else Set("g8")
      val want = gens.size * 2
      assert(b.size == want && b.map(_._2).toSet == gens,
        s"batch $i must hold exactly generations $gens within budget: $b")
      assert(b.size <= 5, s"batch $i exceeds the row budget: ${b.size}")
    }

    // progress guarantee: a single-stamp burst larger than the budget still
    // admits (whole-stamp atomicity) — one batch of 8, never a stall
    write((0 until 8).map(i => (100L + i, "burst")), ts = 9000)
    drain(maxRows = 3)
    assert(batches.last.size == 8 && batches.last.forall(_._2 == "burst"),
      s"burst stamp must admit atomically: ${batches.last}")
  }

  test("graft-kv streaming SOURCE: checkpoint survives a store restart via WAL replay") {
    import org.apache.spark.sql.streaming.Trigger
    val catalogJson =
      """{"table":{"namespace":"default", "name":"cdc_wal"},
        |"rowkey":"key",
        |"columns":{
        |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
    import spark.implicits._
    def write(rows: Seq[(Long, String)], ts: Long, mode: String = "append"): Unit =
      rows.toDF("k", "v").write.format("graft-kv")
        .options(Map("catalog" -> catalogJson, "newtable" -> "4", "timestamp" -> ts.toString,
          "minSplitNum" -> "0", "maxSplitNum" -> "1000"))
        .mode(mode).save()

    val walDir = Files.createTempDirectory("graft-wal-stream")
    val ckpt = Files.createTempDirectory("graft-wal-stream-ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer[Set[(Long, String)]]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-kv").option("catalog", catalogJson).load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
          if (rows.nonEmpty) batches.synchronized { batches += rows }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }

    KvStore.enableWal(walDir)
    // tight auto-checkpoint gate: the CDC traffic below must trigger at
    // least one snapshot+rotation ON ITS OWN, and a restart over
    // snapshot+tail (not a pure log) must keep the offset vector valid
    KvStore.setWalAutoCheckpoint(records = 20, bytes = 0)
    try {
      write(Seq((1L, "a"), (600L, "b")), ts = 1000, mode = "overwrite")
      (0 until 30).foreach(i => write(Seq((100L + i, s"fill$i")), ts = 1000))
      drain()
      assert(batches.last.contains((1L, "a")) && batches.last.contains((600L, "b")))
      assert(Files.exists(walDir.resolve("graft-wal.snapshot")),
        "sustained CDC writes must have auto-rotated the WAL")

      // "crash": wipe the in-memory store, then rebuild from snapshot +
      // tail. The checkpoint's offset vector must stay valid — the
      // snapshot carries per-region maxStamp marks exactly, so the
      // resumed stream sees only what lands AFTER the committed offsets,
      // never a re-emission of history
      KvStore.disableWal()
      KvStore.replayWal(walDir)

      write(Seq((300L, "c"), (1L, "a2")), ts = 2000)
      drain()
      assert(batches.last == Set((300L, "c"), (1L, "a2")),
        s"resumed stream after restart must emit only post-restart writes: ${batches.last}")
    } finally {
      KvStore.setWalAutoCheckpoint(
        KvStore.DefaultAutoCheckpointRecords, KvStore.DefaultAutoCheckpointBytes)
      KvStore.disableWal()
      KvStore.drop("default:cdc_wal")
    }
  }

  test("graft-kv streaming sink lands micro-batches in the store") {
    val catalog =
      """{"table":{"namespace":"default", "name":"stream_events"},
        |"rowkey":"key",
        |"columns":{
        |"event_id":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"user_id":{"cf":"f", "col":"user", "type":"bigint"},
        |"event_type":{"cf":"f", "col":"type", "type":"string"},
        |"value":{"cf":"f", "col":"value", "type":"double"}}}""".stripMargin

    val stream = eventStream().select("event_id", "user_id", "event_type", "value")
    val writer = GraftStreaming.kvSink(stream,
      Map("catalog" -> catalog, "newtable" -> "4",
        "minSplitNum" -> "0", "maxSplitNum" -> "2000000000"))
    GraftStreaming.runOnce(writer)

    val back = spark.read.format("graft-kv").option("catalog", catalog).load()
    val expected = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(back.count() == expected)
    // spot-check a filter through the connector on streamed data
    val direct = spark.read.parquet(s"$sfDir/events.parquet")
      .filter(col("event_type") === "click").count()
    assert(back.filter(col("event_type") === "click").count() == direct)
  }

  private def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allPlanNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allPlanNodes(q.plan)
    case _ => p +: p.children.flatMap(allPlanNodes)
  }

  test("sv21: maintained bigram counts equal the batch LM after all CDC phases") {
    // end-to-end differential: corrupt generation -> correcting overwrite ->
    // ranged delete -> resurrection must converge to the ORIGINAL corpus,
    // so the maintained counts must render px30's LM bit-for-bit (every
    // decrement path — zero-crossers included — has to fire for this to
    // hold; leftover "zzcorrupt" grams or stale [100,300] counts fail it)
    val maintainedDf = graft.queries.StreamBatch
      .queries("sv21_stream_bigram_lm")(spark, sfDir)
    val maintained = maintainedDf.collect().map(_.toSeq)
    // the post-stream LM render is a plain latest-merge scan of the counts
    // table (string key + atomic columns) — it must ride the COLUMNAR kv
    // read path, not the row materializer (the r11 stretch item)
    assert(allPlanNodes(maintainedDf.queryExecution.executedPlan).exists {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.supportsColumnar
      case _ => false
    }, "the sv21 readback scan fell off the columnar path")
    val batch = graft.pipeline.TextOps.bigramLm(
        graft.queries.Tables.documents(spark, sfDir), "text", minCount = 3L)
      .orderBy(col("w1"), col("w2"))
      .collect().map(_.toSeq)
    assert(maintained.length == batch.length,
      s"row counts differ: ${maintained.length} vs ${batch.length}")
    assert(maintained.toSeq == batch.toSeq)
    // the corrupted grams must have zero-crossed to logical death AND been
    // physically reclaimed by the in-query compaction pass (sv21 reclaims
    // behind the committed watermark between phases 3 and 4)
    val leftovers = spark.read.format("graft-kv")
      .option("catalog", graft.queries.StreamBatch.sv21CountsCatalog).load()
      .filter(col("w2") === "zzcorrupt" || col("w1") === "zzcorrupt")
    assert(leftovers.isEmpty,
      "zero-cross + reclamation did not retire the corrupted generation's grams")
  }

  test("sv21: a batch torn between the counts write and the mirror write replays idempotently") {
    // the read-modify-write hazard: counts landed, crash before the mirror
    // — a naive replay would re-read updated counts and add the delta
    // AGAIN. The as-of (maxStamp = phaseStamp) reads must make the replay
    // recompute the identical delta against pre-batch state.
    import graft.queries.StreamBatch
    val suf = "crz"
    val srcCat = StreamBatch.sv21SrcCatalog.replace("\"kv_lm_src\"", s""""kv_lm_src_$suf"""")
    val mirCat = StreamBatch.sv21MirrorCatalog.replace("\"kv_lm_mirror\"", s""""kv_lm_mirror_$suf"""")
    val cntCat = StreamBatch.sv21CountsCatalog.replace("\"kv_lm_counts\"", s""""kv_lm_counts_$suf"""")
    Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf").foreach(KvStore.drop)
    import spark.implicits._
    def putDocs(rows: Seq[(Long, String)], ts: Long): Unit =
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    def delDocs(ids: Seq[Long], ts: Long): Unit =
      ids.toDF("doc_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "delete" -> "true",
          "timestamp" -> ts.toString))
        .mode("append").save()
    // empty-table bootstrap
    Seq.empty[(Long, String)].toDF("doc_id", "text").write.format("graft-kv")
      .options(Map("catalog" -> mirCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplitNum" -> "0", "maxSplitNum" -> "100")).mode("append").save()
    spark.range(0).select(lit("").as("gram"), lit("").as("w1"),
        lit("").as("w2"), lit(0L).as("cnt"))
      .write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplit" -> "0", "maxSplit" -> "z")).mode("append").save()
    val ckpt = Files.createTempDirectory("graft-lmcrash-ckpt").toString
    // wave 1: counts a_b:1, b_c:2, c_d:1, x_y:1
    putDocs(Seq((1L, "a b c"), (2L, "b c d"), (3L, "x y")), ts = 1000)
    StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
      maxId = 100L, ckpt)
    // wave 2: doc 1 updates (b_c -1, b_e +1), doc 2 dies (b_c -1, c_d -1),
    // doc 4 arrives (b_c +1, c_f +1) — net: b_c -1, c_d dies, b_e/c_f born
    putDocs(Seq((1L, "a b e"), (4L, "b c f")), ts = 2000)
    delDocs(Seq(2L), ts = 2001)
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
        maxId = 100L, ckpt,
        crashPoint = () => throw new RuntimeException("injected crash"))
    }
    assert(crashed.getMessage.contains("injected crash") ||
      Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
    // mid-crash: counts already updated, mirror still pre-batch — the
    // exact torn window the as-of reads must absorb
    def counts(): Map[String, Long] = spark.read.format("graft-kv")
      .option("catalog", cntCat).load()
      .collect().map(r => r.getAs[String]("gram") -> r.getAs[Long]("cnt")).toMap
    val torn = counts()
    assert(torn.get("b e").contains(1L) && torn.get("c d").contains(0L),
      s"counts writes must have landed before the crash, got $torn")
    def liveMirror(): Set[Long] = spark.read.format("graft-kv")
      .option("catalog", mirCat).load()
      .filter(length(col("text")) > 0)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(liveMirror() == Set(1L, 2L, 3L),
      s"mirror must still be pre-batch, got ${liveMirror()}")
    // resume from the SAME checkpoint: wholesale replay must be a no-op
    // on the counts (identical cells at identical stamps), then finish
    // the mirror maintenance
    StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
      maxId = 100L, ckpt)
    val got = counts()
    assert(got == Map("a b" -> 1L, "b e" -> 1L, "b c" -> 1L,
      "c f" -> 1L, "x y" -> 1L, "c d" -> 0L),
      s"replayed counts diverged (double-applied delta?): $got")
    assert(liveMirror() == Set(1L, 3L, 4L),
      s"mirror after resume: ${liveMirror()}")
    // the doc-1 update's old text must survive one version below: replay
    // of a LATER batch can never need it, but the CURRENT batch's can
    val asOf = spark.read.format("graft-kv")
      .options(Map("catalog" -> mirCat, "maxStamp" -> "20")).load()
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(asOf(1L) == "a b c" && asOf(2L) == "b c d",
      s"as-of mirror must show pre-batch text, got $asOf")
    Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf").foreach(KvStore.drop)
  }

  test("sv21: reclamation kills exactly the dead rows, and a reclaimed gram resurrects from scratch") {
    // continues from the torn-batch test's shape: build state with logical
    // zeros, reclaim behind the committed watermark, then resurrect
    import graft.queries.StreamBatch
    val suf = "rcl"
    val srcCat = StreamBatch.sv21SrcCatalog.replace("\"kv_lm_src\"", s""""kv_lm_src_$suf"""")
    val mirCat = StreamBatch.sv21MirrorCatalog.replace("\"kv_lm_mirror\"", s""""kv_lm_mirror_$suf"""")
    val cntCat = StreamBatch.sv21CountsCatalog.replace("\"kv_lm_counts\"", s""""kv_lm_counts_$suf"""")
    Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf").foreach(KvStore.drop)
    import spark.implicits._
    def putDocs(rows: Seq[(Long, String)], ts: Long): Unit =
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    Seq.empty[(Long, String)].toDF("doc_id", "text").write.format("graft-kv")
      .options(Map("catalog" -> mirCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplitNum" -> "0", "maxSplitNum" -> "100")).mode("append").save()
    spark.range(0).select(lit("").as("gram"), lit("").as("w1"),
        lit("").as("w2"), lit(0L).as("cnt"))
      .write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplit" -> "0", "maxSplit" -> "z")).mode("append").save()
    val ckpt = Files.createTempDirectory("graft-lmreclaim-ckpt").toString
    putDocs(Seq((1L, "a b c")), ts = 1000)
    StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
      maxId = 100L, ckpt)
    // update kills gram "b c" logically (cnt=0) and births "b d"
    putDocs(Seq((1L, "a b d")), ts = 2000)
    StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
      maxId = 100L, ckpt)
    def counts(): Map[String, Long] = spark.read.format("graft-kv")
      .option("catalog", cntCat).load()
      .collect().map(r => r.getAs[String]("gram") -> r.getAs[Long]("cnt")).toMap
    assert(counts() == Map("a b" -> 1L, "b c" -> 0L, "b d" -> 1L))
    // reclaim behind the committed watermark: the fence is the last
    // committed WRITE stamp + 1 (phase 20 wrote at 21 → horizon 22) —
    // reclaimLogicalDead refuses anything above the table's high-water + 1
    val reclaimed = StreamBatch.reclaimLogicalDead(spark, cntCat,
      "gram", col("cnt") === 0L, horizon = 22)
    assert(reclaimed == 1L, s"expected exactly the dead gram, got $reclaimed")
    assert(counts() == Map("a b" -> 1L, "b d" -> 1L),
      "reclamation must kill exactly the logical zeros")
    // an over-high horizon — above every committed write — is refused
    // LOUDLY before any row is touched (the fence is enforced, not
    // caller-trusted): 99 > high-water(21) + 1
    val overHigh = intercept[IllegalArgumentException] {
      StreamBatch.reclaimLogicalDead(spark, cntCat,
        "gram", col("cnt") === 0L, horizon = 99)
    }
    assert(overHigh.getMessage.contains("high-water"),
      s"refusal must name the fence: ${overHigh.getMessage}")
    assert(counts() == Map("a b" -> 1L, "b d" -> 1L),
      "a refused reclamation must not have deleted anything")
    // resurrection after reclamation: the gram restarts from scratch
    putDocs(Seq((2L, "b c")), ts = 3000)
    StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
      maxId = 100L, ckpt)
    assert(counts() == Map("a b" -> 1L, "b c" -> 1L, "b d" -> 1L),
      "a reclaimed gram must resurrect with coalesce(missing, 0) + 1")
    // caller-committed evidence raises the fence past the table's own
    // high-water: a committed batch may write NOTHING to this table
    // (empty delta / delete-only wave), and without the evidence the
    // drain-derived fence would be falsely refused
    val above = StreamBatch.reclaimLogicalDead(spark, cntCat,
      "gram", col("cnt") === 0L, horizon = 35, committedStamp = Some(34))
    assert(above == 0L, "no logical zeros exist after resurrection")
    // but the evidence does not unbound the fence — still refused past it
    val stillHigh = intercept[IllegalArgumentException] {
      StreamBatch.reclaimLogicalDead(spark, cntCat,
        "gram", col("cnt") === 0L, horizon = 99, committedStamp = Some(34))
    }
    assert(stillHigh.getMessage.contains("watermark"),
      s"refusal must name the fence: ${stillHigh.getMessage}")
    Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf").foreach(KvStore.drop)
  }

  test("sv21 differential: random upsert/rewrite/delete waves keep counts equal to a model recount") {
    // the fixed phases exercise each maintenance move once; this drives
    // seeded-random CDC waves over a SHARED small vocabulary (so grams
    // constantly cancel, decrement, and zero-cross between unrelated
    // docs) and recounts from an in-memory model after EVERY drain
    import graft.queries.StreamBatch
    val suf = "dif"
    val srcCat = StreamBatch.sv21SrcCatalog.replace("\"kv_lm_src\"", s""""kv_lm_src_$suf"""")
    val mirCat = StreamBatch.sv21MirrorCatalog.replace("\"kv_lm_mirror\"", s""""kv_lm_mirror_$suf"""")
    val cntCat = StreamBatch.sv21CountsCatalog.replace("\"kv_lm_counts\"", s""""kv_lm_counts_$suf"""")
    val tables = Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    Seq.empty[(Long, String)].toDF("doc_id", "text").write.format("graft-kv")
      .options(Map("catalog" -> mirCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplitNum" -> "0", "maxSplitNum" -> "100"))
      .mode("append").save()
    spark.range(0).select(lit("").as("gram"), lit("").as("w1"),
        lit("").as("w2"), lit(0L).as("cnt"))
      .write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplit" -> "0", "maxSplit" -> "z"))
      .mode("append").save()
    val ckpt = Files.createTempDirectory("graft-lmdiff-ckpt").toString
    val docs = scala.collection.mutable.Map[Long, String]()
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    var ts = 1000L
    def randText(): String =
      Seq.fill(2 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def putDocs(rows0: Seq[(Long, String)]): Unit = if (rows0.nonEmpty) {
      val rows = rows0.groupBy(_._1).map(_._2.last).toSeq
      rows.foreach { case (id, t) => docs(id) = t }
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save(); ts += 10
    }
    def delDocs(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(docs.remove)
      ids.toDF("doc_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "delete" -> "true",
          "timestamp" -> ts.toString)).mode("append").save(); ts += 10
    }
    def expected(): Map[String, Long] =
      docs.values.toSeq
        .flatMap(t => t.split("\\s+").filter(_.nonEmpty).sliding(2)
          .filter(_.length == 2).map(p => s"${p(0)} ${p(1)}"))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
    def live(): Map[String, Long] =
      spark.read.format("graft-kv").option("catalog", cntCat).load()
        .filter(col("cnt") > 0)
        .collect().map(r => r.getAs[String]("gram") -> r.getAs[Long]("cnt")).toMap
    def drain(): Unit = {
      StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
        maxId = 100L, ckpt); ()
    }
    putDocs((0L until 20L).map(id => id -> randText()))
    drain()
    assert(live() == expected(), "counts diverged after the seed wave")
    (1 to 10).foreach { wave =>
      putDocs(Seq.fill(5)((rnd.nextLong(30), randText())))
      delDocs(Seq.fill(2)(rnd.nextLong(30)).distinct)
      drain()
      assert(live() == expected(), s"counts diverged from the model recount after wave $wave")
    }
    tables.foreach(KvStore.drop)
  }

  test("sv12 differential: random upsert/delete/resurrect waves keep index AND mirror equal to the model") {
    // the fixed sv12 phases exercise each move once; this drives seeded
    // random CDC waves over a shared vocabulary (terms constantly retire
    // and re-insert across unrelated docs) and compares the maintained
    // inverted index and forward mirror against an in-memory model after
    // EVERY drain
    import graft.queries.StreamBatch
    val suf = "dif"
    val srcCat = StreamBatch.sv12SrcCatalog.replace("\"kv_idx_src\"", s""""kv_idx_src_$suf"""")
    val fwdCat = StreamBatch.sv12FwdCatalog.replace("\"kv_idx_fwd\"", s""""kv_idx_fwd_$suf"""")
    val idxCat = StreamBatch.sv12IdxCatalog.replace("\"kv_idx_inv\"", s""""kv_idx_inv_$suf"""")
    val tables = Seq(s"default:kv_idx_src_$suf", s"default:kv_idx_fwd_$suf",
      s"default:kv_idx_inv_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-idxdiff-ckpt").toString
    val docs = scala.collection.mutable.Map[Long, String]()
    val rnd = new scala.util.Random(1303)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    var ts = 1000L
    var stamp = 10L
    def randText(): String =
      Seq.fill(1 + rnd.nextInt(5))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def putDocs(rows0: Seq[(Long, String)]): Unit = if (rows0.nonEmpty) {
      val rows = rows0.groupBy(_._1).map(_._2.last).toSeq
      rows.foreach { case (id, t) => docs(id) = t }
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save(); ts += 10
    }
    def delDocs(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(docs.remove)
      ids.toDF("doc_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "delete" -> "true",
          "timestamp" -> ts.toString)).mode("append").save(); ts += 10
    }
    def drain(): Unit = {
      StreamBatch.maintainCdcIndex(spark, srcCat, fwdCat, idxCat,
        maxId = 100L, ckpt, phaseStamp = stamp)
      stamp += 10
    }
    def expectedIdx(): Set[(String, Long)] =
      docs.toSeq.flatMap { case (id, t) =>
        t.split("\\s+").filter(_.nonEmpty).distinct.map(_ -> id) }.toSet
    def actualIdx(): Set[(String, Long)] =
      spark.read.format("graft-kv").option("catalog", idxCat).load()
        .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("doc_id"))).toSet
    def actualFwd(): Map[Long, String] =
      spark.read.format("graft-kv").option("catalog", fwdCat).load()
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    putDocs((0L until 20L).map(id => id -> randText()))
    drain()
    assert(actualIdx() == expectedIdx(), "index diverged after the seed wave")
    (1 to 10).foreach { wave =>
      // updates of live docs, fresh ids, deletes (possibly of just-updated
      // docs), and resurrections of previously deleted ids — all in one wave
      putDocs(Seq.fill(5)((rnd.nextLong(30), randText())))
      delDocs(Seq.fill(2)(rnd.nextLong(30)).distinct)
      drain()
      assert(actualIdx() == expectedIdx(),
        s"index diverged from the model after wave $wave")
      assert(actualFwd() == docs.toMap,
        s"forward mirror diverged from the model after wave $wave")
    }
    tables.foreach(KvStore.drop)
  }

  test("sv14 differential: random append-only waves find exactly the brute-force J>=0.8 pairs") {
    // random corpora with injected exact and near duplicates, ingested in
    // waves; after every drain the accumulated pairs table must equal the
    // brute-force bigram-shingle Jaccard >= 0.8 pairs over EVERYTHING
    // ingested so far. At 32 hashes x 16 bands (r=2) the per-pair miss
    // probability at J >= 0.8 is (1-J^2)^16 <= 1e-7 — a miss on a seeded
    // corpus means a structural bug, not banding luck (false positives are
    // impossible: the exact rerank gates every accepted pair).
    import graft.queries.StreamBatch
    val suf = "dif"
    val srcCat = StreamBatch.sv14SrcCatalog.replace("\"kv_nd_src\"", s""""kv_nd_src_$suf"""")
    val fwdCat = StreamBatch.sv14FwdCatalog.replace("\"kv_nd_fwd\"", s""""kv_nd_fwd_$suf"""")
    val idxCat = StreamBatch.sv14IdxCatalog.replace("\"kv_nd_idx\"", s""""kv_nd_idx_$suf"""")
    val pairsCat = StreamBatch.sv14PairsCatalog.replace("\"kv_nd_pairs\"", s""""kv_nd_pairs_$suf"""")
    val tables = Seq(s"default:kv_nd_src_$suf", s"default:kv_nd_fwd_$suf",
      s"default:kv_nd_idx_$suf", s"default:kv_nd_pairs_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    val maxId = 400L
    def kvInit(df: org.apache.spark.sql.DataFrame, cat: String, numeric: Boolean): Unit = {
      val splits =
        if (numeric) Map("minSplitNum" -> "0", "maxSplitNum" -> maxId.toString)
        else Map("minSplit" -> "0", "maxSplit" -> "z")
      df.write.format("graft-kv")
        .options(Map("catalog" -> cat, "newtable" -> "4", "timestamp" -> "1") ++ splits)
        .mode("append").save()
    }
    kvInit(spark.range(0).select(col("id").as("doc_id"), lit("").as("text")),
      fwdCat, numeric = true)
    kvInit(spark.range(0).select(lit("").as("ik"), lit(0).as("band"),
      lit(0L).as("bh"), lit(0L).as("doc_id")), idxCat, numeric = false)
    kvInit(spark.range(0).select(lit("").as("pk"), lit(0L).as("id_a"),
      lit(0L).as("id_b"), lit(0.0d).as("jaccard")), pairsCat, numeric = false)
    val ckpt = Files.createTempDirectory("graft-nddiff-ckpt").toString
    val rnd = new scala.util.Random(1304)
    val vocab = (0 until 30).map(i => s"w$i")
    val ingested = scala.collection.mutable.Map[Long, String]()
    var ts = 1000L
    var nextId = 0L
    def randDoc(): String =
      Seq.fill(8 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    def ingest(texts: Seq[String]): Unit = if (texts.nonEmpty) {
      val rows = texts.map { t => val id = nextId; nextId += 1; ingested(id) = t; (id, t) }
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> maxId.toString))
        .mode("append").save(); ts += 10
    }
    def shingles(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      if (toks.isEmpty) Set.empty
      else if (toks.size == 1) toks.toSet
      else toks.sliding(2).map(_.mkString(" ")).toSet
    }
    def expectedPairs(): Set[(Long, Long)] = {
      val ids = ingested.keys.toSeq.sorted
      (for {
        i <- ids.indices.iterator; j <- (i + 1 until ids.size).iterator
        a = shingles(ingested(ids(i))); b = shingles(ingested(ids(j)))
        if a.nonEmpty && b.nonEmpty &&
          (a & b).size.toDouble / (a | b).size >= 0.8
      } yield (ids(i), ids(j))).toSet
    }
    def actualPairs(): Set[(Long, Long)] =
      spark.read.format("graft-kv").option("catalog", pairsCat).load()
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    def drain(): Unit =
      StreamBatch.maintainNearDupIndex(spark, srcCat, fwdCat, idxCat,
        pairsCat, maxId, ckpt)
    // seed wave: base docs plus exact dups within the SAME wave (the
    // new x new self-join path)
    val base = Seq.fill(25)(randDoc())
    ingest(base ++ Seq(base(0), base(5)))
    drain()
    assert(actualPairs() == expectedPairs(), "pairs diverged after the seed wave")
    (1 to 6).foreach { wave =>
      // each wave: fresh docs, exact copies of PRIOR docs (the index-sliver
      // + mirror-point-get path), and near-copies (one token changed)
      val prior = ingested.values.toVector
      val copies = Seq.fill(2)(prior(rnd.nextInt(prior.size)))
      val nears = Seq.fill(2) {
        val toks = prior(rnd.nextInt(prior.size)).split(" ")
        toks(rnd.nextInt(toks.length)) = vocab(rnd.nextInt(vocab.size))
        toks.mkString(" ")
      }
      ingest(Seq.fill(4)(randDoc()) ++ copies ++ nears)
      drain()
      assert(actualPairs() == expectedPairs(),
        s"pairs diverged from the brute-force model after wave $wave")
    }
    assert(expectedPairs().nonEmpty, "fixture too weak - no dup pairs at all")
    tables.foreach(KvStore.drop)
  }

  test("sv19 differential: random train upsert/delete waves keep the contamination mirror equal to the model") {
    import graft.queries.StreamBatch
    val suf = "dif"
    val srcCat = StreamBatch.sv19SrcCatalog.replace("\"kv_ctm_src\"", s""""kv_ctm_src_$suf"""")
    val mirCat = StreamBatch.sv19MirCatalog.replace("\"kv_ctm_mirror\"", s""""kv_ctm_mirror_$suf"""")
    val tables = Seq(s"default:kv_ctm_src_$suf", s"default:kv_ctm_mirror_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    val rnd = new scala.util.Random(1305)
    // binary vocab: only 32 possible 5-grams, so train/eval gram collisions
    // are guaranteed and the mirror constantly gains AND loses pairs
    val vocab = Vector("a", "b")
    def randText(): String =
      Seq.fill(8 + rnd.nextInt(7))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // fixed eval set, disjoint id space
    val evalDocs = (1000L until 1010L).map(id => id -> randText())
    def grams(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      if (toks.size < 5) Set.empty
      else toks.sliding(5).map(_.mkString(" ")).toSet
    }
    val evalG = StreamBatch.contamEvalGrams(
      evalDocs.toDF("doc_id", "text"), n = 5)
    val train = scala.collection.mutable.Map[Long, String]()
    var ts = 1000L
    var stamp = 10L
    def putTrain(rows0: Seq[(Long, String)]): Unit = if (rows0.nonEmpty) {
      val rows = rows0.groupBy(_._1).map(_._2.last).toSeq
      rows.foreach { case (id, t) => train(id) = t }
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save(); ts += 10
    }
    def delTrain(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(train.remove)
      ids.toDF("doc_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "delete" -> "true",
          "timestamp" -> ts.toString)).mode("append").save(); ts += 10
    }
    // one shared checkpoint dir (the stream must resume, not re-read)
    val ckpt = Files.createTempDirectory("graft-ctmdiff-ckpt").toString
    def drainCk(): Unit = {
      StreamBatch.maintainContamMirror(spark, srcCat, mirCat, evalG,
        maxId = 100L, ckpt, phaseStamp = stamp)
      stamp += 10
    }
    def expected(): Map[(Long, Long), Long] =
      (for {
        (tid, tt) <- train.toSeq; (eid, et) <- evalDocs
        shared = (grams(tt) & grams(et)).size
        if shared >= 1
      } yield (tid, eid) -> shared.toLong).toMap
    def actual(): Map[(Long, Long), Long] =
      spark.read.format("graft-kv").option("catalog", mirCat).load()
        .collect().map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id")) ->
          r.getAs[Long]("n_shared")).toMap
    putTrain((0L until 15L).map(id => id -> randText()))
    drainCk()
    assert(expected().nonEmpty, "fixture too weak - no contamination pairs at seed")
    assert(actual() == expected(), "mirror diverged after the seed wave")
    (1 to 8).foreach { wave =>
      putTrain(Seq.fill(4)((rnd.nextLong(25), randText())))
      delTrain(Seq.fill(2)(rnd.nextLong(25)).distinct)
      drainCk()
      assert(actual() == expected(),
        s"mirror diverged from the model after wave $wave")
    }
    tables.foreach(KvStore.drop)
  }

  test("sv20 differential: random vector upsert/delete waves keep the code table equal to the model") {
    import graft.queries.StreamBatch
    val suf = "dif"
    val srcCat = StreamBatch.sv20SrcCatalog.replace("\"kv_pq_src\"", s""""kv_pq_src_$suf"""")
    val codesCat = StreamBatch.sv20CodesCatalog.replace("\"kv_pq_codes\"", s""""kv_pq_codes_$suf"""")
    val tables = Seq(s"default:kv_pq_src_$suf", s"default:kv_pq_codes_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    val rnd = new scala.util.Random(1306)
    // fixed tiny codebooks: 2 subspaces x 3 centroids over dim 4 (sub 2)
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.1), Array(-0.3, 0.9), Array(0.7, -0.6)),
      Array(Array(0.2, 1.0), Array(0.9, -0.2), Array(-0.8, -0.5)))
    def randVec(): Array[Float] = Array.fill(4)(rnd.nextFloat() * 2f - 1f)
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum)
      val nb = math.sqrt(b.map(x => x * x).sum)
      dot / (na * nb)
    }
    def expectedCodes(v: Array[Float]): Seq[Int] =
      books.indices.map { j =>
        val x = v.slice(j * 2, j * 2 + 2).map(_.toDouble)
        books(j).indices.maxBy(i => (cosine(x, books(j)(i)), -i))
      }
    val vecs = scala.collection.mutable.Map[Long, Array[Float]]()
    var ts = 1000L
    var stamp = 10L
    def putVecs(rows0: Seq[(Long, Array[Float])]): Unit = if (rows0.nonEmpty) {
      val rows = rows0.groupBy(_._1).map(_._2.last).toSeq
      rows.foreach { case (id, v) => vecs(id) = v }
      rows.toDF("vec_id", "embedding").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "annVec" -> StreamBatch.sv18AvroVec,
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save(); ts += 10
    }
    def delVecs(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(vecs.remove)
      ids.toDF("vec_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "annVec" -> StreamBatch.sv18AvroVec,
          "delete" -> "true", "timestamp" -> ts.toString))
        .mode("append").save(); ts += 10
    }
    val ckpt = Files.createTempDirectory("graft-pqdiff-ckpt").toString
    def drain(): Unit = {
      StreamBatch.maintainPqCodes(spark, srcCat, codesCat, books,
        maxId = 100L, ckpt, phaseStamp = stamp)
      stamp += 10
    }
    def expected(): Map[Long, Seq[Int]] =
      vecs.map { case (id, v) => id -> expectedCodes(v) }.toMap
    def actual(): Map[Long, Seq[Int]] =
      spark.read.format("graft-kv")
        .options(Map("catalog" -> codesCat, "pqCodes" -> StreamBatch.sv20AvroCodes))
        .load()
        .collect().map(r => r.getAs[Long]("vec_id") ->
          r.getSeq[Int](r.fieldIndex("codes"))).toMap
    putVecs((0L until 15L).map(id => id -> randVec()))
    drain()
    assert(actual() == expected(), "codes diverged after the seed wave")
    (1 to 8).foreach { wave =>
      putVecs(Seq.fill(4)((rnd.nextLong(25), randVec())))
      delVecs(Seq.fill(2)(rnd.nextLong(25)).distinct)
      drain()
      assert(actual() == expected(),
        s"codes diverged from the model after wave $wave")
    }
    tables.foreach(KvStore.drop)
  }

  test("sv25 differential: random vector upsert/delete waves keep the cell-keyed code table equal to the model") {
    // the composed IVF-PQ maintainer: an updated vector may MOVE cell
    // (re-key) and re-code in one wave; a delete must retire its
    // (cell, vec_id) row via the mirror-derived old cell. Model = exact
    // in-memory assignment + encoding over the same fixed artifacts.
    import graft.queries.StreamBatch
    val suf = "dif"
    val srcCat = StreamBatch.sv25SrcCatalog.replace("\"kv_ivfpq_src\"", s""""kv_ivfpq_src_$suf"""")
    val fwdCat = StreamBatch.sv25FwdCatalog.replace("\"kv_ivfpq_fwd\"", s""""kv_ivfpq_fwd_$suf"""")
    val codesCat = StreamBatch.sv25CodesCatalog.replace("\"kv_ivfpq_live\"", s""""kv_ivfpq_live_$suf"""")
    val tables = Seq(s"default:kv_ivfpq_src_$suf", s"default:kv_ivfpq_fwd_$suf",
      s"default:kv_ivfpq_live_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    val rnd = new scala.util.Random(1307)
    // coarse cells AND codebooks fixed: 3 cells over dim 4; 2 subspaces x 3
    val cents: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.2, -0.1), Array(-0.5, 0.8, -0.2, 0.4),
      Array(0.1, -0.7, 0.9, 0.3))
    val books: Array[Array[Array[Double]]] = Array(
      Array(Array(1.0, 0.1), Array(-0.3, 0.9), Array(0.7, -0.6)),
      Array(Array(0.2, 1.0), Array(0.9, -0.2), Array(-0.8, -0.5)))
    def randVec(): Array[Float] = Array.fill(4)(rnd.nextFloat() * 2f - 1f)
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def cellOf(v: Array[Float]): Int =
      cents.indices.maxBy(i => (cosine(v.map(_.toDouble), cents(i)), -i))
    def codesOf(v: Array[Float]): Seq[Int] =
      books.indices.map { j =>
        val x = v.slice(j * 2, j * 2 + 2).map(_.toDouble)
        books(j).indices.maxBy(i => (cosine(x, books(j)(i)), -i))
      }
    val vecs = scala.collection.mutable.Map[Long, Array[Float]]()
    var cellMoves = 0 // live-id updates that LAND IN A DIFFERENT CELL
    var ts = 1000L
    var stamp = 10L
    def putVecs(rows0: Seq[(Long, Array[Float])]): Unit = if (rows0.nonEmpty) {
      val rows = rows0.groupBy(_._1).map(_._2.last).toSeq
      rows.foreach { case (id, v) =>
        vecs.get(id).foreach(old => if (cellOf(old) != cellOf(v)) cellMoves += 1)
        vecs(id) = v
      }
      rows.toDF("vec_id", "embedding").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "annVec" -> StreamBatch.sv18AvroVec,
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save(); ts += 10
    }
    def delVecs(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(vecs.remove)
      ids.toDF("vec_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "annVec" -> StreamBatch.sv18AvroVec,
          "delete" -> "true", "timestamp" -> ts.toString))
        .mode("append").save(); ts += 10
    }
    val ckpt = Files.createTempDirectory("graft-ivfpqdiff-ckpt").toString
    def drain(): Unit = {
      StreamBatch.maintainIvfPqIndex(spark, srcCat, fwdCat, codesCat,
        cents, books, maxId = 100L, ckpt, phaseStamp = stamp)
      stamp += 10
    }
    def expected(): Map[(Int, Long), Seq[Int]] =
      vecs.map { case (id, v) => (cellOf(v), id) -> codesOf(v) }.toMap
    def actual(): Map[(Int, Long), Seq[Int]] =
      spark.read.format("graft-kv")
        .options(Map("catalog" -> codesCat, "pqCodes" -> StreamBatch.sv20AvroCodes))
        .load()
        .collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("vec_id")) ->
          r.getSeq[Int](r.fieldIndex("codes"))).toMap
    putVecs((0L until 15L).map(id => id -> randVec()))
    drain()
    assert(actual() == expected(), "code table diverged after the seed wave")
    (1 to 8).foreach { wave =>
      putVecs(Seq.fill(4)((rnd.nextLong(25), randVec()))) // re-keys likely
      delVecs(Seq.fill(2)(rnd.nextLong(25)).distinct)
      drain()
      assert(actual() == expected(),
        s"code table diverged from the model after wave $wave")
    }
    // the fixture must actually exercise the RE-KEY move (the path that
    // distinguishes this maintainer from sv20's flat code table: a missed
    // mirror-derived retirement only leaves a stale row when an update
    // CHANGES cell) — the model counts live-id updates landing in a
    // different cell, and the seeded waves must produce some
    assert(cellMoves > 0,
      s"fixture too weak - no live update changed cell across $cellMoves moves")
    tables.foreach(KvStore.drop)
  }

  test("sv26 differential: random put/move/delete/resurrect waves keep session roots equal to the model") {
    // the maintained transitive closure: every wave restructures chains —
    // time moves split/heal sessions, USER MOVES re-key an event into
    // another user's chain (both the old and new chain must recompute),
    // deletes of chain middles heal-or-split depending on the bridged gap.
    // Model = exact per-user chain walk over the in-memory event map.
    import graft.queries.StreamBatch
    val suf = "dif"
    val srcCat = StreamBatch.sv26SrcCatalog.replace("\"kv_sess_src\"", s""""kv_sess_src_$suf"""")
    val fwdCat = StreamBatch.sv26FwdCatalog.replace("\"kv_sess_fwd\"", s""""kv_sess_fwd_$suf"""")
    val viewCat = StreamBatch.sv26ViewCatalog.replace("\"kv_sess_view\"", s""""kv_sess_view_$suf"""")
    val tables = Seq(s"default:kv_sess_src_$suf", s"default:kv_sess_fwd_$suf",
      s"default:kv_sess_view_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-sessdiff-ckpt").toString
    val model = scala.collection.mutable.Map[Long, (Long, Long)]() // event -> (user, tu)
    val rnd = new scala.util.Random(2601)
    var ts = 1000L
    var stamp = 10L
    var userMoves = 0
    def putEvents(rows0: Seq[(Long, Long, Long)]): Unit = if (rows0.nonEmpty) {
      val rows = rows0.groupBy(_._1).map(_._2.last).toSeq
      rows.foreach { case (id, u, tu) =>
        if (model.get(id).exists(_._1 != u)) userMoves += 1
        model(id) = (u, tu)
      }
      rows.toDF("event_id", "user_id", "tu").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "200"))
        .mode("append").save(); ts += 10
    }
    def delEvents(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(model.remove)
      ids.toDF("event_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "delete" -> "true",
          "timestamp" -> ts.toString)).mode("append").save(); ts += 10
    }
    def drain(): Unit = {
      // alternate the lookup path: forced pushed-In slivers on even
      // drains, forced broadcast-leftsemi on odd — BOTH read shapes fuzz
      // against the same model
      StreamBatch.maintainSessionRoots(spark, srcCat, fwdCat, viewCat, ckpt, stamp,
        smallStateRows = if ((stamp / 10) % 2 == 0) 0L else Long.MaxValue)
      stamp += 10
    }
    def expected(): Set[(Long, Long)] =
      model.toSeq.groupBy(_._2._1).flatMap { case (_, evs) =>
        val sorted = evs.map { case (id, (_, tu)) => (tu, id) }.sorted
        var root = 0L; var prev = Long.MinValue
        sorted.map { case (tu, id) =>
          if (prev == Long.MinValue || tu - prev > 43200L) root = id
          prev = tu
          (id, root)
        }
      }.toSet
    def actual(): Set[(Long, Long)] =
      spark.read.format("graft-kv").option("catalog", viewCat).load()
        .collect().map(r =>
          (r.getAs[Long]("event_id"), r.getAs[Long]("session_root"))).toSet
    def actualFwd(): Map[Long, Long] =
      spark.read.format("graft-kv").option("catalog", fwdCat).load()
        .collect().map(r =>
          (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"))).toMap
    // tu range straddles the 43200 s session fence so chains form and break
    def randTu(): Long = rnd.nextLong(400000L)
    putEvents((0L until 40L).map(id => (id, rnd.nextLong(6), randTu())))
    drain()
    assert(actual() == expected(), "view diverged after the seed wave")
    (1 to 10).foreach { wave =>
      // fresh ids, time moves, user moves, deletes (possibly of just-updated
      // events), resurrections of previously deleted ids — one mixed wave
      putEvents(Seq.fill(6)((rnd.nextLong(60), rnd.nextLong(6), randTu())))
      delEvents(Seq.fill(3)(rnd.nextLong(60)).distinct)
      drain()
      assert(actual() == expected(), s"view diverged from the model after wave $wave")
      assert(actualFwd() == model.map { case (id, (u, _)) => id -> u }.toMap,
        s"forward mirror diverged from the model after wave $wave")
    }
    // the fixture must actually exercise the RE-KEY move: a user change
    // retires the event from the OLD chain via the mirror-derived owner —
    // a missed retirement only shows when moves occur
    assert(userMoves > 0, s"fixture too weak - no event changed user")
    tables.foreach(KvStore.drop)
  }

  test("sv26 maintenance reads rows proportional to the touched users, not view size") {
    // the bounded-In upgrade's gate: a wave touching 2 of 40 users must
    // read the mirror as point gets and the view as 2 user-prefix slivers —
    // measured through the store's served-row counter across the drain
    import graft.queries.StreamBatch
    val suf = "prp"
    val srcCat = StreamBatch.sv26SrcCatalog.replace("\"kv_sess_src\"", s""""kv_sess_src_$suf"""")
    val fwdCat = StreamBatch.sv26FwdCatalog.replace("\"kv_sess_fwd\"", s""""kv_sess_fwd_$suf"""")
    val viewCat = StreamBatch.sv26ViewCatalog.replace("\"kv_sess_view\"", s""""kv_sess_view_$suf"""")
    val tables = Seq(s"default:kv_sess_src_$suf", s"default:kv_sess_fwd_$suf",
      s"default:kv_sess_view_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft-sessprop-ckpt").toString
    // smallStateRows = 0 pins the pushed-In sliver path at this
    // deliberately tiny view (the production default short-circuits small
    // tables to the scan, same as mirrorLookup's other callers)
    def drain(stamp: Long): Unit = StreamBatch.maintainSessionRoots(spark,
      srcCat, fwdCat, viewCat, ckpt, stamp, smallStateRows = 0L)
    def put(rows: Seq[(Long, Long, Long)], ts: Long): Unit =
      rows.toDF("event_id", "user_id", "tu").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "4000"))
        .mode("append").save()
    // seed: 40 users x 10 events = a 400-row view
    put(for { u <- 0L until 40L; i <- 0L until 10L }
      yield (u * 100 + i, u, i * 100000L), ts = 1000)
    drain(10)
    val viewRows = KvStore
      .table(s"default:kv_sess_view_$suf").regions.map(_.rowCount.get()).sum
    assert(viewRows == 400L, s"seed view expected 400 rows, got $viewRows")
    // wave: 2 users, 1 event each
    put(Seq((3L, 0L, 999999L), (705L, 7L, 123L)), ts = 2000)
    val served0 = KvStore.rowsServed
    drain(20)
    val served = KvStore.rowsServed - served0
    // budget: the CDC window (2 rows), 2 mirror point gets x2 reads, the 2
    // touched users' view slivers (<= 20 rows), and small per-job overheads
    assert(served <= 80,
      s"drain served $served rows against a $viewRows-row view - " +
        "maintenance reads are not wave-proportional")
    tables.foreach(KvStore.drop)
  }

  test("sv21: a decrement driving a count negative fails the batch loudly before anything commits") {
    // the guard rides inside the write's cnt expression (raise_error), so
    // corruption must surface as a failed STREAM, not a silent bad write
    import graft.queries.StreamBatch
    val suf = "neg"
    val srcCat = StreamBatch.sv21SrcCatalog.replace("\"kv_lm_src\"", s""""kv_lm_src_$suf"""")
    val mirCat = StreamBatch.sv21MirrorCatalog.replace("\"kv_lm_mirror\"", s""""kv_lm_mirror_$suf"""")
    val cntCat = StreamBatch.sv21CountsCatalog.replace("\"kv_lm_counts\"", s""""kv_lm_counts_$suf"""")
    Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf").foreach(KvStore.drop)
    import spark.implicits._
    def putDocs(rows: Seq[(Long, String)], ts: Long): Unit =
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    Seq.empty[(Long, String)].toDF("doc_id", "text").write.format("graft-kv")
      .options(Map("catalog" -> mirCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplitNum" -> "0", "maxSplitNum" -> "100")).mode("append").save()
    spark.range(0).select(lit("").as("gram"), lit("").as("w1"),
        lit("").as("w2"), lit(0L).as("cnt"))
      .write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplit" -> "0", "maxSplit" -> "z")).mode("append").save()
    val ckpt = Files.createTempDirectory("graft-lmneg-ckpt").toString
    putDocs(Seq((1L, "a b c")), ts = 1000)
    StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
      maxId = 100L, ckpt)
    // OUT-OF-BAND corruption: zero "a b" behind the protocol's back, so
    // the upcoming tombstone's decrement drives it to -1
    Seq(("a b", "a", "b", 0L)).toDF("gram", "w1", "w2", "cnt")
      .write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "maxVersions" -> "2",
        "timestamp" -> "15"))
      .mode("append").save()
    Seq(1L).toDF("doc_id").write.format("graft-kv")
      .options(Map("catalog" -> srcCat, "delete" -> "true", "timestamp" -> "2000"))
      .mode("append").save()
    val e = intercept[Throwable] {
      StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
        maxId = 100L, ckpt)
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(messages(e).exists(_.contains("NEGATIVE")),
      s"expected the loud negative-count refusal, got: ${messages(e).mkString(" | ")}")
    // RECOVERY: the refused batch is a permanently torn batch — the
    // checkpoint never committed, sibling-task puts may have landed.
    // Repair the out-of-band corruption (restore the true pre-batch
    // value below the batch's as-of window) and re-drain: the replay
    // recomputes against the same as-of state and overwrites whatever
    // partial cells the refused attempt left, converging exactly.
    Seq(("a b", "a", "b", 1L)).toDF("gram", "w1", "w2", "cnt")
      .write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "maxVersions" -> "2",
        "timestamp" -> "16"))
      .mode("append").save()
    StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
      maxId = 100L, ckpt)
    val finalCounts = spark.read.format("graft-kv").option("catalog", cntCat)
      .load().collect()
      .map(r => r.getAs[String]("gram") -> r.getAs[Long]("cnt")).toMap
    assert(finalCounts == Map("a b" -> 0L, "b c" -> 0L),
      s"repair + re-drain must converge to the tombstoned state, got $finalCounts")
    Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf").foreach(KvStore.drop)
  }

  test("a THROWING drain restores the session's AQE conf (withDrainAqe finally)") {
    // The maintainers mutate session-global conf (AQE off) around each
    // drain under a single-threaded-session contract; the restore lives in
    // a finally. Pin it: a drain that dies mid-batch (the negative-count
    // refusal) must leave spark.sql.adaptive.enabled exactly as it found
    // it, not leaked off for whatever runs next on the session — down to
    // whether the key is explicitly set at all — and must leave no batch
    // frame cached behind.
    import graft.queries.StreamBatch
    val suf = "cres"
    val srcCat = StreamBatch.sv21SrcCatalog.replace("\"kv_lm_src\"", s""""kv_lm_src_$suf"""")
    val mirCat = StreamBatch.sv21MirrorCatalog.replace("\"kv_lm_mirror\"", s""""kv_lm_mirror_$suf"""")
    val cntCat = StreamBatch.sv21CountsCatalog.replace("\"kv_lm_counts\"", s""""kv_lm_counts_$suf"""")
    Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf").foreach(KvStore.drop)
    import spark.implicits._
    Seq((1L, "a b")).toDF("doc_id", "text").write.format("graft-kv")
      .options(Map("catalog" -> srcCat, "newtable" -> "4",
        "timestamp" -> "1000", "minSplitNum" -> "0", "maxSplitNum" -> "100"))
      .mode("append").save()
    Seq.empty[(Long, String)].toDF("doc_id", "text").write.format("graft-kv")
      .options(Map("catalog" -> mirCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplitNum" -> "0", "maxSplitNum" -> "100")).mode("append").save()
    // PRE-corrupted counts: the very first batch's "a b" increment merges
    // against an out-of-band -5 and the raise_error guard kills the drain
    spark.range(0).select(lit("").as("gram"), lit("").as("w1"),
        lit("").as("w2"), lit(0L).as("cnt"))
      .write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplit" -> "0", "maxSplit" -> "z")).mode("append").save()
    Seq(("a b", "a", "b", -5L)).toDF("gram", "w1", "w2", "cnt")
      .write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "maxVersions" -> "2", "timestamp" -> "5"))
      .mode("append").save()
    val ckpt = Files.createTempDirectory("graft-cres-ckpt").toString
    // AQE starts explicitly UNSET: the restore must not pin its default
    spark.conf.unset("spark.sql.adaptive.enabled")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val shufBefore = spark.conf.get("spark.sql.shuffle.partitions")
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val explicitBefore = keys.map(spark.conf.getAll.get)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Throwable] {
      StreamBatch.maintainBigramCounts(spark, srcCat, mirCat, cntCat,
        maxId = 100L, ckpt)
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") == aqeBefore,
      "a throwing drain must restore spark.sql.adaptive.enabled")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == shufBefore,
      "a throwing drain must not disturb spark.sql.shuffle.partitions")
    assert(keys.map(spark.conf.getAll.get) == explicitBefore,
      "a throwing drain must restore each key's explicitly-set state")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- cachedBefore
    assert(leaked.isEmpty, s"a throwing drain leaked persisted RDDs $leaked")
    Seq(s"default:kv_lm_src_$suf", s"default:kv_lm_mirror_$suf",
      s"default:kv_lm_counts_$suf").foreach(KvStore.drop)
  }

  test("sv26 drains release their eager local checkpoints when each batch ends") {
    // the session-root maintainer pins the wave's mirror rows and the
    // touched users' view slivers as eager local checkpoints (its retire
    // deletes the rows they came from); their blocks must go when the
    // batch ends, not whenever GC reaches the dataset
    import graft.queries.StreamBatch
    val suf = "ckrel"
    val srcCat = StreamBatch.sv26SrcCatalog.replace("\"kv_sess_src\"", s""""kv_sess_src_$suf"""")
    val fwdCat = StreamBatch.sv26FwdCatalog.replace("\"kv_sess_fwd\"", s""""kv_sess_fwd_$suf"""")
    val viewCat = StreamBatch.sv26ViewCatalog.replace("\"kv_sess_view\"", s""""kv_sess_view_$suf"""")
    val tables = Seq(s"default:kv_sess_src_$suf", s"default:kv_sess_fwd_$suf",
      s"default:kv_sess_view_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    def put(rows: Seq[(Long, Long, Long)], ts: Long): Unit =
      rows.toDF("event_id", "user_id", "tu").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    val ckpt = Files.createTempDirectory("graft-sessrel-ckpt").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    put((0L until 20L).map(i => (i, i % 4, 1000L * i)), ts = 1000L)
    StreamBatch.maintainSessionRoots(spark, srcCat, fwdCat, viewCat, ckpt, phaseStamp = 10L)
    // the second drain finds the mirror and the view, so both lookups run
    // and both checkpoints are taken: event 3 moves to user 1
    put(Seq((3L, 1L, 3000L), (25L, 2L, 5000L)), ts = 2000L)
    StreamBatch.maintainSessionRoots(spark, srcCat, fwdCat, viewCat, ckpt, phaseStamp = 20L)
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"sv26 drains left persisted RDDs $left behind")
    val view = spark.read.format("graft-kv").option("catalog", viewCat).load()
      .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"))).toMap
    assert(view.size == 21 && view(3L) == 1L && view(25L) == 2L, s"got $view")
    tables.foreach(KvStore.drop)
  }

  test("a drain's body gets its micro-batch re-bound to the caller's session") {
    // every drain's StreamExecution runs in a clone of the session; the
    // body's jobs must run in the caller's, under the drain's conf window
    // (whole-stage codegen off), and the window must close after the drain
    import graft.queries.StreamBatch
    val cat = StreamBatch.sv21SrcCatalog.replace("\"kv_lm_src\"", "\"kv_lm_src_rebind\"")
    KvStore.drop("default:kv_lm_src_rebind")
    import spark.implicits._
    Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text").write.format("graft-kv")
      .options(Map("catalog" -> cat, "newtable" -> "4",
        "timestamp" -> "1000", "minSplitNum" -> "0", "maxSplitNum" -> "100"))
      .mode("append").save()
    val ckpt = Files.createTempDirectory("graft-rebind-ckpt")
    val wholeStageBefore = spark.conf.getOption("spark.sql.codegen.wholeStage")
    val seen = new java.util.concurrent.atomic.AtomicReference[(Boolean, String, Long)]()
    try {
      StreamBatch.drain(spark, Map("catalog" -> cat), ckpt.toString) { (b, _) =>
        seen.set((b.sparkSession eq spark,
          b.sparkSession.conf.get("spark.sql.codegen.wholeStage"), b.count()))
      }
    } finally {
      GraftStreaming.deleteTree(ckpt)
      KvStore.drop("default:kv_lm_src_rebind")
    }
    assert(seen.get != null, "the drain admitted no batch")
    val (same, wholeStage, rows) = seen.get
    assert(same, "the body's frame must belong to the caller's session")
    assert(wholeStage == "false", "body jobs must run with whole-stage codegen off")
    assert(rows == 2L)
    assert(spark.conf.getOption("spark.sql.codegen.wholeStage") == wholeStageBefore,
      "the drain must restore whole-stage codegen")
  }

  test("a third drain of one maintainer, with a batch of the same shape, compiles no class") {
    // a class compiled for one drain must serve the next: with the body in
    // a per-drain session clone, every drain compiled its classes again
    import graft.queries.StreamBatch
    import org.apache.spark.metrics.source.CodegenMetrics
    val suf = "cgc"
    def named(cat: String, base: String) = cat.replace("\"" + base + "\"", s""""${base}_$suf"""")
    val ordCat = named(StreamBatch.sv23OrdSrcCatalog, "kv_jv_ord_src")
    val custCat = named(StreamBatch.sv23CustSrcCatalog, "kv_jv_cust_src")
    val ordMir = named(StreamBatch.sv23OrdMirrorCatalog, "kv_jv_ord_mirror")
    val custMir = named(StreamBatch.sv23CustMirrorCatalog, "kv_jv_cust_mirror")
    val viewCat = named(StreamBatch.sv23ViewCatalog, "kv_jv_view")
    val aggCat = named(StreamBatch.sv24AggCatalog, "kv_jv_agg")
    val tables = Seq("kv_jv_ord_src", "kv_jv_cust_src", "kv_jv_ord_mirror",
      "kv_jv_cust_mirror", "kv_jv_view", "kv_jv_agg").map(t => s"default:${t}_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    def put(df: org.apache.spark.sql.DataFrame, cat: String, ts: Long,
        opts: (String, String)*): Unit =
      df.write.format("graft-kv").options(Map("catalog" -> cat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100") ++ opts)
        .mode("append").save()
    val twoVersions = "maxVersions" -> "2"
    put(Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey"), ordMir, 1, twoVersions)
    put(Seq.empty[(Long, String)].toDF("c_custkey", "seg"), custMir, 1, twoVersions)
    spark.range(0).select(lit(0L).as("c_custkey"), lit(0L).as("o_orderkey"),
        lit(0L).as("price_c"), lit("").as("seg"), lit(1).as("alive"))
      .write.format("graft-kv")
      .options(Map("catalog" -> viewCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1")).mode("append").save()
    spark.range(0).select(lit("").as("segment"), lit(0L).as("n_orders"),
        lit(0L).as("revenue_c"))
      .write.format("graft-kv")
      .options(Map("catalog" -> aggCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplit" -> "0", "maxSplit" -> "z"))
      .mode("append").save()
    val ckptO = Files.createTempDirectory("graft-cgc-ord")
    val ckptC = Files.createTempDirectory("graft-cgc-cust")
    def drainCustomers(base: Long): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      StreamBatch.maintainJoinViewCustomer(spark, base, ckptC.toString, custCat, custMir,
        viewCat, Some(aggCat))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    try {
      put((1L to 8L).map(c => (c, "A")).toDF("c_custkey", "seg"), custCat, 1000)
      drainCustomers(100000L)
      put((1L to 40L).map(o => (o, o % 8 + 1, o * 100)).toDF("o_orderkey", "o_custkey",
        "price_c"), ordCat, 2000)
      StreamBatch.maintainJoinViewOrders(spark, 200000L, ckptO.toString, ordCat, ordMir,
        custMir, viewCat, Some(aggCat))
      // two waves of the same shape: two customers change segment
      val compiles = Seq(("B", 300000L), ("C", 400000L)).map { case (seg, base) =>
        put(Seq((2L, seg), (5L, seg)).toDF("c_custkey", "seg"), custCat, base / 100)
        drainCustomers(base)
      }
      info(s"compiles per customer drain: ${compiles.mkString(", ")}")
      assert(compiles.last == 0L,
        s"the third customer drain compiled ${compiles.last} classes")
      val rollup = spark.read.format("graft-kv").option("catalog", aggCat).load()
        .filter(col("n_orders") > 0).collect()
        .map(r => r.getAs[String]("segment") -> r.getAs[Long]("n_orders")).toMap
      assert(rollup == Map("A" -> 30L, "C" -> 10L), s"rollup after the waves: $rollup")
    } finally {
      Seq(ckptO, ckptC).foreach(GraftStreaming.deleteTree)
      tables.foreach(KvStore.drop)
    }
  }

  test("sv22: a batch torn between the manifest append and the counter advance replays idempotently") {
    import graft.queries.StreamBatch
    val suf = "crz"
    val srcCat = StreamBatch.sv22SrcCatalog.replace("\"kv_sh_src\"", s""""kv_sh_src_$suf"""")
    val manCat = StreamBatch.sv22ManifestCatalog.replace("\"kv_sh_manifest\"", s""""kv_sh_manifest_$suf"""")
    val ctrCat = StreamBatch.sv22CountersCatalog.replace("\"kv_sh_counters\"", s""""kv_sh_counters_$suf"""")
    Seq(s"default:kv_sh_src_$suf", s"default:kv_sh_manifest_$suf",
      s"default:kv_sh_counters_$suf").foreach(KvStore.drop)
    import spark.implicits._
    def putDocs(ids: Seq[Long], ts: Long): Unit =
      ids.map(i => (i, s"doc $i")).toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    // bootstrap manifest + counters empty
    spark.range(0).select(col("id").as("doc_id"), col("id").as("skey"),
        lit(0).as("shard"), col("id").as("pos"))
      .write.format("graft-kv")
      .options(Map("catalog" -> manCat, "newtable" -> "4", "timestamp" -> "1",
        "minSplitNum" -> "0", "maxSplitNum" -> "100")).mode("append").save()
    spark.range(0).select(col("id").cast("int").as("shard"), col("id").as("n"))
      .write.format("graft-kv")
      .options(Map("catalog" -> ctrCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1",
        "minSplitNum" -> "0", "maxSplitNum" -> "3")).mode("append").save()
    val ckpt = Files.createTempDirectory("graft-shcrash-ckpt").toString
    def manifest(): Map[Long, (Int, Long)] = spark.read.format("graft-kv")
      .option("catalog", manCat).load()
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("shard"), r.getAs[Long]("pos"))).toMap
    // wave 1
    putDocs(1L to 6L, ts = 1000)
    StreamBatch.maintainShardManifest(spark, srcCat, manCat, ctrCat,
      shards = 4, maxId = 100L, ckpt)
    val after1 = manifest()
    assert(after1.keySet == (1L to 6L).toSet)
    // wave 2 crashes between the manifest append and the counter advance
    putDocs(7L to 9L, ts = 2000)
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamBatch.maintainShardManifest(spark, srcCat, manCat, ctrCat,
        shards = 4, maxId = 100L, ckpt,
        crashPoint = () => throw new RuntimeException("injected crash"))
    }
    assert(crashed.getMessage.contains("injected crash") ||
      Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
    val torn = manifest()
    assert(torn.keySet == (1L to 9L).toSet,
      s"manifest append must have landed before the crash, got ${torn.keySet}")
    // resume: the replay must assign the SAME positions (as-of counter
    // read), not stack a second batch on top of the torn append
    StreamBatch.maintainShardManifest(spark, srcCat, manCat, ctrCat,
      shards = 4, maxId = 100L, ckpt)
    val got = manifest()
    assert(got == torn, s"replay re-ranked the torn append: $got vs $torn")
    (1L to 6L).foreach(i => assert(got(i) == after1(i),
      s"wave-1 position of doc $i shifted"))
    // a third wave lands ABOVE wave 2 in every shard it touches — the
    // counter advance did complete on resume
    putDocs(Seq(10L), ts = 3000)
    StreamBatch.maintainShardManifest(spark, srcCat, manCat, ctrCat,
      shards = 4, maxId = 100L, ckpt)
    val fin = manifest()
    val (sh10, pos10) = fin(10L)
    fin.filter { case (id, (sh, _)) => id != 10L && sh == sh10 }.values
      .foreach { case (_, p) => assert(p < pos10,
        s"doc 10 (pos $pos10) must append above every earlier row in shard $sh10") }
    Seq(s"default:kv_sh_src_$suf", s"default:kv_sh_manifest_$suf",
      s"default:kv_sh_counters_$suf").foreach(KvStore.drop)
  }

  test("sv22: manifest positions are append-only stable across updates and deletes") {
    val outDf = graft.queries.StreamBatch
      .queries("sv22_stream_shard_manifest")(spark, sfDir)
    val out = outDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    // the post-stream manifest read is a plain latest-merge scan (bigint
    // key + atomic columns) — it must ride the COLUMNAR kv read path
    assert(allPlanNodes(outDf.queryExecution.executedPlan).exists {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.supportsColumnar
      case _ => false
    }, "the sv22 manifest readback scan fell off the columnar path")
    val docs = graft.queries.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    // every live doc exactly once
    assert(out.map(_._1).toSet == docs)
    assert(out.length == docs.size)
    out.foreach { case (_, skey, shard, _) => assert(shard == (skey % 16).toInt) }
    // positions unique per shard; holes allowed (deletes burn slots), but
    // never duplicated or shifted
    out.groupBy(_._3).foreach { case (sh, rows) =>
      val ps = rows.map(_._4)
      assert(ps.distinct.length == ps.length, s"duplicate positions in shard $sh")
    }
    // STABILITY: a doc appended in phase 1 and never touched again keeps a
    // position BELOW every phase-2/4 append in its shard — later waves and
    // the [100,300] delete must not re-rank survivors
    val phaseOf = (id: Long) =>
      if (id >= 100 && id <= 300 && id % 3 <= 1) 4
      else if (id % 3 == 0) 1 else if (id % 3 == 1) 2 else 4
    out.groupBy(_._3).foreach { case (sh, rows) =>
      val maxP1 = rows.filter(r => phaseOf(r._1) == 1).map(_._4)
      val minP2 = rows.filter(r => phaseOf(r._1) == 2).map(_._4)
      val minP4 = rows.filter(r => phaseOf(r._1) == 4).map(_._4)
      if (maxP1.nonEmpty && minP2.nonEmpty)
        assert(maxP1.max < minP2.min, s"shard $sh: phase-2 appends re-ranked phase-1 rows")
      if (minP2.nonEmpty && minP4.nonEmpty)
        assert(minP2.max < minP4.min, s"shard $sh: phase-4 appends re-ranked phase-2 rows")
    }
  }

  test("sv23: an orders batch torn between the view write and the mirror advance replays idempotently") {
    // the join-view's worst window: the view already shows the new world
    // (a MOVED order re-keyed, a dead order retired) but the orders mirror
    // still claims the old addresses. A naive replay would retire the NEW
    // address (reading the half-advanced mirror) or double-apply the move.
    // The as-of (maxStamp = stamp) reads + two retained versions must make
    // the replay recompute the identical delta against pre-batch state.
    import graft.queries.StreamBatch
    val suf = "jvc"
    val ordCat = StreamBatch.sv23OrdSrcCatalog
      .replace("\"kv_jv_ord_src\"", s""""kv_jv_ord_src_$suf"""")
    val custCat = StreamBatch.sv23CustSrcCatalog
      .replace("\"kv_jv_cust_src\"", s""""kv_jv_cust_src_$suf"""")
    val ordMir = StreamBatch.sv23OrdMirrorCatalog
      .replace("\"kv_jv_ord_mirror\"", s""""kv_jv_ord_mirror_$suf"""")
    val custMir = StreamBatch.sv23CustMirrorCatalog
      .replace("\"kv_jv_cust_mirror\"", s""""kv_jv_cust_mirror_$suf"""")
    val viewCat = StreamBatch.sv23ViewCatalog
      .replace("\"kv_jv_view\"", s""""kv_jv_view_$suf"""")
    val aggCat = StreamBatch.sv24AggCatalog
      .replace("\"kv_jv_agg\"", s""""kv_jv_agg_$suf"""")
    val tables = Seq(s"default:kv_jv_ord_src_$suf", s"default:kv_jv_cust_src_$suf",
      s"default:kv_jv_ord_mirror_$suf", s"default:kv_jv_cust_mirror_$suf",
      s"default:kv_jv_view_$suf", s"default:kv_jv_agg_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    def putOrd(rows: Seq[(Long, Long, Long)], ts: Long): Unit =
      rows.toDF("o_orderkey", "o_custkey", "price_c").write.format("graft-kv")
        .options(Map("catalog" -> ordCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    def delOrd(ids: Seq[Long], ts: Long): Unit =
      ids.toDF("o_orderkey").write.format("graft-kv")
        .options(Map("catalog" -> ordCat, "delete" -> "true",
          "timestamp" -> ts.toString)).mode("append").save()
    def putCust(rows: Seq[(Long, String)], ts: Long): Unit =
      rows.toDF("c_custkey", "seg").write.format("graft-kv")
        .options(Map("catalog" -> custCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    // bootstrap state tables (the first batch reads all three)
    Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey")
      .write.format("graft-kv")
      .options(Map("catalog" -> ordMir, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplitNum" -> "0", "maxSplitNum" -> "100"))
      .mode("append").save()
    Seq.empty[(Long, String)].toDF("c_custkey", "seg")
      .write.format("graft-kv")
      .options(Map("catalog" -> custMir, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplitNum" -> "0", "maxSplitNum" -> "100"))
      .mode("append").save()
    spark.range(0).select(lit(0L).as("c_custkey"), lit(0L).as("o_orderkey"),
        lit(0L).as("price_c"), lit("").as("seg"), lit(1).as("alive"))
      .write.format("graft-kv")
      .options(Map("catalog" -> viewCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1")).mode("append").save()
    spark.range(0).select(lit("").as("segment"), lit(0L).as("n_orders"),
        lit(0L).as("revenue_c"))
      .write.format("graft-kv")
      .options(Map("catalog" -> aggCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplit" -> "0", "maxSplit" -> "z"))
      .mode("append").save()
    def agg(): Map[String, (Long, Long)] =
      spark.read.format("graft-kv").option("catalog", aggCat).load()
        .collect().map(r => r.getAs[String]("segment") ->
          ((r.getAs[Long]("n_orders"), r.getAs[Long]("revenue_c")))).toMap
    val ckptO = Files.createTempDirectory("graft-jvcrash-ord").toString
    val ckptC = Files.createTempDirectory("graft-jvcrash-cust").toString
    def view(): Map[(Long, Long), (Long, String, Int)] =
      spark.read.format("graft-kv").option("catalog", viewCat).load()
        .collect().map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("o_orderkey")) ->
          ((r.getAs[Long]("price_c"), r.getAs[String]("seg"), r.getAs[Int]("alive")))).toMap
    def ordMirror(): Map[Long, Long] =
      spark.read.format("graft-kv").option("catalog", ordMir).load()
        .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    // load: two customers, two orders
    putCust(Seq((1L, "A"), (2L, "B")), ts = 1000)
    StreamBatch.maintainJoinViewCustomer(spark, 100000L, ckptC, custCat, custMir,
      viewCat, Some(aggCat))
    putOrd(Seq((1L, 1L, 100L), (2L, 2L, 200L)), ts = 2000)
    StreamBatch.maintainJoinViewOrders(spark, 200000L, ckptO, ordCat, ordMir,
      custMir, viewCat, Some(aggCat))
    assert(view() == Map((1L, 1L) -> ((100L, "A", 1)), (2L, 2L) -> ((200L, "B", 1))))
    assert(agg() == Map("A" -> ((1L, 100L)), "B" -> ((1L, 200L))),
      s"rollup after load: ${agg()}")
    // the wave: order 1 MOVES cust 1 → 2 (re-key, +1¢), order 2 dies
    putOrd(Seq((1L, 2L, 101L)), ts = 3000)
    delOrd(Seq(2L), ts = 3001)
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamBatch.maintainJoinViewOrders(spark, 300000L, ckptO,
        ordCat, ordMir, custMir, viewCat, Some(aggCat),
        crashPoint = () => throw new RuntimeException("injected crash"))
    }
    assert(crashed.getMessage.contains("injected crash") ||
      Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
    // mid-crash: view already re-keyed, mirror still pre-batch
    val torn = view()
    assert(torn == Map(
      (1L, 1L) -> ((0L, "", 0)),    // old address retired
      (2L, 1L) -> ((101L, "B", 1)), // new address live, enriched
      (2L, 2L) -> ((0L, "", 0))),   // dead order retired
      s"view writes must have landed before the crash, got $torn")
    assert(ordMirror() == Map(1L -> 1L, 2L -> 2L),
      s"orders mirror must still be pre-batch, got ${ordMirror()}")
    // two retained versions: the crashed write must NOT have evicted the
    // pre-batch view cells the replay's as-of read needs (stamp = 300020)
    val asOf = spark.read.format("graft-kv")
      .options(Map("catalog" -> viewCat, "maxStamp" -> "300020")).load()
      .collect().map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("o_orderkey")) ->
        r.getAs[Int]("alive")).toMap
    assert(asOf == Map((1L, 1L) -> 1, (2L, 2L) -> 1),
      s"as-of view must show the pre-batch world, got $asOf")
    // the rollup write landed before the crash too: the move already
    // shifted o1's cent-bumped price A -> B, and o2's death decremented B
    val tornAgg = agg()
    assert(tornAgg == Map("A" -> ((0L, 0L)), "B" -> ((1L, 101L))),
      s"rollup must show the torn batch's deltas once: $tornAgg")
    // resume from the SAME checkpoint with the SAME drain base: the replay
    // must re-derive identical cells (no double-retire, no re-enrich drift,
    // NO DOUBLE-DECREMENT of the rollup), then finish the mirror advance
    StreamBatch.maintainJoinViewOrders(spark, 300000L, ckptO,
      ordCat, ordMir, custMir, viewCat, Some(aggCat))
    assert(view() == torn, s"replay diverged: ${view()} vs $torn")
    assert(agg() == tornAgg, s"replay double-applied the rollup delta: ${agg()}")
    assert(ordMirror() == Map(1L -> 2L, 2L -> -1L),
      s"mirror after resume: ${ordMirror()}")
    // customer-side torn window: cust 2 re-segments; crash lands the view
    // repair but not the customer-mirror advance
    putCust(Seq((2L, "Z")), ts = 4000)
    val crashed2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamBatch.maintainJoinViewCustomer(spark, 400000L, ckptC,
        custCat, custMir, viewCat, Some(aggCat),
        crashPoint = () => throw new RuntimeException("injected crash"))
    }
    assert(crashed2.getMessage.contains("injected crash") ||
      Option(crashed2.getCause).exists(_.getMessage.contains("injected crash")))
    assert(view()((2L, 1L)) == ((101L, "Z", 1)),
      "the view repair must have landed before the crash")
    StreamBatch.maintainJoinViewCustomer(spark, 400000L, ckptC,
      custCat, custMir, viewCat, Some(aggCat))
    assert(view()((2L, 1L)) == ((101L, "Z", 1)), "replay drifted the repaired row")
    // the re-segmentation MOVED o1's contribution B -> Z exactly once
    assert(agg().filter(_._2._1 > 0) == Map("Z" -> ((1L, 101L))),
      s"rollup after the segment move: ${agg()}")
    val segs = spark.read.format("graft-kv").option("catalog", custMir).load()
      .collect().map(r => r.getAs[Long]("c_custkey") -> r.getAs[String]("seg")).toMap
    assert(segs == Map(1L -> "A", 2L -> "Z"), s"customer mirror after resume: $segs")
    tables.foreach(KvStore.drop)
  }

  test("sv22 invariant fuzz: random waves keep the manifest unique, stable, and append-above") {
    // position VALUES depend on batch rank (deterministic but tedious to
    // model); the loader-facing CONTRACT is what matters and is fuzzed
    // here across random upsert/delete waves: every live doc appears
    // exactly once, positions stay unique per shard, survivors NEVER
    // move, and re-appends land above their shard's prior high-water
    import graft.queries.StreamBatch
    val suf = "fzz"
    val srcCat = StreamBatch.sv22SrcCatalog.replace("\"kv_sh_src\"", s""""kv_sh_src_$suf"""")
    val manCat = StreamBatch.sv22ManifestCatalog.replace("\"kv_sh_manifest\"", s""""kv_sh_manifest_$suf"""")
    val ctrCat = StreamBatch.sv22CountersCatalog.replace("\"kv_sh_counters\"", s""""kv_sh_counters_$suf"""")
    val tables = Seq(s"default:kv_sh_src_$suf", s"default:kv_sh_manifest_$suf",
      s"default:kv_sh_counters_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    spark.range(0).select(col("id").as("doc_id"), col("id").as("skey"),
        lit(0).as("shard"), col("id").as("pos"))
      .write.format("graft-kv")
      .options(Map("catalog" -> manCat, "newtable" -> "4", "timestamp" -> "1",
        "minSplitNum" -> "0", "maxSplitNum" -> "100")).mode("append").save()
    spark.range(0).select(col("id").cast("int").as("shard"), col("id").as("n"))
      .write.format("graft-kv")
      .options(Map("catalog" -> ctrCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplitNum" -> "0", "maxSplitNum" -> "3"))
      .mode("append").save()
    val ckpt = Files.createTempDirectory("graft-shfzz-ckpt").toString
    val live = scala.collection.mutable.Set[Long]()
    val rnd = new scala.util.Random(7)
    var ts = 1000L
    def putDocs(ids0: Seq[Long]): Unit = if (ids0.nonEmpty) {
      val ids = ids0.distinct
      ids.foreach(live.add)
      ids.map(i => (i, s"doc $i")).toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save(); ts += 10
    }
    def delDocs(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(live.remove)
      ids.toDF("doc_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "delete" -> "true",
          "timestamp" -> ts.toString)).mode("append").save(); ts += 10
    }
    def manifest(): Map[Long, (Int, Long)] =
      spark.read.format("graft-kv").option("catalog", manCat).load()
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("shard"), r.getAs[Long]("pos")))).toMap
    def drain(): Unit = {
      StreamBatch.maintainShardManifest(spark, srcCat, manCat, ctrCat,
        shards = 4, maxId = 100L, ckpt); ()
    }
    putDocs(0L until 25L)
    drain()
    var prev = manifest()
    (1 to 8).foreach { wave =>
      val ups = Seq.fill(4)(rnd.nextLong(40))
      val dels = Seq.fill(2)(rnd.nextLong(40)).distinct.filterNot(ups.contains)
      putDocs(ups)
      delDocs(dels)
      val touched = (ups ++ dels).toSet
      val hwBefore = prev.values.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      drain()
      val m = manifest()
      assert(m.keySet == live.toSet,
        s"wave $wave: manifest keys != live docs (${m.keySet.size} vs ${live.size})")
      m.groupBy(_._2._1).foreach { case (sh, rows) =>
        val ps = rows.values.map(_._2).toSeq
        assert(ps.distinct.size == ps.size, s"wave $wave: duplicate positions in shard $sh")
      }
      prev.foreach { case (id, at) =>
        if (!touched(id) && live(id))
          assert(m(id) == at, s"wave $wave: untouched doc $id moved from $at to ${m(id)}")
      }
      ups.distinct.filter(live).foreach { id =>
        val (sh, p) = m(id)
        assert(p > hwBefore.getOrElse(sh, Long.MinValue),
          s"wave $wave: re-append of $id (pos $p) not above shard $sh's prior high-water")
      }
      prev = m
    }
    tables.foreach(KvStore.drop)
  }

  test("join-view differential: 12 random interleaved waves converge view AND rollup to the model") {
    // the fixed sv23/sv24 phases exercise each IVM move once; this drives
    // RANDOM interleavings (moves onto dead customers, delete+resurrect of
    // an order inside one wave pair, customers flapping segments) and
    // checks the maintained view and rollup against an in-memory model
    // after EVERY drain, not just at the end
    import graft.queries.StreamBatch
    val suf = "jvd"
    val ordCat = StreamBatch.sv23OrdSrcCatalog
      .replace("\"kv_jv_ord_src\"", s""""kv_jv_ord_src_$suf"""")
    val custCat = StreamBatch.sv23CustSrcCatalog
      .replace("\"kv_jv_cust_src\"", s""""kv_jv_cust_src_$suf"""")
    val ordMir = StreamBatch.sv23OrdMirrorCatalog
      .replace("\"kv_jv_ord_mirror\"", s""""kv_jv_ord_mirror_$suf"""")
    val custMir = StreamBatch.sv23CustMirrorCatalog
      .replace("\"kv_jv_cust_mirror\"", s""""kv_jv_cust_mirror_$suf"""")
    val viewCat = StreamBatch.sv23ViewCatalog
      .replace("\"kv_jv_view\"", s""""kv_jv_view_$suf"""")
    val aggCat = StreamBatch.sv24AggCatalog
      .replace("\"kv_jv_agg\"", s""""kv_jv_agg_$suf"""")
    val tables = Seq(s"default:kv_jv_ord_src_$suf", s"default:kv_jv_cust_src_$suf",
      s"default:kv_jv_ord_mirror_$suf", s"default:kv_jv_cust_mirror_$suf",
      s"default:kv_jv_view_$suf", s"default:kv_jv_agg_$suf")
    tables.foreach(KvStore.drop)
    import spark.implicits._
    // bootstrap
    Seq.empty[(Long, Long)].toDF("o_orderkey", "o_custkey")
      .write.format("graft-kv")
      .options(Map("catalog" -> ordMir, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplitNum" -> "0", "maxSplitNum" -> "400"))
      .mode("append").save()
    Seq.empty[(Long, String)].toDF("c_custkey", "seg")
      .write.format("graft-kv")
      .options(Map("catalog" -> custMir, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplitNum" -> "0", "maxSplitNum" -> "30"))
      .mode("append").save()
    spark.range(0).select(lit(0L).as("c_custkey"), lit(0L).as("o_orderkey"),
        lit(0L).as("price_c"), lit("").as("seg"), lit(1).as("alive"))
      .write.format("graft-kv")
      .options(Map("catalog" -> viewCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1")).mode("append").save()
    spark.range(0).select(lit("").as("segment"), lit(0L).as("n_orders"),
        lit(0L).as("revenue_c"))
      .write.format("graft-kv")
      .options(Map("catalog" -> aggCat, "newtable" -> "4", "maxVersions" -> "2",
        "timestamp" -> "1", "minSplit" -> "0", "maxSplit" -> "z"))
      .mode("append").save()
    val ckptO = Files.createTempDirectory("graft-jvdiff-ord").toString
    val ckptC = Files.createTempDirectory("graft-jvdiff-cust").toString
    // the in-memory MODEL: ground truth the maintained state must equal
    val orders = scala.collection.mutable.Map[Long, (Long, Long)]() // ok -> (ck, price)
    val custs = scala.collection.mutable.Map[Long, String]()        // ck -> seg
    val rnd = new scala.util.Random(20260816)
    val segNames = Vector("A", "B", "C", "D")
    var ts = 1000L
    def putOrd(rows0: Seq[(Long, Long, Long)]): Unit = if (rows0.nonEmpty) {
      // two cells for one key at ONE kv timestamp merge ambiguously —
      // dedupe the batch (last wins, like the model)
      val rows = rows0.groupBy(_._1).map(_._2.last).toSeq
      rows.foreach { case (ok, ck, p) => orders(ok) = (ck, p) }
      rows.toDF("o_orderkey", "o_custkey", "price_c").write.format("graft-kv")
        .options(Map("catalog" -> ordCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "400"))
        .mode("append").save(); ts += 10
    }
    def delOrd(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(orders.remove)
      ids.toDF("o_orderkey").write.format("graft-kv")
        .options(Map("catalog" -> ordCat, "delete" -> "true",
          "timestamp" -> ts.toString)).mode("append").save(); ts += 10
    }
    def putCust(rows0: Seq[(Long, String)]): Unit = if (rows0.nonEmpty) {
      val rows = rows0.groupBy(_._1).map(_._2.last).toSeq
      rows.foreach { case (ck, sg) => custs(ck) = sg }
      rows.toDF("c_custkey", "seg").write.format("graft-kv")
        .options(Map("catalog" -> custCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "30"))
        .mode("append").save(); ts += 10
    }
    def delCust(ids: Seq[Long]): Unit = if (ids.nonEmpty) {
      ids.foreach(custs.remove)
      ids.toDF("c_custkey").write.format("graft-kv")
        .options(Map("catalog" -> custCat, "delete" -> "true",
          "timestamp" -> ts.toString)).mode("append").save(); ts += 10
    }
    def expectedView(): Map[(Long, Long), (Long, String)] =
      orders.map { case (ok, (ck, p)) =>
        (ck, ok) -> ((p, custs.getOrElse(ck, ""))) }.toMap
    def expectedAgg(): Map[String, (Long, Long)] =
      orders.toSeq.groupBy { case (_, (ck, _)) =>
        custs.get(ck).filter(_.nonEmpty).getOrElse("(none)") }
        .map { case (sg, rows) =>
          sg -> ((rows.size.toLong, rows.map(_._2._2).sum)) }
    def actualView(): Map[(Long, Long), (Long, String)] =
      spark.read.format("graft-kv").option("catalog", viewCat).load()
        .filter(col("alive") === 1)
        .collect().map(r => (r.getAs[Long]("c_custkey"), r.getAs[Long]("o_orderkey")) ->
          ((r.getAs[Long]("price_c"), r.getAs[String]("seg")))).toMap
    def actualAgg(): Map[String, (Long, Long)] =
      spark.read.format("graft-kv").option("catalog", aggCat).load()
        .filter(col("n_orders") > 0)
        .collect().map(r => r.getAs[String]("segment") ->
          ((r.getAs[Long]("n_orders"), r.getAs[Long]("revenue_c")))).toMap
    var base = 0L
    def drainO(): Unit = { base += 100000L
      StreamBatch.maintainJoinViewOrders(spark, base, ckptO,
        ordCat, ordMir, custMir, viewCat, Some(aggCat)); () }
    def drainC(): Unit = { base += 100000L
      StreamBatch.maintainJoinViewCustomer(spark, base, ckptC,
        custCat, custMir, viewCat, Some(aggCat)); () }
    // seed world: 8 customers, 40 orders
    putCust((0L until 8L).map(ck => ck -> segNames(rnd.nextInt(4))))
    drainC()
    putOrd((0L until 40L).map(ok => (ok, rnd.nextLong(10), rnd.nextLong(500))))
    drainO() // custkeys 8/9 have orders but NO customer: born orphaned
    (1 to 12).foreach { wave =>
      if (rnd.nextBoolean()) {
        // orders wave: mixed upserts (some MOVES, some onto dead/absent
        // customers) and deletes, possibly of just-upserted keys
        putOrd(Seq.fill(6)((rnd.nextLong(60),
          rnd.nextLong(12), rnd.nextLong(500))))
        delOrd(Seq.fill(3)(rnd.nextLong(60)).distinct)
        drainO()
      } else {
        // customer wave: re-segment, create, and kill — including flapping
        putCust(Seq.fill(3)((rnd.nextLong(12), segNames(rnd.nextInt(4)))))
        delCust(Seq.fill(2)(rnd.nextLong(12)).distinct)
        drainC()
      }
      assert(actualView() == expectedView(),
        s"view diverged from the model after wave $wave")
      assert(actualAgg() == expectedAgg(),
        s"rollup diverged from the model after wave $wave")
    }
    tables.foreach(KvStore.drop)
  }

  test("CDC protocols (sv12/sv14/sv18-sv26) never round-trip data through the driver") {
    // MECHANICAL guard: a driver-side collect of corpus-scale data shows up
    // as an oversized serialized task result. Every task of the whole
    // sv12/sv14/sv18/sv19 pipelines (stream + foreachBatch jobs included)
    // must return a result far below data scale — the only driver
    // round-trips allowed are control-sized (offsets, counts, the batch's
    // band-prefix set, sv18/sv19's capped changed-id and probed-cell sets).
    val maxResult = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) maxResult.accumulateAndGet(m.resultSize, math.max)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(graft.queries.StreamBatch
        .queries("sv12_stream_cdc_index")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv14_stream_incr_neardup")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv18_stream_ann_ivf")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv19_stream_decontam")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv20_stream_pq_codes")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv21_stream_bigram_lm")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv22_stream_shard_manifest")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv23_stream_join_view")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv24_stream_join_agg")(spark, sfDir).count() > 0)
      assert(graft.queries.StreamBatch
        .queries("sv26_stream_session_roots")(spark, sfDir).count() > 0)
      // listener events are async; wait for the counter to go quiet
      var last = -1L; var spins = 0
      while (maxResult.get() != last && spins < 20) {
        last = maxResult.get(); Thread.sleep(250); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    info(s"largest task result: ${maxResult.get()} bytes")
    assert(maxResult.get() > 0L, "listener saw no tasks — harness broken")
    assert(maxResult.get() < (1L << 20),
      s"a task returned ${maxResult.get()} bytes to the driver — " +
        "a CDC protocol is collecting data-scale state")
  }

  test("sv14 band-index lookup scans rows proportional to the batch's buckets, not index size") {
    // an index-shaped table: 8 bands × 5 hashes × 30 docs = 1200 entries,
    // presplit into several string-key regions — the persisted kv_nd_idx
    // stand-in, at a size where a full per-batch read would be obvious
    val idxCatalog =
      """{"table":{"namespace":"default", "name":"kv_bandidx_probe"},
        |"rowkey":"key",
        |"columns":{
        |"ik":{"cf":"rowkey", "col":"key", "type":"string"},
        |"band":{"cf":"f", "col":"band", "type":"int"},
        |"bh":{"cf":"f", "col":"bh", "type":"bigint"},
        |"doc_id":{"cf":"f", "col":"doc", "type":"bigint"}}}""".stripMargin
    graft.store.KvStore.drop("default:kv_bandidx_probe")
    val entries = for {
      band <- 0 until 8; h <- 0 until 5; d <- 0 until 30
    } yield {
      val bh = 1000L * band + h
      (f"$band%02d:$bh%021d:$d%012d", band, bh, d.toLong)
    }
    import spark.implicits._
    entries.toDF("ik", "band", "bh", "doc_id").write.format("graft-kv")
      .options(Map("catalog" -> idxCatalog, "newtable" -> "8",
        "minSplit" -> "0", "maxSplit" -> "z"))
      .mode("append").save()

    // a "batch" touching 3 of the 40 buckets
    val prefixes = Array(f"${0}%02d:${1000L * 0 + 2}%021d:",
      f"${3}%02d:${1000L * 3 + 0}%021d:", f"${7}%02d:${1000L * 7 + 4}%021d:")
    // smallStateRows = 0 pins the SLIVER path at this deliberately tiny
    // index; the default small-state short-circuit is asserted below
    val df = graft.queries.StreamBatch
      .bandIndexLookup(spark, idxCatalog, prefixes, smallStateRows = 0L)
    val rows = df.collect()
    assert(rows.length == 3 * 30, s"expected 90 bucket-mates, got ${rows.length}")
    assert(rows.map(_.getAs[Int]("band")).toSet == Set(0, 3, 7))

    val scan = allPlanNodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val scanned = scan.metrics("graftRowsScanned").value
    val total = graft.store.KvStore.table("default:kv_bandidx_probe").regions
      .map(_.rowCount.get()).sum
    assert(total == 1200L)
    // the gate: scanned rows = the 3 buckets' population, NOT the index size
    assert(scanned == 90L,
      s"prefix-pushed index lookup scanned $scanned of $total rows — " +
        "the lookup is not batch-proportional")

    // empty batch touches nothing; an unselective batch falls back to the
    // (correct) full scan
    assert(graft.queries.StreamBatch
      .bandIndexLookup(spark, idxCatalog, Array.empty, smallStateRows = 0L)
      .count() == 0L)
    val wide = (0 until graft.queries.StreamBatch.MaxPushedBandPrefixes + 1)
      .map(i => f"$i%02d:").toArray
    assert(graft.queries.StreamBatch
      .bandIndexLookup(spark, idxCatalog, wide, smallStateRows = 0L)
      .count() == 1200L)

    // DEFAULT gate: an index this small short-circuits to the full scan
    // WITHOUT evaluating the prefix set — deriving the prefixes is itself
    // a Spark job, and below SmallStateRows that job costs more than the
    // scan it would save (the measured cost model the by-name parameter
    // exists for)
    assert(1200L <= graft.queries.StreamBatch.SmallStateRows)
    var prefixJobRan = false
    val small = graft.queries.StreamBatch.bandIndexLookup(spark, idxCatalog,
      { prefixJobRan = true; prefixes })
    assert(small.count() == 1200L, "small-state lookup must be the full scan")
    assert(!prefixJobRan,
      "small-state short-circuit must not evaluate the prefix thunk")
  }

  test("sv18 IVF probe scans only the probed cells' slivers, not the whole index") {
    // an inverted-file-shaped table: 16 cells × 25 vectors = 400 entries,
    // presplit across cell space like sv18's index writes
    val idxCatalog = graft.queries.StreamBatch.sv18IdxCatalog
      .replace("\"kv_ann_idx\"", "\"kv_ann_probe_test\"")
    val avro = graft.queries.StreamBatch.sv18AvroVec
    graft.store.KvStore.drop("default:kv_ann_probe_test")
    import spark.implicits._
    val entries = for (cell <- 0 until 16; v <- 0 until 25)
      yield (cell, 1000L * cell + v, Array(cell.toFloat, v.toFloat))
    entries.toDF("cell", "vec_id", "v").write.format("graft-kv")
      .options(Map("catalog" -> idxCatalog, "annVec" -> avro,
        "newtable" -> "8", "minSplitNum" -> "0", "maxSplitNum" -> "16"))
      .mode("append").save()

    // a probe touching 3 of the 16 cells
    val df = graft.queries.StreamBatch
      .annIndexProbe(spark, idxCatalog, avro, Array(2, 7, 13))
    val rows = df.collect()
    assert(rows.length == 3 * 25, s"expected 75 probe candidates, got ${rows.length}")
    assert(rows.map(_.getAs[Int]("cell")).toSet == Set(2, 7, 13))

    val scan = allPlanNodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val scanned = scan.metrics("graftRowsScanned").value
    val total = graft.store.KvStore.table("default:kv_ann_probe_test").regions
      .map(_.rowCount.get()).sum
    assert(total == 400L)
    // the gate: scanned rows = the 3 probed cells' population, NOT index size
    assert(scanned == 75L,
      s"In-pushed IVF probe scanned $scanned of $total rows — " +
        "the probe is not sliver-proportional")

    // empty probe scans nothing; an oversized cell set falls back to the
    // (correct) full scan
    assert(graft.queries.StreamBatch
      .annIndexProbe(spark, idxCatalog, avro, Array.empty).count() == 0L)
    val wideCells =
      (0 to graft.queries.StreamBatch.MaxPushedBandPrefixes).toArray
    assert(graft.queries.StreamBatch
      .annIndexProbe(spark, idxCatalog, avro, wideCells).count() == 400L)
  }

  test("sv19 retirement reads only the touched train docs' pair slivers") {
    // a contamination-mirror-shaped table: composite key train_id ‖
    // eval_id, 50 train docs × 10 pairs each = 500 entries. The retirement
    // read filters In on the LEADING key part only — the gate is that the
    // composite-key compiler turns that into per-doc prefix slivers.
    val catalog = graft.queries.StreamBatch.sv19MirCatalog
      .replace("\"kv_ctm_mirror\"", "\"kv_ctm_mirror_test\"")
    graft.store.KvStore.drop("default:kv_ctm_mirror_test")
    import spark.implicits._
    val entries = for (t <- 0 until 50; e <- 0 until 10)
      yield (t.toLong, e.toLong * 10, 3L)
    entries.toDF("train_id", "eval_id", "n_shared").write.format("graft-kv")
      .options(Map("catalog" -> catalog, "newtable" -> "8",
        "minSplitNum" -> "0", "maxSplitNum" -> "50"))
      .mode("append").save()

    // a "batch" touching 3 of the 50 train docs
    val df = spark.read.format("graft-kv").option("catalog", catalog).load()
      .filter(col("train_id").isInCollection(Seq(3L, 17L, 42L)))
    val rows = df.collect()
    assert(rows.length == 30, s"expected 30 pair rows, got ${rows.length}")
    assert(rows.map(_.getAs[Long]("train_id")).toSet == Set(3L, 17L, 42L))

    val scan = allPlanNodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val scanned = scan.metrics("graftRowsScanned").value
    val total = graft.store.KvStore.table("default:kv_ctm_mirror_test").regions
      .map(_.rowCount.get()).sum
    assert(total == 500L)
    assert(scanned == 30L,
      s"retirement read scanned $scanned of $total mirror rows — " +
        "leading-key-part In is not compiling to prefix slivers")
  }

  test("sv18 mirror retirement point-reads the touched ids, not the whole mirror") {
    // a forward-mirror-shaped table keyed by vec_id: 500 vectors
    val catalog = graft.queries.StreamBatch.sv18FwdCatalog
      .replace("\"kv_ann_fwd\"", "\"kv_ann_mirror_test\"")
    val avro = graft.queries.StreamBatch.sv18AvroVec
    graft.store.KvStore.drop("default:kv_ann_mirror_test")
    import spark.implicits._
    (0 until 500).map(i => (i.toLong, Array(i.toFloat, 1.0f)))
      .toDF("vec_id", "embedding").write.format("graft-kv")
      .options(Map("catalog" -> catalog, "annVec" -> avro,
        "newtable" -> "8", "minSplitNum" -> "0", "maxSplitNum" -> "500"))
      .mode("append").save()

    // a "batch" touching 4 of the 500 vectors. smallStateRows = 0 pins
    // the POINT-GET path at this deliberately tiny mirror; the default
    // small-state broadcast-leftsemi shape is asserted below.
    val touched = Seq(3L, 77L, 210L, 499L).toDF("vec_id")
    val df = graft.queries.StreamBatch
      .mirrorLookup(spark, catalog, avro, touched, smallStateRows = 0L)
    val rows = df.collect()
    assert(rows.map(_.getAs[Long]("vec_id")).toSet == Set(3L, 77L, 210L, 499L))

    val scan = allPlanNodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val scanned = scan.metrics("graftRowsScanned").value
    val total = graft.store.KvStore.table("default:kv_ann_mirror_test").regions
      .map(_.rowCount.get()).sum
    assert(total == 500L)
    assert(scanned == 4L,
      s"retirement lookup scanned $scanned of $total mirror rows — " +
        "retirement is not batch-proportional")
    // empty batch reads nothing; an oversized id set keeps the
    // touched-rows contract through the leftsemi fallback
    assert(graft.queries.StreamBatch
      .mirrorLookup(spark, catalog, avro,
        spark.emptyDataset[Long].toDF("vec_id"), smallStateRows = 0L)
      .count() == 0L)
    val wideIds = (0L to graft.queries.StreamBatch.MaxPushedBandPrefixes + 200L)
      .toDF("vec_id")
    val wide = graft.queries.StreamBatch
      .mirrorLookup(spark, catalog, avro, wideIds, smallStateRows = 0L)
    assert(wide.count() == 500L)
    assert(wide.agg(org.apache.spark.sql.functions.max(col("vec_id"))).head().getLong(0) == 499L)

    // DEFAULT gate: a mirror this small skips the ids-collect job (itself
    // a Spark job costing more than scanning 500 in-memory rows) and takes
    // the broadcast-leftsemi shape — same touched-rows ANSWER, no driver
    // round-trip, and no point-get sliver planning
    assert(500L <= graft.queries.StreamBatch.SmallStateRows)
    val small = graft.queries.StreamBatch.mirrorLookup(spark, catalog, avro, touched)
    assert(small.collect().map(_.getAs[Long]("vec_id")).toSet ==
      Set(3L, 77L, 210L, 499L))
    val semi = allPlanNodes(small.queryExecution.executedPlan).exists {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _ => false
    }
    assert(semi, "small-state mirror lookup must be a broadcast leftsemi")
    // empty ids stay empty through the leftsemi shape too
    assert(graft.queries.StreamBatch
      .mirrorLookup(spark, catalog, avro,
        spark.emptyDataset[Long].toDF("vec_id")).count() == 0L)
  }

  test("mirrorLookup point-reads a string rowkey and a composite key's leading part") {
    // the one key-set lookup serves every maintainer's key type: the sv21
    // counts / sv24 rollup shape (a STRING rowkey) and sv19's contamination
    // mirror (`train_id ‖ eval_id`, looked up by its leading part). Per
    // shape: pinned to the pushed path it scans only the touched rows, by
    // default (a small table) it is the broadcast leftsemi, and both
    // answer the same rows
    import graft.queries.StreamBatch
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import spark.implicits._
    def scanned(df: DataFrame): Long =
      allPlanNodes(df.queryExecution.executedPlan).collectFirst {
        case b: BatchScanExec => b.metrics("graftRowsScanned").value
      }.get
    def isSemi(df: DataFrame): Boolean = allPlanNodes(df.queryExecution.executedPlan).exists {
      case j: BroadcastHashJoinExec => j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
      case _ => false
    }
    def check(catalog: String, idCol: String, touched: DataFrame, want: Int): Unit = {
      val pushed = StreamBatch.mirrorLookup(spark, catalog, "", touched, idCol = idCol,
        smallStateRows = 0L)
      val pushedRows = pushed.collect().toSet
      assert(pushedRows.size == want, s"$idCol: got ${pushedRows.size} rows")
      assert(scanned(pushed) == want.toLong,
        s"$idCol: the pushed lookup scanned ${scanned(pushed)} rows for $want touched")
      assert(!isSemi(pushed))
      assert(500L <= StreamBatch.SmallStateRows)
      val semi = StreamBatch.mirrorLookup(spark, catalog, "", touched, idCol = idCol)
      val semiRows = semi.collect().toSet
      assert(isSemi(semi), s"$idCol: a small-state lookup must be a broadcast leftsemi")
      assert(semiRows == pushedRows)
    }

    val cntCat = StreamBatch.sv21CountsCatalog
      .replace("\"kv_lm_counts\"", "\"kv_lm_counts_lookup\"")
    KvStore.drop("default:kv_lm_counts_lookup")
    (0 until 400).map(i => (f"w$i%03d x", f"w$i%03d", "x", i.toLong))
      .toDF("gram", "w1", "w2", "cnt").write.format("graft-kv")
      .options(Map("catalog" -> cntCat, "newtable" -> "8",
        "minSplit" -> "0", "maxSplit" -> "z"))
      .mode("append").save()
    check(cntCat, "gram", Seq("w007 x", "w123 x", "w399 x", "nope x").toDF("gram"), 3)

    val mirCat = StreamBatch.sv19MirCatalog
      .replace("\"kv_ctm_mirror\"", "\"kv_ctm_mirror_lookup\"")
    KvStore.drop("default:kv_ctm_mirror_lookup")
    (for (t <- 0 until 50; e <- 0 until 10) yield (t.toLong, e.toLong * 10, 3L))
      .toDF("train_id", "eval_id", "n_shared").write.format("graft-kv")
      .options(Map("catalog" -> mirCat, "newtable" -> "8",
        "minSplitNum" -> "0", "maxSplitNum" -> "50"))
      .mode("append").save()
    check(mirCat, "train_id", Seq(3L, 17L, 42L).toDF("train_id"), 30)
    Seq("default:kv_lm_counts_lookup", "default:kv_ctm_mirror_lookup").foreach(KvStore.drop)
  }

  test("ANN maintenance protocol: random insert/update/delete sequences equal a batch rebuild") {
    // DIFFERENTIAL sweep of the sv18 maintenance protocol beyond its fixed
    // fixture: drive seeded-random CDC op sequences (inserts, re-keying
    // updates, deletes, delete+reinsert, double-update-per-window) through
    // maintainAnnIndex, track the intended live state in a plain model,
    // and assert the MAINTAINED inverted file + mirror equal what a batch
    // rebuild of the model would produce — entry sets AND vector bits.
    import graft.queries.StreamBatch
    val suf = "difftest"
    val srcCat = StreamBatch.sv18SrcCatalog.replace("\"kv_ann_src\"", s""""kv_ann_src_$suf"""")
    val fwdCat = StreamBatch.sv18FwdCatalog.replace("\"kv_ann_fwd\"", s""""kv_ann_fwd_$suf"""")
    val idxCat = StreamBatch.sv18IdxCatalog.replace("\"kv_ann_idx\"", s""""kv_ann_idx_$suf"""")
    val avro = StreamBatch.sv18AvroVec
    Seq(s"default:kv_ann_src_$suf", s"default:kv_ann_fwd_$suf",
      s"default:kv_ann_idx_$suf").foreach(graft.store.KvStore.drop)
    val rnd = new scala.util.Random(20260815L)
    val dim = 6
    val cents: Array[Array[Double]] =
      Array.fill(8)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val maxId = 200L
    def vecFor(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    import spark.implicits._
    def writeOps(puts: Seq[(Long, Array[Float])], dels: Seq[Long], ts: Long): Unit = {
      if (puts.nonEmpty)
        puts.toDF("vec_id", "embedding").write.format("graft-kv")
          .options(Map("catalog" -> srcCat, "annVec" -> avro, "newtable" -> "4",
            "timestamp" -> ts.toString,
            "minSplitNum" -> "0", "maxSplitNum" -> maxId.toString))
          .mode("append").save()
      if (dels.nonEmpty)
        dels.toDF("vec_id").write.format("graft-kv")
          .options(Map("catalog" -> srcCat, "annVec" -> avro,
            "delete" -> "true", "timestamp" -> (ts + 1).toString))
          .mode("append").save()
    }
    val ckpt = java.nio.file.Files.createTempDirectory("graft-anndiff-ckpt").toString
    val live = scala.collection.mutable.Map.empty[Long, Array[Float]]
    var nextId = 0L
    (1 to 6).foreach { phase =>
      val ts = 1000L * phase
      // inserts: fresh ids
      val ins = (0 until 10 + rnd.nextInt(10)).map { _ =>
        val id = nextId; nextId += 1; (id, vecFor())
      }
      // updates: existing ids get NEW vectors (usually a different cell);
      // a few get updated TWICE in the window — CDC emits latest-only
      val updIds = rnd.shuffle(live.keys.toSeq).take(live.size / 3)
      val upd = updIds.map(id => (id, vecFor()))
      val doubleUpd = updIds.take(2).map(id => (id, vecFor()))
      // deletes: existing ids not updated this phase; a couple of them
      // reinserted in the SAME window (the re-put suppresses its marker)
      val delIds = rnd.shuffle((live.keys.toSet -- updIds).toSeq).take(live.size / 4)
      val reins = delIds.take(2).map(id => (id, vecFor()))
      writeOps(ins ++ upd, delIds, ts)
      writeOps(doubleUpd ++ reins, Seq.empty, ts + 2)
      StreamBatch.maintainAnnIndex(spark, srcCat, fwdCat, idxCat, cents,
        maxId, ckpt, phaseStamp = 10L + 4L * phase)
      // model: apply the same ops (double-updates and reinserts win)
      ins.foreach { case (id, v) => live(id) = v }
      upd.foreach { case (id, v) => live(id) = v }
      delIds.foreach(live.remove)
      doubleUpd.foreach { case (id, v) => live(id) = v }
      reins.foreach { case (id, v) => live(id) = v }
    }
    assert(live.nonEmpty && nextId > 60)
    // batch rebuild of the model through the SAME assignment expression
    val model = live.toSeq.map { case (id, v) => (id, v) }
      .toDF("vec_id", "embedding")
    val expected = model.select(
        element_at(graft.functions.VectorExprs
          .nearestCentroids(col("embedding"), cents, 1), 1).as("cell"),
        col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector))
      .toSet
    val got = spark.read.format("graft-kv")
      .options(Map("catalog" -> idxCat, "annVec" -> avro)).load()
      .collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("v").toVector))
      .toSet
    assert(got == expected,
      s"maintained inverted file diverged from batch rebuild: " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // the forward mirror must equal the live set too (it feeds retirement)
    val mirror = spark.read.format("graft-kv")
      .options(Map("catalog" -> fwdCat, "annVec" -> avro)).load()
      .collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toVector))
      .toSet
    assert(mirror == live.map { case (id, v) => (id, v.toVector) }.toSet)
  }

  test("sv18: a batch torn between the mirror overwrite and the index insert replays to convergence") {
    // the worst torn window for the retire-BEFORE-mutate discipline: the
    // old index entries are retired and the mirror already holds the new
    // vectors, but the new index entries never landed. The replay's
    // retire probes cells computed from POST-batch vectors — which must
    // all be no-ops — and the re-writes must converge to the batch
    // rebuild (this is the protocol's claim that it needs no as-of reads).
    import graft.queries.StreamBatch
    val suf = "torn18"
    val srcCat = StreamBatch.sv18SrcCatalog.replace("\"kv_ann_src\"", s""""kv_ann_src_$suf"""")
    val fwdCat = StreamBatch.sv18FwdCatalog.replace("\"kv_ann_fwd\"", s""""kv_ann_fwd_$suf"""")
    val idxCat = StreamBatch.sv18IdxCatalog.replace("\"kv_ann_idx\"", s""""kv_ann_idx_$suf"""")
    val avro = StreamBatch.sv18AvroVec
    Seq(s"default:kv_ann_src_$suf", s"default:kv_ann_fwd_$suf",
      s"default:kv_ann_idx_$suf").foreach(graft.store.KvStore.drop)
    val rnd = new scala.util.Random(20260816L)
    val dim = 4
    val cents: Array[Array[Double]] =
      Array.fill(4)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    def vecFor(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    import spark.implicits._
    def put(rows: Seq[(Long, Array[Float])], ts: Long): Unit =
      rows.toDF("vec_id", "embedding").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "annVec" -> avro, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "50"))
        .mode("append").save()
    def del(ids: Seq[Long], ts: Long): Unit =
      ids.toDF("vec_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "annVec" -> avro,
          "delete" -> "true", "timestamp" -> ts.toString))
        .mode("append").save()
    def idxSet(): Set[(Int, Long, Vector[Float])] = spark.read.format("graft-kv")
      .options(Map("catalog" -> idxCat, "annVec" -> avro)).load().collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("v").toVector)).toSet
    val ckpt = java.nio.file.Files.createTempDirectory("graft-torn18-ckpt").toString
    val v = (1L to 6L).map(i => i -> vecFor()).toMap
    val v1b = vecFor()
    // phase 1: vecs 1..5
    put((1L to 5L).map(i => (i, v(i))), ts = 1000)
    StreamBatch.maintainAnnIndex(spark, srcCat, fwdCat, idxCat, cents,
      maxId = 50L, ckpt, phaseStamp = 10)
    // phase 2 (torn): update 1, delete 2, insert 6 — crash at the window
    put(Seq((1L, v1b), (6L, v(6L))), ts = 2000)
    del(Seq(2L), ts = 2001)
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamBatch.maintainAnnIndex(spark, srcCat, fwdCat, idxCat, cents,
        maxId = 50L, ckpt, phaseStamp = 20,
        crashPoint = () => throw new RuntimeException("injected crash"))
    }
    assert(crashed.getMessage.contains("injected crash") ||
      Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
    // TORN state: old entries for 1/2 retired, new entries for 1/6 missing,
    // and the mirror already overwritten — the replay must not trust it
    // for retirement correctness
    val torn = idxSet()
    assert(!torn.exists(_._2 == 2L), "vec 2's old entry must be retired")
    assert(!torn.exists(e => e._2 == 1L && e._3 == v1b.toVector),
      "vec 1's NEW entry must be missing in the torn window")
    val tornMirror = spark.read.format("graft-kv")
      .options(Map("catalog" -> fwdCat, "annVec" -> avro)).load()
      .filter(col("vec_id") === 1L).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toVector)
    assert(tornMirror.toSeq == Seq(v1b.toVector),
      "the mirror must already hold vec 1's new vector (the worst window)")
    // replay: re-drain without the crash — must converge to the rebuild
    StreamBatch.maintainAnnIndex(spark, srcCat, fwdCat, idxCat, cents,
      maxId = 50L, ckpt, phaseStamp = 20)
    val expected = Seq((1L, v1b), (3L, v(3L)), (4L, v(4L)), (5L, v(5L)), (6L, v(6L)))
      .toDF("vec_id", "embedding")
      .select(element_at(graft.functions.VectorExprs
          .nearestCentroids(col("embedding"), cents, 1), 1).as("cell"),
        col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toVector)).toSet
    assert(idxSet() == expected,
      "the replayed batch must converge the inverted file to the batch rebuild")
    Seq(s"default:kv_ann_src_$suf", s"default:kv_ann_fwd_$suf",
      s"default:kv_ann_idx_$suf").foreach(graft.store.KvStore.drop)
  }

  test("sv25: the torn-batch window replays to convergence through the shared core") {
    // the same worst window as sv18's crash spec, driven through
    // maintainIvfPqIndex — pins that the PQ wrapper wires the shared
    // core's crash seam and replay discipline correctly (covered column =
    // codes, codes-table write options), not just the sv18 instantiation
    import graft.queries.StreamBatch
    val suf = "torn25"
    val srcCat = StreamBatch.sv25SrcCatalog.replace("\"kv_ivfpq_src\"", s""""kv_ivfpq_src_$suf"""")
    val fwdCat = StreamBatch.sv25FwdCatalog.replace("\"kv_ivfpq_fwd\"", s""""kv_ivfpq_fwd_$suf"""")
    val codesCat = StreamBatch.sv25CodesCatalog.replace("\"kv_ivfpq_live\"", s""""kv_ivfpq_live_$suf"""")
    Seq(s"default:kv_ivfpq_src_$suf", s"default:kv_ivfpq_fwd_$suf",
      s"default:kv_ivfpq_live_$suf").foreach(KvStore.drop)
    val rnd = new scala.util.Random(20260817L)
    val dim = 4
    val cents: Array[Array[Double]] =
      Array.fill(4)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val books: Array[Array[Array[Double]]] =
      Array.fill(2)(Array.fill(3)(Array.fill(2)(rnd.nextDouble() * 2 - 1)))
    def vecFor(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
    import spark.implicits._
    def put(rows: Seq[(Long, Array[Float])], ts: Long): Unit =
      rows.toDF("vec_id", "embedding").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "annVec" -> StreamBatch.sv18AvroVec,
          "newtable" -> "4", "timestamp" -> ts.toString,
          "minSplitNum" -> "0", "maxSplitNum" -> "50"))
        .mode("append").save()
    def del(ids: Seq[Long], ts: Long): Unit =
      ids.toDF("vec_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "annVec" -> StreamBatch.sv18AvroVec,
          "delete" -> "true", "timestamp" -> ts.toString))
        .mode("append").save()
    def codeSet(): Set[(Int, Long, Seq[Int])] = spark.read.format("graft-kv")
      .options(Map("catalog" -> codesCat, "pqCodes" -> StreamBatch.sv20AvroCodes))
      .load().collect()
      .map(r => (r.getAs[Int]("cell"), r.getAs[Long]("vec_id"),
        r.getSeq[Int](r.fieldIndex("codes")))).toSet
    val ckpt = java.nio.file.Files.createTempDirectory("graft-torn25-ckpt").toString
    val v = (1L to 6L).map(i => i -> vecFor()).toMap
    val v1b = vecFor()
    put((1L to 5L).map(i => (i, v(i))), ts = 1000)
    StreamBatch.maintainIvfPqIndex(spark, srcCat, fwdCat, codesCat, cents,
      books, maxId = 50L, ckpt, phaseStamp = 10)
    // torn batch: update 1, delete 2, insert 6 — crash at the worst window
    put(Seq((1L, v1b), (6L, v(6L))), ts = 2000)
    del(Seq(2L), ts = 2001)
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamBatch.maintainIvfPqIndex(spark, srcCat, fwdCat, codesCat, cents,
        books, maxId = 50L, ckpt, phaseStamp = 20,
        crashPoint = () => throw new RuntimeException("injected crash"))
    }
    assert(crashed.getMessage.contains("injected crash") ||
      Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
    assert(!codeSet().exists(_._2 == 2L), "vec 2's old row must be retired")
    // replay without the crash — must converge to the batch rebuild
    StreamBatch.maintainIvfPqIndex(spark, srcCat, fwdCat, codesCat, cents,
      books, maxId = 50L, ckpt, phaseStamp = 20)
    val expected = Seq((1L, v1b), (3L, v(3L)), (4L, v(4L)), (5L, v(5L)), (6L, v(6L)))
      .toDF("vec_id", "embedding")
      .select(element_at(graft.functions.VectorExprs
          .nearestCentroids(col("embedding"), cents, 1), 1).as("cell"),
        col("vec_id"),
        graft.pipeline.Similarity.pqCodes(col("embedding"), books).as("codes"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Int](2))).toSet
    assert(codeSet() == expected,
      "the replayed batch must converge the code table to the batch rebuild")
    Seq(s"default:kv_ivfpq_src_$suf", s"default:kv_ivfpq_fwd_$suf",
      s"default:kv_ivfpq_live_$suf").foreach(KvStore.drop)
  }

  test("ANN maintenance survives a store crash-restart via WAL replay mid-sequence") {
    // INTEGRATION of the two recovery layers under the maintenance
    // protocol: the streaming checkpoint (file-backed) and the store's WAL
    // must agree after a crash — replay reconstructs the source table, the
    // forward mirror, the inverted file AND the per-region maxStamp marks
    // the checkpointed CDC offsets point into, so maintenance resumed on
    // the rebuilt store neither re-applies history nor loses the mirror
    // state its retirement step depends on.
    import graft.queries.StreamBatch
    val suf = "waltest"
    val srcCat = StreamBatch.sv18SrcCatalog.replace("\"kv_ann_src\"", s""""kv_ann_src_$suf"""")
    val fwdCat = StreamBatch.sv18FwdCatalog.replace("\"kv_ann_fwd\"", s""""kv_ann_fwd_$suf"""")
    val idxCat = StreamBatch.sv18IdxCatalog.replace("\"kv_ann_idx\"", s""""kv_ann_idx_$suf"""")
    val avro = StreamBatch.sv18AvroVec
    Seq(s"default:kv_ann_src_$suf", s"default:kv_ann_fwd_$suf",
      s"default:kv_ann_idx_$suf").foreach(KvStore.drop)
    val dim = 4
    val cents: Array[Array[Double]] = Array(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0),
      Array(0.0, 0.0, 1.0, 0.0), Array(0.0, 0.0, 0.0, 1.0))
    // unit-basis centroids: a vector's cell is just its argmax axis
    def axisVec(axis: Int, mag: Float): Array[Float] = {
      val v = Array.fill(dim)(0.1f); v(axis) = mag; v
    }
    import spark.implicits._
    def put(rows: Seq[(Long, Array[Float])], ts: Long): Unit =
      rows.toDF("vec_id", "embedding").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "annVec" -> avro, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    def del(ids: Seq[Long], ts: Long): Unit =
      ids.toDF("vec_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "annVec" -> avro,
          "delete" -> "true", "timestamp" -> ts.toString))
        .mode("append").save()
    val ckpt = Files.createTempDirectory("graft-annwal-ckpt").toString
    val walDir = Files.createTempDirectory("graft-annwal-log")
    KvStore.enableWal(walDir)
    try {
      // phase 1: ids 0..9 on axis id%4
      put((0L to 9L).map(i => (i, axisVec((i % 4).toInt, 1.0f))), ts = 1000)
      StreamBatch.maintainAnnIndex(spark, srcCat, fwdCat, idxCat, cents,
        maxId = 100L, ckpt, phaseStamp = 10)
      // phase 2: ids 0..3 MOVE to axis (id+1)%4 (re-keying); ids 8..9 deleted
      put((0L to 3L).map(i => (i, axisVec(((i + 1) % 4).toInt, 1.0f))), ts = 2000)
      del(Seq(8L, 9L), ts = 2001)
      StreamBatch.maintainAnnIndex(spark, srcCat, fwdCat, idxCat, cents,
        maxId = 100L, ckpt, phaseStamp = 20)

      // CRASH: rebuild the whole store (src + mirror + index + offsets'
      // maxStamp marks) from the log; the checkpoint dir survives as-is
      KvStore.disableWal()
      KvStore.replayWal(walDir)

      // phase 3 on the REBUILT store: id 0 moves again, id 8 resurrects,
      // id 4 deleted — retirement must read the replayed mirror correctly
      put(Seq((0L, axisVec(3, 1.0f)), (8L, axisVec(2, 1.0f))), ts = 3000)
      del(Seq(4L), ts = 3001)
      StreamBatch.maintainAnnIndex(spark, srcCat, fwdCat, idxCat, cents,
        maxId = 100L, ckpt, phaseStamp = 30)

      // expected live state after all three phases
      val live: Map[Long, Int] = Map(
        0L -> 3, 1L -> 2, 2L -> 3, 3L -> 0, // moved in phase 2 (0 again in 3)
        5L -> 1, 6L -> 2, 7L -> 3,          // untouched since phase 1
        8L -> 2)                            // deleted, then resurrected
      val got = spark.read.format("graft-kv")
        .options(Map("catalog" -> idxCat, "annVec" -> avro)).load()
        .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("cell"))
      assert(got.length == live.size,
        s"index has ${got.length} entries, expected ${live.size}: ${got.sortBy(_._1).mkString(",")}")
      assert(got.toMap == live)
      val mirrorIds = spark.read.format("graft-kv")
        .options(Map("catalog" -> fwdCat, "annVec" -> avro)).load()
        .collect().map(_.getAs[Long]("vec_id")).toSet
      assert(mirrorIds == live.keySet)
    } finally {
      KvStore.disableWal()
      Seq(s"default:kv_ann_src_$suf", s"default:kv_ann_fwd_$suf",
        s"default:kv_ann_idx_$suf").foreach(KvStore.drop)
    }
  }

  test("sv20 maintained PQ code table answers exactly like the batch PQ search") {
    // the whole contract: streaming maintenance of the compression must
    // not change what the search returns — same codebooks, same
    // reconstruction values, bit-for-bit equal rows (px56 and sv20 also
    // share one rendered oracle in the driver gate)
    val streamed = graft.queries.StreamBatch
      .queries("sv20_stream_pq_codes")(spark, sfDir).collect().map(_.toString).toSeq
    val batch = graft.queries.Pipeline
      .queries("px56_pq_ann")(spark, sfDir).collect().map(_.toString).toSeq
    assert(streamed == batch,
      s"maintained-code search diverged from the batch PQ search: " +
        s"${streamed.take(2)} vs ${batch.take(2)}")
  }

  test("decontamination protocol tokenizes the eval side ONCE per stream, not per batch") {
    // the sv19 cost-model pin: contamEvalGrams materializes the exploded
    // eval gram frame eagerly (lineage-truncating localCheckpoint), so a
    // multi-wave drain sequence must never re-run the eval-side tokenize.
    // A counting UDF on the eval text column is the witness: its
    // accumulator moves during the one materialization and stays frozen
    // across every subsequent micro-batch.
    import graft.queries.StreamBatch
    val suf = "tokonce"
    val srcCat = StreamBatch.sv19SrcCatalog.replace("\"kv_ctm_src\"", s""""kv_ctm_src_$suf"""")
    val mirCat = StreamBatch.sv19MirCatalog.replace("\"kv_ctm_mirror\"", s""""kv_ctm_mirror_$suf"""")
    Seq(s"default:kv_ctm_src_$suf", s"default:kv_ctm_mirror_$suf").foreach(KvStore.drop)
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("evalTokenizePasses")
    val counted = udf { (t: String) => acc.add(1L); t }.asNondeterministic()
    val evalDocs = Seq(
      (1000L, "red green blue"), (1001L, "cat dog chased the mouse"))
      .toDF("doc_id", "text").withColumn("text", counted(col("text")))
    val evalG = StreamBatch.contamEvalGrams(evalDocs, n = 2)
    val passesAfterHoist = acc.value.longValue
    assert(passesAfterHoist > 0L, "the hoist must materialize the gram frame eagerly")
    def putDocs(rows: Seq[(Long, String)], ts: Long): Unit =
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    val ckpt = Files.createTempDirectory("graft-ctmtok-ckpt").toString
    (1 to 3).foreach { wave =>
      putDocs(Seq((wave.toLong, s"red green wave$wave"),
        (10L + wave, s"cat dog wave$wave")), ts = 1000L * wave)
      StreamBatch.maintainContamMirror(spark, srcCat, mirCat, evalG,
        maxId = 100L, ckpt, phaseStamp = 10L * wave, n = 2)
    }
    assert(acc.value.longValue == passesAfterHoist,
      s"eval side re-tokenized inside the micro-batch loop: " +
        s"$passesAfterHoist passes before the stream, ${acc.value} after")
    // and the mirror is actually maintained (the frozen counter is not a
    // sign the protocol silently did nothing)
    val pairs = spark.read.format("graft-kv").option("catalog", mirCat).load()
      .collect().map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id")))
      .toSet
    assert(pairs == (1 to 3).flatMap(w =>
      Seq((w.toLong, 1000L), (10L + w, 1001L))).toSet, s"got $pairs")
    evalG.unpersist()
    Seq(s"default:kv_ctm_src_$suf", s"default:kv_ctm_mirror_$suf").foreach(KvStore.drop)
  }

  test("sv19 releases its eval-gram frame when the run throws") {
    // a regular FILE as the working-dir base: sv19's checkpoint dir cannot
    // be created, so the run throws after the eval grams are materialized
    import graft.queries.StreamBatch
    val notADir = Files.createTempFile("graft-sv19-notadir", "")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    spark.conf.set("graft.stream.tmpBase", notADir.toString)
    try intercept[java.io.IOException](StreamBatch.sv19StreamDecontam(spark, sfDir))
    finally {
      spark.conf.unset("graft.stream.tmpBase")
      Files.deleteIfExists(notADir)
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"a throwing sv19 left persisted RDDs $left behind")
  }

  test("decontamination crash between deletes-at-T and puts-at-T+1 converges on checkpoint resume") {
    // the deletes-at-T / puts-at-T+1 stamp convention's hazard window: a
    // batch that crashed AFTER retiring a doc's old pairs but BEFORE
    // landing its fresh ones replays wholesale on resume. The replayed
    // retirement re-reads a mirror whose touched pairs are already
    // tombstoned (it must not double-retire into a later stamp), and the
    // re-put of a KEPT pair must land above its own tombstone. Includes
    // the exact re-put case: doc 1's update keeps pair (1,1000).
    import graft.queries.StreamBatch
    val suf = "crash"
    val srcCat = StreamBatch.sv19SrcCatalog.replace("\"kv_ctm_src\"", s""""kv_ctm_src_$suf"""")
    val mirCat = StreamBatch.sv19MirCatalog.replace("\"kv_ctm_mirror\"", s""""kv_ctm_mirror_$suf"""")
    Seq(s"default:kv_ctm_src_$suf", s"default:kv_ctm_mirror_$suf").foreach(KvStore.drop)
    import spark.implicits._
    val evalDocs = Seq(
      (1000L, "red green blue"), (1001L, "cat dog chased the mouse"))
      .toDF("doc_id", "text")
    val evalG = StreamBatch.contamEvalGrams(evalDocs, n = 2)
    def putDocs(rows: Seq[(Long, String)], ts: Long): Unit =
      rows.toDF("doc_id", "text").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "newtable" -> "4",
          "timestamp" -> ts.toString, "minSplitNum" -> "0", "maxSplitNum" -> "100"))
        .mode("append").save()
    def delDocs(ids: Seq[Long], ts: Long): Unit =
      ids.toDF("doc_id").write.format("graft-kv")
        .options(Map("catalog" -> srcCat, "delete" -> "true",
          "timestamp" -> ts.toString))
        .mode("append").save()
    val ckpt = Files.createTempDirectory("graft-ctmcrash-ckpt").toString
    // wave 1: three docs; (1,1000) and (2,1001) become mirror pairs
    putDocs(Seq((1L, "red green yellow"), (2L, "cat dog bird"),
      (3L, "nothing shared here")), ts = 1000)
    StreamBatch.maintainContamMirror(spark, srcCat, mirCat, evalG,
      maxId = 100L, ckpt, phaseStamp = 10, n = 2)
    // wave 2: doc 1 updates and KEEPS its pair (stronger overlap), doc 2
    // dies, doc 4 arrives with a fresh pair
    putDocs(Seq((1L, "red green blue"), (4L, "cat dog")), ts = 2000)
    delDocs(Seq(2L), ts = 2001)
    val crashed = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamBatch.maintainContamMirror(spark, srcCat, mirCat, evalG,
        maxId = 100L, ckpt, phaseStamp = 20, n = 2,
        crashPoint = () => throw new RuntimeException("injected crash"))
    }
    assert(crashed.getMessage.contains("injected crash") ||
      Option(crashed.getCause).exists(_.getMessage.contains("injected crash")))
    // mid-crash state: the touched docs' old pairs are retired, nothing
    // fresh landed — the exact torn write the convention must absorb
    val torn = spark.read.format("graft-kv").option("catalog", mirCat).load()
      .collect().map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id")))
      .toSet
    assert(!torn.contains((1L, 1000L)) && !torn.contains((2L, 1001L)),
      s"retirement must have landed before the crash, got $torn")
    // resume from the SAME checkpoint: the batch replays wholesale
    StreamBatch.maintainContamMirror(spark, srcCat, mirCat, evalG,
      maxId = 100L, ckpt, phaseStamp = 20, n = 2)
    val got = spark.read.format("graft-kv").option("catalog", mirCat).load()
      .collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id"),
        r.getAs[Long]("n_shared")))
      .toSet
    // oracle: batch contamination over the live corpus's final state
    val live = Seq((1L, "red green blue"), (3L, "nothing shared here"),
      (4L, "cat dog")).toDF("doc_id", "text")
    val expected = graft.pipeline.Dedup.contamination(live,
        evalDocs, "doc_id", "text", n = 2, minShared = 1)
      .collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("eval_id"),
        r.getAs[Long]("n_shared")))
      .toSet
    assert(got == expected,
      s"resumed mirror diverged from the batch oracle: got $got, want $expected")
    assert(got.contains((1L, 1000L, 2L)),
      "the kept pair must survive its own retirement tombstone (re-put at T+1)")
    evalG.unpersist()
    Seq(s"default:kv_ctm_src_$suf", s"default:kv_ctm_mirror_$suf").foreach(KvStore.drop)
  }

  test("an sv entry deletes every working dir it made; its answer outlives them") {
    import graft.queries.StreamBatch
    val entries = Seq("sv11_stream_cdc_tombstones", "sv15_stream_cdc_lakehouse",
      "sv17_stream_mixture_stats", "sv24_stream_join_agg")
    val base = Files.createTempDirectory("graft-entry-tmp")
    val direct = Files.createTempDirectory("graft-direct-tmp")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    try {
      spark.conf.set("graft.stream.tmpBase", base.toString)
      // collected only after the entry returned, i.e. after its dirs went
      val viaEntry = entries.map(q => rows(StreamBatch.queries(q)(spark, sfDir)))
      val left = Files.list(base)
      try assert(!left.iterator().hasNext, "an sv entry left working dirs behind")
      finally left.close()
      // the same computations, unwrapped, with their working dirs kept
      spark.conf.set("graft.stream.tmpBase", direct.toString)
      val unwrapped = Seq[(org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame](
        StreamBatch.sv11StreamCdcTombstones, StreamBatch.sv15StreamCdcLakehouse,
        StreamBatch.sv17StreamMixtureStats, StreamBatch.sv24StreamJoinAgg)
        .map(f => rows(f(spark, sfDir)))
      entries.zip(viaEntry.zip(unwrapped)).foreach { case (q, (got, want)) =>
        assert(got.nonEmpty && got == want, s"$q: entry answer differs from the unwrapped run")
      }
    } finally {
      spark.conf.unset("graft.stream.tmpBase")
      Seq(base, direct).foreach(GraftStreaming.deleteTree)
    }
  }

  test("graft.stream.ckptChecksum: stream checkpoints carry Spark .crc files only when true") {
    // Spark's checkpoint checksums (a `<file>.crc` beside each state-store
    // file — one extra create+fsync and one extra read per file) are off by
    // default; the opt-in must still turn them on, and each stream run
    // restores the session's own checksum setting. Hadoop's local-FS
    // `.<file>.crc` companions are written either way and do not count.
    import graft.queries.StreamBatch
    import scala.jdk.CollectionConverters._
    val checksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    def sparkCrcFiles(optIn: Boolean): Seq[String] = {
      val base = Files.createTempDirectory("graft-crc-tmp")
      spark.conf.set("graft.stream.tmpBase", base.toString)
      if (optIn) spark.conf.set("graft.stream.ckptChecksum", "true")
      val before = spark.conf.getAll.get(checksumKey)
      // sv1's dedup keeps state, so its checkpoint has state-store files
      try StreamBatch.sv1StreamDedup(spark, sfDir).count()
      finally Seq("graft.stream.ckptChecksum", "graft.stream.tmpBase").foreach(spark.conf.unset)
      assert(spark.conf.getAll.get(checksumKey) == before,
        "a stream run must restore the session's checksum setting")
      val st = Files.walk(base)
      try {
        val files = st.iterator().asScala.toSeq.map(_.getFileName.toString)
        assert(files.exists(_.endsWith(".delta")), s"the stream kept no state: $files")
        files.filter(f => f.endsWith(".crc") && !f.startsWith("."))
      } finally {
        st.close()
        GraftStreaming.deleteTree(base)
      }
    }
    val off = sparkCrcFiles(optIn = false)
    assert(off.isEmpty, s"the default wrote checkpoint checksum files: $off")
    assert(sparkCrcFiles(optIn = true).nonEmpty,
      "graft.stream.ckptChecksum=true must write checkpoint checksum files")
  }
}
