package graft.streaming

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Structured Streaming surface. The reference has NO streaming layer
  * (SURVEY.md §2.5: verified absent), so this is a beyond-reference
  * extension: a graft-kv streaming sink (idempotent per-batch writes keyed
  * by row key — at-least-once delivery collapses to effective exactly-once
  * because puts are idempotent upserts by (key, cf, qual, ts)), the
  * streaming twin of the batch windowed aggregation, watermarked dedup,
  * stateful sessionization (flatMapGroupsWithState), a watermark-bounded
  * stream-stream interval self-join, and stream-static enrichment against
  * a graft-kv dimension (sv1..sv5 run these through the batch gate).
  */
object GraftStreaming {

  /** Attach the NATIVE graft-kv streaming sink (DSv2 STREAMING_WRITE,
    * [[graft.datasource.GraftStreamingWrite]]) to a streaming DataFrame.
    * First-class `writeStream.format("graft-kv")` — no foreachBatch
    * detour: micro-batch tasks run the same row→put encoder as batch
    * writes, and idempotent upserts make epoch replays converge to
    * exactly-once table contents. `options` must carry the catalog.
    * Unlike foreachBatch, a real sink requires a checkpointLocation; when
    * the caller doesn't pass one, a throwaway [[tempWorkDir]] is used —
    * fine for ephemeral runs, but durable restart/recovery needs a real
    * path. */
  def kvSink(stream: DataFrame, options: Map[String, String]): DataStreamWriter[Row] = {
    val w = stream.writeStream.format("graft-kv").options(options)
    // DataStreamWriter option keys are case-insensitive — match that, or a
    // caller passing "checkpointlocation" would have their durable
    // checkpoint silently shadowed by the throwaway temp dir
    if (options.keys.exists(_.equalsIgnoreCase("checkpointLocation"))) w
    else w.option("checkpointLocation",
      tempWorkDir(stream.sparkSession, "graft-kv-sink-ckpt").toString)
  }

  /** Watermarked 5-minute tumbling-window count/sum per event type —
    * the streaming twin of queries.Events.ev1WindowAgg. State is bounded
    * by the watermark; partial aggregation runs before the shuffle exactly
    * as in batch. */
  def windowedEventAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.queries.Relational.microUnits(sum(col("value").cast("decimal(18,6)")))
          .as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Incremental mixture-statistics DELTAS over a CDC doc stream — the
    * streaming materialized-view shape: a per-document
    * `flatMapGroupsWithState` remembers each doc's last (source, token
    * count) and emits the corrective deltas (±1 doc, ±Δ tokens, and a
    * −old/+new pair when a doc changes source), so a plain SUM over the
    * emitted delta log always equals the batch statistics over the CURRENT
    * corpus — without ever rescanning it. A naive streaming groupBy-sum
    * over upsert CDC would double-count every re-emitted doc; the delta
    * state is what makes CDC aggregation correct.
    *
    * Scale shape: state is one (string, long, long) per live document,
    * keyed by the CDC row key; deltas are append-only and O(changed docs)
    * per batch (exactly-once through the file sink), and the final read
    * aggregates a delta log that is tiny relative to the corpus. Input:
    * (doc_id, source, text[, _cell_ts]); output: (source, d_docs,
    * d_tokens).
    *
    * Version ordering: Spark guarantees NO value order within a
    * flatMapGroupsWithState group, and a catch-up batch (or a generic
    * non-kv source) can carry several versions of one doc in a single
    * micro-batch — so the fold must not depend on iterator order. When
    * the input carries the CDC stamp (`_cell_ts`, a REAL column under the
    * kv source's `tombstones=true` read option), each group reduces to
    * its MAX-STAMP version before diffing against state, and state
    * remembers the stamp so a stale replay (older stamp than state) is
    * ignored instead of regressing the view — delta-sum == current corpus
    * stats regardless of arrival order. Without a stamp column every
    * version ties at stamp 0 and the reduction keeps an arbitrary one:
    * callers must then deliver at most one version per key per batch.
    *
    * Deletes: a `_deleted=true` row (the `tombstones=true` option emits
    * them with null value columns) is a RETRACTION — the doc's current
    * contribution is withdrawn (−1 doc, −tokens) and its state keeps only
    * a dead marker (the stamp survives, so a stale replay of an older
    * live version cannot resurrect the doc). Without a `_deleted` column
    * every row is an upsert. */
  def mixtureDeltaStream(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val sp = docs.sparkSession
    import sp.implicits._
    val stamp =
      if (docs.columns.contains(graft.datasource.GraftTable.CellTsColumn))
        col(graft.datasource.GraftTable.CellTsColumn).cast("long")
      else lit(0L)
    val deleted =
      if (docs.columns.contains(graft.datasource.GraftTable.DeletedColumn))
        col(graft.datasource.GraftTable.DeletedColumn)
      else lit(false)
    val typed = docs.select(col("doc_id").cast("long"), col("source"),
        // null text (a tombstone's value columns, or a null-text doc)
        // counts 0 tokens instead of null-crashing the primitive encoder
        coalesce(graft.pipeline.TextOps.tokenCount(col("text")).cast("long"), lit(0L)),
        coalesce(stamp, lit(0L)), coalesce(deleted, lit(false)))
      .as[(Long, String, Long, Long, Boolean)]
    // state: (source, tokens, stamp, alive) — dead markers keep the stamp
    // so late replays of pre-delete versions are ignored, the tombstone-
    // retention analogue of the store's own delete markers
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, rows: Iterator[(Long, String, Long, Long, Boolean)],
            state: GroupState[(String, Long, Long, Boolean)]) => {
          // order-independent: only the batch's NEWEST version of the doc
          // is diffed against state (intermediate versions cancel out of
          // the delta algebra anyway)
          val (_, src, n, ts, dead) = rows.maxBy(_._4)
          val prev = if (state.exists) Some(state.get) else None
          val out: Iterator[(String, Long, Long)] = prev match {
            case Some((_, _, pts, _)) if ts < pts =>
              Iterator.empty // stale replay — never regress
            case Some((psrc, pn, _, palive)) if dead =>
              state.update((psrc, 0L, ts, false))
              if (palive) Iterator.single((psrc, -1L, -pn)) else Iterator.empty
            case None if dead =>
              state.update((null, 0L, ts, false)) // delete of an unseen doc
              Iterator.empty
            case Some((psrc, pn, _, palive)) =>
              state.update((src, n, ts, true))
              if (!palive) Iterator.single((src, 1L, n)) // re-insert after delete
              else if (psrc == src) {
                if (n != pn) Iterator.single((src, 0L, n - pn))
                else Iterator.empty
              } else Iterator((psrc, -1L, -pn), (src, 1L, n))
            case None =>
              state.update((src, n, ts, true))
              Iterator.single((src, 1L, n))
          }
          out
        })
      .toDF("source", "d_docs", "d_tokens")
  }

  /** Streaming OHLC bars — [[graft.queries.Events.ev12Ohlc]]'s twin: the
    * same one-aggregate bar (open/close via min_by/max_by on the
    * zero-padded total-order key, exact micro-units) under a watermark.
    * State is one row per open (type, hour) bar; append mode emits each
    * bar exactly once when the watermark closes its window. */
  def ohlcStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val vMicro = graft.queries.Events.valueMicro // ONE definition with ev12
    // width-guarded total-order key (see Events.ohlcOrdKey: lpad truncates
    // over-wide inputs, which would tie-break open/close arbitrarily)
    val ordKey = graft.queries.Events.ohlcOrdKey
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"), vMicro.as("v"), ordKey.as("ord"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        min_by(col("v"), col("ord")).as("open"),
        max(col("v")).as("high"),
        min(col("v")).as("low"),
        max_by(col("v"), col("ord")).as("close"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"),
        col("open"), col("high"), col("low"), col("close"))
  }

  /** Stream-stream INTERVAL self-join: each left-type event (default
    * purchase) joins the same user's right-type events (default click) from
    * the preceding `withinSec` window. Both sides carry watermarks and the
    * join condition bounds event-time distance, so Spark can evict join
    * state once the watermark passes — state stays proportional to the
    * window, not the stream (the unbounded-state hazard of an
    * unconstrained stream-stream join). Inner-join matches emit in the
    * micro-batch where both sides are present; the watermark governs only
    * eviction, so a finite AvailableNow run emits every match. */
  def intervalJoinStream(events: DataFrame, leftType: String = "purchase",
      rightType: String = "click", withinSec: Long = 600,
      watermark: String = "10 minutes"): DataFrame = {
    val l = events.filter(col("event_type") === leftType)
      .select(col("event_id").as("l_id"), col("user_id").as("l_user"),
        col("ts").as("l_ts"))
      .withWatermark("l_ts", watermark)
    val r = events.filter(col("event_type") === rightType)
      .select(col("event_id").as("r_id"), col("user_id").as("r_user"),
        col("ts").as("r_ts"))
      .withWatermark("r_ts", watermark)
    l.join(r, col("l_user") === col("r_user") &&
      col("r_ts") >= col("l_ts") - expr(s"INTERVAL $withinSec SECONDS") &&
      col("r_ts") <= col("l_ts"))
  }

  /** Per-user running session state for [[sessionizeStream]]. */
  case class SessionState(lastTsSec: Long, nSessions: Long, nEvents: Long)

  /** Per-user output row emitted on every update. */
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Stateful streaming sessionization — the streaming twin of
    * queries.Events.ev2Sessionize, built on
    * `KeyValueGroupedDataset.flatMapGroupsWithState`: a new session starts
    * when a user is idle > `gapSec`. State per key is three longs, bounded
    * by the user cardinality; each micro-batch folds its events in
    * timestamp order. CONTRACT: per-key delivery must be in event-time
    * order ACROSS batches (true for a time-ordered source like an
    * append-only event log; within a batch any order is fine). Late events
    * that arrive behind the key's clock are counted into n_events but never
    * rewind the clock or open a session — the counts stay monotone instead
    * of silently corrupting. Emits the running (user_id, n_sessions,
    * n_events) after every batch (update mode). */
  def sessionizeStream(events: DataFrame, gapSec: Long = 1800): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("user_id").cast("long"), col("ts").cast("long").as("ts_sec"),
        col("event_id").cast("long"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var s = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { case (_, ts, _) =>
            val late = s.lastTsSec != Long.MinValue && ts < s.lastTsSec
            val newSession = !late &&
              (s.lastTsSec == Long.MinValue || ts - s.lastTsSec > gapSec)
            s = SessionState(math.max(ts, s.lastTsSec),
              s.nSessions + (if (newSession) 1 else 0), s.nEvents + 1)
          }
          state.update(s)
          Iterator.single(UserSessions(user, s.nSessions, s.nEvents))
      }
      .toDF()
  }

  /** Per-user rolling-anomaly state for [[anomalyStream]]: the last ≤ 20
    * micro-unit values (event-time order) plus monotone counters. */
  case class AnomState(window: List[Long], nEvents: Long, nScored: Long,
      nAnomalies: Long)

  /** Per-user output row emitted on every update. */
  case class UserAnomalies(user_id: Long, n_events: Long, n_scored: Long,
      n_anomalies: Long)

  /** Stateful streaming rolling z-score anomaly detection — the streaming
    * twin of queries.Events.ev7Anomaly, on `flatMapGroupsWithState`. Each
    * user's state is the last ≤ 20 micro-unit values; an incoming value
    * with n ≥ 10 predecessors is scored with the SAME 128-bit integer test
    * the batch query uses — (v·n − Σv)² > 9·(n·Σv² − (Σv)²), BigInt here,
    * decimal(38,0)/HUGEINT there — so streamed counts equal the batch
    * counts bit for bit. Micro-units come from the same HALF_UP scale-6
    * rounding Spark's double→decimal(18,6) cast applies. State per key is
    * 20 longs + 3 counters, bounded by user cardinality; the same
    * cross-batch event-time-order contract as [[sessionizeStream]]
    * applies (within a batch, events fold in (ts, event_id) order). */
  def anomalyStream(events: DataFrame, lookback: Int = 20, minN: Int = 10): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[AnomState, UserAnomalies](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[AnomState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var s = state.getOption.getOrElse(AnomState(Nil, 0L, 0L, 0L))
          sorted.foreach { case (_, _, _, value) =>
            val v = java.math.BigDecimal.valueOf(value)
              .setScale(6, java.math.RoundingMode.HALF_UP)
              .movePointRight(6).longValueExact()
            val n = s.window.length
            val (scored, anom) =
              if (n < minN) (false, false)
              else {
                val sm = s.window.foldLeft(BigInt(0))(_ + _)
                val q = s.window.foldLeft(BigInt(0))((a, x) => a + BigInt(x) * x)
                val dev = BigInt(v) * n - sm
                (true, dev * dev > 9 * (BigInt(n) * q - sm * sm))
              }
            s = AnomState((s.window :+ v).takeRight(lookback),
              s.nEvents + 1, s.nScored + (if (scored) 1 else 0),
              s.nAnomalies + (if (anom) 1 else 0))
          }
          state.update(s)
          Iterator.single(UserAnomalies(user, s.nEvents, s.nScored, s.nAnomalies))
      }
      .toDF()
  }

  /** Per-user funnel state for [[funnelStream]]: the first qualifying
    * timestamp (epoch micros) of each stage, Long.MinValue = not reached. */
  case class FunnelState(tsView: Long, tsClick: Long, tsPurchase: Long)

  /** Per-user output row emitted on every update. */
  case class UserFunnel(user_id: Long, funnel_stage: Int, tv_us: Option[Long],
      tc_us: Option[Long], tp_us: Option[Long])

  /** Stateful streaming ordered-funnel analysis — the streaming twin of
    * queries.Events.ev8Funnel, on `flatMapGroupsWithState`. Per user the
    * state is three epoch-micros stamps, each set AT MOST ONCE: the first
    * view, the first click strictly after that view, the first purchase
    * strictly after that click — under the same cross-batch event-time-
    * order contract as [[sessionizeStream]], the first qualifying event IS
    * the batch query's `min(ts WHERE ts > prev stage)`, so streamed stages
    * equal the batch funnel exactly. Timestamps compare as exact integer
    * micros — no float anywhere. State per key is three longs, bounded by
    * user cardinality; emits the running (user_id, stage 0-3, stamps)
    * after every batch (update mode — stage and stamps are monotone, so
    * the per-user max at the gate is the final state). */
  def funnelStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val Unset = Long.MinValue
    val typed = events
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, UserFunnel](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var s = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset))
          sorted.foreach { case (_, ts, _, etype) =>
            etype match {
              case "view" if s.tsView == Unset => s = s.copy(tsView = ts)
              case "click" if s.tsClick == Unset && s.tsView != Unset &&
                ts > s.tsView => s = s.copy(tsClick = ts)
              case "purchase" if s.tsPurchase == Unset && s.tsClick != Unset &&
                ts > s.tsClick => s = s.copy(tsPurchase = ts)
              case _ =>
            }
          }
          state.update(s)
          val stage = if (s.tsPurchase != Unset) 3
            else if (s.tsClick != Unset) 2
            else if (s.tsView != Unset) 1 else 0
          def opt(v: Long): Option[Long] = if (v == Unset) None else Some(v)
          Iterator.single(UserFunnel(user, stage,
            opt(s.tsView), opt(s.tsClick), opt(s.tsPurchase)))
      }
      .toDF()
  }

  /** Per-user transition state for [[transitionStream]]: the chain clock
    * (last ts/id/type) plus the monotone per-pair counts, keyed
    * "from\tto" (event types never contain tabs). State is bounded by
    * |event types|² per user. */
  case class TransState(lastTs: Long, lastId: Long, lastType: String,
      counts: Map[String, Long])

  /** Per-user per-pair output row emitted on every update. */
  case class UserTransitions(user_id: Long, from_type: String,
      to_type: String, n: Long)

  /** Stateful streaming event-type transition counting — the streaming twin
    * of queries.Events.ev11Transitions, on `flatMapGroupsWithState`. Each
    * user's state is the last event in chain order plus the per-(from,to)
    * counts; each batch folds its events in (ts, event_id) order and emits
    * the user's full count map (update mode; counts are monotone, so
    * max-per-key downstream is the final state). The same cross-batch
    * event-time-order contract as [[sessionizeStream]] applies; an event
    * arriving BEHIND the key's chain clock never rewinds the chain — it is
    * excluded from transition counting rather than fabricating an
    * out-of-order pair. */
  def transitionStream(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val typed = events
      .select(col("user_id").cast("long"), unix_micros(col("ts")),
        col("event_id").cast("long"), col("event_type"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[TransState, UserTransitions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, String)],
            state: GroupState[TransState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var s = state.getOption.getOrElse(TransState(Long.MinValue, 0L, null, Map.empty))
          sorted.foreach { case (_, ts, id, et) =>
            val late = s.lastType != null &&
              (ts < s.lastTs || (ts == s.lastTs && id < s.lastId))
            if (!late) {
              val counts =
                if (s.lastType == null) s.counts
                else {
                  val k = s.lastType + "\t" + et
                  s.counts.updated(k, s.counts.getOrElse(k, 0L) + 1L)
                }
              s = TransState(ts, id, et, counts)
            }
          }
          state.update(s)
          s.counts.iterator.map { case (k, n) =>
            val sep = k.indexOf('\t')
            UserTransitions(user, k.substring(0, sep), k.substring(sep + 1), n)
          }
      }
      .toDF()
  }

  /** Streaming exact deduplication — the streaming twin of Dedup.exact:
    * `dropDuplicatesWithinWatermark` keeps the first row per key and
    * EVICTS a key's state once the watermark passes its horizon, so state
    * is bounded by keys active within the horizon, not by stream length.
    * (Plain `dropDuplicates(keys)` without the event-time column among the
    * keys never evicts — Spark only cleans dedup state when the watermark
    * column is part of the dedup key — so a high-cardinality key stream
    * would grow state forever.) The horizon is also the dedup guarantee:
    * duplicates farther apart than the watermark may re-emit — exact
    * global dedup over unbounded time is the batch operator's job. */
  def dedupStream(stream: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Run a streaming query until all currently-available source data is
    * processed, then stop. */
  def runOnce(writer: DataStreamWriter[Row]): StreamingQuery = {
    val q = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** A fresh ephemeral working dir (streaming checkpoint, file source, CDC
    * log) under `graft.stream.tmpBase`, else RAM-backed /dev/shm when
    * present, else java.io.tmpdir. On ext4 every offset/commit-log and
    * state-store delta write pays create+fsync+rename against a real disk,
    * and a drain suite writes dozens of them; point `graft.stream.tmpBase`
    * at reliable storage for streams that outlive the process. The sv
    * entries delete every dir made during the entry when it returns; other
    * callers delete theirs with [[deleteTree]]. */
  def tempWorkDir(s: SparkSession, prefix: String): Path = {
    val shm = Paths.get("/dev/shm")
    s.conf.getOption("graft.stream.tmpBase").map(Paths.get(_))
      .orElse(Some(shm).filter(p => Files.isDirectory(p) && Files.isWritable(p)))
      .fold(Files.createTempDirectory(prefix))(Files.createTempDirectory(_, prefix))
  }

  /** Delete a working dir and everything under it; a no-op if it is gone. */
  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val st = Files.walk(root)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally st.close()
  }
}
