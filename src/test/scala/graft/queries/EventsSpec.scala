package graft.queries

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class EventsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  test("ev7: spike flags against a calm history; post-spike variance absorbs") {
    // user 1: 25 calm events (value 10), a spike (1000), 4 more calm ones.
    // Events gain a score once they have >= 10 predecessors in the 20-row
    // window: events 11..30 are scored (20 of them). The spike's preceding
    // window is all-10 (variance 0, value != mean -> anomalous); the calm
    // events AFTER the spike see a window containing it, whose stddev
    // (~216) dwarfs their own deviation (~50) -> not anomalous.
    // user 2: only 5 events -> nothing scored.
    val events = ((1 to 30).map { i =>
      val v = if (i == 26) 1000.0 else 10.0
      (i.toLong, new Timestamp(1700000000000L + i * 60000L), 1L, "click", v)
    } ++ (1 to 5).map { i =>
      (100L + i, new Timestamp(1700000000000L + i * 60000L), 2L, "click", 10.0)
    }).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("ev7").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")

    val got = Events.ev7Anomaly(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("n_events"), r.getAs[Long]("n_scored"),
          r.getAs[Long]("n_anomalies"))).toMap
    assert(got(1L) == ((30L, 20L, 1L)))
    assert(got(2L) == ((5L, 0L, 0L)))
  }

  test("ev8: funnel stages require strict temporal order") {
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // user 1: view -> click -> purchase in order          => stage 3
    // user 2: click BEFORE its only view                  => stage 1
    // user 3: view -> click, no purchase                  => stage 2
    // user 4: only errors                                 => stage 0
    // user 5: view -> purchase -> click (purchase too early) => stage 2
    val events = Seq(
      (1L, ts(1), 1L, "view", 1.0), (2L, ts(2), 1L, "click", 1.0),
      (3L, ts(3), 1L, "purchase", 1.0),
      (4L, ts(2), 2L, "view", 1.0), (5L, ts(1), 2L, "click", 1.0),
      (6L, ts(1), 3L, "view", 1.0), (7L, ts(2), 3L, "click", 1.0),
      (8L, ts(1), 4L, "error", 1.0),
      (9L, ts(1), 5L, "view", 1.0), (10L, ts(2), 5L, "purchase", 1.0),
      (11L, ts(3), 5L, "click", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("ev8").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.ev8Funnel(spark, dir).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("funnel_stage")).toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 0, 5L -> 2))
  }

  test("ev9: RANGE frame counts by value, ties are peers") {
    def ts(sec: Long) = new Timestamp(1700000000000L + sec * 1000L)
    // user 1: events at 0s, 10s, 3600s, 3601s, 7300s, plus a tied pair
    val events = Seq(
      (1L, ts(0), 1L, "click", 1.0), (2L, ts(10), 1L, "click", 1.0),
      (3L, ts(3600), 1L, "click", 1.0), (4L, ts(3601), 1L, "click", 1.0),
      (5L, ts(7300), 1L, "click", 1.0),
      (6L, ts(100), 2L, "click", 1.0), (7L, ts(100), 2L, "click", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("ev9").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.ev9RollingCount(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("n_last_hour")).toMap
    // e3 at 3600s: frame [0, 3600] includes e1 (exactly 1h back), e2, e3
    // e4 at 3601s: e1 falls out; e5 at 7300s: only itself
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L, 5L -> 1L,
      6L -> 2L, 7L -> 2L)) // tied timestamps are peers: both count both
  }

  test("ev10: cohort assignment is first-ever day; offsets dedup within a day") {
    spark.conf.set("spark.sql.session.timeZone", "UTC") // the Verify contract
    def ts(day: Int, hour: Int) =
      new Timestamp(1704067200000L + day * 86400000L + hour * 3600000L) // 2024-01-01 UTC
    // user 1: first seen day 0, active day 0 (twice) and day 2
    // user 2: first seen day 0, active day 0 only
    // user 3: first seen day 1, active days 1 and 2
    val events = Seq(
      (1L, ts(0, 1), 1L, "click", 1.0), (2L, ts(0, 5), 1L, "view", 1.0),
      (3L, ts(2, 3), 1L, "click", 1.0),
      (4L, ts(0, 2), 2L, "click", 1.0),
      (5L, ts(1, 4), 3L, "click", 1.0), (6L, ts(2, 6), 3L, "view", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("ev10").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.ev10Retention(spark, dir).collect()
      .map(r => (r.getAs[Timestamp]("cohort").toString.take(10),
        r.getAs[Long]("day_offset")) -> r.getAs[Long]("n_users")).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> 2L, // users 1, 2 (user 1's two same-day events dedup)
      ("2024-01-01", 2L) -> 1L, // user 1 back on day 2
      ("2024-01-02", 0L) -> 1L, // user 3's cohort
      ("2024-01-02", 1L) -> 1L  // user 3 back next day
    ))
  }

  test("ev11: transitions follow per-user time order; probabilities row-normalize") {
    def ts(m: Int) = new Timestamp(1700000000000L + m * 60000L)
    // user 1: view -> click -> view -> purchase; user 2: view -> view
    // transitions: view->click 1, click->view 1, view->purchase 1, view->view 1
    // from view: 3 total -> p(click|view)=333333, p(purchase|view)=333333, p(view|view)=333333
    val events = Seq(
      (1L, ts(1), 1L, "view", 1.0), (2L, ts(2), 1L, "click", 1.0),
      (3L, ts(3), 1L, "view", 1.0), (4L, ts(4), 1L, "purchase", 1.0),
      (5L, ts(1), 2L, "view", 1.0), (6L, ts(2), 2L, "view", 1.0)
    ).toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("ev11").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.ev11Transitions(spark, dir).collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_from"), r.getAs[Long]("p_micro"))).toMap
    assert(got == Map(
      ("view", "click") -> ((1L, 3L, 333333L)),
      ("view", "purchase") -> ((1L, 3L, 333333L)),
      ("view", "view") -> ((1L, 3L, 333333L)),
      ("click", "view") -> ((1L, 1L, 1000000L))
    ))
  }

  test("ev7: zero-variance history with an equal value is NOT anomalous") {
    val events = (1 to 15).map { i =>
      (i.toLong, new Timestamp(1700000000000L + i * 60000L), 1L, "click", 42.5)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("ev7z").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Events.ev7Anomaly(spark, dir).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("n_anomalies") == 0L)
    assert(got(0).getAs[Long]("n_scored") == 5L) // events 11..15
  }

  test("q27 releases its edge checkpoint on success and on a throw") {
    import org.apache.spark.sql.execution.LogicalRDD
    // three users, six events each, a minute apart: chains of depth 5
    val events = (1 to 18).map { i =>
      (i.toLong, new Timestamp(1700000000000L + i * 60000L), (i % 3).toLong, "click", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val dir = Files.createTempDirectory("q27").toString
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val sc = spark.sparkContext
    def rddIds(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Set[Int] =
      plan.collect { case r: LogicalRDD => r.rdd.id }.toSet
    def edgeIds = rddIds(spark.table("q27_edges").queryExecution.analyzed)

    val before = sc.getPersistentRDDs.keySet
    val out = Relational.q27RecursiveCte(spark, dir)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left == rddIds(out.queryExecution.analyzed),
      s"only the result's checkpoint may stay persisted, found $left")
    assert(edgeIds.nonEmpty && edgeIds.forall(id => !sc.getPersistentRDDs.contains(id)))
    assert(out.count() == 18L)

    val limitKey = "spark.sql.cteRecursionLevelLimit"
    spark.conf.set(limitKey, "2")
    try intercept[Exception](Relational.q27RecursiveCte(spark, dir))
    finally spark.conf.unset(limitKey)
    assert(edgeIds.forall(id => !sc.getPersistentRDDs.contains(id)),
      "a throwing q27 left its edge checkpoint persisted")
  }
}
