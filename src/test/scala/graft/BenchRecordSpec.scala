package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The bench record must be failure-proof: r12's `timeOnce` swallowed a
  * throw and recorded the wall as a clean timing, which put an impossible
  * q27 = 0.14s in the committed record and poisoned the round trend into a
  * phantom 77x "regression" (adjudicated in the r13 verdict). These pin the
  * contract: a rep that throws carries `err`, and ANY failed rep taints the
  * query out of the timed map — a broken query can never read as fast. */
class BenchRecordSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val boom: (SparkSession, String) => org.apache.spark.sql.DataFrame =
    (_, _) => throw new IllegalStateException("bench-spec deliberate failure\nsecond line")

  private val ok: (SparkSession, String) => org.apache.spark.sql.DataFrame =
    (s, _) => s.range(5).toDF("n")

  test("a throwing query records err (class + first message line), never a clean rep") {
    val reps = Bench.timeQuery(spark, "/nonexistent", 2, boom, reps = 2)
    assert(reps.size == 2, "an erroring pair must not trigger the tie-break third rep")
    assert(reps.forall(_.err.isDefined))
    assert(reps.forall(_.rows == -1L))
    val e = reps.head.err.get
    assert(e.contains("IllegalStateException") && e.contains("deliberate failure"), e)
    assert(!e.contains("second line"), "only the first message line belongs in the record")
  }

  test("a clean query records rows and no err") {
    val reps = Bench.timeQuery(spark, "/nonexistent", 2, ok, reps = 2)
    assert(reps.forall(r => r.err.isEmpty && r.rows == 5L && r.wall > 0))
  }

  test("any failed rep taints the query out of the timed map") {
    val cleanReps = Bench.timeQuery(spark, "/nonexistent", 2, ok, reps = 1)
    val mixed = Seq(
      "good_query" -> cleanReps,
      "bad_query" -> Seq(Bench.Rep(0.14, 0.5, -1L, Some("boom")), cleanReps.head),
      "dead_query" -> Bench.timeQuery(spark, "/nonexistent", 2, boom, reps = 1))
    val (results, errs) = Bench.splitClean(mixed)
    assert(results.keySet == Set("good_query"),
      s"tainted queries must not contribute timings: $results")
    assert(errs.keySet == Set("bad_query", "dead_query"))
    assert(errs("bad_query") == "boom")
  }

  test("a rep records the generated classes it compiled, and a repeat compiles none") {
    val filtered: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(100).toDF("n").filter("n % 7919 = 13 or n * 31 = 3131")
    val reps = Bench.timeQuery(spark, "/nonexistent", 2, filtered, reps = 2)
    assert(reps.head.compiles > 0 && reps.head.codegenMs > 0, reps.head)
    assert(reps(1).compiles == 0L && reps(1).codegenMs == 0.0, reps(1))
  }
}
