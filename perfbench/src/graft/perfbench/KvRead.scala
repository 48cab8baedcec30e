package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.store.KvStore

/** The account table kv_read uses: composite row key
  * `acct:bigint ‖ seq:int` (Primitive coder), value columns over two
  * families, Primitive and Phoenix coded. Every value is a pure function of
  * (seed, acct, seq), so any answer can be predicted without a copy. */
object Accounts {
  val Name = "default:pb_accounts"
  val Catalog: String =
    """{"table":{"namespace":"default", "name":"pb_accounts", "tableCoder":"PrimitiveType", "version":"2.0"},
      |"rowkey":"key1:key2",
      |"columns":{
      |"acct":{"cf":"rowkey", "col":"key1", "type":"bigint"},
      |"seq":{"cf":"rowkey", "col":"key2", "type":"int"},
      |"amount":{"cf":"f", "col":"amt", "type":"double"},
      |"qty":{"cf":"f", "col":"qty", "type":"int", "coder":"Phoenix"},
      |"tag":{"cf":"g", "col":"tag", "type":"string"},
      |"score":{"cf":"g", "col":"sc", "type":"bigint", "coder":"Phoenix"}}}""".stripMargin

  val Schema: StructType = StructType(Seq(
    StructField("acct", LongType, nullable = false),
    StructField("seq", IntegerType, nullable = false),
    StructField("amount", DoubleType), StructField("qty", IntegerType),
    StructField("tag", StringType), StructField("score", LongType)))

  final case class Vals(amount: Double, qty: Int, tag: String, score: Long) {
    /** Encoded value bytes (Primitive double 8, Phoenix int 4, string, Phoenix long 8). */
    def bytes: Int = 8 + 4 + tag.length + 8
  }
  val KeyBytes = 12

  /** Values of (acct, seq). */
  def vals(seed: Long, acct: Long, seq: Int): Vals = {
    val i = acct * 1000003L + seq
    val h = Gen.hash(seed, 11, i)
    Vals(amount = java.lang.Math.floorMod(h, 10000000L) / 100.0,
      qty = java.lang.Math.floorMod(h >>> 24, 1000L).toInt,
      tag = "t" + java.lang.Math.floorMod(h >>> 40, 50L),
      score = Gen.hash(seed, 13, i) & 0xffffffffL)
  }

  def row(seed: Long, acct: Long, seq: Int): Row = {
    val v = vals(seed, acct, seq)
    Row(acct, seq, v.amount, v.qty, v.tag, v.score)
  }

  /** Rows acct in [0, accts) × seq in [0, seqs), as a DataFrame generated on
    * the executors (nothing is shipped from the driver but the seed). */
  def frame(s: SparkSession, seed: Long, accts: Long, seqs: Int, slices: Int): DataFrame = {
    val rdd = s.sparkContext.range(0L, accts * seqs, 1, slices)
      .map(i => row(seed, i / seqs, (i % seqs).toInt))
    s.createDataFrame(rdd, Schema)
  }

  def write(df: DataFrame, accts: Long): Unit =
    df.write.format("graft-kv")
      .options(Map("catalog" -> Catalog, "newtable" -> "8",
        "minSplitNum" -> "0", "maxSplitNum" -> (accts - 1).toString))
      .mode("append").save()

  def read(s: SparkSession): DataFrame =
    s.read.format("graft-kv").option("catalog", Catalog).load()

  /** Does a materialized (acct, seq, amount, qty, tag, score) row carry the
    * predicted values? */
  def matches(r: Row, seed: Long): Boolean = {
    val v = vals(seed, r.getLong(0), r.getInt(1))
    r.getDouble(2) == v.amount && r.getInt(3) == v.qty && r.getString(4) == v.tag &&
      r.getLong(5) == v.score
  }
}

/** kv_read: point gets, ~1k-row ranges on the leading key part, and full
  * scans with a pushed value predicate and pushed aggregate, interleaved in
  * seeded order with fixed shares (16:3:1 per 20 ops), one client. */
final class KvRead(ctx: Ctx) extends Workload {
  private val s = ctx.spark
  private val seed = ctx.seed
  val Accts = 500L
  val Seqs = 1000
  val primaries = Seq("get")
  val warmWindow = 25
  val warmWindows = 4
  private val mix = Seq.fill(16)("get") ++ Seq.fill(3)("range") ++ Seq("scan")

  // predicted scan answers per threshold q: count, sum(qty), max(score) of
  // rows with qty < q (prefix sums over the qty histogram)
  private var cnt: Array[Long] = _
  private var sumQ: Array[Long] = _
  private var maxS: Array[Long] = _

  def teardown(): Unit = KvStore.drop(Accounts.Name)

  def setupOnce(rep: Int): Long = {
    teardown()
    Accounts.write(Accounts.frame(s, seed, Accts, Seqs, 2 * ctx.cores), Accts)
    // the generator's own prediction of every scan answer
    val c = new Array[Long](1001); val sq = new Array[Long](1001)
    val mx = Array.fill(1001)(Long.MinValue)
    var bytes = 0L
    var a = 0L
    while (a < Accts) {
      var q = 0
      while (q < Seqs) {
        val v = Accounts.vals(seed, a, q)
        c(v.qty + 1) += 1; sq(v.qty + 1) += v.qty
        mx(v.qty + 1) = math.max(mx(v.qty + 1), v.score)
        bytes += Accounts.KeyBytes + v.bytes
        q += 1
      }
      a += 1
    }
    (1 to 1000).foreach { k =>
      c(k) += c(k - 1); sq(k) += sq(k - 1); mx(k) = math.max(mx(k), mx(k - 1))
    }
    cnt = c; sumQ = sq; maxS = mx
    bytes
  }

  private def kindOf(i: Int): String = {
    val cycle = i / mix.size
    val sh = new scala.util.Random(Gen.hash(seed, 5, cycle)).shuffle(mix)
    sh(i % mix.size)
  }

  /** Build, plan and collect one read the way the connector's users do,
    * timing each phase as its own span. `collect` runs the plan forced in
    * the plan span (the same `QueryExecution`), so the exec span is the
    * action alone. */
  private def collect(build: => DataFrame): Array[Row] = {
    val df = Trace.span("build")(build)
    Trace.span("plan")(df.queryExecution.executedPlan)
    Trace.span("exec")(df.collect())
  }

  def op(i: Int): Op = kindOf(i) match {
    case "get" =>
      val hit = Gen.below(seed, 21, i, 10) != 0
      val acct = Gen.below(seed, 22, i, Accts)
      val seq = (Gen.below(seed, 23, i, Seqs) + (if (hit) 0 else Seqs)).toInt
      Op("get", () => {
        val rows = collect(Accounts.read(s).filter(col("acct") === acct && col("seq") === seq))
        if (hit) rows.length == 1 && Accounts.matches(rows(0), seed) else rows.isEmpty
      })
    case "range" =>
      val acct = Gen.below(seed, 24, i, Accts)
      Op("range", () => {
        val rows = collect(Accounts.read(s).filter(col("acct") === acct))
        rows.length == Seqs && rows.forall(r => r.getLong(0) == acct && Accounts.matches(r, seed)) &&
          rows.map(_.getInt(1)).toSet.size == Seqs
      })
    case _ =>
      // one scan per 20-op cycle; its threshold is stratified over ten
      // cycles, so every run scans the same spread of selectivities
      val q = 1 + 100 * (i / mix.size % 10) + Gen.below(seed, 25, i, 100).toInt
      Op("scan", () => {
        val rows = collect(Accounts.read(s).filter(col("qty") < q)
          .agg(count(lit(1)), sum(col("qty")), max(col("score"))))
        rows.length == 1 && rows(0).getLong(0) == cnt(q) && rows(0).getLong(1) == sumQ(q) &&
          rows(0).getLong(2) == maxS(q)
      })
  }

  def finalChecks(): Seq[Check] = {
    // the table is read-only here: its full contents must still be exactly
    // the generated rows
    val n = KvStore.table(Accounts.Name).regionInfos.indices.map { r =>
      KvStore.table(Accounts.Name).scan(r, graft.ranges.ScanRange.all, graft.store.ColumnSet.All,
        None, 1, None).size.toLong
    }.sum
    Seq(Check("row_count", n == Accts * Seqs, s"$n rows, expected ${Accts * Seqs}"))
  }

  override def extras(): Map[String, Any] = Map("rows" -> Accts * Seqs, "regions" -> 8)

}
