package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

import graft.catalog.GraftCatalog
import graft.datasource.FilterCompiler
import graft.queries.StreamBatch
import graft.store.KvStore

/** cdc_drain: the maintained orders ⋈ customer join view plus its
  * per-segment rollup (the sv24 protocol), driven change batch by change
  * batch. Set-up loads seeded base orders and customers and runs each side's
  * first catch-up drain. The timed loop alternates orders-side and
  * customer-side change batches, each touching 1% of that side's base rows
  * (custkey moves, price updates, a ranged delete and resurrections; segment
  * changes, a ranged delete and resurrections), and after each batch runs one
  * drain of that side. An op is a batch write or one side's drain; a drain's
  * latency is the time from the batch being committed to the view and the
  * rollup being current. The two sides' drains differ in cost, so each is
  * its own op kind. */
final class CdcDrain(ctx: Ctx) extends Workload {
  private val s = ctx.spark
  private val seed = ctx.seed
  val Orders = 30000
  val Customers = 3000
  val primaries = Seq("drain_orders", "drain_customers")
  val warmWindow = 2
  val warmWindows = 2
  private val Segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  private def rename(cat: String, from: String): String =
    cat.replace("\"" + from + "\"", "\"" + from + "_pb\"")
  private val ordSrc = rename(StreamBatch.sv23OrdSrcCatalog, "kv_jv_ord_src")
  private val custSrc = rename(StreamBatch.sv23CustSrcCatalog, "kv_jv_cust_src")
  private val ordMir = rename(StreamBatch.sv23OrdMirrorCatalog, "kv_jv_ord_mirror")
  private val custMir = rename(StreamBatch.sv23CustMirrorCatalog, "kv_jv_cust_mirror")
  private val view = rename(StreamBatch.sv23ViewCatalog, "kv_jv_view")
  private val agg = rename(StreamBatch.sv24AggCatalog, "kv_jv_agg")
  private val ordParsed = GraftCatalog.parse(ordSrc)
  private val custParsed = GraftCatalog.parse(custSrc)

  // the generator's model of both source tables: custkey per order (-1 =
  // deleted), price per order, segment per customer (null = deleted)
  private val ordCust = new Array[Long](Orders)
  private val ordPrice = new Array[Long](Orders)
  private val custSeg = new Array[String](Customers)
  private var batchNo = 0
  private var ts = 0L
  private var drainBase = 0L
  private var ckptO: Path = _
  private var ckptC: Path = _

  def teardown(): Unit = {
    KvStore.dropAll()
    Seq(ckptO, ckptC).filter(_ != null).foreach(deleteTree)
  }

  private def ordFrame(keys: Seq[Int]): DataFrame = s.createDataFrame(
    java.util.Arrays.asList(keys.map(k => Row(k.toLong, ordCust(k), ordPrice(k))): _*),
    StructType(Seq(StructField("o_orderkey", LongType, false), StructField("o_custkey", LongType, false),
      StructField("price_c", LongType, false))))

  private def custFrame(keys: Seq[Int]): DataFrame = s.createDataFrame(
    java.util.Arrays.asList(keys.map(k => Row(k.toLong, custSeg(k))): _*),
    StructType(Seq(StructField("c_custkey", LongType, false), StructField("seg", StringType, false))))

  private def write(df: DataFrame, cat: String, maxKey: Long, stamp: Long,
      extra: Map[String, String] = Map.empty): Unit =
    df.write.format("graft-kv")
      .options(Map("catalog" -> cat, "newtable" -> "4", "timestamp" -> stamp.toString,
        "minSplitNum" -> "0", "maxSplitNum" -> maxKey.toString) ++ extra)
      .mode("append").save()

  private def drainOrders(): Unit = {
    drainBase += 100000L
    StreamBatch.maintainJoinViewOrders(s, drainBase, ckptO.toString, ordSrc, ordMir, custMir,
      view, Some(agg))
  }

  private def drainCustomers(): Unit = {
    drainBase += 100000L
    StreamBatch.maintainJoinViewCustomer(s, drainBase, ckptC.toString, custSrc, custMir, view,
      Some(agg))
  }

  def setupOnce(r: Int): Long = {
    teardown()
    batchNo = 0; ts = 1000L; drainBase = 0L
    ckptO = ctx.work.resolve(s"ckpt-orders-$r"); ckptC = ctx.work.resolve(s"ckpt-customers-$r")
    (0 until Customers).foreach(c => custSeg(c) = Segs(Gen.below(seed, 41, c, Segs.length).toInt))
    (0 until Orders).foreach { o =>
      ordCust(o) = Gen.below(seed, 42, o, Customers)
      ordPrice(o) = 100 + Gen.below(seed, 43, o, 10000000L)
    }
    // the protocol's state tables exist (empty) before the first drains
    val e = s.range(0)
    val twoVersions = Map("maxVersions" -> "2")
    write(e.select(col("id").as("o_orderkey"), col("id").as("o_custkey")), ordMir, Orders - 1, 1,
      twoVersions)
    write(e.select(col("id").as("c_custkey"), lit("").as("seg")), custMir, Customers - 1, 1,
      twoVersions)
    e.select(lit(0L).as("c_custkey"), lit(0L).as("o_orderkey"), lit(0L).as("price_c"),
        lit("").as("seg"), lit(1).as("alive"))
      .write.format("graft-kv")
      .options(Map("catalog" -> view, "newtable" -> "4", "maxVersions" -> "2", "timestamp" -> "1"))
      .mode("append").save()
    e.select(lit("").as("segment"), lit(0L).as("n_orders"), lit(0L).as("revenue_c"))
      .write.format("graft-kv")
      .options(Map("catalog" -> agg, "newtable" -> "4", "maxVersions" -> "2", "timestamp" -> "1",
        "minSplit" -> "0", "maxSplit" -> "z"))
      .mode("append").save()
    // base loads, each followed by its side's catch-up drain
    write(custFrame(0 until Customers), custSrc, Customers - 1, ts)
    drainCustomers()
    ts += 1000
    write(ordFrame(0 until Orders), ordSrc, Orders - 1, ts)
    drainOrders()
    Orders.toLong * (8 + 8 + 8) + custSeg.map(8 + _.length).sum
  }

  /** Alive / dead keys of one side, in key order. */
  private def keys(n: Int, alive: Int => Boolean, want: Boolean): IndexedSeq[Int] =
    (0 until n).filter(k => alive(k) == want)

  private def pick(from: IndexedSeq[Int], n: Int, stream: Long): Seq[Int] =
    if (from.isEmpty) Nil
    else (0 until n).map(j => from(Gen.below(seed, stream, batchNo * 1000L + j, from.size).toInt)).distinct

  /** One orders-side change batch: 1% of the base rows. Upserts land at
    * stamp `ts` and the ranged delete at `ts + 500`, so a key in both ends
    * up deleted; the model applies them in the same order. */
  private def ordersBatch(): Boolean = {
    batchNo += 1; ts += 1000
    val n = Orders / 100
    val alive = keys(Orders, ordCust(_) >= 0, true)
    val moves = pick(alive, n * 4 / 10, 51)
    val prices = pick(alive, n * 3 / 10, 52)
    val revive = pick(keys(Orders, ordCust(_) >= 0, false), n / 10, 53)
    moves.foreach(k => ordCust(k) = Gen.below(seed, 54, batchNo * 100000L + k, Customers))
    prices.foreach(k => ordPrice(k) = 100 + Gen.below(seed, 55, batchNo * 100000L + k, 10000000L))
    revive.foreach(k => ordCust(k) = Gen.below(seed, 56, batchNo * 100000L + k, Customers))
    val up = (moves ++ prices ++ revive).distinct.sorted
    val width = n * 2 / 10
    val from = Gen.below(seed, 57, batchNo, Orders - width)
    write(Trace.span("build")(ordFrame(up)), ordSrc, Orders - 1, ts)
    rangeDelete(ordParsed, "o_orderkey", from, from + width, ts + 500)
    (from until from + width).foreach(k => ordCust(k.toInt) = -1)
    true
  }

  /** One customer-side change batch: segment changes, a ranged delete
    * (deaths) and resurrections of dead customers. */
  private def customersBatch(): Boolean = {
    batchNo += 1; ts += 1000
    val n = Customers / 100
    val alive = keys(Customers, custSeg(_) != null, true)
    val moves = pick(alive, n * 6 / 10, 61)
    val revive = pick(keys(Customers, custSeg(_) != null, false), n * 2 / 10, 62)
    (moves ++ revive).foreach(k =>
      custSeg(k) = Segs(Gen.below(seed, 63, batchNo * 100000L + k, Segs.length).toInt))
    val up = (moves ++ revive).distinct.sorted
    val width = n * 2 / 10
    val from = Gen.below(seed, 64, batchNo, Customers - width)
    write(Trace.span("build")(custFrame(up)), custSrc, Customers - 1, ts)
    rangeDelete(custParsed, "c_custkey", from, from + width, ts + 500)
    (from until from + width).foreach(k => custSeg(k.toInt) = null)
    true
  }

  private def rangeDelete(cat: GraftCatalog, key: String, from: Long, until: Long, stamp: Long): Unit = {
    val hrf = FilterCompiler.compileAll(cat, Seq(sources.GreaterThanOrEqual(key, from),
      sources.LessThan(key, until))).exactOrThrow("CDC delete")
    KvStore.table(cat.qualifiedName).delete(hrf.ranges, hrf.pred, stamp)
    ()
  }

  // ops alternate: orders batch, orders drain, customers batch, customers drain
  def op(i: Int): Op = (i % 4) match {
    case 0 => Op("batch", () => ordersBatch())
    case 1 => Op("drain_orders", () => { drainOrders(); true })
    case 2 => Op("batch", () => customersBatch())
    case _ => Op("drain_customers", () => { drainCustomers(); true })
  }

  private def read(cat: String): DataFrame =
    s.read.format("graft-kv").option("catalog", cat).load()

  def finalChecks(): Seq[Check] = {
    // bring both sides current (the timed loop may stop between a batch and its drain)
    drainOrders(); drainCustomers()
    val rollup = read(agg).filter(col("n_orders") > 0)
      .select(col("segment"), col("n_orders"), col("revenue_c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val recomputed = read(ordSrc).select(col("o_custkey"), col("price_c"))
      .join(read(custSrc).select(col("c_custkey").as("o_custkey"), col("seg")), Seq("o_custkey"), "left")
      .groupBy(coalesce(col("seg"), lit("(none)")).as("segment"))
      .agg(count(lit(1)), sum(col("price_c")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val model = (0 until Orders).filter(ordCust(_) >= 0)
      .groupBy(o => Option(custSeg(ordCust(o).toInt)).getOrElse("(none)"))
      .map { case (sg, os) => (sg, os.size.toLong, os.map(ordPrice(_)).sum) }.toSeq.sorted
    Seq(Check("rollup_vs_recompute", rollup == recomputed,
        s"rollup ${rollup.mkString(",")}; recomputed ${recomputed.mkString(",")}"),
      Check("sources_vs_model", recomputed == model, s"model ${model.mkString(",")}"))
  }

  override def extras(): Map[String, Any] = Map("orders" -> Orders, "customers" -> Customers,
    "batch_share" -> 0.01)

  override def layers(obs: SparkObserver, w0: Long, w1: Long): Map[String, Any] = {
    import scala.jdk.CollectionConverters._
    val prog = obs.progress.asScala.toSeq.filter(p => p.start >= w0 && p.start <= w1)
    val starts = obs.queryStarts.asScala.toMap
    def med(k: String) = Layers.median(prog.map(_.durations.getOrElse(k, 0L).toDouble))
    val byRun = prog.groupBy(_.runId)
    Map(
      "drain.runs" -> byRun.size,
      "drain.batches_per_drain" -> prog.size.toDouble / math.max(byRun.size, 1),
      "drain.input_rows_per_drain" -> prog.map(_.inputRows).sum.toDouble / math.max(byRun.size, 1),
      "drain.startup_ms" -> Layers.median(byRun.toSeq.flatMap { case (run, ps) =>
        starts.get(run).map(st => (ps.map(_.start).min - st) / 1e6) }),
      "drain.latest_offset_ms" -> med("latestOffset"),
      "drain.query_planning_ms" -> med("queryPlanning"),
      "drain.add_batch_ms" -> med("addBatch"),
      "drain.wal_commit_ms" -> med("walCommit"),
      "drain.trigger_ms" -> med("triggerExecution"))
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally st.close()
  }
}
