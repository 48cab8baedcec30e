package graft.plans

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions
import graft.store.{KvCell, KvStore}

/** Point gets at a plan's root run on the driver ([[DriverLookup]]): the
  * same rows as the job path for every read shape the reader handles, no
  * Spark job, no leaked scan lease, fresh store state at every action, the
  * same scan metrics — and every other read keeps its plan. */
class DriverLookupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftExtensions.configure(SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")).getOrCreate()

  override def afterAll(): Unit = { spark.stop(); KvStore.dropAll() }

  import spark.implicits._

  // 1100 rows over 4 regions split on [0, 1100); v is written at stamps
  // 1000 and 2000 for even keys, so versioned reads have history
  private val mainCatalog =
    """{"table":{"namespace":"default", "name":"dl_main"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"v":{"cf":"f", "col":"v", "type":"string"},
      |"x":{"cf":"f", "col":"x", "type":"double"},
      |"n":{"cf":"g", "col":"n", "type":"int", "coder":"Phoenix"}}}""".stripMargin
  // the same table, v read as its {stamp -> value} version map
  private val versionsCatalog =
    """{"table":{"namespace":"default", "name":"dl_main"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"v":{"cf":"f", "col":"v", "type":"map<bigint,string>"}}}""".stripMargin
  private val saltedCatalog =
    """{"table":{"namespace":"default", "name":"dl_salted", "salt":"4"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
  private val indexedCatalog =
    """{"table":{"namespace":"default", "name":"dl_indexed"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"owner":{"cf":"f", "col":"o", "type":"string", "index":"true"},
      |"note":{"cf":"f", "col":"n", "type":"string"}}}""".stripMargin
  // a composite bigint ‖ int key: an equality on both parts is one key
  private val compositeCatalog =
    """{"table":{"namespace":"default", "name":"dl_composite"},
      |"rowkey":"key1:key2",
      |"columns":{
      |"acct":{"cf":"rowkey", "col":"key1", "type":"bigint"},
      |"seq":{"cf":"rowkey", "col":"key2", "type":"int"},
      |"amt":{"cf":"f", "col":"amt", "type":"double"}}}""".stripMargin
  private val avroKeySchema =
    """{"type":"record","name":"K","fields":[
      |{"name":"part","type":"string"},{"name":"seq","type":"int"}]}""".stripMargin
  private val avroCatalog =
    """{"table":{"namespace":"default", "name":"dl_avro"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "avro":"keySchema"},
      |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin

  private val mainSplits = Map("newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "1100")

  private lazy val populated: Unit = {
    (0L until 1100L).map(i => (i, s"v$i", i * 0.5, (i % 7).toInt)).toDF("k", "v", "x", "n")
      .write.format("graft-kv")
      .options(Map("catalog" -> mainCatalog, "timestamp" -> "1000", "maxVersions" -> "3") ++
        mainSplits).mode("append").save()
    (0L until 1100L by 2L).map(i => (i, s"w$i")).toDF("k", "v")
      .write.format("graft-kv")
      .options(Map("catalog" -> mainCatalog, "timestamp" -> "2000", "maxVersions" -> "3"))
      .mode("append").save()
    (0L until 200L).map(i => (i, s"s$i")).toDF("k", "v").write.format("graft-kv")
      .options(Map("catalog" -> saltedCatalog, "newtable" -> "4")).mode("append").save()
    (0L until 200L).map(i => (i, s"o${i % 50}", s"n$i")).toDF("k", "owner", "note")
      .write.format("graft-kv")
      .options(Map("catalog" -> indexedCatalog, "newtable" -> "4", "minSplitNum" -> "0",
        "maxSplitNum" -> "200")).mode("append").save()
    (0L until 400L).map(i => (i / 100, (i % 100).toInt, i * 1.5)).toDF("acct", "seq", "amt")
      .write.format("graft-kv")
      .options(Map("catalog" -> compositeCatalog, "newtable" -> "4", "minSplitNum" -> "0",
        "maxSplitNum" -> "3")).mode("append").save()
    val avroSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        graft.types.AvroCoder.sqlTypeFor(avroKeySchema)),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 8).map(i => org.apache.spark.sql.Row(org.apache.spark.sql.Row(s"p${i % 2}", i),
          s"val$i"))), avroSchema)
      .write.format("graft-kv")
      .options(Map("catalog" -> avroCatalog, "keySchema" -> avroKeySchema, "newtable" -> "4"))
      .mode("append").save()
  }

  private def read(catalog: String, extra: (String, String)*): DataFrame = {
    populated
    spark.read.format("graft-kv").options(Map("catalog" -> catalog) ++ extra).load()
  }
  private def main(extra: (String, String)*): DataFrame = read(mainCatalog, extra: _*)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }
  private def lookupOf(df: DataFrame): Option[GraftLookupExec] =
    nodes(df.queryExecution.executedPlan).collectFirst { case l: GraftLookupExec => l }
  private def scanOf(df: DataFrame): BatchScanExec =
    nodes(df.queryExecution.executedPlan).collectFirst { case b: BatchScanExec => b }.get

  /** The driver lookup's rows equal the job path's for the same executed
    * plan (`toRdd` executes the child as a job), in the same order. */
  private def sameRowsAsJob(df: DataFrame, keys: Int): Seq[InternalRow] = {
    val node = lookupOf(df)
    assert(node.exists(_.keys == keys),
      s"expected a driver lookup of $keys keys:\n${df.queryExecution.executedPlan}")
    val viaDriver = df.queryExecution.executedPlan.executeCollect().toSeq
    val viaJob = df.queryExecution.toRdd.map(_.copy()).collect().toSeq
    assert(viaDriver == viaJob, s"driver $viaDriver != job $viaJob")
    viaDriver
  }

  /** What the listener bus delivered while `f` ran: the number of jobs
    * whose submission carried `f`'s thread-local tag, and every driver
    * metric update ({accumulator id -> value} per post). A tagged sentinel
    * job afterwards proves the bus delivered everything before it. */
  private def observe(f: => Unit): (Int, Seq[Map[Long, Long]]) = {
    val sc = spark.sparkContext
    val key = "graft.spec.tag"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val updates = new ConcurrentLinkedQueue[Map[Long, Long]]()
    val flushed = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(t) if t == tag + "/end" => flushed.countDown()
          case _ =>
        }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case u: SparkListenerDriverAccumUpdates => updates.add(u.accumUpdates.toMap)
        case _ =>
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, tag)
      f
      sc.setLocalProperty(key, tag + "/end")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, TimeUnit.SECONDS), "listener bus did not deliver the sentinel")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
    (jobs.get(), updates.asScala.toSeq)
  }
  private def jobsOf(f: => Unit): Int = observe(f)._1

  test("point gets return exactly the job path's rows: hit, miss, IN-list, pruned columns") {
    assert(sameRowsAsJob(main().filter(col("k") === 42L), 1).size == 1)
    assert(sameRowsAsJob(main().filter(col("k") === 5000L), 1).isEmpty)
    // keys across regions, one of them absent
    val in = main().filter(col("k").isin(3L, 301L, 602L, 1099L, 7000L))
    assert(sameRowsAsJob(in, 5).size == 4)
    assert(scanOf(in).metrics("graftRegionsPlanned").value >= 3L)
    assert(sameRowsAsJob(main().filter(col("k") === 42L).select("n", "k"), 1).size == 1)
    assert(sameRowsAsJob(main().filter(col("k") === 42L).select("x"), 1).size == 1)
  }

  test("point gets return the job path's rows: _cell_ts, versions, time range") {
    sameRowsAsJob(main().filter(col("k").isin(4L, 5L)).select(col("k"), col("v"),
      col("_cell_ts")), 2)
    sameRowsAsJob(read(versionsCatalog, "maxVersions" -> "3").filter(col("k").isin(4L, 5L)), 2)
    sameRowsAsJob(read(versionsCatalog, "maxVersions" -> "3", "minStamp" -> "0",
      "maxStamp" -> "1500").filter(col("k").isin(4L, 5L)), 2)
    sameRowsAsJob(main("mergeToLatest" -> "false", "maxVersions" -> "3")
      .filter(col("k") === 4L), 1)
    val asOf = sameRowsAsJob(main("minStamp" -> "0", "maxStamp" -> "1500")
      .filter(col("k") === 4L).select("v"), 1)
    assert(asOf.map(_.getUTF8String(0).toString) == Seq("v4"))
  }

  test("point gets return the job path's rows: composite, salted and avro keys, index consult") {
    val composite = read(compositeCatalog)
    assert(sameRowsAsJob(composite.filter(col("acct") === 2L && col("seq") === 17), 1)
      .map(_.getDouble(2)) == Seq(217 * 1.5))
    assert(sameRowsAsJob(composite.filter(col("acct") === 2L && col("seq") === 170), 1).isEmpty)
    // one part pinned is a prefix range: a scan, not a get
    assert(lookupOf(composite.filter(col("acct") === 2L)).isEmpty)
    assert(sameRowsAsJob(read(saltedCatalog).filter(col("k").isin(7L, 150L)), 2).size == 2)
    val avro = read(avroCatalog, "keySchema" -> avroKeySchema)
      .filter(col("k") === struct(lit("p1"), lit(3)))
    assert(sameRowsAsJob(avro, 1).size == 1)
    // o7 matches keys 7, 57, 107, 157: the consult turns them into gets
    val consult = read(indexedCatalog).filter(col("owner") === "o7").select("k", "note")
    assert(sameRowsAsJob(consult, 4).size == 4)
    assert(scanOf(consult).metrics("graftIndexKeys").value == 4L)
  }

  test("a point-get collect() and head() run no Spark job; a range read does") {
    val get = main().filter(col("k") === 42L)
    get.queryExecution.executedPlan
    assert(jobsOf(assert(get.collect().length == 1)) == 0)
    assert(jobsOf(assert(get.head().getLong(0) == 42L)) == 0)
    val in = main().filter(col("k").isin(1L, 2L, 3L))
    in.queryExecution.executedPlan
    assert(jobsOf(assert(in.take(2).length == 2)) == 0)
    val range = main().filter(col("k") < 10L)
    range.queryExecution.executedPlan
    assert(jobsOf(assert(range.collect().length == 10)) >= 1)
  }

  test("the same DataFrame reads the store at each action: put, then delete") {
    val catalog =
      """{"table":{"namespace":"default", "name":"dl_fresh"},
        |"rowkey":"key",
        |"columns":{
        |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
    def put(v: String, ts: Long): Unit = Seq((9L, v)).toDF("k", "v").write.format("graft-kv")
      .options(Map("catalog" -> catalog, "newtable" -> "4", "timestamp" -> ts.toString))
      .mode("append").save()
    put("a", 100L)
    val df = spark.read.format("graft-kv").option("catalog", catalog).load()
      .filter(col("k") === 9L)
    assert(lookupOf(df).isDefined)
    assert(df.collect().map(_.getString(1)).toSeq == Seq("a"))
    put("b", 200L)
    assert(df.collect().map(_.getString(1)).toSeq == Seq("b"))
    Seq(9L).toDF("k").write.format("graft-kv")
      .options(Map("catalog" -> catalog, "delete" -> "true", "timestamp" -> "300"))
      .mode("append").save()
    assert(df.collect().isEmpty)
    assert(df.head(1).isEmpty)
  }

  test("no scan lease stays open after lookups, also when a reader throws") {
    val baseline = KvStore.openScanCount
    main().filter(col("k").isin(1L, 500L, 900L)).collect()
    main().filter(col("k") === 2L).head()
    assert(KvStore.openScanCount == baseline)
    // a 3-byte cell under a 4-byte int column fails decoding mid-read
    val t = KvStore.table("default:dl_main")
    val key = graft.types.PrimitiveCoder.encode(org.apache.spark.sql.types.LongType, 0L)
    assert(t.get(key, graft.store.ColumnSet.All, None, 1).isDefined)
    t.put(key, Seq(KvCell("g", "n", 5000L, Array[Byte](1, 2, 3))))
    val bad = main().filter(col("k") === 0L).select("n")
    assert(lookupOf(bad).isDefined)
    intercept[Exception](bad.collect())
    assert(KvStore.openScanCount == baseline, "a throwing driver read leaked its scan lease")
    t.put(key, Seq(KvCell("g", "n", 6000L,
      graft.types.PhoenixCoder.encode(org.apache.spark.sql.types.IntegerType, 0))))
  }

  test("ranges, scans, aggregates, over-cap IN-lists and join sides keep their plans") {
    val range = main().filter(col("k") < 1000L)
    assert(range.count() == 1000L)
    assert(lookupOf(range).isEmpty)
    val agg = main().filter(col("k") === 42L).agg(count(lit(1)), max(col("x")))
    assert(lookupOf(agg).isEmpty)
    assert(agg.collect().head.getLong(0) == 1L)
    val overCap = main().filter(col("k").isin((0L until 101L): _*))
    assert(lookupOf(overCap).isEmpty)
    assert(overCap.collect().length == 101)
    val atCap = main().filter(col("k").isin((0L until 100L): _*))
    assert(lookupOf(atCap).map(_.keys).contains(DriverLookup.MaxKeys))
    val join = main().filter(col("k") === 42L).as("a")
      .join(main().filter(col("k") < 50L).as("b"), col("a.k") === col("b.k"))
    assert(lookupOf(join).isEmpty)
    assert(join.collect().length == 1)
    assert(lookupOf(main().filter(col("k") === 42L)).get.simpleString(10) ==
      "GraftLookup(driver, keys=1)")
    assert(main().filter(col("k") === 42L).queryExecution.executedPlan.toString
      .contains("GraftLookup(driver, keys=1)"))
  }

  test("the scan's SQL metrics are equal on the driver and the job path") {
    def q = main().filter(col("k").isin(3L, 301L, 602L, 7000L))
    val viaDriver = q
    viaDriver.collect()
    val viaJob = q
    viaJob.queryExecution.toRdd.count()
    val names = Seq("numOutputRows", "graftRowsScanned", "graftRegionsPlanned",
      "graftRegionsTotal", "graftIndexKeys")
    def values(df: DataFrame) = names.map(n => n -> scanOf(df).metrics(n).value)
    assert(values(viaDriver) == values(viaJob))
    assert(values(viaDriver).toMap.apply("numOutputRows") == 3L)
    assert(values(viaDriver).toMap.apply("graftRowsScanned") == 3L)
    val consult = () => read(indexedCatalog).filter(col("owner") === "o7").select("k", "note")
    val c1 = consult(); c1.collect()
    val c2 = consult(); c2.queryExecution.toRdd.count()
    assert(values(c1) == values(c2))
    // one plan run twice by Dataset actions (which reset the plan's metrics
    // first) and twice directly under an execution id (which do not): each
    // run posts its own counts, the value the SQL UI shows for that
    // execution, not a running total
    val again = q
    val plan = again.queryExecution.executedPlan
    val ids = Seq("numOutputRows", "graftRowsScanned").map(scanOf(again).metrics(_).id)
    val runs = Seq.fill(2)(observe(again.collect())._2) ++ Seq.fill(2)(observe(
      SQLExecution.withNewExecutionId(again.queryExecution)(plan.executeCollect()))._2)
    runs.foreach { posted =>
      assert(ids.map(id => posted.flatMap(_.get(id)).lastOption) == Seq(Some(3L), Some(3L)))
    }
    assert(values(again) == values(viaJob))
  }

  test("a checkpointed get keeps the scan's partitioning and ordering") {
    // a salted string key read through the table catalog: the scan reports
    // key-grouped buckets (storage-partitioned join) and key order
    val confs = Seq("spark.sql.catalog.graft" -> classOf[graft.datasource.GraftTableCatalog].getName,
      "spark.sql.sources.v2.bucketing.enabled" -> "true")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      spark.sql("""CREATE TABLE graft.default.dl_spj (k STRING, v STRING)
                  |TBLPROPERTIES ('rowkey' = 'k', 'saltBuckets' = '4')""".stripMargin)
      (0 until 40).map(i => (f"k$i%03d", s"v$i")).toDF("k", "v")
        .writeTo("graft.default.dl_spj").append()
      val get = spark.table("graft.default.dl_spj").filter(col("k").isin("k003", "k017", "k031"))
      val child = lookupOf(get).get.child
      assert(!child.outputPartitioning.isInstanceOf[UnknownPartitioning])
      assert(child.outputOrdering.nonEmpty)
      val rdd = get.localCheckpoint(true).queryExecution.analyzed
        .collectFirst { case r: LogicalRDD => r }.get
      assert(rdd.outputPartitioning == child.outputPartitioning)
      assert(rdd.outputOrdering == child.outputOrdering)
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
