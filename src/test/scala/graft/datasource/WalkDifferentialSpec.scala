package graft.datasource

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.GraftExtensions
import graft.plans.GraftLookupExec
import graft.store.{ColumnSet, KvCell, KvRow, KvStore, TimeRange}
import graft.types.PrimitiveCoder

/** The walked readers ([[GraftScanSetup.nextWalked]] under the row,
  * columnar, driver-lookup, join and CDC readers) give the rows of the
  * general path — `KvTable.scan` into `KvRow`s, decoded by
  * `RowMaterializer.materialize` — in the same order, over every shape of
  * a latest read: absent cells, cell-less rows, time ranges, TTL,
  * `_cell_ts` under each restrictive mode, salted and struct keys, nested
  * pruning, two fields on one column, reverse walks and pushed limits.
  * They count the rows they serve when a limit stops them, and release
  * their scan lease when a cell fails to decode. */
class WalkDifferentialSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftExtensions.configure(SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")).getOrCreate()

  override def afterAll(): Unit = { spark.stop(); KvStore.dropAll() }

  import spark.implicits._

  // 310 rows over 4 regions split on [0, 320); `bb` reads the same column
  // as `b`
  private val mainCatalog =
    """{"table":{"namespace":"default", "name":"wd_main"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"a":{"cf":"f", "col":"a", "type":"string"},
      |"b":{"cf":"f", "col":"b", "type":"int"},
      |"bb":{"cf":"f", "col":"b", "type":"int"},
      |"c":{"cf":"g", "col":"c", "type":"double"}}}""".stripMargin
  private val rightCatalog =
    """{"table":{"namespace":"default", "name":"wd_right"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"v":{"cf":"f", "col":"v", "type":"string"},
      |"vv":{"cf":"f", "col":"v", "type":"string"},
      |"w":{"cf":"f", "col":"w", "type":"int"}}}""".stripMargin
  private val saltedCatalog =
    """{"table":{"namespace":"default", "name":"wd_salted", "salt":"4"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
  private val keySchema =
    """{"type":"record","name":"K","fields":[
      |{"name":"part","type":"string"},{"name":"seq","type":"int"}]}""".stripMargin
  private val structSchema =
    """{"type":"record","name":"S","fields":[
      |{"name":"x","type":"int"},{"name":"y","type":"string"}]}""".stripMargin
  private val avroCatalog =
    """{"table":{"namespace":"default", "name":"wd_avro"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "avro":"keySchema"},
      |"s":{"cf":"f", "col":"s", "avro":"structSchema"},
      |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
  private val ttlCatalog =
    """{"table":{"namespace":"default", "name":"wd_ttl"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"v":{"cf":"f", "col":"v", "type":"string"}}}""".stripMargin
  private val corruptCatalog =
    """{"table":{"namespace":"default", "name":"wd_corrupt"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"n":{"cf":"f", "col":"n", "type":"int"}}}""".stripMargin
  private val avroOpts = Seq("keySchema" -> keySchema, "structSchema" -> structSchema)

  private def read(catalog: String, opts: (String, String)*): DataFrame =
    spark.read.format("graft-kv").options(Map("catalog" -> catalog) ++ opts).load()

  private def key(k: Long): Array[Byte] = PrimitiveCoder.encode(LongType, k)
  private def str(s: String): Array[Byte] = PrimitiveCoder.encode(StringType, s)

  override def beforeAll(): Unit = {
    super.beforeAll()
    val split = Seq("newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "320")
    (0L until 300L).map(k => (k, s"a$k", (k % 7).toInt)).toDF("k", "a", "b")
      .write.format("graft-kv")
      .options(Map("catalog" -> mainCatalog.replace(
        """"bb":{"cf":"f", "col":"b", "type":"int"},""", ""), "timestamp" -> "1000") ++ split)
      .mode("append").save()
    val main = KvStore.table("default:wd_main")
    (0L until 300L).foreach { k =>
      if (k % 3 == 0) main.put(key(k), Seq(KvCell("f", "a", 2000L, str(s"a$k-2"))))
      if (k % 5 == 0) main.put(key(k), Seq(KvCell("g", "c", 2000L,
        PrimitiveCoder.encode(DoubleType, k * 0.5))))
      if (k % 11 == 0) main.put(key(k), Seq(KvCell("g", "c", 3000L,
        PrimitiveCoder.encode(DoubleType, -k.toDouble))))
      if (k % 13 == 0) main.put(key(k), Seq(KvCell("f", "b", 3500L,
        PrimitiveCoder.encode(IntegerType, 100 + k.toInt))))
    }
    // rows with no cell under any catalog column: they exist, key-only
    (300L until 310L).foreach(k => main.put(key(k), Seq(KvCell("h", "z", 2500L, str("z")))))
    // CDC: two deletes stand, the third is superseded by a later put
    Seq(7L, 14L, 21L).foreach(k => main.deleteRow(key(k), 4000L))
    main.put(key(14L), Seq(KvCell("f", "a", 4500L, str("back"))))

    (0L until 320L by 2L).map(k => (k, if (k % 4 == 0) s"v$k" else null, (k % 9).toInt))
      .toDF("k", "v", "w").write.format("graft-kv")
      .options(Map("catalog" -> rightCatalog.replace(
        """"vv":{"cf":"f", "col":"v", "type":"string"},""", "")) ++ split)
      .mode("append").save()
    (0L until 60L).map(k => (k, s"s$k")).toDF("k", "v").write.format("graft-kv")
      .options(Map("catalog" -> saltedCatalog)).mode("append").save()
    val avroRows = (0 until 24).map(i =>
      Row(Row(s"p${i % 3}", i), if (i % 5 == 0) null else Row(i * 10, s"y$i"), s"v$i"))
    spark.createDataFrame(spark.sparkContext.parallelize(avroRows), StructType(Seq(
      StructField("k", graft.types.AvroCoder.sqlTypeFor(keySchema)),
      StructField("s", graft.types.AvroCoder.sqlTypeFor(structSchema)),
      StructField("v", StringType))))
      .write.format("graft-kv").options(Map("catalog" -> avroCatalog, "newtable" -> "4") ++ avroOpts)
      .mode("append").save()
    val now = System.currentTimeMillis()
    (0L until 30L).map(k => (k, s"old$k")).toDF("k", "v").write.format("graft-kv")
      .options(Map("catalog" -> ttlCatalog, "newtable" -> "4",
        "timestamp" -> (now - 10L * 86400000L).toString)).mode("append").save()
    (10L until 40L).map(k => (k, s"new$k")).toDF("k", "v").write.format("graft-kv")
      .options(Map("catalog" -> ttlCatalog, "timestamp" -> (now - 60000L).toString))
      .mode("append").save()
    (0L until 50L).map(k => (k, k.toInt)).toDF("k", "n").write.format("graft-kv")
      .options(Map("catalog" -> corruptCatalog, "newtable" -> "4", "minSplitNum" -> "0",
        "maxSplitNum" -> "50", "timestamp" -> "1000")).mode("append").save()
    // a 3-byte cell under a 4-byte int column fails decoding mid-read
    KvStore.table("default:wd_corrupt").put(key(30L), Seq(KvCell("f", "n", 5000L, Array[Byte](1, 2, 3))))
  }

  private def allPlanNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => allPlanNodes(a.executedPlan)
    case q: QueryStageExec => p +: allPlanNodes(q.plan)
    case _ => p +: p.children.flatMap(allPlanNodes)
  }

  private def partitions(df: DataFrame): Seq[GraftInputPartition] =
    allPlanNodes(df.queryExecution.executedPlan).collectFirst { case b: BatchScanExec => b }.get
      .batch.planInputPartitions().toSeq.map(_.asInstanceOf[GraftInputPartition])

  private def toRows(rows: Iterator[InternalRow], schema: StructType): Seq[Row] = {
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    rows.map(r => conv(r).asInstanceOf[Row]).toSeq
  }

  /** The kept general path as the reference: each range scanned into
    * `KvRow`s restricted to `cols` (so `_cell_ts` is their newest stamp)
    * and materialized, then the partition's tombstones as key-only rows,
    * then its limit. */
  private def reference(p: GraftInputPartition, cols: ColumnSet): Seq[Row] = {
    val table = KvStore.table(p.opts.storeName(p.catalog))
    val meta = Set(GraftTable.CellTsColumn, GraftTable.DeletedColumn)
    val data = p.requiredSchema.fields.zipWithIndex.filterNot(f => meta(f._1.name))
    val mat = new RowMaterializer(p.catalog,
      data.toSeq.map { case (f, _) => (p.catalog.field(f.name), f.dataType) }, mergeToLatest = true)
    def assemble(dataRow: InternalRow, stamp: Option[Long], deleted: Boolean): InternalRow = {
      val out = p.requiredSchema.fields.map(f =>
        if (f.name == GraftTable.CellTsColumn) stamp.map(Long.box).orNull
        else if (f.name == GraftTable.DeletedColumn) deleted
        else null: Any)
      data.zipWithIndex.foreach { case ((f, slot), i) =>
        out(slot) = if (dataRow.isNullAt(i)) null else dataRow.get(i, f.dataType)
      }
      new GenericInternalRow(out)
    }
    val ranges = if (p.reverse) p.ranges.reverse else p.ranges
    val upserts = ranges.iterator.flatMap(r => table.scan(p.regionIndex, r.toRange, cols,
      p.opts.timeRange, 1, p.pred, p.reverse)).flatMap { kr =>
      val stamp = if (kr.cells.isEmpty) None else Some(kr.cells.map(_.ts).max)
      mat.materialize(kr).map(assemble(_, stamp, deleted = false))
    }
    val noCells = new ConcurrentHashMap[(String, String),
      ConcurrentSkipListMap[java.lang.Long, Array[Byte]]]()
    val tombstones = p.tombstoneWindow.iterator.flatMap { w =>
      p.ranges.iterator.flatMap(r => table.tombstonesIn(p.regionIndex, r.toRange, w))
        .filter { case (k, _) => p.pred.forall(_.eval(k, noCells, None)) }
        .filter { case (k, stamp) =>
          table.get(k, ColumnSet.All, None, 1).forall(_.cells.forall(_.ts < stamp))
        }
        .map { case (k, stamp) =>
          assemble(mat.materialize(KvRow(k, Nil)).next(), Some(stamp), deleted = true)
        }
    }
    val all = upserts ++ tombstones
    toRows(p.limit.fold(all)(all.take), p.requiredSchema)
  }

  private def rowReader(p: GraftInputPartition): Seq[Row] = {
    val r: PartitionReader[InternalRow] = new GraftPartitionReader(p)
    try toRows(Iterator.continually(r).takeWhile(_.next()).map(_.get().copy()), p.requiredSchema)
    finally r.close()
  }

  private def columnarReader(p: GraftInputPartition): Seq[Row] = {
    val r = new GraftColumnarPartitionReader(p)
    try toRows(Iterator.continually(r).takeWhile(_.next())
      .flatMap(_.get().rowIterator().asScala.map(_.copy())).toList.iterator, p.requiredSchema)
    finally r.close()
  }

  private val factory = new GraftReaderFactory

  /** The row reader — and the columnar reader when `columnar` — give the
    * reference's rows, in order, over every partition of `df`'s scan
    * (with `tombstones` as each partition's CDC delete window). */
  private def check(df: DataFrame, cols: ColumnSet, columnar: Boolean,
      tombstones: Option[TimeRange] = None): Seq[Row] = {
    val parts = partitions(df).map(_.copy(tombstoneWindow = tombstones))
    val want = parts.flatMap(reference(_, cols))
    assert(want.nonEmpty)
    assert(parts.flatMap(rowReader) == want, "row reader")
    assert(factory.supportColumnarReads(parts.head) == columnar)
    if (columnar) assert(parts.flatMap(columnarReader) == want, "columnar reader")
    want
  }

  /** A point get served on the driver gives the reference's rows. */
  private def checkLookup(df: DataFrame, cols: ColumnSet): Unit = {
    assert(allPlanNodes(df.queryExecution.executedPlan).exists(_.isInstanceOf[GraftLookupExec]),
      df.queryExecution.executedPlan.toString)
    val want = partitions(df).flatMap(reference(_, cols))
    assert(want.nonEmpty)
    assert(df.collect().toSeq == want)
  }

  private val valueCols = ColumnSet.Columns(Set(("f", "a"), ("f", "b"), ("g", "c")))

  test("plain reads, absent cells and cell-less rows under a time range") {
    val main = read(mainCatalog).select("k", "a", "b", "c")
    check(main, valueCols, columnar = true)
    val window = read(mainCatalog, "minStamp" -> "1500", "maxStamp" -> "4000")
      .select("k", "a", "b", "c")
    val rows = check(window, valueCols, columnar = true)
    // only rows with a cell in the window, cell-less ones as key-only rows
    assert(rows.contains(Row(11L, null, null, -11.0)))
    assert(rows.contains(Row(305L, null, null, null)))
    assert(!rows.exists(_.getLong(0) == 1L))
    check(read(mainCatalog, "timestamp" -> "2000").select("k", "c"),
      ColumnSet.Columns(Set(("g", "c"))), columnar = true)
    check(read(mainCatalog).select("k"), ColumnSet.KeysOnly, columnar = true)
    checkLookup(read(mainCatalog, "minStamp" -> "1500", "maxStamp" -> "4000")
      .filter(col("k").isin(11L, 12L, 305L, 1L)), valueCols)
  }

  test("value filters, two fields on one column, and a nested-pruned struct column") {
    check(read(mainCatalog).filter(col("b") < 3).select("k", "b", "bb", "a"), valueCols,
      columnar = true)
    checkLookup(read(mainCatalog).filter(col("k") === 26L).select("k", "bb", "b"), valueCols)
    val pruned = read(avroCatalog, avroOpts: _*).select(col("k"), col("s.x"))
    assert(partitions(pruned).head.requiredSchema("s").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("x"))
    check(pruned, ColumnSet.Columns(Set(("f", "s"))), columnar = false)
  }

  test("salted and Avro struct keys") {
    check(read(saltedCatalog), ColumnSet.Columns(Set(("f", "v"))), columnar = true)
    checkLookup(read(saltedCatalog).filter(col("k").isin(3L, 40L)),
      ColumnSet.Columns(Set(("f", "v"))))
    check(read(avroCatalog, avroOpts: _*).select("k", "v"),
      ColumnSet.Columns(Set(("f", "v"))), columnar = false)
  }

  test("TTL hides cells older than the window") {
    val rows = check(read(ttlCatalog, "ttl" -> "86400000"), ColumnSet.Columns(Set(("f", "v"))),
      columnar = true)
    assert(rows.map(_.getLong(0)) == (10L until 40L))
    checkLookup(read(ttlCatalog, "ttl" -> "86400000").filter(col("k").isin(5L, 15L)),
      ColumnSet.Columns(Set(("f", "v"))))
  }

  test("_cell_ts spans the restrictive mode's columns: none, family, column and auto") {
    def cellTs(mode: String) =
      read(mainCatalog, "restrictive" -> mode).select("k", "a", "_cell_ts")
    check(cellTs("none"), ColumnSet.All, columnar = true)
    check(cellTs("family"), ColumnSet.Families(Set("f")), columnar = true)
    check(cellTs("column"), ColumnSet.Columns(Set(("f", "a"))), columnar = true)
    val auto = check(cellTs("auto"), ColumnSet.All, columnar = true)
    // auto: the row's newest stamp, whatever the projection
    assert(auto.contains(Row(55L, "a55", 3000L)))
    // a key-only projection under restrictive=column spans no column
    val keyOnly = check(read(mainCatalog, "restrictive" -> "column").select("k", "_cell_ts"),
      ColumnSet.Columns(Set.empty), columnar = true)
    assert(keyOnly.forall(_.isNullAt(1)))
    checkLookup(cellTs("column").filter(col("k").isin(55L, 305L)),
      ColumnSet.Columns(Set(("f", "a"))))
    checkLookup(cellTs("auto").filter(col("k").isin(55L, 305L)), ColumnSet.All)
  }

  test("top-N DESC walks backwards; a pushed limit stops each partition") {
    val topN = read(mainCatalog).select("k", "a", "c").orderBy(col("k").desc).limit(7)
    assert(partitions(topN).forall(p => p.reverse && p.limit.contains(7)))
    check(topN, valueCols, columnar = true)
    val limited = read(mainCatalog).select("k", "a").limit(5)
    assert(partitions(limited).forall(_.limit.contains(5)))
    check(limited, valueCols, columnar = true)
  }

  test("CDC reads: upserts with _cell_ts, then unsuppressed tombstones") {
    val window = Some(TimeRange(1500L, 5000L))
    def cdc(opts: (String, String)*) =
      read(mainCatalog, Seq("tombstones" -> "true", "minStamp" -> "1500", "maxStamp" -> "5000") ++
        opts: _*).select("k", "a", "_cell_ts", "_deleted")
    val rows = check(cdc(), ColumnSet.All, columnar = false, tombstones = window)
    assert(rows.contains(Row(7L, null, 4000L, true)))
    assert(rows.contains(Row(14L, "back", 4500L, false)))
    assert(!rows.contains(Row(14L, null, 4000L, true)))
    check(cdc("restrictive" -> "column"), ColumnSet.Columns(Set(("f", "a"))), columnar = false,
      tombstones = window)
    check(cdc().filter(col("k") < 100L), ColumnSet.All, columnar = false, tombstones = window)
  }

  test("kv x kv join: the left walk and the right point probes give the reference's rows") {
    val conf = "spark.sql.optimizer.datasourceV2JoinPushdown"
    spark.conf.set(conf, "true")
    try {
      for (how <- Seq("inner", "left"); rightFiltered <- Seq(false, true)) {
        val left = read(mainCatalog).select("k", "a", "c")
        val rightRead = read(rightCatalog)
        val right = (if (rightFiltered) rightRead.filter(col("w") > 3) else rightRead)
          .select("k", "v", "vv")
        val joined = left.join(right, Seq("k"), how)
        val got = joined.collect().toSeq
        assert(joined.queryExecution.executedPlan.toString.contains("GraftKvJoinScan"))
        val rightRows = partitions(right).flatMap(reference(_, ColumnSet.Columns(Set(("f", "v")))))
          .map(r => r.getLong(0) -> r).toMap
        val want = partitions(left).flatMap(reference(_, valueCols)).flatMap { l =>
          rightRows.get(l.getLong(0)) match {
            case Some(r) => Some(Row(l(0), l(1), l(2), r(1), r(2)))
            case None if how == "left" => Some(Row(l(0), l(1), l(2), null, null))
            case None => None
          }
        }
        assert(want.exists(_.isNullAt(3)))
        assert(got == want, s"$how join, right filtered: $rightFiltered")
      }
    } finally spark.conf.unset(conf)
  }

  test("a limit-pushed range and a take(2) of a multi-key get count the rows they serve") {
    val range = read(mainCatalog).filter(col("k") >= 100L && col("k") < 150L).select("k", "a")
    assert(partitions(range.limit(5)).forall(_.limit.contains(5)))
    assert(factory.supportColumnarReads(partitions(range.limit(5)).head))
    val before = KvStore.rowsServed
    assert(range.limit(5).collect().length == 5)
    assert(KvStore.rowsServed - before == 5L)
    val rowPath = read(mainCatalog, "tombstones" -> "true")
      .filter(col("k") >= 100L && col("k") < 150L).select("k", "a", "_deleted")
    val before2 = KvStore.rowsServed
    assert(rowPath.limit(5).collect().length == 5)
    assert(KvStore.rowsServed - before2 == 5L)
    val get = read(mainCatalog).filter(col("k").isin(40L, 41L, 42L, 43L, 44L))
    val before3 = KvStore.rowsServed
    assert(get.take(2).length == 2)
    assert(KvStore.rowsServed - before3 == 2L)
  }

  test("a walked read that throws on a corrupt cell releases its scan lease on each reader") {
    val baseline = KvStore.openScanCount
    // a job fails with its first failed task; the others release their
    // leases as they end
    def released(): Unit = eventually(timeout(10.seconds)) {
      assert(KvStore.openScanCount == baseline)
    }
    def throws(df: => DataFrame): Unit = {
      intercept[Exception](df.collect())
      released()
    }
    val columnar = read(corruptCatalog)
    assert(factory.supportColumnarReads(partitions(columnar).head))
    throws(columnar)
    throws(read(corruptCatalog, "tombstones" -> "true").select("k", "n", "_deleted"))
    throws(read(corruptCatalog).filter(col("k").isin(29L, 30L)))
    val conf = "spark.sql.optimizer.datasourceV2JoinPushdown"
    spark.conf.set(conf, "true")
    try {
      throws(read(corruptCatalog).join(read(mainCatalog).select("k", "a"), Seq("k")))
      throws(read(mainCatalog).select("k", "a").join(read(corruptCatalog), Seq("k")))
    } finally spark.conf.unset(conf)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-walk-cdc").toString
    val q = spark.readStream.format("graft-kv")
      .option("catalog", corruptCatalog).option("tombstones", "true").load()
      .writeStream.foreachBatch { (df: DataFrame, _: Long) => df.collect(); () }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    intercept[Exception](q.awaitTermination())
    released()
  }
}
