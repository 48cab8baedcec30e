package graft.datasource

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ranges.ScanRange
import graft.store.{KvCell, KvPredicate, KvStore}
import graft.types.{FieldCoder, PrimitiveCoder}

/** Value-column coder for the types the built-in coders do not serve:
  * dates as 4-byte day numbers, decimals as their decimal string. */
class DateDecimalCoder extends FieldCoder {
  override def name: String = getClass.getName
  override def preservesOrdering(dt: DataType): Boolean = false
  override def supportsComposite: Boolean = false
  override def byteWidth(dt: DataType): Int = -1
  override def encode(dt: DataType, v: Any): Array[Byte] = dt match {
    case DateType => java.nio.ByteBuffer.allocate(4).putInt(v.asInstanceOf[Int]).array()
    case _: DecimalType => v.asInstanceOf[java.math.BigDecimal].toPlainString.getBytes("UTF-8")
    case _ => throw new UnsupportedOperationException(dt.toString)
  }
  override def decode(dt: DataType, b: Array[Byte], off: Int, len: Int): Any = dt match {
    case DateType => java.nio.ByteBuffer.wrap(b, off, len).getInt
    case _: DecimalType => new java.math.BigDecimal(new String(b, off, len, "UTF-8"))
    case _ => throw new UnsupportedOperationException(dt.toString)
  }
  override def lessRanges(dt: DataType, v: Any, incl: Boolean): Seq[ScanRange[Array[Byte]]] =
    Seq(ScanRange.all)
  override def greaterRanges(dt: DataType, v: Any, incl: Boolean): Seq[ScanRange[Array[Byte]]] =
    Seq(ScanRange.all)
}

/** The pushed-aggregate fold ([[graft.store.KvTable.walk]] under
  * [[GraftAggPartitionReader]] / [[GraftGroupAggPartitionReader]]) gives
  * the answers Spark computes by aggregating the plain row scan, and the
  * shapes it cannot serve are left to that row scan. */
class AggFoldSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); KvStore.dropAll() }

  import spark.implicits._

  private def allPlanNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allPlanNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allPlanNodes(q.plan)
    case _ => p +: p.children.flatMap(allPlanNodes)
  }

  private def scanMetrics(df: DataFrame): Map[String, Long] =
    allPlanNodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get.metrics.map { case (k, m) => k -> m.value }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def read(catalog: String, opts: (String, String)*): DataFrame =
    spark.read.format("graft-kv").options(Map("catalog" -> catalog) ++ opts).load()

  private def write(df: DataFrame, catalog: String, opts: (String, String)*): Unit =
    df.write.format("graft-kv").options(Map("catalog" -> catalog) ++ opts)
      .mode("append").save()

  /** `aggs` over `rows` pushed into the store, against the same aggregate
    * over `rows` collected and handed to Spark as a local relation. */
  private def sameAsRowScan(rows: DataFrame, group: Seq[String], aggs: Column*): Seq[Row] = {
    def agg(df: DataFrame): DataFrame =
      if (group.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(group.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val pushed = agg(rows)
    assert(plan(pushed).contains("pushedAggregates"), plan(pushed).take(3000))
    val local = spark.createDataFrame(rows.collect().toList.asJava, rows.schema)
    val got = pushed.collect().toSeq.sortBy(_.toString)
    val want = agg(local).collect().toSeq.sortBy(_.toString)
    assert(got == want)
    got
  }

  private val walkCatalog =
    """{"table":{"namespace":"default", "name":"fold_walk"},
      |"rowkey":"key",
      |"columns":{
      |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"qty":{"cf":"f", "col":"q", "type":"int"}}}""".stripMargin

  test("rows walked are reported: a full-key get walks 1 row, a value-filtered scan walks all") {
    write((0L until 200L).map(i => (i, (i % 50).toInt)).toDF("key", "qty"), walkCatalog,
      "newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "200")
    val get = read(walkCatalog).filter(col("key") === 42L)
    assert(get.collect().length == 1)
    assert(scanMetrics(get)("graftRowsWalked") == 1L)
    assert(scanMetrics(get)("graftRowsScanned") == 1L)
    val scan = read(walkCatalog).filter(col("qty") < 10)
    assert(scan.collect().length == 40)
    assert(scanMetrics(scan)("graftRowsWalked") == 200L)
    assert(scanMetrics(scan)("graftRowsScanned") == 40L)
    val folded = scan.agg(count(lit(1)))
    assert(plan(folded).contains("pushedAggregates"))
    assert(folded.collect().head.getLong(0) == 40L)
    assert(scanMetrics(folded)("graftRowsWalked") == 200L)
    assert(scanMetrics(folded)("graftRowsScanned") == 40L)

    // the store calls themselves: walked counts every row, served only matches
    val t = KvStore.table("default:fold_walk")
    val lt10 = Some(KvPredicate.ValueCmp("f", "q", KvPredicate.Lt, 10, IntegerType, PrimitiveCoder))
    val served0 = KvStore.rowsServed
    val scans = t.regionInfos.map(r => t.scan(r.index, ScanRange.all, graft.store.ColumnSet.All,
      None, 1, lt10))
    assert(scans.map(_.size).sum == 40)
    assert(scans.map(_.rowsWalked).sum == 200L)
    assert(KvStore.rowsServed - served0 == 40L)
    val walks = t.regionInfos.map(r => t.walk(r.index, ScanRange.all, Array(("f", "q")), None, lt10))
    val qtys = walks.flatMap { w =>
      Iterator.continually(w).takeWhile(_.next()).map(w => PrimitiveCoder.decode(IntegerType, w.cells(0)))
    }
    assert(qtys.map(_.asInstanceOf[Int]).sorted == (0 until 10).flatMap(q => Seq.fill(4)(q)))
    assert(walks.map(_.rowsWalked).sum == 200L)
    assert(KvStore.rowsServed - served0 == 80L)
  }

  private val shapesCatalog =
    s"""{"table":{"namespace":"default", "name":"fold_shapes"},
       |"rowkey":"key",
       |"columns":{
       |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
       |"s":{"cf":"f", "col":"s", "type":"string"},
       |"d":{"cf":"f", "col":"d", "type":"decimal(10,2)", "coder":"${classOf[DateDecimalCoder].getName}"},
       |"dt":{"cf":"f", "col":"dt", "type":"date", "coder":"${classOf[DateDecimalCoder].getName}"},
       |"x":{"cf":"f", "col":"x", "type":"double"},
       |"n":{"cf":"f", "col":"n", "type":"bigint"},
       |"other":{"cf":"g", "col":"o", "type":"string"}}}""".stripMargin

  private lazy val shapes: DataFrame = {
    val schema = StructType(Seq(StructField("key", LongType, nullable = false),
      StructField("s", StringType), StructField("d", DecimalType(10, 2)),
      StructField("dt", DateType), StructField("x", DoubleType),
      StructField("n", LongType), StructField("other", StringType)))
    val rows = (0 until 300).map { i =>
      // every 60th row has no aggregated cell, only `other`
      def opt[A](skip: Boolean, v: => A): Any = if (i % 60 == 0 || skip) null else v
      Row(i.toLong,
        opt(i % 5 == 0, f"s${i * 37 % 101}%03d"),
        opt(i % 7 == 0, java.math.BigDecimal.valueOf((i * 13 % 1000 - 300).toLong, 2)),
        opt(i % 11 == 0, java.sql.Date.valueOf(java.time.LocalDate.of(2000, 1, 1).plusDays(i * 17 % 900))),
        opt(i % 3 == 0, (i * 7 % 41 - 20) * 0.25),
        opt(i % 4 == 0, i * 1000L),
        s"o$i")
    }
    write(spark.createDataFrame(rows.asJava, schema), shapesCatalog,
      "newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "300")
    read(shapesCatalog)
  }

  test("the fold equals the row scan: counts over absent cells, min/max by type, sums") {
    val got = sameAsRowScan(shapes, Nil,
      count(lit(1)), count(col("s")), count(col("n")),
      min(col("s")), max(col("s")), min(col("d")), max(col("d")),
      min(col("dt")), max(col("dt")), min(col("x")), max(col("x")),
      sum(col("n")), sum(col("x")))
    assert(got.head.getLong(0) == 300L, "rows with no aggregated cell still count")
    // a filter that keeps only rows none of whose aggregated columns has a cell
    val empty = sameAsRowScan(shapes.filter(col("key") === 60L || col("key") === 120L), Nil,
      count(lit(1)), count(col("s")), max(col("d")), sum(col("n")))
    assert(empty == Seq(Row(2L, 0L, null, null)))
    // kv15's shape: a key range, then count/min/max/sum
    sameAsRowScan(shapes.filter(col("key") >= 100L), Nil,
      count(lit(1)), count(col("s")), min(col("x")), max(col("x")),
      min(col("s")), max(col("key")), sum(col("key")))
    // a value predicate the store evaluates before folding
    sameAsRowScan(shapes.filter(col("x") < 0.0), Nil, count(lit(1)), sum(col("x")), max(col("dt")))
  }

  test("integral sums raise on overflow under ANSI on both paths") {
    val cat =
      """{"table":{"namespace":"default", "name":"fold_ovf"},
        |"rowkey":"key",
        |"columns":{
        |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"v":{"cf":"f", "col":"v", "type":"bigint"}}}""".stripMargin
    write(Seq((1L, Long.MaxValue), (2L, Long.MaxValue)).toDF("key", "v"), cat,
      "newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "10")
    val df = read(cat)
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    val pushed = df.agg(sum(col("v")))
    assert(plan(pushed).contains("pushedAggregates"))
    assert(chain(intercept[Exception](pushed.collect())).exists(_.isInstanceOf[ArithmeticException]))
    val local = spark.createDataFrame(df.collect().toList.asJava, df.schema).agg(sum(col("v")))
    assert(chain(intercept[Exception](local.collect())).exists(_.isInstanceOf[ArithmeticException]))
  }

  private val timeCatalog =
    """{"table":{"namespace":"default", "name":"fold_time"},
      |"rowkey":"key",
      |"columns":{
      |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"a":{"cf":"f", "col":"a", "type":"bigint"},
      |"b":{"cf":"f", "col":"b", "type":"string"}}}""".stripMargin

  private lazy val timeTable: Unit = {
    val opts = Seq("newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "120",
      "maxVersions" -> "3")
    write((0L until 120L).map(i => (i, i, s"A$i")).toDF("key", "a", "b"), timeCatalog,
      opts :+ ("timestamp" -> "1000"): _*)
    write((0L until 120L by 2L).map(i => (i, i * 10)).toDF("key", "a"), timeCatalog,
      opts :+ ("timestamp" -> "2000"): _*)
    write((0L until 120L by 3L).map(i => (i, s"C$i")).toDF("key", "b"), timeCatalog,
      opts :+ ("timestamp" -> "3000"): _*)
  }

  test("the fold equals the row scan under a time range and a TTL window") {
    timeTable
    val aggs = Seq(count(lit(1)), count(col("a")), count(col("b")), sum(col("a")),
      min(col("b")), max(col("a")))
    val windowed = sameAsRowScan(read(timeCatalog, "minStamp" -> "1500", "maxStamp" -> "3500"),
      Nil, aggs: _*)
    assert(windowed.head.getLong(0) == 80L, "rows with a cell in [1500, 3500): even or /3")
    sameAsRowScan(read(timeCatalog, "timestamp" -> "1000"), Nil, aggs: _*)
    // TTL: the old cells fall outside the window, the fresh ones stay
    val now = System.currentTimeMillis()
    write((0L until 120L by 4L).map(i => (i, -i)).toDF("key", "a"), timeCatalog,
      "timestamp" -> now.toString)
    val ttl = sameAsRowScan(read(timeCatalog, "ttl" -> "3600000"), Nil, aggs: _*)
    assert(ttl.head.getLong(0) == 30L && ttl.head.getLong(2) == 0L)
  }

  test("salted keys, composite key parts (kv17's shape) and an index-ordered GROUP BY") {
    val salted =
      """{"table":{"namespace":"default", "name":"fold_salted", "salt":"4"},
        |"rowkey":"key",
        |"columns":{
        |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"v":{"cf":"f", "col":"v", "type":"bigint"},
        |"w":{"cf":"f", "col":"w", "type":"string"}}}""".stripMargin
    write((0L until 200L).map(i => (i, i % 13, s"w${i % 17}")).toDF("key", "v", "w"), salted,
      "newtable" -> "4")
    sameAsRowScan(read(salted), Nil, count(lit(1)), sum(col("v")), min(col("w")), max(col("key")))
    sameAsRowScan(read(salted).filter(col("key") > 150L), Nil, count(lit(1)), min(col("key")))

    val orders =
      """{"table":{"namespace":"default", "name":"fold_orders"},
        |"rowkey":"key1:key2",
        |"columns":{
        |"st":{"cf":"rowkey", "col":"key1", "type":"string", "length":"1"},
        |"ok":{"cf":"rowkey", "col":"key2", "type":"bigint", "coder":"Phoenix"},
        |"cust":{"cf":"f", "col":"c", "type":"bigint"},
        |"price":{"cf":"f", "col":"p", "type":"double"},
        |"pri":{"cf":"f", "col":"r", "type":"string"}}}""".stripMargin
    write((0L until 400L).map { i =>
      (Seq("F", "O", "P")((i % 3).toInt), i, i % 37, (i % 50) * 0.5,
        if (i % 6 == 0) None else Some(s"${i % 5}-P"))
    }.toDF("st", "ok", "cust", "price", "pri"), orders, "newtable" -> "4")
    val grouped = sameAsRowScan(read(orders).filter(col("ok") < 300L), Seq("st"),
      count(lit(1)), count(col("pri")), min(col("price")), max(col("price")),
      max(col("ok")), sum(col("cust")))
    assert(grouped.map(_.getString(0)) == Seq("F", "O", "P"))
    assert(plan(read(orders).groupBy("st").agg(count(lit(1)))).contains("pushedGroupBy=[st]"))

    val indexed =
      """{"table":{"namespace":"default", "name":"fold_idx"},
        |"rowkey":"key",
        |"columns":{
        |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"city":{"cf":"f", "col":"c", "type":"string", "index":"true"}}}""".stripMargin
    write((0L until 200L).map(i => (i, s"c${i % 9}")).toDF("key", "city"), indexed,
      "newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "200")
    val byCity = read(indexed).filter(col("city") >= "c3")
    val viaIndex = byCity.groupBy("city").agg(count(lit(1)))
    assert(plan(viaIndex).contains("pushedGroupBy=[city]") &&
      plan(viaIndex).contains("index-only"), plan(viaIndex).take(3000))
    sameAsRowScan(byCity, Seq("city"), count(lit(1)), max(col("key")), sum(col("key")))
  }

  test("exploded versions and dynamic or versioned columns aggregate off the row scan") {
    timeTable
    val exploded = read(timeCatalog, "mergeToLatest" -> "false", "maxVersions" -> "3")
    val explodedCount = exploded.agg(count(lit(1)))
    assert(!plan(explodedCount).contains("pushedAggregates"), plan(explodedCount).take(3000))
    assert(explodedCount.collect().head.getLong(0) == exploded.collect().length.toLong)
    assert(exploded.collect().length > 120)

    val versioned =
      """{"table":{"namespace":"default", "name":"fold_time"},
        |"rowkey":"key",
        |"columns":{
        |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"a":{"cf":"f", "col":"a", "type":"map<bigint,bigint>"}}}""".stripMargin
    val vCount = read(versioned, "maxVersions" -> "3").agg(count(col("a")), count(lit(1)))
    assert(!plan(vCount).contains("pushedAggregates"), plan(vCount).take(3000))
    assert(vCount.collect().head == Row(120L, 120L))

    val dynamic =
      """{"table":{"namespace":"default", "name":"fold_dyn"},
        |"rowkey":"key",
        |"columns":{
        |"key":{"cf":"rowkey", "col":"key", "type":"string"},
        |"dyn":{"cf":"d", "col":"", "type":"map<string,int>"},
        |"v":{"cf":"f", "col":"v", "type":"int"}}}""".stripMargin
    write(Seq(("a", Some(Map("x" -> 1)), 1), ("b", None, 2), ("c", Some(Map("y" -> 2, "z" -> 3)), 3))
      .toDF("key", "dyn", "v"), dynamic, "newtable" -> "4")
    val dCount = read(dynamic).agg(count(col("dyn")), sum(col("v")))
    assert(!plan(dCount).contains("pushedAggregates"), plan(dCount).take(3000))
    assert(dCount.collect().head == Row(2L, 6L))
  }

  test("a fold that throws on a corrupt cell releases its scan lease") {
    val cat =
      """{"table":{"namespace":"default", "name":"fold_corrupt"},
        |"rowkey":"key",
        |"columns":{
        |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"n":{"cf":"f", "col":"n", "type":"bigint"}}}""".stripMargin
    write((0L until 50L).map(i => (i, i)).toDF("key", "n"), cat,
      "newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "50")
    // a 1-byte bigint cell: its decode reads past the value
    KvStore.table("default:fold_corrupt").put(PrimitiveCoder.encode(LongType, 7L),
      Seq(KvCell("f", "n", System.currentTimeMillis() + 60000L, Array(1.toByte))))
    val baseline = KvStore.openScanCount
    val agg = read(cat).agg(sum(col("n")))
    assert(plan(agg).contains("pushedAggregates"))
    intercept[Exception](agg.collect())
    assert(KvStore.openScanCount == baseline)
  }

  test("a supplementary character orders above U+FFFD on the scan and walk paths") {
    // UTF-8 byte order (Spark's string order) is code point order; UTF-16
    // code unit order puts a surrogate pair below U+E000..U+FFFF
    val emoji = new String(Character.toChars(0x1F600))
    val cat =
      """{"table":{"namespace":"default", "name":"fold_utf"},
        |"rowkey":"key",
        |"columns":{
        |"key":{"cf":"rowkey", "col":"key", "type":"bigint"},
        |"s":{"cf":"f", "col":"s", "type":"string"}}}""".stripMargin
    write(Seq(1L -> "a", 2L -> "\uFFFD", 3L -> emoji, 4L -> ("a" + emoji), 5L -> "a\uFFFD")
      .toDF("key", "s"), cat, "newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "10")
    def keys(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet
    val above = read(cat).filter(col("s") > "\uFFFD")
    assert(keys(above) == Set(3L))
    assert(scanMetrics(above)("graftRowsScanned") == 1L)
    val below = read(cat).filter(col("s") < emoji)
    assert(keys(below) == Set(1L, 2L, 4L, 5L))
    assert(keys(read(cat).filter(col("s") > "a\uFFFD")) == Set(2L, 3L, 4L))
    val folded = read(cat).filter(col("s") > "\uFFFD").agg(count(lit(1)), max(col("s")))
    assert(plan(folded).contains("pushedAggregates"), plan(folded))
    assert(folded.collect().head == Row(1L, emoji))
    sameAsRowScan(read(cat).filter(col("s") >= "a\uFFFD"), Nil, count(lit(1)), min(col("s")))

    val strs = Seq("", "a", "\u007F", "\u0080", "\uD7FF", "\uE000", "\uFFFD", "\uFFFF",
      new String(Character.toChars(0x10000)), emoji, new String(Character.toChars(0x10FFFF)),
      "ab", "a" + emoji, "a\uFFFD")
    for (x <- strs; y <- strs) {
      val want = Integer.signum(graft.ranges.BytesUtil.compareBytes(x.getBytes("UTF-8"),
        y.getBytes("UTF-8")))
      assert(Integer.signum(KvPredicate.compareTyped(x, y)) == want,
        s"${x.codePoints.toArray.toSeq} vs ${y.codePoints.toArray.toSeq}")
    }
    assert(KvPredicate.compareTyped(Int.box(3), Long.box(2L)) > 0)
    assert(KvPredicate.compareTyped(Double.box(Double.NaN), Double.box(1.0)) > 0)
    assert(KvPredicate.compareTyped(new java.math.BigDecimal("1.5"),
      new java.math.BigDecimal("2")) < 0)
  }
}
