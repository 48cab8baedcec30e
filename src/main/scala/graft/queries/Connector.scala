package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver-facing queries exercising the graft-kv connector operators from
  * SURVEY.md §2.1-2.4: each loads a parquet table, round-trips it through the
  * embedded store via the DSv2 write+read paths, and queries it back with
  * pushdown — so the DuckDB oracle over the original parquet checks the whole
  * connector (catalog, coders, DDL+presplit, write encoder, scan, filter
  * compiler, partition pruning, materializer) end to end.
  */
object Connector {

  // customer subset without timestamp columns (catalog types: SURVEY §1.3)
  private[queries] val customerCatalog =
    """{"table":{"namespace":"default", "name":"kv_customer"},
      |"rowkey":"key",
      |"columns":{
      |"c_custkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"c_name":{"cf":"f", "col":"name", "type":"string"},
      |"c_nationkey":{"cf":"f", "col":"nationkey", "type":"int"},
      |"c_acctbal":{"cf":"f", "col":"acctbal", "type":"double"},
      |"c_mktsegment":{"cf":"f", "col":"mktsegment", "type":"string"}}}""".stripMargin

  /** Idempotent: write once per (JVM, table); rows are keyed so re-writes
    * are no-ops. Numeric presplits derive from actual key stats (one cheap
    * max() over the key column) so the 8 regions stay balanced over the real
    * key range — the partition-planning story that must survive 1000
    * executors; a fixed guess would dump every row in one region. */
  private[queries] def ensureCustomer(s: SparkSession, dir: String): Unit = {
    if (!graft.store.KvStore.exists("default:kv_customer")) {
      val df = Tables.customer(s, dir)
      val maxKey = df.agg(org.apache.spark.sql.functions.max("c_custkey")).head().getLong(0)
      df.write.format("graft-kv")
        .options(Map("catalog" -> customerCatalog, "newtable" -> "8",
          "minSplitNum" -> "0", "maxSplitNum" -> maxKey.toString))
        .mode("append").save()
    }
  }

  private def readCustomer(s: SparkSession): DataFrame =
    s.read.format("graft-kv").option("catalog", customerCatalog).load()

  /** kv1: relation provider + scan + projection pruning (§2.1, §2.2). */
  def kv1ScanProject(s: SparkSession, dir: String): DataFrame = {
    ensureCustomer(s, dir)
    readCustomer(s)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val kv1Sql: String =
    "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey"

  /** kv2: row-key range pushdown + column predicate (§2.2 Less/Greater). */
  def kv2RangePushdown(s: SparkSession, dir: String): DataFrame = {
    ensureCustomer(s, dir)
    readCustomer(s)
      .filter(col("c_custkey") >= 50 && col("c_custkey") < 120 && col("c_acctbal") > 0.0)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val kv2Sql: String =
    """SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
      |WHERE c_custkey >= 50 AND c_custkey < 120 AND c_acctbal > 0.0
      |ORDER BY c_custkey""".stripMargin

  /** kv3: IN → point-range union; NOT IN → set-difference rewrite (§2.2). */
  def kv3InNotIn(s: SparkSession, dir: String): DataFrame = {
    ensureCustomer(s, dir)
    readCustomer(s)
      .filter(col("c_custkey").isin(1L, 5L, 9L, 42L, 77L) &&
        !col("c_custkey").isin(9L, 200L))
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val kv3Sql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN (1, 5, 9, 42, 77) AND c_custkey NOT IN (9, 200)
      |ORDER BY c_custkey""".stripMargin

  /** kv4: string predicate pushdown — StartsWith/Contains (§2.2). */
  def kv4StringPushdown(s: SparkSession, dir: String): DataFrame = {
    ensureCustomer(s, dir)
    readCustomer(s)
      .filter(col("c_mktsegment").startsWith("A") || col("c_name").contains("21"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val kv4Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_mktsegment LIKE 'A%' OR c_name LIKE '%21%'
      |ORDER BY c_custkey""".stripMargin

  // composite key: status (1 char, fixed) : orderkey (8 bytes)
  private[queries] val ordersCatalog =
    """{"table":{"namespace":"default", "name":"kv_orders"},
      |"rowkey":"key1:key2",
      |"columns":{
      |"o_orderstatus":{"cf":"rowkey", "col":"key1", "type":"string", "length":"1"},
      |"o_orderkey":{"cf":"rowkey", "col":"key2", "type":"bigint", "coder":"Phoenix"},
      |"o_custkey":{"cf":"f", "col":"custkey", "type":"bigint"},
      |"o_totalprice":{"cf":"f", "col":"totalprice", "type":"double"},
      |"o_orderpriority":{"cf":"f", "col":"priority", "type":"string"}}}""".stripMargin

  private def ensureOrders(s: SparkSession, dir: String): Unit = {
    if (!graft.store.KvStore.exists("default:kv_orders")) {
      Tables.orders(s, dir)
        .select("o_orderstatus", "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.format("graft-kv")
        .options(Map("catalog" -> ordersCatalog, "newtable" -> "6"))
        .mode("append").save()
    }
  }

  /** kv5: composite row key — first-part prefix pruning + suffix-part
    * predicate pushed as a key predicate (§2.3, §7.4(3)). */
  def kv5CompositeKey(s: SparkSession, dir: String): DataFrame = {
    ensureOrders(s, dir)
    s.read.format("graft-kv").option("catalog", ordersCatalog).load()
      .filter(col("o_orderstatus") === "F" && col("o_orderkey") < 500L)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  val kv5Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |WHERE o_orderstatus = 'F' AND o_orderkey < 500
      |ORDER BY o_orderkey""".stripMargin

  /** kv6: cross-table equi-join through the connector (the reference's
    * cross-cluster join, JoinTablesFrom2Clusters.scala:101-133). */
  def kv6JoinTables(s: SparkSession, dir: String): DataFrame = {
    ensureCustomer(s, dir)
    ensureOrders(s, dir)
    val c = readCustomer(s)
    val o = s.read.format("graft-kv").option("catalog", ordersCatalog).load()
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        Relational.microUnits(sum(col("o_totalprice").cast("decimal(18,6)"))).as("total"))
      .orderBy(col("c_mktsegment"))
  }

  val kv6Sql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // versioned table: two timestamped writes of customer balances
  private val versionCatalog =
    """{"table":{"namespace":"default", "name":"kv_versions"},
      |"rowkey":"key",
      |"columns":{
      |"c_custkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"c_acctbal":{"cf":"f", "col":"acctbal", "type":"double"}}}""".stripMargin

  /** kv7: MVCC cell versions — two stamped writes, `mergeToLatest=false`
    * row explosion (§1.5; reference MaxVersionsSuite semantics). */
  def kv7Versions(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_versions")) {
      val base = Tables.customer(s, dir).select("c_custkey", "c_acctbal")
      val maxKey = base.agg(org.apache.spark.sql.functions.max("c_custkey")).head().getLong(0)
      base.write.format("graft-kv")
        .options(Map("catalog" -> versionCatalog, "newtable" -> "4",
          "timestamp" -> "1000", "maxVersions" -> "2",
          "minSplitNum" -> "0", "maxSplitNum" -> maxKey.toString))
        .mode("append").save()
      base.withColumn("c_acctbal", col("c_acctbal") + 1.0)
        .write.format("graft-kv")
        .options(Map("catalog" -> versionCatalog, "timestamp" -> "2000", "maxVersions" -> "2"))
        .mode("append").save()
    }
    s.read.format("graft-kv")
      .options(Map("catalog" -> versionCatalog,
        "mergeToLatest" -> "false", "maxVersions" -> "2"))
      .load()
      .orderBy(col("c_custkey"), col("c_acctbal"))
  }

  val kv7Sql: String =
    """SELECT c_custkey, c_acctbal FROM customer
      |UNION ALL
      |SELECT c_custkey, c_acctbal + 1.0 AS c_acctbal FROM customer
      |ORDER BY c_custkey, c_acctbal""".stripMargin

  // dynamic column: one map cell per (segment -> nationkey)
  private val dynCatalog =
    """{"table":{"namespace":"default", "name":"kv_dynamic"},
      |"rowkey":"key",
      |"columns":{
      |"c_custkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"props":{"cf":"f", "col":"", "type":"map<string,int>"}}}""".stripMargin

  /** kv8: dynamic (schema-on-read) map columns (§1.4). */
  def kv8DynamicColumns(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_dynamic")) {
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          map(col("c_mktsegment"), col("c_nationkey")).as("props"))
        .write.format("graft-kv")
        .options(Map("catalog" -> dynCatalog, "newtable" -> "4",
          "minSplitNum" -> "0", "maxSplitNum" -> "200000"))
        .mode("append").save()
    }
    s.read.format("graft-kv").option("catalog", dynCatalog).load()
      .select(col("c_custkey"), explode(col("props")).as(Seq("c_mktsegment", "c_nationkey")))
      .orderBy(col("c_custkey"))
  }

  val kv8Sql: String =
    """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer ORDER BY c_custkey""".stripMargin

  // Avro-encoded record column
  private val avroSchema =
    """{"type":"record","name":"Cust","fields":[
      |{"name":"name","type":"string"},
      |{"name":"acctbal","type":"double"}]}""".stripMargin

  private val avroCatalog =
    """{"table":{"namespace":"default", "name":"kv_avro"},
      |"rowkey":"key",
      |"columns":{
      |"c_custkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"rec":{"cf":"f", "col":"rec", "avro":"avroSchema"}}}""".stripMargin

  /** kv9: Avro value column with nested-field projection (§1.3;
    * reference AvroSourceSuite). */
  def kv9AvroRecord(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_avro")) {
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          struct(col("c_name").as("name"), col("c_acctbal").as("acctbal")).as("rec"))
        .write.format("graft-kv")
        .options(Map("catalog" -> avroCatalog, "avroSchema" -> avroSchema,
          "newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> "200000"))
        .mode("append").save()
    }
    s.read.format("graft-kv")
      .options(Map("catalog" -> avroCatalog, "avroSchema" -> avroSchema)).load()
      .select(col("c_custkey"), col("rec.name").as("c_name"), col("rec.acctbal").as("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val kv9Sql: String =
    "SELECT c_custkey, c_name, c_acctbal FROM customer ORDER BY c_custkey"

  // Phoenix coder table
  private val phoenixCatalog =
    """{"table":{"namespace":"default", "name":"kv_phoenix", "tableCoder":"Phoenix", "version":"2.0"},
      |"rowkey":"key",
      |"columns":{
      |"s_suppkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"s_name":{"cf":"f", "col":"name", "type":"string"},
      |"s_acctbal":{"cf":"f", "col":"acctbal", "type":"double"}}}""".stripMargin

  /** kv10: Phoenix order-preserving coder (§1.3; reference PhoenixSuite). */
  def kv10Phoenix(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_phoenix")) {
      Tables.supplier(s, dir).select("s_suppkey", "s_name", "s_acctbal")
        .write.format("graft-kv")
        .options(Map("catalog" -> phoenixCatalog, "newtable" -> "4"))
        .mode("append").save()
    }
    s.read.format("graft-kv").option("catalog", phoenixCatalog).load()
      .filter(col("s_suppkey") >= 2L && col("s_acctbal") > -1000.0)
      .orderBy(col("s_suppkey"))
  }

  val kv10Sql: String =
    """SELECT s_suppkey, s_name, s_acctbal FROM supplier
      |WHERE s_suppkey >= 2 AND s_acctbal > -1000.0
      |ORDER BY s_suppkey""".stripMargin

  /** kv11: SQL over a kv table MIXED with a parquet table — the reference's
    * LRJobForDataSources shape (hive × hbase in one SQL statement). The kv
    * supplier table (written by kv10) and the parquet nation table register
    * as temp views and join in SQL; pushdown still reaches the kv scan. */
  def kv11MixedSql(s: SparkSession, dir: String): DataFrame = {
    kv10Phoenix(s, dir).count() // ensure the kv table exists
    s.read.format("graft-kv").option("catalog", phoenixCatalog).load()
      .createOrReplaceTempView("kv_supplier_v")
    Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      .createOrReplaceTempView("supplier_keys_v")
    Tables.nation(s, dir).createOrReplaceTempView("nation_v")
    s.sql(
      """SELECT n.n_name, count(*) AS n_suppliers,
        |       CAST(CAST(sum(CAST(k.s_acctbal AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total_bal
        |FROM kv_supplier_v k
        |JOIN supplier_keys_v sk ON k.s_suppkey = sk.s_suppkey
        |JOIN nation_v n ON sk.s_nationkey = n.n_nationkey
        |WHERE k.s_acctbal > 0.0
        |GROUP BY n.n_name
        |ORDER BY n.n_name""".stripMargin)
  }

  val kv11Sql: String =
    """SELECT n.n_name, count(*) AS n_suppliers,
      |       CAST(CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total_bal
      |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
      |WHERE s.s_acctbal > 0.0
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  // Multi-cluster: supplier lives on cluster "east" (4 regions), nation on
  // cluster "west" (5 regions) — independent stores with different split
  // layouts, per-relation `cluster` option (the reference's per-DataFrame
  // hbaseConfigFile, JoinTablesFrom2Clusters.scala:101-133).
  private val msSupplierCatalog =
    """{"table":{"namespace":"default", "name":"kv_ms_supplier"},
      |"rowkey":"key",
      |"columns":{
      |"s_suppkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"s_name":{"cf":"f", "col":"name", "type":"string"},
      |"s_nationkey":{"cf":"f", "col":"nationkey", "type":"int"},
      |"s_acctbal":{"cf":"f", "col":"acctbal", "type":"double"}}}""".stripMargin

  private val msNationCatalog =
    """{"table":{"namespace":"default", "name":"kv_ms_nation"},
      |"rowkey":"key",
      |"columns":{
      |"n_nationkey":{"cf":"rowkey", "col":"key", "type":"int"},
      |"n_name":{"cf":"f", "col":"name", "type":"string"}}}""".stripMargin

  /** kv12: cross-CLUSTER join — two relations carrying different `cluster`
    * options resolve to independent stores (different split layouts), join
    * in one query, and pushdown still reaches both scans. */
  def kv12MultiCluster(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("east#default:kv_ms_supplier")) {
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      val maxKey = sup.agg(max("s_suppkey")).head().getLong(0)
      sup.write.format("graft-kv")
        .options(Map("catalog" -> msSupplierCatalog, "cluster" -> "east",
          "newtable" -> "4", "minSplitNum" -> "0", "maxSplitNum" -> maxKey.toString))
        .mode("append").save()
    }
    if (!graft.store.KvStore.exists("west#default:kv_ms_nation")) {
      Tables.nation(s, dir).select("n_nationkey", "n_name")
        .write.format("graft-kv")
        .options(Map("catalog" -> msNationCatalog, "cluster" -> "west",
          "newtable" -> "5", "minSplitNum" -> "0", "maxSplitNum" -> "24"))
        .mode("append").save()
    }
    val sup = s.read.format("graft-kv")
      .options(Map("catalog" -> msSupplierCatalog, "cluster" -> "east")).load()
      .filter(col("s_acctbal") > 0.0)
    val nat = s.read.format("graft-kv")
      .options(Map("catalog" -> msNationCatalog, "cluster" -> "west")).load()
    sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"))
      .orderBy(col("s_suppkey"))
  }

  val kv12Sql: String =
    """SELECT s_suppkey, s_name, n_name
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |WHERE s_acctbal > 0.0
      |ORDER BY s_suppkey""".stripMargin

  // Avro-encoded ROW KEY (reference AvroSourceKeySuite.scala:57-74): the key
  // bytes are an Avro record, which does not sort lexicographically, so the
  // coder declares preservesOrdering=false and every scan falls back to
  // full-range + exact residual predicates (no range pruning).
  private val avroKeySchema =
    """{"type":"record","name":"CK","fields":[
      |{"name":"ck","type":"long"},
      |{"name":"nk","type":"int"}]}""".stripMargin

  private val avroKeyCatalog =
    """{"table":{"namespace":"default", "name":"kv_avrokey"},
      |"rowkey":"key",
      |"columns":{
      |"k":{"cf":"rowkey", "col":"key", "avro":"keySchema"},
      |"c_acctbal":{"cf":"f", "col":"acctbal", "type":"double"}}}""".stripMargin

  /** kv13: table keyed BY an Avro record — write, read back, filter on a
    * nested key field (residual, exact), project nested key fields. */
  def kv13AvroKey(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_avrokey")) {
      Tables.customer(s, dir)
        .select(struct(col("c_custkey").as("ck"), col("c_nationkey").as("nk")).as("k"),
          col("c_acctbal"))
        .write.format("graft-kv")
        .options(Map("catalog" -> avroKeyCatalog, "keySchema" -> avroKeySchema,
          "newtable" -> "4"))
        .mode("append").save()
    }
    s.read.format("graft-kv")
      .options(Map("catalog" -> avroKeyCatalog, "keySchema" -> avroKeySchema)).load()
      .filter(col("k.nk") < 10)
      .select(col("k.ck").as("c_custkey"), col("k.nk").as("c_nationkey"), col("c_acctbal"))
      .orderBy(col("c_custkey"))
  }

  val kv13Sql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      |WHERE c_nationkey < 10
      |ORDER BY c_custkey""".stripMargin

  // mixed-retention table: family "f" keeps 2 versions, family "g" only 1
  private val mixedRetentionCatalog =
    """{"table":{"namespace":"default", "name":"kv_retention"},
      |"rowkey":"key",
      |"columns":{
      |"c_custkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"c_acctbal":{"cf":"f", "col":"acctbal", "type":"double"},
      |"c_mktsegment":{"cf":"g", "col":"mktsegment", "type":"string"}}}""".stripMargin

  /** kv14: PER-FAMILY maxVersions (HBase keeps the retention cap on each
    * column-family descriptor — reference HBaseRelation.scala:155-160): two
    * stamped writes into a table where family `f` retains 2 versions but
    * family `g` retains only 1. The exploded (`mergeToLatest=false`) read
    * shows both `f` versions, while `g`'s evicted older cell surfaces as
    * NULL on the older row. */
  def kv14FamilyRetention(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_retention")) {
      val base = Tables.customer(s, dir).select("c_custkey", "c_acctbal", "c_mktsegment")
      val maxKey = base.agg(max("c_custkey")).head().getLong(0)
      val writeOpts = Map("catalog" -> mixedRetentionCatalog,
        "maxVersions" -> "2", "familyMaxVersions" -> "g=1")
      base.write.format("graft-kv")
        .options(writeOpts ++ Map("newtable" -> "4", "timestamp" -> "1000",
          "minSplitNum" -> "0", "maxSplitNum" -> maxKey.toString))
        .mode("append").save()
      base.withColumn("c_acctbal", col("c_acctbal") + 1.0)
        .write.format("graft-kv")
        .options(writeOpts ++ Map("timestamp" -> "2000"))
        .mode("append").save()
    }
    s.read.format("graft-kv")
      .options(Map("catalog" -> mixedRetentionCatalog,
        "mergeToLatest" -> "false", "maxVersions" -> "2"))
      .load()
      .orderBy(col("c_custkey"), col("c_acctbal"))
  }

  val kv14Sql: String =
    """SELECT c_custkey, c_acctbal + 1.0 AS c_acctbal, c_mktsegment FROM customer
      |UNION ALL
      |SELECT c_custkey, c_acctbal, CAST(NULL AS VARCHAR) AS c_mktsegment FROM customer
      |ORDER BY c_custkey, c_acctbal""".stripMargin

  /** kv15: DSv2 AGGREGATE pushdown — count/min/max/sum folded inside the
    * store walk per region partition ([[graft.store.KvTable.walk]] under
    * [[graft.datasource.GraftAggPartitionReader]], no row object per
    * scanned row), each region answering with ONE partial row that Spark's final
    * aggregate merges (the DSv2 analogue of an HBase aggregation
    * coprocessor; the DSv1 reference has no hook for this). A key-range
    * predicate rides along: the store prunes regions AND rows first, then
    * aggregates only what survives — pinned by a plan audit
    * (`pushedAggregates` in the scan, partition count == region count). */
  def kv15AggPushdown(s: SparkSession, dir: String): DataFrame = {
    ensureCustomer(s, dir)
    readCustomer(s)
      .filter(col("c_custkey") >= 100L)
      .agg(count(lit(1)).as("n_rows"),
        count(col("c_mktsegment")).as("n_seg"),
        min(col("c_acctbal")).as("min_bal"),
        max(col("c_acctbal")).as("max_bal"),
        min(col("c_name")).as("min_name"),
        max(col("c_custkey")).as("max_key"),
        sum(col("c_custkey")).as("sum_key"))
  }

  val kv15Sql: String =
    """SELECT count(*) AS n_rows, count(c_mktsegment) AS n_seg,
      |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
      |  min(c_name) AS min_name, max(c_custkey) AS max_key,
      |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
      |FROM customer WHERE c_custkey >= 100""".stripMargin

  /** kv16: DSv2 TOP-N pushdown — ORDER BY row key + LIMIT stops each
    * region scan after its first `n` rows: the store scans regions in key
    * order, so a partition's first `n` rows ARE its top `n` and no region
    * reads past them ([[graft.datasource.GraftScanBuilder.pushTopN]];
    * ascending-key-prefix orderings only, order-preserving coders only —
    * an Avro row key declines). The range predicate composes: regions
    * prune first, surviving regions stop early. */
  def kv16TopnPushdown(s: SparkSession, dir: String): DataFrame = {
    ensureCustomer(s, dir)
    readCustomer(s)
      .filter(col("c_custkey") > 25L)
      .orderBy(col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
  }

  val kv16Sql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE c_custkey > 25 ORDER BY c_custkey LIMIT 20""".stripMargin

  /** kv17: GROUP BY a row-key PREFIX pushes per-group partials into the
    * region's store walk ([[graft.datasource.GraftGroupAggPartitionReader]]
    * over [[graft.store.KvTable.walk]]):
    * regions partition the key space disjointly and scan in key order, so
    * each region streams (group, count/min/max partials) with O(1) state —
    * emit on prefix change, no store-side hash map — and Spark's final
    * aggregate merges the few groups that span region boundaries. Per-region
    * movement drops from O(rows) to O(distinct prefixes). A suffix-key range
    * predicate rides along as an exact key predicate (no residual, which
    * would decline the push). */
  def kv17GroupbyPushdown(s: SparkSession, dir: String): DataFrame = {
    ensureOrders(s, dir)
    s.read.format("graft-kv").option("catalog", ordersCatalog).load()
      .filter(col("o_orderkey") < 3000L)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        count(col("o_orderpriority")).as("n_pri"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"),
        max(col("o_orderkey")).as("max_key"),
        sum(col("o_custkey")).as("sum_cust"))
      .orderBy(col("o_orderstatus"))
  }

  val kv17Sql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  count(o_orderpriority) AS n_pri,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
      |  max(o_orderkey) AS max_key,
      |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust
      |FROM orders WHERE o_orderkey < 3000
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** kv18: REVERSED top-N pushdown — ORDER BY the composite row key
    * DESCENDING + LIMIT rides a reversed region scan (the store's skip
    * list is a NavigableMap, so descending iteration is O(1) per step —
    * the HBase `Scan.setReversed` analogue the reference never exposed):
    * each region emits its LAST n rows in key-DESC order and stops, no
    * per-partition sort, no full-region read. Uniform descending direction
    * over a key prefix only; mixed directions decline. The trailing
    * `o_orderkey` part is Phoenix-coded (sign-flipped, byte order == value
    * order): a TRAILING Primitive-coded signed numeric would decline the
    * push — its negatives physically sort above positives within a status
    * tie, so only the leading part can ride the planner's sign-boundary
    * partition split ([[graft.datasource.GraftScanBuilder.pushTopN]]).
    * Order-preserving key encodings are the design rule for sorted-scan
    * optimizations at scale. */
  def kv18ReverseTopn(s: SparkSession, dir: String): DataFrame = {
    ensureOrders(s, dir)
    s.read.format("graft-kv").option("catalog", ordersCatalog).load()
      .orderBy(col("o_orderstatus").desc, col("o_orderkey").desc)
      .limit(15)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
  }

  val kv18Sql: String =
    """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |ORDER BY o_orderstatus DESC, o_orderkey DESC LIMIT 15""".stripMargin

  /** kv19: the SQL-first lifecycle through the DSv2 TableCatalog plugin
    * ([[graft.datasource.GraftTableCatalog]]) — CREATE TABLE with
    * TBLPROPERTIES (no JSON catalog string in user hands), INSERT INTO from
    * a parquet view, then a grouped read back through `graft.default.*`
    * identifiers. The read path is the same scan (pushdown included); the
    * DSv1 reference has no catalog integration at all. */
  def kv19SqlCatalog(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.datasource.GraftTableCatalog].getName)
    s.sql(
      """CREATE TABLE IF NOT EXISTS graft.default.sql_customer
        |  (c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE)
        |TBLPROPERTIES ('rowkey' = 'c_custkey', 'numRegions' = '4',
        |               'minSplitNum' = '0', 'maxSplitNum' = '20000')""".stripMargin)
    if (graft.store.KvStore.table("default:sql_customer").regions
        .forall(_.rows.isEmpty)) {
      Tables.customer(s, dir)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal")
        .createOrReplaceTempView("kv19_src")
      s.sql(
        """INSERT INTO graft.default.sql_customer
          |SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM kv19_src""".stripMargin)
    }
    s.sql(
      """SELECT c_nationkey, count(*) AS n, min(c_name) AS first_name,
        |       max(c_acctbal) AS max_bal
        |FROM graft.default.sql_customer WHERE c_custkey <= 1000
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
  }

  val kv19Sql: String =
    """SELECT c_nationkey, count(*) AS n, min(c_name) AS first_name,
      |       max(c_acctbal) AS max_bal
      |FROM customer WHERE c_custkey <= 1000
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** kv20: SQL row-level operations through the catalog plugin — UPDATE
    * with a value predicate, DELETE with a NON-compilable predicate (the
    * metadata delete steps aside), and a three-arm MERGE INTO — all
    * rewritten by Spark into scan → delta write per-row mutations
    * ([[graft.datasource.GraftRowLevelOperationBuilder]]); the oracle
    * replays the same edits relationally. The DSv1 reference has no
    * row-level surface at all. */
  def kv20SqlRowLevel(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.datasource.GraftTableCatalog].getName)
    s.sql("DROP TABLE IF EXISTS graft.default.sql_cust_rl")
    s.sql(
      """CREATE TABLE graft.default.sql_cust_rl
        |  (c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING)
        |TBLPROPERTIES ('rowkey' = 'c_custkey', 'numRegions' = '4',
        |               'minSplitNum' = '0', 'maxSplitNum' = '20000')""".stripMargin)
    Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .createOrReplaceTempView("kv20_src")
    s.sql("INSERT INTO graft.default.sql_cust_rl SELECT * FROM kv20_src")
    s.sql(
      """UPDATE graft.default.sql_cust_rl SET c_acctbal = c_acctbal + 100.0
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin)
    // the arithmetic predicate defeats the filter compiler on purpose, so
    // the delete exercises the row-level rewrite, not the metadata path
    s.sql("DELETE FROM graft.default.sql_cust_rl WHERE c_acctbal + 100.0 < 100.0")
    Tables.orders(s, dir).createOrReplaceTempView("kv20_orders")
    s.sql(
      """MERGE INTO graft.default.sql_cust_rl t
        |USING (SELECT o_custkey AS k, count(*) AS cnt
        |       FROM kv20_orders GROUP BY o_custkey) s
        |ON t.c_custkey = s.k
        |WHEN MATCHED THEN UPDATE SET c_name = concat(t.c_name, '/', CAST(s.cnt AS STRING))
        |WHEN NOT MATCHED THEN INSERT (c_custkey, c_name, c_acctbal, c_mktsegment)
        |  VALUES (s.k, concat('ghost/', CAST(s.cnt AS STRING)), CAST(0.0 AS DOUBLE), 'NONE')
        |""".stripMargin)
    s.sql(
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM graft.default.sql_cust_rl ORDER BY c_custkey""".stripMargin)
  }

  val kv20Sql: String =
    """WITH upd AS (
      |  SELECT c_custkey, c_name,
      |         CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 100.0
      |              ELSE c_acctbal END AS c_acctbal,
      |         c_mktsegment
      |  FROM customer),
      |del AS (SELECT * FROM upd WHERE NOT (c_acctbal + 100.0 < 100.0)),
      |src AS (SELECT o_custkey AS k, count(*) AS cnt FROM orders GROUP BY o_custkey),
      |matched AS (
      |  SELECT d.c_custkey,
      |         CASE WHEN s.k IS NOT NULL
      |              THEN d.c_name || '/' || CAST(s.cnt AS VARCHAR)
      |              ELSE d.c_name END AS c_name,
      |         d.c_acctbal, d.c_mktsegment
      |  FROM del d LEFT JOIN src s ON d.c_custkey = s.k),
      |ghosts AS (
      |  SELECT s.k AS c_custkey, 'ghost/' || CAST(s.cnt AS VARCHAR) AS c_name,
      |         CAST(0.0 AS DOUBLE) AS c_acctbal, 'NONE' AS c_mktsegment
      |  FROM src s WHERE s.k NOT IN (SELECT c_custkey FROM del))
      |SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM matched
      |UNION ALL SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM ghosts
      |ORDER BY c_custkey""".stripMargin

  // salted events table: monotonically increasing event_id is THE write
  // pattern salt buckets exist for (every append lands on the last region
  // of a range-split table; salt spreads it 1/n per bucket)
  private val saltedEventsCatalog =
    """{"table":{"namespace":"default", "name":"kv_salted_events", "salt":"8"},
      |"rowkey":"key",
      |"columns":{
      |"event_id":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"user_id":{"cf":"f", "col":"user", "type":"bigint"},
      |"event_type":{"cf":"f", "col":"etype", "type":"string"},
      |"value":{"cf":"f", "col":"value", "type":"double"}}}""".stripMargin

  /** kv21: SALTED table round trip — writes spread across 8 bucket regions
    * by a key-hash prefix byte ([[graft.catalog.GraftCatalog.saltBuckets]],
    * the Phoenix salt-bucket defense the reference lacks); the key-range
    * read fans per bucket ([[graft.datasource.FilterCompiler]] saltFan), so
    * pruning survives: each bucket region scans only its slice of the
    * logical range. The aggregate merges per-bucket partials exactly like
    * range-split regions. */
  def kv21Salted(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_salted_events")) {
      Tables.events(s, dir)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"), col("value").cast("double").as("value"))
        .write.format("graft-kv")
        .options(Map("catalog" -> saltedEventsCatalog))
        .mode("append").save()
    }
    s.read.format("graft-kv").option("catalog", saltedEventsCatalog).load()
      .filter(col("event_id") >= 100L && col("event_id") < 800L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Relational.microUnits(sum(col("value").cast("decimal(18,6)"))).as("total"))
      .orderBy(col("event_type"))
  }

  val kv21Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total
      |FROM (SELECT CAST(event_id AS BIGINT) AS event_id, event_type,
      |             CAST(value AS DOUBLE) AS value FROM events)
      |WHERE event_id >= 100 AND event_id < 800
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // events keyed by event_id with a global secondary index on user_id:
  // the access pattern the primary key can't serve (fetch one user's
  // events) without scanning every region
  private val idxEventsCatalog =
    """{"table":{"namespace":"default", "name":"kv_idx_events"},
      |"rowkey":"key",
      |"columns":{
      |"event_id":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"user_id":{"cf":"f", "col":"user", "type":"bigint", "index":"true"},
      |"event_type":{"cf":"f", "col":"etype", "type":"string"},
      |"value":{"cf":"f", "col":"value", "type":"double"}}}""".stripMargin

  /** kv22: SECONDARY-INDEX read — `user_id` carries a global index
    * ([[graft.datasource.SecondaryIndex]], the Phoenix-style capability the
    * reference lacks: its only access path is the row key). The planner
    * consults the index for the In filter and the scan collapses to point
    * gets on exactly the matching rows (graftIndexKeys / graftRowsScanned
    * metrics, pinned in IndexSpec); the residual-free row predicate keeps
    * correctness independent of the consult. */
  def kv22IndexedRead(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_idx_events")) {
      Tables.events(s, dir)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"), col("value").cast("double").as("value"))
        .write.format("graft-kv")
        .options(Map("catalog" -> idxEventsCatalog, "newtable" -> "4",
          "minSplitNum" -> "0", "maxSplitNum" -> "100000"))
        .mode("append").save()
    }
    s.read.format("graft-kv").option("catalog", idxEventsCatalog).load()
      .filter(col("user_id").isin(3L, 17L, 41L))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Relational.microUnits(sum(col("value").cast("decimal(18,6)"))).as("total"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val kv22Sql: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id, event_type, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total
      |FROM events WHERE user_id IN (3, 17, 41)
      |GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin

  /** kv24: INDEX-ONLY scan with GROUPED aggregate pushdown — the projection
    * {user_id, event_id} lives entirely inside the index's entry keys, so
    * the planner swaps the scan to the index table as an ordinary range
    * scan ([[graft.datasource.SecondaryIndex.indexOnlyPlan]]); and since
    * `GROUP BY user_id` is a prefix of the INDEX key order, the
    * count/min/max partials stream store-side with O(1) state off the
    * index's sort (`pushedGroupBy=[user_id], scan=index-only(...)` in the
    * plan). No point gets, no main-table touch — the Phoenix index-only
    * shape and the dominant 100 TB win for fetch-by-attribute queries.
    * Correctness is pinned by IndexSpec; here the driver hash-checks the
    * row set. */
  def kv24IndexOnly(s: SparkSession, dir: String): DataFrame = {
    kv22IndexedRead(s, dir).count() // ensure the shared table+index exist
    s.read.format("graft-kv").option("catalog", idxEventsCatalog).load()
      .filter(col("user_id").isin(3L, 17L, 41L))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy(col("user_id"))
  }

  val kv24Sql: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS n_events,
      |  CAST(min(event_id) AS BIGINT) AS first_event,
      |  CAST(max(event_id) AS BIGINT) AS last_event
      |FROM events WHERE user_id IN (3, 17, 41)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // same shape as kv22's table but with COVERED columns on the index: the
  // whole aggregate is then servable from the index table alone
  private val covEventsCatalog =
    """{"table":{"namespace":"default", "name":"kv_cov_events"},
      |"rowkey":"key",
      |"columns":{
      |"event_id":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"user_id":{"cf":"f", "col":"user", "type":"bigint", "index":"true", "cover":"event_type,value"},
      |"event_type":{"cf":"f", "col":"etype", "type":"string"},
      |"value":{"cf":"f", "col":"value", "type":"double"}}}""".stripMargin

  /** kv25: COVERED index (Phoenix INCLUDE) — `event_type` and `value` ride
    * inside the user_id index entries, so kv22's exact aggregate shape
    * becomes an INDEX-ONLY scan: no point gets, no main-table touch
    * ([[graft.datasource.SecondaryIndex.indexOnlyCatalog]] exposes covered
    * cells as ordinary value fields). Same oracle as kv22 — the execution
    * path is the thing under test. */
  def kv25CoveredIndex(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_cov_events")) {
      Tables.events(s, dir)
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"), col("value").cast("double").as("value"))
        .write.format("graft-kv")
        .options(Map("catalog" -> covEventsCatalog, "newtable" -> "4",
          "minSplitNum" -> "0", "maxSplitNum" -> "100000"))
        .mode("append").save()
    }
    s.read.format("graft-kv").option("catalog", covEventsCatalog).load()
      .filter(col("user_id").isin(3L, 17L, 41L))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        Relational.microUnits(sum(col("value").cast("decimal(18,6)"))).as("total"))
      .orderBy(col("user_id"), col("event_type"))
  }

  private val ttlEventsCatalog =
    """{"table":{"namespace":"default", "name":"kv_ttl_events"},
      |"rowkey":"key",
      |"columns":{
      |"event_id":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"event_type":{"cf":"f", "col":"etype", "type":"string"},
      |"value":{"cf":"f", "col":"value", "type":"double"}}}""".stripMargin

  /** kv23: TTL + COMPACTION — even event_ids are written at an ancient
    * stamp, odd ones at write time; a `ttl` read (10 years) sees only the
    * fresh half (the cutoff is folded into the scan's stamp window at plan
    * time, [[graft.datasource.GraftOptions.withTtlResolved]], so predicates
    * and pushdown stay exact). Between two reads the table is MAJOR-
    * COMPACTED ([[graft.store.KvTable.compact]]) — expired cells physically
    * dropped, emptied rows removed, row counters maintained — and the
    * result must not change: visibility is the read-time window, compaction
    * only reclaims space. The emitted frame is the post-compact read. */
  def kv23TtlCompact(s: SparkSession, dir: String): DataFrame = {
    val tenYearsMs = 10L * 365 * 24 * 3600 * 1000
    if (!graft.store.KvStore.exists("default:kv_ttl_events")) {
      val base = Tables.events(s, dir)
        .select(col("event_id").cast("long").as("event_id"),
          col("event_type"), col("value").cast("double").as("value"))
      def save(df: DataFrame, ts: Long): Unit = df.write.format("graft-kv")
        .options(Map("catalog" -> ttlEventsCatalog, "newtable" -> "4",
          "minSplitNum" -> "0", "maxSplitNum" -> "100000",
          "timestamp" -> ts.toString)).mode("append").save()
      save(base.filter(col("event_id") % 2 === 0), ts = 1000L) // expired half
      save(base.filter(col("event_id") % 2 === 1), ts = System.currentTimeMillis())
    }
    def readAgg = s.read.format("graft-kv")
      .option("catalog", ttlEventsCatalog).option("ttl", tenYearsMs.toString).load()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Relational.microUnits(sum(col("value").cast("decimal(18,6)"))).as("total"))
      .orderBy(col("event_type"))
    val preCompact = readAgg.collect()
    graft.store.KvStore.table("default:kv_ttl_events")
      .compact(expireBefore = System.currentTimeMillis() - tenYearsMs)
    val post = readAgg
    require(post.collect().toSeq == preCompact.toSeq,
      "compaction must not change TTL-read visibility")
    post
  }

  val kv23Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total
      |FROM events WHERE event_id % 2 = 1
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // z-order key: user_id × minute-slot interleaved into one bigint, with
  // event_id as the key suffix for uniqueness — the layout for queries that
  // constrain BOTH dimensions ("these users in this time window")
  private[queries] val zorderEventsCatalog =
    """{"table":{"namespace":"default", "name":"kv_zorder_events"},
      |"rowkey":"z:eid",
      |"columns":{
      |"z":{"cf":"rowkey", "col":"z", "type":"bigint"},
      |"event_id":{"cf":"rowkey", "col":"eid", "type":"bigint"},
      |"event_type":{"cf":"f", "col":"etype", "type":"string"},
      |"value":{"cf":"f", "col":"value", "type":"double"}}}""".stripMargin

  /** kv26: Z-ORDER (Morton) multi-dimensional pruning — the capability a
    * one-dimensional key order cannot give ([[graft.ranges.ZOrder]]): the
    * write interleaves (user_id, minute-slot) bits into the leading key
    * part via the codegen'd [[graft.functions.ZOrderExprs.morton2]], and a
    * rectangle query (users 3-9 × slots 100-900) becomes a driver-side
    * [[graft.ranges.ZOrder.rectRanges]] decomposition into ≤32 contiguous
    * z ranges, pushed through the ordinary interval-OR algebra — so BOTH
    * dimensions prune regions, not just the leading one. The exact
    * rectangle residual re-derives x/y from the scanned keys (mortonX/Y,
    * pure bit math in codegen), making the budgeted over-approximation
    * invisible — same contract as Delta Z-ORDER clustering + file skipping,
    * here at row-range granularity. */
  def kv26Zorder(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ZOrderExprs
    if (!graft.store.KvStore.exists("default:kv_zorder_events")) {
      Tables.events(s, dir)
        .select(
          ZOrderExprs.morton2(col("user_id").cast("int"),
            (col("event_id") % 1440).cast("int")).as("z"),
          col("event_id").cast("long").as("event_id"),
          col("event_type"), col("value").cast("double").as("value"))
        .write.format("graft-kv")
        .options(Map("catalog" -> zorderEventsCatalog, "newtable" -> "8"))
        .mode("append").save()
    }
    // users 3-9 exist at every SF (sf0.001 caps at user 14)
    val (xlo, xhi, ylo, yhi) = (3, 9, 100, 900)
    val ranges = graft.ranges.ZOrder.rectRanges(xlo, xhi, ylo, yhi, maxRanges = 32)
    val zPushed = ranges.map { case (lo, hi) => col("z") >= lo && col("z") <= hi }
      .reduce(_ || _)
    s.read.format("graft-kv").option("catalog", zorderEventsCatalog).load()
      .filter(zPushed)
      .withColumn("user_id", ZOrderExprs.mortonX(col("z")).cast("long"))
      .withColumn("slot", ZOrderExprs.mortonY(col("z")))
      .filter(col("user_id").between(xlo, xhi) && col("slot").between(ylo, yhi))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        Relational.microUnits(sum(col("value").cast("decimal(18,6)"))).as("total"))
      .orderBy(col("user_id"))
  }

  val kv26Sql: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total
      |FROM (SELECT user_id, CAST(value AS DOUBLE) AS value FROM events
      |      WHERE user_id BETWEEN 3 AND 9 AND (event_id % 1440) BETWEEN 100 AND 900)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  private val joinCustCatalog =
    """{"table":{"namespace":"default", "name":"kv_join_cust"},
      |"rowkey":"key",
      |"columns":{
      |"c_custkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"c_name":{"cf":"f", "col":"name", "type":"string"},
      |"c_acctbal":{"cf":"f", "col":"bal", "type":"double"},
      |"c_mktsegment":{"cf":"f", "col":"seg", "type":"string"}}}""".stripMargin
  private val joinStatCatalog =
    """{"table":{"namespace":"default", "name":"kv_join_stat"},
      |"rowkey":"key",
      |"columns":{
      |"custkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"n_orders":{"cf":"f", "col":"n", "type":"bigint"},
      |"total_price":{"cf":"f", "col":"t", "type":"double"}}}""".stripMargin

  /** kv27: kv × kv JOIN PUSHDOWN (DSv2 `SupportsPushDownJoin`,
    * `spark.sql.optimizer.datasourceV2JoinPushdown`) — a row-key equi-join
    * of two co-keyed kv tables executes STORE-SIDE as a lookup join
    * ([[graft.datasource.PushedKvJoin]]): left regions scan in key order
    * and point-get the right row per key — zero shuffle of either side,
    * the co-located join a networked deployment runs inside region
    * servers. Here: customer profiles LEFT OUTER JOIN per-customer order
    * stats (a separate kv table keyed the same), with a pushed left-side
    * filter and an aggregate on top; the pushed plan is `require`d, and
    * the conf toggle is scoped to this query (eager evaluation) so the
    * rest of the suite plans untouched. Differential coverage incl.
    * fallback shapes lives in KvJoinSpec. */
  def kv27JoinPushdown(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_join_cust")) {
      Tables.customer(s, dir)
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("c_acctbal"), col("c_mktsegment"))
        .write.format("graft-kv")
        .options(Map("catalog" -> joinCustCatalog, "newtable" -> "6"))
        .mode("append").save()
      Tables.orders(s, dir)
        .groupBy(col("o_custkey").cast("long").as("custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("double")).as("total_price"))
        .write.format("graft-kv")
        .options(Map("catalog" -> joinStatCatalog, "newtable" -> "5"))
        .mode("append").save()
    }
    Tables.withConfs(s, "spark.sql.optimizer.datasourceV2JoinPushdown" -> "true") {
      val cust = s.read.format("graft-kv").option("catalog", joinCustCatalog).load()
      val stat = s.read.format("graft-kv").option("catalog", joinStatCatalog).load()
      val joined = cust
        .join(stat, col("c_custkey") === col("custkey"), "left")
        .filter(col("c_acctbal") > 0.0)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"),
          sum(coalesce(col("n_orders"), lit(0L))).as("n_orders"),
          Relational.microUnits(sum(
            coalesce(col("total_price"), lit(0.0)).cast("decimal(18,6)"))).as("total"))
        .orderBy(col("c_mktsegment"))
      val rows = joined.collect()
      require(joined.queryExecution.executedPlan.toString.contains("GraftKvJoinScan"),
        "kv27 must execute the pushed kv-kv join, not a fallback plan")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
    }
  }

  val kv27Sql: String =
    """WITH cust AS (SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_acctbal,
      |                     c_mktsegment FROM customer),
      |stat AS (SELECT CAST(o_custkey AS BIGINT) AS custkey, count(*) AS n,
      |                sum(CAST(o_totalprice AS DOUBLE)) AS t
      |         FROM orders GROUP BY 1)
      |SELECT c_mktsegment, count(*) AS n_cust,
      |  CAST(sum(coalesce(n, 0)) AS BIGINT) AS n_orders,
      |  CAST(CAST(sum(CAST(coalesce(t, 0) AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total
      |FROM cust LEFT JOIN stat ON c_custkey = custkey
      |WHERE c_acctbal > 0
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** kv28: STORAGE-PARTITIONED JOIN between two salted kv tables — the
    * scans report `KeyGroupedPartitioning(bucket(8, key))` backed by the
    * catalog-served salt function ([[graft.datasource.SaltFunctions]]), so
    * the row-key equi-join runs bucket-to-bucket with NO shuffle on either
    * side (pinned by the `require`: no Exchange below the SortMergeJoin).
    * This is the complement of kv27's store-side lookup join: kv27 wins
    * when one side is a selective probe; SPJ wins when BOTH sides are
    * large — at 100 TB it is the difference between shuffling two tables
    * and shuffling nothing. Orders (keyed o_orderkey, salt 8) join
    * per-order lineitem stats (keyed l_orderkey, salt 8). */
  def kv28SpjJoin(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graft",
      classOf[graft.datasource.GraftTableCatalog].getName)
    s.sql(
      """CREATE TABLE IF NOT EXISTS graft.default.spj_orders
        |  (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
        |TBLPROPERTIES ('rowkey' = 'o_orderkey', 'saltBuckets' = '8')""".stripMargin)
    s.sql(
      """CREATE TABLE IF NOT EXISTS graft.default.spj_linestats
        |  (l_orderkey BIGINT, n_lines BIGINT, qty_micro BIGINT)
        |TBLPROPERTIES ('rowkey' = 'l_orderkey', 'saltBuckets' = '8')""".stripMargin)
    if (graft.store.KvStore.table("default:spj_orders").regions
        .forall(_.rows.isEmpty)) {
      Tables.orders(s, dir)
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice").cast("double").as("o_totalprice"))
        .createOrReplaceTempView("kv28_orders_src")
      s.sql("INSERT INTO graft.default.spj_orders SELECT * FROM kv28_orders_src")
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").cast("long").as("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          Relational.microUnits(sum(col("l_quantity").cast("decimal(18,6)")))
            .as("qty_micro"))
        .createOrReplaceTempView("kv28_lines_src")
      s.sql("INSERT INTO graft.default.spj_linestats SELECT * FROM kv28_lines_src")
    }
    // both sides are "large" by scenario: disable broadcast so the plan is
    // the one a 100 TB run would get (SPJ sort-merge, not a broadcast)
    Tables.withConfs(s, "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val joined = s.sql(
        """SELECT o.o_orderpriority, count(*) AS n_orders,
          |  CAST(sum(l.n_lines) AS BIGINT) AS sum_lines,
          |  CAST(sum(l.qty_micro) AS BIGINT) AS qty_total
          |FROM graft.default.spj_orders o
          |JOIN graft.default.spj_linestats l ON o.o_orderkey = l.l_orderkey
          |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin)
      val rows = joined.collect()
      // pin the SPJ shape: the SortMergeJoin subtree (everything printed
      // below the join line) holds the scans and their sorts — any
      // Exchange there means a side was shuffled and SPJ did not engage.
      // Unwrap the AQE root first: its toString appends the INITIAL plan
      // (which legitimately shows the pre-SPJ exchanges) after the final one.
      val settled = joined.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val planLines = settled.toString.linesIterator.toSeq
      val joinAt = planLines.indexWhere(_.contains("SortMergeJoin"))
      require(joinAt >= 0, "kv28 must plan a sort-merge join")
      require(!planLines.drop(joinAt + 1).exists(_.contains("Exchange")),
        "kv28 must run storage-partitioned: no shuffle below the join\n" +
          planLines.mkString("\n"))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
    }
  }

  /** kv29: DISTRIBUTED INDEX CONSULT ([[graft.plans.IndexSemiJoin]]) — the
    * middle selectivity band where the driver-side index consult declines
    * (estimated matches over `indexLookupCap`) but the predicate is still
    * far more selective than a full scan. The rule is SELF-DECIDING (on by
    * default, no conf set here): the estimate that gates the plan-time
    * consult also drives one automatic three-way policy — under the cap,
    * plan-time point gets; in the middle band, the indexed `user_id` range
    * filter rewrites into a broadcast LEFT SEMI join against the index
    * table, whose key set reaches the main scan as a RUNTIME filter that
    * re-plans it into point gets; past `maxKeys`, the plain full scan. The
    * key set flows executor→broadcast, never through the driver's query
    * planning. The pushed plan shape (LeftSemi, broadcast build over the
    * index table, dynamic-pruning runtime filter on the main scan) is
    * `require`d on every run; IndexSemiJoinSpec differential-tests the
    * rewrite incl. null/disjunction hazards and the exact decline/accept
    * band edges. */
  def kv29IndexSemijoin(s: SparkSession, dir: String): DataFrame = {
    kv22IndexedRead(s, dir).count() // ensure the shared table+index exist
    // indexLookupCap=10: the driver consult's estimate (hundreds of
    // matching rows across this user range) exceeds it and declines —
    // exactly the band the semi-join rule owns, with NO enabling conf
    val joined = s.read.format("graft-kv")
      .options(Map("catalog" -> idxEventsCatalog, "indexLookupCap" -> "10"))
      .load()
      .filter(col("user_id") >= 10L && col("user_id") <= 30L)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        Relational.microUnits(sum(col("value").cast("decimal(18,6)"))).as("total"))
      .orderBy(col("event_type"))
    val rows = joined.collect()
    val settled = joined.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val plan = settled.toString
    require(plan.contains("LeftSemi") && plan.contains("BroadcastHashJoin"),
      s"kv29 must rewrite to a broadcast left-semi index consult:\n${plan.take(2000)}")
    require(plan.contains("kv_idx_events__idx__user_id"),
      s"kv29's build side must scan the index table:\n${plan.take(2000)}")
    require(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"kv29's index key set must reach the main scan as a runtime filter:\n${plan.take(2000)}")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
  }

  val kv29Sql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS total
      |FROM events WHERE user_id BETWEEN 10 AND 30
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  private val idxCustCatalog =
    """{"table":{"namespace":"default", "name":"kv_idx_cust"},
      |"rowkey":"key",
      |"columns":{
      |"c_custkey":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"c_name":{"cf":"f", "col":"n", "type":"string", "index":"true"},
      |"c_acctbal":{"cf":"f", "col":"b", "type":"double"},
      |"c_mktsegment":{"cf":"f", "col":"m", "type":"string"}}}""".stripMargin

  /** kv30: VAR-WIDTH STRING INDEX, index-only scan — `c_name` carries a
    * global index with NO declared length (the commonest index shape: the
    * reference's own test corpus filters on strings throughout). Entries
    * are `name-bytes ‖ custkey`, parsed as a var-width leading key part
    * with a fixed bigint tail (RowKeyPart's negative-offset layout), so a
    * {c_name, c_custkey} projection under a name-range filter is answered
    * ENTIRELY from the index table as one ordinary range scan — no point
    * gets, no main-table touch (`scan=index-only` require'd below). The
    * var-width entry-range algebra (prefix-value hazards on Gt/Lt bounds)
    * is differential-tested in IndexSpec/IndexSemiJoinSpec. */
  def kv30StringIndex(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_idx_cust")) {
      Tables.customer(s, dir)
        .select(col("c_custkey").cast("long").as("c_custkey"), col("c_name"),
          col("c_acctbal").cast("double").as("c_acctbal"), col("c_mktsegment"))
        .write.format("graft-kv")
        .options(Map("catalog" -> idxCustCatalog, "newtable" -> "4"))
        .mode("append").save()
    }
    val df = s.read.format("graft-kv").option("catalog", idxCustCatalog).load()
      .filter(col("c_name") >= "Customer#000000010" &&
        col("c_name") <= "Customer#000000099")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
    val rows = df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    require(planStr.contains("scan=index-only(default:kv_idx_cust__idx__c_name"),
      s"kv30 must serve from the string index alone:\n${planStr.take(2000)}")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  val kv30Sql: String =
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name FROM customer
      |WHERE c_name BETWEEN 'Customer#000000010' AND 'Customer#000000099'
      |ORDER BY c_custkey""".stripMargin

  /** kv31's catalog: the embeddings corpus resident in the store, vectors
    * as the Avro `array<float>` payload (bit-exact round-trip — the sv18
    * contract), keyed by vec_id with numeric presplits. */
  private val kv31Catalog =
    """{"table":{"namespace":"default", "name":"kv_vec_corpus"},
      |"rowkey":"key",
      |"columns":{
      |"vec_id":{"cf":"rowkey", "col":"key", "type":"bigint"},
      |"embedding":{"cf":"f", "col":"v", "avro":"annVec"}}}""".stripMargin
  private val kv31Avro = """{"type":"array","items":"float"}"""

  /** kv31: COLUMNAR VECTOR SCAN — px9's exact brute-force cosine top-5,
    * but over a STORE-RESIDENT corpus: the Avro float vectors decode
    * straight into `ColumnarBatch` array vectors (the columnar fast path's
    * array support), so the ANN scan rides whole-stage codegen instead of
    * the row materializer — the plan shape is `require`d on every run.
    * Vectors round-trip bit-exactly through the store, and the scoring is
    * [[graft.pipeline.Similarity.bruteForceTopK]] (px9's fold arithmetic),
    * so the oracle recomputes the identical answer from the parquet
    * originals. Null ids/vectors are excluded on BOTH sides (a null id
    * cannot key the store; a null-skip row with no other column would
    * vanish), keeping the streamed corpus equal to the oracle's. */
  def kv31VectorTopk(s: SparkSession, dir: String): DataFrame = {
    if (!graft.store.KvStore.exists("default:kv_vec_corpus")) {
      val base = Tables.embeddings(s, dir)
        .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val maxId = base.agg(max(col("vec_id"))).head().getLong(0)
      base.write.format("graft-kv")
        .options(Map("catalog" -> kv31Catalog, "annVec" -> kv31Avro,
          "newtable" -> "8", "minSplitNum" -> "0", "maxSplitNum" -> maxId.toString))
        .mode("append").save()
    }
    val kv = s.read.format("graft-kv")
      .options(Map("catalog" -> kv31Catalog, "annVec" -> kv31Avro)).load()
    val df = graft.pipeline.Similarity.bruteForceTopK(
      kv.filter(col("vec_id") < 10L), kv, "vec_id", "embedding", 5)
      .orderBy(col("query_id"), col("rank"))
    val rows = df.collect()
    val planStr = df.queryExecution.executedPlan.toString
    require(planStr.contains("ColumnarToRow"),
      s"kv31's vector scan must ride the columnar path:\n${planStr.take(2000)}")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** px9's SQL over the parquet originals, restricted to the non-null rows
    * the store holds — the store read is bit-exact, so the scores hash-match. */
  val kv31Sql: String =
    """WITH nn AS (SELECT vec_id, embedding FROM embeddings
      |            WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
      |     q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM nn WHERE vec_id < 10),
      |     c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM nn)
      |SELECT query_id, neighbor_id, score, CAST(rank AS INTEGER) AS rank FROM (
      |  SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY list_cosine_similarity(qv, cv) DESC, neighbor_id ASC) AS rank
      |  FROM c CROSS JOIN q WHERE query_id <> neighbor_id) t
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  val kv28Sql: String =
    """WITH stats AS (SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
      |    count(*) AS n_lines,
      |    CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS qty_micro
      |  FROM lineitem GROUP BY 1)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(sum(n_lines) AS BIGINT) AS sum_lines,
      |  CAST(sum(qty_micro) AS BIGINT) AS qty_total
      |FROM orders o JOIN stats l ON CAST(o.o_orderkey AS BIGINT) = l.l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "kv1_scan_project"    -> (kv1ScanProject _),
    "kv2_range_pushdown"  -> (kv2RangePushdown _),
    "kv3_in_notin"        -> (kv3InNotIn _),
    "kv4_string_pushdown" -> (kv4StringPushdown _),
    "kv5_composite_key"   -> (kv5CompositeKey _),
    "kv6_join_tables"     -> (kv6JoinTables _),
    "kv7_versions"        -> (kv7Versions _),
    "kv8_dynamic_columns" -> (kv8DynamicColumns _),
    "kv9_avro_record"     -> (kv9AvroRecord _),
    "kv10_phoenix"        -> (kv10Phoenix _),
    "kv11_mixed_sql"      -> (kv11MixedSql _),
    "kv12_multi_cluster"  -> (kv12MultiCluster _),
    "kv13_avro_key"       -> (kv13AvroKey _),
    "kv14_family_retention" -> (kv14FamilyRetention _),
    "kv15_agg_pushdown"   -> (kv15AggPushdown _),
    "kv16_topn_pushdown"  -> (kv16TopnPushdown _),
    "kv17_groupby_pushdown" -> (kv17GroupbyPushdown _),
    "kv18_reverse_topn"   -> (kv18ReverseTopn _),
    "kv19_sql_catalog"    -> (kv19SqlCatalog _),
    "kv20_sql_rowlevel"   -> (kv20SqlRowLevel _),
    "kv21_salted"         -> (kv21Salted _),
    "kv22_indexed_read"   -> (kv22IndexedRead _),
    "kv23_ttl_compact"    -> (kv23TtlCompact _),
    "kv24_index_only"     -> (kv24IndexOnly _),
    "kv25_covered_index"  -> (kv25CoveredIndex _),
    "kv26_zorder"         -> (kv26Zorder _),
    "kv27_join_pushdown"  -> (kv27JoinPushdown _),
    "kv28_spj_join"       -> (kv28SpjJoin _),
    "kv29_index_semijoin" -> (kv29IndexSemijoin _),
    "kv30_string_index"   -> (kv30StringIndex _),
    "kv31_vector_topk"    -> (kv31VectorTopk _),
  )

  val oracles: Map[String, String] = Map(
    "kv1_scan_project"    -> kv1Sql,
    "kv2_range_pushdown"  -> kv2Sql,
    "kv3_in_notin"        -> kv3Sql,
    "kv4_string_pushdown" -> kv4Sql,
    "kv5_composite_key"   -> kv5Sql,
    "kv6_join_tables"     -> kv6Sql,
    "kv7_versions"        -> kv7Sql,
    "kv8_dynamic_columns" -> kv8Sql,
    "kv9_avro_record"     -> kv9Sql,
    "kv10_phoenix"        -> kv10Sql,
    "kv11_mixed_sql"      -> kv11Sql,
    "kv12_multi_cluster"  -> kv12Sql,
    "kv13_avro_key"       -> kv13Sql,
    "kv14_family_retention" -> kv14Sql,
    "kv15_agg_pushdown"   -> kv15Sql,
    "kv16_topn_pushdown"  -> kv16Sql,
    "kv17_groupby_pushdown" -> kv17Sql,
    "kv18_reverse_topn"   -> kv18Sql,
    "kv19_sql_catalog"    -> kv19Sql,
    "kv20_sql_rowlevel"   -> kv20Sql,
    "kv21_salted"         -> kv21Sql,
    "kv22_indexed_read"   -> kv22Sql,
    "kv23_ttl_compact"    -> kv23Sql,
    "kv24_index_only"     -> kv24Sql,
    "kv25_covered_index"  -> kv22Sql, // same result set; the execution path differs
    "kv26_zorder"         -> kv26Sql,
    "kv27_join_pushdown"  -> kv27Sql,
    "kv28_spj_join"       -> kv28Sql,
    "kv29_index_semijoin" -> kv29Sql,
    "kv30_string_index"   -> kv30Sql,
    "kv31_vector_topk"    -> kv31Sql,
  )
}
