package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CollectLimitExec, ProjectExec, SQLExecution, SparkPlan,
  UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.metric.SQLMetrics

import graft.datasource.{GraftInputPartition, GraftScan}

/** Point-get reads answered on the DRIVER, with no Spark job — the
  * connector's analogue of the reference planner's bulk Gets
  * (HBaseTableScan.scala:424-494) and of Hive's fetch-task conversion.
  *
  * A get through the job path pays `SparkContext.runJob` (closure
  * cleaning, DAG scheduling, one task per region) for a read that touches
  * a handful of keys; that fixed cost dwarfs the store work. This rule
  * wraps the ROOT of an executed plan (or the child of a root
  * `CollectLimitExec`, the `head()`/`take()` shape) in [[GraftLookupExec]]
  * when that root is a plain row read of a graft-kv table:
  *  - a `BatchScanExec` over a [[GraftScan]], alone or under the
  *    attributes-only `ProjectExec` Spark adds to turn a row scan's rows
  *    into unsafe rows;
  *  - no runtime (DPP) filters, no pushed aggregate;
  *  - every planned range a point, at most [[MaxKeys]] of them in total.
  *
  * Everything else — ranges, scans, aggregates, join sides, streams, gets
  * above the cap — keeps its plan unchanged. The node only changes how
  * `collect`/`take` run; every other consumer executes the child.
  *
  * Injected as a `ColumnarRule`'s pre-transition rule, the one physical
  * hook Spark runs on every plan: a post-planner strategy rule runs only
  * inside adaptive execution, which Spark does not insert for an
  * exchange-free plan such as a get. Not a DSv2 `LocalScan`: Spark calls
  * its `rows()` during physical planning and freezes them in the cached
  * `executedPlan`, so collecting the same DataFrame after a put would
  * return stale rows; the lookup here reads the store at action time. */
object DriverLookup extends Rule[SparkPlan] {

  /** Keys one driver lookup may serve: one reference bulk-get batch
    * (`bulkGetSize` = 100), which bounds the driver's work per collect. It
    * is not a measured crossover: with the in-process store the driver
    * read stays cheaper than the job well past it. A read of more keys
    * runs as a job. */
  val MaxKeys = 100

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case c: CollectLimitExec => wrap(c.child).fold(plan)(l => c.withNewChildren(Seq(l)))
    case _ => wrap(plan).getOrElse(plan)
  }

  private def wrap(p: SparkPlan): Option[GraftLookupExec] = (p match {
    case b: BatchScanExec => Some(b)
    case ProjectExec(list, b: BatchScanExec) if list.forall(_.isInstanceOf[Attribute]) => Some(b)
    case _ => None
  }).flatMap(pointKeys).map(GraftLookupExec(_, p))

  /** Total point keys of a plain graft-kv row scan whose every planned
    * range is a point, when at most [[MaxKeys]]; None otherwise. */
  private def pointKeys(b: BatchScanExec): Option[Int] = b.scan match {
    case _: GraftScan if b.runtimeFilters.isEmpty =>
      val parts = b.inputPartitions.collect {
        case g: GraftInputPartition if g.aggOps.isEmpty => g
      }
      val ranges = parts.flatMap(_.ranges)
      if (parts.size == b.inputPartitions.size && ranges.size <= MaxKeys &&
          ranges.forall(_.isPoint)) Some(ranges.size)
      else None
    case _ => None
  }
}

/** A gated point-get read (see [[DriverLookup]]). `collect` and `take` read
  * the planned partitions on the driver at ACTION time, through the same
  * reader factory the executors use (so TTL, versions, `_cell_ts` and salt
  * handling are the executor path's), and fill the scan's SQL metrics with
  * this execution's counts. Every other consumer (`rdd`, `toLocalIterator`,
  * a cache build) executes the child as a job. The node reports the
  * child's partitioning and ordering, which a cache or a checkpoint of the
  * get copies from the root. */
case class GraftLookupExec(keys: Int, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override def simpleString(maxFields: Int): String = s"GraftLookup(driver, keys=$keys)"

  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def executeCollect(): Array[InternalRow] = lookup(Int.MaxValue)
  override def executeTake(n: Int): Array[InternalRow] = lookup(n)

  /** Up to `limit` rows, partitions in the job path's order; each reader is
    * closed on every exit path, so a throwing read leaks no scan lease. */
  private def lookup(limit: Int): Array[InternalRow] = {
    val scan = child.collectFirst { case b: BatchScanExec => b }.get
    val toUnsafe = UnsafeProjection.create(output, scan.output)
    val factory = scan.readerFactory
    // the SQL UI keeps a driver update as the execution's value, so each
    // lookup posts its own counts: a plan run again without a Dataset
    // action's metric reset would otherwise post a running total
    val numOutputRows = scan.longMetric("numOutputRows")
    val metrics = numOutputRows +: scan.customMetrics.values.toSeq
    metrics.foreach(_.reset())
    val out = ArrayBuffer[InternalRow]()
    val parts = scan.partitions.flatten.iterator
    while (out.size < limit && parts.hasNext) {
      val reader = factory.createReader(parts.next())
      try {
        while (out.size < limit && reader.next()) out += toUnsafe(reader.get()).copy()
        reader.currentMetricsValues.foreach(m =>
          scan.customMetrics.get(m.name).foreach(_.add(m.value)))
      } finally reader.close()
    }
    // the planning metrics a job's scan reports on the driver
    scan.scan.reportDriverMetrics().foreach(m =>
      scan.customMetrics.get(m.name).foreach(_.set(m.value)))
    numOutputRows.add(out.size)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), metrics)
    out.toArray
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftLookupExec =
    copy(child = newChild)
}
