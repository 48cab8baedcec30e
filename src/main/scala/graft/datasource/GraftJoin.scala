package graft.datasource

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.catalog.GraftCatalog
import graft.ranges.ScanRange
import graft.store.KvStore

/** Store-side kv × kv join — the DSv2 `SupportsPushDownJoin` capability
  * (`spark.sql.optimizer.datasourceV2JoinPushdown=true`).
  *
  * Accepted shape (see `GraftScanBuilder.pushDownJoin`): INNER or LEFT
  * OUTER equi-join whose condition is exactly `leftRowKey = rightRowKey`,
  * both sides plain current-state reads of unsalted single-part-key tables
  * in the same cluster. Execution is a LOOKUP JOIN: each left region scans
  * key-ordered as usual and point-gets the matching right row per key — at
  * 100 TB this is the co-located join a networked deployment runs inside
  * region servers: ZERO shuffle of either side, no hash table, and the
  * output inherits the left scan's key order and partitioning.
  *
  * Correctness vs the unpushed plan:
  *  - row keys are unique per table, so a key matches AT MOST one right
  *    row — no fan-out, INNER emits the pair or nothing, LEFT OUTER pads
  *    right columns with nulls;
  *  - row keys are never null, so null-key join semantics don't arise;
  *  - the right probe reads through the SAME setup a normal read of the
  *    right side with that projection uses ([[GraftScanSetup.probe]]): a
  *    point walk for a latest read of simple columns, a point get plus the
  *    materializer for a multi-cell shape, so a row invisible to the
  *    unpushed plan's right-side scan is exactly as invisible to the probe;
  *  - filters above the join stay residual in Spark (the joined builder
  *    declines all pushdown), so predicate semantics are Spark's own.
  *
  * `cols` pairs are (outputName, catalogColumnName) — output names carry
  * Spark's conflict-resolving aliases, catalog names drive the store reads.
  * `filters` are the side's pushed (fully-handled) predicates: the left
  * side's prune regions/ranges and gate the scan exactly as in a plain
  * read; the right side's gate each probe (range containment + predicate),
  * so a row the unpushed plan's filtered right scan would drop is equally
  * invisible to the lookup. */
final case class JoinSide(catalog: GraftCatalog, opts: GraftOptions,
    cols: Seq[(String, String)],
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil) extends Serializable

/** `leftKeys`/`rightKeys` are the sides' FULL row-key part lists in key
  * order — the accepted condition equates them position-wise (part i of the
  * left key = part i of the right key, all parts covered), so the probe can
  * assemble the right key bytes from the left row exactly like the writer
  * does. */
final case class PushedKvJoin(left: JoinSide, right: JoinSide,
    leftKeys: Seq[String], rightKeys: Seq[String],
    leftOuter: Boolean) extends Serializable

class GraftKvJoinScan(join: PushedKvJoin, schema: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = schema

  override def description(): String = {
    val kind = if (join.leftOuter) "LEFT OUTER" else "INNER"
    val on = join.leftKeys.zip(join.rightKeys)
      .map { case (l, r) => s"$l = $r" }.mkString(" AND ")
    s"GraftKvJoinScan(${join.left.catalog.qualifiedName} $kind JOIN " +
      s"${join.right.catalog.qualifiedName} ON $on, " +
      s"cols=${schema.fieldNames.mkString(",")})"
  }

  override def toBatch: Batch = this

  /** Left-side row counters bound the join output (unique right keys: INNER
    * emits ≤ left rows, LEFT OUTER exactly left rows) — so a small joined
    * pair still auto-broadcasts in an enclosing join. The LEFT pushed
    * filters prune the count region-wise (a filtered join side that reads
    * two regions must not report the whole table, or the auto-broadcast
    * this statistic exists for never fires). */
  override def estimateStatistics(): Statistics = {
    implicit val ord: Ordering[Array[Byte]] = graft.ranges.BytesUtil.byteArrayOrdering
    val hrfL = FilterCompiler.compileAll(join.left.catalog, join.left.filters)
    val table = KvStore.table(join.left.opts.storeName(join.left.catalog))
    val leftRows = table.regionInfos.filter { r =>
      val regionRange = ScanRange[Array[Byte]](
        graft.ranges.Bound(r.start, inclusive = true),
        graft.ranges.Bound(r.end, inclusive = false))
      ScanRange.and(hrfL.ranges, Seq(regionRange)).nonEmpty
    }.map(r => table.regions(r.index).rowCount.get()).sum
    val width = math.max(schema.defaultSize, 1).toLong
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(leftRows * width, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(leftRows)
    }
  }

  override def planInputPartitions(): Array[InputPartition] = {
    implicit val ord: Ordering[Array[Byte]] = graft.ranges.BytesUtil.byteArrayOrdering
    val hrfL = FilterCompiler.compileAll(join.left.catalog, join.left.filters)
    val hrfR = FilterCompiler.compileAll(join.right.catalog, join.right.filters)
    val rightRanges = hrfR.ranges.map(SerializableRange.from)
    val table = KvStore.table(join.left.opts.storeName(join.left.catalog))
    table.regionInfos.flatMap { r =>
      val regionRange = ScanRange[Array[Byte]](
        graft.ranges.Bound(r.start, inclusive = true),
        graft.ranges.Bound(r.end, inclusive = false))
      val clipped = ScanRange.and(hrfL.ranges, Seq(regionRange))
      if (clipped.isEmpty) None
      else Some(KvJoinInputPartition(join, schema, r.index, r.host,
        clipped.map(SerializableRange.from), hrfL.pred,
        rightRanges, hrfR.pred): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new KvJoinReaderFactory

  override def supportedCustomMetrics():
      Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    GraftMetricsDefs.all
}

final case class KvJoinInputPartition(join: PushedKvJoin, schema: StructType,
    regionIndex: Int, host: String,
    leftRanges: Seq[SerializableRange],
    leftPred: Option[graft.store.KvPredicate],
    rightRanges: Seq[SerializableRange],
    rightPred: Option[graft.store.KvPredicate]) extends InputPartition {
  // suppressed under local mode like GraftInputPartition — synthetic
  // region hosts can starve mixed-locality stages there
  override def preferredLocations(): Array[String] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    if (sc.isLocal) Array.empty else Array(host)
  }
}

class KvJoinReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new KvJoinPartitionReader(partition.asInstanceOf[KvJoinInputPartition])
}

class KvJoinPartitionReader(p: KvJoinInputPartition)
    extends PartitionReader[InternalRow] {

  private val join = p.join
  private val leftOutToCol = join.left.cols.toMap
  private val rightOutToCol = join.right.cols.toMap

  // the (possibly nested-pruned) output fields each side serves, keyed by
  // CATALOG column name but typed by the PRUNED output type
  private def sideSchema(cat: GraftCatalog, outToCol: Map[String, String],
      extraKeys: Seq[String]): StructType = {
    val fromOut = p.schema.fields.toSeq.collect {
      case f if outToCol.contains(f.name) =>
        StructField(outToCol(f.name), f.dataType, f.nullable)
    }
    val missing = extraKeys.filterNot(k => fromOut.exists(_.name == k))
      .map(k => StructField(k, cat.field(k).dataType))
    StructType(fromOut ++ missing)
  }

  // LEFT: an ordinary region read through the standard setup (the walk,
  // or the scan for a multi-cell shape); key parts are appended to the
  // projection when pruned away so the probe has them
  private val leftSchema =
    sideSchema(join.left.catalog, leftOutToCol, join.leftKeys)
  private val leftSetup = new GraftScanSetup(GraftInputPartition(
    join.left.catalog, join.left.opts, p.regionIndex, p.host,
    p.leftRanges, p.leftPred, leftSchema))
  private val leftKeyIdxs = join.leftKeys.map(leftSchema.fieldIndex).toArray
  private val leftKeyDts = leftKeyIdxs.map(leftSchema.fields(_).dataType)

  // RIGHT: probes go through a setup built over the right projection and
  // the right side's pushed predicate, so they see what a normal
  // right-side read sees
  private val rightSchema = sideSchema(join.right.catalog, rightOutToCol, Nil)
  private val rightSetup = new GraftScanSetup(GraftInputPartition(
    join.right.catalog, join.right.opts, 0, p.host,
    Seq(SerializableRange.from(ScanRange.all[Array[Byte]])), p.rightPred, rightSchema))
  // right key parts in key order — position i assembles from left part i,
  // exactly the writer's encode-and-concat ([[KvRowEncoder.key]])
  private val rightKeyParts = join.right.catalog.rowKeyParts.toArray

  // output slot → (fromLeft, index in that side's materialized row)
  private val slotPlan: Array[(Boolean, Int)] = p.schema.fields.map { f =>
    if (leftOutToCol.contains(f.name))
      (true, leftSchema.fieldIndex(leftOutToCol(f.name)))
    else (false, rightSchema.fieldIndex(rightOutToCol(f.name)))
  }
  private val slotDts = p.schema.fields.map(_.dataType)
  private val leftDts = leftSchema.fields.map(_.dataType)
  private val rightDts = rightSchema.fields.map(_.dataType)

  private var rowsScanned = 0L

  private implicit val byteOrd: Ordering[Array[Byte]] =
    graft.ranges.BytesUtil.byteArrayOrdering
  private val rightScanRanges = p.rightRanges.map(_.toRange)

  private val rows: Iterator[InternalRow] = leftSetup.rows
    .flatMap { lrow =>
      rowsScanned += 1
      // assemble the right key from the left row's key-part values —
      // encode-and-concat, the writer's own recipe (row keys are never
      // null; part widths are equal by the compat gate, so the encoded
      // bytes are exactly a stored right key when the values match)
      val partBytes = new Array[Array[Byte]](rightKeyParts.length)
      var i = 0
      while (i < rightKeyParts.length) {
        val v = CatalystConv.fromCatalyst(leftKeyDts(i),
          lrow.get(leftKeyIdxs(i), leftKeyDts(i)))
        partBytes(i) = rightKeyParts(i).field.coder
          .encode(rightKeyParts(i).field.dataType, v)
        i += 1
      }
      val keyBytes = graft.ranges.BytesUtil.concat(partBytes.toIndexedSeq: _*)
      val rrow =
        if (!rightScanRanges.exists(_.contains(keyBytes))) None
        else rightSetup.probe(keyBytes)
      rrow match {
        case Some(r) => rowsScanned += 1; Some(assemble(lrow, r))
        case None if join.leftOuter => Some(assemble(lrow, null))
        case None => None
      }
    }

  private def assemble(lrow: InternalRow, rrow: InternalRow): InternalRow = {
    val out = new Array[Any](slotPlan.length)
    var i = 0
    while (i < slotPlan.length) {
      val (fromLeft, idx) = slotPlan(i)
      out(i) =
        if (fromLeft) { if (lrow.isNullAt(idx)) null else lrow.get(idx, leftDts(idx)) }
        else if (rrow == null) null
        else if (rrow.isNullAt(idx)) null
        else rrow.get(idx, rightDts(idx))
      i += 1
    }
    new GenericInternalRow(out)
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = current

  override def close(): Unit = { leftSetup.close(); rightSetup.close() }

  // rows walked: the left side's scan; each right probe is a point get
  override def currentMetricsValues():
      Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    GraftMetricsDefs.rows(rowsScanned, leftSetup.rowsWalked)
}
