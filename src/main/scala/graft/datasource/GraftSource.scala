package graft.datasource

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.catalog.GraftCatalog
import graft.ranges.{Bound, BytesUtil, ScanRange}
import graft.store._

/** DataSource V2 entry point: `spark.read.format("graft-kv")` /
  * `df.write.format("graft-kv")` — the Spark-4 successor of the reference's
  * DSv1 `BaseRelation with PrunedFilteredScan with InsertableRelation`
  * (HBaseRelation.scala:46-75). */
class GraftSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-kv"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val opts = GraftOptions(options)
    GraftTable.tableSchema(
      GraftCatalog.parse(opts.catalogJson, options.asScala.toMap), opts)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = GraftOptions(properties)
    val catalog = GraftCatalog.parse(opts.catalogJson, properties.asScala.toMap)
    // Honor a user-specified schema (reference HBaseRelation.scala:313:
    // userSpecifiedschema.getOrElse(catalog.toDataType)): a read may prune
    // or reorder the catalog's columns up front — never RETYPE them. Every
    // named column must exist in the catalog with the catalog's type; a
    // type mismatch is rejected loudly (it used to be silently discarded
    // when the field-name sequence happened to match the catalog's, leaving
    // the caller with different runtime types than it declared).
    val declared = GraftTable.tableSchema(catalog, opts)
    Option(schema).filter(_.nonEmpty).foreach(_.fields
      .filterNot(f => f.name == GraftTable.DeletedColumn || f.name == GraftTable.CellTsColumn)
      .foreach { sf =>
        catalog.field(sf.name) // unknown column: throws
        val dt = declared.find(_.name == sf.name).map(_.dataType)
          .getOrElse(catalog.field(sf.name).dataType)
        // catalogString ignores nullability (callers legitimately differ on
        // nested nullable flags) but pins every type shape
        require(sf.dataType.catalogString == dt.catalogString,
          s"user-specified schema retypes column ${sf.name}: ${sf.dataType.catalogString} " +
            s"(catalog declares ${dt.catalogString}) — prune or reorder columns, never retype")
      })
    val userSchema = Option(schema).filter(s =>
      s.nonEmpty && s.fieldNames.toSeq != declared.fieldNames.toSeq)
    new GraftTable(catalog, opts, userSchema)
  }
}

object GraftTable {
  /** Hidden metadata column: the newest VISIBLE cell timestamp of the row
    * (epoch ms) — HBase's cell-timestamp dimension without declaring a
    * versioned map column. Selected explicitly (`SELECT k, _cell_ts`);
    * never part of `SELECT *`. */
  val CellTsColumn = "_cell_ts"

  /** CDC change-type column, appended to the schema ONLY under the
    * `tombstones=true` read option (a streaming-read concern — see
    * [[GraftMicroBatchStream]]): `false` for upsert rows; `true` for delete
    * tombstones, whose value columns are null and whose `_cell_ts` is the
    * delete stamp. Batch scans under the option emit constant `false` —
    * a batch read sees current state, where deleted rows are simply gone. */
  val DeletedColumn = "_deleted"

  /** The relation's full schema for `opts`: the catalog's columns, plus
    * `_cell_ts` and `_deleted` appended as REAL columns when the CDC option
    * asks for tombstones. Real, not metadata, because the micro-batch path
    * never calls `pruneColumns` — a metadata column would resolve at
    * analysis but the scan would never hear about it (schema/row length
    * mismatch at runtime); and a CDC consumer needs the change stamp to
    * order events anyway. */
  def tableSchema(catalog: GraftCatalog, opts: GraftOptions): StructType =
    if (!opts.tombstones) catalog.schema
    else StructType(catalog.schema.fields :+
      org.apache.spark.sql.types.StructField(
        CellTsColumn, org.apache.spark.sql.types.LongType) :+
      org.apache.spark.sql.types.StructField(
        DeletedColumn, org.apache.spark.sql.types.BooleanType, nullable = false))
}

class GraftTable(catalog: GraftCatalog, opts: GraftOptions,
    userSchema: Option[StructType] = None,
    acceptAnySchema: Boolean = true)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  override def name(): String = catalog.qualifiedName

  /** Logical-rule access (the index-semi-join rewrite inspects the table's
    * catalog/options at optimizer time). */
  private[graft] def graftCatalog: GraftCatalog = catalog
  private[graft] def graftOptions: GraftOptions = opts

  /** This table with the driver-side index consult disabled — the
    * semi-join rewrite's main side: the index lookup now happens as a
    * distributed join, so the plan-time consult would only duplicate it. */
  private[graft] def withIndexConsultDisabled: GraftTable =
    new GraftTable(catalog, opts.copy(indexLookupCap = Some(0)),
      userSchema, acceptAnySchema)

  /** `TRUNCATE TABLE t` — same move as a whole-table INSERT OVERWRITE:
    * drop and recreate with fresh presplits. */
  override def truncateTable(): Boolean = {
    GraftDdl.ensureTable(catalog, opts, dropExisting = true)
    true
  }

  override def schema(): StructType =
    userSchema.getOrElse(GraftTable.tableSchema(catalog, opts))

  override def metadataColumns(): Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    // under the CDC option _cell_ts is a REAL schema column (see
    // tableSchema) — declaring it as metadata too would shadow-conflict
    if (opts.tombstones) Array.empty
    else Array(new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.CellTsColumn
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def comment(): String =
        "newest visible cell timestamp of the row (epoch ms); null for cell-less rows"
    })

  /** `DELETE FROM t WHERE ...` — only when the filter compiler handles
    * EVERY filter exactly: a residual would make the compiled ranges an
    * over-approximation, and an over-approximate delete removes rows the
    * predicate didn't select. Spark falls back with an error for filters
    * we refuse (the connector has no row-level rewrite path). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    FilterCompiler.partition(catalog, filters)._2.isEmpty

  override def deleteWhere(filters: Array[Filter]): Unit = {
    // canDeleteWhere already proved exactness on Spark's planner path, but
    // that invariant lives two layers away — a direct caller (or a planner
    // change skipping the guard) must hit the same refusal, not a
    // table-wide delete from an over-approximate Hrf
    val hrf = FilterCompiler.compileAll(catalog, filters.toSeq)
      .exactOrThrow("deleteWhere")
    KvStore.table(opts.storeName(catalog)).deleteNow(hrf.ranges, hrf.pred)
  }

  /** ACCEPT_ANY_SCHEMA only on the options path (writers there resolve
    * columns BY NAME against the catalog, so partial-column frames work);
    * the SQL-catalog path omits it so `INSERT INTO ... VALUES` gets Spark's
    * positional resolution against the table schema. */
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
    if (acceptAnySchema) caps.add(TableCapability.ACCEPT_ANY_SCHEMA)
    caps
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // SQL-catalog reads pass no per-read options (no "catalog" key) — use
    // the table definition's options; DataFrame reads re-parse theirs so
    // per-read knobs (maxVersions, timeRange, restrictive) keep working
    val effective = if (options.containsKey("catalog")) GraftOptions(options) else opts
    new GraftScanBuilder(catalog, effective, schema())
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(catalog, opts, info)

  /** SQL `UPDATE` / residual-predicate `DELETE` / `MERGE INTO`, rewritten by
    * Spark into scan → delta write with per-row callbacks — see
    * [[GraftRowLevelOperationBuilder]]. Exactly-compilable DELETEs never get
    * here: the metadata-delete optimization takes [[canDeleteWhere]] first. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new GraftRowLevelOperationBuilder(catalog, opts, info)
}

/** A pushed-down aggregate the partition readers evaluate store-side —
  * the DSv2 analogue of an HBase aggregation coprocessor: each partition
  * emits ONE partial row instead of its full row set, and Spark's final
  * aggregate merges the per-region partials. Min/Max/Count/Sum; Sum pushes
  * only for integral (partial = LongType; addition mirrors the session's
  * overflow semantics — see [[SumOp]]) and float/double (partial =
  * DoubleType — Spark's own distributed sum is already
  * merge-order-nondeterministic, so region partials add no new variance)
  * columns. Decimal sums stay engine-side: their precision-widening
  * partial type is version-coupled. */
sealed trait PushedAggOp extends Serializable
case object CountStarOp extends PushedAggOp
final case class CountColOp(field: String) extends PushedAggOp
final case class MinOp(field: String) extends PushedAggOp
final case class MaxOp(field: String) extends PushedAggOp
/** `ansi` mirrors the session's ANSI mode AT PLAN TIME: ANSI sum raises on
  * Long overflow, so the pushed partial must add with overflow checks
  * (Math.addExact) to match engine semantics — a silently-wrapping partial
  * would return a wrong answer where the engine errors. Non-ANSI keeps the
  * wrap-around add, which is exact for Spark's legacy sum. */
final case class SumOp(field: String, integral: Boolean, ansi: Boolean) extends PushedAggOp

/** Pushdown surface (reference buildScan/unhandledFilters contract,
  * HBaseRelation.scala:316-322) — plus DSv2 aggregate pushdown, which the
  * DSv1 reference has no hook for. */
class GraftScanBuilder(catalog: GraftCatalog, opts: GraftOptions,
    initialSchema: StructType)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN
    with org.apache.spark.sql.connector.read.SupportsPushDownJoin {

  import org.apache.spark.sql.connector.read.SupportsPushDownJoin.ColumnWithAlias

  // ---- kv × kv join pushdown (spark.sql.optimizer.datasourceV2JoinPushdown) --
  // A row-key equi-join of two tables in the same cluster executes
  // store-side as a LOOKUP JOIN: scan the left table's regions, point-get
  // the right row per key — no shuffle of either side, the co-located-join
  // plan a networked deployment would run inside the region servers. See
  // [[PushedKvJoin]] for the accepted shape and its correctness argument.
  private var pushedJoinSpec: Option[PushedKvJoin] = None
  private var joinedSchema: Option[StructType] = None

  private[datasource] def sideCatalog: GraftCatalog = catalog
  private[datasource] def sideOpts: GraftOptions = opts

  /** Join pushdown accepts only PLAIN current-state reads of unsalted
    * tables: time travel/TTL/version explosion change row visibility per
    * side, and salt changes the key bytes the probe would assemble. */
  private[datasource] def plainForJoin: Boolean =
    opts.timeRange.isEmpty && opts.maxVersions == 1 && opts.mergeToLatest &&
      !opts.tombstones && opts.ttl.isEmpty && catalog.saltBuckets == 0

  /** Pushed FILTERS are fine on a join side — the optimizer pushes each
    * side's predicates into the relations BEFORE attempting the join, and
    * the join scan honors them (left: region/range pruning + scan
    * predicate; right: range + predicate check per probe). They must be
    * fully handled though: a residual leaves a Filter node above the
    * relation, which blocks the rule anyway. Aggregates/limits/another
    * join on a side decline. */
  private[datasource] def noPushedState: Boolean =
    aggSchema.isEmpty && pushedLimit.isEmpty && pushedJoinSpec.isEmpty &&
      FilterCompiler.partition(catalog, pushed)._2.isEmpty

  override def isOtherSideCompatibleForJoin(
      other: org.apache.spark.sql.connector.read.SupportsPushDownJoin): Boolean =
    other match {
      case o: GraftScanBuilder =>
        plainForJoin && o.plainForJoin && noPushedState && o.noPushedState &&
          opts.cluster == o.sideOpts.cluster &&
          // key structures must match part-for-part (type AND width), so
          // the probe's encode-and-concat of left values yields exactly a
          // stored right key when the values match
          catalog.rowKeyParts.length == o.sideCatalog.rowKeyParts.length &&
          catalog.rowKeyParts.zip(o.sideCatalog.rowKeyParts).forall {
            case (l, r) => l.field.dataType == r.field.dataType && l.width == r.width
          }
      case _ => false
    }

  override def pushDownJoin(
      other: org.apache.spark.sql.connector.read.SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftCols: Array[ColumnWithAlias],
      rightCols: Array[ColumnWithAlias],
      cond: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.join.JoinType
    if (!isOtherSideCompatibleForJoin(other)) return false
    val o = other.asInstanceOf[GraftScanBuilder]
    val leftOuter = joinType == JoinType.LEFT_OUTER_JOIN
    if (joinType != JoinType.INNER_JOIN && !leftOuter) return false
    // the condition must equate the two row keys part-for-part: a
    // conjunction of `=` predicates over the ALIASED output names, covering
    // EVERY key part of both sides position-wise (part i = part i)
    def eqPairs(pr: org.apache.spark.sql.connector.expressions.filter.Predicate):
        Option[Seq[(String, String)]] = pr match {
      case and: org.apache.spark.sql.connector.expressions.filter.And =>
        for { a <- eqPairs(and.left()); b <- eqPairs(and.right()) } yield a ++ b
      case p if p.name() == "=" => p.children() match {
        case Array(a: NamedReference, b: NamedReference)
          if a.fieldNames.length == 1 && b.fieldNames.length == 1 =>
          Some(Seq((a.fieldNames.head, b.fieldNames.head)))
        case _ => None
      }
      case _ => None
    }
    val refPairs = eqPairs(cond).getOrElse(return false)
    def pairs(cols: Array[ColumnWithAlias]): Seq[(String, String)] =
      cols.toSeq.map(c => (Option(c.alias).getOrElse(c.colName), c.colName))
    val lm = pairs(leftCols); val rm = pairs(rightCols)
    // the hidden metadata columns are not catalog fields: a side projecting
    // _cell_ts/_deleted must DECLINE (fall back to the unpushed join) —
    // resolving them below would throw at planning or probe time
    val metaCols = Set(GraftTable.CellTsColumn, GraftTable.DeletedColumn)
    if ((lm ++ rm).exists { case (_, colName) => metaCols.contains(colName) })
      return false
    val lByOut = lm.toMap; val rByOut = rm.toMap
    val lKeys = catalog.rowKeyFields.map(_.name)
    val rKeys = o.sideCatalog.rowKeyFields.map(_.name)
    // resolve each equality to (left catalog col, right catalog col)
    val resolved = refPairs.map { case (x, y) =>
      (lByOut.get(x), rByOut.get(y), lByOut.get(y), rByOut.get(x)) match {
        case (Some(l), Some(r), _, _) => (l, r)
        case (_, _, Some(l), Some(r)) => (l, r)
        case _ => return false
      }
    }
    // every pair must be key = key at the SAME position, every part covered
    val byLeft = resolved.toMap
    val keysOk = resolved.size == resolved.distinct.size &&
      resolved.forall { case (l, r) =>
        val i = lKeys.indexOf(l); i >= 0 && rKeys.lift(i).contains(r)
      } && lKeys.forall(byLeft.contains)
    if (!keysOk) return false
    def sideFields(cat: GraftCatalog, m: Seq[(String, String)],
        forceNullable: Boolean): Seq[org.apache.spark.sql.types.StructField] =
      m.map { case (out, colName) =>
        val sf = cat.schema(colName)
        org.apache.spark.sql.types.StructField(out, sf.dataType,
          sf.nullable || forceNullable)
      }
    joinedSchema = Some(StructType(
      sideFields(catalog, lm, forceNullable = false) ++
        sideFields(o.sideCatalog, rm, forceNullable = leftOuter)))
    pushedJoinSpec = Some(PushedKvJoin(
      JoinSide(catalog, opts, lm, pushed.toSeq),
      JoinSide(o.sideCatalog, o.sideOpts, rm, o.pushedFilters().toSeq),
      lKeys, rKeys, leftOuter))
    true
  }

  private var pushed: Array[Filter] = Array.empty
  private var requiredSchema: StructType = initialSchema
  private var aggOps: Option[Seq[PushedAggOp]] = None
  private var aggGroupCols: Seq[String] = Nil
  private var aggSchema: Option[StructType] = None
  private var pushedLimit: Option[Int] = None
  private var reverseScan: Boolean = false
  private var topNSignSplit: Boolean = false

  /** Any scan can stop early — each partition emits at most `l` rows and
    * Spark's GlobalLimit picks among them (partial pushdown, so the limit
    * node stays for the final cut). Declined once an aggregation is pushed:
    * partitions then emit partials (a limit would be meaningless), and
    * keeping the limit/top-N state frozen makes the push-time index-grouping
    * decision (see [[pushAggregation]]) identical to the plan-time one. */
  override def pushLimit(l: Int): Boolean =
    if (aggSchema.isDefined || pushedJoinSpec.isDefined) false
    else { pushedLimit = Some(l); true }

  override def isPartiallyPushed(): Boolean = true

  /** Top-N pushes when the requested ordering is a UNIFORM-direction prefix
    * of the row key and the DRAIN order (encoded-key byte order) is the
    * value order: ascending rides the store's native key order; descending
    * rides a REVERSED scan (the skip list is a NavigableMap — O(1) per
    * step, no sort). Either way the first `l` rows a partition emits ARE
    * its top `l` under the requested ordering (full-key order is a valid
    * tie-break), so no per-partition sort and no full-region read.
    *
    * The gate is [[graft.types.FieldCoder.byteOrderIsValueOrder]], NOT the
    * weaker `preservesOrdering`: Primitive-coded signed numerics physically
    * sort negatives ABOVE positives, so a raw drain would emit 0,1,2,… and
    * early-stop before ever reaching the true (negative) minimum — the
    * sign-split range algebra compensates for PRUNING, not for ordering.
    * A leading Primitive INTEGRAL key still pushes, though: two's-
    * complement byte order is value order WITHIN each sign class, so the
    * planner splits every region at the sign boundary into two partitions
    * ([[GraftScan]] signSplitTopN) and each drains value-ordered; Spark's
    * global top-N merges the per-partition candidates. Floats/doubles stay
    * declined (negative IEEE754 values sort REVERSED within the negative
    * class). Mixed directions, Avro keys, or any non-key ordering decline. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      l: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    if (aggSchema.isDefined || pushedJoinSpec.isDefined) return false // see pushLimit
    val keyFields = catalog.rowKeyFields
    val uniform = orders.nonEmpty && orders.forall(_.direction == orders.head.direction)
    def integralSigned(f: graft.catalog.Field): Boolean =
      (f.coder eq graft.types.PrimitiveCoder) && (f.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
    val ok = uniform && orders.length <= keyFields.length &&
      orders.zipWithIndex.zip(keyFields).forall { case ((o, i), kf) =>
        (o.expression match {
          case nr: NamedReference =>
            nr.fieldNames.length == 1 && nr.fieldNames.head == kf.name
          case _ => false
        }) && kf.avroSchemaJson.isEmpty &&
          (kf.coder.byteOrderIsValueOrder(kf.dataType) ||
            // only the LEADING part can use the sign-split partitioning —
            // a later sign-wrapped part would mis-order rows within ties
            (i == 0 && integralSigned(kf)))
      }
    if (ok) {
      pushedLimit = Some(l)
      reverseScan = orders.head.direction == SortDirection.DESCENDING
      topNSignSplit = !keyFields.head.coder.byteOrderIsValueOrder(keyFields.head.dataType)
    }
    ok
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // a joined builder's columns are ALIASED join outputs the compiler has
    // no catalog mapping for — everything stays residual (Spark re-applies)
    if (pushedJoinSpec.isDefined) return filters
    pushed = filters
    // residual = filters we can't evaluate exactly; Spark re-applies them
    val (_, residual) = FilterCompiler.partition(catalog, filters)
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit =
    if (pushedJoinSpec.isDefined) joinedSchema = Some(required)
    else requiredSchema = required

  /** Partial pushdown only (`supportCompletePushDown` stays false): every
    * region partition answers with its own min/max/count partials, which is
    * correct under any region split — complete pushdown would require a
    * single global scan and serialize the whole read. Residual-filtered
    * scans are not pushed: a residual means rows the store can't exclude,
    * so a store-side count would overcount.
    *
    * GROUP BY pushes when the grouping is a PREFIX of the row key (in key
    * order, order-preserving coders only): the region scan is key-ordered
    * and order preservation makes equal group values byte-contiguous, so
    * each region streams per-group partials with O(1) state (emit on prefix
    * change) — no store-side hash map, per-region output = its distinct
    * prefix count. A non-prefix grouping would need unbounded state and is
    * declined; Spark's final aggregate re-merges groups that span region
    * boundaries either way. */
  override def pushAggregation(agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (pushedJoinSpec.isDefined) return false
    if (FilterCompiler.partition(catalog, pushed)._2.nonEmpty) return false
    // the store-side fold serves latest-merged rows only: exploded versions
    // make count(*) count versions, which Spark aggregates off the row scan
    if (!opts.mergeToLatest) return false
    var groupViaIndex = false
    val groupCols: Seq[String] = if (agg.groupByExpressions.isEmpty) Nil else {
      val keyFields = catalog.rowKeyFields
      val names = agg.groupByExpressions.toSeq.map {
        case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames.head
        case _ => return false
      }
      val prefixOk = names.length <= keyFields.length &&
        names.zip(keyFields).forall { case (n, kf) =>
          n == kf.name && kf.coder.preservesOrdering(kf.dataType)
        }
      // not a main-key prefix: it may still be a prefix of a secondary
      // INDEX's key order (indexed column first, then main key parts) —
      // `GROUP BY indexed_col` streams per-group partials off the index's
      // sort. Validated below once the agg fields are known.
      if (!prefixOk) groupViaIndex = true
      names
    }
    // DECLINE a grouped aggregate over the FULL row key of a salted table:
    // row keys are unique, so store-side partials reduce nothing (exactly
    // one row per group), and Spark 4.1's V2ScanPartitioningAndOrdering can
    // never attach the scan's bucket(n, key) claim to a pushed-agg scan (it
    // resolves the transform against the pre-pushdown relation's attributes
    // but then requires them among the post-pushdown scan's fresh exprIds,
    // silently discarding the claim). Declining lets the PLAIN row scan
    // report KeyGroupedPartitioning, and the whole aggregate runs
    // exchange-free on top — strictly better than pushdown + a same-
    // cardinality partials exchange.
    val fullSaltedKeyGroup = !groupViaIndex &&
      groupCols == catalog.rowKeyFields.map(_.name) &&
      catalog.saltBuckets > 0 &&
      (catalog.rowKeyFields match {
        case Seq(f) if f.avroSchemaJson.isEmpty =>
          SaltFunctions.nameFor(f.coderName).isDefined
        case _ => false
      })
    if (fullSaltedKeyGroup) return false
    // ops on dynamic or versioned-map columns decline: the fold's walk
    // reads one newest cell per column
    def ref(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 &&
        scala.util.Try(catalog.field(nr.fieldNames.head)).toOption
          .exists(RowMaterializer.walkable) =>
        Some(nr.fieldNames.head)
      case _ => None
    }
    // min/max push only for types whose decoded ordering is total and
    // engine-identical (parquet's util also bans STRING — a stats-
    // truncation legacy that doesn't apply to a store that decodes full
    // values, so strings are allowed here)
    def orderable(name: String): Boolean = catalog.field(name).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
           _: org.apache.spark.sql.types.DecimalType => true
      case _ => false
    }
    def summable(name: String): Option[Boolean] = catalog.field(name).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
        Some(true)
      case org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType =>
        Some(false)
      case _ => None
    }
    // ANSI mode (the Spark-4 default) makes Long sums RAISE on overflow —
    // the pushed partials must do the same (Math.addExact in the reader),
    // so capture the session's mode into the op at plan time
    val ansiSum = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
    val ops: Seq[Option[PushedAggOp]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CountStarOp)
      case c: Count if !c.isDistinct => ref(c.column).map(CountColOp)
      case m: Min => ref(m.column).filter(orderable).map(MinOp)
      case m: Max => ref(m.column).filter(orderable).map(MaxOp)
      case s: Sum if !s.isDistinct =>
        ref(s.column).flatMap(f => summable(f).map(i => SumOp(f, i, ansiSum)))
      case _ => None
    }
    if (!ops.forall(_.isDefined)) return false
    if (groupViaIndex) {
      // the plan-time decision re-evaluates the SAME gates with the same
      // inputs (limit/top-N are frozen after an accepted aggregation, and
      // runtime filters only add exact key predicates), so acceptance here
      // guarantees the index-ordered grouped reader actually runs
      val opFields = ops.flatten.collect {
        case CountColOp(f) => f
        case MinOp(f) => f
        case MaxOp(f) => f
        case SumOp(f, _, _) => f
      }
      val viable = SecondaryIndex.indexOnlyPlan(catalog,
        opts.withTtlResolved(System.currentTimeMillis()), pushed.toSeq,
        (groupCols ++ opFields).distinct, groupCols,
        limited = pushedLimit.isDefined || reverseScan).isDefined
      if (!viable) return false
    }
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    aggOps = Some(ops.flatten)
    aggGroupCols = groupCols
    // scan output = group columns first, then agg partials (the order
    // Spark's partial-pushdown rewrite expects)
    aggSchema = Some(StructType(
      groupCols.map(g => StructField(g, catalog.field(g).dataType)) ++
      ops.flatten.map {
        case CountStarOp => StructField("count(*)", LongType, nullable = false)
        case CountColOp(f) => StructField(s"count($f)", LongType, nullable = false)
        case MinOp(f) => StructField(s"min($f)", catalog.field(f).dataType)
        case MaxOp(f) => StructField(s"max($f)", catalog.field(f).dataType)
        case SumOp(f, integral, _) => StructField(s"sum($f)",
          if (integral) LongType else org.apache.spark.sql.types.DoubleType)
      }))
    true
  }

  override def build(): Scan = pushedJoinSpec match {
    case Some(j) => new GraftKvJoinScan(j, joinedSchema.get)
    case None =>
      new GraftScan(catalog, opts, requiredSchema, pushed, aggOps, aggSchema,
        pushedLimit, aggGroupCols, reverseScan, topNSignSplit)
  }
}

class GraftScan(catalog: GraftCatalog, opts: GraftOptions,
    requiredSchema: StructType, filters: Array[Filter],
    aggOps: Option[Seq[PushedAggOp]] = None,
    aggSchema: Option[StructType] = None,
    limit: Option[Int] = None,
    aggGroupCols: Seq[String] = Nil,
    reverse: Boolean = false,
    /** Pushed top-N over a leading sign-split INTEGRAL key part: regions
      * must be split at the sign boundary so each partition drains in value
      * order — see [[GraftScanBuilder.pushTopN]]. */
    signSplitTopN: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics with SupportsRuntimeFiltering
    with SupportsReportPartitioning with SupportsReportOrdering {

  override def readSchema(): StructType = aggSchema.getOrElse(requiredSchema)

  /** Per-partition output ordering: readers drain the store's skip lists in
    * encoded-key byte order, over planner ranges that are normalized
    * ascending, so every partition's rows ascend by encoded key. That IS
    * value order for exactly the leading key fields whose coder guarantees
    * strict byte-order identity ([[graft.types.FieldCoder
    * .byteOrderIsValueOrder]] — all Phoenix types; Primitive
    * string/binary/boolean; never sign-split numerics, whose negatives
    * physically sort above positives). Reporting it lets Spark drop the
    * Sort under merge joins and sort-based aggregates — on a salted pair
    * this plus the key-grouped partitioning report makes a kv × kv join
    * literally exchange-free AND sort-free
    * (`spark.sql.sources.v2.bucketing.sorting.enabled`). Salt does not
    * break it: a partition is one bucket, whose constant salt prefix
    * leaves the logical-key order untouched. Gated to plain row scans —
    * aggregated / limited / reversed / index-driven partitions do not
    * drain one skip-list range sequence. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    val plain = aggOps.isEmpty && limit.isEmpty && !reverse &&
      !opts.tombstones && indexOnlyTarget.isEmpty && staticIndexConsult.isEmpty
    if (!plain) return Array.empty
    val visible = readSchema().fieldNames.toSet
    catalog.rowKeyFields
      .takeWhile(f => f.avroSchemaJson.isEmpty &&
        f.coder.byteOrderIsValueOrder(f.dataType) && visible.contains(f.name))
      .map(f => Expressions.sort(Expressions.column(f.name), SortDirection.ASCENDING))
      .toArray
  }

  /** Storage-partitioned-join identity: a SALTED table's regions ARE its
    * salt buckets (presplit one region per salt byte), so a plain row scan
    * is key-grouped by `bucket(numBuckets, key)` — the catalog-served
    * function ([[SaltFunctions]]) that computes exactly the writer's bucket
    * placement. Two salted tables with the same bucket count joined on
    * their row key then need NO shuffle on either side (Spark's
    * storage-partitioned join, the DSv2 analogue of co-located bucketed
    * Hive tables) — at 100 TB that deletes the dominant cost of a kv × kv
    * join. Reported only for single-column Primitive-coded keys (catalyst
    * accepts only single-reference transforms in a key-grouped
    * partitioning, and the salt hash is coder-dependent — see
    * [[SaltFunctions]]) and only when the key survives column pruning:
    * Spark resolves the transform's reference against the scan output and
    * would fail analysis on a projected-away key (which could not be a
    * join key anyway). Aggregated / limited / reversed / index-only scans
    * report unknown — their partitions are not plain bucket row-sets. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val saltFn = catalog.rowKeyFields match {
      case Seq(f) if f.avroSchemaJson.isEmpty => SaltFunctions.nameFor(f.coderName)
      case _ => None
    }
    val visible = readSchema().fieldNames.toSet
    // only PLAIN row scans claim the bucket identity. A pushed grouped
    // aggregate never reaches here with the full row key as its group —
    // pushAggregation declines that case precisely so this scan stays
    // plain and the claim survives V2ScanPartitioningAndOrdering (which
    // cannot resolve transform references against a pushed-agg scan's
    // fresh output exprIds in Spark 4.1).
    saltFn match {
      case Some(_) if catalog.saltBuckets > 0 && aggOps.isEmpty &&
          limit.isEmpty && !reverse && indexOnlyTarget.isEmpty &&
          catalog.rowKeyFields.forall(f => visible.contains(f.name)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(Expressions.bucket(catalog.saltBuckets,
            catalog.rowKeyFields.head.name)),
          staticPlan.length)
      case _ =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }
  }

  /** Runtime (DPP-style) filters on the row key: when this scan probes a
    * broadcast join, Spark hands over the build side's key set at runtime
    * and the planner re-runs with those values folded in — regions prune
    * and point keys become store gets BEFORE the probe scan starts. Safe
    * to over-approximate by contract (the join re-filters), but the
    * compiler's predicates are exact anyway. */
  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only advertise key fields that survived column pruning — Spark
    // RESOLVES these against the scan's output and throws on a miss
    // (a projected-away key can't be a join key anyway). With a pushed
    // GROUP BY, the group key fields are IN the agg read schema, so a join
    // on the grouped output gets runtime region pruning like a row scan;
    // this is sound for the aggregation because a runtime filter references
    // group-key fields only, so it keeps or drops whole groups — surviving
    // groups' partials are computed over exactly their rows. A GLOBAL
    // pushed agg has no key in its output, so no runtime filter can target
    // it (and advertising a non-output column crashes Spark's resolver).
    val visible = readSchema().fieldNames.toSet
    catalog.rowKeyFields.filter(f => visible.contains(f.name)).map(f =>
      org.apache.spark.sql.connector.expressions.Expressions.column(f.name)).toArray
  }

  override def filter(fs: Array[Filter]): Unit = { runtimeFilters = fs }

  /** Size/row estimates from the regions' O(1) row counters, scoped to the
    * regions the pushed key ranges leave alive — so a small kv dimension
    * auto-broadcasts in joins without hints (DSv2's default is "unknown
    * = infinite", which forces sort-merge). Width is the pruned read
    * schema's Catalyst default size. The counters are maintained by
    * put/delete ([[graft.store.KvTable.Region.rowCount]]), so plan-time
    * estimation is O(regions) — never a per-region `size()` walk, which on
    * a skip list is O(rows) and would be a full-table count on the driver
    * before every query at scale. A networked deployment would serve the
    * same numbers from region-server metadata. */
  /** An aggregated partition reads only the group fields + the fields the
    * agg ops reference; a row partition reads the pruned schema. */
  private lazy val partSchema: StructType = aggOps match {
    case Some(ops) =>
      val fields = (aggGroupCols ++ ops.collect {
        case CountColOp(f) => f
        case MinOp(f) => f
        case MaxOp(f) => f
        case SumOp(f, _, _) => f
      }).distinct
      StructType(fields.map(f => org.apache.spark.sql.types.StructField(
        f, catalog.field(f).dataType)))
    case None => requiredSchema
  }

  /** The `keyPrefixes` option as normalized encoded-key ranges — the
    * large-fan-out sliver read: tens of thousands of prefixes compile to
    * ranges in one O(n log n) sort+sweep, where the same set as a pushed
    * Catalyst Or-tree costs tens of seconds of per-rule tree walks per
    * planning. EXACT everywhere it is accepted, LOUD where it cannot be:
    * on a salted table each prefix fans across every salt bucket (the
    * bucket byte precedes the logical key and a prefix does not determine
    * the bucket — buckets × prefixes ranges, still one sort+sweep); a
    * table whose leading row-key part is not a raw-encoded string REJECTS
    * the option at plan time, because UTF-8 prefix bytes compared against
    * sign-split numeric or varint-length avro key encodings would silently
    * select the wrong rows — a correctness footgun a public read option
    * must not have. */
  @transient private lazy val optionPrefixRanges: Option[Seq[ScanRange[Array[Byte]]]] = {
    implicit val ord: Ordering[Array[Byte]] = BytesUtil.byteArrayOrdering
    opts.keyPrefixes.map { ps =>
      val first = catalog.rowKeyParts.head.field
      require(first.dataType == org.apache.spark.sql.types.StringType &&
          first.avroSchemaJson.isEmpty,
        s"keyPrefixes requires the leading row-key part to be a raw-encoded " +
          s"string; ${catalog.qualifiedName}'s leading part '${first.name}' is " +
          (if (first.avroSchemaJson.isDefined) "avro-coded"
           else first.dataType.simpleString) +
          " — raw UTF-8 prefix bytes over that encoding would silently " +
          "select the wrong rows")
      val logical = ScanRange.or(ps.map { p =>
        val b = p.getBytes("UTF-8")
        ScanRange(Bound(Some(b), inclusive = true),
          BytesUtil.prefixUpperBound(b) match {
            case Some(up) => Bound(Some(up), inclusive = false)
            case None     => Bound.posInf[Array[Byte]]
          })
      }, Seq.empty)
      FilterCompiler.saltFan(catalog, logical, fullKey = false)
    }
  }

  /** [[FilterCompiler.compileAll]] plus the `keyPrefixes` range
    * restriction — EVERY compile (static, runtime-filter re-plan) goes
    * through here so the option survives a DPP re-plan. */
  private def compileWithPrefixes(allFilters: Seq[Filter]): FilterCompiler.Hrf = {
    implicit val ord: Ordering[Array[Byte]] = BytesUtil.byteArrayOrdering
    val base = FilterCompiler.compileAll(catalog, allFilters)
    optionPrefixRanges match {
      case Some(pr) => base.copy(ranges = ScanRange.and(base.ranges, pr))
      case None => base
    }
  }

  /** Memoized compile of the STATIC pushed filters — statistics, the index
    * consult, and partition planning all need it, and Spark consults each
    * several times during physical planning. */
  @transient private lazy val staticHrf: FilterCompiler.Hrf =
    compileWithPrefixes(filters.toSeq)

  /** The region's key slice as a scan range (shared clip pattern). */
  private def regionRange(r: graft.store.RegionInfo): ScanRange[Array[Byte]] =
    ScanRange[Array[Byte]](Bound(r.start, inclusive = true), Bound(r.end, inclusive = false))

  /** Memoized index consult over the STATIC pushed filters (runtime filters
    * add key ranges, which take the non-consult path anyway) — shared by
    * statistics and partition planning so the index is scanned at most once
    * per query compilation. */
  private lazy val staticIndexConsult: Option[Seq[ScanRange[Array[Byte]]]] = {
    if (staticHrf.ranges == Seq(ScanRange.all[Array[Byte]]))
      SecondaryIndex.lookup(catalog,
        opts.withTtlResolved(System.currentTimeMillis()), filters.toSeq)
    else None
  }

  override def estimateStatistics(): Statistics = {
    implicit val ord: Ordering[Array[Byte]] = BytesUtil.byteArrayOrdering
    val table = KvStore.table(opts.storeName(catalog))
    // one pass over the regions: which survive pruning, and their row sum
    val survivors = table.regionInfos.filter(r =>
      ScanRange.and(staticHrf.ranges, Seq(regionRange(r))).nonEmpty)
    val surviving = survivors.size
    val rowCount = staticIndexConsult match {
      // an index consult bounds the result exactly: ≤ 1 row per point key —
      // a selective indexed filter now auto-broadcasts in joins
      case Some(points) => points.size.toLong
      case None => survivors.map(r => table.regions(r.index).rowCount.get()).sum
    }
    val rows =
      // a pushed GLOBAL aggregate emits exactly ONE partial row per
      // surviving region — report that, not the table row count, so an
      // aggregated subquery auto-broadcasts in joins
      if (aggOps.isDefined && aggGroupCols.isEmpty) surviving.toLong
      else limit.fold(rowCount)(l => math.min(rowCount, l.toLong * surviving))
    val width = math.max(readSchema().defaultSize, 1).toLong
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(rows * width, 1L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }

  override def toBatch: Batch = this

  /** `spark.readStream.format("graft-kv")` — the pruned schema and pushed
    * filters carry over; each micro-batch is planned as a per-region
    * stamp-window scan (see [[GraftMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(catalog, opts, requiredSchema, filters)

  @volatile private var plannedRegions = 0L
  @volatile private var totalRegions = 0L
  /** point keys the secondary-index consult produced; 0 = not consulted */
  @volatile private var indexKeys = 0L
  /** 1 when the whole scan was served from the index table (index-only) */
  @volatile private var indexOnlyScan = 0L

  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    GraftMetricsDefs.all

  override def reportDriverMetrics(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftMetricsDefs.task("graftRegionsPlanned", plannedRegions),
      GraftMetricsDefs.task("graftRegionsTotal", totalRegions),
      GraftMetricsDefs.task("graftIndexKeys", indexKeys),
      GraftMetricsDefs.task("graftIndexOnlyScan", indexOnlyScan))

  /** The index-only decision over the static filters — deterministic and
    * cheap (gate checks only, no store scan), so `explain()` output shows
    * where the scan will actually read from. */
  private lazy val indexOnlyTarget: Option[String] =
    if (optionPrefixRanges.isDefined) None
    else SecondaryIndex.indexOnlyPlan(catalog,
      opts.withTtlResolved(System.currentTimeMillis()), filters.toSeq,
      partSchema.fieldNames.toSeq, groupCols = aggGroupCols,
      limited = limit.isDefined || reverse).map(_.qualifiedName)

  override def description(): String = {
    val via = indexOnlyTarget.map(t => s", scan=index-only($t)").getOrElse("")
    aggOps match {
      case Some(ops) =>
        val grp = if (aggGroupCols.isEmpty) ""
          else s", pushedGroupBy=[${aggGroupCols.mkString(", ")}]"
        s"GraftScan(${catalog.qualifiedName}, pushedAggregates=[${ops.mkString(", ")}]$grp$via)"
      case None =>
        val lim = limit.map(l =>
          s", pushedLimit=$l${if (reverse) " (reversed)" else ""}").getOrElse("")
        s"GraftScan(${catalog.qualifiedName}, cols=${requiredSchema.fieldNames.mkString(",")}$lim$via)"
    }
  }

  /** Region × pushed-range intersection with partition pruning (reference
    * getPartitions, HBaseTableScan.scala:63-89).
    *
    * The STATIC plan (no runtime filters yet) is memoized: Spark consults
    * `outputPartitioning()` several times during physical planning, and each
    * consult needs the partition count — re-running filter compilation,
    * store metadata reads, and per-region clipping for every consult (and
    * side-effecting the planning metrics outside the real planning call)
    * would be pure waste. Runtime (DPP) filters arrive after planning and
    * force a genuine re-plan, which also refreshes the metrics. */
  @transient private lazy val staticPlan: Array[InputPartition] =
    planPartitions(filters.toSeq, Some(staticHrf))

  override def planInputPartitions(): Array[InputPartition] =
    if (runtimeFilters.isEmpty) staticPlan
    else planPartitions((filters ++ runtimeFilters).toSeq)

  private def planPartitions(allFilters: Seq[Filter],
      precompiled: Option[FilterCompiler.Hrf] = None): Array[InputPartition] = {
    implicit val ord: Ordering[Array[Byte]] = BytesUtil.byteArrayOrdering
    val hrf = precompiled.getOrElse(compileWithPrefixes(allFilters))
    val table = KvStore.table(opts.storeName(catalog))
    // one `now` snapshot per query: every partition sees the same TTL
    // cutoff, folded into the ordinary stamp window (identity without ttl)
    val resolvedOpts = opts.withTtlResolved(System.currentTimeMillis())
    // secondary-index consult: when the KEY gives no pruning but a pushed
    // filter is selective on an indexed column, the index turns the scan
    // into point gets. Pure pruning — hrf.pred still decides every row, so
    // the consult's over-approximations (value-prefix false positives) and
    // its fallback (None over the cap) never affect results.
    // INDEX-ONLY scan first (the strongest rewrite: the index table IS the
    // scan, an ordinary range scan over a re-keyed catalog), then the
    // point-get consult, then the plain region scan.
    // a keyPrefixes restriction binds to the MAIN table's encoded keys — an
    // index-only rewrite would silently drop it (the index table re-keys)
    val indexOnlyPlanned =
      if (optionPrefixRanges.isDefined) None
      else SecondaryIndex.indexOnlyPlan(catalog, resolvedOpts, allFilters,
        partSchema.fieldNames.toSeq, groupCols = aggGroupCols,
        limited = limit.isDefined || reverse)
    indexOnlyPlanned match {
      case Some(idxCat) =>
        indexOnlyScan = 1L
        val idxHrf = FilterCompiler.compileAll(idxCat, allFilters)
        val idxTable = KvStore.table(resolvedOpts.storeName(idxCat))
        val partitions = idxTable.regionInfos.flatMap { r =>
          val clipped = ScanRange.and(idxHrf.ranges, Seq(regionRange(r)))
          if (clipped.isEmpty) None
          else Some(GraftInputPartition(idxCat, resolvedOpts, r.index, r.host,
            clipped.map(SerializableRange.from), idxHrf.pred,
            partSchema, aggOps, None, aggGroupCols): InputPartition)
        }.toArray
        plannedRegions = partitions.length.toLong
        totalRegions = idxTable.regionInfos.size.toLong
        return partitions
      case None =>
    }
    val idxRanges =
      if (hrf.ranges == Seq(ScanRange.all[Array[Byte]])) staticIndexConsult
      else None
    idxRanges.foreach(pts => indexKeys = pts.size.toLong)
    val effRanges = idxRanges.getOrElse(hrf.ranges)
    val partitions = table.regionInfos.flatMap { r =>
      val clipped = ScanRange.and(effRanges, Seq(regionRange(r)))
      if (clipped.isEmpty) Seq.empty
      else {
        // A pushed top-N over a leading sign-split integral key drains in
        // BYTE order, where negatives (first byte >= 0x80) sort above
        // positives; split the region's ranges at the sign boundary so each
        // partition covers ONE sign class — within a class, two's-complement
        // byte order IS value order, so the per-partition early stop keeps
        // the true top-l candidates and Spark's global top-N merges them.
        val rangeSets: Seq[Seq[ScanRange[Array[Byte]]]] =
          if (signSplitTopN && limit.isDefined && aggOps.isEmpty) {
            // boundary = (salt byte ‖) 0x80: below it every first-part value
            // is non-negative, at or above it negative (bare [salt, 0x80] is
            // a strict prefix of every negative key, sorting before them)
            val boundary =
              if (catalog.saltBuckets == 0) Array(0x80.toByte)
              else Array(r.start.filter(_.nonEmpty).map(_(0)).getOrElse(0.toByte),
                0x80.toByte)
            val neg = ScanRange.and(clipped,
              Seq(ScanRange(Bound(Some(boundary), inclusive = true),
                Bound.posInf[Array[Byte]])))
            val pos = ScanRange.and(clipped,
              Seq(ScanRange(Bound.negInf[Array[Byte]],
                Bound(Some(boundary), inclusive = false))))
            Seq(neg, pos).filter(_.nonEmpty)
          } else Seq(clipped)
        rangeSets.map { set =>
          // ranges ascend by start within the partition — the reader drains
          // them sequentially, so this is what makes the reported
          // per-partition key ordering (outputOrdering) true by construction
          val ordered = set.sortWith { (a, b) =>
            (a.start.value, b.start.value) match {
              case (None, None) => false
              case (None, _) => true
              case (_, None) => false
              case (Some(x), Some(y)) => ord.lt(x, y)
            }
          }
          GraftInputPartition(catalog, resolvedOpts, r.index, r.host,
            ordered.map(SerializableRange.from), hrf.pred,
            partSchema, aggOps, if (aggOps.isEmpty) limit else None,
            aggGroupCols, reverse): InputPartition
        }
      }
    }.toArray
    plannedRegions = partitions.length.toLong
    totalRegions = table.regionInfos.size.toLong
    partitions
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory
}

/** Bound/range with Option[Array[Byte]] endpoints, Java-serializable. */
final case class SerializableRange(
    start: Option[Array[Byte]], startInc: Boolean,
    end: Option[Array[Byte]], endInc: Boolean) extends Serializable {
  def toRange: ScanRange[Array[Byte]] =
    ScanRange(Bound(start, startInc), Bound(end, endInc))
  def isPoint: Boolean = (start, end) match {
    case (Some(a), Some(b)) => startInc && endInc && java.util.Arrays.equals(a, b)
    case _ => false
  }
}
object SerializableRange {
  def from(r: ScanRange[Array[Byte]]): SerializableRange =
    SerializableRange(r.start.value, r.start.inclusive, r.end.value, r.end.inclusive)
}

final case class GraftInputPartition(
    catalog: GraftCatalog,
    opts: GraftOptions,
    regionIndex: Int,
    host: String,
    ranges: Seq[SerializableRange],
    pred: Option[KvPredicate],
    requiredSchema: org.apache.spark.sql.types.StructType,
    aggOps: Option[Seq[PushedAggOp]] = None,
    limit: Option[Int] = None,
    groupCols: Seq[String] = Nil,
    reverse: Boolean = false,
    /** CDC micro-batch only: the stamp window whose delete markers this
      * partition must ALSO emit (as `_deleted=true` rows). None on batch
      * scans — a batch read never sees tombstones. */
    tombstoneWindow: Option[graft.store.TimeRange] = None) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  /** Data locality: the region's host (reference getPreferredLocations,
    * HBaseTableScan.scala:384-388). SUPPRESSED under local-mode masters:
    * every task is same-node anyway, and advertising the in-process
    * store's synthetic region hosts can STARVE a stage that mixes scan
    * partitions with post-shuffle partitions — the alive localhost
    * preference keeps the TaskSetManager at NODE_LOCAL while the
    * dead-host tasks wait for re-offers local mode never makes (observed:
    * a MERGE whose delta-write stage unioned both kinds hung at 1/5
    * tasks forever). A distributed deployment reports real region-server
    * hosts here and the preference behaves as designed. */
  override def preferredLocations(): Array[String] = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    if (sc.isLocal) Array.empty else Array(host)
  }

  /** Partition identity for storage-partitioned joins: on a SALTED table
    * region i holds exactly bucket i (presplits are the salt bytes), so the
    * region index IS the bucket value the scan's reported
    * `KeyGroupedPartitioning(bucket(n, key...))` promises. Spark reads this
    * only when the scan reports that partitioning (salted tables); for
    * range-split tables the value is meaningless and never consulted. */
  override def partitionKey(): InternalRow = InternalRow(regionIndex)
}

/** DSv2 custom metrics for the SQL UI: scan efficiency is visible per
  * query — rows materialized by the readers, and how many regions the
  * planner kept vs the table's total (the pruning story, measured). */
private[datasource] object GraftMetricsDefs {
  import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}

  final class RowsScanned extends CustomSumMetric {
    override def name(): String = "graftRowsScanned"
    override def description(): String = "kv rows materialized"
  }
  final class RowsWalked extends CustomSumMetric {
    override def name(): String = "graftRowsWalked"
    override def description(): String = "kv rows walked (passing the pushed predicate or not)"
  }
  final class RegionsPlanned extends CustomSumMetric {
    override def name(): String = "graftRegionsPlanned"
    override def description(): String = "kv regions planned (post-pruning)"
  }
  final class RegionsTotal extends CustomSumMetric {
    override def name(): String = "graftRegionsTotal"
    override def description(): String = "kv regions in table"
  }
  final class IndexKeys extends CustomSumMetric {
    override def name(): String = "graftIndexKeys"
    override def description(): String = "point keys from secondary-index consult"
  }
  final class IndexOnlyScan extends CustomSumMetric {
    override def name(): String = "graftIndexOnlyScan"
    override def description(): String = "1 = scan served entirely from the index table"
  }

  def all: Array[CustomMetric] =
    Array(new RowsScanned, new RowsWalked, new RegionsPlanned, new RegionsTotal,
      new IndexKeys, new IndexOnlyScan)

  def task(metricName: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = metricName
    override def value(): Long = v
  }

  /** A reader's two row counts: rows it produced and rows its store walks
    * stepped over. */
  def rows(scanned: Long, walked: Long): Array[CustomTaskMetric] =
    Array(task("graftRowsScanned", scanned), task("graftRowsWalked", walked))
}

class GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    p.aggOps match {
      case Some(ops) if p.groupCols.nonEmpty => new GraftGroupAggPartitionReader(p, ops)
      case Some(ops) => new GraftAggPartitionReader(p, ops)
      case None => new GraftPartitionReader(p)
    }
  }

  /** Columnar reads: a latest read whose every slot the store walk serves
    * (a key part, a simple column, or `_cell_ts`) and whose every type is
    * vector-writable decodes straight into `ColumnarBatch` vectors (the
    * reference's row-at-a-time materializer was its own known perf debt —
    * HBaseTableScan.scala:113,177,218 TODOs). GROUPED pushed aggregates are
    * also columnar when every output type is vector-writable: a key-prefix
    * group scan over a wide region emits one row per distinct prefix, and
    * batching those into vectors keeps the 100×-shape (many groups) on the
    * vectorized path. Global aggregates (one row per region), `_deleted`
    * reads and the multi-cell shapes (versioned, dynamic, version
    * explosion) keep the row reader. The decision depends only on
    * schema/options, never on a partition's ranges, so one scan's
    * partitions always agree (Spark requires all-or-none). */
  override def supportColumnarReads(partition: InputPartition): Boolean = {
    val p = partition.asInstanceOf[GraftInputPartition]
    p.aggOps match {
      case Some(ops) if p.groupCols.nonEmpty =>
        PushedAggSchema.outputTypes(p.catalog, p.groupCols, ops)
          .forall(VectorSlotSink.supports)
      case Some(_) => false // one partial row per region — nothing to batch
      case None =>
        // _deleted stays on the row path: CDC batches interleave upserts and
        // tombstone rows, not a shape worth vectorizing
        p.opts.mergeToLatest && p.requiredSchema.fields.forall { f =>
          f.name != GraftTable.DeletedColumn && VectorSlotSink.supports(f.dataType) &&
            (f.name == GraftTable.CellTsColumn || RowMaterializer.walkable(p.catalog.field(f.name)))
        }
    }
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftInputPartition]
    p.aggOps match {
      case Some(ops) => new GraftGroupAggColumnarReader(p, ops)
      case None => new GraftColumnarPartitionReader(p)
    }
  }
}

/** Output types of a pushed (possibly grouped) aggregate scan — group
  * columns first, then one partial per op, mirroring the schema
  * [[GraftScanBuilder.pushAggregation]] reports to Spark. */
private[datasource] object PushedAggSchema {
  def outputTypes(catalog: GraftCatalog, groupCols: Seq[String],
      ops: Seq[PushedAggOp]): Seq[org.apache.spark.sql.types.DataType] =
    groupCols.map(g => catalog.field(g).dataType) ++ ops.map {
      case CountStarOp | CountColOp(_) => org.apache.spark.sql.types.LongType
      case MinOp(f) => catalog.field(f).dataType
      case MaxOp(f) => catalog.field(f).dataType
      case SumOp(_, integral, _) =>
        if (integral) org.apache.spark.sql.types.LongType
        else org.apache.spark.sql.types.DoubleType
    }
}

/** Count/min/max/sum partial state. `update` reads one decoded row — one
  * Catalyst value per slot of `schema`, null when absent — through slot
  * indexes resolved once here. */
private[datasource] final class AggAccumulator(
    ops: Seq[PushedAggOp], schema: StructType) {

  private val opArr = ops.toArray
  private val slot: Array[Int] = opArr.map {
    case CountStarOp => -1
    case CountColOp(f) => schema.fieldIndex(f)
    case MinOp(f) => schema.fieldIndex(f)
    case MaxOp(f) => schema.fieldIndex(f)
    case SumOp(f, _, _) => schema.fieldIndex(f)
  }
  private[datasource] val orderings = schema.fields.map(f =>
    org.apache.spark.sql.catalyst.types.PhysicalDataType.ordering(f.dataType)
      .asInstanceOf[Ordering[Any]])

  private val counts = new Array[Long](ops.length)
  private val extremes = new Array[Any](ops.length)
  private val sumsL = new Array[Long](ops.length)
  private val sumsD = new Array[Double](ops.length)
  private val sumSeen = new Array[Boolean](ops.length)

  def reset(): Unit = {
    java.util.Arrays.fill(counts, 0L)
    java.util.Arrays.fill(extremes.asInstanceOf[Array[AnyRef]], null)
    java.util.Arrays.fill(sumsL, 0L)
    java.util.Arrays.fill(sumsD, 0.0)
    java.util.Arrays.fill(sumSeen, false)
  }

  def update(row: Array[Any]): Unit = {
    var i = 0
    while (i < opArr.length) {
      val j = slot(i)
      val v = if (j < 0) null else row(j)
      opArr(i) match {
        case CountStarOp => counts(i) += 1
        case CountColOp(_) => if (v != null) counts(i) += 1
        case MinOp(_) =>
          if (v != null && (extremes(i) == null || orderings(j).lt(v, extremes(i))))
            extremes(i) = v
        case MaxOp(_) =>
          if (v != null && (extremes(i) == null || orderings(j).gt(v, extremes(i))))
            extremes(i) = v
        case SumOp(_, integral, ansi) =>
          if (v != null) {
            sumSeen(i) = true
            // boxed Byte/Short/Integer/Long and Float/Double are Numbers
            val n = v.asInstanceOf[Number]
            // ANSI sum raises on Long overflow; the partial must match
            // (wrap-around would silently return a wrong answer where the
            // engine errors)
            if (integral)
              sumsL(i) = if (ansi) Math.addExact(sumsL(i), n.longValue()) else sumsL(i) + n.longValue()
            else sumsD(i) += n.doubleValue()
          }
      }
      i += 1
    }
  }

  def result(): Array[Any] = ops.zipWithIndex.map {
    case (CountStarOp, i) => counts(i): Any
    case (CountColOp(_), i) => counts(i): Any
    case (SumOp(_, integral, _), i) =>
      if (!sumSeen(i)) null else if (integral) sumsL(i): Any else sumsD(i): Any
    case (_, i) => extremes(i)
  }.toArray
}

/** The rows a pushed-aggregate partition folds: the partition's walked
  * rows ([[GraftScanSetup.nextWalked]]), each decoded into the reused
  * [[values]] array — no `KvRow`, `KvCell` or `InternalRow` per scanned row.
  * Merge-to-latest, time-range and TTL visibility are the row scan's
  * (the walk keeps the scan's existence rule), so the partials equal an
  * aggregate over that scan's rows. */
private[datasource] abstract class AggFoldReader(p: GraftInputPartition, ops: Seq[PushedAggOp])
    extends PartitionReader[InternalRow] {

  private val setup = new GraftScanSetup(p)
  require(setup.walked, "aggregate pushed over a shape the store walk cannot serve")
  protected val acc = new AggAccumulator(ops, p.requiredSchema)
  /** The current row's decoded slot values, overwritten by [[advance]]. */
  protected val values = new Array[Any](p.requiredSchema.length)
  private var folded = 0L

  /** Step to the next served row and decode it into [[values]]. */
  protected def advance(): Boolean = setup.nextWalked(values) && { folded += 1; true }

  protected var current: InternalRow = _
  override def get(): InternalRow = current
  override def close(): Unit = setup.close()
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    GraftMetricsDefs.rows(folded, setup.rowsWalked)
}

/** Store-side partial aggregation: folds the region's rows into ONE output
  * row (count/min/max/sum partials) — the per-region movement drops from
  * O(rows) to O(1), which is the entire point at 1000 executors. */
class GraftAggPartitionReader(p: GraftInputPartition, ops: Seq[PushedAggOp])
    extends AggFoldReader(p, ops) {

  private var emitted = false

  override def next(): Boolean = {
    if (emitted) return false
    acc.reset()
    while (advance()) acc.update(values)
    current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(acc.result())
    emitted = true
    true
  }
}

/** Store-side GROUPED partial aggregation for a row-key-prefix grouping:
  * the region scan is key-ordered and order-preserving coders make equal
  * group values byte-contiguous, so this streams with O(1) state — emit a
  * (group values, partials) row each time the prefix changes. No hash map,
  * no sort; per-region output is its distinct-prefix count, and Spark's
  * final aggregate merges groups that span region boundaries. */
class GraftGroupAggPartitionReader(p: GraftInputPartition, ops: Seq[PushedAggOp])
    extends AggFoldReader(p, ops) {

  private val gIdx = p.groupCols.map(p.requiredSchema.fieldIndex).toArray

  /** [[values]] holds a decoded row not yet folded into any group. */
  private var pending = false
  private var exhausted = false

  private def sameKey(key: Array[Any]): Boolean = {
    var i = 0
    while (i < gIdx.length) {
      val j = gIdx(i)
      val b = values(j)
      val same =
        if (key(i) == null || b == null) key(i) == null && b == null
        else acc.orderings(j).equiv(key(i), b)
      if (!same) return false
      i += 1
    }
    true
  }

  override def next(): Boolean = {
    if (!pending) {
      if (exhausted || !advance()) { exhausted = true; return false }
    }
    // decoded values are fresh objects per row, so the group key can hold
    // them while the walk moves on
    val key = gIdx.map(values(_))
    acc.reset()
    acc.update(values)
    pending = false
    while (!pending && !exhausted) {
      if (!advance()) exhausted = true
      else if (sameKey(key)) acc.update(values)
      else pending = true
    }
    current = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      key ++ acc.result())
    true
  }
}

/** Shared executor-side scan setup for the row, columnar, join and
  * aggregate readers: column restriction, version depth, and the two ways
  * to read the partition's ranges — the store walk for a latest read whose
  * every slot it serves ([[walked]]), the `KvRow` scan for the multi-cell
  * shapes — plus the rows walked under either. */
private[datasource] final class GraftScanSetup(p: GraftInputPartition) {

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  private val catalog = p.catalog
  private val table = KvStore.table(p.opts.storeName(catalog))

  // resource contract (reference HBaseResources.scala:33-89 releases
  // table/scanner handles at task end): a setup holds one scan lease from
  // construction until the owning reader's close() — idempotent, so a
  // reader wrapped by another reader (columnar over grouped agg) closes
  // safely twice. Closing also ends the open walk, so the rows it served
  // before a limit stopped it still count.
  table.acquireScanLease()
  private val leaseReleased = new java.util.concurrent.atomic.AtomicBoolean(false)
  def close(): Unit =
    if (leaseReleased.compareAndSet(false, true)) {
      if (openWalk != null) openWalk.close()
      table.releaseScanLease()
    }

  // the _cell_ts and _deleted metadata columns are not catalog fields:
  // carve their slots out, decode the DATA slots into their positions, and
  // fill the metadata slots alongside
  private val width = p.requiredSchema.length
  private val tsSlots: Array[Int] = p.requiredSchema.fields.zipWithIndex
    .collect { case (f, i) if f.name == GraftTable.CellTsColumn => i }
  private val delSlots: Array[Int] = p.requiredSchema.fields.zipWithIndex
    .collect { case (f, i) if f.name == GraftTable.DeletedColumn => i }
  private val dataFields = p.requiredSchema.fields.zipWithIndex
    .filterNot { case (_, i) => tsSlots.contains(i) || delSlots.contains(i) }
  private val dataSlots: Array[Int] = dataFields.map(_._2)
  private val dataDts = dataFields.map(_._1.dataType)
  private def hasCellTs: Boolean = tsSlots.nonEmpty
  private def hasMeta: Boolean = tsSlots.nonEmpty || delSlots.nonEmpty

  /** Newest cell stamp of a scanned row, `Long.MinValue` when cell-less. */
  private def newestStamp(kr: graft.store.KvRow): Long = {
    var maxTs = Long.MinValue
    kr.cells.foreach(c => if (c.ts > maxTs) maxTs = c.ts)
    maxTs
  }

  // pair each required (possibly nested-pruned) column with its catalog field
  private val projection: Seq[(graft.catalog.Field, org.apache.spark.sql.types.DataType)] =
    dataFields.toSeq.map { case (sf, _) => (catalog.field(sf.name), sf.dataType) }

  private val timeRange = p.opts.timeRange
  private val needsVersions =
    !p.opts.mergeToLatest || projection.exists(_._1.dataType match {
      case org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.LongType, _, _) => true
      case org.apache.spark.sql.types.MapType(_,
        org.apache.spark.sql.types.MapType(org.apache.spark.sql.types.LongType, _, _), _) => true
      case _ => false
    })
  private val versions = if (needsVersions) math.max(p.opts.maxVersions, 1) else 1

  /** Column restriction (reference restrictive modes,
    * HBaseTableScan.scala:406-416): COLUMN when the projection is static,
    * FAMILY/ALL when dynamic columns need the whole family. A walk reads
    * the projected columns whatever the mode; the restriction decides the
    * columns its `_cell_ts` stamp spans. */
  private val columnSet: ColumnSet = {
    val valueFields = projection.map(_._1).filterNot(_.isRowKey)
    p.opts.restrictive match {
      case "none" => ColumnSet.All
      case "family" => ColumnSet.Families(
        (if (valueFields.nonEmpty) valueFields else catalog.valueFields).map(_.cf).toSet)
      case "column" => ColumnSet.Columns(valueFields.map(f => (f.cf, f.qual)).toSet)
      case _ => // auto
        // row-existence only (count/key-only): stop at the first in-range
        // cell — but an exploded-versions read derives a row PER TIMESTAMP
        // and _cell_ts needs the stamps, so both keep the cells
        if (valueFields.isEmpty && p.opts.mergeToLatest && !hasCellTs)
          ColumnSet.KeysOnly
        // _cell_ts contract: the newest visible stamp OF THE ROW — a
        // projection-restricted cell set would make the same row report
        // different stamps under different SELECT lists, so the scan must
        // see every column's latest cell whenever _cell_ts is projected
        // (an explicit restrictive=column/family option still overrides,
        // with per-restriction stamps as the documented semantics)
        else if (valueFields.isEmpty || hasCellTs) ColumnSet.All
        else if (valueFields.exists(_.isDynamic))
          ColumnSet.Families(valueFields.map(_.cf).toSet)
        else ColumnSet.Columns(valueFields.map(f => (f.cf, f.qual)).toSet)
    }
  }

  private val materializer = new RowMaterializer(catalog, projection, p.opts.mergeToLatest)

  /** A latest read of key parts and simple columns only: each partition row
    * is one walked row, decoded by [[nextWalked]]. Otherwise the read is a
    * multi-cell shape and goes through the `KvRow` scan. */
  val walked: Boolean =
    p.opts.mergeToLatest && projection.forall(f => RowMaterializer.walkable(f._1))

  private val walkCols = materializer.valueColumns
  private val stampCols = if (hasCellTs) Some(columnSet) else None

  private def orderedRanges: Iterator[SerializableRange] =
    if (p.reverse) p.ranges.reverseIterator else p.ranges.iterator

  // Point ranges become single-key lookups and range ranges become ordered
  // scans over the region's skip list — the scan-vs-get split of the
  // reference (HBaseTableScan.scala:454-494) collapses to one call here
  // because a point `subMap` IS the get on the embedded store. A reversed
  // scan (top-N DESC) walks the normalized-ascending ranges backwards,
  // each range iterated descending, so the stream is globally key-DESC.
  private val walks: Iterator[graft.store.KvWalk] = orderedRanges.map { r =>
    val walk = table.walk(p.regionIndex, r.toRange, walkCols, timeRange, p.pred,
      p.reverse, stampCols)
    opened(() => walk.rowsWalked)
    walk
  }
  private var openWalk: graft.store.KvWalk = _

  private def kvRows: Iterator[graft.store.KvRow] =
    orderedRanges.flatMap { r =>
      val scan = table.scan(p.regionIndex, r.toRange, columnSet,
        timeRange, versions, p.pred, p.reverse)
      opened(() => scan.rowsWalked)
      scan
    }

  // rows walked by the ranges already passed, plus the open range's count
  private var walkedBefore = 0L
  private var walkedOpen: () => Long = () => 0L
  private def opened(walked: () => Long): Unit = {
    walkedBefore += walkedOpen()
    walkedOpen = walked
  }
  /** Rows the store stepped over for this partition so far, passing the
    * pushed predicate or not. */
  def rowsWalked: Long = walkedBefore + walkedOpen()

  /** Step to the partition's next walked row and decode it into `out` at
    * required-schema positions, `_cell_ts` and `_deleted` (false) included;
    * false when every range is done. Needs [[walked]]. */
  def nextWalked(out: Array[Any]): Boolean = {
    while (openWalk == null || !openWalk.next()) {
      if (!walks.hasNext) return false
      openWalk = walks.next()
    }
    decode(openWalk.key, openWalk.cells, openWalk.stamp, deleted = false, out)
    true
  }

  private def decode(key: Array[Byte], cells: Array[Array[Byte]], stamp: Long,
      deleted: Boolean, out: Array[Any]): Unit = {
    materializer.decodeWalked(key, cells, out, dataSlots)
    if (hasCellTs) {
      val ts = if (stamp == Long.MinValue) null else Long.box(stamp)
      tsSlots.foreach(out(_) = ts)
    }
    delSlots.foreach(out(_) = deleted)
  }

  /** The partition's upsert rows in required-schema order: walked rows, or
    * for a multi-cell shape each scanned `KvRow` materialized. */
  def rows: Iterator[InternalRow] =
    if (walked)
      Iterator.continually { val out = new Array[Any](width); if (nextWalked(out)) out else null }
        .takeWhile(_ != null).map(new GenericInternalRow(_))
    else kvRows.flatMap(materialized)

  private def materialized(kr: graft.store.KvRow): Iterator[InternalRow] =
    if (!hasMeta) materializer.materialize(kr)
    else {
      val maxTs = newestStamp(kr)
      val ts: Any = if (maxTs == Long.MinValue) null else Long.box(maxTs)
      materializer.materialize(kr).map(assembleWithMeta(_, ts))
    }

  /** Splice `cellTs` (boxed Long or null) and `_deleted` = false into their
    * slots around a materialized data row. */
  private def assembleWithMeta(dataRow: InternalRow, cellTs: Any): InternalRow = {
    val out = new Array[Any](width)
    var i = 0
    while (i < dataSlots.length) {
      out(dataSlots(i)) = if (dataRow.isNullAt(i)) null else dataRow.get(i, dataDts(i))
      i += 1
    }
    tsSlots.foreach(j => out(j) = cellTs)
    delSlots.foreach(j => out(j) = false)
    new GenericInternalRow(out)
  }

  /** The row at `key` exactly as a read of this setup sees it — column
    * restriction, visibility and the partition's pushed predicate applied —
    * or None: the join's right-side point probe. */
  def probe(key: Array[Byte]): Option[InternalRow] =
    if (walked) {
      val walk = table.walk(table.regionOf(key), ScanRange.point(key), walkCols, timeRange,
        p.pred, stampCols = stampCols)
      try {
        if (!walk.next()) None
        else {
          val out = new Array[Any](width)
          decode(walk.key, walk.cells, walk.stamp, deleted = false, out)
          Some(new GenericInternalRow(out))
        }
      } finally walk.close()
    } else table.get(key, columnSet, timeRange, versions, p.pred)
      .flatMap(materialized(_).toSeq.headOption)

  /** CDC tombstones for this partition's stamp window: each delete marker
    * inside the pushed key ranges becomes a key-only row (value columns
    * null) with `_deleted=true` and `_cell_ts` = the delete stamp — one
    * row per marker whatever the shape, decoded like a walked row with no
    * cells. A marker superseded by a LIVE row whose newest cell stamp is >=
    * the marker (a re-put resurrected the key) is suppressed — the upsert
    * row carries the truth.
    *
    * The pushed predicate IS applied, evaluated over exactly what the
    * tombstone row will look like (key bytes + all-null value columns): key
    * predicates test the key, `IS NULL` matches, comparisons and
    * `IS NOT NULL` don't. Skipping it would violate the handled=true
    * contract — Spark has already REMOVED fully-handled filters from the
    * plan, so an unfiltered tombstone (e.g. under a suffix-key equality,
    * which compiles to ranges=All + an exact key predicate) would emit rows
    * that contradict the query's WHERE with nothing above to catch them. */
  def tombstoneRows: Iterator[InternalRow] =
    if (delSlots.isEmpty) Iterator.empty // projection dropped _deleted —
    // upsert rows and tombstones would be indistinguishable, so emit none
    else p.tombstoneWindow.iterator.flatMap { window =>
      val emptyRow = new java.util.concurrent.ConcurrentHashMap[(String, String),
        java.util.concurrent.ConcurrentSkipListMap[java.lang.Long, Array[Byte]]]()
      val noCells = new Array[Array[Byte]](walkCols.length)
      p.ranges.iterator.flatMap(r =>
        table.tombstonesIn(p.regionIndex, r.toRange, window))
        .filter { case (key, _) => p.pred.forall(_.eval(key, emptyRow, None)) }
        .filter { case (key, stamp) =>
          table.get(key, ColumnSet.All, None, 1)
            .forall(live => newestStamp(live) < stamp)
        }
        .map { case (key, stamp) =>
          val out = new Array[Any](width)
          decode(key, noCells, stamp, deleted = true, out)
          new GenericInternalRow(out)
        }
    }
}

/** Executor-side row reader: the partition's rows ([[GraftScanSetup.rows]])
  * and, on a CDC read, its tombstones. */
class GraftPartitionReader(p: GraftInputPartition) extends PartitionReader[InternalRow] {

  private val setup = new GraftScanSetup(p)

  private val rows: Iterator[InternalRow] = {
    // CDC tombstones ride behind the window's upserts (order within a
    // micro-batch carries no semantics — stamps do); None on batch scans
    val base = setup.rows ++ setup.tombstoneRows
    // pushed limit/top-N: ranges are normalized-disjoint and each region
    // read is key-ordered, so the first `l` rows are the partition's top
    // `l` — the iterator stops, the region read ends early
    p.limit.fold(base)(l => base.take(l))
  }

  private var current: InternalRow = _
  private[datasource] var rowsScanned = 0L

  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); rowsScanned += 1; true } else false
  }

  override def get(): InternalRow = current

  override def close(): Unit = setup.close()

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    GraftMetricsDefs.rows(rowsScanned, setup.rowsWalked)
}

/** Typed `OnHeapColumnVector` setters for the columnar readers — resolved
  * once per slot, so the per-value write is one virtual call plus a
  * primitive/bytes append. */
private[datasource] object VectorSlotSink {
  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.types._

  /** Atomic types the columnar path writes — plus arrays of fixed-width
    * primitives (the Avro-coded embedding columns: `array<float>` vectors
    * decode into the batch's child element vector, so ANN probes over
    * kv-resident inverted files ride the vectorized path instead of
    * falling back to rows). Anything else reads as rows. */
  def supports(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | FloatType | DoubleType |
         StringType | BinaryType => true
    case ArrayType(et, _) => supportsArrayElem(et)
    case _ => false
  }

  /** Array element types with a direct child-vector append (fixed-width
    * primitives only — nested arrays/strings keep the row path). */
  private def supportsArrayElem(et: DataType): Boolean = et match {
    case BooleanType | ByteType | ShortType | IntegerType | DateType |
         LongType | TimestampType | FloatType | DoubleType => true
    case _ => false
  }

  private type ElemAppender =
    (org.apache.spark.sql.execution.vectorized.WritableColumnVector,
     org.apache.spark.sql.catalyst.util.ArrayData, Int) => Unit

  private def elemAppenderFor(et: DataType): ElemAppender = et match {
    case BooleanType => (c, a, i) => { c.appendBoolean(a.getBoolean(i)); () }
    case ByteType => (c, a, i) => { c.appendByte(a.getByte(i)); () }
    case ShortType => (c, a, i) => { c.appendShort(a.getShort(i)); () }
    case IntegerType | DateType => (c, a, i) => { c.appendInt(a.getInt(i)); () }
    case LongType | TimestampType => (c, a, i) => { c.appendLong(a.getLong(i)); () }
    case FloatType => (c, a, i) => { c.appendFloat(a.getFloat(i)); () }
    case DoubleType => (c, a, i) => { c.appendDouble(a.getDouble(i)); () }
    case other => throw new UnsupportedOperationException(s"array element $other")
  }

  def setterFor(dt: DataType): (OnHeapColumnVector, Int, Any) => Unit = dt match {
    case BooleanType => (v, r, x) => v.putBoolean(r, x.asInstanceOf[Boolean])
    case ByteType => (v, r, x) => v.putByte(r, x.asInstanceOf[Byte])
    case ShortType => (v, r, x) => v.putShort(r, x.asInstanceOf[Short])
    case IntegerType | DateType => (v, r, x) => v.putInt(r, x.asInstanceOf[Int])
    case LongType | TimestampType => (v, r, x) => v.putLong(r, x.asInstanceOf[Long])
    case FloatType => (v, r, x) => v.putFloat(r, x.asInstanceOf[Float])
    case DoubleType => (v, r, x) => v.putDouble(r, x.asInstanceOf[Double])
    case StringType => (v, r, x) => {
      val b = x.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
      v.putByteArray(r, b, 0, b.length)
    }
    case BinaryType => (v, r, x) => {
      val b = x.asInstanceOf[Array[Byte]]
      v.putByteArray(r, b, 0, b.length)
    }
    case ArrayType(et, _) if supportsArrayElem(et) =>
      val appendElem = elemAppenderFor(et)
      (v, r, x) => {
        // elements append to the vector's child; the parent row records the
        // (offset, length) window — Spark's standard array vector layout
        val a = x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val child = v.arrayData()
        val start = child.getElementsAppended
        val n = a.numElements()
        var i = 0
        while (i < n) {
          if (a.isNullAt(i)) { child.appendNull(); () } else appendElem(child, a, i)
          i += 1
        }
        v.putArray(r, start, n)
      }
    case other => throw new UnsupportedOperationException(s"columnar write of $other")
  }
}

/** The columnar readers' one batching loop: [[nextSlots]] decodes a row's
  * slots (Catalyst values, null when absent) into a reused array, and each
  * `next()` writes up to 4096 of them into `OnHeapColumnVector`s through
  * [[VectorSlotSink.setterFor]] — no `InternalRow` per row; downstream
  * whole-stage codegen consumes the batch vector-at-a-time. */
private[datasource] abstract class SlotBatchReader(
    protected val types: Array[org.apache.spark.sql.types.DataType])
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.execution.vectorized.OnHeapColumnVector
  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  /** Decode the next row into `out`; false when the source is done. */
  protected def nextSlots(out: Array[Any]): Boolean

  private val capacity = 4096
  private val vectors: Array[OnHeapColumnVector] = OnHeapColumnVector.allocateColumns(capacity,
    StructType(types.zipWithIndex.map { case (dt, i) =>
      org.apache.spark.sql.types.StructField(s"c$i", dt)
    }))
  private val batch = new ColumnarBatch(vectors.map(v => v: ColumnVector))
  private val setters = types.map(VectorSlotSink.setterFor)
  private val slots = new Array[Any](types.length)

  override def next(): Boolean = {
    var i = 0
    while (i < vectors.length) { vectors(i).reset(); i += 1 }
    var n = 0
    while (n < capacity && nextSlots(slots)) {
      var j = 0
      while (j < slots.length) {
        val v = slots(j)
        if (v == null) vectors(j).putNull(n) else setters(j)(vectors(j), n, v)
        j += 1
      }
      n += 1
    }
    batch.setNumRows(n)
    n > 0
  }

  override def get(): ColumnarBatch = batch
  override def close(): Unit = batch.close()
}

/** Columnar executor-side reader: the partition's walked rows, `_cell_ts`
  * included, batched by [[SlotBatchReader]]. Only constructed when
  * [[GraftReaderFactory.supportColumnarReads]] held. */
class GraftColumnarPartitionReader(p: GraftInputPartition)
    extends SlotBatchReader(p.requiredSchema.fields.map(_.dataType)) {

  private val setup = new GraftScanSetup(p)
  require(setup.walked, "columnar reader constructed for a read the store walk cannot serve")

  // one output row per walked row, so a pushed limit/top-N counts them
  private val limit = p.limit.getOrElse(Int.MaxValue)
  private var rowsScanned = 0L

  override protected def nextSlots(out: Array[Any]): Boolean =
    rowsScanned < limit && setup.nextWalked(out) && { rowsScanned += 1; true }

  override def close(): Unit = { super.close(); setup.close() }

  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    GraftMetricsDefs.rows(rowsScanned, setup.rowsWalked)
}

/** Columnar reader for a pushed key-prefix GROUPED aggregate: delegates the
  * walk-and-fold to [[GraftGroupAggPartitionReader]] (that streaming walk —
  * O(1) state, one emitted row per distinct prefix — IS the expensive part)
  * and batches the emitted group rows, so a wide region's many groups flow
  * to the final aggregate on the vectorized path instead of row-at-a-time. */
class GraftGroupAggColumnarReader(p: GraftInputPartition, ops: Seq[PushedAggOp])
    extends SlotBatchReader(PushedAggSchema.outputTypes(p.catalog, p.groupCols, ops).toArray) {

  private val inner = new GraftGroupAggPartitionReader(p, ops)

  override protected def nextSlots(out: Array[Any]): Boolean = inner.next() && {
    val row = inner.get()
    var j = 0
    while (j < out.length) {
      out(j) = if (row.isNullAt(j)) null else row.get(j, types(j))
      j += 1
    }
    true
  }

  override def close(): Unit = { super.close(); inner.close() }
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.currentMetricsValues()
}
