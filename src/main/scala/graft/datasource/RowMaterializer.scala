package graft.datasource

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.catalog.{Field, GraftCatalog}
import graft.store.{KvCell, KvRow}

/** Receives decoded slot values during a fast-path materialization — the
  * columnar reader implements this with `ColumnVector` writes so cell bytes
  * decode STRAIGHT into batch vectors, no intermediate `InternalRow`. */
private[datasource] trait SlotSink {
  def putNull(slot: Int): Unit
  /** `v` is non-null and already in Catalyst representation. */
  def put(slot: Int, v: Any): Unit
}

/** Store cells → Catalyst rows (reference buildRow/buildRows +
  * toFlattenRowIterator, HBaseTableScan.scala:114-252,337-382): latest-version
  * merge, dynamic map columns (string-, long-, and nested-keyed), the
  * `mergeToLatest=false` per-timestamp row explosion, and nested-schema
  * pruning (a struct column may arrive pruned to a subfield subset — output
  * is shaped to the REQUIRED type, not the catalog type).
  *
  * `projection` pairs each required column's catalog field with the required
  * (possibly nested-pruned) data type, in output order.
  */
final class RowMaterializer(
    catalog: GraftCatalog,
    projection: Seq[(Field, DataType)],
    mergeToLatest: Boolean) extends Serializable {

  private val keyParts = catalog.rowKeyParts

  // ---- per-partition slot plan (computed ONCE, not per row) --------------
  // The reference carried a known perf debt: a hashmap lookup per column per
  // row during materialization (HBaseTableScan.scala:113,177,218 TODOs). We
  // precompute each output slot's decode plan and, for the common case
  // (mergeToLatest, only key parts + simple static columns), fill rows with
  // a single pass over the cell list — first cell per column wins, matching
  // the latest-first store order.
  private val nSlots = projection.size
  private val fieldsArr = projection.map(_._1).toArray
  private val reqTypes = projection.map(_._2).toArray
  private val KindKey = 0; private val KindSimple = 1
  private val KindVersioned = 2; private val KindDynamic = 3
  private val slotKind = new Array[Int](nSlots)
  private val keyPartOf = new Array[graft.catalog.RowKeyPart](nSlots)
  /** family → qualifier → slot: the cell's own strings are the lookup
    * keys, so finding a cell's slot builds nothing per cell. */
  private val slotByColumn = new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
  private def slotOf(cf: String, qual: String): Integer = {
    val byQual = slotByColumn.get(cf)
    if (byQual == null) null else byQual.get(qual)
  }
  private var fastPathOk = true
  projection.zipWithIndex.foreach { case ((f, _), i) =>
    if (f.isRowKey) {
      slotKind(i) = KindKey
      keyPartOf(i) = keyParts.find(_.field.name == f.name).get
    } else if (f.isDynamic) { slotKind(i) = KindDynamic; fastPathOk = false }
    else f.dataType match {
      case MapType(LongType, _, _) => slotKind(i) = KindVersioned; fastPathOk = false
      case _ =>
        slotKind(i) = KindSimple
        val byQual = slotByColumn.computeIfAbsent(f.cf, _ => new java.util.HashMap[String, Integer]())
        if (byQual.put(f.qual, i) != null) fastPathOk = false
    }
  }

  private def column(i: Int): (String, String) = (fieldsArr(i).cf, fieldsArr(i).qual)

  /** The distinct (cf, qual) columns of the simple value slots — the
    * column list a [[graft.store.KvTable.walk]] fetches for
    * [[decodeWalked]]. */
  val valueColumns: Array[(String, String)] =
    (0 until nSlots).filter(slotKind(_) == KindSimple).map(column).distinct.toArray
  /** Simple slot → index of its column in [[valueColumns]]; -1 otherwise. */
  private val columnOfSlot: Array[Int] = Array.tabulate(nSlots)(i =>
    if (slotKind(i) == KindSimple) valueColumns.indexOf(column(i)) else -1)

  /** True when every slot is [[RowMaterializer.walkable]] — the
    * precondition for [[decodeWalked]]. */
  def walkable: Boolean = slotKind.forall(k => k == KindKey || k == KindSimple)

  /** Decode one walked row into `out`, one value per slot in Catalyst
    * representation (null when absent): key parts from `key` (salt
    * included in the part offsets), value slots from `cells`, which holds
    * the newest cell of each of [[valueColumns]]. Caller must hold
    * [[walkable]] and a mergeToLatest read. */
  def decodeWalked(key: Array[Byte], cells: Array[Array[Byte]], out: Array[Any]): Unit = {
    var i = 0
    while (i < nSlots) {
      out(i) =
        if (slotKind(i) == KindKey) decodeKeySlot(i, key)
        else {
          val b = cells(columnOfSlot(i))
          if (b == null) null else decodeCellSlot(i, b)
        }
      i += 1
    }
  }

  private def decodeKeySlot(i: Int, key: Array[Byte]): Any = {
    val p = keyPartOf(i)
    toRequired(fieldsArr(i), reqTypes(i), p.field.coder.decode(p.field.dataType, key,
      p.offsetIn(key.length), p.lengthIn(key.length)))
  }

  private def decodeCellSlot(i: Int, value: Array[Byte]): Any = {
    val f = fieldsArr(i)
    toRequired(f, reqTypes(i), f.coder.decode(f.dataType, value))
  }

  /** True when every slot decodes in one cell pass with exactly one output
    * row per KvRow — the precondition for [[materializeInto]] (and thus for
    * the columnar read path). */
  def fastPathColumnar: Boolean = mergeToLatest && fastPathOk

  private val filledBuf = new Array[Boolean](nSlots)

  /** Fast-path decode of one KvRow directly into `sink` (exactly one output
    * row). Same slot walk as [[buildMergedFast]], minus the `Array[Any]` and
    * `GenericInternalRow` allocations. Caller must hold [[fastPathColumnar]];
    * single-threaded (reuses a filled-slot buffer). */
  def materializeInto(row: KvRow, sink: SlotSink): Unit = {
    java.util.Arrays.fill(filledBuf, false)
    var i = 0
    while (i < nSlots) {
      if (slotKind(i) == KindKey) {
        val v = decodeKeySlot(i, row.key)
        if (v == null) sink.putNull(i) else sink.put(i, v)
        filledBuf(i) = true
      }
      i += 1
    }
    row.cells.foreach { c =>
      val s = slotOf(c.cf, c.qual)
      if (s != null && !filledBuf(s)) {
        val v = decodeCellSlot(s, c.value)
        if (v == null) sink.putNull(s) else sink.put(s, v)
        filledBuf(s) = true
      }
    }
    var j = 0
    while (j < nSlots) {
      if (!filledBuf(j)) sink.putNull(j)
      j += 1
    }
  }

  /** CDC tombstone materialization: exactly ONE key-only output row (value
    * and dynamic slots null) REGARDLESS of mergeToLatest — the
    * `mergeToLatest=false` explosion path iterates distinct cell stamps and
    * would emit ZERO rows for a cell-less synthetic row, silently dropping
    * the delete event. The fast single-pass builder is correct here for
    * every slot kind: with no cells, versioned/dynamic/simple slots all
    * decode to null and only the key parts fill. */
  def materializeTombstone(row: KvRow): InternalRow = buildMergedFast(row)

  /** Decode the projected fields of one KvRow into 1..n InternalRows. */
  def materialize(row: KvRow): Iterator[InternalRow] = {
    if (mergeToLatest && fastPathOk) return Iterator.single(buildMergedFast(row))

    val keyValues: Map[String, Any] = {
      val m = Map.newBuilder[String, Any]
      keyParts.foreach { p =>
        if (projection.exists(_._1.name == p.field.name)) {
          val off = p.offsetIn(row.key.length)
          val len = p.lengthIn(row.key.length)
          m += p.field.name -> p.field.coder.decode(p.field.dataType, row.key, off, len)
        }
      }
      m.result()
    }

    if (mergeToLatest) Iterator.single(buildMerged(row, keyValues))
    else buildExploded(row, keyValues)
  }

  /** Fast path: key parts decoded straight into their slots, then ONE pass
    * over the cells (first match per column wins = latest version). */
  private def buildMergedFast(row: KvRow): InternalRow = {
    val out = new Array[Any](nSlots)
    val filled = new Array[Boolean](nSlots)
    var i = 0
    while (i < nSlots) {
      if (slotKind(i) == KindKey) {
        out(i) = decodeKeySlot(i, row.key)
        filled(i) = true
      }
      i += 1
    }
    row.cells.foreach { c =>
      val s = slotOf(c.cf, c.qual)
      if (s != null && !filled(s)) {
        out(s) = decodeCellSlot(s, c.value)
        filled(s) = true
      }
    }
    new GenericInternalRow(out)
  }

  /** Project a decoded JVM value from its full catalog type onto the
    * required (nested-pruned) type: structs select/reorder subfields by
    * name, recursing through arrays and maps. */
  private def shape(fullDt: DataType, reqDt: DataType, v: Any): Any = {
    if (v == null || fullDt == reqDt) return v
    (fullDt, reqDt) match {
      case (fs: StructType, rs: StructType) =>
        val row = v.asInstanceOf[Row]
        Row.fromSeq(rs.fields.toSeq.map { rf =>
          val i = fs.fieldIndex(rf.name)
          shape(fs.fields(i).dataType, rf.dataType, row.get(i))
        })
      case (ArrayType(fe, _), ArrayType(re, _)) =>
        v.asInstanceOf[Seq[Any]].map(shape(fe, re, _))
      case (MapType(_, fv, _), MapType(_, rv, _)) =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].map { case (k, x) =>
          k -> shape(fv, rv, x)
        }
      case _ => v
    }
  }

  private def toRequired(f: Field, reqDt: DataType, v: Any): Any =
    CatalystConv.toCatalyst(reqDt, shape(f.dataType, reqDt, v))

  /** One row, latest surviving version per column. */
  private def buildMerged(row: KvRow, keyValues: Map[String, Any]): InternalRow = {
    val out = new Array[Any](projection.size)
    var i = 0
    projection.foreach { case (f, reqDt) =>
      val v: Any =
        if (f.isRowKey) keyValues(f.name)
        else if (f.isDynamic) dynamicValue(f, row.cells)
        else f.dataType match {
          case MapType(LongType, vt, _) =>
            // named versioned column: {timestamp → value}
            val versions = row.cells.filter(c => c.cf == f.cf && c.qual == f.qual)
            if (versions.isEmpty) null
            else versions.map(c => c.ts -> f.coder.decode(vt, c.value)).toMap
          case dt =>
            row.cells.find(c => c.cf == f.cf && c.qual == f.qual) match {
              case Some(c) => f.coder.decode(dt, c.value)
              case None    => null
            }
        }
      out(i) = toRequired(f, reqDt, v)
      i += 1
    }
    new GenericInternalRow(out)
  }

  /** `mergeToLatest=false`: one output row per distinct cell timestamp,
    * null where a column has no cell at that version. */
  private def buildExploded(row: KvRow, keyValues: Map[String, Any]): Iterator[InternalRow] = {
    val stamps = row.cells.map(_.ts).distinct.sorted(Ordering[Long].reverse)
    stamps.iterator.map { ts =>
      val out = new Array[Any](projection.size)
      var i = 0
      projection.foreach { case (f, reqDt) =>
        val v: Any =
          if (f.isRowKey) keyValues(f.name)
          else if (f.isDynamic) dynamicValue(f, row.cells.filter(_.ts == ts))
          else row.cells.find(c => c.cf == f.cf && c.qual == f.qual && c.ts == ts) match {
            case Some(c) => f.coder.decode(valueType(f), c.value)
            case None    => null
          }
        out(i) = toRequired(f, reqDt, v)
        i += 1
      }
      new GenericInternalRow(out)
    }
  }

  private def valueType(f: Field): DataType = f.dataType match {
    case MapType(LongType, vt, _) => vt
    case dt => dt
  }

  /** Dynamic column (empty qualifier): collect the field's family.
    * map<string,T> → latest per qualifier; map<string,map<long,T>> → nested
    * versions (reference HBaseTableScan.scala:139-164). */
  private def dynamicValue(f: Field, cells: Seq[KvCell]): Any = {
    val fam = cells.filter(_.cf == f.cf)
    if (fam.isEmpty) return null
    f.dataType match {
      case MapType(StringType, MapType(LongType, vt, _), _) =>
        fam.groupBy(_.qual).map { case (q, cs) =>
          q -> cs.map(c => c.ts -> f.coder.decode(vt, c.value)).toMap
        }
      case MapType(StringType, vt, _) =>
        fam.groupBy(_.qual).map { case (q, cs) =>
          q -> f.coder.decode(vt, cs.maxBy(_.ts).value)
        }
      case other =>
        throw new UnsupportedOperationException(s"dynamic column ${f.name} with type $other")
    }
  }
}

object RowMaterializer {
  /** A key part or a simple value column: one value from the key or from
    * the column's newest cell, which a [[graft.store.KvTable.walk]] serves.
    * Dynamic and versioned-map columns span many cells. */
  def walkable(f: Field): Boolean = f.isRowKey || (!f.isDynamic && (f.dataType match {
    case MapType(LongType, _, _) => false
    case _ => true
  }))
}
