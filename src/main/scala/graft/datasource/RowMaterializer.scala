package graft.datasource

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._

import graft.catalog.{Field, GraftCatalog}
import graft.store.{KvCell, KvRow}

/** Store cells → Catalyst rows (reference buildRow/buildRows +
  * toFlattenRowIterator, HBaseTableScan.scala:114-252,337-382): latest-version
  * merge, dynamic map columns (string-, long-, and nested-keyed), the
  * `mergeToLatest=false` per-timestamp row explosion, and nested-schema
  * pruning (a struct column may arrive pruned to a subfield subset — output
  * is shaped to the REQUIRED type, not the catalog type).
  *
  * Two entry points: [[decodeWalked]] decodes one row of a
  * [[graft.store.KvTable.walk]] — the latest read of key parts and simple
  * columns, which every reader takes — and [[materialize]] decodes a
  * scanned `KvRow` for the multi-cell shapes a walk cannot serve (dynamic
  * and versioned-map columns, the `mergeToLatest=false` explosion).
  *
  * `projection` pairs each required column's catalog field with the required
  * (possibly nested-pruned) data type, in output order.
  */
final class RowMaterializer(
    catalog: GraftCatalog,
    projection: Seq[(Field, DataType)],
    mergeToLatest: Boolean) extends Serializable {

  // ---- per-partition slot plan (computed ONCE, not per row) --------------
  // The reference carried a known perf debt: a hashmap lookup per column per
  // row during materialization (HBaseTableScan.scala:113,177,218 TODOs). Each
  // output slot's source is resolved here: a key part, or an index into the
  // walk's column array.
  private val nSlots = projection.size
  private val fieldsArr = projection.map(_._1).toArray
  private val reqTypes = projection.map(_._2).toArray
  /** Key slot → its key part; null for value slots. */
  private val keyPartOf: Array[graft.catalog.RowKeyPart] = fieldsArr.map(f =>
    if (f.isRowKey) catalog.rowKeyParts.find(_.field.name == f.name).get else null)
  private def walkedValue(f: Field): Boolean = !f.isRowKey && RowMaterializer.walkable(f)

  /** The distinct (cf, qual) columns of the walkable value slots — the
    * column list a [[graft.store.KvTable.walk]] fetches for
    * [[decodeWalked]]. */
  val valueColumns: Array[(String, String)] =
    fieldsArr.filter(walkedValue).map(f => (f.cf, f.qual)).distinct
  /** Walkable value slot → index of its column in [[valueColumns]]; -1
    * otherwise. */
  private val columnOfSlot: Array[Int] = fieldsArr.map(f =>
    if (walkedValue(f)) valueColumns.indexOf((f.cf, f.qual)) else -1)

  /** Decode one walked row into `out(at(i))`, one value per slot in
    * Catalyst representation (null when absent): key parts from `key`
    * (salt included in the part offsets), value slots from `cells`, which
    * holds the newest cell of each of [[valueColumns]]. Slots a walk cannot
    * serve decode null, so all-null `cells` give a key-only (tombstone) row
    * for any projection; a full read needs every slot walkable and a
    * mergeToLatest read. */
  def decodeWalked(key: Array[Byte], cells: Array[Array[Byte]], out: Array[Any],
      at: Array[Int]): Unit = {
    var i = 0
    while (i < nSlots) {
      out(at(i)) =
        if (keyPartOf(i) != null) decodeKeySlot(i, key)
        else {
          val c = columnOfSlot(i)
          if (c < 0 || cells(c) == null) null else decodeCellSlot(i, cells(c))
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

  /** Decode the projected fields of one KvRow into 1..n InternalRows. */
  def materialize(row: KvRow): Iterator[InternalRow] =
    if (mergeToLatest) Iterator.single(buildMerged(row)) else buildExploded(row)

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
  private def buildMerged(row: KvRow): InternalRow = {
    val out = new Array[Any](projection.size)
    var i = 0
    projection.foreach { case (f, reqDt) =>
      out(i) = if (f.isRowKey) decodeKeySlot(i, row.key) else toRequired(f, reqDt,
        if (f.isDynamic) dynamicValue(f, row.cells)
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
        })
      i += 1
    }
    new GenericInternalRow(out)
  }

  /** `mergeToLatest=false`: one output row per distinct cell timestamp,
    * null where a column has no cell at that version. */
  private def buildExploded(row: KvRow): Iterator[InternalRow] = {
    val stamps = row.cells.map(_.ts).distinct.sorted(Ordering[Long].reverse)
    stamps.iterator.map { ts =>
      val out = new Array[Any](projection.size)
      var i = 0
      projection.foreach { case (f, reqDt) =>
        out(i) = if (f.isRowKey) decodeKeySlot(i, row.key) else toRequired(f, reqDt,
          if (f.isDynamic) dynamicValue(f, row.cells.filter(_.ts == ts))
          else row.cells.find(c => c.cf == f.cf && c.qual == f.qual && c.ts == ts) match {
            case Some(c) => f.coder.decode(valueType(f), c.value)
            case None    => null
          })
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
