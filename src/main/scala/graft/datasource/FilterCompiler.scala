package graft.datasource

import org.apache.spark.sql.sources._

import graft.catalog.{Field, GraftCatalog, RowKeyPart}
import graft.ranges.{Bound, BytesUtil, ScanRange}
import graft.store.KvPredicate
import graft.store.KvPredicate.{Op, Eq, Lt, Le, Gt, Ge, StrMode}

/** Compiles Spark source `Filter` trees into (row-key byte ranges, store-side
  * predicate, handled flag) — the successor of the reference's HBaseFilter
  * (core/.../HBaseFilter.scala:126-407).
  *
  * Design change vs the reference: every compilable leaf yields a predicate
  * that is EXACT for that leaf (typed decode-then-compare, including key
  * parts), while ranges are a sound superset used only for pruning. Under
  * that invariant AND/OR compose exactly:
  *   rows(node) = scan(ranges) ∧ pred,  with handled ⇒ equality,
  * which fixes the superset-on-OR subtlety the reference threads through its
  * `handled` flag, and lets composite-key suffix predicates (dropped at
  * HBaseFilter.scala:149-159) push down as key predicates instead.
  *
  * `handled=false` filters are returned to Spark for residual re-filtering —
  * the over-approximation contract of SURVEY.md §4.
  */
object FilterCompiler {

  /** Compilation result ("HRF" in the reference). */
  final case class Hrf(
      ranges: Seq[ScanRange[Array[Byte]]],
      pred: Option[KvPredicate],
      handled: Boolean) {
    /** This Hrf, or a loud failure when compilation was inexact — for
      * callers that act DESTRUCTIVELY on the result (DELETE conditions):
      * an unhandled Hrf's ranges are the over-approximating full scan, so
      * treating it as exact would delete rows the condition never
      * matched. Scan callers never need this (Spark re-filters the
      * residual); delete callers have no residual pass. */
    def exactOrThrow(context: String): Hrf = {
      if (!handled) throw new IllegalArgumentException(
        s"$context: condition did not compile to an exact store predicate; " +
          "refusing to act destructively on an over-approximation")
      this
    }
  }

  private implicit val ord: Ordering[Array[Byte]] = BytesUtil.byteArrayOrdering

  private val AllRanges = Seq(ScanRange.all[Array[Byte]])

  def unhandled: Hrf = Hrf(AllRanges, None, handled = false)

  /** Compile all pushed filters (implicitly AND-ed, reference
    * HBaseFilter.scala:126-138) after applying the In∧¬In set-difference
    * rewrite (reference :252-266). */
  def compileAll(catalog: GraftCatalog, filters: Seq[Filter]): Hrf = {
    val rewritten = rewriteInNotIn(filters)
    val hrf = rewritten.map(compile(catalog, _))
      .foldLeft(Hrf(AllRanges, None, handled = true))(andHrf)
    fullKeyPoint(catalog, rewritten)
      .fold(hrf)(p => hrf.copy(ranges = ScanRange.and(hrf.ranges, p)))
  }

  /** An equality on EVERY part of a composite key pins one stored key: the
    * writer's encoding of those values (parts concatenated, salt prefixed),
    * as a point. Each leaf alone prunes only by the leading part, so without
    * this a full-key get scans that part's whole prefix. The leaves'
    * predicates stay exact; the point only narrows the pruning ranges. Only
    * for the plain layout the writer produces: fixed-width parts laid end to
    * end, the last one of any width. */
  private def fullKeyPoint(catalog: GraftCatalog,
      filters: Seq[Filter]): Option[Seq[ScanRange[Array[Byte]]]] = {
    val parts = catalog.rowKeyParts
    val eqs: Map[String, Any] = filters.collect {
      case EqualTo(a, v) if v != null => a -> v
      case EqualNullSafe(a, v) if v != null => a -> v
    }.toMap
    val plainLayout = parts.init.forall(_.width > 0) &&
      parts.scanLeft(catalog.saltLen)((off, p) => off + p.width).zip(parts)
        .forall { case (off, p) => p.offset == off }
    if (parts.size < 2 || !plainLayout || !parts.forall(p => eqs.contains(p.field.name)))
      return None
    val encoded = parts.map { p =>
      val f = p.field
      KvPredicate.normalize(eqs(f.name), f.dataType).map(f.coder.encode(f.dataType, _))
        .filter(e => p.width <= 0 || e.length == p.width)
    }
    if (encoded.exists(_.isEmpty)) None // a literal no stored key can hold
    else Some(saltFan(catalog, Seq(ScanRange.point(BytesUtil.concat(encoded.flatten: _*))),
      fullKey = true))
  }

  /** Which of the pushed filters are fully handled (exact) — the rest are
    * Spark's residual (reference unhandledFilters, HBaseRelation.scala:316). */
  def partition(catalog: GraftCatalog, filters: Array[Filter]): (Array[Filter], Array[Filter]) =
    filters.partition(f => compile(catalog, f).handled)

  /** And(In(a,X), Not(In(a,Y))) → In(a, X∖Y), both argument orders.
    * A null in Y makes `a NOT IN Y` never true (NOT(NULL) is not true), so
    * the whole conjunction matches nothing → empty In. */
  private[datasource] def rewriteInNotIn(filters: Seq[Filter]): Seq[Filter] = filters.map {
    case And(In(a, xs), Not(In(b, ys))) if a == b =>
      if (ys.contains(null)) In(a, Array.empty)
      else In(a, xs.filterNot(x => ys.exists(y => nullSafeEq(x, y))))
    case And(Not(In(b, ys)), In(a, xs)) if a == b =>
      if (ys.contains(null)) In(a, Array.empty)
      else In(a, xs.filterNot(x => ys.exists(y => nullSafeEq(x, y))))
    case f => f
  }

  private def nullSafeEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (null, _) | (_, null) => false
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => a == b
  }

  def compile(catalog: GraftCatalog, filter: Filter): Hrf = filter match {
    case And(l, r) => andHrf(compile(catalog, l), compile(catalog, r))
    case Or(l, r)  => orHrf(compile(catalog, l), compile(catalog, r))

    case EqualTo(attr, v) if v != null => leafCmp(catalog, attr, Eq, v)
    case EqualNullSafe(attr, null)     => leafIsNull(catalog, attr)
    case EqualNullSafe(attr, v)        => leafCmp(catalog, attr, Eq, v)
    case LessThan(attr, v) if v != null           => leafCmp(catalog, attr, Lt, v)
    case LessThanOrEqual(attr, v) if v != null    => leafCmp(catalog, attr, Le, v)
    case GreaterThan(attr, v) if v != null        => leafCmp(catalog, attr, Gt, v)
    case GreaterThanOrEqual(attr, v) if v != null => leafCmp(catalog, attr, Ge, v)

    case In(attr, values) =>
      val nonNull = values.filter(_ != null)
      if (nonNull.isEmpty) Hrf(Seq.empty, Some(KvPredicate.Or(Seq.empty)), handled = true) // empty set: matches nothing
      else {
        // Build every point leaf first and normalize the range union ONCE:
        // a reduce(orHrf) re-normalizes the accumulated list per element —
        // O(n²) for the reference's 2000-element IN regression
        // (DefaultSourceSuite.scala:156-194); this stays O(n log n).
        val leaves = nonNull.map(v => leafCmp(catalog, attr, Eq, v))
        // a handled leaf with NO ranges and NO pred matches nothing (a
        // non-round-trip literal, e.g. 2.5 against an int column) — it
        // contributes nothing to the union and must be DROPPED, not make
        // the whole In unhandled: direct DELETE/index callers never check
        // `handled`, so an unhandled `k IN (3, 2.5)` would silently
        // target ALL rows
        val kept = leaves.filterNot(l => l.handled && l.ranges.isEmpty && l.pred.isEmpty)
        if (kept.exists(l => !l.handled || l.pred.isEmpty)) unhandled
        else if (kept.isEmpty) // every literal matches nothing ⇒ empty set
          Hrf(Seq.empty, Some(KvPredicate.Or(Seq.empty)), handled = true)
        else {
          // same-shaped equality leaves collapse to ONE set predicate
          // (O(1) per row); a generic Or walks every branch per row —
          // quadratic in practice for the large-IN lookups the CDC
          // protocols push (measured 80+ s at 15k keys × 150k rows)
          val preds = kept.toSeq.flatMap(_.pred)
          val pred = KvPredicate.inOf(preds).getOrElse(KvPredicate.Or(preds))
          Hrf(ScanRange.normalize(kept.toSeq.flatMap(_.ranges)),
            Some(pred), handled = true)
        }
      }

    case IsNull(attr)    => leafIsNull(catalog, attr)
    case IsNotNull(attr) => leafIsNotNull(catalog, attr)

    case StringStartsWith(attr, p) => leafStartsWith(catalog, attr, p)
    case StringEndsWith(attr, p)   => leafStrMatch(catalog, attr, p, StrMode.Suffix)
    case StringContains(attr, p)   => leafStrMatch(catalog, attr, p, StrMode.Contains)

    case Not(child) => compileNot(catalog, child)

    case AlwaysTrue()  => Hrf(AllRanges, None, handled = true)
    case AlwaysFalse() => Hrf(Seq.empty, None, handled = true)
    case _ => unhandled
  }

  /** NOT pushed through the tree De-Morgan-style, negating at the LEAVES.
    * Negating a composed predicate wholesale under blanket IsNotNull guards
    * is WRONG wherever a null column makes the child definitively FALSE
    * rather than unknown: `Not(And(IsNull(a), b = 5))` must match
    * (a=1, b=null) — the And is false, so the negation is true — but an
    * IsNotNull(b) guard would drop the row. At the leaves three-valued
    * semantics ARE closed-form: a comparison leaf is unknown iff a
    * referenced column is null ([[negLeaf]] guards exactly there), while
    * null tests and `<=>` are never unknown and negate structurally.
    * Spark's optimizer normalizes most of these shapes away before pushdown,
    * but `Not(EqualNullSafe)` survives it (`!(col <=> v)` reaches the source
    * as-is), and direct compile() callers (DELETE conditions, index plans)
    * see arbitrary trees. */
  private def compileNot(catalog: GraftCatalog, f: Filter): Hrf = f match {
    case Not(c)    => compile(catalog, c)
    case And(l, r) => orHrf(compileNot(catalog, l), compileNot(catalog, r))
    case Or(l, r)  => andHrf(compileNot(catalog, l), compileNot(catalog, r))

    case IsNull(a)    => compile(catalog, IsNotNull(a))
    case IsNotNull(a) => compile(catalog, IsNull(a))

    // <=> is never unknown: NOT(a <=> NULL) = a IS NOT NULL;
    // NOT(a <=> v) = a IS NULL OR a != v (null rows MATCH — the blanket
    // guard of the old generic path dropped them)
    case EqualNullSafe(a, null) => compile(catalog, IsNotNull(a))
    case EqualNullSafe(a, v) =>
      orHrf(compile(catalog, IsNull(a)), negLeaf(catalog, EqualTo(a, v)))

    // `a IN ()` is FALSE for every row (even a null) — its negation is
    // everything, with no null guard
    case In(_, values) if values.isEmpty => Hrf(AllRanges, None, handled = true)
    // `a NOT IN (v…, NULL)` is never true: for matching rows NOT(true) is
    // false, for all others NOT(NULL) is not true — the exact empty result
    case In(_, values) if values.contains(null) =>
      Hrf(Seq.empty, None, handled = true)

    case AlwaysTrue()  => Hrf(Seq.empty, None, handled = true)
    case AlwaysFalse() => Hrf(AllRanges, None, handled = true)

    case leaf => negLeaf(catalog, leaf)
  }

  /** ¬leaf for a single comparison-style leaf (cmp / In / string match):
    * IsNotNull guards on the referenced VALUE columns make the store's
    * 2-valued evaluation match SQL (NOT of an unknown comparison is not
    * true); key parts are never null and get no guard. */
  private def negLeaf(catalog: GraftCatalog, leaf: Filter): Hrf = {
    val c = compile(catalog, leaf)
    c.pred match {
      case Some(p) if c.handled =>
        nullGuards(catalog, leaf) match {
          case Some(guards) =>
            Hrf(AllRanges, Some(KvPredicate.And(guards :+ KvPredicate.Not(p))), handled = true)
          case None => unhandled
        }
      // a pred-less exact-EMPTY leaf (an over-width key prefix, a
      // non-round-trip literal) matches nothing — but its negation is
      // "everything" only for key-part references (never null); a VALUE
      // column needs IsNotNull guards: NOT(intCol = 2.5) is not true for
      // rows whose intCol is NULL (SQL three-valued semantics)
      case None if c.handled && c.ranges.isEmpty =>
        nullGuards(catalog, leaf) match {
          case Some(guards) if guards.isEmpty => Hrf(AllRanges, None, handled = true)
          case Some(guards) => Hrf(AllRanges, Some(KvPredicate.And(guards)), handled = true)
          case None => unhandled
        }
      // a pred-less exact-EVERYTHING leaf (a bound outside the key type's
      // domain, e.g. `k <= 2^63` on bigint) negates to nothing — key parts
      // only (value columns never compile to pred-less AllRanges)
      case None if c.handled && c.ranges == AllRanges &&
          nullGuards(catalog, leaf).exists(_.isEmpty) =>
        Hrf(Seq.empty, None, handled = true)
      case _ => unhandled
    }
  }

  /** IsNotNull guards for every column (non-key) referenced by a filter;
    * None if any referenced attribute is unknown. */
  private def nullGuards(catalog: GraftCatalog, f: Filter): Option[Seq[KvPredicate]] = {
    val attrs = f.references.toSeq
    val fields = attrs.map(a => catalog.fields.find(_.name == a))
    if (fields.exists(_.isEmpty)) return None
    Some(fields.flatten.filterNot(_.isRowKey).map(fld => KvPredicate.IsNotNull(fld.cf, fld.qual)))
  }

  // ---- leaves ---------------------------------------------------------------

  private def keyPart(catalog: GraftCatalog, attr: String): Option[RowKeyPart] =
    catalog.rowKeyParts.find(_.field.name == attr)

  private def valueField(catalog: GraftCatalog, attr: String): Option[Field] =
    catalog.fields.find(f => f.name == attr && !f.isRowKey)

  private def leafCmp(catalog: GraftCatalog, attr: String, op: Op, v0: Any): Hrf =
    keyPart(catalog, attr) match {
      case Some(part) =>
        // Literals coerce through the part's DataType up front: Spark casts
        // pushed literals itself, but DIRECT compile() callers (DELETE
        // conditions, index planning) may hand a mismatched numeric box,
        // which would crash inside coder.encode during range planning
        // (Integer literal, LongType key). Eq round-trips or matches
        // nothing (KvPredicate.normalize); bounds round toward the op's
        // direction or collapse to everything/nothing
        // (KvPredicate.normalizeBound).
        import KvPredicate.NormBound
        val norm: NormBound =
          if (op == Eq) KvPredicate.normalize(v0, part.field.dataType) match {
            case Some(c) => NormBound.Cmp(Eq, c)
            case None => NormBound.Nothing
          }
          else KvPredicate.normalizeBound(v0, part.field.dataType, op)
        norm match {
          case NormBound.Nothing    => Hrf(Seq.empty, None, handled = true)
          case NormBound.Everything => Hrf(AllRanges, None, handled = true) // key parts are never null
          case NormBound.Cmp(op2, v, planRanges) =>
            val f = part.field
            val pred = KvPredicate.KeyCmp(part.offset, part.width, op2, v, f.dataType, f.coder)
            val ranges =
              // first LOGICAL part (offset 0, or right after the salt byte)
              if (part.offset != catalog.saltLen || !planRanges) AllRanges // suffix parts: predicate only, no pruning
              else {
                val exactKey = catalog.rowKeyParts.size == 1 && part.width < 0
                val fieldRanges: Seq[ScanRange[Array[Byte]]] = op2 match {
                  case Eq => Seq(ScanRange.point(f.coder.encode(f.dataType, v)))
                  case Lt => f.coder.lessRanges(f.dataType, v, inclusive = false)
                  case Le => f.coder.lessRanges(f.dataType, v, inclusive = true)
                  case Gt => f.coder.greaterRanges(f.dataType, v, inclusive = false)
                  case Ge => f.coder.greaterRanges(f.dataType, v, inclusive = true)
                }
                val logical =
                  if (exactKey || catalog.rowKeyParts.size == 1) fieldRanges.map(identity)
                  else if (part.width > 0) fieldRanges.map(prefixExpand) // fixed-width first part of composite key
                  else fieldRanges.map(varTerminatorExpand) // var-width first part (terminated index-entry layout)
                // a single-part Eq pins the WHOLE logical key, so its salt is
                // computable: one exact salted point instead of an n-way fan
                saltFan(catalog, logical,
                  fullKey = op2 == Eq && catalog.rowKeyParts.size == 1)
              }
            Hrf(ScanRange.normalize(ranges), Some(pred), handled = true)
        }
      case None =>
        valueField(catalog, attr) match {
          case Some(f) if !f.isDynamic =>
            // Eq literals round-trip through the type or match nothing;
            // bound literals pass through unchanged — ValueCmp compares
            // mismatched boxes numerically via compareTyped's Number
            // fallback, and null cells already evaluate to false (3VL)
            val v = if (op == Eq) {
              KvPredicate.normalize(v0, f.dataType) match {
                case Some(c) => c
                case None => return Hrf(Seq.empty, None, handled = true) // matches nothing
              }
            } else v0
            Hrf(AllRanges, Some(KvPredicate.ValueCmp(f.cf, f.qual, op, v, f.dataType, f.coder)), handled = true)
          case _ => unhandled
        }
    }

  private def leafIsNull(catalog: GraftCatalog, attr: String): Hrf =
    keyPart(catalog, attr) match {
      case Some(_) => Hrf(Seq.empty, None, handled = true) // key parts are never null
      case None => valueField(catalog, attr) match {
        case Some(f) if !f.isDynamic =>
          Hrf(AllRanges, Some(KvPredicate.IsNull(f.cf, f.qual)), handled = true)
        case _ => unhandled
      }
    }

  private def leafIsNotNull(catalog: GraftCatalog, attr: String): Hrf =
    keyPart(catalog, attr) match {
      case Some(_) => Hrf(AllRanges, None, handled = true)
      case None => valueField(catalog, attr) match {
        case Some(f) if !f.isDynamic =>
          Hrf(AllRanges, Some(KvPredicate.IsNotNull(f.cf, f.qual)), handled = true)
        case _ => unhandled
      }
    }

  private def leafStartsWith(catalog: GraftCatalog, attr: String, p: String): Hrf =
    keyPart(catalog, attr) match {
      // avro-coded key bytes are NOT raw UTF-8 (varint-length-prefixed), so
      // byte-prefix ranges/predicates over them would be silently wrong —
      // only raw-encoded string parts take this path (Primitive and Phoenix
      // both store strings as plain UTF-8 bytes)
      case Some(part) if part.field.dataType == org.apache.spark.sql.types.StringType &&
          part.field.avroSchemaJson.isEmpty =>
        val prefix = p.getBytes("UTF-8")
        // a fixed-width part holds EXACTLY `width` bytes (KvRowCodec rejects
        // other lengths at write), so a longer prefix can match no value —
        // and a raw KeyPartPrefix test would read past the part into the
        // NEXT key part's bytes, returning false positives as handled=true
        if (part.width > 0 && prefix.length > part.width)
          return Hrf(Seq.empty, None, handled = true)
        // a raw byte-prefix test is exact for fixed-width parts and for a
        // var-width LAST part (the part runs to the key's end), but a
        // var-width part with a fixed tail (width < -1, the index-entry
        // layout) could bleed into the tail's bytes when the value is
        // shorter than the pattern — decode-then-compare there
        val pred =
          if (part.width < -1)
            KvPredicate.KeyStrMatch(part.offset, part.width, p, StrMode.Prefix)
          else KvPredicate.KeyPartPrefix(part.offset, prefix)
        val ranges =
          if (part.offset != catalog.saltLen) AllRanges
          else saltFan(catalog, Seq(ScanRange(Bound(Some(prefix), inclusive = true),
            BytesUtil.prefixUpperBound(prefix) match {
              case Some(up) => Bound(Some(up), inclusive = false)
              case None     => Bound.posInf[Array[Byte]]
            })), fullKey = false)
        Hrf(ranges, Some(pred), handled = true)
      case Some(_) => unhandled
      case None => leafStrMatch(catalog, attr, p, StrMode.Prefix)
    }

  private def leafStrMatch(catalog: GraftCatalog, attr: String, p: String, mode: StrMode): Hrf =
    valueField(catalog, attr) match {
      case Some(f) if !f.isDynamic && f.dataType == org.apache.spark.sql.types.StringType =>
        Hrf(AllRanges, Some(KvPredicate.StrMatch(f.cf, f.qual, p, mode, f.dataType, f.coder)), handled = true)
      case _ =>
        keyPart(catalog, attr) match {
          // KeyStrMatch decodes the part's bytes as raw UTF-8 — exact only
          // for raw-encoded (non-avro) string parts, see leafStartsWith
          case Some(part) if part.field.dataType == org.apache.spark.sql.types.StringType &&
              part.field.avroSchemaJson.isEmpty =>
            // suffix/contains on a key part: exact via typed key predicate
            Hrf(AllRanges, Some(KvPredicate.KeyStrMatch(part.offset, part.width, p, mode)),
              handled = true)
          case _ => unhandled
        }
    }

  // ---- composition ----------------------------------------------------------

  private def andHrf(l: Hrf, r: Hrf): Hrf = Hrf(
    ScanRange.and(l.ranges, r.ranges),
    (l.pred, r.pred) match {
      case (Some(a), Some(b)) => Some(KvPredicate.And(Seq(a, b)))
      case (a, b) => a.orElse(b)
    },
    l.handled && r.handled)

  private def orHrf(l: Hrf, r: Hrf): Hrf = {
    // an exact-EMPTY side is the OR identity: scan(∅) ∧ pred matches no
    // row, so the union is exactly the other side (this keeps e.g.
    // `NOT(key <=> v)` exact — the IsNull(key) side compiles to empty)
    if (l.handled && l.ranges.isEmpty) return r
    if (r.handled && r.ranges.isEmpty) return l
    // rows(l ∨ r) ⊆ ranges(l) ∪ ranges(r); pred must stay exact per side —
    // a side with no pred matches its whole range, which is only exact if
    // that side is the full range (then the union is everything).
    val pred = (l.pred, r.pred) match {
      case (Some(a), Some(b)) => Some(KvPredicate.Or(Seq(a, b)))
      case _ => None
    }
    val exact = l.handled && r.handled && (pred.isDefined ||
      (l.pred.isEmpty && l.ranges == AllRanges) || (r.pred.isEmpty && r.ranges == AllRanges))
    Hrf(ScanRange.or(l.ranges, r.ranges), if (exact) pred else None, handled = exact)
  }

  /** Fan LOGICAL key ranges out across the table's salt buckets (identity
    * when unsalted): `[a, b)` becomes `[s‖a, s‖b)` for every salt byte s —
    * salting trades a single contiguous range for `saltBuckets` parallel
    * per-bucket ranges (the Phoenix salted-scan shape), so pruning survives:
    * each bucket region scans only its slice of the logical range, never
    * the whole bucket. When `fullKey` and the range is one point, the salt
    * is computed from the key itself — a single exact salted get. */
  /** Fan logical-key ranges across a salted table's bucket bytes (exact:
    * a logical key can land in any bucket, so each range repeats per
    * bucket with the salt byte prepended). Shared with the `keyPrefixes`
    * read option, which must stay exact on salted tables. */
  private[datasource] def saltFan(catalog: GraftCatalog, logical: Seq[ScanRange[Array[Byte]]],
      fullKey: Boolean): Seq[ScanRange[Array[Byte]]] = {
    val n = catalog.saltBuckets
    if (n == 0) return logical
    def salted(b: Int, k: Array[Byte]): Array[Byte] =
      BytesUtil.concat(Array(b.toByte), k)
    logical.flatMap { r =>
      (r.start.value, r.end.value) match {
        case (Some(s), Some(e)) if fullKey && r.start.inclusive && r.end.inclusive &&
            java.util.Arrays.equals(s, e) =>
          val b = catalog.saltOf(s) & 0xff
          Seq(ScanRange.point(salted(b, s)))
        case _ =>
          (0 until n).map { b =>
            val start = r.start.value match {
              case Some(s) => Bound(Some(salted(b, s)), r.start.inclusive)
              case None    => Bound(Some(Array(b.toByte)), inclusive = true)
            }
            val end = r.end.value match {
              case Some(e) => Bound(Some(salted(b, e)), r.end.inclusive)
              case None if b + 1 < 256 => Bound(Some(Array((b + 1).toByte)), inclusive = false)
              case None    => Bound.posInf[Array[Byte]]
            }
            ScanRange(start, end)
          }
      }
    }
  }

  /** Var-width FIRST key part — the TERMINATED index-entry layout
    * `enc(value) ‖ 0x00 ‖ fixed tail` ([[SecondaryIndex.entryKey]]): the
    * 0x00 terminator makes value order an exact order embedding of entry
    * order (a value sorts strictly before all its byte-extensions, and a
    * short value's entries can never escape past a longer bound through
    * their tail bytes), so every value bound maps to a TIGHT entry bound:
    * start ≥ v → ≥ v‖0x00; start > v → ≥ v‖0x01 (extensions' next byte is
    * ≥ 0x01 under the no-NUL contract); end ≤ v → < v‖0x01; end < v →
    * < v‖0x00. The typed key predicate stays exact either way. */
  private def varTerminatorExpand(r: ScanRange[Array[Byte]]): ScanRange[Array[Byte]] = {
    val start = r.start match {
      case Bound(Some(b), true)  => Bound(Some(BytesUtil.concat(b, Array(0.toByte))), true)
      case Bound(Some(b), false) => Bound(Some(BytesUtil.concat(b, Array(1.toByte))), true)
      case other => other
    }
    val end = r.end match {
      case Bound(Some(b), true)  => Bound(Some(BytesUtil.concat(b, Array(1.toByte))), false)
      case Bound(Some(b), false) => Bound(Some(BytesUtil.concat(b, Array(0.toByte))), false)
      case other => other
    }
    ScanRange(start, end)
  }

  /** Turn a closed field-value range into the matching key-prefix range:
    * start stays (enc(v) is the smallest key with that prefix); an inclusive
    * end extends to just past the prefix. */
  private def prefixExpand(r: ScanRange[Array[Byte]]): ScanRange[Array[Byte]] = {
    val start = r.start match {
      case Bound(Some(b), false) => BytesUtil.prefixUpperBound(b) match {
        case Some(up) => Bound(Some(up), true)
        case None     => Bound(Some(b), false)
      }
      case other => other
    }
    val end = r.end match {
      case Bound(Some(b), true) => BytesUtil.prefixUpperBound(b) match {
        case Some(up) => Bound(Some(up), false)
        case None     => Bound.posInf[Array[Byte]]
      }
      case other => other
    }
    ScanRange(start, end)
  }
}
