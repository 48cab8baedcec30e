package graft.store

import java.util.concurrent.{ConcurrentHashMap, ConcurrentSkipListMap}

import org.apache.spark.sql.types.DataType

import graft.ranges.BytesUtil
import graft.types.FieldCoder

/** Server-side row predicate, evaluated inside the store before rows are
  * materialized — the stand-in for HBase's SingleColumnValueFilter /
  * PrefixFilter / comparator stack (reference HBaseFilter.scala:35-114).
  *
  * Value comparisons are TYPED (decode-then-compare with the field's coder)
  * rather than byte-wise, so they are exact for every type including
  * sign-split numerics; the filter compiler can therefore mark them handled.
  * Missing column ⇒ comparison is false (SQL three-valued logic: a NULL
  * comparison is never true).
  */
sealed trait KvPredicate extends Serializable {
  type RowCells = ConcurrentHashMap[(String, String), ConcurrentSkipListMap[java.lang.Long, Array[Byte]]]

  /** Evaluate against a raw row. `time` narrows which cell versions the
    * predicate may see — filters run AFTER time-range selection, like HBase
    * filters on a time-ranged Scan. */
  def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean

  /** Newest version of column `col` = (cf, qual) inside the scan's time
    * range, or null when it has none there. Callers hold `col` once, and
    * the result is not wrapped: both would be an allocation per row tested. */
  protected final def latest(row: RowCells, col: (String, String),
      time: Option[TimeRange]): Array[Byte] =
    KvStore.newestIn(row.get(col), time)
}

object KvPredicate {

  sealed trait Op extends Serializable
  case object Eq extends Op
  case object Lt extends Op
  case object Le extends Op
  case object Gt extends Op
  case object Ge extends Op

  /** Typed comparison on a column's latest version. */
  final case class ValueCmp(cf: String, qual: String, op: Op, value: Any,
      dt: DataType, coder: FieldCoder) extends KvPredicate {
    private val col = (cf, qual)
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      val bytes = latest(row, col, time)
      bytes != null && {
        val c = compareTyped(coder.decode(dt, bytes), value)
        op match {
          case Eq => c == 0
          case Lt => c < 0
          case Le => c <= 0
          case Gt => c > 0
          case Ge => c >= 0
        }
      }
    }
  }

  final case class IsNull(cf: String, qual: String) extends KvPredicate {
    private val col = (cf, qual)
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = latest(row, col, time) == null
  }

  final case class IsNotNull(cf: String, qual: String) extends KvPredicate {
    private val col = (cf, qual)
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = latest(row, col, time) != null
  }

  /** String prefix/suffix/substring on a column's latest version
    * (reference HBaseFilter.scala:320-368). */
  final case class StrMatch(cf: String, qual: String, pattern: String, mode: StrMode,
      dt: DataType, coder: FieldCoder) extends KvPredicate {
    private val col = (cf, qual)
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      val bytes = latest(row, col, time)
      bytes != null && {
        val s = String.valueOf(coder.decode(dt, bytes))
        mode match {
          case StrMode.Prefix   => s.startsWith(pattern)
          case StrMode.Suffix   => s.endsWith(pattern)
          case StrMode.Contains => s.contains(pattern)
        }
      }
    }
  }

  sealed trait StrMode extends Serializable
  object StrMode {
    case object Prefix extends StrMode
    case object Suffix extends StrMode
    case object Contains extends StrMode
  }

  /** Row-key prefix (reference PrefixFilter use, HBaseFilter.scala:320-337). */
  final case class RowPrefix(prefix: Array[Byte]) extends KvPredicate {
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean =
      BytesUtil.startsWith(key, prefix)
  }

  /** Typed comparison on one part of a (possibly composite) row key — lets
    * suffix-key predicates push server-side where the reference dropped them
    * (HBaseFilter.scala:149-159). Offset/width follow
    * [[graft.catalog.RowKeyPart]]'s layout conventions (negative forms
    * support var-width parts with fixed tails). */
  final case class KeyCmp(offset: Int, width: Int, op: Op, value: Any,
      dt: DataType, coder: FieldCoder) extends KvPredicate {
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      import graft.catalog.RowKeyPart
      if (!RowKeyPart.inBounds(offset, width, key.length)) return false
      val off = RowKeyPart.offsetIn(offset, width, key.length)
      val len = RowKeyPart.lengthIn(offset, width, key.length)
      val x = coder.decode(dt, key, off, len)
      val c = compareTyped(x, value)
      op match {
        case Eq => c == 0
        case Lt => c < 0
        case Le => c <= 0
        case Gt => c > 0
        case Ge => c >= 0
      }
    }
  }

  /** startsWith/endsWith/contains over a string key part (the Prefix mode
    * serves var-width parts, where a raw byte-prefix test could bleed into
    * the following part's bytes — see [[KeyPartPrefix]]). */
  final case class KeyStrMatch(offset: Int, width: Int, pattern: String, mode: StrMode)
      extends KvPredicate {
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      import graft.catalog.RowKeyPart
      if (!RowKeyPart.inBounds(offset, width, key.length)) return false
      val off = RowKeyPart.offsetIn(offset, width, key.length)
      val len = RowKeyPart.lengthIn(offset, width, key.length)
      val s = new String(key, off, len, "UTF-8")
      mode match {
        case StrMode.Prefix   => s.startsWith(pattern)
        case StrMode.Suffix   => s.endsWith(pattern)
        case StrMode.Contains => s.contains(pattern)
      }
    }
  }

  /** Byte prefix of one key part (fixed-width composite StringStartsWith). */
  final case class KeyPartPrefix(offset: Int, prefix: Array[Byte]) extends KvPredicate {
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      if (offset + prefix.length > key.length) return false
      var i = 0
      while (i < prefix.length) {
        if (key(offset + i) != prefix(i)) return false
        i += 1
      }
      true
    }
  }

  /** Set membership on a column's latest version — the O(1) evaluation of
    * a large IN. A naive `Or(ValueCmp(Eq)...)` walks every branch per row:
    * at a 15k-key IN over a 150k-row table that is ~2×10⁹ comparisons in
    * ONE scan (measured 80+ s in sv24's decrement read before this
    * existed). Membership goes through [[canonical]], which makes set
    * equality agree with [[compareTyped]] == 0 for every coder-decoded
    * type — including the float/double edge (NaN = NaN true, -0.0 = 0.0
    * false under compareTo, the opposite of Scala set equality) and
    * content-wise byte arrays. */
  final case class ValueIn(cf: String, qual: String, values: Set[Any],
      dt: DataType, coder: FieldCoder) extends KvPredicate {
    private val col = (cf, qual)
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      val bytes = latest(row, col, time)
      bytes != null && values.contains(canonical(coder.decode(dt, bytes)))
    }
  }

  /** Set membership on one part of a (possibly composite) row key — the
    * O(1) twin of [[KeyCmp]]`(Eq)` for large INs on key columns. */
  final case class KeyIn(offset: Int, width: Int, values: Set[Any],
      dt: DataType, coder: FieldCoder) extends KvPredicate {
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      import graft.catalog.RowKeyPart
      if (!RowKeyPart.inBounds(offset, width, key.length)) return false
      val off = RowKeyPart.offsetIn(offset, width, key.length)
      val len = RowKeyPart.lengthIn(offset, width, key.length)
      values.contains(canonical(coder.decode(dt, key, off, len)))
    }
  }

  /** Canonical form for set membership, chosen so `Set.contains` agrees
    * with [[compareTyped]]` == 0` — the semantics the Or(Eq…) path this
    * replaces had:
    *  - byte arrays compare by reference under `equals` → wrap content-wise;
    *  - Float/Double: `compareTo` treats NaN = NaN as TRUE and -0.0 = 0.0
    *    as FALSE, while Scala set equality does the opposite on both —
    *    keying by the IEEE bit pattern (`doubleToLongBits` canonicalizes
    *    NaN, distinguishes signed zeros) reproduces compareTo exactly
    *    (a set only ever holds ONE dt, so bit keys cannot collide with
    *    genuine integral values of another column);
    *  - everything else a [[FieldCoder]] decodes already has value
    *    equality. */
  def canonical(v: Any): Any = v match {
    case b: Array[Byte] => scala.collection.immutable.ArraySeq.unsafeWrapArray(b)
    case d: java.lang.Double => java.lang.Long.valueOf(java.lang.Double.doubleToLongBits(d))
    case f: java.lang.Float => java.lang.Integer.valueOf(java.lang.Float.floatToIntBits(f))
    case x => x
  }

  /** Coerce a pushed literal into the box type `coder.decode(dt, …)`
    * produces, so [[canonical]]-keyed set membership agrees with the
    * `Or(ValueCmp(Eq)…)` path it replaces: compareTyped's (Number, Number)
    * fallback compared mismatched numeric boxes BY VALUE (an Integer
    * literal still matched a LongType column), while a raw Set would
    * silently miss on the box class. Returns None when the literal cannot
    * round-trip into dt — such a value can never equal any decoded value,
    * so it is dropped from the set (e.g. a 1.5 double literal against an
    * IntegerType column). NaN survives into float/double targets (the
    * fallback's Double.compare(NaN, NaN) == 0 semantics, which
    * [[canonical]]'s bit-pattern key preserves). */
  private[graft] def normalize(v: Any, dt: DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    def num(n: Number): Option[Any] = {
      val d = n.doubleValue()
      dt match {
        case FloatType =>
          if (d.isNaN) Some(java.lang.Float.valueOf(Float.NaN))
          else { val f = n.floatValue(); if (f.toDouble == d) Some(java.lang.Float.valueOf(f)) else None }
        case DoubleType => Some(java.lang.Double.valueOf(d))
        case ByteType => val b = n.byteValue(); if (b.toDouble == d) Some(java.lang.Byte.valueOf(b)) else None
        case ShortType => val s = n.shortValue(); if (s.toDouble == d) Some(java.lang.Short.valueOf(s)) else None
        case IntegerType => val i = n.intValue(); if (i.toDouble == d) Some(java.lang.Integer.valueOf(i)) else None
        case LongType =>
          // above 2^53 a double round-trip is lossy; compare through Long
          // when the literal is already integral-boxed, else through double
          n match {
            case l: java.lang.Long => Some(l)
            case _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte =>
              Some(java.lang.Long.valueOf(n.longValue()))
            case _ =>
              // longValue() SATURATES: d == 2^63 exactly saturates to
              // MaxValue whose double view is 2^63 again, faking a
              // round-trip — but no long equals 2^63 (MinValue == -2^63
              // is genuine and passes the same test honestly)
              val l = n.longValue()
              if (l.toDouble == d && d != 9.223372036854776e18)
                Some(java.lang.Long.valueOf(l))
              else None
          }
        case _ => Some(v) // non-numeric dt with a Number literal: keep as-is
      }
    }
    v match {
      case n: Number => num(n)
      case _ => Some(v)
    }
  }

  /** Result of [[normalizeBound]] — a range bound coerced into the column's
    * box type, or a closed-form answer when no in-type bound expresses it. */
  sealed trait NormBound extends Serializable
  object NormBound {
    /** Every value of the type satisfies the bound (e.g. `x <= 2^63` on a
      * bigint key). */
    case object Everything extends NormBound
    /** No value of the type satisfies the bound (e.g. `x < Int.MinValue`). */
    case object Nothing extends NormBound
    /** Compare with `op2` against the in-type literal `value`. `planRanges`
      * is false for the one bound shape whose byte-range planning is not
      * sound (`x < NaN` on a float/double key: matches every non-NaN value,
      * which no contiguous IEEE-bit range covers) — the predicate stays
      * exact, the scan falls back to all ranges. */
    final case class Cmp(op2: Op, value: Any, planRanges: Boolean = true) extends NormBound
  }

  /** [[normalize]]'s directional twin for range bounds (`Lt/Le/Gt/Ge`):
    * coerce a pushed bound literal into the column DataType's box, rounding
    * toward the op's direction when the literal is not representable
    * (`x < 2.5` on an int column ⇒ `x <= 2`; `x > 2.5` ⇒ `x >= 3`), and
    * collapsing to Everything/Nothing when the bound falls outside the
    * type's domain (`x < 1e20` on a bigint ⇒ everything).
    *
    * Comparison domain, per column type (NormalizePropsSpec fuzzes both):
    *  - float/double columns view the literal through `double` — exactly
    *    [[compareTyped]]'s `(Number, Number)` fallback, including its NaN-
    *    compares-greatest and lossy `>2^53`-long edges;
    *  - integral columns compare EXACTLY (the semantics of Spark's own
    *    `UnwrapCastInBinaryComparison` rewrite, which performs this same
    *    bound tightening above the source). This deliberately diverges
    *    from the fallback precisely where the fallback's double view
    *    equates distinct integers (bounds at/beyond 2^53, and `-0.0`
    *    which is exactly 0).
    *
    * Spark pre-casts pushed literals; the exposure is DIRECT compile()
    * callers (DELETE conditions, index planning), where a mismatched box
    * previously crashed `coder.encode` during range planning
    * (PrimitiveCoder.scala:54). Non-numeric literals and non-numeric
    * column types pass through unchanged. */
  private[graft] def normalizeBound(v: Any, dt: DataType, op: Op): NormBound = {
    import org.apache.spark.sql.types._
    import NormBound._
    def ltle = op == Lt || op == Le
    // clamp an exact long bound into [min, max], keeping op when in-domain
    def clampIntegral(op2: Op, b: Long, min: Long, max: Long, box: Long => Any): NormBound = op2 match {
      case Lt => if (b <= min) Nothing else if (b > max) Everything else Cmp(Lt, box(b))
      case Le => if (b < min) Nothing else if (b >= max) Everything else Cmp(Le, box(b))
      case Gt => if (b >= max) Nothing else if (b < min) Everything else Cmp(Gt, box(b))
      case Ge => if (b > max) Nothing else if (b <= min) Everything else Cmp(Ge, box(b))
      case Eq => Cmp(Eq, box(b)) // unreachable from the public entry
    }
    def integral(n: Number, min: Long, max: Long, box: Long => Any): NormBound = n match {
      case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte =>
        clampIntegral(op, n.longValue(), min, max, box)
      case _ =>
        val d = n.doubleValue()
        if (d.isNaN) { if (ltle) Everything else Nothing } // NaN compares greatest
        else if (d.isInfinite) {
          if ((d > 0) == ltle) Everything else Nothing
        } else {
          val fl = math.floor(d)
          if (fl == d) {
            // integral double: exact as long iff |d| < 2^63 (above that the
            // double domain has no long peers — closed-form per direction)
            if (d >= 9.223372036854776e18) { if (ltle) Everything else Nothing }
            else if (d < -9.223372036854776e18) { if (ltle) Nothing else Everything }
            else clampIntegral(op, d.toLong, min, max, box)
          } else if (ltle) clampIntegral(Le, fl.toLong, min, max, box) // x < 2.5 ⇔ x <= 2
          else clampIntegral(Ge, math.ceil(d).toLong, min, max, box)   // x > 2.5 ⇔ x >= 3
        }
    }
    // the four NaN-bound shapes, shared by float/double targets: under
    // Double.compare NaN is greatest and equal to itself
    def fpNaN(nan: Any): NormBound = op match {
      case Lt => Cmp(Lt, nan, planRanges = false) // all non-NaN values
      case Le => Everything                        // incl. NaN <= NaN
      case Gt => Nothing
      case Ge => Cmp(Eq, nan)                      // only NaN >= NaN
      case Eq => Cmp(Eq, nan)
    }
    v match {
      case n: Number => dt match {
        case ByteType    => integral(n, Byte.MinValue, Byte.MaxValue, l => java.lang.Byte.valueOf(l.toByte))
        case ShortType   => integral(n, Short.MinValue, Short.MaxValue, l => java.lang.Short.valueOf(l.toShort))
        case IntegerType => integral(n, Int.MinValue, Int.MaxValue, l => java.lang.Integer.valueOf(l.toInt))
        case LongType    => integral(n, Long.MinValue, Long.MaxValue, java.lang.Long.valueOf)
        case DoubleType =>
          val d = n.doubleValue() // the fallback's own (lossy >2^53) view
          if (d.isNaN) fpNaN(java.lang.Double.valueOf(Double.NaN))
          else Cmp(op, java.lang.Double.valueOf(d))
        case FloatType =>
          val d = n.doubleValue()
          if (d.isNaN) fpNaN(java.lang.Float.valueOf(Float.NaN))
          else {
            // nearest float f brackets d with no float strictly between
            // them, so every non-representable bound tightens one step
            val f = d.toFloat
            if (f.toDouble == d) Cmp(op, java.lang.Float.valueOf(f))
            else if (f.toDouble > d) {
              if (ltle) Cmp(Lt, java.lang.Float.valueOf(f))  // x <= d ⇔ x < f
              else Cmp(Ge, java.lang.Float.valueOf(f))       // x > d ⇔ x >= f
            } else {
              if (ltle) Cmp(Le, java.lang.Float.valueOf(f))  // x < d ⇔ x <= f
              else Cmp(Gt, java.lang.Float.valueOf(f))       // x >= d ⇔ x > f
            }
          }
        case _ => Cmp(op, v) // non-numeric column with a Number literal: keep as-is
      }
      case _ => Cmp(op, v)
    }
  }

  /** Collapse N same-shaped equality leaves into one set predicate —
    * [[ValueIn]] / [[KeyIn]] — or None when the leaves are heterogeneous
    * (the caller keeps the generic Or). Literals are [[normalize]]d through
    * the column's DataType first so mismatched numeric boxes (Integer
    * literals against a LongType column) still match numerically. */
  def inOf(children: Seq[KvPredicate]): Option[KvPredicate] = {
    if (children.isEmpty) return None
    children.head match {
      case ValueCmp(cf, qual, Eq, _, dt, coder)
          if children.forall {
            case ValueCmp(c, q, Eq, _, d, co) =>
              c == cf && q == qual && d == dt && co == coder
            case _ => false
          } =>
        Some(ValueIn(cf, qual,
          children.collect { case ValueCmp(_, _, _, v, _, _) => v }
            .flatMap(normalize(_, dt)).map(canonical).toSet,
          dt, coder))
      case KeyCmp(off, w, Eq, _, dt, coder)
          if children.forall {
            case KeyCmp(o, wd, Eq, _, d, co) =>
              o == off && wd == w && d == dt && co == coder
            case _ => false
          } =>
        Some(KeyIn(off, w,
          children.collect { case KeyCmp(_, _, _, v, _, _) => v }
            .flatMap(normalize(_, dt)).map(canonical).toSet,
          dt, coder))
      case _ => None
    }
  }

  final case class And(children: Seq[KvPredicate]) extends KvPredicate {
    private val cs = children.toArray
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      var i = 0
      while (i < cs.length) { if (!cs(i).eval(key, row, time)) return false; i += 1 }
      true
    }
  }

  final case class Or(children: Seq[KvPredicate]) extends KvPredicate {
    private val cs = children.toArray
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = {
      var i = 0
      while (i < cs.length) { if (cs(i).eval(key, row, time)) return true; i += 1 }
      false
    }
  }

  final case class Not(child: KvPredicate) extends KvPredicate {
    override def eval(key: Array[Byte], row: RowCells, time: Option[TimeRange]): Boolean = !child.eval(key, row, time)
  }

  /** Compare two JVM values of the same runtime type; two different
    * numeric boxes compare as doubles. Matches `a` alone and tests `b`'s
    * type in a guard, so no pair is built per call. */
  def compareTyped(a: Any, b: Any): Int = a match {
    case x: java.lang.Integer if b.isInstanceOf[java.lang.Integer] =>
      x.compareTo(b.asInstanceOf[java.lang.Integer])
    case x: java.lang.Long if b.isInstanceOf[java.lang.Long] =>
      x.compareTo(b.asInstanceOf[java.lang.Long])
    // UTF-8 byte order, matching Spark's UTF8String binary collation
    case x: String if b.isInstanceOf[String] => compareCodePoints(x, b.asInstanceOf[String])
    case x: java.lang.Double if b.isInstanceOf[java.lang.Double] =>
      x.compareTo(b.asInstanceOf[java.lang.Double])
    case x: java.lang.Float if b.isInstanceOf[java.lang.Float] =>
      x.compareTo(b.asInstanceOf[java.lang.Float])
    case x: java.lang.Short if b.isInstanceOf[java.lang.Short] =>
      x.compareTo(b.asInstanceOf[java.lang.Short])
    case x: java.lang.Byte if b.isInstanceOf[java.lang.Byte] =>
      x.compareTo(b.asInstanceOf[java.lang.Byte])
    case x: java.lang.Boolean if b.isInstanceOf[java.lang.Boolean] =>
      x.compareTo(b.asInstanceOf[java.lang.Boolean])
    case x: Array[Byte] if b.isInstanceOf[Array[Byte]] =>
      BytesUtil.compareBytes(x, b.asInstanceOf[Array[Byte]])
    case x: Number if b.isInstanceOf[Number] =>
      java.lang.Double.compare(x.doubleValue(), b.asInstanceOf[Number].doubleValue())
    // a struct (Avro record) key part: field by field, nulls first, the
    // order Spark gives structs
    case x: org.apache.spark.sql.Row if b.isInstanceOf[org.apache.spark.sql.Row] &&
        x.length == b.asInstanceOf[org.apache.spark.sql.Row].length =>
      val y = b.asInstanceOf[org.apache.spark.sql.Row]
      var i = 0
      while (i < x.length) {
        val c =
          if (x.isNullAt(i)) { if (y.isNullAt(i)) 0 else -1 }
          else if (y.isNullAt(i)) 1
          else compareTyped(x.get(i), y.get(i))
        if (c != 0) return c
        i += 1
      }
      0
    case _ => throw new IllegalArgumentException(
      s"cannot compare ${a.getClass.getName} with ${b.getClass.getName}")
  }

  /** Code point order of two well-formed strings, which is UTF-8 byte order
    * (Spark's UTF8String binary collation), without encoding either.
    * UTF-16 code unit order differs from it in one place only: a surrogate
    * (half of a supplementary code point, U+10000 and above) sorts below
    * U+E000..U+FFFF. At the first differing unit, so both strings agree
    * before it, moving the surrogates above that block restores the order. */
  private def compareCodePoints(x: String, y: String): Int = {
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = x.charAt(i)
      val d = y.charAt(i)
      if (c != d) return codePointRank(c) - codePointRank(d)
      i += 1
    }
    x.length - y.length
  }

  private def codePointRank(c: Char): Int =
    if (c >= 0xE000) c - 0x800 else if (c >= 0xD800) c + 0x2000 else c
}
