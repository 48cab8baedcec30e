package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import org.apache.spark.sql.graftshim.GraftShim

/** Shared null-element handling for the vector expressions: each treats an
  * array with a NULL element as a NULL result (matching the HOF/DuckDB
  * formulations they replace), and each skips the scan entirely when the
  * array type's `containsNull` is false. */
private[functions] object VecNulls {
  def containsNull(dt: DataType): Boolean = dt match {
    case ArrayType(_, cn) => cn
    case _ => true
  }

  def hasNullElem(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  /** Codegen for expressions that delegate to their own `nullSafeEval` via a
    * reference object: a null return (null array element) must flip
    * `ev.isNull` — a bare cast would leave `ev.isNull` false with a null
    * value and NPE downstream. A non-nullable expression gets the bare
    * cast: `nullSafeCodeGen` declares no `ev.isNull` variable for it, so
    * assigning one would not compile. */
  def delegateCode(ctx: CodegenContext, ev: ExprCode, self: String, a: String,
      nullable: Boolean): String =
    if (!nullable) s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.nullSafeEval($a);"
    else {
      val tmp = ctx.freshName("delegated")
      s"""
         |Object $tmp = $self.nullSafeEval($a);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $tmp;
         |}
       """.stripMargin
    }

  /** Codegen prefix: sets `ev.isNull` and skips `body` when `a` holds a null
    * element; emits `body` alone when the array type cannot hold nulls. */
  def guardedCode(ctx: CodegenContext, ev: ExprCode, cn: Boolean, a: String,
      body: String): String =
    if (!cn) body
    else {
      val i = ctx.freshName("nullScan")
      val bad = ctx.freshName("hasNullElem")
      s"""
         |boolean $bad = false;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  if ($a.isNullAt($i)) { $bad = true; break; }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  $body
         |}
       """.stripMargin
    }
}

/** Native Catalyst expression for cosine similarity over float/double array
  * columns.
  *
  * Spark's higher-order functions (`aggregate`, `zip_with`, `transform`) are
  * CodegenFallback and box every element; a 2M-pair near-dup self-join spends
  * ~95% of its time there. This expression loops primitive arrays with the
  * EXACT same arithmetic order (sequential dot, sequential norms,
  * dot / (sqrt(na)·sqrt(nb))) so results stay bit-identical to both the
  * fold-expression formulation and DuckDB's list_cosine_similarity, while
  * generating tight non-boxing Java through doGenCode. An array containing
  * a NULL element yields NULL (the HOF fold and DuckDB both propagate
  * element nulls; reading the slot as 0.0 would silently skew the score) —
  * the null scan is emitted only for `containsNull` array types, so the
  * common non-null schema pays nothing.
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  /** Zero-norm vectors have no defined cosine: 0/0 would yield NaN, and
    * Spark orders NaN ABOVE every double, so `score >= threshold` filters
    * would pass every zero-vector pair (the hazard SortedJaccard documents).
    * Null instead — threshold filters drop it. */
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim needs array<float|double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  // One fused loop over the common prefix plus per-side tails: each of dot,
  // na, nb still accumulates its terms in the same sequential element order
  // as three separate walks would, so the sums (and the final score) stay
  // bit-identical while every vector is read once instead of twice.
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (VecNulls.containsNull(left.dataType) && VecNulls.hasNullElem(a)) return null
    if (VecNulls.containsNull(right.dataType) && VecNulls.hasNullElem(b)) return null
    val af = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val bf = right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    val la = a.numElements(); val lb = b.numElements()
    val n = math.min(la, lb)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, i, af); val y = elem(b, i, bf)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    while (i < la) { val x = elem(a, i, af); na += x * x; i += 1 }
    i = n
    while (i < lb) { val y = elem(b, i, bf); nb += y * y; i += 1 }
    if (na == 0.0 || nb == 0.0) null
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (left.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      (v: String, i: String) => s"(double) $v.getFloat($i)"
    else (v: String, i: String) => s"$v.getDouble($i)"
    val bGet = if (right.dataType.asInstanceOf[ArrayType].elementType == FloatType)
      (v: String, i: String) => s"(double) $v.getFloat($i)"
    else (v: String, i: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val i = ctx.freshName("i")
      val n = ctx.freshName("n"); val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      val body =
        s"""
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |int $la = $a.numElements(); int $lb = $b.numElements();
           |int $n = java.lang.Math.min($la, $lb);
           |int $i = 0;
           |for (; $i < $n; $i++) {
           |  double $x = ${aGet(a, i)};
           |  double $y = ${bGet(b, i)};
           |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |}
           |for (; $i < $la; $i++) {
           |  double $x = ${aGet(a, i)}; $na += $x * $x;
           |}
           |for ($i = $n; $i < $lb; $i++) {
           |  double $y = ${bGet(b, i)}; $nb += $y * $y;
           |}
           |if ($na == 0.0 || $nb == 0.0) {
           |  ${ev.isNull} = true;
           |} else {
           |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           |}
         """.stripMargin
      VecNulls.guardedCode(ctx, ev, VecNulls.containsNull(left.dataType), a,
        VecNulls.guardedCode(ctx, ev, VecNulls.containsNull(right.dataType), b, body))
    })
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Deterministic ±1 hyperplane matrices for sign-LSH, derived from MD5 so
  * an external SQL engine can reproduce them exactly: plane (i, d) is +1
  * iff bit 0 of the little-endian uint64 of MD5("lsh{seed}_{i}_{d}") digest
  * bytes 8..15 is set — precisely DuckDB's
  * `md5_number_lower('lsh'||seed||'_'||i||'_'||d) & 1 = 1`. This makes
  * every LSH-bucketed query ORACLE-CHECKABLE end-to-end (the round-1 gap:
  * scala.util.Random planes were irreproducible outside the JVM). Matrix
  * generation is O(bits×dim) MD5 calls, once per expression instance. */
object LshPlanes {
  def planes(seed: Long, bits: Int, dim: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(bits) { i =>
      Array.tabulate(dim) { d =>
        md.reset()
        val dig = md.digest(s"lsh${seed}_${i}_$d".getBytes("UTF-8"))
        // bit 0 of the shared md5_number_lower packing (= bit 0 of byte 8)
        if ((graft.functions.HashSketch.leUint64(dig) & 1L) == 1L) 1.0 else -1.0
      }
    }
  }
}

/** Random-hyperplane LSH bucket id: bit i of the bucket = sign of the dot
  * product of the vector with deterministic ±1 hyperplane i (see
  * [[LshPlanes]]). One pass of primitive loops per row (the
  * zip_with/aggregate HOF formulation is CodegenFallback and re-allocates a
  * zipped array per bit per row). Vectors shorter/longer than `dim`
  * use the first min(len, dim) components (an empty vector gets the
  * all-ones bucket since every dot product is 0 ≥ 0). */
case class SignLshBucket(child: Expression, bits: Int, dim: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullable: Boolean =
    child.nullable || VecNulls.containsNull(child.dataType)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _ if bits <= 0 || bits > 32 =>
        // the int accumulator holds 32 sign bits; `1 << i` wraps mod 32, so
        // bits > 32 would silently fold extra planes onto the low bits
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_bucket needs 1 <= bits <= 32, got $bits")
      case _ if dim <= 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_bucket needs dim > 0, got $dim")
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sign_lsh_bucket needs array<float|double> input, got $other")
    }

  @transient private lazy val planes: Array[Array[Double]] =
    LshPlanes.planes(seed, bits, dim)

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (VecNulls.containsNull(child.dataType) && VecNulls.hasNullElem(a)) return null
    val n = math.min(a.numElements(), dim)
    val f = isFloat
    var acc = 0
    var i = 0
    while (i < bits) {
      val p = planes(i)
      var dot = 0.0
      var d = 0
      while (d < n) {
        dot += (if (f) a.getFloat(d).toDouble else a.getDouble(d)) * p(d)
        d += 1
      }
      if (dot >= 0) acc |= 1 << i
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
              else (v: String, i: String) => s"$v.getDouble($i)"
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val acc = ctx.freshName("acc"); val i = ctx.freshName("i")
      val d = ctx.freshName("d"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val p = ctx.freshName("p")
      VecNulls.guardedCode(ctx, ev, VecNulls.containsNull(child.dataType), a,
        s"""
           |int $acc = 0;
           |int $n = java.lang.Math.min($a.numElements(), $dim);
           |for (int $i = 0; $i < $bits; $i++) {
           |  double[] $p = $planesRef[$i];
           |  double $dot = 0.0;
           |  for (int $d = 0; $d < $n; $d++) {
           |    $dot += ${get(a, d)} * $p[$d];
           |  }
           |  if ($dot >= 0) $acc |= 1 << $i;
           |}
           |${ev.value} = $acc;
         """.stripMargin)
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Banded sign-LSH: `bands` independent bucket ids per vector, band b's
  * bucket packing the sign bits of planes [b·bandBits, (b+1)·bandBits).
  * Two vectors are near-dup CANDIDATES if ANY band bucket matches —
  * per-pair recall 1-(1-p^bandBits)^bands for bit-agreement probability
  * p = 1 - θ/π. One fused expression returning array<int>, consumed by
  * exactly ONE posexplode (Catalyst's CollapseProject would duplicate a
  * per-band expression into `bands` copies of the plane walk). Planes are
  * the MD5-derived [[LshPlanes]] matrix, so candidates are reproducible in
  * the DuckDB oracle. */
case class SignLshBands(child: Expression, bandBits: Int, bands: Int, dim: Int,
    seed: Long) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean =
    child.nullable || VecNulls.containsNull(child.dataType)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _ if bandBits <= 0 || bandBits > 32 || bands <= 0 =>
        // each band's bucket packs its sign bits into an int: `1 << j` wraps
        // mod 32, so bandBits > 32 would fold extra planes onto the low bits
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_bands needs 1 <= bandBits <= 32 and bands > 0, got $bandBits/$bands")
      case _ if dim <= 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sign_lsh_bands needs dim > 0, got $dim")
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"sign_lsh_bands needs array<float|double> input, got $other")
    }

  @transient private lazy val planes: Array[Array[Double]] =
    LshPlanes.planes(seed, bands * bandBits, dim)

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (VecNulls.containsNull(child.dataType) && VecNulls.hasNullElem(a)) return null
    val n = math.min(a.numElements(), dim)
    val f = isFloat
    val out = new Array[Int](bands)
    var b = 0
    while (b < bands) {
      var acc = 0
      var j = 0
      while (j < bandBits) {
        val p = planes(b * bandBits + j)
        var dot = 0.0
        var d = 0
        while (d < n) {
          dot += (if (f) a.getFloat(d).toDouble else a.getDouble(d)) * p(d)
          d += 1
        }
        if (dot >= 0) acc |= 1 << j
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) (v: String, i: String) => s"(double) $v.getFloat($i)"
              else (v: String, i: String) => s"$v.getDouble($i)"
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out"); val b = ctx.freshName("b")
      val j = ctx.freshName("j"); val d = ctx.freshName("d")
      val n = ctx.freshName("n"); val acc = ctx.freshName("acc")
      val dot = ctx.freshName("dot"); val p = ctx.freshName("p")
      VecNulls.guardedCode(ctx, ev, VecNulls.containsNull(child.dataType), a,
        s"""
           |int[] $out = new int[$bands];
           |int $n = java.lang.Math.min($a.numElements(), $dim);
           |for (int $b = 0; $b < $bands; $b++) {
           |  int $acc = 0;
           |  for (int $j = 0; $j < $bandBits; $j++) {
           |    double[] $p = $planesRef[$b * $bandBits + $j];
           |    double $dot = 0.0;
           |    for (int $d = 0; $d < $n; $d++) {
           |      $dot += ${get(a, d)} * $p[$d];
           |    }
           |    if ($dot >= 0) $acc |= 1 << $j;
           |  }
           |  $out[$b] = $acc;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin)
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** IVF probe-list assignment: returns the indices of the `nprobe` centroids
  * most cosine-similar to the vector, similarity-descending (ties broken by
  * lower index). One pass of primitive loops; centroids ride along as a
  * reference object, so the (tiny) coarse quantizer is evaluated without
  * boxing per row. `nprobe = 1` is the corpus-side cell assignment;
  * `nprobe > 1` is the query-side multi-probe. */
case class NearestCentroids(child: Expression, centroids: Array[Array[Double]],
    nprobe: Int) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullable: Boolean =
    child.nullable || VecNulls.containsNull(child.dataType)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _ if nprobe <= 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroids needs nprobe > 0, got $nprobe")
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"nearest_centroids needs array<float|double> input, got $other")
    }

  private def isFloat = child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Common length when every centroid agrees (the kmeans case), else -1. */
  @transient private lazy val sharedLen: Int =
    if (centroids.nonEmpty && centroids.forall(_.length == centroids(0).length))
      centroids(0).length
    else -1

  /** Squared norms of the centroids — constants per expression, computed
    * once instead of once per row per centroid. Same sequential
    * accumulation order as the per-row loop they replace. */
  @transient private lazy val centNormSq: Array[Double] = centroids.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  }

  /** Cosine similarities of v against every centroid (shared by eval).
    * Callers must have rejected null elements already. */
  def sims(a: ArrayData): Array[Double] = {
    val f = isFloat
    val out = new Array[Double](centroids.length)
    val len = sharedLen
    if (len >= 0 && a.numElements() >= len) {
      // fast path: every per-centroid walk would cover exactly the first
      // `len` components, so the vector norm is ONE loop and the centroid
      // norms are the precomputed constants — bit-identical sums, roughly
      // a third of the FLOPs
      var nv = 0.0
      var d = 0
      while (d < len) {
        val x = if (f) a.getFloat(d).toDouble else a.getDouble(d)
        nv += x * x
        d += 1
      }
      val snv = math.sqrt(nv)
      var ci = 0
      while (ci < centroids.length) {
        val c = centroids(ci)
        var dot = 0.0
        var j = 0
        while (j < len) {
          dot += (if (f) a.getFloat(j).toDouble else a.getDouble(j)) * c(j)
          j += 1
        }
        out(ci) = dot / (snv * math.sqrt(centNormSq(ci)))
        ci += 1
      }
    } else {
      // mixed-length fallback: truncated norms must match the walked prefix
      var ci = 0
      while (ci < centroids.length) {
        val c = centroids(ci)
        val n = math.min(a.numElements(), c.length)
        var dot = 0.0; var nv = 0.0; var nc = 0.0
        var d = 0
        while (d < n) {
          val x = if (f) a.getFloat(d).toDouble else a.getDouble(d)
          dot += x * c(d); nv += x * x; nc += c(d) * c(d)
          d += 1
        }
        out(ci) = dot / (math.sqrt(nv) * math.sqrt(nc))
        ci += 1
      }
    }
    out
  }

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (VecNulls.containsNull(child.dataType) && VecNulls.hasNullElem(a)) return null
    val s = sims(a)
    val idx = (0 until s.length).sortBy(i => (-s(i), i)).take(nprobe).toArray
    new GenericArrayData(idx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // per-row work is bounded by nlist×dim (tiny); delegate to eval and keep
    // the surrounding plan in whole-stage codegen via a reference call
    val self = ctx.addReferenceObj("nearestCentroids", this,
      classOf[NearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, a => VecNulls.delegateCode(ctx, ev, self, a, nullable))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Primary cell plus the RUNNER-UP when the vector sits near the Voronoi
  * boundary — SemDeDup multi-probe: a near-duplicate pair straddling a cell
  * boundary is invisible to cluster-local comparison, and the fix is to
  * give BOUNDARY vectors (top-2 centroid-similarity gap < `eps`) membership
  * in both cells. Element 0 is always the primary assignment (identical to
  * [[NearestCentroids]] nprobe=1, same tie-break), so callers keep
  * reporting the single-probe cell while comparisons run over the widened
  * membership. Interior vectors stay single-membership — pair-count growth
  * is bounded by the boundary population, not 2×n. */
case class BoundaryProbeCells(child: Expression, centroids: Array[Array[Double]],
    eps: Double) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"boundary_probe_cells needs array<float|double> input, got $other")
    }

  override def nullable: Boolean =
    child.nullable || VecNulls.containsNull(child.dataType)

  private lazy val delegate = NearestCentroids(child, centroids, nprobe = 2)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    if (VecNulls.containsNull(child.dataType) && VecNulls.hasNullElem(a)) return null
    val s = delegate.sims(a)
    // no centroids -> no memberships, matching NearestCentroids' empty
    // assignment (Array(0) would claim a nonexistent cell 0 for every row)
    if (s.length == 0) return new GenericArrayData(Array.empty[Int])
    if (s.length < 2) return new GenericArrayData(Array(0))
    var best = 0; var second = -1
    var i = 1
    while (i < s.length) {
      // same (-sim, index) tie-break as NearestCentroids: NaN sims (zero
      // norm) compare last, ties pick the lower index on both engines
      if (cmp(s(i), i, s(best), best) < 0) { second = best; best = i }
      else if (second < 0 || cmp(s(i), i, s(second), second) < 0) second = i
      i += 1
    }
    val gap = s(best) - s(second)
    // NaN gap (zero-norm vector: all sims NaN) is not < eps — single cell
    if (gap < eps) new GenericArrayData(Array(best, second))
    else new GenericArrayData(Array(best))
  }

  private def cmp(sa: Double, ia: Int, sb: Double, ib: Int): Int = {
    // exactly NearestCentroids' sortBy key (-sim, index): negation keeps
    // NaN (zero-norm) ranked last, ties pick the lower index
    val c = java.lang.Double.compare(-sa, -sb)
    if (c != 0) c else Integer.compare(ia, ib)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("boundaryProbeCells", this,
      classOf[BoundaryProbeCells].getName)
    nullSafeCodeGen(ctx, ev, a => VecNulls.delegateCode(ctx, ev, self, a, nullable))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-level entry points for the native vector expressions. */
object VectorExprs {
  def cosineSim(a: Column, b: Column): Column =
    GraftShim.column(CosineSim(GraftShim.expression(a), GraftShim.expression(b)))
  def signLshBucket(vec: Column, bits: Int, dim: Int, seed: Long): Column =
    GraftShim.column(SignLshBucket(GraftShim.expression(vec), bits, dim, seed))
  def signLshBands(vec: Column, bandBits: Int, bands: Int, dim: Int, seed: Long): Column =
    GraftShim.column(SignLshBands(GraftShim.expression(vec), bandBits, bands, dim, seed))
  def nearestCentroids(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    GraftShim.column(NearestCentroids(GraftShim.expression(vec), centroids, nprobe))
  def boundaryProbeCells(vec: Column, centroids: Array[Array[Double]], eps: Double): Column =
    GraftShim.column(BoundaryProbeCells(GraftShim.expression(vec), centroids, eps))
}
