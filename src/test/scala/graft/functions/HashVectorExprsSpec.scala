package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Direct unit coverage of the native sketch/vector expressions (they are
  * otherwise exercised only through the pipeline queries, whose fixtures
  * carry no null elements and always-valid parameters):
  *   - null array elements yield NULL (oracle semantics), on both the
  *     interpreted and the codegen path, instead of reading slots as 0.0;
  *   - out-of-range parameters fail ANALYSIS, not runtime (bits > 32 would
  *     silently wrap `1 << i` mod 32; numHashes=0 would give every doc the
  *     constant band hash; k <= 0 would fingerprint every doc as md5(""));
  *   - the fused/cached fast paths (CosineSim single pass, NearestCentroids
  *     precomputed centroid norms) stay BIT-identical to the naive
  *     three-accumulator order;
  *   - BoundaryProbeCells agrees with its NearestCentroids delegate,
  *     including on empty centroid sets. */
class HashVectorExprsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // codegen.fallback=false: a generated class that fails to compile fails
  // the query instead of silently running the stage interpreted
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.fallback", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def lit(vals: Seq[java.lang.Double]): Literal =
    Literal.create(vals, ArrayType(DoubleType, containsNull = true))

  // ---- null array elements -> NULL ----------------------------------------

  test("cosine_sim: a null element nulls the score, interpreted and codegen") {
    import spark.implicits._
    val a = Seq[java.lang.Double](1.0, null)
    val b = Seq[java.lang.Double](1.0, 2.0)
    // interpreted
    assert(CosineSim(lit(a), lit(b)).eval(null) == null)
    assert(CosineSim(lit(b), lit(a)).eval(null) == null)
    assert(CosineSim(lit(b), lit(b)).eval(null) != null)
    // codegen (DataFrame projection)
    val df = Seq((Seq[Option[Double]](Some(1.0), None), Seq[Option[Double]](Some(1.0), Some(2.0))))
      .toDF("a", "b")
    val out = df.select(
      VectorExprs.cosineSim(col("a"), col("b")).as("ab"),
      VectorExprs.cosineSim(col("b"), col("b")).as("bb")).head()
    assert(out.isNullAt(0), "null element must null the score under codegen")
    assert(math.abs(out.getDouble(1) - 1.0) < 1e-12)
  }

  test("lsh/centroid expressions: a null element nulls the result under codegen") {
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val df = Seq(
      (1L, Seq[Option[Double]](Some(1.0), Some(0.5))),
      (2L, Seq[Option[Double]](Some(1.0), None))).toDF("id", "v")
    val out = df.select(col("id"),
      VectorExprs.signLshBucket(col("v"), 8, 2, 7L).as("bkt"),
      VectorExprs.signLshBands(col("v"), 4, 2, 2, 7L).as("bands"),
      VectorExprs.nearestCentroids(col("v"), cents, 1).as("cell"),
      VectorExprs.boundaryProbeCells(col("v"), cents, 0.05).as("probe"))
      .orderBy("id").collect()
    val good = out(0); val bad = out(1)
    (1 to 4).foreach { i =>
      assert(!good.isNullAt(i), s"col $i non-null for the clean row")
      assert(bad.isNullAt(i), s"col $i must be NULL when the vector has a null element")
    }
  }

  test("centroid expressions compile over a non-null, containsNull = false column") {
    // non-nullable input with non-null elements makes the expressions
    // non-nullable, and the generated code then has no isNull variable
    val schema = StructType(Seq(StructField("v",
      ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = Seq(Seq(1.0f, 0.0f), Seq(0.1f, 1.0f), Seq(0.7f, 0.7f))
      .map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val out = df.select(
      element_at(VectorExprs.nearestCentroids(col("v"), cents, 1), 1).as("cell"),
      VectorExprs.nearestCentroids(col("v"), cents, 2).as("probe"),
      VectorExprs.boundaryProbeCells(col("v"), cents, 0.5).as("bnd")).collect()
    assert(out.map(r => (r.getInt(0), r.getSeq[Int](1), r.getSeq[Int](2))).toSeq == Seq(
      (0, Seq(0, 1), Seq(0)), (1, Seq(1, 0), Seq(1)), (0, Seq(0, 1), Seq(0, 1))))
    val exploded = df.select(explode(VectorExprs.nearestCentroids(col("v"), cents, 2)))
    assert(exploded.collect().map(_.getInt(0)).toSeq == Seq(0, 1, 1, 0, 0, 1))
  }

  // ---- parameter validation fails analysis --------------------------------

  test("out-of-range parameters are analysis errors, not silent corruption") {
    import spark.implicits._
    val vdf = Seq(Seq(1.0, 2.0)).toDF("v")
    val tdf = Seq(Seq("a", "b", "c")).toDF("t")
    def bad(thunk: => Any): Unit = intercept[AnalysisException](thunk)
    bad(vdf.select(VectorExprs.signLshBucket(col("v"), 64, 2, 7L)).collect())
    bad(vdf.select(VectorExprs.signLshBucket(col("v"), 0, 2, 7L)).collect())
    bad(vdf.select(VectorExprs.signLshBands(col("v"), 33, 2, 2, 7L)).collect())
    bad(vdf.select(VectorExprs.signLshBands(col("v"), 4, 0, 2, 7L)).collect())
    bad(vdf.select(VectorExprs.nearestCentroids(col("v"), Array(Array(1.0)), 0)).collect())
    bad(tdf.select(HashExprs.minhashSig(col("t"), 0)).collect())
    bad(tdf.select(HashExprs.minhashSig(col("t"), -1)).collect())
    bad(tdf.select(HashExprs.minhashBands(col("t"), 0, 1)).collect())
    bad(tdf.select(HashExprs.minKgramMd5(col("t").cast("string"), 0)).collect())
    // boundary values stay accepted
    assert(vdf.select(VectorExprs.signLshBucket(col("v"), 32, 2, 7L)).head().getInt(0) != -1
      || true)
    assert(tdf.select(HashExprs.minhashBands(col("t"), 4, 2)).count() == 1)
  }

  // ---- fused/cached fast paths are bit-identical --------------------------

  private def naiveCosine(a: Array[Double], b: Array[Double]): java.lang.Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) null else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  test("fused CosineSim is bit-identical to the three-walk order") {
    val rnd = new Random(42)
    for (_ <- 0 until 200) {
      val la = rnd.nextInt(9); val lb = rnd.nextInt(9)
      val a = Array.fill(la)(rnd.nextGaussian())
      val b = Array.fill(lb)(rnd.nextGaussian())
      val got = CosineSim(
        Literal.create(a.toSeq, ArrayType(DoubleType, false)),
        Literal.create(b.toSeq, ArrayType(DoubleType, false))).eval(null)
      val want = naiveCosine(a, b)
      if (want == null) assert(got == null)
      else assert(java.lang.Double.doubleToLongBits(got.asInstanceOf[Double]) ==
        java.lang.Double.doubleToLongBits(want), s"la=$la lb=$lb")
    }
  }

  test("NearestCentroids cached-norm fast path is bit-identical to the per-row walk") {
    val rnd = new Random(7)
    val cents = Array.fill(5)(Array.fill(16)(rnd.nextGaussian()))
    val expr = NearestCentroids(
      Literal.create(Seq.empty[Double], ArrayType(DoubleType, false)), cents, 1)
    for (_ <- 0 until 100) {
      // lengths 16 (== centroid dim) and 20 (> dim) take the fast path;
      // 10 (< dim) exercises the truncated fallback
      val len = Seq(16, 20, 10)(rnd.nextInt(3))
      val v = Array.fill(len)(rnd.nextGaussian())
      val got = expr.sims(new GenericArrayData(v))
      val want = cents.map { c =>
        val n = math.min(v.length, c.length)
        var dot = 0.0; var nv = 0.0; var nc = 0.0
        var d = 0
        while (d < n) { dot += v(d) * c(d); nv += v(d) * v(d); nc += c(d) * c(d); d += 1 }
        dot / (math.sqrt(nv) * math.sqrt(nc))
      }
      assert(got.map(java.lang.Double.doubleToLongBits).toSeq ==
        want.map(java.lang.Double.doubleToLongBits).toSeq, s"len=$len")
    }
  }

  test("BoundaryProbeCells: empty centroids give empty membership like its delegate") {
    val v = Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType, false))
    val probe = BoundaryProbeCells(v, Array.empty[Array[Double]], 0.05)
      .eval(null).asInstanceOf[ArrayData]
    val near = NearestCentroids(v, Array.empty[Array[Double]], 1)
      .eval(null).asInstanceOf[ArrayData]
    assert(probe.numElements() == 0)
    assert(near.numElements() == 0)
    // one centroid: both assign the single cell
    val one = Array(Array(1.0, 0.0))
    assert(BoundaryProbeCells(v, one, 0.05).eval(null).asInstanceOf[ArrayData]
      .toIntArray().toSeq == Seq(0))
  }

  test("BoundaryProbeCells element 0 equals the nprobe=1 assignment on random data") {
    val rnd = new Random(11)
    val cents = Array.fill(6)(Array.fill(8)(rnd.nextGaussian()))
    for (_ <- 0 until 100) {
      val v = Literal.create(Array.fill(8)(rnd.nextGaussian()).toSeq,
        ArrayType(DoubleType, false))
      val probe = BoundaryProbeCells(v, cents, 0.1).eval(null)
        .asInstanceOf[ArrayData].toIntArray()
      val near = NearestCentroids(v, cents, 1).eval(null)
        .asInstanceOf[ArrayData].toIntArray()
      assert(probe.head == near.head)
      assert(probe.length <= 2 && probe.distinct.length == probe.length)
    }
  }

  // ---- the shared md5_number_lower packing --------------------------------

  test("HashSketch.md5NumberLower matches a from-scratch LE packing of bytes 8..15") {
    for (s <- Seq("", "abc", "The quick brown fox", "päö€")) {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var want = 0L
      var i = 15
      while (i >= 8) { want = (want << 8) | (dig(i) & 0xffL); i -= 1 }
      assert(HashSketch.md5NumberLower(s.getBytes("UTF-8")) == want, s"input=$s")
      assert(HashSketch.leUint64(dig) == want, s"input=$s")
    }
  }

  test("md5_number_lower expression and thread-local digest stay consistent under reuse") {
    import spark.implicits._
    // interleave calls so a stale (unreset) digest would corrupt results
    val rows = (0 until 50).map(i => s"doc $i")
    val got = rows.toDF("s")
      .select(HashExprs.md5NumberLower(col("s"))).as[Long].collect().toSeq
    val want = rows.map(s => HashSketch.md5NumberLower(s.getBytes("UTF-8")))
    assert(got == want)
  }
}
