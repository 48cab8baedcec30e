package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The SQL function surface: a session built through
  * [[GraftExtensions.configure]] resolves the graft_* functions in
  * pure SQL, the results are bit-identical to the Column API (same Catalyst
  * expressions underneath), and sizing arguments reject non-literals with a
  * readable error. Forked test suites run sequentially, so stopping the
  * shared session to build an extension-bearing one is safe. */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    GraftExtensions.configure(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("configure sets the codegen-cache session settings") {
    // the cache size is a static conf: this session created its own
    // SparkContext, so the builder's value is the one in force
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("injected functions resolve in SQL and match the Column API bit-for-bit") {
    import spark.implicits._
    val df = Seq("alpha beta gamma alpha", "one two three", "", "Ω unicode text")
      .toDF("text")
    df.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT graft_md5_number_lower(text) AS h,
        |  graft_min_kgram_md5(text, 4) AS fp,
        |  graft_simhash64(array_distinct(split(trim(text), '\\s+')), true) AS sh,
        |  graft_minhash_bands(split(trim(text), '\\s+'), 16, 4) AS bands
        |FROM ext_docs""".stripMargin).collect()
    val viaCol = df.select(
      graft.functions.HashExprs.md5NumberLower($"text").as("h"),
      graft.functions.HashExprs.minKgramMd5($"text", 4).as("fp"),
      graft.functions.HashExprs.simhash64(
        org.apache.spark.sql.functions.array_distinct(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim($"text"), "\\s+")), md5Base = true).as("sh"),
      graft.functions.HashExprs.minhashBands(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.trim($"text"), "\\s+"), 16, 4).as("bands"))
      .collect()
    assert(viaSql.map(_.toString).toSeq == viaCol.map(_.toString).toSeq)
  }

  test("vector functions: SQL cosine equals the Column API on float arrays") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(3f, 2f, 1f)),
      (Array(1f, 0f, 0f), Array(1f, 0f, 0f))).toDF("a", "b")
    df.createOrReplaceTempView("ext_vecs")
    val viaSql = spark.sql(
      "SELECT graft_cosine_sim(a, b) AS c FROM ext_vecs").collect().map(_.getDouble(0))
    val viaCol = df.select(graft.functions.VectorExprs.cosineSim($"a", $"b"))
      .collect().map(_.getDouble(0))
    assert(viaSql.toSeq == viaCol.toSeq)
    assert(viaCol(1) == 1.0)
  }

  test("sizing arguments must be literals; arity is checked") {
    import spark.implicits._
    Seq(("x y z", 2)).toDF("text", "k").createOrReplaceTempView("ext_bad")
    val e1 = intercept[Exception] {
      spark.sql("SELECT graft_min_kgram_md5(text, k) FROM ext_bad").collect()
    }
    assert(e1.getMessage.contains("integer literal"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_md5_number_lower(text, 1) FROM ext_bad").collect()
    }
    assert(e2.getMessage.contains("argument"), e2.getMessage)
  }

  test("morton functions: SQL roundtrip equals the Column API and ZOrder math") {
    import spark.implicits._
    val pts = Seq((3, -7), (0, 0), (Int.MaxValue, Int.MinValue), (-1, 1))
    pts.toDF("x", "y").createOrReplaceTempView("ext_pts")
    val viaSql = spark.sql(
      """SELECT graft_morton2(x, y) AS z,
        |       graft_morton_x(graft_morton2(x, y)) AS rx,
        |       graft_morton_y(graft_morton2(x, y)) AS ry
        |FROM ext_pts""".stripMargin).collect()
    viaSql.zip(pts).foreach { case (r, (x, y)) =>
      assert(r.getLong(0) == graft.ranges.ZOrder.encode(x, y))
      assert(r.getInt(1) == x && r.getInt(2) == y)
    }
  }

  test("register() is idempotent on a live session") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    import spark.implicits._
    val one = Seq("t").toDF("s")
    one.createOrReplaceTempView("ext_one")
    assert(spark.sql("SELECT graft_md5_number_lower(s) FROM ext_one").count() == 1L)
  }
}
