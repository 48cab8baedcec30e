package graft.perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pipeline.Similarity
import graft.queries.Pipeline

/** Fixed-size probe of `graft.pipeline.Similarity`, part of the traced run's
  * layer microbenchmark: trains an IVF quantizer and PQ codebooks on a
  * Gaussian-mixture corpus, encodes it into a cell-keyed kv code table
  * (the `cell ‖ vec_id` layout), and runs one batch of top-10 probes that
  * read only the probed cells. Recall is measured against brute force. */
object AnnProbe {
  val Vectors = 4000
  val Dim = 16
  val Clusters = 16
  val NList = 16
  val M = 8
  val K = 16
  val Queries = 10
  val TopK = 10
  val NProbe = 4
  private val Catalog = Pipeline.kv32Catalog.replace("\"kv_ivfpq_codes\"", "\"kv_ivfpq_codes_pb\"")

  /** Cluster centres and points are pure functions of the index (seed 1). */
  def vector(i: Long): Array[Float] = {
    val c = Gen.below(1, 70, i, Clusters)
    Array.tabulate(Dim)(d => (Gen.gaussian(1, 71, c * Dim + d) + 0.4 * Gen.gaussian(1, 72, i * Dim + d)).toFloat)
  }

  def run(s: SparkSession, cores: Int): Map[String, Any] = {
    val schema = StructType(Seq(StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), false)))
    val corpus = s.createDataFrame(
      s.sparkContext.range(0L, Vectors, 1, cores).map(i => Row(i, vector(i).toSeq)), schema).cache()
    corpus.count()
    val sc = s.sparkContext
    def timed[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = Trace.span("ann." + name)(f)
      (a, (System.nanoTime() - t0) / 1e6)
    }
    sc.setJobGroup("perfbench-ann-train", "ann training")
    val (cents, ivfMs) = timed("ivf_train")(Similarity.ivfCentroids(corpus, "vec_id", "embedding", NList))
    val (books, pqMs) = timed("pq_train")(Similarity.pqCodebooks(corpus, "vec_id", "embedding", M, K, Dim))
    val trainJobs = sc.statusTracker.getJobIdsForGroup("perfbench-ann-train").length
    sc.clearJobGroup()
    graft.store.KvStore.drop("default:kv_ivfpq_codes_pb")
    val (_, encMs) = timed("encode") {
      Similarity.ivfPqCodeTable(cents, books, corpus, "vec_id", "embedding")
        .select(col("cell"), col("vec_id"), col("codes"))
        .write.format("graft-kv")
        .options(Map("catalog" -> Catalog, "pqCodes" -> Pipeline.kv32Avro, "newtable" -> "8",
          "minSplitNum" -> "0", "maxSplitNum" -> (NList - 1).toString))
        .mode("append").save()
    }
    val queries = corpus.filter(col("vec_id") < Queries)
    val ((hits, rows), probeMs) = timed("probe") {
      val probed = queries.select(explode(graft.functions.VectorExprs.nearestCentroids(
        col("embedding"), cents, NProbe)).as("cell")).distinct().collect().map(_.getInt(0))
      val kv = s.read.format("graft-kv").options(Map("catalog" -> Catalog, "pqCodes" -> Pipeline.kv32Avro))
        .load().filter(col("cell").isin(probed.map(Int.box): _*))
      val df = Similarity.ivfPqTopK(cents, books, queries, kv, "vec_id", "embedding", TopK, NProbe)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got, SparkObserver.scanMetrics(df.queryExecution.executedPlan)._1)
    }
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", TopK)
      .select(col("query_id"), col("neighbor_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    corpus.unpersist()
    graft.store.KvStore.drop("default:kv_ivfpq_codes_pb")
    Map("ann.ivf_train_ms" -> ivfMs, "ann.pq_train_ms" -> pqMs, "ann.encode_ms" -> encMs,
      "ann.train_jobs" -> trainJobs, "ann.probe_ms" -> probeMs, "ann.probe_rows" -> rows,
      "ann.recall_at_10" -> (hits & exact).size.toDouble / exact.size)
  }
}
