package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

import graft.functions.VectorExprs.nearestCentroids

/** Similarity search over embedding columns (`array<float>`).
  *
  *  - [[cosine]] is a pure fold expression (zip_with + aggregate in DOUBLE):
  *    codegen'd, deterministic, bit-identical to a sequential dot product.
  *  - [[bruteForceTopK]] broadcasts the (small) query set and scans the
  *    corpus once — the exact baseline; per-query top-k via a window over
  *    the query key, so the shuffle carries only candidate rows.
  *  - [[lshTopK]] is the scale path: random-hyperplane bucketing (seeded,
  *    deterministic) cuts the scanned corpus per query to one bucket before
  *    the exact rerank — the 100 TB shape where brute force is impossible.
  *  - [[ivfCentroids]] and [[pqCodebooks]] share one Lloyd trainer; every
  *    search ends in the same per-query ranker.
  */
object Similarity {

  /** Cosine similarity of two float-array columns, computed in double via
    * the native [[graft.functions.CosineSim]] expression (codegen'd primitive
    * loops; the HOF fold formulation is CodegenFallback and ~20× slower). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosineSim(a, b)

  /** The per-query top-k every search here ends with: scores each
    * `(query_id, neighbor_id)` candidate with `score`, ranks per query by
    * (score DESC, neighbor_id ASC) — a total order, so ties resolve the
    * same way on every engine — and keeps ranks 1..k as `(query_id,
    * neighbor_id, extra…, score, rank)`. The window is keyed on the query,
    * so the shuffle carries only candidate rows. */
  private[graft] def topKPerQuery(cands: DataFrame, score: Column, k: Int,
      extra: String*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id").asc)
    cands.withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select((Seq("query_id", "neighbor_id") ++ extra ++ Seq("score", "rank")).map(col): _*)
  }

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * enough to broadcast (it is hint-broadcast); the corpus is scanned once. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    topKPerQuery(c.crossJoin(q).filter(col("query_id") =!= col("neighbor_id")),
      cosine(col("qv"), col("cv")), k)
  }

  /** Hard-negative mining for contrastive/reranker training data: for each
    * query vector, the `k` corpus vectors MOST similar to it that carry a
    * DIFFERENT label — the examples a bi-encoder confuses, which is exactly
    * what its training batch should contain (random negatives are too easy;
    * same-label neighbors are positives, not negatives).
    *
    * Scale shape: identical to [[bruteForceTopK]] — the query batch (a
    * training epoch mines thousands of anchors, not the corpus) broadcasts
    * with its labels; the corpus streams through ONCE with a label
    * inequality filter fused into the scan-side join; top-k is a per-query
    * window over k·|queries| survivors. Swap the candidate generator for
    * [[ivfTopKWithCentroids]]'s probed cells when the corpus × query
    * product outgrows brute force — the label filter composes unchanged. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("query_label")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("neighbor_label"))
    topKPerQuery(c.crossJoin(q).filter(col("neighbor_label") =!= col("query_label")),
      cosine(col("qv"), col("cv")), k, "neighbor_label")
  }

  /** Random-hyperplane LSH bucket id (sign bits of dim·r_i), via the native
    * one-pass [[graft.functions.SignLshBucket]] expression. */
  def lshBucket(vec: Column, bits: Int, dim: Int, seed: Long = 42L): Column =
    graft.functions.VectorExprs.signLshBucket(vec, bits, dim, seed)

  /** Multi-probe ANN top-k: the QUERY side expands to its own bucket plus
    * every bucket within Hamming distance 1 (bits+1 probes — cheap, queries
    * are the small side and broadcast), candidates are corpus rows in any
    * probed bucket, and the exact cosine rerank picks top-k. The join stays
    * a bucket-keyed EQUI-join — the corpus is never broadcast, cross-joined,
    * or probed more than once per bucket — so the shape survives a corpus
    * too large to broadcast. Multi-probe lifts recall ~2× over single-bucket
    * at the cost of (bits+1)/2^bits of the corpus per query. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 8, dim: Int = 64): DataFrame = {
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), bits, dim).as("qb"))
    val probes = col("qb") +: (0 until bits).map(i => col("qb").bitwiseXOR(lit(1 << i)))
    val q = broadcast(q0.select(col("query_id"), col("qv"),
      explode(array(probes: _*)).as("bucket")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), bits, dim).as("bucket"))
    topKPerQuery(c.join(q, Seq("bucket")).filter(col("query_id") =!= col("neighbor_id")),
      cosine(col("qv"), col("cv")), k)
  }

  /** The cell of `vec` under a trained quantizer: its most cosine-similar
    * centroid, ties to the lowest index. NULL for a NULL vector or one with
    * a NULL element. */
  private def cellOf(vec: Column, cents: Array[Array[Double]]): Column =
    element_at(nearestCentroids(vec, cents, 1), 1)

  /** Train an IVF coarse quantizer of `nlist` cells: hash-spread seeds
    * refined by `iters` distributed Lloyd iterations — [[lloyd]] with one
    * subspace, the whole vector. Returns the nlist × dim centroid matrix. */
  def ivfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 5): Array[Array[Double]] =
    lloyd(corpus, idCol, vecCol, Seq(col(vecCol)), nlist, iters)(0)

  /** IVF ANN top-k: corpus vectors are bucketed by nearest centroid (one
    * cell each); each query probes its `nprobe` nearest cells and reranks
    * exactly within them. The join is keyed on the cell id, so at 100 TB
    * each query touches ~nprobe/nlist of the corpus instead of all of it —
    * the inverted-file counterpart to [[lshTopK]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfTopKWithCentroids(ivfCentroids(corpus, idCol, vecCol, nlist),
      queries, corpus, idCol, vecCol, k, nprobe)

  /** [[ivfTopK]] with a PRE-TRAINED coarse quantizer. Callers that also
    * need the centroid matrix elsewhere (e.g. to embed it in an external
    * oracle query) should train once and pass it here, so the query and the
    * oracle are guaranteed to share bit-identical centroids. */
  def ivfTopKWithCentroids(cents: Array[Array[Double]], queries: DataFrame,
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nprobe: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      cellOf(col(vecCol), cents).as("cell"))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(nearestCentroids(col(vecCol), cents, nprobe)).as("cell")))
    topKPerQuery(c.join(q, Seq("cell")).filter(col("query_id") =!= col("neighbor_id")),
      cosine(col("qv"), col("cv")), k)
  }

  /** Cluster-balanced prototype selection: the `k` most-central vectors of
    * every coarse-quantizer cell — the coreset/diversity-sampling step a
    * curation pipeline runs after clustering (pick representative examples
    * per topic instead of `k·nlist` global nearest-to-anything, which all
    * land in the densest cluster). Selection = (cosine to own centroid
    * DESC, id ASC), so the output is a total order per cell.
    *
    * Scale shape: assignment is a per-row nearest-centroid scan against a
    * broadcast `nlist × dim` matrix (map-only); the only shuffle is the
    * per-cell top-k. Cell populations are ~n/nlist by construction (the
    * quantizer trained on this corpus), and nlist scales ∝ √n upstream
    * ([[semanticDedup]]'s knob), so the per-cell window sort stays a
    * bounded in-task sort at any corpus size — no single-task funnel.
    *
    * Takes a PRE-TRAINED centroid matrix for the same reason as
    * [[ivfTopKWithCentroids]]: the caller's oracle embeds the same
    * literals, so both engines score against bit-identical centroids. */
  def clusterBalancedSample(cents: Array[Array[Double]], corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val sp = corpus.sparkSession
    import sp.implicits._
    val centDf = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "cv")
    val assigned = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"),
      cellOf(col(vecCol), cents).as("cell"))
    val scored = assigned.join(broadcast(centDf), Seq("cell"))
      .withColumn("score", cosine(col("v"), col("cv")))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cell"), col("vec_id"), col("score"), col("rank"))
  }

  /** Symmetric int8 scalar quantization of an embedding column — the
    * standard 4× compression step before storing or ANN-indexing a vector
    * corpus: q_i = clamp(⌊v_i·scale + 0.5⌋, −127, 127). A pure per-row
    * projection (no shuffle at any corpus size). `floor(x + 0.5)`, not
    * `round`: both engines floor identically, while SQL round() half-way
    * conventions differ (HALF_UP vs away-from-zero) — this keeps the
    * quantized corpus bit-identical cross-engine. */
  def quantizeInt8(vec: Column, scale: Double = 127.0): Column =
    transform(vec.cast("array<double>"),
      v => greatest(lit(-127), least(lit(127), floor(v * scale + 0.5).cast("int"))))

  /** L2 norm via a SEQUENTIAL left-to-right fold (matches SQL list_reduce
    * order, so the double accumulation is cross-engine exact). */
  def l2Norm(vec: Column): Column =
    sqrt(aggregate(vec.cast("array<double>"), lit(0.0), (acc, x) => acc + x * x))

  /** Train PRODUCT-QUANTIZATION codebooks (Jégou et al. 2011): the vector
    * splits into `m` contiguous subspaces of `dim/m` dims, each with its
    * own `k`-centroid quantizer, all trained together by [[lloyd]] (one
    * seed job and one corpus pass per iteration for every subspace). A
    * vector then stores as `m` small codes (m bytes at k ≤ 256) instead of
    * `4·dim` bytes — the 32× compression that keeps a 100 TB embedding
    * corpus's ANN structure memory-resident, where [[quantizeInt8]] only
    * buys 4×. Returns `m` matrices of `k × dim/m`. */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, dim: Int, iters: Int = 5): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0,
      s"PQ needs dim divisible by m, got dim=$dim m=$m")
    val sub = dim / m
    lloyd(corpus, idCol, vecCol, (0 until m).map(j => slice(col(vecCol), j * sub + 1, sub)),
      k, iters)
  }

  /** The Lloyd k-means trainer behind [[ivfCentroids]] and [[pqCodebooks]]:
    * one `k`-cell quantizer per subspace column in `subs` (the whole
    * vector, or PQ's slices), trained together.
    *
    *  - Subspace j trains on its own CLEAN rows: the slice is non-null and
    *    holds no NULL element (the native expressions null such a slice
    *    out, so it cannot vote). A vector with a NULL element in one slice
    *    still trains every other subspace.
    *  - Seeds: per subspace, the k clean rows with the smallest
    *    (xxhash64(id), id) — a deterministic pseudo-uniform sample, not the
    *    k lowest ids, whose vectors can be a biased block when ids
    *    correlate with content. One TakeOrdered per subspace, never a full
    *    sort, all in one job.
    *  - Each iteration is one corpus pass: every row explodes to its
    *    (j, cell, slice) triples and [[VecSum]] sums them per (j, cell),
    *    map-side first, so the shuffle carries at most m·k·(dim+1) doubles
    *    per partition and only the means reach the driver. A cell that
    *    drew no rows keeps its previous centroid. */
  private def lloyd(corpus: DataFrame, idCol: String, vecCol: String, subs: Seq[Column],
      k: Int, iters: Int): Array[Array[Array[Double]]] = {
    val seeds = subs.indices.map { j =>
      corpus.filter(subs(j).isNotNull && !exists(subs(j), _.isNull))
        .orderBy(xxhash64(col(idCol)), col(idCol)).limit(k).select(lit(j), subs(j))
    }.reduce(_ union _).collect()
    var books = subs.indices.map { j =>
      seeds.filter(_.getInt(0) == j).map(_.getSeq[Any](1).map {
        case f: Float => f.toDouble
        case d: Double => d
        case n: Number => n.doubleValue()
      }.toArray)
    }.toArray
    require(books.forall(_.nonEmpty), s"no non-null $vecCol rows to train a quantizer on")
    val dims = books.map(_.head.length)
    val vecSum = new VecSum(dims.max)
    val sp = corpus.sparkSession
    import sp.implicits._
    for (_ <- 1 to math.max(iters, 1)) {
      val triples = subs.indices.map(j => struct(lit(j).as("j"),
        cellOf(subs(j), books(j)).as("cell"), subs(j).cast("array<double>").as("v")))
      val means = corpus.select(explode(array(triples: _*)).as("s"))
        .select(col("s.j"), col("s.cell"), col("s.v"))
        .filter(col("cell").isNotNull)
        .as[(Int, Int, Seq[Double])]
        .groupByKey(t => (t._1, t._2))
        .agg(vecSum.toColumn).collect()
      books = books.map(_.map(_.clone()))
      // a mean updates the first dims(j) components: subspace j's width is
      // its first seed's length, whatever the shared buffer's size
      means.foreach { case ((j, cell), mean) =>
        if (cell >= 0 && cell < books(j).length)
          Array.copy(mean, 0, books(j)(cell), 0, math.min(dims(j), books(j)(cell).length))
      }
    }
    books
  }

  /** The Lloyd update's reduction: per (subspace, cell), the vector sum and
    * count of the assigned rows, finished to their mean. Its encoders are
    * SESSION-FREE (ExpressionEncoder from TypeTags), not `sp.implicits`:
    * resolving implicits would make the Aggregator capture the
    * SparkSession, and it ships to tasks — serialization then fails once
    * anything has initialized the session's lazy (non-serializable)
    * ObservationManager, i.e. the first observe() anywhere breaks every
    * later training run. */
  private class VecSum(dim: Int)
      extends Aggregator[(Int, Int, Seq[Double]), (Array[Double], Long), Array[Double]] {
    def zero: (Array[Double], Long) = (new Array[Double](dim), 0L)
    def reduce(b: (Array[Double], Long), a: (Int, Int, Seq[Double])): (Array[Double], Long) = {
      val v = a._3
      val n = math.min(dim, v.length)
      var i = 0
      while (i < n) { b._1(i) += v(i); i += 1 }
      (b._1, b._2 + 1)
    }
    def merge(x: (Array[Double], Long), y: (Array[Double], Long)): (Array[Double], Long) = {
      var i = 0
      while (i < dim) { x._1(i) += y._1(i); i += 1 }
      (x._1, x._2 + y._2)
    }
    def finish(b: (Array[Double], Long)): Array[Double] = b._1.map(_ / b._2)
    def bufferEncoder: Encoder[(Array[Double], Long)] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  }

  /** The PQ code of `vec`'s subspace `j`: the nearest centroid of its slice
    * in codebook `j` (cosine, ties to the lowest cell — the
    * [[ivfCentroids]] assignment rule). */
  private def pqCode(vec: Column, books: Array[Array[Array[Double]]], j: Int): Column = {
    val sub = books(0)(0).length
    cellOf(slice(vec, j * sub + 1, sub), books(j))
  }

  /** PQ codes of a vector column: one [[pqCode]] per subspace. Map-only
    * against broadcast codebooks. */
  def pqCodes(vec: Column, books: Array[Array[Array[Double]]]): Column =
    array(books.indices.map(pqCode(vec, books, _)): _*)

  /** The PQ reconstruction behind every PQ search: the concatenation of
    * each subspace's chosen centroid, `code(j)` being subspace j's code —
    * a pure projection over broadcast codebook literals. */
  private def reconstruct(books: Array[Array[Array[Double]]], code: Int => Column): Column =
    concat(books.indices.map { j =>
      element_at(typedLit(books(j).map(_.toSeq).toSeq), code(j) + 1)
    }: _*)

  /** PQ reconstruction of a full vector column: the decompressed stand-in
    * a PQ search scores against. */
  def pqReconstruct(vec: Column, books: Array[Array[Array[Double]]]): Column =
    reconstruct(books, pqCode(vec, books, _))

  /** PQ ANN top-k with PRE-TRAINED codebooks: every corpus vector scores
    * through its RECONSTRUCTION (asymmetric distance — the query side
    * stays exact, only the corpus side is quantized), so the scan reads
    * the m-byte codes' worth of information, never the full vectors. Same
    * single-corpus-pass shape as [[bruteForceTopK]]; at production scale
    * the scan input would be the materialized code table (m bytes/vector)
    * with reconstruction as a map over broadcast codebooks, and
    * [[ivfTopKWithCentroids]]'s cell probing composes in front to cut the
    * scan itself (IVF-PQ). Codebooks are passed pre-trained so an external
    * oracle can embed bit-identical literals ([[ivfTopKWithCentroids]]'s
    * contract). */
  def pqTopKWithCodebooks(books: Array[Array[Array[Double]]],
      queries: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"),
      pqReconstruct(col(vecCol), books).as("rv"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    topKPerQuery(c.crossJoin(q).filter(col("query_id") =!= col("neighbor_id")),
      cosine(col("qv"), col("rv")), k)
  }

  /** PQ ANN over a MATERIALIZED code table — the production shape
    * [[pqTopKWithCodebooks]]'s scaladoc prescribes: the corpus side
    * carries only `(id, m codes)` (m bytes/vector at k ≤ 256 — the 32×
    * scan-size win), and reconstruction is m broadcast-literal lookups
    * per row (O(m); the proxy variant re-derives each code with an m·k·sub
    * NearestCentroids scan of the full float vector). Scoring is the same
    * asymmetric cosine over the same reconstruction values, so the two
    * variants agree bit-for-bit and share one oracle. `codeTable` must
    * hold `idCol` and a `codes` array column (the [[pqCodes]] shape). */
  def pqTopKFromCodes(books: Array[Array[Array[Double]]],
      queries: DataFrame, codeTable: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val c = codeTable.select(col(idCol).as("neighbor_id"),
      reconstruct(books, j => element_at(col("codes"), j + 1)).as("rv"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    topKPerQuery(c.crossJoin(q).filter(col("query_id") =!= col("neighbor_id")),
      cosine(col("qv"), col("rv")), k)
  }

  /** The IVF-PQ CODE TABLE: each corpus vector's coarse cell (nearest
    * centroid of the cell quantizer — [[ivfTopKWithCentroids]]'s assignment
    * rule) plus its m PQ codes ([[pqCodes]]). This is the structure a
    * production ANN service materializes ONCE per corpus snapshot: `(id,
    * cell, m bytes)` per vector — small enough at k ≤ 256 to stay
    * memory-resident at 100 TB corpus scale. Map-only against broadcast
    * centroid/codebook literals (no shuffle at any corpus size). */
  def ivfPqCodeTable(cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]], corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    corpus.select(col(idCol), cellOf(col(vecCol), cents).as("cell"),
      pqCodes(col(vecCol), books).as("codes"))

  /** IVF-PQ ANN search — the composed serving architecture of Jégou et al.
    * 2011 (what FAISS calls `IVFxPQy`, the standard billion-scale shape):
    * [[ivfTopKWithCentroids]]'s coarse cell probing in FRONT of
    * [[pqTopKFromCodes]]'s asymmetric scoring. A query probes its `nprobe`
    * nearest coarse cells, keeps only those cells' rows of the
    * [[ivfPqCodeTable]], reconstructs each SURVIVING candidate from its m
    * codes via broadcast codebook lookups (O(m) per row — the
    * reconstruction is projected ABOVE the cell join, so the ~(1 −
    * nprobe/nlist) of the corpus whose cell never matched pays nothing),
    * and ranks by exact-query × reconstructed-corpus cosine. Against this
    * DataFrame-shaped code table the probe prunes per-row WORK, not I/O —
    * every row's (id, cell, codes) is still read; store the table keyed by
    * cell (the kv source's layout, sv18's shape) and the same probe prunes
    * the SCAN to nprobe/nlist of the corpus.
    *
    * Scale shape: the probe turns the scan into nprobe/nlist of the corpus
    * and PQ turns bytes-per-scanned-row into m bytes (32× under float32) —
    * multiplying to the structure that keeps trillion-row ANN interactive.
    * The only joins are a broadcast of the (small) query side against the
    * cell-keyed code table and a per-query top-k window; the corpus never
    * shuffles and full float vectors are never read. Queries/corpus share
    * PRE-TRAINED artifacts so an external oracle can embed bit-identical
    * centroid + codebook literals ([[ivfTopKWithCentroids]]'s contract).
    *
    * REGIME: the above-join reconstruction runs once per (row × matching
    * query), so it wins while queries × nprobe ≲ nlist — the online-serving
    * shape this implements. A BULK query batch where queries × nprobe ≫
    * nlist matches most rows many times over; reconstruct once per row
    * (below the join, [[pqTopKWithCodebooks]]'s shape) or chunk the batch there. */
  def ivfPqTopK(cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      queries: DataFrame, codeTable: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int): DataFrame = {
    // raw codes go THROUGH the cell join; reconstruction happens above it,
    // so only rows whose cell a query probed pay the m codebook lookups
    // (below the join, every corpus row would pay them — ~94% wasted at
    // nlist=64/nprobe=4). Catalyst does not push expression evaluation
    // back down through a join, so the placement holds (plan-audited).
    val c = codeTable.select(col(idCol).as("neighbor_id"), col("cell"), col("codes"))
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"),
        explode(nearestCentroids(col(vecCol), cents, nprobe)).as("cell")))
    topKPerQuery(c.join(q, Seq("cell")).filter(col("query_id") =!= col("neighbor_id")),
      cosine(col("qv"), reconstruct(books, j => element_at(col("codes"), j + 1))), k)
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold.
    *
    * The default (scale) path is BANDED sign-LSH blocking: each vector gets
    * `bands` bucket ids (one fused [[graft.functions.SignLshBands]] pass);
    * candidates are pairs sharing ≥1 (band, bucket) key; the exact cosine
    * rerank keeps only true matches. All-to-all work is bounded by the
    * (band, bucket)-keyed shuffle — never a cross join, never a broadcast of
    * the scaling corpus (the round-1 scale-killer). Per-pair recall is
    * 1-(1-p^bandBits)^bands with p = 1 - θ/π; the defaults (24 bands × 3
    * bits) give ≥ 0.999 at cosine 0.45 — verified 100% against the exact
    * result on every test SF (NearDupRecallSpec). Low thresholds force
    * narrow bands: band-match probability must stay high enough per band,
    * so the candidate volume is Θ(bands · Σ bucket²); raise `bandBits` as
    * the threshold rises to cut candidates.
    *
    * Boilerplate defense (shared with [[Dedup.minhashLshPairs]], see the
    * [[Dedup]] Scaladoc): byte-identical vectors collapse to one
    * representative before bucketing (identical vector ⇒ identical bands ⇒
    * identical cosine, so the final expansion is exact), and hot
    * (band, bucket) cells are capped at `maxBucket` representatives with a
    * logged drop count.
    *
    * `exact=true` forces the all-pairs baseline (broadcast nested loop) —
    * the recall oracle for tests and small inputs, NOT a 100 TB shape. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, exact: Boolean = false, bandBits: Int = 3, bands: Int = 24,
      dim: Int = 64, seed: Long = 42L,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    if (exact) {
      // all-pairs baseline: broadcast nested-loop keeps the scan parallel
      // (a single synthetic join key would collapse to one partition)
      val b = broadcast(base.select(col("id").as("id_b"), col("v").as("v_b")))
      base.select(col("id").as("id_a"), col("v").as("v_a")).crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .withColumn("score", cosine(col("v_a"), col("v_b")))
        .filter(col("score") >= threshold)
        .select(col("id_a"), col("id_b"), col("score"))
    } else {
      val (reps, membersOpt) = Dedup.exactGroupReps(base, col("v"),
        math.min(Dedup.DefaultCollapseThreshold, maxBucket))
      val banded = reps.select(col("id"),
        posexplode(graft.functions.VectorExprs.signLshBands(col("v"), bandBits, bands, dim, seed)))
        .withColumnsRenamed(Map("pos" -> "band", "col" -> "bucket"))
      val capped = Dedup.capBuckets(banded, Seq("band", "bucket"), maxBucket,
        "embeddingNearDupPairs")
      val cand = capped.as("x").join(capped.as("y"), Seq("band", "bucket"))
        .filter(col("x.id") < col("y.id"))
        .select(col("x.id").as("ra"), col("y.id").as("rb"))
        .distinct()
      val repPairs = cand
        .join(reps.select(col("id").as("ra"), col("v").as("v_a")), Seq("ra"))
        .join(reps.select(col("id").as("rb"), col("v").as("v_b")), Seq("rb"))
        .withColumn("score", cosine(col("v_a"), col("v_b")))
        .filter(col("score") >= threshold)
        .select(col("ra"), col("rb"), col("score"))
      membersOpt match {
        case None => repPairs.withColumnsRenamed(Map("ra" -> "id_a", "rb" -> "id_b"))
        case Some(members) =>
          // identical vectors: self-cosine (exactly the arithmetic the
          // rerank would produce; NULL for zero-norm vectors — filtered)
          val selfPairs = reps.join(Dedup.dupGroups(members), reps("id") === col("rep"))
            .select(col("id").as("ra"), col("id").as("rb"),
              cosine(col("v"), col("v")).as("score"))
            .filter(col("score") >= threshold)
          Dedup.expandGroupPairs(repPairs.union(selfPairs), members)
      }
    }
  }

  /** SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): assign every vector
    * to its nearest coarse-quantizer centroid, then drop any vector whose
    * cosine to a LOWER-id member of the SAME cluster exceeds `threshold` —
    * keep-lowest-id, the deterministic tie-break every dedup op here uses.
    * Returns the KEPT (id, cell) rows.
    *
    * The clustering is the scale story: pairwise cosine runs only INSIDE a
    * cluster, so the quadratic term is n·(n/nlist) instead of n² — at 100 TB
    * nlist scales with the corpus (∝√n keeps per-cluster work flat) while
    * the assignment stays one map-side pass over a broadcast centroid
    * matrix. Callers share ONE trained matrix between this and the IVF ANN
    * index ([[ivfTopKWithCentroids]]) — same quantizer, two uses.
    *
    * Unlike the banded-LSH near-dup ([[embeddingNearDupPairs]], a recall
    * machine over ONE threshold), this is the corpus-shrinking variant:
    * cluster-local comparison intentionally ignores cross-cluster near-dups
    * (SemDeDup's published trade: centroid-adjacent duplicates dominate).
    *
    * Zero-norm vectors: [[graft.functions.CosineSim]] yields NULL for them,
    * the `> threshold` filter drops the NULL, and the vector is KEPT — a
    * zero vector duplicates nothing. An engine with NaN-total-order
    * comparisons (DuckDB) must guard with isnan to match (px37's oracle
    * does); cell assignment already agrees by tie-break (all-NaN sims pick
    * the first centroid on both engines).
    *
    * `probeEps > 0` turns on BOUNDARY MULTI-PROBE
    * ([[graft.functions.BoundaryProbeCells]]): a vector whose top-2
    * centroid-similarity gap is under `probeEps` also joins its runner-up
    * cell for the comparison pass, so near-dup pairs that straddle a
    * Voronoi boundary (each twin assigned to a different cell — invisible
    * to pure cluster-local comparison) are recovered. The reported `cell`
    * stays the primary assignment, interior vectors stay single-membership
    * (pair growth is bounded by the boundary population), and `probeEps=0`
    * is bit-identical to single-probe. */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
      cents: Array[Array[Double]], threshold: Double,
      probeEps: Double = 0.0): DataFrame = {
    val assigned = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"),
      cellOf(col(vecCol), cents).as("cell"))
    // comparison membership: primary cell only, or primary + boundary probe
    val membership =
      if (probeEps <= 0.0) assigned
      else corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"),
        explode(graft.functions.VectorExprs.boundaryProbeCells(
          col(vecCol), cents, probeEps)).as("cell"))
    val dropped = membership.select(col("cell"), col("id").as("a_id"), col("v").as("av"))
      .join(membership.select(col("cell"), col("id").as("b_id"), col("v").as("bv")),
        Seq("cell"))
      .filter(col("a_id") < col("b_id"))
      .filter(cosine(col("av"), col("bv")) > threshold)
      .select(col("b_id").as("id"))
      .distinct()
    assigned.join(dropped, Seq("id"), "left_anti")
      .select(col("id"), col("cell"))
  }
}
