package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

import graft.functions._

/** SQL surface for the native expression library: registered through
  * `SparkSessionExtensions.injectFunction`, so a pure-SQL user (notebooks,
  * `spark.sql.extensions=graft.GraftExtensions` on spark-submit, JDBC
  * gateways) gets the same codegen'd sketch/vector kernels the Column API
  * exposes — no UDF wrappers, no serialization penalty: the registered
  * builder returns the Catalyst `Expression` itself, so SQL calls sit
  * inside WholeStageCodegen exactly like their Column-API twins.
  *
  * Sizing arguments (hash counts, band counts, k, LSH geometry) must be
  * literals — they shape the generated code, they are not data. The
  * builders reject non-literal sizing with a clear message instead of
  * letting Catalyst fail downstream.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` in
  * code, `--conf spark.sql.extensions=graft.GraftExtensions` on a cluster,
  * or [[GraftExtensions.register]] to add the functions to an already-built
  * session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptions.foreach(ext.injectFunction)
    // distributed index consult (ON by default; opt out with
    // spark.graft.index.semiJoin.enabled=false): PreCBO = runs once, after
    // filters settle onto relations, before join reordering — see
    // [[graft.plans.IndexSemiJoin]]
    ext.injectPreCBORule(_ => graft.plans.IndexSemiJoin)
    // point gets at a plan's root run on the driver, with no job — see
    // [[graft.plans.DriverLookup]] for the gate and why this hook
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.plans.DriverLookup
    })
  }
}

object GraftExtensions {

  /** graft's session settings, applied to a builder before `getOrCreate`:
    * the extensions above, plus a whole-stage-codegen cache sized for a
    * session that runs many distinct queries. The default 100-entry cache
    * thrashes once a session cycles through more plans than that (a
    * query has ~10-60 codegen stages), so every repeat re-pays Janino
    * compilation; 4000 entries of a few KB each cost tens of MB of driver
    * memory. `useIdInClassName=false` keeps identical plan subtrees'
    * generated sources byte-identical, so they share one entry. The cache
    * size is a STATIC conf: it only takes effect on the builder of a
    * session that creates its SparkContext, never through
    * `spark.conf.set` on a live one. */
  def configure(builder: SparkSession.Builder): SparkSession.Builder =
    builder
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .withExtensions(new GraftExtensions)

  private def litInt(fn: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case Literal(v: Short, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal (it sizes the generated code), got $other")
  }

  private def litLong(fn: String, arg: String, e: Expression): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal (it sizes the generated code), got $other")
  }

  private def litBool(fn: String, arg: String, e: Expression): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be a boolean literal, got $other")
  }

  private def arity(fn: String, usage: String, got: Int, want: Int*): Unit =
    if (!want.contains(got)) throw new IllegalArgumentException(
      s"$fn expects ${want.mkString(" or ")} arguments: $usage (got $got)")

  /** (identifier, info, builder) triples, the exact shape injectFunction
    * takes; exposed so [[register]] can also bolt them onto a live session. */
  val descriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    desc("graft_md5_number_lower", classOf[Md5NumberLower],
      "(str) - lower 64 bits of md5(str) as a signed long") { args =>
      arity("graft_md5_number_lower", "(str)", args.size, 1)
      Md5NumberLower(args.head)
    },
    desc("graft_minhash_sig", classOf[MinHashSig],
      "(tokens, numHashes) - minhash signature of a token array") { args =>
      arity("graft_minhash_sig", "(tokens, numHashes)", args.size, 2)
      MinHashSig(args(0), litInt("graft_minhash_sig", "numHashes", args(1)))
    },
    desc("graft_minhash_bands", classOf[MinHashBands],
      "(tokens, numHashes, bands) - banded LSH keys of the minhash signature") { args =>
      arity("graft_minhash_bands", "(tokens, numHashes, bands)", args.size, 3)
      MinHashBands(args(0), litInt("graft_minhash_bands", "numHashes", args(1)),
        litInt("graft_minhash_bands", "bands", args(2)))
    },
    desc("graft_simhash64", classOf[SimHash64],
      "(tokens[, md5Base]) - 64-bit simhash fingerprint of a token array") { args =>
      arity("graft_simhash64", "(tokens[, md5Base])", args.size, 1, 2)
      SimHash64(args(0),
        if (args.size > 1) litBool("graft_simhash64", "md5Base", args(1)) else false)
    },
    desc("graft_sorted_shingles", classOf[SortedShingles],
      "(tokens) - sorted distinct adjacent-bigram shingle hashes") { args =>
      arity("graft_sorted_shingles", "(tokens)", args.size, 1)
      SortedShingles(args.head)
    },
    desc("graft_sorted_jaccard", classOf[SortedJaccard],
      "(a, b) - Jaccard similarity of two pre-sorted hash arrays") { args =>
      arity("graft_sorted_jaccard", "(a, b)", args.size, 2)
      SortedJaccard(args(0), args(1))
    },
    desc("graft_min_kgram_md5", classOf[MinKgramMd5],
      "(text, k) - lexicographic min of md5 over all k-char grams") { args =>
      arity("graft_min_kgram_md5", "(text, k)", args.size, 2)
      MinKgramMd5(args(0), litInt("graft_min_kgram_md5", "k", args(1)))
    },
    desc("graft_morton2", classOf[Morton2],
      "(x, y) - z-order (Morton) interleave of two ints as an order-preserving long key") { args =>
      arity("graft_morton2", "(x, y)", args.size, 2)
      Morton2(args(0), args(1))
    },
    desc("graft_morton_x", classOf[MortonX],
      "(z) - first dimension of a graft_morton2 key") { args =>
      arity("graft_morton_x", "(z)", args.size, 1)
      MortonX(args.head)
    },
    desc("graft_morton_y", classOf[MortonY],
      "(z) - second dimension of a graft_morton2 key") { args =>
      arity("graft_morton_y", "(z)", args.size, 1)
      MortonY(args.head)
    },
    desc("graft_cosine_sim", classOf[CosineSim],
      "(a, b) - cosine similarity of two float arrays") { args =>
      arity("graft_cosine_sim", "(a, b)", args.size, 2)
      CosineSim(args(0), args(1))
    },
    desc("graft_sign_lsh_bucket", classOf[SignLshBucket],
      "(vec, bits, dim, seed) - sign-LSH bucket id of a float vector") { args =>
      arity("graft_sign_lsh_bucket", "(vec, bits, dim, seed)", args.size, 4)
      SignLshBucket(args(0), litInt("graft_sign_lsh_bucket", "bits", args(1)),
        litInt("graft_sign_lsh_bucket", "dim", args(2)),
        litLong("graft_sign_lsh_bucket", "seed", args(3)))
    },
    desc("graft_sign_lsh_bands", classOf[SignLshBands],
      "(vec, bandBits, bands, dim, seed) - banded sign-LSH keys of a float vector") { args =>
      arity("graft_sign_lsh_bands", "(vec, bandBits, bands, dim, seed)", args.size, 5)
      SignLshBands(args(0), litInt("graft_sign_lsh_bands", "bandBits", args(1)),
        litInt("graft_sign_lsh_bands", "bands", args(2)),
        litInt("graft_sign_lsh_bands", "dim", args(3)),
        litLong("graft_sign_lsh_bands", "seed", args(4)))
    },
  )

  private def desc(name: String, cls: Class[_], usage: String)(
      builder: Seq[Expression] => Expression):
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getCanonicalName, null,
      name, name + usage, ""), builder)

  /** Register the function set on an existing session (for sessions built
    * without `withExtensions` — tests, shared REPLs). Idempotent. */
  def register(spark: SparkSession): Unit =
    descriptions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
