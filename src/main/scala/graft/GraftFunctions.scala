package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Least, Greatest, Literal, Divide, Multiply, Sqrt}
import graft.functions._

/** SQL surface for the engine's native expressions: registers
  * `vec_dot`, `cosine_sim`, `hash_embed`, `md5_embed`, `minhash_sig`,
  * `minhash_sig_md5`, `simhash64`, `word_shingles`, `srp_bands`, `scrub_pii`,
  * `word_shingle_rep_ratio` so `spark.sql` queries can use the same codegen
  * kernels as the DataFrame API.
  *
  * Two wirings:
  *  - runtime: `GraftFunctions.register(spark)` on any live session;
  *  - config: `spark.sql.extensions=graft.GraftExtensions` at session build
  *    (the SparkSessionExtensions path for clusters).
  */
object GraftFunctions {

  private def intArg(e: Expression, name: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  private def longArg(e: Expression, name: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$name must be an integer literal, got $other")
  }

  /** (name, builder) pairs for every exposed function. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> { args =>
      require(args.length == 2, "vec_dot(a, b)")
      VecDot(args(0), args(1))
    },
    "cosine_sim" -> { args =>
      require(args.length == 2, "cosine_sim(a, b)")
      // identical op order + clamp as VectorOps.cosine (DuckDB bit-parity)
      val d = VecDot(args(0), args(1))
      val na = Sqrt(VecDot(args(0), args(0)))
      val nb = Sqrt(VecDot(args(1), args(1)))
      Least(Seq(
        Greatest(Seq(Divide(d, Multiply(na, nb)), Literal(-1.0))),
        Literal(1.0)))
    },
    "hash_embed" -> { args =>
      require(args.length == 2 || args.length == 3, "hash_embed(text, dim[, tokenMix])")
      val tokenMix = args.length < 3 || (args(2) match {
        case Literal(b: Boolean, _) => b
        case other => throw new IllegalArgumentException(s"tokenMix must be a boolean literal, got $other")
      })
      HashEmbedExpr(args(0), intArg(args(1), "dim"), tokenMix)
    },
    "minhash_sig" -> { args =>
      require(args.length == 2, "minhash_sig(shingles, numHashes)")
      MinHashSig(args(0), intArg(args(1), "numHashes"))
    },
    "minhash_sig_md5" -> { args =>
      require(args.length == 2, "minhash_sig_md5(shingles, numHashes)")
      MinHashSigMd5(args(0), intArg(args(1), "numHashes"))
    },
    "md5_embed" -> { args =>
      require(args.length == 1, "md5_embed(text)")
      Md5EmbedExpr(args(0))
    },
    "simhash64" -> { args =>
      require(args.length == 1, "simhash64(text)")
      SimHash64Expr(args(0))
    },
    "word_shingles" -> { args =>
      require(args.length == 2, "word_shingles(text, n)")
      WordShinglesExpr(args(0), intArg(args(1), "n"))
    },
    "srp_bands" -> { args =>
      require(args.length == 3 || args.length == 4, "srp_bands(vec, nBands, bitsPerBand[, seed])")
      val seed = if (args.length > 3) longArg(args(3), "seed") else 42L
      SrpBands(args(0), intArg(args(1), "nBands"), intArg(args(2), "bitsPerBand"), seed)
    },
    "srp_bands_md5" -> { args =>
      require(args.length == 3, "srp_bands_md5(vec, nBands, bitsPerBand)")
      SrpBandsMd5(args(0), intArg(args(1), "nBands"), intArg(args(2), "bitsPerBand"))
    },
    "scrub_pii" -> { args =>
      require(args.length == 1, "scrub_pii(text)")
      import org.apache.spark.sql.catalyst.expressions.RegExpReplace
      graft.operators.TextAnalysis.PiiPatterns.foldLeft(args(0)) {
        case (acc, (p, r)) => RegExpReplace(acc, Literal(p), Literal(r))
      }
    },
    "word_shingle_rep_ratio" -> { args =>
      require(args.length == 2, "word_shingle_rep_ratio(text, n)")
      WordShinglesExpr.repRatio(args(0), intArg(args(1), "n"))
    },
    "jaro_winkler" -> { args =>
      require(args.length == 2, "jaro_winkler(a, b)")
      JaroWinklerExpr(args(0), args(1))
    },
    "graft_terms" -> { args =>
      require(args.length == 1, "graft_terms(text)")
      TermsExpr(args(0))
    },
    "graft_ordered_sum" -> { args =>
      require(args.length == 2, "graft_ordered_sum(key, value)")
      OrderedSumAggregate(args(0), args(1)).toAggregateExpression()
    })

  /** Register all functions on a live session's catalog. */
  def register(spark: SparkSession): Unit = functions.foreach { case (name, builder) =>
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(name),
      new ExpressionInfo("graft", name),
      exprs => builder(exprs))
  }
}

/** `spark.sql.extensions` entry point: scalar functions, the
  * `graft_knn_join` table function, the [[graft.plans.GraftStrategy]]
  * planner strategy, and the optimizer rules: the left-id pushdown and
  * [[graft.plans.CountLocalRelation]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    graft.plans.GraftPlans.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughSemanticVecJoin)
    ext.injectOptimizerRule(_ => graft.plans.CountLocalRelation)
  }
}
