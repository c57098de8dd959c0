package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal}
import graft.expr.{CosineSimilarity, DeflateLength, GkCount, GkEstimate, GkRank,
  GkMergeAgg, GkSketchAgg, HyperplaneBuckets, IntDotProduct, KmvSketchAgg,
  MinHashSignature, MisraGriesTopK, NgramHashes, SimHash64, TopKPairs}

/** SQL-surface registration for the engine's custom expressions.
  *
  * Cluster deployment: `--conf spark.sql.extensions=graft.GraftExtensions`
  * (applied at session construction). For an already-running session —
  * tests, notebooks — call [[GraftExtensions.register]] directly. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: native as-of join (planner strategy +
    // left-predicate pushdown rule)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsofPushdown)
    // stats-driven join order + strategy from the stored ANALYZE
    // catalog (sk12) — in the pre-CBO slot: after operator
    // optimization (legs are in final shape), before Spark's own
    // join-reorder batch. Inert unless every leg is analyzed.
    ext.injectPreCBORule(_ => graft.plans.CboReorder)
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
  }
}

object GraftExtensions {

  private def notIntLiteral(fn: String, arg: String, e: Expression): Nothing =
    throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $e")

  /** Argument `arg` of SQL function `fn`, which must be an Int literal. */
  private def intArg(fn: String, arg: String)(e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => notIntLiteral(fn, arg, other)
  }

  private def buildMinhash(exprs: Seq[Expression]): Expression =
    MinHashSignature(exprs.head,
      exprs.lift(1).fold(32)(intArg("minhash_signature", "k")))

  private def buildCosine(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2,
      s"cosine_similarity takes exactly 2 arguments, got ${exprs.size}")
    CosineSimilarity(exprs.head, exprs(1))
  }

  private def buildNgram(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2, s"ngram_hashes takes (text, n), got ${exprs.size}")
    NgramHashes(exprs.head, intArg("ngram_hashes", "n")(exprs(1)))
  }

  private def buildIntDot(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2,
      s"int_dot takes exactly 2 arguments, got ${exprs.size}")
    IntDotProduct(exprs.head, exprs(1))
  }

  private def buildHyperplaneBuckets(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 5,
      s"hyperplane_buckets takes (vec, tables, planes, dim, seed), " +
        s"got ${exprs.size}")
    def intLit(i: Int): Int =
      intArg("hyperplane_buckets", s"argument $i")(exprs(i))
    val seed = exprs(4) match {
      case Literal(v: Long, _) => v
      case Literal(v: Int, _) => v.toLong
      case other => notIntLiteral("hyperplane_buckets", "seed", other)
    }
    HyperplaneBuckets(exprs.head, intLit(1), intLit(2), intLit(3), seed)
  }

  private def buildSimhash(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 1,
      s"simhash64 takes exactly 1 argument, got ${exprs.size}")
    SimHash64(exprs.head)
  }

  private def buildDeflateLength(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 1,
      s"deflate_length takes exactly 1 argument, got ${exprs.size}")
    DeflateLength(exprs.head)
  }

  // the analyzer wraps a bare AggregateFunction from a registry
  // builder in an AggregateExpression, same as builtin aggregates
  private def buildMgTopK(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2,
      s"mg_topk takes (token, k), got ${exprs.size}")
    MisraGriesTopK(exprs.head, intArg("mg_topk", "k")(exprs(1)))
  }

  private def buildTopkPairs(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 3,
      s"topk_pairs takes (score, tag, k), got ${exprs.size}")
    TopKPairs(exprs(0), exprs(1), intArg("topk_pairs", "k")(exprs(2)))
  }

  private def buildKmvSketch(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2,
      s"kmv_sketch takes (hash, k), got ${exprs.size}")
    KmvSketchAgg(exprs.head, intArg("kmv_sketch", "k")(exprs(1)))
  }

  private def buildGkSketch(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2,
      s"gk_sketch takes (value, accuracy), got ${exprs.size}")
    GkSketchAgg(exprs.head, intArg("gk_sketch", "accuracy")(exprs(1)))
  }

  private def buildGkMerge(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 1, s"gk_merge takes (state), got ${exprs.size}")
    GkMergeAgg(exprs.head)
  }

  private def buildGkEstimate(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2,
      s"gk_estimate takes (state, q), got ${exprs.size}")
    // SQL parses `0.5` as DECIMAL(1,1); accept any numeric q the way
    // percentile_approx does, by casting at the registry boundary
    GkEstimate(exprs(0),
      org.apache.spark.sql.catalyst.expressions.Cast(exprs(1),
        org.apache.spark.sql.types.DoubleType))
  }

  private def buildGkCount(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 1, s"gk_count takes (state), got ${exprs.size}")
    GkCount(exprs.head)
  }

  private def buildGkRank(exprs: Seq[Expression]): Expression = {
    require(exprs.size == 2,
      s"gk_rank takes (state, value), got ${exprs.size}")
    // accept any numeric value like gk_estimate does with q
    GkRank(exprs(0),
      org.apache.spark.sql.catalyst.expressions.Cast(exprs(1),
        org.apache.spark.sql.types.DoubleType))
  }

  /** Every SQL function the engine provides: (name, expression class,
    * builder). Both the extension and [[register]] install this one
    * list, so a session gets the same functions either way. */
  private[graft] val functions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("minhash_signature", classOf[MinHashSignature], buildMinhash),
    ("cosine_similarity", classOf[CosineSimilarity], buildCosine),
    ("ngram_hashes", classOf[NgramHashes], buildNgram),
    ("int_dot", classOf[IntDotProduct], buildIntDot),
    ("hyperplane_buckets", classOf[HyperplaneBuckets],
      buildHyperplaneBuckets),
    ("simhash64", classOf[SimHash64], buildSimhash),
    ("deflate_length", classOf[DeflateLength], buildDeflateLength),
    ("mg_topk", classOf[MisraGriesTopK], buildMgTopK),
    ("topk_pairs", classOf[TopKPairs], buildTopkPairs),
    ("kmv_sketch", classOf[KmvSketchAgg], buildKmvSketch),
    ("gk_sketch", classOf[GkSketchAgg], buildGkSketch),
    ("gk_merge", classOf[GkMergeAgg], buildGkMerge),
    ("gk_estimate", classOf[GkEstimate], buildGkEstimate),
    ("gk_count", classOf[GkCount], buildGkCount),
    ("gk_rank", classOf[GkRank], buildGkRank))

  /** Register the engine's SQL functions on an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, build, "scala_udf")
    }
}
