package graft

import graft.functions.Sketches
import graft.plans.{CharShingles, DotProduct, HyperplaneSignature, L2Distance, MinHashes, Shingles, SimHash32Md5, SimHash64}
import org.apache.spark.sql.{Column, GraftBridge, SparkSessionExtensions, functions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL functions over the engine's custom Catalyst expressions, so the
  * stored-query-as-data path (the reference keeps every query in config
  * tables — `TESTING_QUERIES` CLOBs) can call them from SQL text. Every
  * profile session injects them through [[GraftExtensions]]:
  *
  * {{{
  * spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * Functions: dot_product(a, b) · l2_distance(a, b) ·
  * min_hashes(shingles, n) · shingles(tokens, k) · char_shingles(text, k) ·
  * sim_hash64(tokens) · sim_hash32_md5(tokens) ·
  * hyperplane_signature(vec, dim, bits[, seed]) · graft_kmv(hash48) ·
  * graft_kmv_estimate(sketch).
  */
object GraftFunctions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  /** `name`'s builder, failing on an argument count outside `arity`. */
  private def fn(name: String, arity: Int*)(build: Seq[Expression] => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { args =>
      if (!arity.contains(args.length)) throw new IllegalArgumentException(
        s"$name expects ${arity.mkString(" or ")} arguments, got ${args.length}")
      build(args)
    }

  /** A one-argument Column-API function as an expression builder. */
  private def viaColumn(f: Column => Column): Seq[Expression] => Expression =
    args => GraftBridge.toCatalyst(f(GraftBridge.toColumn(args.head)))

  // Same integer math as Sketches.kmvEstimate's CASE expression, over a
  // k-sized array — exact below k, (k-1)·2^48 DIV kth-min otherwise.
  private val kmvEstimate = functions.udf((sketch: Seq[Long]) => {
    val k = Sketches.DefaultK
    if (sketch == null) 0L
    else if (sketch.length < k) sketch.length.toLong
    else ((k - 1).toLong * (1L << 48)) / math.max(sketch(k - 1), 1L)
  })

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("dot_product", 2)(args => DotProduct(args(0), args(1))),
    fn("l2_distance", 2)(args => L2Distance(args(0), args(1))),
    fn("char_shingles", 2)(args =>
      CharShingles(args(0), intArg(args(1), "char_shingles"))),
    fn("min_hashes", 2)(args =>
      MinHashes(args(0), intArg(args(1), "min_hashes"))),
    fn("shingles", 2)(args =>
      Shingles(args(0), intArg(args(1), "shingles"))),
    fn("sim_hash64", 1)(args => SimHash64(args(0))),
    fn("sim_hash32_md5", 1)(args => SimHash32Md5(args(0))),
    fn("hyperplane_signature", 3, 4)(args =>
      HyperplaneSignature(args(0),
        intArg(args(1), "hyperplane_signature"),
        intArg(args(2), "hyperplane_signature"),
        if (args.length > 3) intArg(args(3), "hyperplane_signature").toLong else 42L)),
    // the mergeable bottom-k distinct sketch, built and read from SQL text
    fn("graft_kmv", 1)(viaColumn(Sketches.kmvSketch(_))),
    fn("graft_kmv_estimate", 1)(viaColumn(kmvEstimate(_))))
}

/** Injects [[GraftFunctions]], the opt-in rank-filter rewrite
  * ([[graft.plans.ShardedTopK]]) and the native per-key top-k operator
  * ([[graft.plans.TopKPlan]]) into every session [[SessionProfile]] builds.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans", name), b))
    }
    ext.injectOptimizerRule(_ => new graft.plans.ShardedTopK.RewriteRankFilter)
    // Whole-operator extension: per-key top-k as a native heap-based
    // physical operator (hint → logical node → partial/final exec pair).
    ext.injectResolutionRule(_ => new graft.plans.TopKPlan.ResolveTopKHint)
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPlan.Strategy)
  }
}
