package graft

import graft.plans.{CharShingles, DotProduct, HyperplaneSignature, L2Distance, MinHashes, Shingles, SimHash32Md5, SimHash64}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** SQL registration of the engine's custom Catalyst expressions, so the
  * stored-query-as-data path (the reference keeps every query in config
  * tables — `TESTING_QUERIES` CLOBs) can call them from SQL text:
  *
  * {{{
  * // at session build time (before the SparkContext starts):
  * --conf spark.sql.extensions=graft.GraftExtensions
  * // or on an existing session:
  * GraftFunctions.register(spark)
  * spark.sql("SELECT dot_product(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * Functions: dot_product(a, b) · l2_distance(a, b) ·
  * min_hashes(shingles, n) · shingles(tokens, k) · char_shingles(text, k) ·
  * sim_hash64(tokens) · sim_hash32_md5(tokens) ·
  * hyperplane_signature(vec, dim, bits[, seed]).
  */
object GraftFunctions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal integer argument, got $other")
  }

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> ((args: Seq[Expression]) => DotProduct(args(0), args(1))),
    "l2_distance" -> ((args: Seq[Expression]) => L2Distance(args(0), args(1))),
    "char_shingles" -> ((args: Seq[Expression]) =>
      CharShingles(args(0), intArg(args(1), "char_shingles"))),
    "min_hashes" -> ((args: Seq[Expression]) =>
      MinHashes(args(0), intArg(args(1), "min_hashes"))),
    "shingles" -> ((args: Seq[Expression]) =>
      Shingles(args(0), intArg(args(1), "shingles"))),
    "sim_hash64" -> ((args: Seq[Expression]) => SimHash64(args(0))),
    "sim_hash32_md5" -> ((args: Seq[Expression]) => SimHash32Md5(args(0))),
    "hyperplane_signature" -> ((args: Seq[Expression]) =>
      HyperplaneSignature(args(0),
        intArg(args(1), "hyperplane_signature"),
        intArg(args(2), "hyperplane_signature"),
        if (args.length > 3) intArg(args(3), "hyperplane_signature").toLong else 42L)))

  /** Register on an already-built session (temp functions). Also exposes
    * the mergeable KMV sketch aggregate as `graft_kmv(hash48)` /
    * `graft_kmv_estimate(sketch)` so stored SQL text can build and read
    * bottom-k distinct sketches (aggregates register through the UDF
    * surface, not the expression registry — they are not Expressions).
    */
  def register(spark: SparkSession): Unit = {
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "built-in")
    }
    spark.udf.register("graft_kmv",
      org.apache.spark.sql.functions.udaf(
        new graft.functions.Sketches.KmvAggregator(graft.functions.Sketches.DefaultK)))
    // Same integer math as Sketches.kmvEstimate's CASE expression, over a
    // k-sized array — exact below k, (k-1)·2^48 DIV kth-min otherwise.
    spark.udf.register("graft_kmv_estimate", (sketch: Seq[Long]) => {
      val k = graft.functions.Sketches.DefaultK
      if (sketch == null) 0L
      else if (sketch.length < k) sketch.length.toLong
      else ((k - 1).toLong * (1L << 48)) / math.max(sketch(k - 1), 1L)
    })
  }
}

/** Session-builder injection variant of [[GraftFunctions]], plus the
  * automatic incremental-read rule ([[graft.plans.IncrementalRead]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.plans", name), b))
    }
    ext.injectResolutionRule(_ => new graft.plans.IncrementalRead.InjectWatermark)
    ext.injectOptimizerRule(_ => new graft.plans.ShardedTopK.RewriteRankFilter)
    // Whole-operator extension: per-key top-k as a native heap-based
    // physical operator (hint → logical node → partial/final exec pair).
    ext.injectResolutionRule(_ => new graft.plans.TopKPlan.ResolveTopKHint)
    ext.injectPlannerStrategy(_ => new graft.plans.TopKPlan.Strategy)
  }
}
