package graft

import graft.ops.Relational
import graft.plans.TopKPlan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native per-key top-k physical operator: exactness against the window
  * form and the partial/final plan shape.
  */
class TopKPlanSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** AQE is off so the partial/final exec pair is visible to plan.collect
    * (the AdaptiveSparkPlanExec wrapper hides its executed subtree).
    */
  private lazy val planning: SparkSession =
    TestSpark.sibling("spark.sql.adaptive.enabled" -> "false")

  private def windowTopK(df: DataFrame, keys: Seq[String],
                         order: Seq[(String, Boolean)], k: Int): DataFrame = {
    val oc = order.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(oc: _*)))
      .filter(col("__rn") <= k).drop("__rn")
  }

  private def docs(s: SparkSession): DataFrame =
    s.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("source"), col("doc_id"), col("n_chars"))

  test("native top-k returns exactly the window form's rows (composite key, mixed order)") {
    val keys = Seq("lang", "source")
    val order = Seq(("n_chars", false), ("doc_id", true))
    val native = Relational.nativeTopK(docs(planning), keys, order, 3)
    // the hint actually became the native node on this session
    assert(native.queryExecution.analyzed.collectFirst {
      case t: TopKPlan.TopKPerKey => t }.isDefined, "hint did not resolve to TopKPerKey")
    val expected = windowTopK(docs(planning), keys, order, 3)
      .collect().map(_.toSeq).toSet
    val got = native.collect().map(_.toSeq).toSet
    assert(got == expected, s"native=${got.size} window=${expected.size}")
  }

  test("k larger than every group returns the full input") {
    val n = docs(planning).count()
    val all = Relational.nativeTopK(docs(planning),
      Seq("lang"), Seq(("doc_id", true)), k = 1000000)
    assert(all.count() == n)
  }

  test("plan is a partial/final heap pair with the key-clustered exchange between them") {
    val df = Relational.nativeTopK(docs(planning),
      Seq("lang"), Seq(("n_chars", false), ("doc_id", true)), 5)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val execs = plan.collect { case t: TopKPlan.TopKPerKeyExec => t }
    assert(execs.map(_.partial).sorted == Seq(false, true),
      s"expected one partial + one final heap pass, got $execs")
    // the exchange sits between them: the FINAL's subtree must contain a
    // shuffle (EnsureRequirements honored the clustered requirement), and
    // the PARTIAL must run below it, cutting rows before the wire
    val fin = execs.find(!_.partial).get
    val shuffleBelowFinal = fin.child.collectFirst {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffleBelowFinal.isDefined, s"no exchange below the final pass:\n$plan")
    assert(shuffleBelowFinal.get.collectFirst {
      case t: TopKPlan.TopKPerKeyExec if t.partial => t }.isDefined,
      s"partial pass is not below the exchange:\n$plan")
  }

  test("q128 zipf rides the native operator under extensions — identical rows to the plain session") {
    val spark = TestSpark.spark
    val native = SparkEntry.queries("q128_zipf_table")(spark, sf)
    assert(native.queryExecution.analyzed.collectFirst {
      case t: TopKPlan.TopKPerKey => t }.isDefined,
      "the profile session must plan the native top-k node")
    // q128 replayed on the window form: token counts per language, the
    // first 20 by (count desc, token), ranked.
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"),
        explode(graft.functions.Text.tokens(graft.functions.Text.normalized(col("text"))))
          .as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
    val replay = windowTopK(counts, Seq("lang"),
        Seq(("n_occurrences", false), ("token", true)), 20)
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("n_occurrences").desc, col("token"))).cast("long"))
      .select(col("lang"), col("rank"), col("token"), col("n_occurrences"))
      .orderBy(col("lang"), col("rank"))
    assert(native.collect().map(_.toSeq).toSeq ==
      replay.collect().map(_.toSeq).toSeq, "paths disagree")
  }

  test("unknown column in the hint fails loudly, not silently") {
    intercept[Exception] {
      Relational.nativeTopK(docs(planning),
        Seq("nope"), Seq(("doc_id", true)), 2).collect()
    }
  }
}
