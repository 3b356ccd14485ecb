package graft

import graft.ops.Relational
import graft.plans.TopKPlan
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native per-key top-k physical operator: exactness against the window
  * form, the partial/final plan shape, and the extension-less fall-back.
  */
class TopKPlanSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.001"

  /** A session carrying GraftExtensions (hint rule + planner strategy).
    * AQE is off so the partial/final exec pair is visible to plan.collect
    * (the AdaptiveSparkPlanExec wrapper hides its executed subtree).
    */
  private lazy val extended: SparkSession =
    TestSpark.extended("spark.sql.adaptive.enabled" -> "false")

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
    val native = Relational.nativeTopK(docs(extended), keys, order, 3)
    // the hint actually became the native node on this session
    assert(native.queryExecution.analyzed.collectFirst {
      case t: TopKPlan.TopKPerKey => t }.isDefined, "hint did not resolve to TopKPerKey")
    val expected = windowTopK(docs(extended), keys, order, 3)
      .collect().map(_.toSeq).toSet
    val got = native.collect().map(_.toSeq).toSet
    assert(got == expected, s"native=${got.size} window=${expected.size}")
  }

  test("k larger than every group returns the full input") {
    val n = docs(extended).count()
    val all = Relational.nativeTopK(docs(extended),
      Seq("lang"), Seq(("doc_id", true)), k = 1000000)
    assert(all.count() == n)
  }

  test("plan is a partial/final heap pair with the key-clustered exchange between them") {
    val df = Relational.nativeTopK(docs(extended),
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

  test("a session without GraftExtensions falls back to the two-phase window, same rows") {
    val s = TestSpark.spark
    val keys = Seq("lang")
    val order = Seq(("n_chars", false), ("doc_id", true))
    val fallback = Relational.nativeTopK(docs(s), keys, order, 4)
    assert(fallback.queryExecution.analyzed.collectFirst {
      case t: TopKPlan.TopKPerKey => t }.isEmpty, "plain session must not see the node")
    val expected = windowTopK(docs(s), keys, order, 4).collect().map(_.toSeq).toSet
    assert(fallback.collect().map(_.toSeq).toSet == expected)
    assert(fallback.columns.toSeq == docs(s).columns.toSeq, "no rank column leaks")
  }

  test("q128 zipf rides the native operator under extensions — identical rows to the plain session") {
    val plain = SparkEntry.queries("q128_zipf_table")(TestSpark.spark, sf)
    val native = SparkEntry.queries("q128_zipf_table")(extended, sf)
    assert(native.queryExecution.analyzed.collectFirst {
      case t: TopKPlan.TopKPerKey => t }.isDefined,
      "extensions session must plan the native top-k node")
    assert(native.collect().map(_.toSeq).toSeq ==
      plain.collect().map(_.toSeq).toSeq, "paths disagree")
  }

  test("unknown column in the hint fails loudly, not silently") {
    intercept[Exception] {
      Relational.nativeTopK(docs(extended),
        Seq("nope"), Seq(("doc_id", true)), 2).collect()
    }
  }
}
