package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("saltedAggregate equals direct aggregate on skewed data") {
    val df = (Seq.fill(500)(("hot", 1L)) ++ Seq(("a", 2L), ("b", 3L), ("a", 5L)))
      .toDF("k", "v")
    val direct = df.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val salted = Skew.saltedAggregate(df, Seq($"k"), buckets = 8,
      partialAggs = Seq(sum($"v").as("ps"), count(lit(1)).as("pn")),
      finalAggs = Seq(sum($"ps").as("s"), sum($"pn").as("n")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("saltedJoin equals direct join on skewed fact side") {
    val fact = (Seq.fill(300)((1, "x")) ++ Seq((2, "y"), (3, "z"))).toDF("k", "payload")
    val dim = Seq((1, "dim1"), (2, "dim2")).toDF("k", "name")
    val direct = fact.join(dim, Seq("k")).groupBy($"k").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val salted = Skew.saltedJoin(fact, dim, "k", buckets = 4).groupBy($"k").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(salted == direct)
  }

  test("saltedJoin spreads a zipfian hot key and stays result-identical") {
    // Zipf-ish fixture: key r carries ~N/r rows, so key 1 holds ~37% of the
    // table — the realistic "one topic carries most events" shape.
    val n = 20000
    val keys = (1 to 8).flatMap(r => Seq.fill(n / r)(r))
    val fact = keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }
      .toDF("k", "payload")
    val dim = (1 to 8).map(r => (r, s"dim$r")).toDF("k", "name")
    val direct = fact.join(dim, Seq("k"))
      .groupBy($"k").agg(count(lit(1)).as("n"), sum($"payload").as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val saltedDf = Skew.saltedJoin(fact, dim, "k", buckets = 8)
      .groupBy($"k").agg(count(lit(1)).as("n"), sum($"payload").as("s"))
    // The rewrite is visible in the plan: the join keys carry the salt, so
    // the hot key's rows hash to `buckets` reducers instead of one.
    assert(saltedDf.queryExecution.analyzed.toString.contains("__salt"))
    val salted = saltedDf
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(salted == direct)
  }

  test("saltedJoin rejects join types that would duplicate unmatched dim rows") {
    val fact = Seq((1, "x")).toDF("k", "payload")
    val dim = Seq((1, "dim1"), (9, "unmatched")).toDF("k", "name")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, "k", buckets = 4, joinType = "right")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(fact, dim, "k", buckets = 4, joinType = "full_outer")
    }
    // fact-preserving types stay accepted
    assert(Skew.saltedJoin(fact, dim, "k", buckets = 4, joinType = "left").count() == 1)
  }

  test("heavyHitters surfaces the hot key first") {
    val df = (Seq.fill(50)("hot") ++ Seq("a", "b")).toDF("k")
    val top = Skew.heavyHitters(df, $"k", topN = 1).head()
    assert(top.getString(0) == "hot" && top.getLong(1) == 50L)
  }

  test("custom expressions are callable from SQL after registration") {
    val dot = spark.sql(
      "SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql(
      "SELECT shingles(array('a','b','c'), 2) AS s").head()
      .getSeq[String](0)
    assert(sh == Seq("a b", "b c"))
    val mh = spark.sql(
      "SELECT min_hashes(array('x','y'), 2) AS m").head().getSeq[String](0)
    assert(mh.length == 2 && mh.forall(_.length == 32))
    val sig = spark.sql(
      "SELECT hyperplane_signature(array(1.0D, -1.0D, 0.5D), 3, 4) AS h").head().getLong(0)
    assert(sig >= 0L && sig < 16L)
    val l2 = spark.sql(
      "SELECT l2_distance(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head().getDouble(0)
    assert(l2 == 8.0)
    val cs = spark.sql(
      "SELECT char_shingles('abcd', 3) AS s").head().getSeq[String](0)
    assert(cs == Seq("abc", "bcd"))
  }

  test("graft_kmv aggregate is callable from stored SQL text") {
    // duplicated + unordered input: the sketch is the sorted distinct set
    // while under-full, straight from SQL as a stored query would call it
    val sk = spark.sql(
      "SELECT graft_kmv(h) AS sk FROM VALUES (9L), (3L), (9L), (1L), (3L) AS t(h)")
      .head().getSeq[Long](0)
    assert(sk == Seq(1L, 3L, 9L), sk.toString)
  }

  test("graft_kmv_estimate reads a sketch from stored SQL text, exact below k") {
    // under-full sketch → exact distinct count (stored SQL calls estimate
    // over the kmv column)
    val est = spark.sql(
      "SELECT graft_kmv_estimate(graft_kmv(h)) AS est " +
        "FROM VALUES (9L), (3L), (9L), (1L), (3L) AS t(h)")
      .head().getLong(0)
    assert(est == 3L, est.toString)
    // full sketch → (k-1)·2^48 DIV kth-min, the Sketches.kmvEstimate math
    val k = graft.functions.Sketches.DefaultK
    val dense = spark.range(1, 4 * k + 1)
      .select(graft.functions.Sketches.kmvHash48(
        org.apache.spark.sql.functions.col("id")).as("h"))
    val viaUdf = dense.selectExpr("graft_kmv(h) AS sk")
      .selectExpr("graft_kmv_estimate(sk) AS est").head().getLong(0)
    val viaColumn = dense.agg(graft.functions.Sketches.kmvSketch(
        org.apache.spark.sql.functions.col("h")).as("sk"))
      .select(graft.functions.Sketches.kmvEstimate("sk")).head().getLong(0)
    assert(viaUdf == viaColumn, s"$viaUdf vs $viaColumn")
  }

  test("a wrong argument count in stored SQL names the function and both counts") {
    for ((call, msg) <- Seq(
        "dot_product(array(1.0D))" -> "dot_product expects 2 arguments, got 1",
        "hyperplane_signature(array(1.0D), 3)" ->
          "hyperplane_signature expects 3 or 4 arguments, got 2",
        "graft_kmv(1L, 2L)" -> "graft_kmv expects 1 arguments, got 2")) {
      val e = intercept[IllegalArgumentException](spark.sql(s"SELECT $call").collect())
      assert(e.getMessage == msg, s"$call: ${e.getMessage}")
    }
  }
}
