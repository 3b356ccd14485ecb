package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The auto-sharding optimizer rule ([[graft.plans.ShardedTopK]]): a naive
  * `row_number over (partition by <low-card col>) <= k` query written by a
  * user is rewritten into the two-phase groupTopK shape — same rows, no
  * group-only window over the raw input.
  */
class ShardedTopKSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.sibling(
    "spark.graft.topk.lowCardCols" -> "lang,event_type",
    "spark.graft.topk.shards" -> "8")

  private def naiveTopK(s: SparkSession, k: Int) = {
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val df = (1 to 400).map(i => (i.toLong, s"l${rnd.nextInt(3)}", rnd.nextInt(50)))
      .toDF("id", "lang", "m")
    df.withColumn("rank", row_number().over(
        Window.partitionBy($"lang").orderBy($"m".desc, $"id")))
      .filter($"rank" <= k)
  }

  test("the rank filter is rewritten into two windows and results are unchanged") {
    val rewritten = naiveTopK(spark, 5)
    val windows = rewritten.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length == 2, s"expected phase pair:\n${rewritten.queryExecution.optimizedPlan}")
    assert(windows.exists(_.partitionSpec.length == 2), "no sharded phase-1 window")
    // same rows as the shared session's single-window plan
    val expected = naiveTopK(TestSpark.spark, 5)
      .collect().map(_.toSeq).toSet
    val got = rewritten.collect().map(_.toSeq).toSet
    assert(got == expected)
    // and the shared session (no lowCardCols) really did NOT rewrite
    val plainWindows = naiveTopK(TestSpark.spark, 5)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    assert(plainWindows.length == 1)
  }

  test("rank = 1 (rank-latest) is rewritten too") {
    import spark.implicits._
    val df = Seq((1L, "a", 3), (2L, "a", 9), (3L, "b", 4))
      .toDF("id", "event_type", "m")
    val latest = df.withColumn("rank", row_number().over(
        Window.partitionBy($"event_type").orderBy($"m".desc, $"id")))
      .filter($"rank" === 1)
    val windows = latest.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length == 2, latest.queryExecution.optimizedPlan.toString)
    assert(latest.collect().map(r => (r.getString(1), r.getLong(0))).toSet ==
      Set(("a", 2L), ("b", 3L)))
  }

  test("rank() with boundary ties is rewritten and keeps every tied row") {
    // 12 rows tie on the top metric — rank() assigns all of them rank 1,
    // and the per-shard cut must keep all 12 (a row_number phase-1 cut
    // would drop some); the next rank is 13, so rank <= 3 keeps exactly 12.
    val rows = (1 to 12).map(i => (i.toLong, "a", 99)) ++
      (13 to 40).map(i => (i.toLong, "a", 40 - i))
    def q(s: SparkSession) = {
      import s.implicits._
      rows.toDF("id", "lang", "m")
        .withColumn("rank", rank().over(
          Window.partitionBy($"lang").orderBy($"m".desc)))
        .filter($"rank" <= 3)
    }
    val rewritten = q(spark)
    val windows = rewritten.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length == 2, rewritten.queryExecution.optimizedPlan.toString)
    val got = rewritten.collect().map(_.toSeq).toSet
    assert(got.size == 12, s"all ties must survive: ${got.size}")
    assert(got == q(TestSpark.spark).collect().map(_.toSeq).toSet)
  }

  test("property: rewrite is result-equal to the plain session across random frames, k, shards, functions") {
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val n = 50 + rnd.nextInt(300)
      val nLang = 1 + rnd.nextInt(4)
      val maxM = 1 + rnd.nextInt(30) // small range → plenty of ties
      val k = 1 + rnd.nextInt(8)
      val rows = (1 to n).map(i => (i.toLong, s"l${rnd.nextInt(nLang)}", rnd.nextInt(maxM)))
      spark.conf.set("spark.graft.topk.shards", (1 + rnd.nextInt(16)).toString)
      // row_number needs a total order (ties make it nondeterministic in
      // ANY plan); rank/dense_rank are deterministic SETS under ties, so
      // they get the tie-heavy order on purpose.
      def q(s: SparkSession, fnName: String) = {
        import s.implicits._
        val fn = fnName match {
          case "row_number" => row_number()
          case "rank" => rank()
          case _ => dense_rank()
        }
        val w = if (fnName == "row_number")
          Window.partitionBy($"lang").orderBy($"m".desc, $"id")
        else Window.partitionBy($"lang").orderBy($"m".desc)
        rows.toDF("id", "lang", "m")
          .withColumn("rank", fn.over(w)).filter($"rank" <= k)
      }
      for (fnName <- Seq("row_number", "rank", "dense_rank")) {
        val rewritten = q(spark, fnName)
        val windows = rewritten.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }
        assert(windows.length == 2, s"seed=$seed $fnName: rewrite did not fire")
        val got = rewritten.collect().map(_.toSeq).toSet
        val exp = q(TestSpark.spark, fnName).collect().map(_.toSeq).toSet
        assert(got == exp, s"seed=$seed fn=$fnName k=$k diverged")
      }
    }
    spark.conf.set("spark.graft.topk.shards", "8")
  }

  test("unlisted partition columns are left alone") {
    import spark.implicits._
    val df = Seq((1L, "x", 3), (2L, "x", 9)).toDF("id", "other_col", "m")
    val q = df.withColumn("rank", row_number().over(
        Window.partitionBy($"other_col").orderBy($"m".desc, $"id")))
      .filter($"rank" <= 1)
    val windows = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length == 1)
  }

  test("a filter that bounds more than the rank is left alone") {
    import spark.implicits._
    val df = Seq((1L, "a", 3), (2L, "a", 9)).toDF("id", "lang", "m")
    val q = df.withColumn("rank", row_number().over(
        Window.partitionBy($"lang").orderBy($"m".desc, $"id")))
      .filter($"rank" <= 1 && $"m" > 0)
    val windows = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.length == 1, q.queryExecution.optimizedPlan.toString)
  }
}
