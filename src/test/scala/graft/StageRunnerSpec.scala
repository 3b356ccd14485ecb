package graft

import java.nio.file.Files

import graft.model.{StageJob, ValidationResult, Watermark}
import graft.pipeline.StageRunner
import org.scalatest.funsuite.AnyFunSuite

class StageRunnerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def controlDf(runs: (Long, Int)*) =
    runs.toSeq.toDF("jobRunId", "jobRunStatus")

  test("watermarkFor picks new successful runs; empty window skips the job") {
    val ctl = controlDf((5L, 1), (6L, 1), (7L, 0))
    assert(StageRunner.watermarkFor(ctl, 4L) == Watermark(5L, 6L))
    assert(StageRunner.watermarkFor(ctl, 6L) == Watermark(0L, 0L))

    val job = StageJob(1, "j", "t", "STAGING", "SELECT 1", "SELECT 1", None)
    val outcome = StageRunner.runJob(spark, job, Watermark(0, 0))
    assert(outcome.skipped)
    assert(outcome.results.head.stepName == "skip_if_empty")
  }

  test("runJob executes stored SQL with bound watermark params and validates") {
    Seq((1L, "a", 5L), (2L, "b", 6L), (3L, "c", 9L))
      .toDF("id", "v", "update_job_run_id").createOrReplaceTempView("src_layer")
    Seq((1L, "a", 5L), (2L, "b", 6L))
      .toDF("id", "v", "update_job_run_id").createOrReplaceTempView("tgt_layer")

    val job = StageJob(1, "stg_load", "tgt_layer", "STAGING",
      sourceQuery = "SELECT id, v FROM src_layer WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
      targetQuery = "SELECT id, v FROM tgt_layer WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
      nullQuery = Some("SELECT * FROM tgt_layer WHERE id IS NULL OR v IS NULL"))

    val ok = StageRunner.runJob(spark, job, Watermark(5L, 6L))
    assert(!ok.skipped)
    assert(ok.results.length == 5)
    assert(ok.results.forall(_.testResult == ValidationResult.PASSED))

    // widen the window so source has a row target lacks → count+data FAIL
    val bad = StageRunner.runJob(spark, job, Watermark(5L, 9L))
    val byCase = bad.results.map(r => r.testCase -> r.testResult).toMap
    assert(byCase("count_match") == ValidationResult.FAILED)
    assert(byCase("data_match") == ValidationResult.FAILED)
    assert(byCase("duplicate_check") == ValidationResult.PASSED)
  }

  test("a stored text whose only Oracle-ism is a TO_DATE mask migrates " +
    "drop-in: it parses AND analyzes in Spark, so try-first can't catch " +
    "it — the pre-scan must route it through the shim before execution") {
    Seq((1L, "2024-01-02 13:04:05", 5L), (2L, "2024-02-03 01:02:03", 6L))
      .toDF("id", "stamp", "update_job_run_id")
      .createOrReplaceTempView("masked_layer")
    val q = "SELECT id, TO_DATE(stamp, 'YYYY-MM-DD HH24:MI:SS') AS ts " +
      "FROM masked_layer WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id"
    val job = StageJob(1, "masked_load", "masked_layer", "STAGING", q, q, None)
    val ok = StageRunner.runJob(spark, job, Watermark(5L, 6L))
    assert(!ok.skipped)
    assert(ok.results.forall(_.testResult == ValidationResult.PASSED),
      ok.results.map(r => r.testCase -> r.testResult).mkString(", "))
  }

  test("runAll appends audit rows to the log table path") {
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("t_all")
    val ctl = controlDf((5L, 1))
    val job = StageJob(1, "j1", "t_all", "3NF",
      "SELECT * FROM t_all", "SELECT * FROM t_all", None)
    SpecIo.withTempDir("graft_audit") { scratch =>
      val audit = scratch + "/log"
      val outcomes = StageRunner.runAll(spark, Seq(job), ctl, 0L, Some(audit))
      assert(outcomes.length == 1 && !outcomes.head.skipped)
      val logged = spark.read.parquet(audit)
      assert(logged.count() == 4)
    }
  }

  test("jobsFromConfig parses the query.txt colon format") {
    SpecIo.withTempDir("graft_cfg") { dir =>
      val p = java.nio.file.Paths.get(dir, "query.txt")
      Files.writeString(p,
        "job_a:SELECT 1 AS x:SELECT 1 AS x:SELECT * FROM t WHERE x IS NULL\n" +
          "job_b:SELECT 2 AS y:SELECT 2 AS y\n")
      val jobs = StageRunner.jobsFromConfig(spark, p.toString, "DWDD")
      assert(jobs.map(_.jobName) == Seq("job_a", "job_b"))
      assert(jobs.head.nullQuery.isDefined && jobs(1).nullQuery.isEmpty)
    }
  }
}
