package graft

import java.nio.file.Files

import graft.pipeline.Pipeline
import graft.plans.IncrementalRead
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The auto-injected watermark rule, driven through a session built with
  * GraftExtensions (a sibling session over the shared context — extensions
  * are per-session state).
  */
class IncrementalReadSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = TestSpark.extended()

  test("registered tables get the watermark filter injected and partition-pruned") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_incr").toString + "/layer"
    Pipeline.writeRun(Seq((1, "a"), (2, "b")).toDF("k", "v"), path, 1L)
    Pipeline.writeRun(Seq((3, "c")).toDF("k", "v"), path, 2L)
    Pipeline.writeRun(Seq((4, "d"), (5, "e")).toDF("k", "v"), path, 3L)

    try {
      IncrementalRead.setWindow(path, "create_job_run_id", 2L, 3L)
      val df = spark.read.parquet(path).select("k")
      // window [2,3] → 3 rows, run 1 pruned away
      assert(df.count() == 3)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") &&
        plan.contains("create_job_run_id"), plan)

      // sql-function injection also active on this session
      assert(spark.sql("SELECT dot_product(array(1.0D,1.0D), array(2.0D,3.0D)) d")
        .head().getDouble(0) == 5.0)
    } finally IncrementalRead.clearAll()

    // unregistered read sees everything again
    assert(spark.read.parquet(path).count() == 5)
  }

  test("self-joined registered table carries the watermark on BOTH scans") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import spark.implicits._
    val path = Files.createTempDirectory("graft_incr3").toString + "/layer"
    Pipeline.writeRun(Seq((1, "a"), (2, "b")).toDF("k", "v"), path, 1L)
    Pipeline.writeRun(Seq((2, "c"), (3, "d")).toDF("k", "v"), path, 2L)
    try {
      IncrementalRead.setWindow(path, "create_job_run_id", 2L, 2L)
      val t = spark.read.parquet(path)
      val joined = t.select($"k").alias("l").join(t.select($"k").alias("r"), "k")
      // Both legs pruned to run 2 (keys {2,3} ⋈ {2,3}) → 2 rows. An
      // instance-tagged guard skips the second leg, which then reads run 1
      // too (keys {1,2,3}) → 3 rows.
      assert(joined.count() == 2, "second self-join leg must also be watermarked")
      val injected = joined.queryExecution.analyzed.collect {
        case LFilter(cond, _: LogicalRelation)
            if cond.references.exists(_.name == "create_job_run_id") => cond
      }
      assert(injected.size == 2, s"expected a watermark Filter on each scan, got $injected")
    } finally IncrementalRead.clearAll()
  }

  test("unregistered tables are untouched by the rule") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_incr2").toString + "/plain"
    Seq((1, "x")).toDF("a", "b").write.parquet(path)
    assert(spark.read.parquet(path).count() == 1)
  }
}
