package graft

import graft.model.{StageJob, ValidationResult, Watermark}
import graft.pipeline.StageRunner
import graft.sources.{Jdbc, Tables}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** The JDBC layer adapter against in-JVM embedded Derby (the one database
  * engine on this classpath — it ships with Spark for the Hive metastore):
  * location routing through Tables.load, round-trip fidelity, predicate
  * pushdown INTO the database scan, range-partitioned parallel reads, and
  * a StageRunner staging job that produces audit rows IDENTICAL to the
  * parquet path — the reference's Oracle staging leg
  * (`KafkaScript_ConformToStaging.sh:197`) with the connection string
  * swapped.
  */
class JdbcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Derby keeps the database open across the suite's tests, so its home
  // lives as long as the suite: shut down, then deleted with the temp dir.
  private var home: String = _

  private lazy val dbUrl: String = {
    System.setProperty("derby.system.home", home)
    s"jdbc:derby:$home/graftdb;create=true"
  }

  override def run(testName: Option[String], args: Args): Status =
    SpecIo.withTempDir("graft_derby") { dir =>
      home = dir
      try super.run(testName, args)
      finally
        try java.sql.DriverManager.getConnection(s"jdbc:derby:$dir/graftdb;shutdown=true")
        catch { case _: java.sql.SQLException => } // a clean shutdown throws too
    }

  private lazy val sampleWritten: Unit = {
    val df = Seq(
      (1L, "alice", 10.5, 5L), (2L, "bob", 20.0, 6L),
      (3L, "carol", 7.25, 6L), (4L, "dave", 1.0, 9L))
      .toDF("id", "name", "score", "update_job_run_id")
    Jdbc.write(df, dbUrl, "customer_stg", SaveMode.Overwrite)
  }

  test("round-trip through Tables.load: a jdbc: layer location returns the " +
    "same rows as the written frame") {
    sampleWritten
    val back = Tables.load(spark, dbUrl, "customer_stg")
    assert(back.count() == 4)
    val rows = back.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.getAs[Double]("score"))).toSet
    assert(rows == Set((1L, "alice", 10.5), (2L, "bob", 20.0),
      (3L, "carol", 7.25), (4L, "dave", 1.0)))
  }

  test("predicate pushdown reaches the JDBCRelation scan (the DB evaluates " +
    "the filter, not Spark after the pull)") {
    sampleWritten
    val q = Tables.load(spark, dbUrl, "customer_stg")
      .filter(col("id") > 2L && col("name").isNotNull)
      .select(col("id"), col("score"))
    val physical = q.queryExecution.executedPlan.toString
    assert(physical.contains("JDBCRelation"), physical)
    // the range predicate is in PushedFilters — the database evaluates it
    // inside the generated SQL, Spark never sees the filtered-out rows
    // (identifier case depends on the dialect's folding)
    assert(physical.contains("PushedFilters:") &&
      "GreaterThan\\((id|ID),2\\)".r.findFirstIn(physical).isDefined, physical)
    assert(q.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(3L, 4L))
  }

  test("range-partitioned read fans a fact pull into N parallel striped " +
    "queries — the scale path for non-dim tables") {
    sampleWritten
    val part = Jdbc.read(spark, dbUrl, "customer_stg",
      partitioning = Some(("id", 1L, 5L, 4)))
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == 4) // stripes cover everything exactly once
    assert(part.select(sum(col("score"))).head().getDouble(0) == 38.75)
  }

  test("partitioned fact read: every task issues its own range-striped query " +
    "with the predicate pushed into it — the DB filters inside each stripe") {
    sampleWritten
    val part = Jdbc.read(spark, dbUrl, "customer_stg",
        partitioning = Some(("id", 1L, 5L, 4)))
      .filter(col("score") > 5.0)
    val plan = part.queryExecution.executedPlan.toString
    // the scan itself is the 4-way striped JDBCRelation, not a re-shuffle
    assert(plan.contains("JDBCRelation") && plan.contains("numPartitions=4"), plan)
    // the filter is in PushedFilters on the PARTITIONED scan: Spark appends
    // it to each stripe's generated WHERE, so Derby evaluates it per stripe
    assert(plan.contains("PushedFilters:") &&
      "GreaterThan\\((score|SCORE),5.0\\)".r.findFirstIn(plan).isDefined, plan)
    // per-stripe proof the striping + in-DB filter EXECUTED: stride 1 over
    // [1, 5) puts one row in each of stripes 0-2; stripe 3 (id >= 4) holds
    // only dave (score 1.0), filtered inside the database — 0 rows arrive
    val counts = part.rdd
      .mapPartitionsWithIndex((i, it) => Iterator(i -> it.size)).collect().toMap
    assert(counts == Map(0 -> 1, 1 -> 1, 2 -> 1, 3 -> 0), counts.toString)
  }

  test("StageRunner staging job against Derby: audit rows identical to the " +
    "parquet path") {
    sampleWritten
    // target layer in Derby too — short one row, as in StageRunnerSpec
    Jdbc.write(Seq((1L, "alice", 10.5, 5L), (2L, "bob", 20.0, 6L),
      (3L, "carol", 7.25, 6L))
      .toDF("id", "name", "score", "update_job_run_id"),
      dbUrl, "customer_tgt", SaveMode.Overwrite)

    // same logical tables on the parquet path
    SpecIo.withTempDir("graft_jdbc_pq") { pq =>
      spark.createDataFrame(Seq(
        (1L, "alice", 10.5, 5L), (2L, "bob", 20.0, 6L),
        (3L, "carol", 7.25, 6L), (4L, "dave", 1.0, 9L)))
        .toDF("id", "name", "score", "update_job_run_id")
        .write.parquet(s"$pq/src.parquet")
      spark.createDataFrame(Seq(
        (1L, "alice", 10.5, 5L), (2L, "bob", 20.0, 6L), (3L, "carol", 7.25, 6L)))
        .toDF("id", "name", "score", "update_job_run_id")
        .write.parquet(s"$pq/tgt.parquet")

      val job = StageJob(1, "stg_customer", "customer_tgt", "STAGING",
        sourceQuery = "SELECT id, name, score FROM src_v " +
          "WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
        targetQuery = "SELECT id, name, score FROM tgt_v " +
          "WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
        nullQuery = Some("SELECT * FROM tgt_v WHERE id IS NULL OR name IS NULL"))

      def runWith(srcV: org.apache.spark.sql.DataFrame,
                  tgtV: org.apache.spark.sql.DataFrame) = {
        srcV.createOrReplaceTempView("src_v")
        tgtV.createOrReplaceTempView("tgt_v")
        StageRunner.runJob(spark, job, Watermark(5L, 6L)).results
          .map(r => (r.sourceName, r.stage, r.testCase, r.stepName,
            r.testResult, r.comments))
      }

      val viaJdbc = runWith(Tables.load(spark, dbUrl, "customer_stg"),
        Tables.load(spark, dbUrl, "customer_tgt"))
      val viaParquet = runWith(spark.read.parquet(s"$pq/src.parquet"),
        spark.read.parquet(s"$pq/tgt.parquet"))
      assert(viaJdbc == viaParquet,
        s"jdbc audit rows diverge from parquet:\n$viaJdbc\nvs\n$viaParquet")
      assert(viaJdbc.forall(_._5 == ValidationResult.PASSED), viaJdbc.toString)
      assert(viaJdbc.size == 5)
    }
  }
}
