package graft

import graft.model.{ScdType, Watermark}
import graft.pipeline.Pipeline
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** `f` over a table path inside a temp dir deleted afterwards. */
  private def withTable[A](f: String => A): A =
    SpecIo.withTempDir("graft_pipe")(dir => f(dir + "/t"))

  test("withRunId stamps lineage columns") {
    val out = Pipeline.withRunId(Seq((1, "a")).toDF("k", "v"), 42L)
    assert(out.columns.toSet.contains("create_job_run_id"))
    val row = out.head()
    assert(row.getAs[Long]("create_job_run_id") == 42L)
    assert(row.getAs[Long]("update_job_run_id") == 42L)
  }

  test("writeRun twice with same runId is idempotent (dynamic partition overwrite)") {
    withTable { path =>
      Pipeline.writeRun(Seq((1, "a"), (2, "b")).toDF("k", "v"), path, 1L)
      Pipeline.writeRun(Seq((1, "a"), (2, "b")).toDF("k", "v"), path, 1L)
      assert(spark.read.parquet(path).count() == 2)
      assert(Pipeline.rerunClean(spark, path, 1L, expectedCount = 2))
      // a second run appends its own partition without touching run 1
      Pipeline.writeRun(Seq((3, "c")).toDF("k", "v"), path, 2L)
      assert(spark.read.parquet(path).count() == 3)
    }
  }

  test("readIncrement prunes to the watermark window; empty watermark → no rows") {
    withTable { path =>
      Pipeline.writeRun(Seq((1, "a")).toDF("k", "v"), path, 1L)
      Pipeline.writeRun(Seq((2, "b")).toDF("k", "v"), path, 2L)
      Pipeline.writeRun(Seq((3, "c")).toDF("k", "v"), path, 3L)
      assert(Pipeline.readIncrement(spark, path, Watermark(2, 3)).count() == 2)
      assert(Pipeline.readIncrement(spark, path, Watermark(0, 0)).count() == 0)
    }
  }

  test("applyScd Type1 upserts on business key") {
    val current = Seq((1, "old"), (2, "keep")).toDF("id", "name")
    val incoming = Seq((1, "new"), (3, "add")).toDF("id", "name")
    val out = Pipeline.applyScd(ScdType.Type1, current, incoming, Seq("id"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "new"), (2, "keep"), (3, "add")))
  }

  test("applyScd Type2 closes matched rows and appends history") {
    val current = Seq((1, "v1", "1"), (2, "x", "1")).toDF("id", "name", "record_status")
    val incoming = Seq((1, "v2", "1")).toDF("id", "name", "record_status")
    val out = Pipeline.applyScd(ScdType.Type2, current, incoming, Seq("id"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set((1, "v1", "0"), (2, "x", "1"), (1, "v2", "1")))
  }

  test("applyScd2Dated closes versions with effective_to and serves point-in-time reads") {
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val dim0 = Pipeline.scd2Init(Seq((1, "v1"), (2, "w1")).toDF("id", "attr"), lit(t1))
    val dim1 = Pipeline.applyScd2Dated(dim0,
      Seq((1, "v2")).toDF("id", "attr"), Seq("id"), lit(t2))

    val closed = dim1.filter($"record_status" === "0").collect()
    assert(closed.length == 1)
    assert(closed(0).getAs[String]("attr") == "v1")
    assert(closed(0).getAs[java.sql.Timestamp]("effective_to") == t2)

    val open = dim1.filter($"record_status" === "1")
      .collect().map(r => r.getAs[Int]("id") ->
        (r.getAs[String]("attr"), r.getAs[java.sql.Timestamp]("effective_from"),
          r.getAs[java.sql.Timestamp]("effective_to"))).toMap
    assert(open(1) == (("v2", t2, null)))
    assert(open(2) == (("w1", t1, null)))

    // point-in-time read over the full version chain: a March fact sees v1
    // (now closed), a July fact sees v2
    val facts = Seq(
      (1, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"), "march"),
      (1, java.sql.Timestamp.valueOf("2024-07-01 00:00:00"), "july")
    ).toDF("id", "event_ts", "tag")
    val asof = Pipeline.lookupAsOf(facts, dim1, "id", "event_ts", Seq("attr"))
      .collect().map(r => r.getAs[String]("tag") -> r.getAs[String]("asof_attr")).toMap
    assert(asof == Map("march" -> "v1", "july" -> "v2"))
  }

  test("applyScd Static only loads when empty; Fact appends") {
    val current = Seq((1, "a")).toDF("id", "v")
    val incoming = Seq((2, "b")).toDF("id", "v")
    assert(Pipeline.applyScd(ScdType.Static, current, incoming, Seq("id"))
      .collect().map(_.getInt(0)).toSeq == Seq(1))
    val empty = current.limit(0)
    assert(Pipeline.applyScd(ScdType.Static, empty, incoming, Seq("id")).count() == 1)
    assert(Pipeline.applyScd(ScdType.Fact, current, incoming, Seq("id")).count() == 2)
  }
}
