package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.tools.PipelineRehearsal
import org.scalatest.funsuite.AnyFunSuite

/** The rehearsal artifacts' key sets: every key path, nested objects as
  * `a.b`, array elements as `a[].b`. The committed BENCH_STREAM_CRASH_*
  * files predate `batch_durations`, `dedup_state` and `rate_limited`, so
  * they are not the reference.
  */
object RehearsalKeys {

  def of(json: String): Set[String] = {
    def walk(n: JsonNode, at: String): Set[String] =
      if (n.isObject) n.properties().asScala.flatMap { e =>
        walk(e.getValue, at + e.getKey + ".") + (at + e.getKey)
      }.toSet
      else if (n.isArray) n.elements().asScala.flatMap(walk(_, at.stripSuffix(".") + "[].")).toSet
      else Set.empty
    walk(new ObjectMapper().readTree(json), "")
  }

  private def keys(s: String): Set[String] = s.split("\\s+").filter(_.nonEmpty).toSet

  val Steady: Set[String] = keys("""
    audit_checks audit_passed chain checkpoint_bytes continuity dim_rows
    ledger_bytes ledger_rows n_conform_checks n_events n_kafka_partitions
    n_runs n_staging_windows sf_dir total_sec walls_sec
    walls_sec.arrival_stream walls_sec.conform_avro walls_sec.conform_seam_checks
    walls_sec.dim_scd1_merge walls_sec.stage_kafka_shape walls_sec.staging_windows""")

  val Scd2: Set[String] = keys("""
    asof_mismatches chain_contiguous churned_rows completed merge_floor_sec
    merge_total_sec merge_walls_sec n_keys open_equals_keys regenerate
    rehearsal runs sf_dir total_versions""")

  /** Both sources, `file` and `stub`, write this set. */
  val Crash: Set[String] = keys("""
    batch_durations batch_durations.budget_ms batch_durations.mean_ms
    batch_durations.n batch_durations.within_budget batch_durations.worst_ms
    chain final final.exit final.wall_sec kill_points kill_points[].batch
    kill_points[].conform_absent kill_points[].exit kill_points[].ledger_runs_after
    kill_points[].mode kill_points[].rate_limited kill_points[].torn_data_run_present
    kill_points[].wall_sec result result.all_green result.arrival_rows
    result.conform_rows result.continuity result.count_match result.dedup_state
    result.dedup_state.bounded result.dedup_state.max_bytes
    result.dedup_state.max_rows result.dedup_state.n_batches
    result.dedup_state.rows_removed result.dedup_state.watermark
    result.distinct_event_ids result.ledger_distinct result.ledger_rows
    result.n_events result.n_runs result.zero_duplicates root sf_dir source""")
}

/** The in-process rehearsal modes at sf0.01: each artifact keeps its key
  * set and reports green audits, and a passing run leaves no scratch root.
  * CrashRestartSpec covers the `crash` mode.
  */
class PipelineRehearsalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.01"

  private def scratchRoots(): Set[String] =
    Option(new java.io.File(sys.props("java.io.tmpdir")).list()).toSet.flatten
      .filter(_.startsWith("graft_rehearsal_"))

  test("steady: clean chain through staging and the SCD1 merge, 16/16 audits PASSED") {
    val before = scratchRoots()
    val report = PipelineRehearsal.withScratch("steady")(PipelineRehearsal.steady(spark, _, sf))
    assert(RehearsalKeys.of(report) == RehearsalKeys.Steady, report)
    assert(report.contains(""""audit_checks":16,"audit_passed":16"""), report)
    assert(report.contains(""""continuity":"PASSED""""), report)
    assert(scratchRoots() == before)
  }

  test("scd2: two churn runs keep one open version per key and serve as-of reads") {
    val before = scratchRoots()
    val report = PipelineRehearsal.withScratch("scd2")(PipelineRehearsal.scd2(spark, _, sf, 2))
    assert(RehearsalKeys.of(report) == RehearsalKeys.Scd2, report)
    Seq(""""open_equals_keys":true""", """"chain_contiguous":true""",
      """"asof_mismatches":0""", """"runs":2""").foreach(k => assert(report.contains(k), report))
    assert(scratchRoots() == before)
  }

  test("a failed run keeps its scratch root and names it; bad arguments fail before any run") {
    val e = intercept[IllegalStateException](
      PipelineRehearsal.withScratch("steady")(PipelineRehearsal.steady(spark, _, "/nonexistent/sf")))
    val kept = "scratch root kept at (\\S+):".r.findFirstMatchIn(e.getMessage).map(_.group(1))
    assert(kept.exists(new java.io.File(_).isDirectory), e.getMessage)
    kept.foreach(k => org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(k)))
    Seq(Array("stedy"), Array("crash", sf, "out.json", "kafka"), Array("scd2", sf, "out.json", "0"),
      Array("steady", sf, "out.json", "extra")).foreach { args =>
      intercept[IllegalArgumentException](PipelineRehearsal.main(args))
    }
  }
}
