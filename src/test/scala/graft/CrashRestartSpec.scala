package graft

import graft.dq.Checks
import graft.model.ValidationResult
import graft.tools.PipelineRehearsal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the crash-restart path at sf0.01: the three-child kill protocol
  * (tear mid-batch → restart → kill at the conform seam → restart →
  * complete) must leave a continuous offset ledger and ZERO duplicate rows
  * downstream — the reference's rerunnability semantics
  * (`rerunnability.sh:78-131`) under real `Runtime.halt` kills. The
  * volume twin is `runMain graft.tools.PipelineRehearsal crash` at sf1
  * (BENCH_STREAM_CRASH_SF1.json). Each run's scratch root is deleted once
  * its asserts pass.
  */
class CrashRestartSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("torn batch replays idempotently across real JVM kills: ledger continuous, zero duplicates") {
    PipelineRehearsal.withScratch("crash") { root =>
      // crash() itself REQUIREs the kill exits, the filesystem-level torn state
      // after child 1 (ledger stops at K-1, data already holds run K), and the
      // final child's green audit — a failure in any of those throws here.
      val report = PipelineRehearsal.crash(root, "/root/testdata/sf0.01")
      assert(RehearsalKeys.of(report) == RehearsalKeys.Crash, report)
      assert(report.contains(""""all_green":true"""), report)
      assert(report.contains(""""zero_duplicates":true"""), report)

      // Independent re-verification in THIS session (not trusting the child):
      val nEvents = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/nevents.txt")), "UTF-8").trim.toLong
      val ledger = spark.read.parquet(s"$root/ledger")
      assert(Checks.offsetContinuity(ledger, "events_topic").testResult ==
        ValidationResult.PASSED)
      assert(Checks.offsetCountMatch(ledger, nEvents, "events_topic").testResult ==
        ValidationResult.PASSED)
      val arrival = spark.read.parquet(s"$root/arrival")
      val n = arrival.count()
      val distinctIds = arrival
        .select(split(col("value"), "\\|").getItem(0).cast("long")).distinct().count()
      assert(n == nEvents, s"arrival rows $n != staged events $nEvents")
      assert(distinctIds == nEvents, s"duplicate event ids after replay: $distinctIds vs $nEvents")
      // the torn batch's run is present exactly once per (topic, partition)
      val perRun = ledger.filter(col("jobRunId") === PipelineRehearsal.KillBatch)
        .groupBy(col("topicName"), col("partition")).count().collect()
      assert(perRun.nonEmpty && perRun.forall(_.getAs[Long]("count") == 1L))
    }
  }

  test("same kill protocol through the graft-kafka-stub readStream path: " +
    "checkpoint offsets (not the ledger) drive the torn-batch replay") {
    PipelineRehearsal.withScratch("crash") { root =>
      val report = PipelineRehearsal.crash(root, "/root/testdata/sf0.01",
        source = "stub")
      assert(RehearsalKeys.of(report) == RehearsalKeys.Crash, report)
      assert(report.contains(""""source":"graft-kafka-stub""""), report)
      assert(report.contains(""""all_green":true"""), report)
      assert(report.contains(""""zero_duplicates":true"""), report)
      // Independent re-verification: continuity + zero duplicates, same as the
      // file-mode twin — but here every batch boundary came from the rate
      // limit and the replayed epoch was resolved from the checkpoint's
      // offset WAL against the re-populated broker.
      val nEvents = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$root/nevents.txt")), "UTF-8").trim.toLong
      val ledger = spark.read.parquet(s"$root/ledger")
      assert(Checks.offsetContinuity(ledger, "events_topic").testResult ==
        ValidationResult.PASSED)
      assert(Checks.offsetCountMatch(ledger, nEvents, "events_topic").testResult ==
        ValidationResult.PASSED)
      val arrival = spark.read.parquet(s"$root/arrival")
      assert(arrival.count() == nEvents)
      val distinctIds = arrival
        .select(split(col("value"), "\\|").getItem(0).cast("long")).distinct().count()
      assert(distinctIds == nEvents,
        s"duplicate event ids after stub replay: $distinctIds vs $nEvents")
      // arrival offsets mirror the broker's assignment exactly: contiguous
      // 0..len-1 per partition
      val offsetSpan = arrival.groupBy(col("partition"))
        .agg(min(col("offset")).as("lo"), max(col("offset")).as("hi"),
          count(lit(1)).as("n"))
        .collect()
      assert(offsetSpan.forall(r => r.getAs[Long]("lo") == 0L &&
        r.getAs[Long]("hi") == r.getAs[Long]("n") - 1L))
    }
  }
}
