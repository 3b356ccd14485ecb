package graft.streaming

import graft.model.OffsetRange
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.collection.mutable

/** Auditable offset ledger for the streaming leg.
  *
  * Structured Streaming checkpoints offsets internally, but the reference's
  * checks are *queryable* — `kafka_event` rows per (topic, partition, run)
  * with from/until offsets (`KafkaDemo.sh:78-84, :172-208`). This listener
  * re-materializes that ledger from `StreamingQueryProgress`, so
  * offset-continuity and expected-count validations (graft.dq.Checks) run
  * against it exactly like the reference queries its control table.
  */
final class OffsetLedgerListener extends StreamingQueryListener {
  private val rows = mutable.ArrayBuffer.empty[OffsetRange]
  private var runId = 0L

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = synchronized {
    runId += 1
    durations += event.progress.batchId -> event.progress.batchDuration
    event.progress.stateOperators.foreach { so =>
      states += StateSnapshot(event.progress.batchId, so.operatorName,
        so.numRowsTotal, so.memoryUsedBytes, so.numRowsRemoved,
        so.numRowsDroppedByWatermark)
    }
    event.progress.sources.foreach { s =>
      // Kafka source offsets are JSON {topic: {partition: offset}}. For
      // non-Kafka sources (files, memory) start/end are opaque — skipped.
      // A query's FIRST-EVER batch reports startOffset=null (there are no
      // committed offsets yet — true of the real connector too), so its
      // window is skipped: this listener ledger is complete from batch 1
      // / any restart onward. An audit that must cover batch 0 uses the
      // sink-side ledger ([[ArrivalJob.writeLedger]]), which derives
      // windows from the delivered records themselves.
      for {
        start <- Option(s.startOffset)
        end <- Option(s.endOffset)
        parsed <- parseKafkaOffsets(start, end)
      } parsed.foreach { case (topic, part, from, until) =>
        rows += OffsetRange(topic, part, runId, from, until)
      }
    }
  }

  /** Batch-duration audit: (batchId → wall ms) straight from
    * StreamingQueryProgress — the reference scrapes the same number out of
    * driver logs (`KafkaDemo.sh:94-144`).
    */
  private val durations = mutable.ArrayBuffer.empty[(Long, Long)]
  def batchDurations: Seq[(Long, Long)] = synchronized(durations.toSeq)

  /** Per-batch state-store metrics straight from
    * `StreamingQueryProgress.stateOperators` — the evidence that a
    * stateful operator's watermark actually BOUNDS its state (rows/bytes
    * plateau, evictions happen) instead of growing with the stream. Empty
    * for stateless queries.
    */
  private val states = mutable.ArrayBuffer.empty[StateSnapshot]
  def stateSnapshots: Seq[StateSnapshot] = synchronized(states.toSeq)

  /** The reference's BATCH_DURATION expectation check
    * (`KafkaDemo.sh:131-144`) as a PASS/FAIL audit row, every recorded
    * batch within `maxMs`, ready for a *_TEST_LOG-style append alongside
    * the other [[graft.dq.Checks]] results.
    */
  def durationAudit(maxMs: Long, sourceName: String): graft.model.ValidationResult =
    graft.dq.Checks.batchDurationCheck(batchDurations, maxMs, sourceName)

  def snapshot(spark: SparkSession): Dataset[OffsetRange] = synchronized {
    import spark.implicits._
    rows.toSeq.toDS()
  }

  private def parseKafkaOffsets(start: String, end: String)
      : Option[Seq[(String, Int, Long, Long)]] =
    try {
      def parse(s: String): Map[(String, Int), Long] =
        ujsonLite(s)
      val a = parse(start); val b = parse(end)
      Some(b.toSeq.map { case ((t, p), until) =>
        (t, p, a.getOrElse((t, p), 0L), until)
      })
    } catch { case _: Exception => None }

  /** Minimal parser for the Kafka offset JSON shape
    * {"topic":{"0":123,"1":456}} — avoids a JSON library dependency.
    */
  private def ujsonLite(s: String): Map[(String, Int), Long] = {
    val topicRe = """"([^"]+)"\s*:\s*\{([^}]*)\}""".r
    val pairRe = """"(\d+)"\s*:\s*(\d+)""".r
    topicRe.findAllMatchIn(s).flatMap { m =>
      val topic = m.group(1)
      pairRe.findAllMatchIn(m.group(2)).map { pm =>
        (topic, pm.group(1).toInt) -> pm.group(2).toLong
      }
    }.toMap
  }
}

/** One stateful operator's footprint in one micro-batch, as reported by
  * `StreamingQueryProgress.stateOperators`: total state rows, state-store
  * bytes, rows physically removed this batch, and input rows the
  * watermark rejected as too late. The soak artifacts bound-check
  * `numRowsTotal`/`memoryUsedBytes` over a full run — the proof that
  * [[Windowed.dedupStream]]'s fingerprint store is watermark-bounded.
  */
final case class StateSnapshot(batchId: Long, operator: String,
                               numRowsTotal: Long, memoryUsedBytes: Long,
                               numRowsRemoved: Long,
                               numRowsDroppedByWatermark: Long)
