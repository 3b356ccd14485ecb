package graft

import java.sql.Timestamp

import graft.streaming.{OffsetLedgerListener, Windowed}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

case class Ev(ts: Timestamp, event_type: String, value: Double)
case class HotEv(ts: Timestamp, user_id: Long)
case class Doc(ts: Timestamp, text: String)
case class Click(user_id: Long, click_ts: Timestamp, page: String)
case class Purchase(user_id: Long, purchase_ts: Timestamp, amount: Double)
// The "next field addition" layout for the envelope-restore test: identical
// field TYPES and POSITIONS to Windowed.EwmaState, but reservedA is RENAMED
// to a real field (eventCount). Spark's state schema check compares types,
// not names — this class is what actually exercises that contract; reusing
// EwmaState itself would pass even if the check were name-sensitive.
case class EwmaStateClaimed(version: Int, day: Long, n: Long, ewma: Long,
                            hasEwma: Boolean, lateDrops: Long = 0L,
                            eventCount: Long = 0L, reservedB: Long = 0L,
                            reservedS: String = "")

class WindowedStreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("watermarked tumbling aggregation emits closed windows, drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = Windowed.tumblingCounts(stream.toDF(), "10 minutes", "5 minutes")
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("tumbling_out").start()

    stream.addData(
      Ev(ts("2024-01-01 00:01:00"), "view", 1.0),
      Ev(ts("2024-01-01 00:05:00"), "view", 2.0),
      Ev(ts("2024-01-01 00:11:00"), "click", 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    stream.addData(Ev(ts("2024-01-01 01:00:00"), "view", 9.0))
    q.processAllAvailable()
    val rows = spark.table("tumbling_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    q.stop()
    assert(rows.contains(("2024-01-01 00:00:00.0", "view", 2L, 3.0)))
    assert(rows.contains(("2024-01-01 00:10:00.0", "click", 1L, 5.0)))
    // late event behind the watermark is dropped, not re-emitted
    stream.addData(Ev(ts("2024-01-01 00:02:00"), "view", 100.0))
  }

  test("hotKeyMonitorStream alarms only on keys that reach the window threshold") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[HotEv]
    val alarms = Windowed.hotKeyMonitorStream(
      stream.toDF(), "10 minutes", "5 minutes", threshold = 3L)
    val q = alarms.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("hotkey_out").start()

    stream.addData(
      HotEv(ts("2024-01-01 00:01:00"), 7L), // hot key: 3 events in window 0
      HotEv(ts("2024-01-01 00:02:00"), 7L),
      HotEv(ts("2024-01-01 00:03:00"), 7L),
      HotEv(ts("2024-01-01 00:04:00"), 8L), // cold key: 1 event
      HotEv(ts("2024-01-01 00:12:00"), 7L)) // next window: only 1 — cold
    q.processAllAvailable()
    // advance the watermark far enough to close both windows
    stream.addData(HotEv(ts("2024-01-01 01:00:00"), 9L))
    q.processAllAvailable()
    val rows = spark.table("hotkey_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
    q.stop()
    assert(rows.toSeq == Seq(("2024-01-01 00:00:00.0", 7L, 3L)),
      s"exactly one alarm for the hot key, got: ${rows.mkString(",")}")
  }

  test("distinctEstimateStream: a closed window reports its exact distinct count while under-full") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[HotEv]
    val est = Windowed.distinctEstimateStream(stream.toDF(), "10 minutes", "5 minutes")
    val q = est.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("kmv_out").start()
    stream.addData(
      HotEv(ts("2024-01-01 00:01:00"), 1L),
      HotEv(ts("2024-01-01 00:02:00"), 2L),
      HotEv(ts("2024-01-01 00:03:00"), 1L), // duplicate — must not count twice
      HotEv(ts("2024-01-01 00:04:00"), 3L))
    q.processAllAvailable()
    stream.addData(HotEv(ts("2024-01-01 01:00:00"), 9L)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("kmv_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
    q.stop()
    // 3 distinct keys, sketch not full (< 64) → the estimate IS exact
    assert(rows.toSeq == Seq(("2024-01-01 00:00:00.0", 3L, 3L)),
      s"got ${rows.mkString(",")}")
  }

  test("sessionWindowStats: built-in session_window closes gap-separated sessions with exact aggregates") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Windowed.SessionInput]
    val sess = Windowed.sessionWindowStats(stream.toDF(), "10 minutes", "5 minutes")
    val q = sess.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sesswin_out").start()
    stream.addData(
      Windowed.SessionInput(7L, ts("2024-01-01 00:01:00"), 1.0),
      Windowed.SessionInput(7L, ts("2024-01-01 00:05:00"), 2.0),  // same session
      Windowed.SessionInput(7L, ts("2024-01-01 00:30:00"), 4.0))  // gap > 10min: new session
    q.processAllAvailable()
    stream.addData(Windowed.SessionInput(9L, ts("2024-01-01 02:00:00"), 0.0)) // advance watermark
    q.processAllAvailable()
    val rows = spark.table("sesswin_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(3), r.getDouble(4)))
      .sortBy(_._2)
    q.stop()
    assert(rows.toSeq == Seq(
      (7L, "2024-01-01 00:01:00.0", 2L, 3.0),
      (7L, "2024-01-01 00:30:00.0", 1L, 4.0)),
      s"got ${rows.mkString(",")}")
  }

  test("enrichStream: stream-static left join enriches facts and keeps dim-less rows") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[HotEv]
    val dim = Seq((7L, "gold"), (8L, "silver")).toDF("user_id", "tier")
    val out = Windowed.enrichStream(stream.toDF(), dim, "user_id")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("enrich_out").start()
    stream.addData(
      HotEv(ts("2024-01-01 00:01:00"), 7L),
      HotEv(ts("2024-01-01 00:02:00"), 9L)) // no dim row — must survive
    q.processAllAvailable()
    val rows = spark.table("enrich_out").collect()
      .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
    q.stop()
    assert(rows == Map(7L -> Some("gold"), 9L -> None), rows.toString)
  }

  test("streaming dedup drops in-watermark duplicates, keys state by fingerprint") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val deduped = Windowed.dedupStream(stream.toDF(), "10 minutes")
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_out").start()

    stream.addData(
      Doc(ts("2024-01-01 00:01:00"), "the cat sat"),
      Doc(ts("2024-01-01 00:02:00"), "THE  CAT   SAT"), // normalized duplicate
      Doc(ts("2024-01-01 00:03:00"), "a different doc"))
    q.processAllAvailable()
    stream.addData(
      Doc(ts("2024-01-01 00:04:00"), "the cat sat"), // still within watermark
      Doc(ts("2024-01-01 00:05:00"), "third unique"))
    q.processAllAvailable()
    val texts = spark.table("dedup_out").collect().map(_.getString(1)).toSeq
    q.stop()
    assert(texts.length == 3)
    assert(texts.count(_.toLowerCase.contains("cat")) == 1)
  }

  test("curationGateStream dedups then quality-gates with observable rejects") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Doc]
    val gated = Windowed.curationGateStream(stream.toDF(), "10 minutes")
    val q = gated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gate_out").start()

    val good = "the quick brown fox jumps over the lazy dog and then runs " +
      "far away with great speed for many days while the sun sets slowly " +
      "behind tall green hills today"
    stream.addData(
      Doc(ts("2024-01-01 00:01:00"), good),
      Doc(ts("2024-01-01 00:02:00"), good.toUpperCase), // dedup removes first
      Doc(ts("2024-01-01 00:03:00"), "tiny doc"))       // quality rejects
    q.processAllAvailable()
    val out = spark.table("gate_out").collect().map(_.getString(1)).toSeq
    val metrics = q.recentProgress.flatMap { p =>
      Option(p.observedMetrics.get("graft.curation_gate"))
    }
    q.stop()
    assert(out == Seq(good))
    // dedup dropped the uppercase twin BEFORE the gate counted it; the
    // tiny doc is visible as a quality reject, not silently gone
    val totalAfterDedup = metrics.map(_.getLong(0)).sum
    val totalRejected = metrics.map(_.getLong(1)).sum
    assert(totalAfterDedup == 2L, s"after_dedup=$totalAfterDedup")
    assert(totalRejected == 1L, s"rejected=$totalRejected")
  }

  test("classifierGateStream scores per-row with an exported model and rejects spam observably") {
    implicit val sqlCtx = spark.sqlContext
    // exported model: spam tokens carry positive weight
    import graft.functions.{Classifier, Sampling}
    import org.apache.spark.sql.functions.{col, lit}
    val train = Seq((0L, "win free prize", true), (1L, "clean body text", false))
      .toDF("id", "text", "y")
    val model = Classifier.hashedLinearModel(train, col("id"), col("text"),
        col("y"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stream = MemoryStream[Doc]
    val gated = Windowed.classifierGateStream(stream.toDF(), model)
    val q = gated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("clf_gate_out").start()
    stream.addData(
      Doc(ts("2024-01-01 00:01:00"), "ordinary message body"),
      Doc(ts("2024-01-01 00:02:00"), "win a free prize now"))
    q.processAllAvailable()
    val out = spark.table("clf_gate_out").collect().map(_.getString(1)).toSeq
    val metrics = q.recentProgress.flatMap { p =>
      Option(p.observedMetrics.get("graft.classifier_gate"))
    }
    q.stop()
    assert(out == Seq("ordinary message body"))
    assert(metrics.map(_.getLong(0)).sum == 2L)
    assert(metrics.map(_.getLong(1)).sum == 1L)
  }

  test("flatMapGroupsWithState sessionization closes sessions on gap") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Windowed.SessionInput]
    val sessions = Windowed.sessionize(stream.toDS(), gapMs = 60000L,
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = sessions.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("session_out").start()

    // user 1: two events 10s apart (one session), then a 2-min jump →
    // session closes inside the same batch's sort
    stream.addData(
      Windowed.SessionInput(1L, ts("2024-01-01 00:00:00"), 1.0),
      Windowed.SessionInput(1L, ts("2024-01-01 00:00:10"), 2.0),
      Windowed.SessionInput(1L, ts("2024-01-01 00:05:00"), 7.0))
    q.processAllAvailable()
    val closed = spark.table("session_out").as[Windowed.SessionOut].collect()
    q.stop()
    assert(closed.length == 1)
    assert(closed.head.n_events == 2 && closed.head.total_value == 3.0)
    assert(closed.head.user_id == 1L)
  }

  test("streaming funnel advances stages across micro-batches with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Windowed.FunnelInput]
    val stages = Windowed.funnelStages(stream.toDS())
    val q = stages.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("funnel_out").start()
    // batch 1: user 1 signs up then clicks; a click BEFORE signup (user 2)
    // must not advance — stage order is gated on prior completion time
    stream.addData(
      Windowed.FunnelInput(1L, "signup", ts("2024-01-01 00:00:00")),
      Windowed.FunnelInput(1L, "click", ts("2024-01-01 00:01:00")),
      Windowed.FunnelInput(2L, "click", ts("2024-01-01 00:00:30")))
    q.processAllAvailable()
    // batch 2: user 1 purchases (stage 3 across a batch boundary — state
    // carried); user 2 signs up but their earlier click stays unusable
    stream.addData(
      Windowed.FunnelInput(1L, "purchase", ts("2024-01-01 00:02:00")),
      Windowed.FunnelInput(2L, "signup", ts("2024-01-01 00:03:00")))
    q.processAllAvailable()
    val out = spark.table("funnel_out").as[Windowed.FunnelOut].collect()
    q.stop()
    val u1 = out.filter(_.user_id == 1L).sortBy(_.step).map(_.stage).toSeq
    assert(u1 == Seq("signup", "signup>click", "signup>click>purchase"))
    val u2 = out.filter(_.user_id == 2L).map(_.stage).toSeq
    assert(u2 == Seq("signup"), s"pre-signup click must not count: $u2")
  }

  test("stream-stream attribution join matches purchases to in-window clicks only") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Click]
    val purchases = MemoryStream[Purchase]
    val joined = Windowed.attributionJoin(clicks.toDF(), purchases.toDF(),
      watermark = "10 minutes", maxDelay = "30 MINUTES")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("attr_out").start()

    clicks.addData(
      Click(1L, ts("2024-01-01 00:00:00"), "landing"),
      Click(1L, ts("2024-01-01 00:10:00"), "product"),
      Click(2L, ts("2024-01-01 00:00:00"), "landing"))
    purchases.addData(
      Purchase(1L, ts("2024-01-01 00:20:00"), 99.0), // within 30m of both clicks
      Purchase(2L, ts("2024-01-01 02:00:00"), 5.0))  // 2h after the click → out of window
    q.processAllAvailable()
    val rows = spark.table("attr_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("page"),
        r.getAs[Double]("amount")))
    q.stop()
    // user 1's purchase attributes to BOTH in-window clicks; user 2's to none
    assert(rows.toSet == Set((1L, "landing", 99.0), (1L, "product", 99.0)))
  }

  test("left-outer attribution join emits watermark-closed unmatched clicks with null purchase") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Click]
    val purchases = MemoryStream[Purchase]
    val joined = Windowed.attributionJoin(clicks.toDF(), purchases.toDF(),
      watermark = "10 minutes", maxDelay = "30 MINUTES", joinType = "left_outer")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("attr_outer_out").start()
    clicks.addData(
      Click(1L, ts("2024-01-01 00:00:00"), "landing"),
      Click(2L, ts("2024-01-01 00:00:00"), "orphan"))
    purchases.addData(Purchase(1L, ts("2024-01-01 00:20:00"), 99.0))
    q.processAllAvailable()
    // advance both watermarks far past click+maxDelay so the unmatched
    // click's join window provably closes and the null row can emit
    clicks.addData(Click(9L, ts("2024-01-01 06:00:00"), "later"))
    purchases.addData(Purchase(9L, ts("2024-01-01 06:00:00"), 1.0))
    q.processAllAvailable()
    val rows = spark.table("attr_outer_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("page"),
        Option(r.getAs[Any]("amount"))))
    q.stop()
    assert(rows.contains((1L, "landing", Some(99.0))), rows.mkString(","))
    assert(rows.contains((2L, "orphan", None)),
      s"watermark-closed unmatched click must emit with nulls: ${rows.mkString(",")}")
  }

  test("stream-stream join under watermark loss: a late purchase behind the " +
    "advanced watermark is dropped, an equally-old one before the advance is not") {
    // The loss mode q235_watermark_loss quantifies in batch, pinned live:
    // the SAME (click, purchase) pair matches or not depending ONLY on
    // whether the purchase arrives before or after the watermark passes
    // its event time.
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[Click]
    val purchases = MemoryStream[Purchase]
    val joined = Windowed.attributionJoin(clicks.toDF(), purchases.toDF(),
      watermark = "10 minutes", maxDelay = "30 MINUTES")
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("attr_loss_out").start()

    // batch 1: two clicks at t0; purchase A for user 1 arrives IN TIME
    clicks.addData(
      Click(1L, ts("2024-01-01 00:00:00"), "early"),
      Click(2L, ts("2024-01-01 00:00:00"), "early"))
    purchases.addData(Purchase(1L, ts("2024-01-01 00:20:00"), 10.0))
    q.processAllAvailable()
    // batch 2: both streams jump 6 hours ahead → watermark advances far
    // past 00:50 (click + maxDelay + watermark) and closes the join state
    clicks.addData(Click(9L, ts("2024-01-01 06:00:00"), "later"))
    purchases.addData(Purchase(9L, ts("2024-01-01 06:10:00"), 1.0))
    q.processAllAvailable()
    // batch 3: user 2's purchase has the SAME event time as user 1's did,
    // in-interval for its click — but it arrives BEHIND the watermark
    purchases.addData(Purchase(2L, ts("2024-01-01 00:20:00"), 20.0))
    q.processAllAvailable()
    val rows = spark.table("attr_loss_out").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Double]("amount")))
    q.stop()
    assert(rows.contains((1L, 10.0)), s"on-time purchase must match: ${rows.mkString(",")}")
    assert(rows.contains((9L, 1.0)))
    assert(!rows.exists(_._1 == 2L),
      s"a purchase behind the watermark must be DROPPED by the join, " +
        s"not matched late: ${rows.mkString(",")}")
  }

  test("ewmaAnomalyStream matches q184's closed-day rows for an in-order stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Windowed.EwmaIn]
    val q = Windowed.ewmaAnomalyStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ewma_out").start()
    def day(d: Int, n: Int): Seq[Windowed.EwmaIn] =
      (1 to n).map(i => Windowed.EwmaIn("view", ts(f"2024-01-${d}%02d 00:00:00")))
    // day 1: 8 events, day 2: 8 (stable), day 3: 32 (4x spike), day 4 opens
    in.addData(day(1, 8) ++ day(2, 8): _*)
    in.addData(day(3, 32) ++ day(4, 1): _*)
    q.processAllAvailable()
    val rows = spark.table("ewma_out").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(_._1)
    q.stop()
    val d0 = ts("2024-01-01 00:00:00").getTime / 86400000L
    // day1 closed: scored against itself, never anomalous; day2: E=8e6,
    // stable; day3: E still 8e6 (day2 == mean), 32 vs 8 → |24e6|*2 > 8e6
    assert(rows.toSeq == Seq(
      (d0, 8L, 8000000L, 0), (d0 + 1, 8L, 8000000L, 0),
      (d0 + 2, 32L, 8000000L, 1)), rows.mkString(","))
    // and the batch q184 arithmetic agrees: E after day3 = 8e6 + 24e6/8 = 11e6
    // (the open day 4 correctly emitted nothing)
    assert(!rows.exists(_._1 == d0 + 3), "open day must not emit")
  }

  test("ewmaAnomalyStream drops and counts cross-batch stragglers instead of " +
    "closing the open day with a partial count (r13 ADVICE fix)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Windowed.EwmaIn]
    val q = Windowed.ewmaAnomalyStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ewma_late_out").start()
    def ev(d: Int): Windowed.EwmaIn =
      Windowed.EwmaIn("view", ts(f"2024-02-${d}%02d 00:00:00"))
    // batch 1: day 1 (3 events), day 2 opens with 1 event → day 1 closes
    in.addData(ev(1), ev(1), ev(1), ev(2))
    q.processAllAvailable()
    // batch 2: a STRAGGLER from day 1 arrives while day 2 is open — the
    // naive fold would close day 2 at n=1 (wrong row) and re-open day 1
    // (duplicate row); the guard drops + counts it. Then day 3 opens,
    // closing day 2 with its true count of 2.
    in.addData(ev(1), ev(2), ev(3))
    q.processAllAvailable()
    val rows = spark.table("ewma_late_out").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(5))).sortBy(_._1)
    q.stop()
    val d0 = ts("2024-02-01 00:00:00").getTime / 86400000L
    assert(rows.toSeq == Seq((d0, 3L, 0L), (d0 + 1, 2L, 1L)),
      s"day rows must be unique and full-count, stragglers counted: ${rows.mkString(",")}")
  }

  test("startAsOfEnrich appends per-batch DQ audit rows next to the enriched output") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    SpecIo.withTempDir("graft_asof_audit") { root =>
      val dim = Seq((7L, ts("2024-01-01 00:00:00"), 100L))
        .toDF("item_id", "effective_from", "price")
      val stream = MemoryStream[Click]
      stream.addData(Click(7L, ts("2024-01-02 12:00:00"), "p1"),
        Click(7L, ts("2024-01-03 12:00:00"), "p2"))
      val q = Windowed.startAsOfEnrich(
        stream.toDF().withColumnRenamed("user_id", "item_id"),
        () => dim, "item_id", "click_ts", Seq("price"),
        s"$root/out", s"$root/ckpt", auditPath = Some(s"$root/audit"))
      q.processAllAvailable(); q.stop()
      stream.addData(Click(7L, ts("2024-01-04 12:00:00"), "p3"))
      val q2 = Windowed.startAsOfEnrich(
        stream.toDF().withColumnRenamed("user_id", "item_id"),
        () => dim, "item_id", "click_ts", Seq("price"),
        s"$root/out", s"$root/ckpt", auditPath = Some(s"$root/audit"))
      q2.processAllAvailable(); q2.stop()
      val audit = spark.read.parquet(s"$root/audit")
      // every micro-batch logged the full four-check seam, keyed by run
      val byRun = audit.collect()
        .groupBy(_.getAs[Number]("job_run_id").longValue())
        .map { case (k, rs) => k -> rs.map(_.getAs[String]("testCase")).sorted.toSeq }
      assert(byRun == Map(
        0L -> Seq("count_match", "data_match", "duplicate_check", "null_check"),
        1L -> Seq("count_match", "data_match", "duplicate_check", "null_check")),
        byRun.toString)
      assert(audit.collect().forall(_.getAs[String]("testResult") == "PASSED"),
        "the 1:1 as-of enrichment must pass all four checks")
      assert(audit.collect().forall(_.getAs[String]("stage") == "STREAM_ASOF"))
    }
  }

  test("startAuditedSink writes idempotent batch-stamped output + dedup/null audits") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    SpecIo.withTempDir("graft_audited_sink") { root =>
      val stream = MemoryStream[Doc]
      stream.addData(
        Doc(ts("2024-01-01 00:01:00"), "the cat sat"),
        Doc(ts("2024-01-01 00:02:00"), "THE  CAT   SAT"), // dup → dropped upstream
        Doc(ts("2024-01-01 00:03:00"), "another doc"))
      val q = Windowed.startAuditedSink(
        Windowed.dedupStream(stream.toDF(), "10 minutes"),
        s"$root/out", s"$root/ckpt", s"$root/audit",
        sourceName = "docs", stage = "STREAM_DEDUP",
        notNullCols = Seq("text"))
      q.processAllAvailable(); q.stop()
      val out = spark.read.parquet(s"$root/out")
      assert(out.count() == 2, "post-dedup batch must hold the two uniques")
      assert(out.columns.contains("job_run_id"), "output is batch-stamped")
      val audit = spark.read.parquet(s"$root/audit").collect()
      val cases = audit.map(r =>
        r.getAs[String]("testCase") -> r.getAs[String]("testResult")).toMap
      assert(cases == Map("duplicate_check" -> "PASSED", "null_check" -> "PASSED"),
        cases.toString)
      assert(audit.forall(_.getAs[String]("stage") == "STREAM_DEDUP"))
    }
  }

  test("streaming as-of enrichment joins the dim version in effect at each fact's time") {
    implicit val sqlCtx = spark.sqlContext
    import java.nio.file.Files
    SpecIo.withTempDir("graft_asof_stream") { root =>
      // SCD2 chain for key 7: price 100 until Jan 2, then 200 (open)
      val dim = Seq(
        (7L, ts("2024-01-01 00:00:00"), 100L),
        (7L, ts("2024-01-02 00:00:00"), 200L))
        .toDF("item_id", "effective_from", "price")
      val stream = MemoryStream[Click] // (user_id, click_ts, page) — reuse shape
      val q = Windowed.startAsOfEnrich(
        stream.toDF().withColumnRenamed("user_id", "item_id"),
        () => dim, "item_id", "click_ts", Seq("price"),
        s"$root/out", s"$root/ckpt")
      stream.addData(
        Click(7L, ts("2024-01-01 12:00:00"), "old"),   // version 1 in effect
        Click(7L, ts("2024-01-03 12:00:00"), "new"))   // version 2 in effect
      q.processAllAvailable(); q.stop()
      // a second batch with a LATE fact must still match its own time
      val stream2 = stream
      stream2.addData(Click(7L, ts("2024-01-01 23:00:00"), "late"))
      val q2 = Windowed.startAsOfEnrich(
        stream2.toDF().withColumnRenamed("user_id", "item_id"),
        () => dim, "item_id", "click_ts", Seq("price"),
        s"$root/out", s"$root/ckpt")
      q2.processAllAvailable(); q2.stop()
      val out = spark.read.parquet(s"$root/out")
        .collect().map(r => r.getAs[String]("page") -> r.getAs[Long]("asof_price")).toMap
      assert(out == Map("old" -> 100L, "new" -> 200L, "late" -> 100L), out.toString)
    }
  }

  test("versioned state envelope: a checkpoint written by the current layout " +
    "restores under a future version that claims a reserved slot") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.GroupStateTimeout
    SpecIo.withTempDir("env_ckpt") { ckpt =>
      val in = MemoryStream[Windowed.EwmaIn]
      def ev(d: Int) = Windowed.EwmaIn("view", ts(f"2024-03-${d}%02d 00:00:00"))
      // phase A — the "pre-change layout": the SHIPPED ewma machine writes
      // state under StateVersion with the reserved slots at their defaults.
      // foreachBatch sinks: the memory sink refuses checkpoint RECOVERY in
      // Append mode, and recovery is exactly what phase B exercises.
      val qa = Windowed.ewmaAnomalyStream(in.toDS())
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Windowed.EwmaOut], _: Long) =>
          b.count(); () // materialize: an unexecuted batch never commits state
        }
        .start()
      in.addData(ev(1), ev(1), ev(2)) // day 1 closes at n=2; day 2 open at n=1
      qa.processAllAvailable(); qa.stop()
      // phase B — the "next field addition": a NEW state class
      // (EwmaStateClaimed) with reservedA RENAMED to eventCount — same types,
      // same positions — claims the slot as a cumulative post-upgrade event
      // counter under version+1, and RESTARTS FROM PHASE A'S CHECKPOINT. This
      // is the scenario the envelope exists for: the state schema check must
      // accept the rename (it compares types, not names) and the restored
      // envelope must carry phase A's exact state into the new layout.
      val evolved = in.toDS()
        .groupByKey(_.event_type)
        .flatMapGroupsWithState[EwmaStateClaimed, (String, Int, Long, Long, Long)](
          OutputMode.Append(), GroupStateTimeout.NoTimeout) { (key, it, state) =>
          val prev = state.getOption.getOrElse(EwmaStateClaimed(
            Windowed.StateVersion + 1, -1L, 0L, 0L, hasEwma = false))
          val st = prev.copy(version = Windowed.StateVersion + 1,
            eventCount = prev.eventCount + it.size)
          state.update(st)
          Iterator((key, prev.version, prev.day, prev.n, st.eventCount))
        }
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long, Long, Long)]
      val qb = evolved.writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Int, Long, Long, Long)], _: Long) =>
          b.collect().foreach(got.add)
        }
        .start()
      in.addData(ev(2), ev(2))
      qb.processAllAvailable(); qb.stop()
      import scala.jdk.CollectionConverters._
      val rows = got.asScala.toSeq
      val d0 = ts("2024-03-01 00:00:00").getTime / 86400000L
      // restored: the OLD version stamp, day 2 open at n=1 (phase A's state,
      // not a re-init), and the claimed slot counting phase B's two events
      assert(rows == Seq(("view", Windowed.StateVersion, d0 + 1, 1L, 2L)),
        s"restore must carry phase A state into the evolved logic: ${rows.mkString(",")}")
    }
  }

  test("listener records batch durations and ledger-parses kafka offsets") {
    implicit val sqlCtx = spark.sqlContext
    val listener = new OffsetLedgerListener
    spark.streams.addListener(listener)
    try {
      val stream = MemoryStream[Ev]
      stream.addData(Ev(ts("2024-01-01 00:00:00"), "view", 1.0))
      val q = stream.toDS().writeStream.format("memory")
        .queryName("listener_out").outputMode(OutputMode.Append()).start()
      q.processAllAvailable(); q.stop()
      // allow async listener bus delivery
      var tries = 0
      while (listener.batchDurations.isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(listener.batchDurations.nonEmpty)
      // Audit-row form: generous budget passes; a zero budget makes every
      // recorded batch over-budget and must produce a FAILED row.
      val ok = listener.durationAudit(maxMs = 600000L, sourceName = "events")
      assert(ok.testResult == graft.model.ValidationResult.PASSED)
      assert(ok.testCase == "batch_duration")
      val blown = listener.durationAudit(maxMs = 0L, sourceName = "events")
      assert(blown.testResult == graft.model.ValidationResult.FAILED)
      assert(blown.comments.contains("over_budget=" + listener.batchDurations.size))
    } finally spark.streams.removeListener(listener)
  }
}
