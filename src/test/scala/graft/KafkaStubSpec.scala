package graft

import graft.model.OffsetRange
import graft.sources.{KafkaSource, KafkaStubBroker}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Drives KafkaSource.readBatch / readStream end-to-end through the
  * graft-kafka-stub DataSource V2 — the production call paths that were
  * documentation-only while the real connector jar is environment-blocked
  * (KafkaSource.scala:16-35). Asserts (a) the option maps KafkaSource builds
  * are consumed VERBATIM by the source, (b) rows match the ledger window
  * exactly, (c) connector semantics the downstream relies on: exclusive
  * endingOffsets, -1/-2 sentinels, out-of-range reads fail (data loss),
  * one InputPartition per Kafka partition, and a latest-start stream that
  * only sees post-start publishes.
  */
class KafkaStubSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def fixture(): Seq[OffsetRange] = {
    KafkaStubBroker.clear()
    // partition 0 models retention: earliest surviving offset is 5
    KafkaStubBroker.createPartition("events_raw", 0, first = 5L)
    KafkaStubBroker.createPartition("events_raw", 1)
    (0 until 12).foreach(i =>
      KafkaStubBroker.publish("events_raw", 0, s"p0-m$i", key = s"k$i", tsMs = 1700000000000L + i))
    (0 until 8).foreach(i =>
      KafkaStubBroker.publish("events_raw", 1, s"p1-m$i", tsMs = 1700000000000L + i))
    // the kafka_event ledger rows for one run: [7, 15) on p0, [2, 8) on p1
    Seq(OffsetRange("events_raw", 0, 42L, 7L, 15L),
      OffsetRange("events_raw", 1, 42L, 2L, 8L))
  }

  test("readBatch through the stub returns exactly the ledger window, options verbatim") {
    val ranges = fixture()
    val df = KafkaSource.readBatch(spark, "stub:9092", ranges, format = "graft-kafka-stub")
    val rows = df.collect().map(r => (r.getAs[String]("topic"), r.getAs[Int]("partition"),
      r.getAs[Long]("offset"), r.getAs[String]("value"))).toSet
    val expected =
      (7L until 15L).map(o => ("events_raw", 0, o, s"p0-m${o - 5}")).toSet ++
        (2L until 8L).map(o => ("events_raw", 1, o, s"p1-m$o")).toSet
    assert(rows == expected, rows.toSeq.sorted.mkString("\n"))
    // the option map KafkaSource built arrived at the source unmodified
    // (DSv2 lower-cases keys; values must be byte-identical)
    val opts = KafkaStubBroker.lastBatchOptions
    val built = KafkaSource.replayOptions(ranges)
    assert(opts("subscribe") == "events_raw")
    assert(opts("kafka.bootstrap.servers") == "stub:9092")
    assert(opts("startingoffsets") == built("startingOffsets"), opts.toString)
    assert(opts("endingoffsets") == built("endingOffsets"), opts.toString)
    assert(built("startingOffsets") == """{"events_raw":{"0":7,"1":2}}""")
    assert(built("endingOffsets") == """{"events_raw":{"0":15,"1":8}}""")
  }

  test("one InputPartition per Kafka partition — the connector's native parallelism") {
    val ranges = fixture()
    val df = KafkaSource.readBatch(spark, "stub:9092", ranges, format = "graft-kafka-stub")
    assert(df.rdd.getNumPartitions == 2)
    // per-partition counts match the per-ledger-row record counts
    val perPart = df.groupBy("partition").count().collect()
      .map(r => r.getAs[Int]("partition") -> r.getAs[Long]("count")).toMap
    assert(perPart == Map(0 -> 8L, 1 -> 6L))
    assert(ranges.map(r => r.partition -> r.recordCount).toMap == perPart.map { case (k, v) => (k, v) })
  }

  test("a window below the earliest surviving offset fails like the connector's data-loss check") {
    fixture()
    // p1's window is valid — the failure must be p0's trimmed head (the
    // offset JSON must still cover every partition, or the partial-map
    // rejection fires first)
    val bad = Seq(OffsetRange("events_raw", 0, 43L, 2L, 6L), // earliest is 5
      OffsetRange("events_raw", 1, 43L, 0L, 1L))
    val e = intercept[Exception] {
      KafkaSource.readBatch(spark, "stub:9092", bad, format = "graft-kafka-stub").collect()
    }
    // Pin the out-of-range semantics specifically — a typo'd topic or an
    // analysis error must NOT pass this test. Spark may wrap the planning
    // failure, so search the cause chain.
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("out of available range")),
      s"expected the connector-shaped data-loss message, got: $messages")
  }

  test("-2/-1 per-partition sentinels resolve to earliest/latest") {
    fixture()
    val df = spark.read.format("graft-kafka-stub")
      .option("subscribe", "events_raw")
      .option("startingOffsets", """{"events_raw":{"0":-2,"1":-2}}""")
      .option("endingOffsets", """{"events_raw":{"0":-1,"1":-1}}""")
      .load()
    val n = df.groupBy("partition").count().collect()
      .map(r => r.getAs[Int]("partition") -> r.getAs[Long]("count")).toMap
    assert(n == Map(0 -> 12L, 1 -> 8L)) // full surviving logs
  }

  test("multi-topic ledger replay: one readBatch spans topics, offsets JSON groups per topic") {
    KafkaStubBroker.clear()
    KafkaStubBroker.createPartition("orders_raw", 0)
    KafkaStubBroker.createPartition("events_raw", 0)
    (0 until 5).foreach(i => KafkaStubBroker.publish("orders_raw", 0, s"o$i"))
    (0 until 5).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"e$i"))
    val ranges = Seq(
      graft.model.OffsetRange("events_raw", 0, 9L, 1L, 4L),
      graft.model.OffsetRange("orders_raw", 0, 9L, 0L, 2L))
    val built = KafkaSource.replayOptions(ranges)
    // per-topic grouping, topics sorted — the connector's exact JSON shape
    assert(built("startingOffsets") == """{"events_raw":{"0":1},"orders_raw":{"0":0}}""")
    val rows = KafkaSource.readBatch(spark, "stub:9092", ranges, format = "graft-kafka-stub")
      .collect().map(r => (r.getAs[String]("topic"), r.getAs[Long]("offset"),
        r.getAs[String]("value"))).toSet
    assert(rows == Set(("events_raw", 1L, "e1"), ("events_raw", 2L, "e2"),
      ("events_raw", 3L, "e3"), ("orders_raw", 0L, "o0"), ("orders_raw", 1L, "o1")))
    assert(KafkaStubBroker.lastBatchOptions("subscribe").split(",").toSet ==
      Set("events_raw", "orders_raw"))
  }

  test("kafka -> arrival end-to-end through the stub: checkpointed resume picks up " +
    "post-subscription publishes and the ledger mirrors broker offsets") {
    import graft.streaming.ArrivalJob
    KafkaStubBroker.clear()
    (0 until 4).foreach(p => KafkaStubBroker.createPartition("events_raw", p))
    (0 until 20).foreach(i => KafkaStubBroker.publish("events_raw", i % 4, s"pre-$i"))
    SpecIo.withTempDir("stub_arrival") { root =>
      def arrivalOnce(): Unit = {
        val in = KafkaSource.readStream(spark, "stub:9092", Seq("events_raw"),
          format = "graft-kafka-stub")
        val q = ArrivalJob.start(in, s"$root/data", s"$root/ledger", s"$root/ckpt")
        q.awaitTermination()
      }
      arrivalOnce() // starts at LATEST: pins offsets {p: 5}, consumes nothing
      val ledgerDir = new java.io.File(s"$root/ledger")
      assert(!ledgerDir.exists() || !ledgerDir.listFiles()
        .exists(_.getName.startsWith("jobRunId=")),
        "nothing may be ledgered before the live publishes")
      val live = (0 until 12).map(i =>
        (i % 4, KafkaStubBroker.publish("events_raw", i % 4, s"live-$i")))
      arrivalOnce() // resumes from the checkpoint: exactly the post-start window
      val data = spark.read.parquet(s"$root/data")
      assert(data.count() == 12)
      val vals = data.collect().map(r =>
        (r.getAs[Int]("partition"), r.getAs[Long]("offset"), r.getAs[String]("value"))).toSet
      assert(vals == live.zipWithIndex.map { case ((p, o), i) => (p, o, s"live-$i") }.toSet)
      // ledger rows = the replayOptions shape the reference's kafka_event holds
      val ledger = spark.read.parquet(s"$root/ledger").collect().map(r =>
        (r.getAs[Int]("partition"), r.getAs[Long]("fromOffset"), r.getAs[Long]("untilOffset"))).toSet
      assert(ledger == (0 until 4).map(p => (p, 5L, 8L)).toSet, ledger.toString)
    }
  }

  test("maxOffsetsPerTrigger drains a backlog in rate-limited batches and the " +
    "ledger matches the broker exactly — the connector's admission control") {
    import graft.streaming.ArrivalJob
    KafkaStubBroker.clear()
    // 3 partitions with skewed lag: 12 + 6 + 2 = 20 records
    (0 until 3).foreach(p => KafkaStubBroker.createPartition("events_raw", p))
    (0 until 12).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"p0-$i"))
    (0 until 6).foreach(i => KafkaStubBroker.publish("events_raw", 1, s"p1-$i"))
    (0 until 2).foreach(i => KafkaStubBroker.publish("events_raw", 2, s"p2-$i"))
    SpecIo.withTempDir("stub_ratelimit") { root =>
      val in = KafkaSource.readStream(spark, "stub:9092", Seq("events_raw"),
        format = "graft-kafka-stub", maxOffsetsPerTrigger = Some(8L),
        startingOffsets = "earliest")
      val q = ArrivalJob.start(in, s"$root/data", s"$root/ledger", s"$root/ckpt")
      q.awaitTermination()
      // options are captured when the scan materializes (query start)
      assert(KafkaStubBroker.lastStreamOptions("maxoffsetspertrigger") == "8")
      // every record arrived exactly once
      val data = spark.read.parquet(s"$root/data")
      assert(data.count() == 20)
      val vals = data.collect().map(r =>
        (r.getAs[Int]("partition"), r.getAs[Long]("offset"))).toSet
      assert(vals == (0 until 12).map(o => (0, o.toLong)).toSet ++
        (0 until 6).map(o => (1, o.toLong)).toSet ++
        (0 until 2).map(o => (2, o.toLong)).toSet)
      // the run split into ≥3 batches (20 rows / cap 8) and each batch stayed
      // under the cap — read off the LEDGER, the audit-surface of record
      val ledger = spark.read.parquet(s"$root/ledger")
      val perBatch = ledger.groupBy("jobRunId")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.col("untilOffset") -
            org.apache.spark.sql.functions.col("fromOffset")).as("rows"))
        .collect().map(r => r.getAs[Long]("jobRunId") -> r.getAs[Long]("rows")).toMap
      assert(perBatch.size >= 3, s"expected >=3 rate-limited batches: $perBatch")
      assert(perBatch.values.forall(_ <= 8L), s"a batch exceeded the cap: $perBatch")
      assert(perBatch.values.sum == 20L)
      // ledger windows are seamless per partition (continuity green)
      val continuity = graft.dq.Checks.offsetContinuity(ledger, "events_raw")
      assert(continuity.testResult == graft.model.ValidationResult.PASSED)
      // proportional split: batch 0 advanced the laggiest partition the most
      val b0 = ledger.filter(org.apache.spark.sql.functions.col("jobRunId") === 0L)
        .collect().map(r => r.getAs[Int]("partition") ->
          (r.getAs[Long]("untilOffset") - r.getAs[Long]("fromOffset"))).toMap
      assert(b0.getOrElse(0, 0L) > b0.getOrElse(2, 0L),
        s"prorate must favor the laggy partition: $b0")
    }
  }

  test("startingTimestamp resolves offsetsForTimes per partition (earliest " +
    "offset with ts >= given; no-match follows " +
    "startingOffsetsByTimestampStrategy) and takes precedence over " +
    "startingOffsets — the connector's documented option priority") {
    fixture()
    // per-partition first offset with tsMs >= base+4: p0 offset 5+4=9,
    // p1 offset 4 (each partition's records start at tsMs=base)
    val starts = KafkaStubBroker.resolveByTimestamp(
      1700000000004L, Seq("events_raw"))
    assert(starts == Map(("events_raw", 0) -> 9L, ("events_raw", 1) -> 4L), starts)
    // batch read: startingTimestamp wins over an explicit startingOffsets
    val df = spark.read.format("graft-kafka-stub")
      .option("subscribe", "events_raw")
      .option("startingTimestamp", "1700000000004")
      .option("startingOffsets", """{"events_raw":{"0":5,"1":0}}""")
      .load()
    val got = df.collect().map(r =>
      (r.getAs[Int]("partition"), r.getAs[Long]("offset"))).toSet
    assert(got == ((9L until 17L).map(o => (0, o)) ++
      (4L until 8L).map(o => (1, o))).toSet, got.toSeq.sorted.mkString(","))
    // no record at/after the timestamp: strategy "error" (the connector
    // default) fails rather than silently reading unintended data...
    intercept[IllegalStateException] {
      KafkaStubBroker.resolveByTimestamp(1800000000000L, Seq("events_raw"))
    }
    // ...and strategy "latest" starts at the high-water mark
    val latests = KafkaStubBroker.resolveByTimestamp(
      1800000000000L, Seq("events_raw"), strategy = "latest")
    assert(latests == Map(("events_raw", 0) -> 17L, ("events_raw", 1) -> 8L))
  }

  test("startingTimestamp through the STREAM path: the query begins at the " +
    "resolved offsets and sees exactly the records from the timestamp on") {
    import graft.streaming.ArrivalJob
    fixture()
    SpecIo.withTempDir("stub_ts_start") { root =>
      val in = graft.sources.KafkaSource.readStream(spark, "stub:9092",
        Seq("events_raw"), format = "graft-kafka-stub",
        startingTimestamp = Some(1700000000006L))
      val q = ArrivalJob.start(in, s"$root/data", s"$root/ledger", s"$root/ckpt")
      q.awaitTermination()
      assert(KafkaStubBroker.lastStreamOptions("startingtimestamp") ==
        "1700000000006")
      val got = spark.read.parquet(s"$root/data").collect().map(r =>
        (r.getAs[Int]("partition"), r.getAs[Long]("offset"))).toSet
      // p0: first ts >= base+6 sits at offset 5+6=11 (head trimmed to 5);
      // p1: at offset 6 — the stream drains exactly from the resolved
      // starts to each high-water mark
      assert(got == ((11L until 17L).map(o => (0, o)) ++
        (6L until 8L).map(o => (1, o))).toSet,
        got.toSeq.sorted.mkString(","))
    }
  }

  test("maxOffsetsPerTrigger prorate ROUNDING pinned: floor per partition, " +
    "ceil when a partition's share is under one row (never starved), " +
    "clamped to its lag — KafkaMicroBatchStream#rateLimit's arithmetic") {
    import graft.streaming.ArrivalJob
    KafkaStubBroker.clear()
    // lags 5 and 1, cap 3: p0 share 3·5/6 = 2.5 → floor 2; p1 share
    // 3·1/6 = 0.5 → UNDER one row → ceil 1. Batch 0 must advance exactly
    // (2, 1) — a floor-only split would starve p1 for the whole drain.
    KafkaStubBroker.createPartition("events_raw", 0)
    KafkaStubBroker.createPartition("events_raw", 1)
    (0 until 5).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"p0-$i"))
    KafkaStubBroker.publish("events_raw", 1, "p1-0")
    SpecIo.withTempDir("stub_prorate") { root =>
      val in = graft.sources.KafkaSource.readStream(spark, "stub:9092",
        Seq("events_raw"), format = "graft-kafka-stub",
        maxOffsetsPerTrigger = Some(3L), startingOffsets = "earliest")
      val q = ArrivalJob.start(in, s"$root/data", s"$root/ledger", s"$root/ckpt")
      q.awaitTermination()
      val ledger = spark.read.parquet(s"$root/ledger")
      val b0 = ledger.filter(org.apache.spark.sql.functions.col("jobRunId") === 0L)
        .collect().map(r => r.getAs[Int]("partition") ->
          (r.getAs[Long]("untilOffset") - r.getAs[Long]("fromOffset"))).toMap
      assert(b0 == Map(0 -> 2L, 1 -> 1L),
        s"prorate rounding must take (2,1) in batch 0: $b0")
      // and the drain completes exactly (no row lost or duplicated)
      assert(spark.read.parquet(s"$root/data").count() == 6L)
    }
  }

  test("failOnDataLoss=false reads past a trimmed head: surviving window only, " +
    "loss recorded as a warning the arrival audit turns into a FAILED check") {
    KafkaStubBroker.clear()
    KafkaStubBroker.createPartition("events_raw", 0, first = 5L) // head trimmed to 5
    (0 until 10).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"m$i"))
    // the ledger says this run covered [2, 9) but retention ate [2, 5)
    val ranges = Seq(OffsetRange("events_raw", 0, 7L, 2L, 9L))
    val df = KafkaSource.readBatch(spark, "stub:9092", ranges,
      format = "graft-kafka-stub", failOnDataLoss = false)
    val offs = df.collect().map(_.getAs[Long]("offset")).sorted.toSeq
    // options are captured when the batch scan materializes (the collect)
    assert(KafkaStubBroker.lastBatchOptions("failondataloss") == "false")
    assert(offs == (5L until 9L), s"must emit exactly the surviving window: $offs")
    // the loss is surfaced, not swallowed
    assert(KafkaStubBroker.dataLossEvents.exists(m =>
      m.contains("(events_raw,0)") && m.contains("[2, 9)") && m.contains("[5, 15)")),
      KafkaStubBroker.dataLossEvents.toString)
    // and the arrival audit records it: expected count from the ledger (7)
    // vs what actually survived (4) — offsetCountMatch FAILS, by design
    val ledgerDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("events_raw", 0, 7L, 2L, 9L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("topicName",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("partition",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("jobRunId",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("fromOffset",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("untilOffset",
          org.apache.spark.sql.types.LongType))))
    val audit = graft.dq.Checks.offsetCountMatch(ledgerDf, df.count(), "events_raw")
    assert(audit.testResult == graft.model.ValidationResult.FAILED)
    assert(audit.comments.contains("expected=7") && audit.comments.contains("actual=4"))
    // whereas failOnDataLoss=true (the default) refuses the same read
    val e = intercept[Exception] {
      KafkaSource.readBatch(spark, "stub:9092", ranges,
        format = "graft-kafka-stub").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(msgs.exists(_.contains("out of available range")), msgs.toString)
  }

  test("readStream through the stub starts at latest and sees only post-start publishes") {
    fixture()
    val out = KafkaSource.readStream(spark, "stub:9092", Seq("events_raw"),
      format = "graft-kafka-stub")
    val q = out.writeStream.format("memory").queryName("kafka_stub_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable() // batch 0: empty (started at latest)
      assert(spark.table("kafka_stub_stream").count() == 0)
      val o1 = KafkaStubBroker.publish("events_raw", 0, "live-1")
      val o2 = KafkaStubBroker.publish("events_raw", 1, "live-2")
      q.processAllAvailable()
      val rows = spark.table("kafka_stub_stream").collect()
        .map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset"), r.getAs[String]("value"))).toSet
      assert(rows == Set((0, o1, "live-1"), (1, o2, "live-2")), rows.toString)
      // normalize() applied: the kafka-shaped downstream contract columns
      assert(spark.table("kafka_stub_stream").columns.toSeq ==
        Seq("topic", "partition", "offset", "value"))
      // the stream consumed KafkaSource's exact options
      val sopts = KafkaStubBroker.lastStreamOptions
      assert(sopts("startingoffsets") == "latest")
      assert(sopts("subscribe") == "events_raw")
    } finally q.stop()
  }

  test("partition deleted mid-stream with failOnDataLoss=false: the stream continues " +
    "and the deletion is recorded as a structured data-loss seam") {
    KafkaStubBroker.clear()
    KafkaStubBroker.createPartition("events_raw", 0)
    KafkaStubBroker.createPartition("events_raw", 1)
    (0 until 4).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"p0-m$i"))
    (0 until 3).foreach(i => KafkaStubBroker.publish("events_raw", 1, s"p1-m$i"))
    val out = KafkaSource.readStream(spark, "stub:9092", Seq("events_raw"),
      format = "graft-kafka-stub", failOnDataLoss = false,
      startingOffsets = "earliest")
    val q = out.writeStream.format("memory").queryName("stub_del_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("stub_del_stream").count() == 7)
      // the broker loses partition 1 (topic deletion / reassignment) while
      // the stream's checkpointed start still references offset 3 on it
      KafkaStubBroker.deletePartition("events_raw", 1)
      KafkaStubBroker.publish("events_raw", 0, "p0-after")
      q.processAllAvailable() // must not throw: warn-and-continue contract
      val rows = spark.table("stub_del_stream").collect()
        .map(r => (r.getAs[Int]("partition"), r.getAs[String]("value"))).toSet
      assert(rows.contains((0, "p0-after")), rows.toString)
      assert(rows.size == 8, rows.toString)
      // the seam is queryable, typed, and names the deletion — not a
      // retention trim — so the audit can attribute it correctly
      assert(KafkaStubBroker.dataLossSeams.exists(s =>
        s.topic == "events_raw" && s.partition == 1 && s.kind == "deleted_partition"),
        KafkaStubBroker.dataLossSeams.toString)
      assert(KafkaStubBroker.dataLossEvents.exists(_.contains("deleted topic-partition")),
        KafkaStubBroker.dataLossEvents.toString)
    } finally q.stop()
    // ...and failOnDataLoss=true (the default) refuses the same state
    // (checked after the stream is down — mutating the broker under a live
    // continuous-trigger stream races its next micro-batch plan)
    val e = intercept[Exception] {
      KafkaStubBroker.fetch(("events_raw", 9), 0L, 1L)
    }
    assert(e.getMessage.contains("unknown topic-partition"), e.getMessage)
  }

  test("offsetContinuityWithSeams: a ledger gap covered by a recorded retention loss " +
    "passes with the loss named; an uncovered gap still fails") {
    KafkaStubBroker.clear()
    // retention trimmed p0's head to 12; a checkpointed read from 9 clamps
    KafkaStubBroker.createPartition("events_raw", 0, first = 12L)
    (0 until 3).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"m$i"))
    KafkaStubBroker.fetch(("events_raw", 0), 9L, 15L, failOnDataLoss = false)
    val seam = KafkaStubBroker.dataLossSeams
    assert(seam == Vector(
      KafkaStubBroker.DataLossSeam("events_raw", 0, 9L, 12L, "trimmed_head")), seam.toString)
    // the trimmed-head message is attributed to retention, not a caller bug
    assert(KafkaStubBroker.dataLossEvents.exists(_.contains("trimmed head")),
      KafkaStubBroker.dataLossEvents.toString)
    import spark.implicits._
    // ledger: run 1 ended at 9, run 2 (post-trim) starts at 12 — a gap
    // exactly covered by the recorded seam; p1 has an uncovered gap
    val ledger = Seq(
      ("events_raw", 0, 1L, 5L, 9L), ("events_raw", 0, 2L, 12L, 15L),
      ("events_raw", 1, 1L, 0L, 4L), ("events_raw", 1, 2L, 6L, 8L))
      .toDF("topicName", "partition", "jobRunId", "fromOffset", "untilOffset")
    val seams = KafkaStubBroker.seamsDf(spark)
    val mixed = graft.dq.Checks.offsetContinuityWithSeams(ledger, seams, "events_raw")
    assert(mixed.testResult == graft.model.ValidationResult.FAILED)
    assert(mixed.comments.contains("1 UNEXPLAINED") && mixed.comments.contains("1 explained"),
      mixed.comments)
    val explainedOnly = graft.dq.Checks.offsetContinuityWithSeams(
      ledger.filter($"partition" === 0), seams, "events_raw")
    assert(explainedOnly.testResult == graft.model.ValidationResult.PASSED)
    assert(explainedOnly.comments.contains("explained by recorded data loss"),
      explainedOnly.comments)
    // an end-beyond-latest request is recorded as the caller bug it is
    KafkaStubBroker.fetch(("events_raw", 0), 12L, 99L, failOnDataLoss = false)
    assert(KafkaStubBroker.dataLossEvents.exists(_.contains("end beyond latest")),
      KafkaStubBroker.dataLossEvents.toString)
    assert(KafkaStubBroker.dataLossSeams.exists(s =>
      s.kind == "end_beyond_latest" && s.lostFrom == 15L && s.lostUntil == 99L),
      KafkaStubBroker.dataLossSeams.toString)
    // ...and that caller-bug seam can NEVER explain a ledger gap: this gap
    // [15, 50) is numerically covered by the [15, 99) end_beyond_latest
    // window, but no broker records were lost there — the check must
    // exclude non-broker-side kinds and stay FAILED
    val ledgerBug = Seq(
      ("events_raw", 0, 1L, 12L, 15L), ("events_raw", 0, 2L, 50L, 60L))
      .toDF("topicName", "partition", "jobRunId", "fromOffset", "untilOffset")
    val laundered = graft.dq.Checks.offsetContinuityWithSeams(
      ledgerBug, KafkaStubBroker.seamsDf(spark), "events_raw")
    assert(laundered.testResult == graft.model.ValidationResult.FAILED,
      laundered.comments)
  }

  test("offsets moved backwards (start beyond end): failOnDataLoss=false reads " +
    "nothing and records the seam; true fails the read — the connector's clamp") {
    KafkaStubBroker.clear()
    KafkaStubBroker.createPartition("events_raw", 0)
    (0 until 3).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"m$i"))
    // a checkpointed start of 20 against a recreated topic whose end is 3
    val got = KafkaStubBroker.fetch(("events_raw", 0), 20L, 3L, failOnDataLoss = false)
    assert(got.isEmpty)
    assert(KafkaStubBroker.dataLossSeams.exists(s =>
      s.kind == "start_beyond_end" && s.lostFrom == 3L && s.lostUntil == 20L),
      KafkaStubBroker.dataLossSeams.toString)
    assert(KafkaStubBroker.dataLossEvents.exists(_.contains("offsets moved backwards")),
      KafkaStubBroker.dataLossEvents.toString)
    val e = intercept[IllegalArgumentException] {
      KafkaStubBroker.fetch(("events_raw", 0), 20L, 3L)
    }
    assert(e.getMessage.contains("inverted window"), e.getMessage)
  }

  test("a start_beyond_end seam can never explain a ledger gap (caller-side " +
    "kinds are excluded from coverage, conservatively including topic-recreate)") {
    KafkaStubBroker.clear()
    KafkaStubBroker.createPartition("events_raw", 0)
    (0 until 3).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"m$i"))
    // recreated topic / stale checkpoint: start 20 vs end 3 → [3, 20) seam
    KafkaStubBroker.fetch(("events_raw", 0), 20L, 3L, failOnDataLoss = false)
    import spark.implicits._
    // a ledger gap [5, 12) sits numerically INSIDE the [3, 20) seam window
    val ledger = Seq(
      ("events_raw", 0, 1L, 0L, 5L), ("events_raw", 0, 2L, 12L, 15L))
      .toDF("topicName", "partition", "jobRunId", "fromOffset", "untilOffset")
    val res = graft.dq.Checks.offsetContinuityWithSeams(
      ledger, KafkaStubBroker.seamsDf(spark), "events_raw")
    assert(res.testResult == graft.model.ValidationResult.FAILED, res.comments)
    assert(res.comments.contains("UNEXPLAINED"), res.comments)
  }

  test("two adjacent recorded losses that JOINTLY cover one ledger gap " +
    "explain it (seams are interval-coalesced before the coverage join)") {
    KafkaStubBroker.clear()
    // retention trimmed the head to 10; two separate clamped fetches each
    // record part of the same trim: [2, 6)→seam [2, 6)... actually each
    // fetch clamps to the surviving head, so drive the seams directly via
    // two fetches over disjoint-but-adjacent lost windows
    KafkaStubBroker.createPartition("events_raw", 0, first = 10L)
    (0 until 5).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"m$i"))
    import spark.implicits._
    // two recorded broker-side losses, back to back: [2, 6) and [6, 10) —
    // the shape two clamped fetches between the same pair of ledger runs
    // leave behind (each fetch's requested window started lower)
    val seams = Seq(
      ("events_raw", 0, 2L, 6L, "trimmed_head"),
      ("events_raw", 0, 6L, 10L, "trimmed_head"))
      .toDF("topicName", "partition", "lostFrom", "lostUntil", "kind")
    // one ledger gap [2, 10): no SINGLE seam covers it, their union does
    val ledger = Seq(
      ("events_raw", 0, 1L, 0L, 2L), ("events_raw", 0, 2L, 10L, 15L))
      .toDF("topicName", "partition", "jobRunId", "fromOffset", "untilOffset")
    val res = graft.dq.Checks.offsetContinuityWithSeams(ledger, seams, "events_raw")
    assert(res.testResult == graft.model.ValidationResult.PASSED, res.comments)
    assert(res.comments.contains("explained by recorded data loss"), res.comments)
    // ...but two seams with a HOLE between them ([2, 5) + [6, 10)) must
    // not merge across the hole: offset 5 is genuinely unaccounted for
    val holed = Seq(
      ("events_raw", 0, 2L, 5L, "trimmed_head"),
      ("events_raw", 0, 6L, 10L, "trimmed_head"))
      .toDF("topicName", "partition", "lostFrom", "lostUntil", "kind")
    val holeRes = graft.dq.Checks.offsetContinuityWithSeams(ledger, holed, "events_raw")
    assert(holeRes.testResult == graft.model.ValidationResult.FAILED, holeRes.comments)
  }

  test("transactional topic: control batches occupy offsets but are never " +
    "delivered; count accounting corrects sum(until-from) by the control " +
    "offsets inside ledger windows") {
    KafkaStubBroker.clear()
    KafkaStubBroker.createPartition("events_raw", 0)
    // a transactional producer: 3 records, commit marker, 2 records,
    // commit marker → offsets 0,1,2 data; 3 control; 4,5 data; 6 control
    (0 until 3).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"a$i"))
    KafkaStubBroker.publishControl("events_raw", 0)
    (0 until 2).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"b$i"))
    KafkaStubBroker.publishControl("events_raw", 0)
    assert(KafkaStubBroker.latest(("events_raw", 0)) == 7L,
      "control markers must advance the high-water mark")
    // the read delivers ONLY the data records, with their original
    // (non-contiguous) offsets — the read_committed consumer contract
    val df = KafkaSource.readBatch(spark, "stub:9092",
      Seq(OffsetRange("events_raw", 0, 1L, 0L, 7L)), format = "graft-kafka-stub")
    val offs = df.collect().map(_.getAs[Long]("offset")).sorted.toSeq
    assert(offs == Seq(0L, 1L, 2L, 4L, 5L), s"got $offs")
    // no data-loss seam: nothing was lost, offsets were just not records
    assert(KafkaStubBroker.dataLossSeams.isEmpty,
      KafkaStubBroker.dataLossSeams.toString)
    import spark.implicits._
    val ledger = Seq(("events_raw", 0, 1L, 0L, 7L))
      .toDF("topicName", "partition", "jobRunId", "fromOffset", "untilOffset")
    // the reference's raw arithmetic (KafkaDemo.sh:202-214) would report
    // FALSE data loss here: 7 expected, 5 read
    val naive = graft.dq.Checks.offsetCountMatch(ledger, 5L, "events_raw")
    assert(naive.testResult == graft.model.ValidationResult.FAILED)
    // the txn-aware check subtracts the control offsets the window covers
    val ctl = KafkaStubBroker.controlOffsetsDf(spark)
    assert(ctl.collect().map(r => r.getAs[Long]("offset")).sorted.toSeq == Seq(3L, 6L))
    val txn = graft.dq.Checks.offsetCountMatchWithControl(ledger, ctl, 5L, "events_raw")
    assert(txn.testResult == graft.model.ValidationResult.PASSED, txn.comments)
    assert(txn.comments.contains("control=2"), txn.comments)
    // a control offset OUTSIDE every ledger window is ignored: a second
    // txn lands after the audited window closes
    (0 until 1).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"c$i"))
    KafkaStubBroker.publishControl("events_raw", 0)
    val txn2 = graft.dq.Checks.offsetCountMatchWithControl(
      ledger, KafkaStubBroker.controlOffsetsDf(spark), 5L, "events_raw")
    assert(txn2.testResult == graft.model.ValidationResult.PASSED, txn2.comments)
    // and offset continuity over consecutive runs stays green: control
    // batches do not create ledger gaps (until == next from regardless)
    val ledger2 = Seq(
      ("events_raw", 0, 1L, 0L, 7L), ("events_raw", 0, 2L, 7L, 9L))
      .toDF("topicName", "partition", "jobRunId", "fromOffset", "untilOffset")
    assert(graft.dq.Checks.offsetContinuity(ledger2, "events_raw").testResult ==
      graft.model.ValidationResult.PASSED)
  }

  test("transactional topic through the STREAMING path: the ledger windows " +
    "span control offsets, and the txn-aware count check reconciles") {
    KafkaStubBroker.clear()
    KafkaStubBroker.createPartition("events_raw", 0)
    // txn 1: data offsets 0-3, commit marker at 4
    (0 until 4).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"a$i"))
    KafkaStubBroker.publishControl("events_raw", 0)
    val listener = new graft.streaming.OffsetLedgerListener
    spark.streams.addListener(listener)
    SpecIo.withTempDir("graft_txn_stream") { out =>
      def runOnce(): Unit = {
        val q = KafkaSource.readStream(spark, "stub:9092", Seq("events_raw"),
            startingOffsets = "earliest", format = "graft-kafka-stub")
          .writeStream.format("parquet")
          .option("path", s"$out/data").option("checkpointLocation", s"$out/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
      }
      try {
        // run 1 drains txn 1 and commits the checkpoint at offset 5. Its
        // progress reports startOffset=null (batch 0 has no committed
        // offsets — the real connector does the same), so the LISTENER
        // ledger starts at run 2; see OffsetLedgerListener's scaladoc.
        runOnce()
        // txn 2 lands: data offsets 5-7, commit marker at 8
        (0 until 3).foreach(i => KafkaStubBroker.publish("events_raw", 0, s"b$i"))
        KafkaStubBroker.publishControl("events_raw", 0)
        // run 2 resumes from the checkpoint: startOffset={"0":5} is reported,
        // and the ledger row [5, 9) SPANS the trailing control marker
        runOnce()
        // listener events are delivered asynchronously — wait (bounded)
        val deadline = System.currentTimeMillis() + 30000
        while (listener.snapshot(spark).count() == 0 &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
        val ledger = listener.snapshot(spark).toDF()
        assert(ledger.count() == 1L, ledger.collect().mkString(","))
        val win = ledger.head()
        assert(win.getAs[Long]("fromOffset") == 5L &&
          win.getAs[Long]("untilOffset") == 9L, win.toString)
        // run 2 delivered the 3 data records of txn 2 (offsets 5, 6, 7)
        import spark.implicits._
        val actual = spark.read.parquet(s"$out/data")
          .filter($"offset" >= 5L).count()
        assert(actual == 3L, s"3 data records in run 2's window, got $actual")
        // raw arithmetic over the [5, 9) window overcounts by the marker...
        assert(graft.dq.Checks.offsetCountMatch(ledger, actual, "events_raw")
          .testResult == graft.model.ValidationResult.FAILED)
        // ...the txn-aware check reconciles exactly (control offset 8 is in
        // the window; offset 4 — run 1's marker — is outside it and ignored)
        val txn = graft.dq.Checks.offsetCountMatchWithControl(
          ledger, KafkaStubBroker.controlOffsetsDf(spark), actual, "events_raw")
        assert(txn.testResult == graft.model.ValidationResult.PASSED, txn.comments)
        assert(txn.comments.contains("control=1"), txn.comments)
      } finally spark.streams.removeListener(listener)
    }
  }
}
