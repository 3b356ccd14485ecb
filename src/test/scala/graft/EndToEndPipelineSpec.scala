package graft

import graft.dq.Checks
import graft.model.{ScdType, StageJob, ValidationResult, Watermark}
import graft.pipeline.{Pipeline, StageRunner}
import graft.streaming.ArrivalJob
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Full EP1 trace (SURVEY §3): Kafka-shaped stream → Arrival (run-
  * partitioned files + offset ledger) → Conform (date/source layout) →
  * Staging (stored-SQL StageRunner with the four checks) → DWDD (SCD Type 1
  * dimension merge) — with the audit log accumulating PASS rows across
  * stages, exactly the reference's validation shape end-to-end.
  */
case class EnrichFact(cust_id: String, ts: java.sql.Timestamp, basket_cents: Long)

class EndToEndPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._


  test("arrival → conform → staging → dim, all checks green") {
    implicit val sqlCtx = spark.sqlContext
    SpecIo.withTempDir("graft_e2e") { root =>
      val (data, ledger, ckpt, conform, audit) =
        (s"$root/arrival", s"$root/ledger", s"$root/ckpt", s"$root/conform", s"$root/audit")

      // ---- Arrival: two micro-batches of "orders" events ----
      val stream = MemoryStream[KRec]
      stream.addData((0L until 40L).map(o =>
        KRec("orders_topic", (o % 2).toInt, o / 2, s"order_$o|${o % 7}")))
      val q = ArrivalJob.start(stream.toDF(), data, ledger, ckpt)
      q.processAllAvailable(); q.stop()

      val ledgerDf = spark.read.parquet(ledger)
      assert(Checks.offsetContinuity(ledgerDf, "orders_topic").testResult == ValidationResult.PASSED)
      assert(Checks.offsetCountMatch(ledgerDf, 40L, "orders_topic").testResult == ValidationResult.PASSED)

      // ---- Conform: promote run 0 with date/source layout ----
      ArrivalJob.conformRuns(spark, data, conform, Seq(0L))
      val conformed = spark.read.parquet(conform)
      assert(conformed.count() == 40)

      // ---- Staging: stored-SQL job over the conformed layer ----
      // Run ids are 1-based downstream (batchId 0 → run 1): the reference's
      // (0,0) watermark sentinel means "no new data", so 0 is not a run id.
      conformed
        .withColumn("order_id", split(col("value"), "\\|").getItem(0))
        .withColumn("cust_bucket", split(col("value"), "\\|").getItem(1).cast("long"))
        .withColumn("update_job_run_id", col("job_run_id") + 1)
        .createOrReplaceTempView("conform_layer")
      // staging write (what the wrapper job would produce)
      val stagingPath = s"$root/staging"
      Pipeline.writeRun(
        spark.table("conform_layer").select(col("order_id"), col("cust_bucket")),
        stagingPath, runId = 1L)
      spark.read.parquet(stagingPath).createOrReplaceTempView("staging_layer")

      val job = StageJob(1, "conform_to_staging", "staging_layer", "STAGING",
        sourceQuery = "SELECT order_id, cust_bucket FROM conform_layer WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
        targetQuery = "SELECT order_id, cust_bucket FROM staging_layer WHERE create_job_run_id BETWEEN :min_run_id AND :max_run_id",
        nullQuery = Some("SELECT * FROM staging_layer WHERE order_id IS NULL"))
      assert(StageRunner.runJob(spark, job, Watermark(0L, 0L)).skipped)
      val outcome = StageRunner.runJob(spark, job, Watermark(1L, 1L))
      assert(!outcome.skipped)
      assert(outcome.results.forall(_.testResult == ValidationResult.PASSED))
      Seq(outcome).flatMap(_.results).toDS().write.mode("append").parquet(audit)

      // ---- DWDD: Type-1 dimension merge from staging ----
      val current = Seq(("order_0", 99L)).toDF("order_id", "cust_bucket")
      val incoming = spark.table("staging_layer").select(col("order_id"), col("cust_bucket"))
      val dim = Pipeline.applyScd(ScdType.Type1, current, incoming, Seq("order_id"))
      assert(dim.count() == 40) // order_0 upserted, not duplicated
      assert(dim.filter(col("order_id") === "order_0").head().getLong(1) != 99L)

      // ---- audit log accumulated ----
      val logged = spark.read.parquet(audit)
      assert(logged.count() == 5)
      assert(logged.filter(col("testResult") === "PASSED").count() == 5)
    }
  }

  /** The complete EP1 replay (`Insights_Kafka_ArrivalTo3NF.sh:72-805`):
    * TWO micro-batch runs through every layer — arrival → conform →
    * staging → 3NF → DWDD — with `standardStageChecks` at every seam,
    * offset continuity asserted across the runs, watermark progression
    * (run 2 only sees run 2), an idempotent staging rerun, and the whole
    * ValidationResult audit trail accumulated in ONE log and asserted in
    * one place. The per-stage specs each cover a seam; this is the proof
    * the seams compose.
    */
  test("EP1 full chain: two micro-batch runs, four layers, checks at every seam, one audit trail") {
    implicit val sqlCtx = spark.sqlContext
    SpecIo.withTempDir("graft_ep1") { root =>
      val (data, ledger, ckpt, conform, audit) =
        (s"$root/arrival", s"$root/ledger", s"$root/ckpt", s"$root/conform", s"$root/audit")
      def logAudit(rows: Seq[ValidationResult]): Unit =
        rows.toDS().write.mode("append").parquet(audit)

      // ---- Arrival: two micro-batches over 2 Kafka partitions ----
      // payload: "<order_id>|<cust_id>|<cents>"
      def rec(o: Long) = KRec("ep1_topic", (o % 2).toInt, o / 2,
        s"ord_$o|c${o % 5}|${100 + o}")
      val stream = MemoryStream[KRec]
      stream.addData((0L until 40L).map(rec))
      val q1 = ArrivalJob.start(stream.toDF(), data, ledger, ckpt)
      q1.processAllAvailable(); q1.stop()
      stream.addData((40L until 60L).map(rec))
      val q2 = ArrivalJob.start(stream.toDF(), data, ledger, ckpt)
      q2.processAllAvailable(); q2.stop()

      // seam 0: the streaming invariants, across BOTH runs
      val ledgerDf = spark.read.parquet(ledger)
      val streamingChecks = Seq(
        Checks.offsetContinuity(ledgerDf, "ep1_topic"),
        Checks.offsetCountMatch(ledgerDf, 60L, "ep1_topic"))
      assert(streamingChecks.forall(_.testResult == ValidationResult.PASSED))
      logAudit(streamingChecks)

      // ---- Conform: per run, with the arrival→conform seam checked ----
      val arrivalAll = spark.read.parquet(data)
      for (run <- Seq(0L, 1L)) {
        ArrivalJob.conformRuns(spark, data, conform, Seq(run))
        val src = arrivalAll.filter(col("job_run_id") === run).select(col("value"))
        val tgt = spark.read.parquet(conform)
          .filter(col("job_run_id") === run).select(col("value"))
        val rows = Checks.standardStageChecks(spark, src, tgt,
          s"arrival_to_conform_r$run", "CONFORM").collect().toSeq
        assert(rows.forall(_.testResult == ValidationResult.PASSED),
          rows.mkString("\n"))
        logAudit(rows)
      }

      // ---- Staging: stored-SQL job per watermark window ----
      // 1-based run ids downstream (batchId 0 → run 1): (0,0) is the
      // reference's empty-watermark sentinel.
      spark.read.parquet(conform)
        .withColumn("order_id", split(col("value"), "\\|").getItem(0))
        .withColumn("cust_id", split(col("value"), "\\|").getItem(1))
        .withColumn("cents", split(col("value"), "\\|").getItem(2).cast("long"))
        .withColumn("update_job_run_id", col("job_run_id") + 1)
        .createOrReplaceTempView("ep1_conform")
      val stagingPath = s"$root/staging"
      val control = ledgerDf.select((col("jobRunId") + 1).as("jobRunId"),
        lit(1).as("jobRunStatus")).distinct()
      val stagingJob = StageJob(1, "ep1_staging", "ep1_staging", "STAGING",
        sourceQuery = "SELECT order_id, cust_id, cents FROM ep1_conform " +
          "WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
        targetQuery = "SELECT order_id, cust_id, cents FROM ep1_staging " +
          "WHERE create_job_run_id BETWEEN :min_run_id AND :max_run_id",
        nullQuery = Some("SELECT * FROM ep1_staging WHERE order_id IS NULL OR cents IS NULL"))
      var lastConsumed = 0L
      for (run <- Seq(1L, 2L)) {
        // watermark progression: only runs above lastConsumed are visible
        val wm = StageRunner.watermarkFor(
          control.filter(col("jobRunId") <= run), lastConsumed)
        assert(wm == graft.model.Watermark(run, run), s"run $run saw $wm")
        Pipeline.writeRun(
          spark.table("ep1_conform")
            .filter(col("update_job_run_id").between(wm.minRunId, wm.maxRunId))
            .select(col("order_id"), col("cust_id"), col("cents")),
          stagingPath, runId = run)
        spark.read.parquet(stagingPath).createOrReplaceTempView("ep1_staging")
        val outcome = StageRunner.runJob(spark, stagingJob, wm)
        assert(!outcome.skipped)
        assert(outcome.results.forall(_.testResult == ValidationResult.PASSED),
          outcome.results.mkString("\n"))
        logAudit(outcome.results)
        lastConsumed = run
      }
      // consumed everything → the next watermark is the skip sentinel
      assert(StageRunner.watermarkFor(control, lastConsumed).isEmpty)
      // idempotent rerun of run 2 (the REPROCESS_FLAG path): same rows, no dupes
      val beforeRerun = spark.read.parquet(stagingPath).count()
      Pipeline.writeRun(
        spark.table("ep1_conform")
          .filter(col("update_job_run_id") === 2L)
          .select(col("order_id"), col("cust_id"), col("cents")),
        stagingPath, runId = 2L)
      assert(spark.read.parquet(stagingPath).count() == beforeRerun, "rerun duplicated rows")
      assert(Pipeline.rerunClean(spark, stagingPath, 2L, expectedCount = 20L))

      // ---- 3NF: normalize staging into orders + customers, seam-checked ----
      val staging = spark.read.parquet(stagingPath)
      val orders3nf = s"$root/tnf_orders"
      staging.select(col("order_id"), col("cust_id"), col("cents"),
          col(Pipeline.RunIdCol)).write.mode("overwrite")
        .partitionBy(Pipeline.RunIdCol).parquet(orders3nf)
      val customers3nf = staging.select(col("cust_id")).distinct()
      val tnfChecks = Checks.standardStageChecks(spark,
          staging.select(col("order_id"), col("cust_id"), col("cents")),
          spark.read.parquet(orders3nf).select(col("order_id"), col("cust_id"), col("cents")),
          "staging_to_3nf", "3NF").collect().toSeq ++
        Seq(Checks.duplicateCheck(customers3nf, "3nf_customers", "3NF"),
          Checks.nullCheck(customers3nf, "3nf_customers", "3NF"))
      assert(tnfChecks.forall(_.testResult == ValidationResult.PASSED),
        tnfChecks.mkString("\n"))
      logAudit(tnfChecks)

      // ---- DWDD: SCD2 customer dim across the two runs + fact rollup ----
      val t0 = to_timestamp(lit("2026-01-01 00:00:00"))
      val t1 = to_timestamp(lit("2026-01-02 00:00:00"))
      val custDim0 = Pipeline.scd2Init(
        spark.read.parquet(orders3nf).filter(col(Pipeline.RunIdCol) === 1L)
          .groupBy(col("cust_id")).agg(sum(col("cents")).as("ltv_cents")), t0)
      val custDim = Pipeline.applyScd2Dated(custDim0,
        spark.read.parquet(orders3nf).filter(col(Pipeline.RunIdCol) === 2L)
          .groupBy(col("cust_id")).agg(sum(col("cents")).as("ltv_cents")),
        Seq("cust_id"), t1)
      // every customer appears in run 2 → all 5 keys have a closed + an open row
      assert(custDim.filter(col("record_status") === "1").count() == 5)
      assert(custDim.filter(col("record_status") === "0").count() == 5)
      val factDagg = spark.read.parquet(orders3nf)
        .groupBy(col(Pipeline.RunIdCol).cast("long").as("run"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("revenue_cents"))
      val daggRows = factDagg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(daggRows == Map(1L -> 40L, 2L -> 20L), daggRows.toString)
      val dwddChecks = Seq(
        Checks.countMatch(custDim.filter(col("record_status") === "1"),
          customers3nf, "dwdd_cust_dim", "DWDD"),
        Checks.duplicateCheck(custDim, "dwdd_cust_dim", "DWDD"))
      assert(dwddChecks.forall(_.testResult == ValidationResult.PASSED))
      logAudit(dwddChecks)

      // ---- Streaming consumption: a LATE fact stream enriched with the
      // point-in-time SCD2 version (startAsOfEnrich), audited per batch into
      // the same ValidationResult trail — the r13 streaming-audit leg ----
      val ts0 = java.sql.Timestamp.valueOf("2026-01-01 12:00:00") // during v1
      val ts1 = java.sql.Timestamp.valueOf("2026-01-02 12:00:00") // during v2
      val factStream = MemoryStream[EnrichFact]
      factStream.addData(
        EnrichFact("c0", ts0, 500L), EnrichFact("c1", ts0, 700L),
        EnrichFact("c0", ts1, 900L))
      val qs1 = graft.streaming.Windowed.startAsOfEnrich(
        factStream.toDF(), () => custDim, "cust_id", "ts", Seq("ltv_cents"),
        s"$root/enriched", s"$root/enrich_ckpt",
        auditPath = Some(s"$root/audit_stream"))
      qs1.processAllAvailable(); qs1.stop()
      // a second batch: a straggler fact from the v1 era arrives AFTER v2
      // opened — as-of must still match its own time's version
      factStream.addData(EnrichFact("c2", ts0, 300L))
      val qs2 = graft.streaming.Windowed.startAsOfEnrich(
        factStream.toDF(), () => custDim, "cust_id", "ts", Seq("ltv_cents"),
        s"$root/enriched", s"$root/enrich_ckpt",
        auditPath = Some(s"$root/audit_stream"))
      qs2.processAllAvailable(); qs2.stop()
      val versions = custDim.collect().map(r => (r.getAs[String]("cust_id"),
        r.getAs[java.sql.Timestamp]("effective_from"),
        r.getAs[Long]("ltv_cents")))
      def expectedLtv(c: String, at: java.sql.Timestamp): Long =
        versions.filter(v => v._1 == c && !v._2.after(at)).maxBy(_._2.getTime)._3
      val enriched = spark.read.parquet(s"$root/enriched").collect()
        .map(r => (r.getAs[String]("cust_id"), r.getAs[java.sql.Timestamp]("ts"),
          r.getAs[Long]("asof_ltv_cents")))
      assert(enriched.length == 4)
      enriched.foreach { case (c, at, got) =>
        assert(got == expectedLtv(c, at), s"$c@$at point-in-time version") }

      // ---- the ONE audit trail: every seam's rows, all green ----
      val trail = spark.read.parquet(audit)
      // 2 streaming + 2×4 conform + 2×(4+1) staging + 6 3NF + 2 DWDD = 28
      assert(trail.count() == 28L, s"audit rows: ${trail.count()}")
      assert(trail.filter(col("testResult") =!= ValidationResult.PASSED).count() == 0L)
      val byStage = trail.groupBy(col("stage")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStage == Map("ARRIVAL" -> 2L, "CONFORM" -> 8L,
        "STAGING" -> 10L, "3NF" -> 6L, "DWDD" -> 2L), byStage.toString)
      // plus the streaming leg's per-batch rows (batch-keyed for idempotent
      // replay, hence a sibling dir): 4 checks × 2 micro-batches, all green
      val streamTrail = spark.read.parquet(s"$root/audit_stream")
      assert(streamTrail.count() == 8L, s"stream audit rows: ${streamTrail.count()}")
      assert(streamTrail.filter(col("testResult") =!= ValidationResult.PASSED)
        .count() == 0L)
      assert(streamTrail.select(col("stage")).distinct().collect()
        .map(_.getString(0)).toSeq == Seq("STREAM_ASOF"))
    }
  }
}
