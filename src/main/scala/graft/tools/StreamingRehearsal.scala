package graft.tools

import graft.dq.Checks
import graft.model.{ScdType, StageJob, ValidationResult, Watermark}
import graft.pipeline.{Pipeline, StageRunner}
import graft.streaming.ArrivalJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** EP1 streaming chain at rehearsal scale (the r13 verdict's ask): the
  * EndToEndPipelineSpec trace — kafka-shaped stream → Arrival (run-
  * partitioned files + offset ledger) → Conform (AVRO layout) → Staging
  * (stored-SQL StageRunner with the four checks) → DWDD (SCD Type-1
  * merge) — driven through the REAL streaming engine (file source +
  * checkpoint + Trigger.AvailableNow, maxFilesPerTrigger=1) at sf1 event
  * volume instead of a MemoryStream handful, with continuity asserted
  * over every run seam and an artifact recording wall per stage plus
  * checkpoint/ledger state size.
  *
  * The spec-sized twin proves the seams compose; this proves they
  * compose at 10× the graded volume without the driver ever holding the
  * data (the staging frame is written executor-side; MemoryStream.addData
  * would round-trip every event through the driver).
  *
  * Usage: `runMain graft.tools.StreamingRehearsal [sfDir] [outJson]`
  * (defaults /tmp/graft_sf1 and BENCH_STREAM_SF1.json).
  */
object StreamingRehearsal {

  private[tools] val Topic = "events_topic"
  private[tools] val NParts = 32 // kafka partitions the stream is sharded into
  private[tools] val NRuns = 24 // micro-batches (one staged file each)

  /** Stage the events table into the kafka shape the arrival leg consumes:
    * per-partition contiguous offsets, NRuns chunk files whose strictly
    * increasing mtimes pin the micro-batch order (FileStreamSource orders by
    * modification time; 1s apart — mtime granularity on some filesystems is
    * a full second). Shared by the clean-path rehearsal and the
    * crash-restart rehearsal. Returns the staged event count.
    */
  private[tools] def stageKafkaShape(spark: SparkSession, sfDir: String,
                                     stage: String, scratch: String): Long = {
    val ev = graft.sources.Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val keyed = ev
      .withColumn("partition", pmod(col("user_id"), lit(NParts.toLong)).cast("int"))
      .withColumn("offset",
        row_number().over(
          Window.partitionBy(col("partition")).orderBy(col("event_id")))
          .cast("long") - 1L)
      .withColumn("value",
        concat_ws("|", col("event_id"), col("user_id"), col("event_type"), col("ts")))
      .select(lit(Topic).as("topic"), col("partition"), col("offset"), col("value"))
      .persist()
    val n = keyed.count()
    val maxLen = keyed.groupBy(col("partition")).count()
      .agg(max(col("count"))).head().getLong(0)
    val blk = (maxLen + NRuns - 1) / NRuns
    val dir = new java.io.File(stage); dir.mkdirs()
    (0 until NRuns).foreach { c =>
      val tmp = s"$scratch/chunk_$c"
      keyed.filter(col("offset") >= c * blk && col("offset") < (c + 1) * blk)
        .coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new java.io.File(dir, f"chunk_$c%05d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + c * 1000L)
    }
    keyed.unpersist()
    n
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val outJson = args.lift(1).getOrElse("BENCH_STREAM_SF1.json")
    val spark = graft.SessionProfile.session(graft.SessionProfile.envCpus("32"),
      graft.SessionProfile.envShufflePartitions("32"))
    // The work dir holds every layer's copy of the events; only the
    // artifact outlives the run.
    val root = java.nio.file.Files.createTempDirectory("graft_ep1_sf1").toString
    try rehearse(spark, sfDir, outJson, root)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }

  private def rehearse(spark: SparkSession, sfDir: String, outJson: String,
                       root: String): Unit = {
    import spark.implicits._
    val (stage, data, ledger, ckpt, conform, audit) =
      (s"$root/stage_in", s"$root/arrival", s"$root/ledger", s"$root/ckpt",
        s"$root/conform", s"$root/audit")
    def logAudit(rows: Seq[ValidationResult]): Unit =
      rows.toDS().write.mode("append").parquet(audit)
    var walls = Vector.empty[(String, Double)]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      walls :+= (name, (System.nanoTime() - t0) / 1e9)
      r
    }

    // ---- Stage the kafka shape: per-partition contiguous offsets,
    // NRuns chunk files whose mtimes pin the micro-batch order ----
    val nEvents = timed("stage_kafka_shape") {
      stageKafkaShape(spark, sfDir, stage, root)
    }

    // ---- Arrival through the real streaming engine ----
    timed("arrival_stream") {
      val schema = StructType(Seq(
        StructField("topic", StringType), StructField("partition", IntegerType),
        StructField("offset", LongType), StructField("value", StringType)))
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(stage)
      val q = ArrivalJob.start(in, data, ledger, ckpt)
      q.awaitTermination()
    }

    // ---- Seam 0: streaming invariants over every run ----
    val ledgerDf = spark.read.parquet(ledger)
    val nRunsSeen = ledgerDf.select(col("jobRunId")).distinct().count()
    val streamingChecks = Seq(
      Checks.offsetContinuity(ledgerDf, Topic),
      Checks.offsetCountMatch(ledgerDf, nEvents, Topic))
    require(streamingChecks.forall(_.testResult == ValidationResult.PASSED),
      streamingChecks.mkString("\n"))
    logAudit(streamingChecks)

    // ---- Conform (AVRO, the reference's layout) + seam check ----
    timed("conform_avro") {
      ArrivalJob.conformRuns(spark, data, conform, 0L until nRunsSeen, format = "avro")
    }
    val conformed = graft.sources.AvroIo.readAvro(spark, conform)
    val conformChecks = timed("conform_seam_checks") {
      val src = spark.read.parquet(data).select(col("value"))
      val rows = Checks.standardStageChecks(spark, src,
        conformed.select(col("value")), "arrival_to_conform", "CONFORM")
        .collect().toSeq
      require(rows.forall(_.testResult == ValidationResult.PASSED), rows.mkString("\n"))
      logAudit(rows)
      rows
    }

    // ---- Staging: stored-SQL job over two watermark windows ----
    val stagingPath = s"$root/staging"
    val stagingOutcomes = timed("staging_windows") {
      conformed
        .withColumn("event_id", split(col("value"), "\\|").getItem(0).cast("long"))
        .withColumn("user_id", split(col("value"), "\\|").getItem(1).cast("long"))
        .withColumn("event_type", split(col("value"), "\\|").getItem(2))
        .withColumn("ts_ns", split(col("value"), "\\|").getItem(3).cast("long"))
        .withColumn("update_job_run_id", col("job_run_id") + 1)
        .createOrReplaceTempView("conform_layer")
      val half = (nRunsSeen / 2).max(1L)
      val windows = Seq(Watermark(1L, half), Watermark(half + 1, nRunsSeen))
      val outcomes = windows.map { wm =>
        Pipeline.writeRun(
          spark.table("conform_layer")
            .filter(col("update_job_run_id").between(wm.minRunId, wm.maxRunId))
            .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ns")),
          stagingPath, runId = wm.maxRunId)
        spark.read.parquet(stagingPath).createOrReplaceTempView("staging_layer")
        val job = StageJob(1, "conform_to_staging", "staging_layer", "STAGING",
          sourceQuery = "SELECT event_id, user_id, event_type, ts_ns FROM conform_layer " +
            "WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
          targetQuery = "SELECT event_id, user_id, event_type, ts_ns FROM staging_layer " +
            "WHERE create_job_run_id BETWEEN :min_run_id AND :max_run_id",
          nullQuery = Some("SELECT * FROM staging_layer WHERE event_id IS NULL"))
        val o = StageRunner.runJob(spark, job, wm)
        require(!o.skipped && o.results.forall(_.testResult == ValidationResult.PASSED),
          o.results.mkString("\n"))
        logAudit(o.results)
        o
      }
      outcomes
    }

    // ---- DWDD: Type-1 latest-event-per-user dim, window 2 merged over 1 ----
    val nDim = timed("dim_scd1_merge") {
      val staging = spark.read.parquet(stagingPath)
      def latest(df: DataFrame): DataFrame = graft.ops.Relational
        .rankLatest(df, Seq(col("user_id")), Seq(col("ts_ns").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("ts_ns"))
      val half = (nRunsSeen / 2).max(1L)
      val current = latest(staging.filter(col("create_job_run_id") <= half))
      val incoming = latest(staging.filter(col("create_job_run_id") > half))
      val dim = Pipeline.applyScd(ScdType.Type1, current, incoming, Seq("user_id"))
      dim.count()
    }

    // ---- Artifact ----
    val auditDf = spark.read.parquet(audit)
    val (nChecks, nPassed) = (auditDf.count(),
      auditDf.filter(col("testResult") === "PASSED").count())
    def dirBytes(p: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(p))
    }
    // Locale-pinned formatting (a comma-decimal default locale would emit
    // invalid JSON — same fix as CrashRestartRehearsal.d1).
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val wallsJson = walls.map { case (k, v) => s""""$k":${d3(v)}""" }.mkString(",")
    val json =
      s"""{"chain":"arrival(avro conform) -> staging -> 3NF/dim","sf_dir":"$sfDir",
         |"n_events":$nEvents,"n_kafka_partitions":$NParts,"n_runs":$nRunsSeen,
         |"walls_sec":{$wallsJson},"total_sec":${d3(walls.map(_._2).sum)},
         |"checkpoint_bytes":${dirBytes(ckpt)},"ledger_bytes":${dirBytes(ledger)},
         |"ledger_rows":${ledgerDf.count()},"dim_rows":$nDim,
         |"audit_checks":$nChecks,"audit_passed":$nPassed,
         |"continuity":"${streamingChecks.head.testResult}",
         |"n_conform_checks":${conformChecks.size},
         |"n_staging_windows":${stagingOutcomes.size}}""".stripMargin
        .replaceAll("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes("UTF-8"))
    println(json)
  }
}
