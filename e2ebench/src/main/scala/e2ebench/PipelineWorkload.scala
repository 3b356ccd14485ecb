package e2ebench

import graft.dq.Checks
import graft.model.{StageJob, ValidationResult, Watermark}
import graft.pipeline.{Pipeline, StageRunner}
import graft.sources.{AvroIo, KafkaSource, KafkaStubBroker}
import graft.streaming.ArrivalJob
import org.apache.spark.sql.functions._

/** `pipeline_microbatch`: one op is one micro-batch run through every layer
  * of the paper's pipeline, one run in flight at a time:
  *
  *  1. publish the run's events to the stub broker, then arrival through
  *     the streaming engine (AvailableNow) into run-partitioned files and
  *     the offset ledger;
  *  2. arrival audit: offset continuity and offset count;
  *  3. conform the run to the avro layout;
  *  4. conform audit: the four standard checks, arrival → conform;
  *  5. staging write plus the stored-SQL stage job over the run watermark;
  *  6. 3NF write plus checks;
  *  7. SCD2 user dimension, daily aggregate and the DWDD checks.
  *
  * The op ends when the last DWDD audit row is committed. The first timed
  * run is the first run of the process, at history depth 0: a warm-up run
  * costs as much as a cold timed one, which the run budget cannot carry
  * (see NOTES.md).
  */
final class PipelineWorkload extends Workload {
  import PipelineWorkload._

  private var events: Array[Ev] = Array.empty
  private var partitionOf: Long => Int = _ => 0
  private var published = 0L
  private var run = 0L
  private val usersSeen = scala.collection.mutable.HashSet.empty[Long]
  private var dirs: Dirs = _

  private final class Dirs(root: String) {
    val arrival = s"$root/arrival"; val ledger = s"$root/ledger"
    val ckpt = s"$root/checkpoint"; val conform = s"$root/conform"
    val staging = s"$root/staging"; val tnfEvents = s"$root/tnf_events"
    val tnfUsers = s"$root/tnf_users"; val dim = s"$root/dwdd_user_dim"
    val dagg = s"$root/dwdd_daily_agg"; val audit = s"$root/audit"
    def stored: Seq[String] =
      Seq(arrival, ledger, ckpt, conform, staging, tnfEvents, tnfUsers, dim, dagg)
  }

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    dirs = new Dirs(s"${ctx.workDir}/pipeline")
    KafkaStubBroker.clear()
    (0 until Partitions).foreach(p => KafkaStubBroker.createPartition(Topic, p))
    // The seed fixes the publish order and the user → partition map; the
    // program only ever sees the records.
    val rows = graft.sources.Tables.load(spark, ctx.dataDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        (round(col("value") * 100)).cast("long"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(_.eventId)
    events = Workload.shuffled(rows, ctx.seed)
    val salt = ctx.seed
    partitionOf = u => Math.floorMod(scala.util.hashing.MurmurHash3.mix(salt.toInt, u.toInt), Partitions)
  }

  def run(ctx: Ctx): Outcome = {
    val n = math.max(1, math.round(ctx.seconds / NominalOpSeconds).toInt)
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    var failed = 0
    val opSpans = scala.collection.mutable.ArrayBuffer.empty[Int]
    val firstMs = System.currentTimeMillis()
    val w0 = System.nanoTime()
    (0 until n).foreach { _ =>
      val (s, failures) = try op(ctx, opSpans) catch {
        case scala.util.control.NonFatal(e) => (0.0, Seq(s"run $run threw $e"))
      }
      if (failures.isEmpty) lat += s
      else { failed += 1; System.err.println(s"[e2ebench] FAILED op: ${failures.mkString("; ")}") }
    }
    val window = (System.nanoTime() - w0) / 1e9
    val eventsDone = EventsPerOp.toLong * (n - failed)
    val stored = dirs.stored.map(Workload.dirBytes).sum.toDouble / published
    val layers = if (ctx.traced) layerMetrics(ctx, opSpans.toSeq, stored) else Nil
    Outcome(n, failed, lat.toSeq, window, eventsDone / window, firstMs, layers,
      Seq("events_per_op" -> EventsPerOp.toString,
        "stored_bytes_per_event" -> f"$stored%.1f") ++
        (if (ctx.traced) Seq("layer_share" -> layerShare(ctx, opSpans.toSeq).mkString(",")) else Nil))
  }

  /** Per op, the sum of its layer-call times over its latency. */
  private def layerShare(ctx: Ctx, opIds: Seq[Int]): Seq[String] = {
    val spans = ctx.trace.spans
    opIds.map { id =>
      val op = spans.find(_.id == id).get
      val layers = spans.filter(s => s.parent == id && Layers.contains(s.name)).map(_.seconds).sum
      f"${layers / op.seconds}%.4f"
    }
  }

  /** One run through every layer; returns its latency (first event
    * published to last DWDD audit row committed) and the failed gates
    * (empty = pass). `opSpans` collects the op span ids in traced runs.
    */
  private def op(ctx: Ctx, opSpans: scala.collection.mutable.Buffer[Int]): (Double, Seq[String]) = {
    val spark = ctx.spark
    val tr = ctx.trace
    import spark.implicits._
    run += 1
    val r = run
    val batchId = r - 1
    val slice = events.slice(((r - 1) * EventsPerOp).toInt, (r * EventsPerOp).toInt)
    require(slice.length == EventsPerOp, s"the events table is too small for run $r")
    val audit = scala.collection.mutable.ArrayBuffer.empty[ValidationResult]
    def logAudit(rows: Seq[ValidationResult]): Unit = {
      audit ++= rows
      rows.toDS().write.mode("append").parquet(dirs.audit)
    }
    val t0 = System.nanoTime()
    tr.span("pipeline.run") {
      if (tr.enabled) opSpans += tr.spans.last.id
      tr.span("streaming.arrival") {
        slice.foreach { e =>
          KafkaStubBroker.publish(Topic, partitionOf(e.userId), e.payload, key = e.userId.toString)
        }
        published += slice.length
        val in = KafkaSource.readStream(spark, "stub:0", Seq(Topic),
          format = "graft-kafka-stub", startingOffsets = "earliest")
        ArrivalJob.start(in, dirs.arrival, dirs.ledger, dirs.ckpt).awaitTermination()
      }
      tr.span("dq.arrival_audit") {
        val ledger = spark.read.parquet(dirs.ledger)
        logAudit(Seq(Checks.offsetContinuity(ledger, Topic),
          Checks.offsetCountMatch(ledger, published, Topic)))
      }
      tr.span("sources.conform") {
        val before = if (tr.enabled) Workload.dirBytes(dirs.conform) else 0L
        ArrivalJob.conformRuns(spark, dirs.arrival, dirs.conform, Seq(batchId), format = "avro")
        if (tr.enabled) tr.count("bytes_written", (Workload.dirBytes(dirs.conform) - before).toDouble)
      }
      tr.span("dq.conform_audit") {
        val src = spark.read.parquet(dirs.arrival)
          .filter(col("job_run_id") === batchId).select(col("value"))
        val tgt = AvroIo.readAvro(spark, dirs.conform)
          .filter(col("job_run_id") === batchId).select(col("value"))
        logAudit(Checks.standardStageChecks(spark, src, tgt, s"arrival_to_conform_r$r", "CONFORM")
          .collect().toSeq)
      }
      tr.span("pipeline.staging") {
        val fields = split(col("value"), "\\|")
        AvroIo.readAvro(spark, dirs.conform)
          .select(fields.getItem(0).cast("long").as("event_id"),
            fields.getItem(1).cast("long").as("user_id"),
            fields.getItem(2).as("event_type"),
            fields.getItem(3).cast("long").as("ts_ns"),
            fields.getItem(4).cast("long").as("value_cents"),
            (col("job_run_id") + 1).as("update_job_run_id"))
          .createOrReplaceTempView("e2e_conform")
        Pipeline.writeRun(spark.table("e2e_conform")
          .filter(col("update_job_run_id") === r).drop("update_job_run_id"), dirs.staging, r)
        spark.read.parquet(dirs.staging).createOrReplaceTempView("e2e_staging")
        logAudit(StageRunner.runJob(spark, StagingJob, Watermark(r, r)).results)
      }
      tr.span("pipeline.tnf") {
        val staged = spark.read.parquet(dirs.staging)
          .filter(col(Pipeline.RunIdCol) === r).select(FactCols.map(col): _*)
        Pipeline.writeRun(staged, dirs.tnfEvents, r)
        Pipeline.writeRun(staged.select(col("user_id")).distinct(), dirs.tnfUsers, r)
        val fact = spark.read.parquet(dirs.tnfEvents)
          .filter(col(Pipeline.RunIdCol) === r).select(FactCols.map(col): _*)
        val users = spark.read.parquet(dirs.tnfUsers)
          .filter(col(Pipeline.RunIdCol) === r).select(col("user_id"))
        logAudit(Checks.standardStageChecks(spark, staged, fact, s"staging_to_3nf_r$r", "3NF")
          .collect().toSeq ++
          Seq(Checks.duplicateCheck(users, s"3nf_users_r$r", "3NF"),
            Checks.nullCheck(users, s"3nf_users_r$r", "3NF")))
      }
      tr.span("pipeline.dwdd") {
        val fact = spark.read.parquet(dirs.tnfEvents).filter(col(Pipeline.RunIdCol) === r)
        val incoming = fact.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), max(col("ts_ns")).as("last_ts_ns"))
        val effectiveAt = timestamp_seconds(lit(EffectiveBase + 60L * r))
        val current =
          if (r == 1) Pipeline.scd2Init(incoming.limit(0), effectiveAt)
          else spark.read.parquet(s"${dirs.dim}/v=${r - 1}")
        Pipeline.applyScd2Dated(current, incoming, Seq("user_id"), effectiveAt)
          .write.mode("overwrite").parquet(s"${dirs.dim}/v=$r")
        Pipeline.writeRun(fact.groupBy((col("ts_ns") / 86400000000000L).cast("long").as("day"))
          .agg(count(lit(1)).as("n_events"), sum(col("value_cents")).as("value_cents")),
          dirs.dagg, r)
        val open = spark.read.parquet(s"${dirs.dim}/v=$r").filter(col("record_status") === "1")
        val allUsers = spark.read.parquet(dirs.tnfUsers).select(col("user_id")).distinct()
        logAudit(Seq(
          Checks.countMatch(open.select(col("user_id")), allUsers, s"dwdd_user_dim_r$r", "DWDD"),
          Checks.duplicateCheck(open.select(col("user_id")), s"dwdd_user_dim_r$r", "DWDD")))
      }
    }
    val latency = (System.nanoTime() - t0) / 1e9
    // Correctness gate, outside the op's time: every audit row passed, the
    // open dimension versions are the users seen so far, and the daily
    // aggregate holds every event published.
    slice.foreach(e => usersSeen += e.userId)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    audit.filter(_.testResult != ValidationResult.PASSED)
      .foreach(a => failures += s"audit ${a.sourceName}/${a.testCase}: ${a.testResult} ${a.comments}")
    if (audit.size != AuditRowsPerRun) failures += s"run $r wrote ${audit.size} audit rows"
    val openVersions = spark.read.parquet(s"${dirs.dim}/v=$r")
      .filter(col("record_status") === "1").count()
    if (openVersions != usersSeen.size)
      failures += s"open dim versions $openVersions != users seen ${usersSeen.size}"
    val daggEvents = spark.read.parquet(dirs.dagg).agg(sum(col("n_events"))).head().getLong(0)
    if (daggEvents != published) failures += s"DAGG events $daggEvents != published $published"
    // Only the last two dimension versions are ever read.
    deleteTree(new java.io.File(s"${dirs.dim}/v=${r - 2}"))
    Workload.evict(spark)
    (latency, failures.toSeq)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def layerMetrics(ctx: Ctx, opIds: Seq[Int], storedPerEvent: Double): Seq[Metric] = {
    ctx.trace.drain()
    val spans = ctx.trace.spans
    val jobs = ctx.trace.jobs
    val ops = opIds.map(id => spans.find(_.id == id).get)
    def med(f: Span => Double): Double = Stats.median(ops.map(f))
    def layer(op: Span, name: String): Span =
      spans.find(s => s.parent == op.id && s.name == name).get
    def layerJobs(op: Span, name: String) = Trace.jobsUnder(layer(op, name), spans, jobs)
    val perLayer = Layers.flatMap { name =>
      val base = Seq(
        Metric(s"$name.s", med(op => layer(op, name).seconds), "s"),
        Metric(s"$name.jobs", med(op => layerJobs(op, name).size.toDouble), "count"))
      val extra = name match {
        case "sources.conform" => Seq(Metric(s"$name.bytes_written",
          med(op => layer(op, name).counts.getOrElse("bytes_written", 0.0)), "bytes"))
        case "dq.conform_audit" | "pipeline.staging" => Seq(Metric(s"$name.tasks",
          med(op => layerJobs(op, name).map(_.tasks).sum.toDouble), "count"))
        case _ => Nil
      }
      base ++ extra
    }
    val run = Seq(
      Metric("pipeline.run.jobs", med(op => Trace.jobsUnder(op, spans, jobs).size.toDouble), "count"),
      Metric("pipeline.run.driver_only_s",
        med(op => Trace.driverOnlySeconds(op, Trace.jobsUnder(op, spans, jobs))), "s"),
      Metric("pipeline.run.busy_s",
        med(op => Trace.jobsUnder(op, spans, jobs).map(_.busyMs).sum / 1000.0), "s"),
      Metric("pipeline.run.fs_ops", med(_.counts.getOrElse("fs_ops", 0.0)), "count"),
      Metric("pipeline.run.stored_bytes_per_event", storedPerEvent, "bytes"))
    perLayer ++ run
  }
}

object PipelineWorkload {
  val Topic = "e2e_events"
  val Partitions = 4
  val EventsPerOp = 2000
  /** Validity start of run r's dimension versions: 2024-02-01 plus r minutes. */
  private val EffectiveBase = 1706745600L
  /** Planning figure for the op count: ops = seconds / this, at least 1. */
  val NominalOpSeconds = 20.0
  val Layers: Seq[String] = Seq("streaming.arrival", "dq.arrival_audit", "sources.conform",
    "dq.conform_audit", "pipeline.staging", "pipeline.tnf", "pipeline.dwdd")
  /** 2 arrival + 4 conform + 5 staging + 6 3NF + 2 DWDD. */
  val AuditRowsPerRun = 19
  private val FactCols = Seq("event_id", "user_id", "event_type", "ts_ns", "value_cents")

  final case class Ev(eventId: Long, userId: Long, eventType: String, tsNs: Long, valueCents: Long) {
    def payload: String = s"$eventId|$userId|$eventType|$tsNs|$valueCents"
  }

  private val StagingJob = StageJob(1, "conform_to_staging", "e2e_staging", "STAGING",
    sourceQuery = "SELECT event_id, user_id, event_type, ts_ns, value_cents FROM e2e_conform " +
      "WHERE update_job_run_id BETWEEN :min_run_id AND :max_run_id",
    targetQuery = "SELECT event_id, user_id, event_type, ts_ns, value_cents FROM e2e_staging " +
      "WHERE create_job_run_id BETWEEN :min_run_id AND :max_run_id",
    nullQuery = Some("SELECT * FROM e2e_staging WHERE event_id IS NULL OR user_id IS NULL"))
}
