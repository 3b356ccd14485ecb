package graft.tools

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.dq.Checks
import graft.model.{ScdType, StageJob, ValidationResult, Watermark}
import graft.pipeline.{Pipeline, StageRunner}
import graft.sources.AvroIo
import graft.streaming.{ArrivalJob, OffsetLedgerListener}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Scale rehearsal of the PAPER.md pipeline — kafka-shaped stream →
  * arrival (run-partitioned files + offset ledger) → avro conform →
  * staging → DWDD — driven through the real streaming engine (file source
  * or the `graft-kafka-stub` connector, checkpoint, `Trigger.AvailableNow`)
  * under the reference's rerunnability semantics (`rerunnability.sh`).
  * Each mode runs in one scratch root and writes one JSON artifact; a
  * failed run keeps its root and names it in the error.
  *
  *  - `steady [sfDir] [out]` ([[steady]]; defaults /tmp/graft_sf1,
  *    BENCH_STREAM_SF1.json): the clean run, in-process.
  *  - `crash [sfDir] [out] [file|stub]` ([[crash]]; defaults
  *    /tmp/graft_sf1, BENCH_STREAM_CRASH_SF1.json, file): the same chain
  *    killed and restarted in child JVMs.
  *  - `scd2 [sfDir] [out] [runs]` ([[scd2]]; defaults /tmp/graft_sf10,
  *    BENCH_SCD2_SF10.json, 8): SCD Type-2 churn of the customer dimension.
  */
object PipelineRehearsal {

  private[graft] val Topic = "events_topic"
  private val NParts = 32 // kafka partitions the stream is sharded into
  private val NRuns = 24 // micro-batches (one staged file each)

  /** Batch the tear child kills mid-write (of 0 until NRuns). */
  val KillBatch = 7

  private val Usage = "usage: PipelineRehearsal steady [sfDir] [out] | " +
    "crash [sfDir] [out] [file|stub] | scd2 [sfDir] [out] [runs]"

  /** The kafka record the arrival leg reads. */
  private val ArrivalSchema = StructType(Seq(
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("value", StringType)))

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("--child")) child(args(1), args(2), args(3), args(4))
    else {
      val (mode, sfDir, out, opt) = parse(args)
      if (mode == "crash") withScratch(mode)(root => writeArtifact(out, crash(root, sfDir, opt)))
      else {
        val spark = session(if (mode == "scd2") "64" else "32")
        try withScratch(mode) { root =>
          writeArtifact(out,
            if (mode == "steady") steady(spark, root, sfDir)
            else scd2(spark, root, sfDir, opt.toInt))
        } finally spark.stop()
      }
    }

  /** Mode, sf dir, artifact path and the mode's option (crash source or
    * scd2 run count) with defaults filled in. Checked before any session
    * exists, so a typo dies with the usage line, not after Spark starts.
    */
  private def parse(args: Array[String]): (String, String, String, String) = {
    val defaults = Map(
      "steady" -> Seq("/tmp/graft_sf1", "BENCH_STREAM_SF1.json"),
      "crash" -> Seq("/tmp/graft_sf1", "BENCH_STREAM_CRASH_SF1.json", "file"),
      "scd2" -> Seq("/tmp/graft_sf10", "BENCH_SCD2_SF10.json", "8"))
    val supplied = args.drop(1).toSeq
    val d = args.headOption.flatMap(defaults.get)
    require(d.exists(_.size >= supplied.size), Usage)
    val Seq(sfDir, out, opt) = (supplied ++ d.get.drop(supplied.size)).padTo(3, "")
    require(args(0) match {
      case "crash" => opt == "file" || opt == "stub"
      case "scd2" => opt.toIntOption.exists(_ > 0)
      case _ => true
    }, Usage)
    (args(0), sfDir, out, opt)
  }

  /** Run `body` in a fresh scratch root: deleted once `body` returns, kept
    * and named in the error when it throws (a failed crash run's child
    * logs are there).
    */
  private[graft] def withScratch[T](mode: String)(body: String => T): T = {
    val root = Files.createTempDirectory(s"graft_rehearsal_$mode").toString
    val result =
      try body(root)
      catch {
        case scala.util.control.NonFatal(e) => throw new IllegalStateException(
          s"$mode rehearsal failed; scratch root kept at $root: ${e.getMessage}", e)
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new File(root))
    result
  }

  /** Write `json` as one line to `path` and echo it to stdout. */
  private def writeArtifact(path: String, json: String): Unit = {
    Files.write(Paths.get(path), (json + "\n").getBytes("UTF-8"))
    println(json)
  }

  /** `v` with `digits` decimals, locale-pinned: a comma-decimal default
    * locale would write invalid JSON.
    */
  private def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  private def session(shufflePartitions: String): SparkSession =
    graft.SessionProfile.session(graft.SessionProfile.envCpus("32"),
      graft.SessionProfile.envShufflePartitions(shufflePartitions))

  /** Named wall clocks, in the order they were taken. */
  private final class Walls {
    private var laps = Vector.empty[(String, Double)]
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      laps :+= name -> (System.nanoTime() - t0) / 1e9
      r
    }
    def seq: Seq[(String, Double)] = laps
  }

  /** Listener events arrive asynchronously: wait, at most 15 s, until
    * `seen` stops growing.
    */
  private def drain(seen: => Int): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    var last = -1
    while (System.currentTimeMillis() < deadline && seen != last) {
      last = seen; Thread.sleep(200)
    }
  }

  private def requirePassed(rows: Seq[ValidationResult]): Unit =
    require(rows.forall(_.testResult == ValidationResult.PASSED), rows.mkString("\n"))

  /** Stage the events table under `root/stage_in` in the kafka shape the
    * arrival leg consumes: per-partition contiguous offsets, NRuns chunk
    * files whose strictly increasing mtimes pin the micro-batch order
    * (FileStreamSource orders by modification time; 1 s apart, since some
    * filesystems keep whole-second mtimes). Returns the event count.
    */
  private def stageKafkaShape(spark: SparkSession, sfDir: String, root: String): Long = {
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
    val dir = new File(s"$root/stage_in"); dir.mkdirs()
    (0 until NRuns).foreach { c =>
      val tmp = new File(s"$root/chunk_$c")
      keyed.filter(col("offset") >= c * blk && col("offset") < (c + 1) * blk)
        .coalesce(1).write.parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = new File(dir, f"chunk_$c%05d.parquet")
      Files.move(part.toPath, dest.toPath)
      dest.setLastModified(1700000000000L + c * 1000L)
      org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    keyed.unpersist()
    n
  }

  /** The stub connector's stream over the staged events. Each JVM
    * re-populates its in-process broker in (partition, offset) order, so
    * the broker assigns the staged offsets and a replayed epoch resolves
    * its checkpointed window to byte-identical rows.
    */
  private def stubStream(spark: SparkSession, root: String, nEvents: Long): DataFrame = {
    import graft.sources.{KafkaSource, KafkaStubBroker}
    KafkaStubBroker.clear()
    (0 until NParts).foreach(p => KafkaStubBroker.createPartition(Topic, p))
    val it = spark.read.schema(ArrivalSchema).parquet(s"$root/stage_in")
      .orderBy(col("partition"), col("offset")).toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      KafkaStubBroker.publish(Topic, r.getAs[Int]("partition"), r.getAs[String]("value"))
    }
    // Rate-limit so the run drains in ~NRuns checkpointed micro-batches
    // (the batch boundaries the kill protocol tears between).
    val cap = math.max(1L, (nEvents + NRuns - 1) / NRuns)
    KafkaSource.readStream(spark, "stub:9092", Seq(Topic),
      format = "graft-kafka-stub", maxOffsetsPerTrigger = Some(cap),
      startingOffsets = "earliest")
  }

  /** What [[chain]] leaves for the mode that ran it. */
  private final case class Chain(nEvents: Long, ledger: DataFrame, runIds: Seq[Long],
                                 continuity: ValidationResult, countMatch: ValidationResult,
                                 conformed: DataFrame, conformChecks: Seq[ValidationResult],
                                 walls: Walls)

  /** Stage → arrival → ledger audits → avro conform → conform seam checks,
    * every audit row appended to `root/audit`.
    *
    * The staged input is written once per root and reused, so every crash
    * child replays identical batches. `kill` is `none`, `tear:<batch>`
    * (halt inside that batch, between its data and ledger writes) or
    * `seam` (halt after arrival). Each run persists its per-batch
    * durations in ms (the reference's BATCH_DURATION log,
    * `KafkaDemo.sh:131-144`) to `root/batch_ms_<kill>.txt`; a torn run loses its
    * in-flight ones and the restart re-measures the replayed epochs.
    */
  private def chain(spark: SparkSession, root: String, sfDir: String, source: String,
                    kill: String): Chain = {
    import spark.implicits._
    val (data, ledger, conform) = (s"$root/arrival", s"$root/ledger", s"$root/conform")
    def logAudit(rows: Seq[ValidationResult]): Unit =
      rows.toDS().write.mode("append").parquet(s"$root/audit")
    val walls = new Walls

    val nEvents = walls("stage_kafka_shape") {
      val staged = Paths.get(s"$root/nevents.txt")
      if (Files.exists(staged)) new String(Files.readAllBytes(staged), "UTF-8").trim.toLong
      else {
        val n = stageKafkaShape(spark, sfDir, root)
        Files.write(staged, n.toString.getBytes("UTF-8"))
        n
      }
    }

    val durations = new OffsetLedgerListener
    spark.streams.addListener(durations)
    walls("arrival_stream") {
      val in =
        if (source == "stub") stubStream(spark, root, nEvents)
        else spark.readStream.schema(ArrivalSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$root/stage_in")
      in.writeStream
        .queryName("graft_arrival")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (kill == s"tear:$batchId") {
            ArrivalJob.writeData(batch, batchId, data)
            halt(s"tearing batch $batchId: data written, ledger skipped")
          } else ArrivalJob.writeBatch(batch, batchId, data, ledger)
        }
        .start().awaitTermination()
    }
    drain(durations.batchDurations.size)
    spark.streams.removeListener(durations)
    Files.write(Paths.get(s"$root/batch_ms_${kill.takeWhile(_ != ':')}.txt"),
      durations.batchDurations.map(_._2).mkString("", "\n", "\n").getBytes("UTF-8"))
    if (kill == "seam") halt("arrival complete; halting at the conform seam")

    // Run ids come from the ledger: exactly 0 until NRuns from files, as
    // many as the prorated rate limit produced from the stub. jobRunId is a
    // Hive partition column whose values come back int-inferred.
    val ledgerDf = spark.read.parquet(ledger)
    val runIds = ledgerDf.select(col("jobRunId").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    val continuity = Checks.offsetContinuity(ledgerDf, Topic)
    val countMatch = Checks.offsetCountMatch(ledgerDf, nEvents, Topic)
    requirePassed(Seq(continuity, countMatch))
    logAudit(Seq(continuity, countMatch))

    walls("conform_avro") {
      ArrivalJob.conformRuns(spark, data, conform, runIds, format = "avro")
    }
    val conformed = AvroIo.readAvro(spark, conform)
    val conformChecks = walls("conform_seam_checks") {
      val rows = Checks.standardStageChecks(spark,
        spark.read.parquet(data).select(col("value")),
        conformed.select(col("value")), "arrival_to_conform", "CONFORM")
        .collect().toSeq
      requirePassed(rows)
      logAudit(rows)
      rows
    }
    Chain(nEvents, ledgerDf, runIds, continuity, countMatch, conformed, conformChecks, walls)
  }

  private def halt(why: String): Unit = {
    System.out.println(s"[crash-child] $why, halting")
    System.out.flush()
    Runtime.getRuntime.halt(137)
  }

  /** The clean run: [[chain]], then staging over two watermark windows
    * (stored-SQL StageRunner, four checks each) and a Type-1
    * latest-event-per-user dim merge. Returns the artifact JSON: walls per
    * stage, checkpoint and ledger sizes, audit counts.
    */
  private[graft] def steady(spark: SparkSession, root: String, sfDir: String): String = {
    import spark.implicits._
    val c = chain(spark, root, sfDir, "file", kill = "none")
    val walls = c.walls
    val nRuns = c.runIds.size.toLong
    val half = (nRuns / 2).max(1L)
    val stagingPath = s"$root/staging"

    val stagingOutcomes = walls("staging_windows") {
      val field = split(col("value"), "\\|").getItem(_: Int)
      c.conformed
        .withColumn("event_id", field(0).cast("long"))
        .withColumn("user_id", field(1).cast("long"))
        .withColumn("event_type", field(2))
        .withColumn("ts_ns", field(3).cast("long"))
        .withColumn("update_job_run_id", col("job_run_id") + 1)
        .createOrReplaceTempView("conform_layer")
      Seq(Watermark(1L, half), Watermark(half + 1, nRuns)).map { wm =>
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
        require(!o.skipped, s"staging window $wm skipped")
        requirePassed(o.results)
        o.results.toDS().write.mode("append").parquet(s"$root/audit")
        o
      }
    }
    Seq("conform_layer", "staging_layer").foreach(spark.catalog.dropTempView)

    // DWDD: Type-1 latest-event-per-user dim, window 2 merged over 1.
    val nDim = walls("dim_scd1_merge") {
      val staging = spark.read.parquet(stagingPath)
      def latest(df: DataFrame): DataFrame = graft.ops.Relational
        .rankLatest(df, Seq(col("user_id")), Seq(col("ts_ns").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("ts_ns"))
      val current = latest(staging.filter(col("create_job_run_id") <= half))
      val incoming = latest(staging.filter(col("create_job_run_id") > half))
      Pipeline.applyScd(ScdType.Type1, current, incoming, Seq("user_id")).count()
    }

    val audit = spark.read.parquet(s"$root/audit")
    val (nChecks, nPassed) = (audit.count(),
      audit.filter(col("testResult") === "PASSED").count())
    def dirBytes(p: String): Long = org.apache.commons.io.FileUtils.sizeOfDirectory(new File(p))
    val wallsJson = walls.seq.map { case (k, v) => s""""$k":${num(v, 3)}""" }.mkString(",")
    s"""{"chain":"arrival(avro conform) -> staging -> 3NF/dim","sf_dir":"$sfDir",
       |"n_events":${c.nEvents},"n_kafka_partitions":$NParts,"n_runs":$nRuns,
       |"walls_sec":{$wallsJson},"total_sec":${num(walls.seq.map(_._2).sum, 3)},
       |"checkpoint_bytes":${dirBytes(s"$root/ckpt")},"ledger_bytes":${dirBytes(s"$root/ledger")},
       |"ledger_rows":${c.ledger.count()},"dim_rows":$nDim,
       |"audit_checks":$nChecks,"audit_passed":$nPassed,
       |"continuity":"${c.continuity.testResult}",
       |"n_conform_checks":${c.conformChecks.size},
       |"n_staging_windows":${stagingOutcomes.size}}""".stripMargin.replaceAll("\n", "")
  }

  /** The kill protocol: [[chain]] in three child JVMs over one
    * checkpoint, killed with real `Runtime.halt` (no shutdown hooks).
    *  1. `tear:K` — batch K writes its data files and halts before its
    *     ledger write and checkpoint commit. Exit 137.
    *  2. `seam` — the restart replays batch K from the offset WAL; the
    *     dynamic partition overwrite replaces the torn files. Arrival
    *     finishes and the child halts before conform. Exit 137.
    *  3. `none` — the restart runs the chain to its conform checks, then
    *     the duplicate audit and the dedup-state soak. Exit 0.
    * Between children the parent checks the torn state on disk; afterwards
    * it bounds the recorded batch durations. With `stub` the batch
    * boundaries come from the connector's `maxOffsetsPerTrigger` and the
    * replay reads the checkpoint's offset WAL against a re-populated
    * broker, as a restarted driver reads a real broker's retained log.
    * Returns the artifact JSON.
    */
  private[graft] def crash(root: String, sfDir: String, source: String = "file"): String = {
    val walls = new Walls
    def run(kill: String, expected: Int): Int = {
      val name = kill.takeWhile(_ != ':')
      val exit = walls(name)(runChild(root, sfDir, kill, source))
      require(exit == expected, s"$name child must exit $expected (137 is OUR halt), " +
        s"exited $exit (see $root/child_$name.log)")
      exit
    }
    val exitTear = run(s"tear:$KillBatch", 137)
    // Torn-state evidence, read straight off the filesystem: the ledger has
    // runs 0..K-1 only, while the data layer already carries job_run_id=K
    // partition dirs from the half-written batch.
    val ledgerRunsAfterTear = listRunDirs(s"$root/ledger", "jobRunId")
    val dataRunsAfterTear = listRunDirs(s"$root/arrival", "job_run_id")
    require(ledgerRunsAfterTear == (0 until KillBatch).toSet,
      s"ledger after tear must hold runs 0..${KillBatch - 1}: $ledgerRunsAfterTear")
    require(dataRunsAfterTear.contains(KillBatch),
      s"data layer must hold the torn batch $KillBatch: $dataRunsAfterTear")
    val exitSeam = run("seam", 137)
    val ledgerRunsAfterSeam = listRunDirs(s"$root/ledger", "jobRunId")
    // File mode produces exactly NRuns batches (maxFilesPerTrigger=1 over
    // NRuns staged chunks); stub mode's batch count is emergent from the
    // rate limit's prorate rounding — what MUST hold in both: the run ids
    // are contiguous from 0 (no skipped epoch), the torn batch was replayed,
    // and arrival ran past it.
    require(ledgerRunsAfterSeam == (0 until ledgerRunsAfterSeam.size).toSet &&
      ledgerRunsAfterSeam.contains(KillBatch) &&
      (source != "file" || ledgerRunsAfterSeam.size == NRuns),
      s"restart must replay the torn batch and finish all runs: $ledgerRunsAfterSeam")
    require(!new File(s"$root/conform").exists(),
      "seam kill must land before conform ran")
    val exitNone = run("none", 0)
    val childJson = new String(Files.readAllBytes(
      Paths.get(s"$root/child_result.json")), "UTF-8").trim
    val wall = walls.seq.toMap
    // Every batch the surviving children recorded must finish within the
    // budget (the reference's BATCH_DURATION expectation).
    val durBudgetMs = 600000L
    val durations = Seq("seam", "none").flatMap { m =>
      val p = Paths.get(s"$root/batch_ms_$m.txt")
      if (!Files.exists(p)) Seq.empty
      else Files.readAllLines(p).asScala.filter(_.nonEmpty).map(_.toLong)
    }
    val worstMs = durations.maxOption.getOrElse(0L)
    require(durations.nonEmpty && worstMs <= durBudgetMs,
      s"batch durations must be recorded and bounded: n=${durations.size} " +
        s"worst=${worstMs}ms budget=${durBudgetMs}ms")
    // Stub mode's batch boundaries exist ONLY because maxOffsetsPerTrigger
    // splits the AvailableNow drain, so its tear lands mid-rate-limit and
    // recovery must re-plan the remaining prorated batches from the
    // checkpointed offsets against the pinned end bound.
    s"""{"chain":"arrival(tear mid-batch) -> restart -> arrival(kill at conform seam) -> restart -> conform + audits",
       |"source":"${if (source == "stub") "graft-kafka-stub" else "file"}",
       |"sf_dir":"$sfDir","root":"$root",
       |"kill_points":[{"mode":"tear","batch":$KillBatch,"exit":$exitTear,"wall_sec":${num(wall("tear"), 1)},
       |"rate_limited":${source == "stub"},
       |"ledger_runs_after":${ledgerRunsAfterTear.size},"torn_data_run_present":true},
       |{"mode":"seam","exit":$exitSeam,"wall_sec":${num(wall("seam"), 1)},
       |"ledger_runs_after":${ledgerRunsAfterSeam.size},"conform_absent":true}],
       |"final":{"exit":$exitNone,"wall_sec":${num(wall("none"), 1)}},
       |"batch_durations":{"n":${durations.size},"worst_ms":$worstMs,
       |"mean_ms":${durations.sum / durations.size},
       |"budget_ms":$durBudgetMs,"within_budget":true},
       |"result":$childJson}""".stripMargin.replaceAll("\n", "")
  }

  private def listRunDirs(path: String, key: String): Set[Int] = {
    def walk(f: File): Seq[File] =
      if (!f.isDirectory) Seq.empty
      else f +: Option(f.listFiles()).getOrElse(Array.empty[File]).toSeq.flatMap(walk)
    walk(new File(path)).map(_.getName)
      .filter(_.startsWith(key + "="))
      .map(_.substring(key.length + 1).toInt).toSet
  }

  private def runChild(root: String, sfDir: String, kill: String, source: String): Int = {
    // The children take the module opens Spark needs from this JVM (sbt's
    // javaOptions and run_bench_raw.sh both set them).
    val addOpens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ addOpens ++ Seq(
      s"-Xmx${sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")}",
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      s"-Dspark.local.dir=$root/spark_local",
      "-cp", System.getProperty("java.class.path"),
      getClass.getName.stripSuffix("$"), "--child", root, sfDir, kill, source)
    val pb = new ProcessBuilder(cmd: _*)
    // A halted child skips Spark's shutdown hooks, so its block-manager
    // dirs go under the root, which outlives it only when the run fails.
    pb.environment().remove("SPARK_LOCAL_DIRS")
    pb.redirectErrorStream(true)
    pb.redirectOutput(new File(root, s"child_${kill.takeWhile(_ != ':')}.log"))
    pb.start().waitFor()
  }

  /** One crash child: [[chain]] (which halts the tear and seam children),
    * then the final child's duplicate audit and dedup-state soak, written
    * to `root/child_result.json`.
    */
  private def child(root: String, sfDir: String, kill: String, source: String): Unit = {
    val spark = session("32")
    val c = chain(spark, root, sfDir, source, kill)
    val ledgerRows = c.ledger.count()
    val ledgerDistinct = c.ledger
      .select(col("topicName"), col("partition"), col("jobRunId")).distinct().count()
    val arrival = spark.read.parquet(s"$root/arrival")
    val nRows = arrival.count()
    val nDistinctIds = arrival
      .select(split(col("value"), "\\|").getItem(0).cast("long")).distinct().count()
    val nConform = c.conformed.count()
    val stateLeg = dedupStateSoak(spark, root, c.nEvents)
    // chain() already required continuity and the count match
    val ok = ledgerRows == ledgerDistinct && nRows == c.nEvents &&
      nDistinctIds == c.nEvents && nConform == c.nEvents
    val json =
      s"""{"n_events":${c.nEvents},"n_runs":${c.runIds.size},
         |"continuity":"${c.continuity.testResult}","count_match":"${c.countMatch.testResult}",
         |"ledger_rows":$ledgerRows,"ledger_distinct":$ledgerDistinct,
         |"arrival_rows":$nRows,"distinct_event_ids":$nDistinctIds,
         |"conform_rows":$nConform,"zero_duplicates":${nRows == nDistinctIds && nRows == c.nEvents},
         |$stateLeg,
         |"all_green":$ok}""".stripMargin.replaceAll("\n", "")
    writeArtifact(s"$root/child_result.json", json)
    spark.stop()
    require(ok, s"post-restart audit failed: $json")
  }

  /** Watermark-bounded state soak: [[graft.streaming.Windowed.dedupStream]]
    * over the staged events in event-time order, NRuns time-range chunks,
    * with per-batch state-store metrics from the progress listener. The
    * fingerprint store must stay bounded by the 2-day watermark (rows
    * plateau, old state is evicted) instead of growing with the stream.
    * The staged (partition, offset) order has near-zero ts correlation,
    * under which a watermark would both leak state and drop most rows as
    * late; a real event stream arrives roughly in event time. Returns the
    * artifact's `dedup_state` member.
    */
  private def dedupStateSoak(spark: SparkSession, root: String, nEvents: Long): String = {
    val tsNs = split(col("value"), "\\|").getItem(3).cast("long")
    val ev = spark.read.schema(ArrivalSchema).parquet(s"$root/stage_in")
      .select(col("value").as("text"), tsNs.as("ts_ns"))
    val b = ev.agg(min(col("ts_ns")).as("lo"), max(col("ts_ns")).as("hi")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val span = math.max(hi - lo, 1L)
    val stateStage = s"$root/state_stage"
    (0 until NRuns).foreach { c =>
      ev.filter(((col("ts_ns") - lo) * NRuns.toLong / span)
          .cast("int").between(if (c == 0) Int.MinValue else c,
            if (c == NRuns - 1) Int.MaxValue else c))
        .coalesce(1).write.mode("append").parquet(stateStage)
    }
    val listener = new OffsetLedgerListener
    spark.streams.addListener(listener)
    val in = spark.readStream
      .schema(StructType(Seq(StructField("text", StringType),
        StructField("ts_ns", LongType))))
      .option("maxFilesPerTrigger", "1").parquet(stateStage)
      .withColumn("ts", expr("timestamp_micros(ts_ns DIV 1000)"))
    graft.streaming.Windowed
      .dedupStream(in.select(col("ts"), col("text")), "2 days")
      .writeStream.queryName("graft_dedup_state_soak")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/state_ckpt")
      .format("noop").start().awaitTermination()
    drain(listener.stateSnapshots.size)
    spark.streams.removeListener(listener)
    val snaps = listener.stateSnapshots
    val maxRows = if (snaps.isEmpty) 0L else snaps.map(_.numRowsTotal).max
    val maxBytes = if (snaps.isEmpty) 0L else snaps.map(_.memoryUsedBytes).max
    val removed = snaps.map(_.numRowsRemoved).sum
    // the bound: state must stay well under the stream's key count
    // (2-day horizon over a ~30-day span), and eviction must be REAL
    require(snaps.nonEmpty && removed > 0 && maxRows < nEvents / 4,
      s"dedup state must be watermark-bounded: n_snaps=${snaps.size} " +
        s"max_rows=$maxRows (events=$nEvents) removed=$removed")
    s""""dedup_state":{"n_batches":${snaps.size},"max_rows":$maxRows,""" +
      s""""max_bytes":$maxBytes,"rows_removed":$removed,""" +
      s""""watermark":"2 days","bounded":true}"""
  }

  /** SCD Type-2 churn at scale: [[Pipeline.applyScd2Dated]] over the
    * customer dimension, `runs` times, `rerunnability.sh:64-134`'s Type-2
    * dispatch at the scale where a mis-shaped merge (a version fan-out, a
    * full-history rewrite per run) shows in the wall clock. Run r churns
    * the ~2% key slice `c_custkey % 50 == r % 50` (attribute stamped with
    * r), effective at day r, and overwrites the other of two generation
    * dirs (Spark cannot overwrite the parquet it reads). Then, all
    * distributed: one open version per key, an append-exact version count,
    * validity windows chained without gap or overlap, and as-of reads that
    * serve run r's version at day r + 12h and the initial one before any
    * churn. Returns the artifact JSON.
    */
  private[graft] def scd2(spark: SparkSession, root: String, sfDir: String,
                          runs: Int): String = {
    def gen(i: Int) = s"$root/dim_gen${i % 2}"
    def day(r: Int) = to_timestamp(lit(f"2020-01-${r + 1}%02d 00:00:00"))

    val dim0 = graft.sources.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("attr"),
        col("c_mktsegment").as("segment"))
    Pipeline.scd2Init(dim0, day(0)).write.mode("overwrite").parquet(gen(0))
    val nKeys = spark.read.parquet(gen(0)).count()

    def churnSlice(r: Int): DataFrame =
      dim0.filter(col("id") % 50 === r % 50)
        .withColumn("attr", concat(lit(s"run${r}_"), col("attr")))

    val walls = new Walls
    (1 to runs).foreach { r =>
      walls(s"merge_$r") {
        Pipeline.applyScd2Dated(spark.read.parquet(gen(r - 1)), churnSlice(r),
            businessKey = Seq("id"), effectiveAt = day(r))
          .write.mode("overwrite").parquet(gen(r))
      }
    }
    val merges = walls.seq.map(_._2)

    val dim = spark.read.parquet(gen(runs))
    val openCount = dim.filter(col("record_status") === "1").count()
    val distinctKeys = dim.select(col("id")).distinct().count()
    val totalVersions = dim.count()
    val expectedChurn = (1 to runs).map(r =>
      dim0.filter(col("id") % 50 === r % 50).count()).sum
    require(openCount == distinctKeys && distinctKeys == nKeys,
      s"every key must have exactly one open version: open=$openCount keys=$distinctKeys")
    require(totalVersions == nKeys + expectedChurn,
      s"version chain must be append-exact: total=$totalVersions expected=${nKeys + expectedChurn}")

    val w = Window.partitionBy(col("id")).orderBy(col("effective_from"))
    val badChain = dim
      .withColumn("next_from", lead(col("effective_from"), 1).over(w))
      .filter(col("next_from").isNotNull &&
        (col("effective_to").isNull || col("effective_to") =!= col("next_from")))
      .limit(1).count()
    require(badChain == 0, "validity chain must close each version at the " +
      "succeeding version's effective_from")

    val dimForAsOf = dim.withColumn("effective_from", unix_micros(col("effective_from")))
    val asOfMismatch = (1 to runs).map { r =>
      val facts = churnSlice(r).select(col("id"),
        (unix_micros(day(r)) + 12L * 3600 * 1000000).as("fact_time"))
      Pipeline.lookupAsOf(facts, dimForAsOf, "id", "fact_time", Seq("attr"))
        .filter(!col("asof_attr").startsWith(s"run${r}_")).limit(1).count()
    }.sum
    require(asOfMismatch == 0, "as-of reads must serve the run-stamped version")
    val preChurn = Pipeline.lookupAsOf(
      dim0.select(col("id"), (unix_micros(day(0)) + 1000000L).as("fact_time")),
      dimForAsOf, "id", "fact_time", Seq("attr"))
      .filter(col("asof_attr").startsWith("run")).limit(1).count()
    require(preChurn == 0, "pre-churn as-of reads must serve initial versions")

    s"""{"rehearsal":"scd2_churn","sf_dir":"$sfDir","runs":$runs,
       |"n_keys":$nKeys,"churned_rows":$expectedChurn,
       |"total_versions":$totalVersions,
       |"merge_walls_sec":[${merges.map(num(_, 1)).mkString(",")}],
       |"merge_floor_sec":${num(merges.min, 1)},"merge_total_sec":${num(merges.sum, 1)},
       |"open_equals_keys":true,"chain_contiguous":true,
       |"asof_mismatches":0,"completed":true,
       |"regenerate":"tools/run_bench_raw.sh graft.tools.PipelineRehearsal scd2 $sfDir <out> $runs"}"""
      .stripMargin.replaceAll("\n", "")
  }
}
