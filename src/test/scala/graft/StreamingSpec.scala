package graft

import graft.dq.Checks
import graft.model.ValidationResult
import graft.streaming.ArrivalJob
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming invariants from SURVEY §5.3 — offset continuity, expected
  * counts, per-run file layout — driven through MemoryStream the way the
  * reference drives them through live Kafka (`KafkaDemo.sh:184-295`).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._


  test("arrival stream writes run-partitioned layout + continuous ledger") {
    implicit val sqlCtx = spark.sqlContext
    SpecIo.withTempDir("graft_arrival") { dir =>
      val (data, ledger, ckpt) = (s"$dir/data", s"$dir/ledger", s"$dir/ckpt")

      val stream = MemoryStream[KRec]
      stream.addData((0L until 50L).map(o => KRec("t1", (o % 2).toInt, o / 2, s"v$o")))
      val q1 = ArrivalJob.start(stream.toDF(), data, ledger, ckpt)
      q1.processAllAvailable(); q1.stop()

      stream.addData((50L until 80L).map(o => KRec("t1", (o % 2).toInt, o / 2, s"v$o")))
      val q2 = ArrivalJob.start(stream.toDF(), data, ledger, ckpt)
      q2.processAllAvailable(); q2.stop()

      val arrived = spark.read.parquet(data)
      assert(arrived.count() == 80)
      // Hive layout: topic/partition/run — per-run pruning is a partition filter
      assert(arrived.filter(col("job_run_id") === 0L).count() == 50)
      assert(arrived.select(col("partition")).distinct().count() == 2)

      val led = spark.read.parquet(ledger)
      assert(led.count() == 4) // 2 batches × 2 partitions
      val continuity = Checks.offsetContinuity(led, "t1")
      assert(continuity.testResult == ValidationResult.PASSED)
      assert(Checks.offsetCountMatch(led, 80L, "t1").testResult == ValidationResult.PASSED)
    }
  }

  test("a retried micro-batch is idempotent: replay replaces its own run, duplicates nothing") {
    implicit val sqlCtx = spark.sqlContext
    SpecIo.withTempDir("graft_retry") { dir =>
      val (data, ledger) = (s"$dir/data", s"$dir/ledger")
      val batch0 = (0L until 20L).map(o => KRec("t3", (o % 2).toInt, o / 2, s"v$o")).toDF()
      val batch1 = (20L until 30L).map(o => KRec("t3", (o % 2).toInt, o / 2, s"v$o")).toDF()

      ArrivalJob.writeBatch(batch0, 0L, data, ledger)
      ArrivalJob.writeBatch(batch0, 0L, data, ledger) // foreachBatch retry of the same epoch
      ArrivalJob.writeBatch(batch1, 1L, data, ledger)

      val arrived = spark.read.parquet(data)
      assert(arrived.count() == 30) // 20 + 10, the replay replaced itself
      assert(arrived.filter(col("job_run_id") === 0L).count() == 20)
      val led = spark.read.parquet(ledger)
      assert(led.count() == 4) // 2 runs × 2 partitions — no duplicate ledger rows
      assert(Checks.offsetContinuity(led, "t3").testResult == ValidationResult.PASSED)
      assert(Checks.offsetCountMatch(led, 30L, "t3").testResult == ValidationResult.PASSED)
    }
  }

  test("conformRuns lays out create_date/source_file_name partitions") {
    implicit val sqlCtx = spark.sqlContext
    SpecIo.withTempDir("graft_conform") { dir =>
      val (data, ledger, ckpt, conform) =
        (s"$dir/data", s"$dir/ledger", s"$dir/ckpt", s"$dir/conform")
      val stream = MemoryStream[KRec]
      stream.addData(Seq(KRec("t2", 0, 0L, "a"), KRec("t2", 0, 1L, "b")))
      val q = ArrivalJob.start(stream.toDF(), data, ledger, ckpt)
      q.processAllAvailable(); q.stop()

      ArrivalJob.conformRuns(spark, data, conform, Seq(0L))
      val conformed = spark.read.parquet(conform)
      assert(conformed.count() == 2)
      assert(conformed.select(col("source_file_name")).head().getString(0) == "t2_0_0")

      // format is a parameter; non-avro names go through the DataSource
      // lookup (orc ships built-in)
      val conformOrc = s"$dir/conform_orc"
      ArrivalJob.conformRuns(spark, data, conformOrc, Seq(0L), format = "orc")
      val orc = spark.read.orc(conformOrc)
      assert(orc.count() == 2)
      assert(orc.columns.contains("create_date") && orc.columns.contains("source_file_name"))

      // the reference layout itself: AVRO conform dir partitioned by
      // create_date/source_file_name (Kafka_ArrivalToConform.sh:536-540),
      // through the engine's own container sink since no spark-avro
      // DataSource ships here
      val conformAvro = s"$dir/conform_avro"
      ArrivalJob.conformRuns(spark, data, conformAvro, Seq(0L), format = "avro")
      val av = graft.sources.AvroIo.readAvro(spark, conformAvro)
      assert(av.count() == 2)
      assert(av.columns.contains("create_date") && av.columns.contains("source_file_name"))
      assert(av.select(col("source_file_name")).head().getString(0) == "t2_0_0")
      val dateDir = new java.io.File(conformAvro).listFiles().head
      assert(dateDir.getName.startsWith("create_date="), dateDir.getName)
      assert(dateDir.listFiles().head.getName == "source_file_name=t2_0_0")
      // value parity with the parquet conform of the same run
      val pq = conformed.select(col("value")).as[String].collect().sorted.toSeq
      val avv = av.select(col("value")).as[String].collect().sorted.toSeq
      assert(pq == avv, s"$pq vs $avv")
    }
  }

  test("ledger gap (lost batch) is detected") {
    val ledger = Seq(
      ("t", 0, 0L, 0L, 10L),
      ("t", 0, 2L, 15L, 20L) // batch 1 lost: from != prev until
    ).toDF("topicName", "partition", "jobRunId", "fromOffset", "untilOffset")
    assert(Checks.offsetContinuity(ledger, "t").testResult == ValidationResult.FAILED)
  }

  test("crash between data write and checkpoint commit recovers with no loss and no dup") {
    // The reference's exactly-once contract (KafkaDemo.sh:184-200) under
    // FAILURE, not just sequential runs: epoch 1 writes its data+ledger,
    // then the query dies BEFORE the checkpoint commit (the at-least-once
    // crash window). On restart Spark replays epoch 1 from the offset WAL;
    // writeBatch's run-scoped dynamic overwrite must make the replay
    // replace its first attempt — ledger continuous, counts exact.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.streaming.Trigger
    SpecIo.withTempDir("graft_crash") { dir =>
      val (data, ledger, ckpt) = (s"$dir/data", s"$dir/ledger", s"$dir/ckpt")
      val stream = MemoryStream[KRec]
      @volatile var bomb = true
      def start() = stream.toDF().writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          ArrivalJob.writeBatch(b, id, data, ledger)
          if (bomb && id == 1L) {
            bomb = false
            throw new RuntimeException("injected crash: data written, commit pending")
          }
        }
        .start()
      stream.addData((0L until 40L).map(o => KRec("tc", (o % 2).toInt, o / 2, s"v$o")))
      val q0 = start(); q0.processAllAvailable(); q0.stop() // epoch 0, clean
      stream.addData((40L until 70L).map(o => KRec("tc", (o % 2).toInt, o / 2, s"v$o")))
      val q1 = start()
      val died = intercept[Exception] { q1.processAllAvailable(); q1.awaitTermination() }
      assert(died.getMessage != null, "epoch 1 must fail mid-commit")
      scala.util.Try(q1.stop())
      // first attempt's files ARE on disk (the crash window is real)
      assert(spark.read.parquet(data).count() == 70)
      val q2 = start(); q2.processAllAvailable(); q2.stop() // replay epoch 1
      val arrived = spark.read.parquet(data)
      assert(arrived.count() == 70, "replay must replace, not append")
      assert(arrived.distinct().count() == 70)
      val led = spark.read.parquet(ledger)
      assert(led.count() == 4, s"one ledger row per (partition, run): ${led.count()}")
      assert(Checks.offsetContinuity(led, "tc").testResult == ValidationResult.PASSED)
      assert(Checks.offsetCountMatch(led, 70L, "tc").testResult == ValidationResult.PASSED)
    }
  }
}
