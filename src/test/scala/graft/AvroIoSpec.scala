package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.AvroIo

/** The engine-carried avro container sink/source (the reference's conform
  * format — `Kafka_ArrivalToConform.sh:536-540`): schema translation both
  * directions, hive-partitioned layout round-trip, idempotent task replay,
  * and null/binary handling.
  */
class AvroIoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("schema translation round-trips flat relational types with nullability") {
    val s = StructType(Seq(
      StructField("s", StringType, nullable = true),
      StructField("i", IntegerType, nullable = false),
      StructField("l", LongType, nullable = true),
      StructField("d", DoubleType, nullable = false),
      StructField("f", FloatType, nullable = true),
      StructField("b", BooleanType, nullable = false),
      StructField("raw", BinaryType, nullable = true)))
    assert(AvroIo.toSparkSchema(AvroIo.toAvroSchema(s)) == s)
    intercept[IllegalArgumentException] {
      AvroIo.toAvroSchema(StructType(Seq(
        StructField("nested", ArrayType(LongType), nullable = true))))
    }
  }

  test("partitioned write + read round-trip, nulls and binary included") {
    SpecIo.withTempDir("graft_avroio") { scratch =>
      val dir = scratch + "/t"
      val df = Seq(
        (Option("a"), 1L, Option(Array[Byte](1, 2)), "g1"),
        (Option.empty[String], 2L, Option.empty[Array[Byte]], "g1"),
        (Option("c"), 3L, Option(Array[Byte](3)), "g2"))
        .toDF("s", "n", "raw", "grp")
      AvroIo.writeAvro(df, dir, Seq("grp"))
      // layout: hive dirs per partition value
      val dirs = new java.io.File(dir).listFiles().map(_.getName).sorted
      assert(dirs.toSeq == Seq("grp=g1", "grp=g2"), dirs.mkString(","))
      val back = AvroIo.readAvro(spark, dir)
      assert(back.schema.fieldNames.toSeq == Seq("s", "n", "raw", "grp"))
      val rows = back.collect().map(r =>
        (Option(r.getString(0)), r.getLong(1),
          Option(r.getAs[Array[Byte]](2)).map(_.toSeq), r.getString(3))).toSet
      assert(rows == Set(
        (Some("a"), 1L, Some(Seq[Byte](1, 2)), "g1"),
        (None, 2L, None, "g1"),
        (Some("c"), 3L, Some(Seq[Byte](3)), "g2")))
    }
  }

  test("replaying the same write replaces its own files (idempotent task replay)") {
    SpecIo.withTempDir("graft_avroio2") { scratch =>
      val dir = scratch + "/t"
      val df = Seq(("a", 1L, "g"), ("b", 2L, "g")).toDF("s", "n", "grp")
      AvroIo.writeAvro(df, dir, Seq("grp"))
      AvroIo.writeAvro(df, dir, Seq("grp"))
      assert(AvroIo.readAvro(spark, dir).count() == 2L,
        "a replayed batch must replace, not duplicate")
    }
  }

  test("unpartitioned write lands at the root and reads back without partition cols") {
    SpecIo.withTempDir("graft_avroio3") { scratch =>
      val dir = scratch + "/t"
      Seq((1L, "x"), (2L, "y")).toDF("n", "s")
        .repartition(2).transform(d => { AvroIo.writeAvro(d, dir, Nil); d })
      val back = AvroIo.readAvro(spark, dir)
      assert(back.schema.fieldNames.toSeq == Seq("n", "s"))
      assert(back.as[(Long, String)].collect().toSet == Set((1L, "x"), (2L, "y")))
    }
  }

  test("partition values with reserved path characters escape and unescape") {
    SpecIo.withTempDir("graft_avroio4") { scratch =>
      val dir = scratch + "/t"
      // includes a literal "%2F": unescaped '%' would round-trip it as '/'
      val df = Seq(("r1", "a=b/c:d%2Fe")).toDF("s", "grp")
      AvroIo.writeAvro(df, dir, Seq("grp"))
      val back = AvroIo.readAvro(spark, dir).select(col("grp")).head().getString(0)
      assert(back == "a=b/c:d%2Fe", back)
    }
  }

  test("logical types: schema translation round-trips date/timestamp/decimal") {
    val s = StructType(Seq(
      StructField("d", DateType, nullable = true),
      StructField("ts", TimestampType, nullable = false),
      StructField("amt", DecimalType(18, 2), nullable = true)))
    assert(AvroIo.toSparkSchema(AvroIo.toAvroSchema(s)) == s)
    // and the avro side carries the STANDARD logical annotations (what
    // makes the files readable by spark-avro / any stock avro tool)
    val avro = AvroIo.toAvroSchema(s).toString
    assert(avro.contains("\"logicalType\":\"date\""), avro)
    assert(avro.contains("\"logicalType\":\"timestamp-micros\""), avro)
    assert(avro.contains("\"logicalType\":\"decimal\""), avro)
  }

  test("logical types: date/timestamp/decimal values round-trip, nulls and pre-1970 included") {
    SpecIo.withTempDir("graft_avroio5") { scratch =>
      val dir = scratch + "/t"
      val df = Seq(
        ("r1", "2024-03-01", "2024-03-01 12:34:56.789123", "12345678901234.56"),
        ("r2", "1969-12-31", "1969-12-31 23:59:59.000001", "-0.01"),
        ("r3", null, null, null))
        .toDF("id", "d", "ts", "amt")
        .select(col("id"), col("d").cast(DateType).as("d"),
          col("ts").cast(TimestampType).as("ts"),
          col("amt").cast(DecimalType(18, 2)).as("amt"))
      AvroIo.writeAvro(df, dir, Nil)
      val back = AvroIo.readAvro(spark, dir)
      assert(back.schema("d").dataType == DateType)
      assert(back.schema("ts").dataType == TimestampType)
      assert(back.schema("amt").dataType == DecimalType(18, 2))
      val rows = back.collect().map(r => (r.getString(0),
        Option(r.getAs[java.sql.Date](1)).map(_.toString),
        Option(r.getAs[java.sql.Timestamp](2)).map(_.toString),
        Option(r.getAs[java.math.BigDecimal](3)).map(_.toPlainString))).toSet
      assert(rows == Set(
        ("r1", Some("2024-03-01"), Some("2024-03-01 12:34:56.789123"),
          Some("12345678901234.56")),
        ("r2", Some("1969-12-31"), Some("1969-12-31 23:59:59.000001"),
          Some("-0.01")),
        ("r3", None, None, None)), rows.mkString(","))
    }
  }

  test("foreign layouts: malformed %-escapes pass through; null partition round-trips as null") {
    // a writer that does NOT use our escaping may leave a bare '%' in a
    // dir name — reading it must not throw (r13 ADVICE fix)
    SpecIo.withTempDir("graft_avroio6") { scratch =>
      val root = scratch + "/t"
      Seq(("x", 1L)).toDF("s", "n")
        .transform(d => { AvroIo.writeAvro(d, root + "/staged", Nil); d })
      // simulate the foreign writer by renaming the dir to a raw-% name
      Files.move(java.nio.file.Paths.get(root, "staged"),
        java.nio.file.Paths.get(root, "grp=ab%zq"))
      val foreign = AvroIo.readAvro(spark, root)
      assert(foreign.select(col("grp")).head().getString(0) == "ab%zq")
      // null partition value: written as the hive sentinel dir, read back null
      SpecIo.withTempDir("graft_avroio7") { scratch2 =>
        val dir2 = scratch2 + "/t"
        val withNull = Seq(("a", Option("g1")), ("b", Option.empty[String]))
          .toDF("s", "grp")
        AvroIo.writeAvro(withNull, dir2, Seq("grp"))
        val dirs = new java.io.File(dir2).listFiles().map(_.getName).sorted
        assert(dirs.toSeq == Seq("grp=__HIVE_DEFAULT_PARTITION__", "grp=g1"), dirs.mkString(","))
        val back = AvroIo.readAvro(spark, dir2).collect()
          .map(r => r.getString(0) -> Option(r.getString(1))).toSet
        assert(back == Set("a" -> Some("g1"), "b" -> None), back.mkString(","))
      }
    }
  }

  test("conform payloads with timestamp + decimal columns survive the avro conform leg") {
    // the reference's conform layer is dated avro carrying event times and
    // amounts (Kafka_ArrivalToConform.sh:536-540) — pre-r13 this threw at
    // schema build and specs had to pre-cast to long
    SpecIo.withTempDir("graft_avroio8") { root =>
      val arrival = Seq(
        ("t1", 0, 0L, "p1", "2024-05-01 10:00:00", "99.95", 7L),
        ("t1", 0, 1L, "p2", "2024-05-01 11:30:00", "0.05", 7L))
        .toDF("topic", "partition", "offset", "value", "event_ts", "amount", "job_run_id")
        .select(col("topic"), col("partition"), col("offset"), col("value"),
          col("event_ts").cast(TimestampType).as("event_ts"),
          col("amount").cast(DecimalType(18, 2)).as("amount"), col("job_run_id"))
      arrival.write.partitionBy("job_run_id").parquet(s"$root/arrival")
      graft.streaming.ArrivalJob.conformRuns(spark, s"$root/arrival",
        s"$root/conform", Seq(7L), format = "avro")
      val conformed = AvroIo.readAvro(spark, s"$root/conform")
      assert(conformed.schema("event_ts").dataType == TimestampType)
      assert(conformed.schema("amount").dataType == DecimalType(18, 2))
      val got = conformed.orderBy(col("offset")).collect()
        .map(r => (r.getAs[java.sql.Timestamp]("event_ts").toString,
          r.getAs[java.math.BigDecimal]("amount").toPlainString)).toSeq
      assert(got == Seq(("2024-05-01 10:00:00.0", "99.95"),
        ("2024-05-01 11:30:00.0", "0.05")), got.mkString(","))
      // dated hive layout as the reference lays it out
      val dateDirs = new java.io.File(s"$root/conform").listFiles().map(_.getName)
      assert(dateDirs.forall(_.startsWith("create_date=")), dateDirs.mkString(","))
    }
  }
}
