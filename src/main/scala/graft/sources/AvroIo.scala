package graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Avro container-file source/sink over avro-core — the reference's conform
  * layer is AVRO in hive-partitioned dirs (`Kafka_ArrivalToConform.sh:536-540`
  * spells the layout: `.../create_date=YYYYMMDD/source_file_name=<file>/`),
  * and this environment ships no spark-avro DataSource jar, so the engine
  * carries its own thin writer/reader instead of leaving the conform
  * format knob untestable.
  *
  * Scale shape: the write is embarrassingly parallel — each task streams its
  * partition once, routing rows to one open `DataFileWriter` per dynamic
  * partition value (the same task-side dynamic-partitioning discipline as
  * Spark's own FileFormatWriter), through the Hadoop FileSystem API so the
  * same code hits HDFS/S3A on a cluster. File names carry the task partition
  * id, and a retried task OVERWRITES its own files (idempotent replay, the
  * ArrivalJob.writeBatch contract). The read parallelizes one task per file
  * and decodes through `DataFileStream`; partition-dir values come back as
  * columns, parsed from the path the way Spark's own partition discovery
  * does.
  *
  * Types cover the conform-layer surface (and any flat relational table):
  * string/int/long/float/double/boolean/binary, nullable as avro unions,
  * plus the standard LOGICAL types the reference's dated conform layout
  * carries (`Kafka_ArrivalToConform.sh:536-540` partitions by date and the
  * payloads hold timestamps/amounts): DateType ↔ int/`date`,
  * TimestampType ↔ long/`timestamp-micros`, DecimalType(p,s) ↔
  * bytes/`decimal(p,s)` — the same mappings spark-avro uses, so files
  * interchange with any standard Avro reader. Nested types are out of
  * scope — the reference's conform rows are flat Kafka payloads.
  */
object AvroIo {

  /** Spark StructType → Avro record schema (nullable = union[null, t]). */
  def toAvroSchema(schema: StructType, name: String = "graft_record"): Schema = {
    val fields = SchemaBuilder.record(name).namespace("graft").fields()
    schema.fields.foldLeft(fields) { (fs, f) =>
      val base = f.dataType match {
        case StringType => Schema.create(Schema.Type.STRING)
        case IntegerType => Schema.create(Schema.Type.INT)
        case LongType => Schema.create(Schema.Type.LONG)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case DateType =>
          LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
        case TimestampType =>
          LogicalTypes.timestampMicros().addToSchema(Schema.create(Schema.Type.LONG))
        case d: DecimalType =>
          LogicalTypes.decimal(d.precision, d.scale)
            .addToSchema(Schema.create(Schema.Type.BYTES))
        case other => throw new IllegalArgumentException(
          s"AvroIo supports flat relational types only, got $other for ${f.name}")
      }
      val s = if (f.nullable)
        Schema.createUnion(java.util.List.of(Schema.create(Schema.Type.NULL), base))
      else base
      fs.name(f.name).`type`(s).noDefault()
    }.endRecord()
  }

  /** Avro record schema → Spark StructType (unions of [null, t] = nullable;
    * date/timestamp-micros/decimal logical annotations map back to their
    * Spark types).
    */
  def toSparkSchema(schema: Schema): StructType = {
    def field(s: Schema): (DataType, Boolean) = s.getType match {
      case Schema.Type.UNION =>
        val branches = s.getTypes.asScala
        val nonNull = branches.filter(_.getType != Schema.Type.NULL)
        require(nonNull.length == 1, s"unsupported union $s")
        (field(nonNull.head)._1, branches.exists(_.getType == Schema.Type.NULL))
      case Schema.Type.INT if s.getLogicalType.isInstanceOf[LogicalTypes.Date] =>
        (DateType, false)
      case Schema.Type.LONG
        if s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMicros] =>
        (TimestampType, false)
      case Schema.Type.BYTES if s.getLogicalType.isInstanceOf[LogicalTypes.Decimal] =>
        val d = s.getLogicalType.asInstanceOf[LogicalTypes.Decimal]
        (DecimalType(d.getPrecision, d.getScale), false)
      case Schema.Type.STRING => (StringType, false)
      case Schema.Type.INT => (IntegerType, false)
      case Schema.Type.LONG => (LongType, false)
      case Schema.Type.FLOAT => (FloatType, false)
      case Schema.Type.DOUBLE => (DoubleType, false)
      case Schema.Type.BOOLEAN => (BooleanType, false)
      case Schema.Type.BYTES => (BinaryType, false)
      case other => throw new IllegalArgumentException(s"unsupported avro type $other")
    }
    StructType(schema.getFields.asScala.toSeq.map { f =>
      val (dt, nullable) = field(f.schema())
      StructField(f.name(), dt, nullable)
    })
  }

  /** Per-field Spark → Avro value encoder. Timestamp/date math matches
    * Spark's own external↔internal conversions (floor semantics, so
    * pre-1970 instants encode correctly); decimals re-scale to the
    * declared scale with UNNECESSARY rounding — Spark already enforces
    * the column's (p, s), so a throw here means a caller bug, not data.
    */
  private def encoderFor(dt: DataType): Any => Any = dt match {
    case BinaryType => {
      case null => null
      case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    }
    case DateType => {
      case null => null
      case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
    }
    case TimestampType => {
      case null => null
      case t: java.sql.Timestamp =>
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    }
    case d: DecimalType => {
      case null => null
      case bd: java.math.BigDecimal =>
        java.nio.ByteBuffer.wrap(
          bd.setScale(d.scale, java.math.RoundingMode.UNNECESSARY)
            .unscaledValue().toByteArray)
    }
    case _ => identity[Any]
  }

  /** Per-field Avro → Spark value decoder, driven by the (union-stripped)
    * avro field schema so logical types come back as their Spark values.
    */
  private def decoderFor(s: Schema): Any => Any = {
    val base = s.getType match {
      case Schema.Type.UNION =>
        s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
      case _ => s
    }
    (base.getType, Option(base.getLogicalType)) match {
      case (Schema.Type.INT, Some(_: LogicalTypes.Date)) => {
        case null => null
        case days: Int =>
          java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.toLong))
      }
      case (Schema.Type.LONG, Some(_: LogicalTypes.TimestampMicros)) => {
        case null => null
        case micros: Long =>
          val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
          ts
      }
      case (Schema.Type.BYTES, Some(dec: LogicalTypes.Decimal)) => {
        case null => null
        case b: java.nio.ByteBuffer =>
          val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr)
          new java.math.BigDecimal(new java.math.BigInteger(arr), dec.getScale)
      }
      case _ => fromAvroValue
    }
  }

  private def fromAvroValue(v: Any): Any = v match {
    case u: Utf8 => u.toString
    case b: java.nio.ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case other => other
  }

  /** Escape a partition value for a path segment (Spark's convention for
    * the characters that break dir names; enough for the conform layer's
    * date + `<topic>_<partition>_<run>` values).
    */
  private def escape(v: Any): String =
    if (v == null) "__HIVE_DEFAULT_PARTITION__"
    else v.toString.flatMap {
      // '%' must escape itself or a literal "%2F" in a value would
      // round-trip as '/'
      case c if c == '/' || c == '\\' || c == '=' || c == ':' || c == '%' =>
        f"%%${c.toInt}%02X"
      case c => c.toString
    }

  /** Inverse of [[escape]], tolerant of foreign writers: a '%' not
    * followed by two hex digits passes through literally (other tools
    * escape differently — throwing on their layouts would contradict the
    * any-hive-partitioned-layout contract), and the
    * `__HIVE_DEFAULT_PARTITION__` sentinel maps back to null, matching
    * Spark's own partition-discovery semantics.
    */
  private def unescape(s: String): String = {
    if (s == "__HIVE_DEFAULT_PARTITION__") return null
    def hex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    val out = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 3 <= s.length &&
          hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        out.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
      } else { out.append(s.charAt(i)); i += 1 }
    }
    out.toString
  }

  /** Write `df` as avro container files under `path`, hive-partitioned by
    * `partitionCols` (dirs `col=value/`). Mode is append-or-overwrite at
    * FILE granularity: each task writes `part-<taskPartitionId>.avro` into
    * every partition dir it routes rows to, overwriting its own previous
    * attempt — re-running the same batch with the same partitioning
    * replaces exactly what it wrote before (the idempotent-replay contract
    * the arrival leg relies on).
    */
  def writeAvro(df: DataFrame, path: String, partitionCols: Seq[String]): Unit = {
    val schema = df.schema
    val dataFields = schema.fields.filterNot(f => partitionCols.contains(f.name))
    val dataSchema = StructType(dataFields.toIndexedSeq)
    val avroJson = toAvroSchema(dataSchema).toString
    val dataNames = dataFields.map(_.name).toSeq
    val dataTypes = dataFields.map(_.dataType).toSeq
    val partNames = partitionCols
    // the session's hadoop config (spark.hadoop.* — S3A credentials,
    // HDFS nameservices) must reach the tasks, or cluster deployments
    // silently write with a blank Configuration (the r13 ADVICE fix);
    // SerializableConfiguration is the standard broadcast vehicle.
    val sc = df.sparkSession.sparkContext
    val bconf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    // route columns: data first, partition values last, fixed order
    val ordered = df.select((dataNames ++ partNames).map(col).toIndexedSeq: _*)
    ordered.rdd.foreachPartition { rows =>
      val taskId = TaskContext.getPartitionId()
      val avroSchema = new Schema.Parser().parse(avroJson)
      val encoders = dataTypes.map(encoderFor)
      val fs = FileSystem.get(new java.net.URI(path), bconf.value.value)
      val writers = mutable.Map.empty[Seq[String], DataFileWriter[GenericRecord]]
      def writerFor(pv: Seq[String]): DataFileWriter[GenericRecord] =
        writers.getOrElseUpdate(pv, {
          val dir = partNames.zip(pv)
            .map { case (k, v) => s"$k=$v" }.mkString("/")
          val file = new Path(path,
            (if (dir.isEmpty) "" else dir + "/") + f"part-$taskId%05d.avro")
          val w = new DataFileWriter[GenericRecord](
            new GenericDatumWriter[GenericRecord](avroSchema))
          w.create(avroSchema, fs.create(file, true))
          w
        })
      rows.foreach { row =>
        val rec = new GenericData.Record(avroSchema)
        var i = 0
        while (i < dataNames.length) {
          rec.put(dataNames(i), encoders(i)(row.get(i))); i += 1
        }
        val pv = partNames.indices
          .map(j => escape(row.get(dataNames.length + j)))
        writerFor(pv).append(rec)
      }
      writers.values.foreach(_.close())
    }
  }

  /** Every `.avro` file under `root`, depth first. Walks with
    * `listStatus`: `listFiles` returns `LocatedFileStatus`es, which copy
    * each entry's permissions, and on a local filesystem without the
    * native Hadoop library that forks an `ls -ld` per file and directory.
    */
  private def listAvroFiles(fs: FileSystem, root: Path): Seq[FileStatus] = {
    def walk(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq.flatMap { st =>
      if (st.isDirectory) walk(st.getPath)
      else if (st.getPath.getName.endsWith(".avro")) Seq(st)
      else Nil
    }
    if (fs.exists(root)) walk(root) else Nil
  }

  /** Read an avro dir written by [[writeAvro]] (or any hive-partitioned
    * layout of flat avro container files) back as a DataFrame; partition
    * dirs come back as string columns after the data columns, exactly as
    * Spark's partition discovery would order them.
    */
  def readAvro(spark: SparkSession, path: String): DataFrame = {
    val sc = spark.sparkContext
    val bconf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val fs = FileSystem.get(new java.net.URI(path), sc.hadoopConfiguration)
    val root = new Path(path)
    val files = listAvroFiles(fs, root)
    require(files.nonEmpty, s"no .avro files under $path")
    val rootUri = fs.makeQualified(root).toUri
    def partPairs(f: Path): Seq[(String, String)] = {
      val rel = rootUri.relativize(fs.makeQualified(f).toUri).getPath
      rel.split("/").dropRight(1).toSeq.collect {
        case seg if seg.contains("=") =>
          val Array(k, v) = seg.split("=", 2)
          k -> unescape(v)
      }
    }
    val partCols = partPairs(files.head.getPath).map(_._1)
    require(files.forall(f => partPairs(f.getPath).map(_._1) == partCols),
      "inconsistent partition layout")
    // driver reads one header for the schema; tasks re-parse from json
    val avroJson = {
      val in = fs.open(files.head.getPath)
      try {
        val s = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        try s.getSchema.toString finally s.close()
      } finally scala.util.Try(in.close())
    }
    // Every field reads as nullable regardless of what the header schema
    // declares: schema evolution decodes a field ABSENT from an older
    // file's schema as null, and a nullable=false StructField over a
    // column that can carry nulls licenses the optimizer to elide null
    // filters (wrong results, not just a bad schema). The pure
    // translation (`toSparkSchema`) stays exact; only the multi-file
    // read path pays the relaxation. Top-level copy() covers the whole
    // schema space because toSparkSchema supports flat types only (a
    // nested record/array throws "unsupported avro type" there) — if
    // nesting is ever added, this relaxation must recurse with it.
    val dataSchema = StructType(
      toSparkSchema(new Schema.Parser().parse(avroJson))
        .fields.map(_.copy(nullable = true)).toIndexedSeq)
    val full = StructType(dataSchema.fields.toIndexedSeq ++
      partCols.map(c => StructField(c, StringType, nullable = true)))
    val fileList = files.map(f => (f.getPath.toString,
      partPairs(f.getPath).map(_._2)))
    val names = dataSchema.fieldNames.toSeq
    val rdd = spark.sparkContext
      .parallelize(fileList, math.max(1, fileList.length))
      .flatMap { case (file, pv) =>
        val p = new Path(file)
        val in = p.getFileSystem(bconf.value.value).open(p)
        val stream = new DataFileStream[GenericRecord](in,
          new GenericDatumReader[GenericRecord]())
        // Schema evolution / foreign layouts: a file written before a
        // column existed simply lacks the field — decode it as null
        // instead of NPEing on the absent schema field.
        val fields = names.map(n => Option(stream.getSchema.getField(n)))
        val decoders = fields.map {
          case Some(f) => decoderFor(f.schema())
          case None => (_: Any) => null
        }
        val iter = stream.iterator().asScala.map { rec =>
          Row.fromSeq(names.indices.map { i =>
            decoders(i)(fields(i).map(f => rec.get(f.pos())).orNull)
          } ++ pv)
        }
        // materialize the (file-sized) batch so the stream can close;
        // conform files are micro-batch sized by construction
        val rows = iter.toVector
        stream.close()
        rows
      }
    spark.createDataFrame(rdd, full)
  }
}
