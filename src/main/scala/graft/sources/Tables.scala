package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Canonical table loader over the parquet star schema.
  *
  * Mirrors the reference's layer-scoped table scans
  * (`Fact_Dagg_automation.sh:116-120` sqlplus `SELECT ... FROM <layer>.<table>`,
  * `KafkaScript_ConformToStaging.sh:143` `hive -e "use governed_data; <q>"`)
  * as plain parquet reads: Catalyst handles predicate pushdown and column
  * pruning, so callers should `select`/`filter` on the returned DataFrame and
  * let the optimizer reach the scan (check `.explain` for PushedFilters /
  * ReadSchema).
  *
  * At cluster scale the same call works against a directory of many parquet
  * files; `spark.sql.files.maxPartitionBytes` governs split sizing — nothing
  * here assumes a single file.
  */
object Tables {
  val starTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  /** OPT-IN scan fan-out for CPU-heavy operators over small inputs (r20,
    * guide §2.5 "one huge unsplittable file → repartition immediately
    * after the read").
    *
    * A parquet file is task-divisible only at ROW-GROUP boundaries
    * (~128 MB): a table whose total bytes are far below cores × row-group
    * runs its entire scan stage — and every expression fused into it
    * (tokenization, shingles, minhash, scoring) — as a HANDFUL of tasks no
    * matter how many cores the session has (every sf0.1 table ships as ONE
    * row group; the r20 profile caught q156's whole LM-scoring pass
    * single-task this way). When the input's estimated bytes say its split
    * count is below the session's parallelism, fan the rows out once; at
    * warehouse scale the condition is false and the frame is untouched.
    *
    * Opt-in, NOT automatic: a full-catalog A/B (bench_out/r20_mid1.json)
    * measured the blanket form a NET LOSS — the CPU-bound queries won
    * 1.5–4× (q82 0.38×, q156 0.45×) but every light query paid the extra
    * stage (~+0.4 s, 3–4× on sub-second queries; 161.9 s → 243.9 s
    * total). Whether the downstream is expression-bound per row is
    * exactly the knowledge the caller has and the planner does not
    * (guide §8), so the HEAVY operators call this on their inputs and the
    * other two hundred queries keep their single-task-but-cheap scans.
    *
    * Deterministic by construction: round-robin repartition local-sorts
    * its input first (`spark.sql.execution.sortBeforeRepartition`, Spark
    * default), and every catalog query is partition-order-independent
    * (exact integer/decimal aggregates, total ORDER BY) — diffcheck
    * replays 240/240 green over this path.
    */
  def fanOutSmallInput(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val maxBytes = BigInt(cores) * (64L * 1024 * 1024)
    val bytes = scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes).getOrElse(maxBytes)
    if (bytes < maxBytes) df.repartition(cores) else df
  }

  /** Read one table from a layer location — a parquet scale-factor
    * directory, or (when the location is a `jdbc:` URL) a database table
    * via [[Jdbc.read]], so a layer can live in the reference's
    * Oracle-shaped storage without touching any query builder. The events
    * stream's `ts` is normalized to epoch-nano longs (see
    * [[normalizeEventTime]]) so both the DataFrame and the SQL-view
    * surface expose one event-time convention regardless of how the
    * files/columns encode timestamps.
    *
    * When the layer carries a DECLARED BUCKETED LAYOUT for the table
    * (`${dir}_bucketed/$name/_bucket_spec.json` — [[Bucketing]]), the
    * read routes there: same rows, same schema, but joins/aggregates on
    * the bucket key plan with NO exchange, so every fact⋈fact query in
    * the catalog picks up the co-located layout without query changes
    * (the warehouse move that turns q174's measured 1 GB/core raw-parquet
    * sort-merge floor into an in-place 0.25 GB/core read). Routing is
    * transparent to correctness by construction — the layout is a
    * row-identical rewrite of the raw table — and disabled via the conf
    * key `spark.graft.bucketed.disabled=true` (or the same `-D` system
    * property on a main's JVM) for raw-leg A/B runs.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df =
      if (Jdbc.isJdbcLocation(dir)) Jdbc.read(spark, dir, name)
      else Bucketing.resolve(spark, dir, name)
        .getOrElse(spark.read.parquet(s"$dir/$name.parquet"))
    if (name == "events") normalizeEventTime(df) else df
  }

  /** [[load]] with a KEY-FAMILY hint: the caller's plan joins/aggregates
    * this table ON `joinKey`, so serve a declared layout only when it is
    * bucketed on exactly that key ([[Bucketing.resolveForKey]] — the
    * primary layout if it matches, else the `joinKey`-family secondary),
    * and otherwise read the RAW files — never a wrong-key layout, whose
    * bucket-key sort scatters `joinKey` and measured up to 7× slower at
    * sf100 (bench_out/r19_bucket_scan_probe.json). This is how one fact
    * table serves BOTH its join families at scale: orderkey queries take
    * the primary orderkey layout via [[load]], part-grain queries hint
    * `l_partkey` here and take the partkey-family layout where declared.
    */
  def load(spark: SparkSession, dir: String, name: String,
           joinKey: String): DataFrame = {
    val df =
      if (Jdbc.isJdbcLocation(dir)) Jdbc.read(spark, dir, name)
      else Bucketing.resolveForKey(spark, dir, name, joinKey)
        .getOrElse(spark.read.parquet(s"$dir/$name.parquet"))
    if (name == "events") normalizeEventTime(df) else df
  }

  /** [[load]] WITHOUT bucketed-layout routing: always the raw files.
    *
    * For callers whose access pattern the bucket-key sort actively hurts:
    * a layout sorted on the bucket key SCATTERS every other key, and a
    * full-table aggregate on a non-bucket key over the re-sorted files
    * measured up to 7× slower at sf100 (the partial aggregate loses key
    * locality — bench_out/r19_bucket_scan_probe.json). Audits that
    * profile the raw layer across MANY keys (fkProfile's
    * orderkey/partkey/suppkey sweep, q149) read it explicitly; queries
    * dominated by joins/aggregates ON the bucket key take [[load]]'s
    * routed layout (q174 2.5×, q200 2.0×, q183 1.5× at sf10 —
    * bench_out/r19_sf10_bucketed_ab.json).
    */
  def loadRaw(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df =
      if (Jdbc.isJdbcLocation(dir)) Jdbc.read(spark, dir, name)
      else spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventTime(df) else df
  }

  /** The filesystem location of `name` under layer `dir`, or None when the
    * layer is not file-backed (a `jdbc:` URL): callers that fingerprint or
    * cache against SOURCE FILES (e.g.
    * [[graft.functions.Tfidf.cachedIndex]]) route on this instead of
    * assuming the `$dir/$name.parquet` layout — keeping the layout
    * knowledge here, with [[load]], and keeping every query builder
    * functional against a JDBC-backed layer.
    */
  def parquetLocation(dir: String, name: String): Option[String] =
    if (Jdbc.isJdbcLocation(dir)) None else Some(s"$dir/$name.parquet")

  /** events.ts arrives as epoch-nano INT64 (legacy TIMESTAMP(NANOS) files
    * read under `spark.sql.legacy.parquet.nanosAsLong`) or as
    * TIMESTAMP_NTZ / TIMESTAMP (micro-precision files). Normalize to
    * epoch-nano longs — the unit all event-time integer math (`ts div n`)
    * and the DuckDB oracle's `epoch_ns(ts)` agree on. The NTZ leg diffs
    * against the epoch literal, which is session-timezone-independent.
    */
  def normalizeEventTime(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts) * 1000"))
      case Some(org.apache.spark.sql.types.TimestampType) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
      case _ => df
    }

  /** Register every table of the star schema as a temp view so queries can
    * also be expressed via `spark.sql` (the reference stores queries as data
    * — CLOBs in TESTING_QUERIES, `incremental.sh:63-67` — so a SQL execution
    * path is part of the surface).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    starTables.foreach { t =>
      load(spark, dir, t).createOrReplaceTempView(t)
    }
}
