package e2ebench

import org.apache.spark.sql.SparkSession

/** JVM entry of the benchmark; `run.py` is the front end that builds,
  * isolates and launches it. Modes:
  *
  *  - `--make-digests <out> --data <sf0.1 dir> --smoke-data <sf0.01 dir>`:
  *    take every catalog query's digest twice per scale and write
  *    `digests.json` (a query whose digest differs between the two is kept
  *    rows-only);
  *  - `--oracle-export <dir> --data <sf0.1 dir>`: write each catalog
  *    query's result and its DuckDB oracle SQL in the layout
  *    `tools/diffcheck.py` reads (see `crosscheck.py`);
  *  - otherwise one measured run: `--workload <name> --seed <n>
  *    --seconds <s> --trace <0|1> --data <dir> --work <dir> --scale <s>
  *    --digests <file> [--trace-out <file>]`.
  *
  * A run prints one `E2EBENCH_RESULT {...}` line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("make-digests")) makeDigests(opts)
    else if (opts.contains("oracle-export")) oracleExport(opts("oracle-export"), opts("data"))
    else {
      val line = measure(opts)
      println(s"E2EBENCH_RESULT $line")
    }
  }

  def session(): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val tmp = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Everything a run may leave behind lives under its private tmpdir.
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.graft.index.cache.dir", s"$tmp/index-cache")
      .config("spark.graft.checkpoint.dir", s"$tmp/checkpoint")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // Spark's own job and task records would otherwise make up a
      // run-dependent share of the retained heap.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Logs.quietBoundedWindowWarnings()
    spark
  }

  def makeDigests(opts: Map[String, String]): Unit = {
    val spark = session()
    val out = try Seq("sf0.1" -> opts("data"), "sf0.01" -> opts("smoke-data")).map {
      case (scale, dir) =>
        scale -> CatalogWorkload.resolve(CatalogWorkload.Queries).map { case (q, fn) =>
          val a = Digest.of(fn(spark, dir)); Workload.evict(spark)
          val b = Digest.of(fn(spark, dir)); Workload.evict(spark)
          require(a.rows == b.rows, s"$q at $scale: row count not repeatable ($a, $b)")
          System.err.println(s"[e2ebench] digest $scale $q $a${if (a == b) "" else " rows-only"}")
          q -> (if (a == b) a else Expect(a.rows, None))
        }
    } finally spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("make-digests")),
      Digest.toJson(out).getBytes("UTF-8"))
  }

  def oracleExport(out: String, data: String): Unit = {
    val spark = session()
    try {
      val names = CatalogWorkload.Queries.map(p =>
        graft.SparkEntry.queries.keys.find(_.split("_").head == p).get)
      names.foreach { n =>
        graft.SparkEntry.queries(n)(spark, data).write.mode("overwrite").parquet(s"$out/$n")
      }
      val sql = names.map(n => n -> Json.str(graft.SparkEntry.oracleSql(n)))
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "oracle_sql.json"),
        Json.obj(sql).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** One measured run; returns the result JSON. */
  def measure(opts: Map[String, String]): String = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val traced = opts("trace") == "1"
    val scale = opts.getOrElse("scale", "sf0.1")
    val spark = session()
    try {
      val trace = new Trace(Some(spark.sparkContext), traced)
      val ctx = Ctx(spark, trace, opts("data"), opts("work"), opts("seed").toLong,
        opts("seconds").toInt, Digest.load(opts("digests"), scale))
      val w = Workload.named(opts("workload"))
      w.setup(ctx)
      val o = w.run(ctx)
      // Events still queued for Spark's listeners hold heap; how many are
      // queued depends on how busy the box is, not on the program.
      org.apache.spark.E2eBenchBus.drain(spark.sparkContext)
      val heapMb = retainedHeapMb()
      opts.get("trace-out").filter(_ => traced).foreach { f =>
        java.nio.file.Files.write(java.nio.file.Paths.get(f),
          Trace.toJson(trace.spans, trace.jobs).getBytes("UTF-8"))
      }
      val p50 = if (o.latencies.nonEmpty) Stats.median(o.latencies)
        else o.windowSeconds / o.attempted.max(1)
      val e2e = Seq(
        Metric("setup_s", (o.firstOpMs - jvmStartMs) / 1000.0, "s"),
        Metric("latency_p50_s", p50, "s"),
        Metric("throughput_per_s", o.throughput, "1/s"),
        Metric("retained_heap_mb", heapMb, "MB"))
      val tail = Stats.tail(o.latencies).map { case (p, v, n) =>
        Seq("latency_tail_s" -> Json.num(v), "latency_tail_pct" -> Json.num(p),
          "latency_tail_n" -> n.toString)
      }.getOrElse(Seq("latency_tail_s" -> "null", "latency_tail_n" -> o.latencies.size.toString))
      def metrics(ms: Seq[Metric]) = Json.obj(ms.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
      val layers = if (traced) Some(metrics(Layer.complete(o.layers))) else None
      val diag = o.diag.map { case (k, v) => k -> Json.str(v) } ++ tail ++
        Seq("cores" -> spark.sparkContext.defaultParallelism.toString,
          "window_s" -> Json.num(o.windowSeconds), "ops_ok" -> o.latencies.size.toString,
          "latencies_s" -> o.latencies.map(Json.num).mkString("[", ",", "]"))
      Json.obj(Seq("attempted" -> o.attempted.toString, "failed" -> o.failed.toString,
        "e2e" -> metrics(e2e)) ++ layers.map("layers" -> _) ++ Seq("diag" -> Json.obj(diag)))
    } finally spark.stop()
  }

  /** Heap in use after forced full collections, as each collection left it
    * (the pools' post-collection usage, so allocations by background threads
    * afterwards do not count). Spark frees broadcast and shuffle blocks on
    * its cleaner thread only after a collection finds them unreachable, so
    * three collections 300 ms apart are taken and the smallest reported.
    */
  private def retainedHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(300)
      System.gc()
      heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)
    }.min
  }
}

/** The full per-layer metric list: every traced run reports all of them. A
  * layer a workload does not call reads 0 (no time, no jobs).
  */
object Layer {
  val All: Seq[(String, String)] = {
    val pipeline = PipelineWorkload.Layers.flatMap(l => Seq(s"$l.s" -> "s", s"$l.jobs" -> "count")) ++
      Seq("sources.conform.bytes_written" -> "bytes", "dq.conform_audit.tasks" -> "count",
        "pipeline.staging.tasks" -> "count", "pipeline.run.jobs" -> "count",
        "pipeline.run.driver_only_s" -> "s", "pipeline.run.busy_s" -> "s",
        "pipeline.run.fs_ops" -> "count",
        "pipeline.run.stored_bytes_per_event" -> "bytes")
    val catalog = Seq("catalog.build_s" -> "s", "catalog.execute_s" -> "s",
      "catalog.jobs" -> "count", "catalog.tasks_per_job" -> "count", "catalog.busy_s" -> "s",
      "catalog.driver_only_s" -> "s", "catalog.shuffle_write_mb" -> "MB", "catalog.spill_mb" -> "MB")
    val groups = CatalogWorkload.Groups
      .flatMap { case (g, _) => Seq(s"$g.s" -> "s", s"$g.jobs" -> "count") }
    pipeline ++ catalog ++ groups
  }

  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    require(byName.keySet.subsetOf(All.map(_._1).toSet),
      s"unlisted layer metrics: ${byName.keySet -- All.map(_._1)}")
    All.map { case (n, unit) => byName.getOrElse(n, Metric(n, 0.0, unit)) }
  }
}
