package graft.tools

/** Memory-floor probe for the DECLARED bucketed fact layout
  * ([[graft.sources.Bucketing]]) — the answer to q174's raw-parquet memory
  * floor: the 600M⋈150M orderkey sort-merge at sf100 needs ≥1 GB/core on
  * raw parquet because BOTH fact sides exchange+sort on the fly
  * (QueriesCommerce.varianceBridge's Scaladoc records the measured floor
  * and the failed r17 plan fixes). Bucketing lineitem AND orders by
  * orderkey with the same bucket count moves that cost to a ONE-TIME
  * layout step — exactly how a warehouse stores its co-joined facts — and
  * the probe's SMJ reads both sides in place: no exchange, no sort, no
  * allocation wall.
  *
  * Since r19 the layout is a first-class engine path: `layout` writes it
  * via [[graft.sources.Bucketing.writeLayout]] under
  * `${srcDir}_bucketed/`, and EVERY catalog query routes to it through
  * [[graft.sources.Tables.load]] automatically — the probe runs the
  * UNCHANGED q174 builder against `srcDir` and the routing does the rest.
  * The same measurement is therefore Bench-regenerable:
  * {{{
  *   SPARK_GRAFT_SF_DIR=/tmp/graft_sf100 SPARK_GRAFT_BENCH_REF=/dev/null \
  *     tools/run_bench_raw.sh graft.Bench q174_variance_bridge --repeats 3
  * }}}
  * measures the routed leg at the 8 g / 32-core = 0.25 GB/core heap that
  * OOMs the raw layout (`GRAFT_EXTRA_JAVA_OPTS=-Dspark.graft.bucketed.disabled=true`
  * forces the raw leg).
  * This main remains for the plan-pinned, artifact-writing form of that
  * run.
  *
  * Two modes, two JVMs, mirroring ingest-vs-query provisioning:
  *
  *  - `layout <srcDir> <buckets>` (generous heap — ingest): declares the
  *    bucketed layout for lineitem and orders on their orderkeys.
  *  - `probe <srcDir> <outJson> [repeats]` (run at 8 g): runs the
  *    IDENTICAL varianceBridge logical query via the routed loader,
  *    asserts the orderkey exchange is GONE and both fact scans read the
  *    `_bucketed` layout, and records min-of-N wall + result rows.
  *    Equality of the bucketed-leg results with the raw-parquet leg is
  *    asserted per-value in RunControlBucketingSpec at small sf (same
  *    builder, so the oracle hash is unchanged by construction).
  */
object BucketedFactProbe {

  def main(args: Array[String]): Unit = {
    // Validate BEFORE building a SparkSession: a typo'd mode must die with
    // the usage line immediately, not with a MatchError after 10s of init.
    require(args.length >= 2 &&
      Set("layout", "layout-partkey", "adopt", "probe").contains(args(0)),
      "usage: BucketedFactProbe layout <srcDir> <buckets> | " +
        "layout-partkey <srcDir> <buckets> | " +
        "adopt <srcDir> <buckets> | probe <srcDir> <outJson> [repeats]")
    val mode = args(0)
    val srcDir = args(1)
    val spark = graft.SessionProfile.session(graft.SessionProfile.envCpus("32"),
      graft.SessionProfile.envShufflePartitions("1024"))

    mode match {
      case "layout" =>
        val buckets = args(2).toInt
        graft.sources.Bucketing.writeLayout(spark, srcDir, "lineitem",
          "l_orderkey", buckets, sortCol = Some("l_orderkey"))
        graft.sources.Bucketing.writeLayout(spark, srcDir, "orders",
          "o_orderkey", buckets, sortCol = Some("o_orderkey"))
        println(s"""{"layout":"done","buckets":$buckets,""" +
          s""""dir":"${graft.sources.Bucketing.layoutDir(srcDir)}"}""")

      case "layout-partkey" =>
        // The PARTKEY key family (r20): a SECOND declared layout per fact,
        // hint-routed only — plain loads keep the r19 orderkey primary,
        // and part-grain builders that hint `l_partkey`/`p_partkey`
        // (q202/q211/q212/q216/q218/q219) read these instead of raw.
        // Both declared as `secondary = true` (hint-only) deliberately:
        // part gets NO primary layout, so un-hinted part reads keep the
        // raw generation order rather than silently adopting a new
        // default layout for every query.
        val buckets = args(2).toInt
        graft.sources.Bucketing.writeLayout(spark, srcDir, "lineitem",
          "l_partkey", buckets, sortCol = Some("l_partkey"), secondary = true)
        graft.sources.Bucketing.writeLayout(spark, srcDir, "part",
          "p_partkey", buckets, sortCol = Some("p_partkey"), secondary = true)
        println(s"""{"layout":"partkey-family done","buckets":$buckets,""" +
          s""""dir":"${graft.sources.Bucketing.layoutDir(srcDir)}"}""")

      case "adopt" =>
        // Re-stamp an EXISTING bucketed directory (one file per bucket)
        // with the current raw source's fingerprint — e.g. after the raw
        // table was verified unchanged, or for a pre-r19 layout whose
        // sidecar predates the staleness guard.
        val buckets = args(2).toInt
        graft.sources.Bucketing.adoptLayout(spark, srcDir, "lineitem",
          "l_orderkey", buckets, sortCol = Some("l_orderkey"))
        graft.sources.Bucketing.adoptLayout(spark, srcDir, "orders",
          "o_orderkey", buckets, sortCol = Some("o_orderkey"))
        println(s"""{"adopt":"done","buckets":$buckets,""" +
          s""""dir":"${graft.sources.Bucketing.layoutDir(srcDir)}"}""")

      case "probe" =>
        val outJson = args.lift(2).getOrElse("bench_out/r19_q174_bucketed_floor.json")
        val repeats = args.lift(3).map(_.toInt).getOrElse(2).max(1)
        // The UNCHANGED catalog builder — Tables.load routes both fact
        // scans to the declared layout; no probe-local table declarations.
        def q = graft.Queries.varianceBridge(spark, srcDir)
        val plan = q.queryExecution.executedPlan.toString
        val orderkeyExchangeGone =
          !plan.contains("hashpartitioning(l_orderkey") &&
            !plan.contains("hashpartitioning(o_orderkey")
        require(orderkeyExchangeGone,
          "routed probe still exchanges on orderkey:\n" + plan.take(3000))
        // sort-free too: with one file per bucket the SMJ streams both
        // sides in place — a re-introduced per-bucket Sort IS the
        // allocation wall this layout removes (r19: the multi-file layout
        // OOM'd here at 0.25 GB/core)
        val orderkeySortGone =
          !plan.contains("Sort [l_orderkey") && !plan.contains("Sort [o_orderkey")
        require(orderkeySortGone,
          "routed probe still sorts on orderkey (multi-file buckets? " +
            "re-run the layout step):\n" + plan.take(3000))
        require(plan.contains("_bucketed/lineitem") &&
          plan.contains("_bucketed/orders"),
          "probe requires the declared layout (run `layout` first):\n" +
            plan.take(1500))
        val passes = (1 to repeats).map { _ =>
          val t0 = System.nanoTime()
          val rows = q.count()
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        def r1(v: Double): String =
          String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
        val heap = Runtime.getRuntime.maxMemory() / (1L << 30)
        val json =
          s"""{"probe":"q174_variance_bridge via Tables.load bucketed routing",
             |"sf_dir":"$srcDir","heap_gib":$heap,
             |"shuffle_partitions":"${spark.conf.get("spark.sql.shuffle.partitions")}",
             |"orderkey_exchange_gone":$orderkeyExchangeGone,
             |"bucketed_scans":true,
             |"passes_sec":[${passes.map(p => r1(p._1)).mkString(",")}],
             |"floor_sec":${r1(passes.map(_._1).min)},
             |"result_rows":${passes.head._2},"completed":true,
             |"regenerate":"tools/run_bench_raw.sh graft.tools.BucketedFactProbe probe $srcDir <out> ${repeats}"}"""
            .stripMargin.replaceAll("\n", "")
        java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
          (json + "\n").getBytes("UTF-8"))
        println(json)
    }
    spark.stop()
  }
}
