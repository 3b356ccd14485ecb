package graft

import graft.functions.{Dedup, Domains, Quant, Sampling, Similarity, Text}
import graft.ops.{Events, Materialize, Relational}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Commerce/relational analytics over the TPC-H-ish star schema
  * (orders/lineitem/customer/part/supplier): the SURVEY §2A relational
  * and DQ shapes plus the money-exact reporting queries.
  *
  * One thematic slice of the [[Queries]] catalog (r13 split — the object
  * grew past 8k lines); `Queries.all` remains the assembly point. Members
  * self-type against `Queries.type` so cross-theme builders and shared
  * fragments resolve exactly as before the split.
  */
private[graft] trait QueriesCommerce { this: Queries.type =>


  // ---------------------------------------------------------------------
  // §2A relational operators
  // ---------------------------------------------------------------------

  /** 2A-1/3/14: scan → filter → group → aggregate (pricing summary, the
    * engine's TPC-H-Q1-shaped smoke of scan/project/agg correctness).
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("count_order"),
        money(dec2(col("l_extendedprice"))).as("sum_base_price"),
        money(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .as("sum_disc_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }


  /** 2A-17: rank-latest — ROW_NUMBER() ... rank=1, the reference's
    * latest-run-per-job query (`KafkaDemo.sh:64-71`), over orders/customer.
    */
  def rankLatestOrder(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    Relational.rankLatest(o, Seq(col("o_custkey")),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }


  /** 2A-14 / 2B-12: watermark bounds NVL(MIN/MAX,0) over the control-table
    * stand-in (`Fact_Dagg_automation.sh:71-75`).
    */
  def watermarkBounds(spark: SparkSession, dir: String): DataFrame =
    Relational.watermarkBounds(t(spark, dir, "orders"), col("o_orderkey"),
      lit(1000L), col("o_orderstatus") === "F")


  /** 2A-4: incremental range filter (`query.txt:2` run-id window). */
  def incrementalFilter(spark: SparkSession, dir: String): DataFrame =
    Relational.incrementalFilter(t(spark, dir, "lineitem"), col("l_shipdate"),
        lit("1996-01-01"), lit("1996-03-31"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))


  /** 2A-5/6: IN-list + LIKE-disjunction filters (`query.txt:1`,
    * `FACT_AUTOMATION.sh:75-87`).
    */
  def filterInLike(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "part")
      .filter(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
        Relational.likeAny(col("p_name"), Seq("widget", "bolt")))
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"), col("p_size"))
      .orderBy(col("p_partkey"))


  /** 2A-8/12: the flagship shape — multi-way LEFT OUTER join with constant
    * predicates inside ON + CASE-classification + aggregate
    * (`query.txt:1`). Dimension sides are broadcast (they are small by
    * construction — the 100 TB side is lineitem).
    */
  def dimEnrich(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    // Broadcast hints only on the guaranteed-tiny dims (nation/region);
    // customer scales with the data — auto-broadcast + AQE pick broadcast
    // when it fits and fall back to a shuffled join when it doesn't (a
    // forced broadcast() would OOM the driver at 100 TB dims).
    //
    // JOIN ELIMINATION (r17, the sf100 top-factor fix): the reference
    // query's supplier and part legs are LEFT OUTER joins on the dims'
    // PRIMARY keys (unique by TPC-H construction and in this generator)
    // whose columns this aggregate never references — a no-op on both
    // row multiplicity (unique key ⇒ no fan-out) and row survival (outer
    // ⇒ no filtering), i.e. exactly the join a PK-aware optimizer drops.
    // Catalyst cannot infer parquet key uniqueness, so the elimination is
    // manual; at sf100 it removes two 600M-row sort-merge passes that were
    // 2/4 of this query's wall. The full seven-table physical shape stays
    // exercised by q33's FlagshipFullSql, where supplier/part columns ARE
    // consumed.
    li
      .join(o, li("l_orderkey") === o("o_orderkey") &&
        o("o_orderstatus").isin("F", "O"), "left_outer")
      .join(c, o("o_custkey") === c("c_custkey"), "left_outer")
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left_outer")
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left_outer")
      .withColumn("segment_class",
        when(col("c_mktsegment") === "AUTOMOBILE", "Vehicle")
          .when(col("c_mktsegment") === "MACHINERY", "Industrial")
          .when(col("c_mktsegment").isNull, "Not Applicable")
          .otherwise("Other"))
      .groupBy(coalesce(col("r_name"), lit("UNKNOWN")).as("region_name"), col("segment_class"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("l_quantity")).as("sum_qty"),
        money(dec2(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))))
          .as("revenue"))
      .orderBy(col("region_name"), col("segment_class"))
  }


  /** 2A-9: LEFT JOIN to an aggregating subquery (`query.txt:1` Z/Q joins). */
  def joinAggSubquery(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val z = t(spark, dir, "orders").groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("order_cnt"), max(col("o_totalprice")).as("max_price"))
    c.join(z, c("c_custkey") === z("o_custkey"), "left_outer")
      .select(col("c_custkey"), col("c_name"),
        coalesce(col("order_cnt"), lit(0L)).as("order_cnt"),
        coalesce(col("max_price"), lit(0.0)).as("max_price"))
      .orderBy(col("c_custkey"))
  }


  /** 2A-11: IN-subquery predicate → left-semi join. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val big = t(spark, dir, "orders").filter(col("o_totalprice") > 190000.0)
    c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }


  /** NOT-EXISTS → left-anti join (complement of [[semiJoin]]). */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }


  /** 2A-13: DISTINCT. */
  def distinctValues(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderstatus"), col("o_orderpriority"))
      .distinct()
      .orderBy(col("o_orderstatus"), col("o_orderpriority"))


  /** 2A-15 / 2B-7: duplicate finder — GROUP BY all columns HAVING count>1
    * (`FACT_AUTOMATION.sh:334-342`), on a projection that actually has
    * duplicates.
    */
  def dupFinder(spark: SparkSession, dir: String): DataFrame =
    Relational.duplicateRows(
        t(spark, dir, "orders").select(col("o_custkey"), col("o_orderstatus")))
      .orderBy(col("o_custkey"), col("o_orderstatus"))


  /** 2A-16: ordered string aggregation — LISTAGG WITHIN GROUP
    * (`Fact_Dagg_automation.sh:73`).
    */
  def listAggNations(spark: SparkSession, dir: String): DataFrame = {
    val r = t(spark, dir, "region")
    val n = t(spark, dir, "nation")
    Relational.listAgg(
        r.join(n, r("r_regionkey") === n("n_regionkey")),
        Seq(col("r_name")), col("n_name"))
      .select(col("r_name"), col("list_agg").as("nations"))
      .orderBy(col("r_name"))
  }


  /** 2A-20 / 2B-6: MINUS both directions — symmetric-difference data diff
    * (`FACT_AUTOMATION.sh:182-231`).
    */
  def exceptDiff(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val a = o.filter(col("o_totalprice") > 150000.0).select(col("o_orderkey"))
    val b = o.filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    Relational.symmetricDiff(a, b).orderBy(col("o_orderkey"), col("diff_side"))
  }


  /** 2A-7 / 2B-8: null-audit disjunction over join-produced nulls
    * (`fact_dim_merging.sh:305-316`).
    */
  def nullAuditJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
    Relational.nullAudit(
        c.join(o, c("c_custkey") === o("o_custkey"), "left_outer"),
        Seq("o_orderkey"))
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }


  /** 2B-5: count reconciliation source vs target as one row
    * (`KafkaScript_ConformToStaging.sh:222-246`).
    */
  def countReconcile(spark: SparkSession, dir: String): DataFrame = {
    val src = t(spark, dir, "orders").agg(count(lit(1)).as("src_count"))
    val tgt = t(spark, dir, "lineitem")
      .agg(countDistinct(col("l_orderkey")).as("tgt_count"))
    src.crossJoin(tgt)
      .withColumn("is_match", col("src_count") === col("tgt_count"))
  }


  /** Named-database fidelity (`KafkaScript_ConformToStaging.sh:143` runs
    * `use governed_data; <stored query>`): CREATE DATABASE + saveAsTable
    * into the session catalog, then a stored query over the catalog tables
    * with the database selected via USE — the full governed-warehouse path,
    * not temp views.
    */
  def catalogStoredQuery(spark: SparkSession, dir: String): DataFrame = {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_dw")
    // The in-memory session catalog is process-scoped but the warehouse
    // directory persists: a managed-table location left by a previous
    // process would fail CREATE with LOCATION_ALREADY_EXISTS. Drop the
    // orphan location when the catalog doesn't know the table.
    def freshManagedTable(db: String, table: String): Unit =
      if (!spark.catalog.tableExists(s"$db.$table")) {
        val wh = spark.conf.get("spark.sql.warehouse.dir")
        val p = new org.apache.hadoop.fs.Path(s"$wh/$db.db/$table")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
    freshManagedTable("graft_dw", "dim_nation")
    freshManagedTable("graft_dw", "dim_region")
    t(spark, dir, "nation").write.mode("overwrite").saveAsTable("graft_dw.dim_nation")
    t(spark, dir, "region").write.mode("overwrite").saveAsTable("graft_dw.dim_region")
    spark.sql("USE graft_dw")
    try spark.sql(
      """SELECT r_name AS region_name, count(*) AS n_nations, min(n_name) AS first_nation
        |FROM dim_nation JOIN dim_region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region_name""".stripMargin)
    finally spark.sql("USE default")
  }


  /** 2A-18/19: ordered top-k — Spark plans this as TakeOrderedAndProject
    * (per-partition heap + merge, no global sort materialization).
    */
  def topK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)


  /** 2A-21: cast chains + TO_DATE-style parsing round trips
    * (`KafkaDemo.sh:80` to_number, `Fact_Dagg_automation.sh:49` TO_DATE).
    */
  def castConvert(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(
        col("o_orderkey"),
        col("o_custkey").cast("string").cast("long").as("rt_key"),
        unix_timestamp(
          to_timestamp(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd"))
          .as("order_epoch"))
      .orderBy(col("o_orderkey"))


  /** Catalog-driven column profiling (one-pass, all columns in a single
    * aggregate) — the reference's metadata-generated null/count checks
    * generalized (`fact_dim_merging.sh:282-358`).
    */
  def profileOrders(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Profile.profile(t(spark, dir, "orders"), exact = true)
      .select(col("column").as("col_name"), col("n_rows"), col("n_nulls"),
        col("approx_distinct").as("n_distinct"), col("min_str"), col("max_str"))
      .orderBy(col("col_name"))


  /** Full CUBE over order status × priority (q39 is the ROLLUP twin) —
    * every grouping-set combination in one Expand pass.
    */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        money(dec2(col("o_totalprice"))).as("total_price"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price"))
      .orderBy(col("status"), col("priority"))


  /** Set-op family completion: INTERSECT (customers active in both halves
    * of the date range — set semantics like Oracle MINUS's sibling).
    */
  def intersectCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val early = o.filter(col("o_orderdate") < lit("1997-01-01")).select(col("o_custkey"))
    val late = o.filter(col("o_orderdate") >= lit("1997-01-01")).select(col("o_custkey"))
    early.intersect(late).orderBy(col("o_custkey"))
  }


  /** Window frames beyond rank: running total + lag over customer order
    * history (decimal-exact running sum presented as double).
    */
  def runningTotal(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        sum(dec2(col("o_totalprice")))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_total"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }


  /** The DAGG (daily aggregate) table shape: per-day, per-status rollups —
    * the dimensional layer's daily tables (`Fact_Dagg_automation.sh:25-43`).
    */
  def dailyAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_day"),
        col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        money(dec2(col("o_totalprice"))).as("day_total"))
      .orderBy(col("order_day"), col("o_orderstatus"))


  /** ROLLUP hierarchy totals (region → nation → grand total) with grouping
    * flags — the aggregate-hierarchy half of the DWDD layer.
    */
  def rollupRegion(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        money(dec2(col("c_acctbal"))).as("total_balance"))
      .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("n_customers"), col("total_balance"))
      .orderBy(col("region_name"), col("nation_name"))
  }


  /** Exact percentiles (sort-based `percentile`, linear interpolation —
    * l_quantity is integral so interpolated values are exact halves).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))


  /** Fixed-range histogram binning (explicit floor-division formula, same
    * arithmetic on both engines; `width_bucket` where available).
    */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))


  /** Production twin of q36: the same single-pass profile with
    * approx_count_distinct — no Expand, one partial/final aggregate pair
    * regardless of column count; benched, so the measured number tracks
    * the plan the operator ships with. The HLL estimate is
    * engine-specific, so instead of emitting the raw value the query
    * carries the plan-twin row contract under the full oracle: every
    * exact column (counts, nulls, min/max) hash-checks against q36's
    * replay, and the estimate folds into `approx_in_bounds` —
    * 0 iff no non-null rows, else within [1, 1.2 × non-null count]
    * (default rsd 5%; 20% headroom) — in exact integer arithmetic.
    */
  def profileOrdersApprox(spark: SparkSession, dir: String): DataFrame = {
    val nonnull = col("n_rows") - col("n_nulls")
    graft.dq.Profile.profile(t(spark, dir, "orders"), exact = false)
      .select(col("column").as("col_name"), col("n_rows"), col("n_nulls"),
        col("min_str"), col("max_str"),
        ((nonnull === 0L && col("approx_distinct") === 0L) ||
          (nonnull > 0L && col("approx_distinct") >= 1L &&
            col("approx_distinct") * 10L <= nonnull * 12L))
          .as("approx_in_bounds"))
      .orderBy(col("col_name"))
  }


  /** Bloom-filter membership ([[graft.ops.Bloom]]): high-spend order
    * custkeys fold into a 1024-bit filter; every customer is tested by
    * broadcast, with the exact member set alongside so the per-nation
    * rollup exposes the false-positive overhead a re-verify pass would
    * pay. The probe side never shuffles on the key.
    */
  def bloomMembership(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val keys = t(spark, dir, "orders")
      .filter(col("o_totalprice") > 400000)
      .select(col("o_custkey").as("key")).distinct()
    val bloom = graft.ops.Bloom.build(keys, col("key"))
    graft.ops.Bloom.mightContain(cust, col("c_custkey"), bloom)
      .join(broadcast(keys.withColumnRenamed("key", "mk")),
        col("c_custkey") === col("mk"), "left")
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_customers"),
        sum(when(col("might_contain"), 1L).otherwise(0L)).as("n_bloom_pos"),
        sum(when(col("mk").isNotNull, 1L).otherwise(0L)).as("n_members"))
      .orderBy(col("nation"))
  }


  /** Join-key statistics for every FK edge in the warehouse schema
    * ([[graft.dq.Checks.fkProfile]]): the planner-facing profile —
    * cardinalities, hottest-key skew multiple, referential orphans, dead
    * dim keys — that decides broadcast vs shuffle vs bucketing vs salting
    * for each join BEFORE anyone runs it at 100 TB. q131 diagnoses one
    * key's heat; this is the schema-wide table: five edges, each fed by a
    * single two-phase per-key count (8-byte key shuffle, map-side
    * partials) plus key-projected anti-joins, unioned into a five-row
    * report. All-integer output, so the profile replays exactly.
    */
  def joinStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.dq.Checks.fkProfile
    // This audit PROFILES THE RAW LAYER — full-table aggregates across
    // MANY keys (orderkey, partkey, suppkey, custkey) — so it reads the
    // raw files explicitly: a declared bucketed layout is sorted on ONE
    // key and scatters the others, which measured 7× slower for the
    // non-bucket-key aggregate legs at sf100
    // (bench_out/r19_bucket_scan_probe.json, Tables.loadRaw's scaladoc).
    val li = Tables.loadRaw(spark, dir, "lineitem")
    val o = Tables.loadRaw(spark, dir, "orders")
    val edges = Seq(
      fkProfile(li, col("l_orderkey"), o, col("o_orderkey"),
        "lineitem.l_orderkey->orders"),
      fkProfile(li, col("l_partkey"), t(spark, dir, "part"), col("p_partkey"),
        "lineitem.l_partkey->part"),
      fkProfile(li, col("l_suppkey"), t(spark, dir, "supplier"), col("s_suppkey"),
        "lineitem.l_suppkey->supplier"),
      fkProfile(o, col("o_custkey"), t(spark, dir, "customer"), col("c_custkey"),
        "orders.o_custkey->customer"),
      fkProfile(t(spark, dir, "customer"), col("c_nationkey"),
        t(spark, dir, "nation"), col("n_nationkey"),
        "customer.c_nationkey->nation"))
    edges.reduce(_ unionAll _).orderBy(col("edge"))
  }


  /** Blocked fuzzy-match audit (entity resolution): customer names
    * self-joined WITHIN 16-char-prefix blocks and matched at Levenshtein
    * ≤ 1 — the classic ER pipeline shape (block → bounded quadratic
    * compare → adjudicate) that finds typo'd / re-keyed duplicate
    * entities exact dedup (q13) misses and MinHash (q28) is
    * wrong-grained for (edit distance on short keys, not shingle
    * Jaccard on documents). Per block: records, compared pairs, matches,
    * match rate ppm. Scale discipline: ALL quadratic work is inside a
    * block — the block key bounds the join fan-out exactly like the LSH
    * bucket caps (an unblocked fuzzy join is a corpus² nested loop);
    * `levenshtein` is an exact integer both engines implement
    * identically, which is what puts a fuzzy-match operator under a
    * bit-for-bit oracle at all.
    */
  def fuzzyNameAudit(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("nm"))
      .withColumn("blk", substring(col("nm"), 1, 16))
    val sizes = c.groupBy(col("blk")).agg(count(lit(1)).as("n_records"))
    val agg = c.as("a")
      .join(c.as("b"), col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.blk").as("blk"),
        (levenshtein(col("a.nm"), col("b.nm")) <= 1).cast("long").as("m"))
      .groupBy(col("blk"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("m")).as("n_matches"))
    sizes.join(agg, Seq("blk"), "left")
      .selectExpr("blk AS block", "n_records",
        "coalesce(n_pairs, 0L) AS n_pairs",
        "coalesce(n_matches, 0L) AS n_matches",
        "CASE WHEN coalesce(n_pairs, 0L) = 0 THEN 0L " +
          "ELSE (coalesce(n_matches, 0L) * 1000000L) DIV n_pairs END AS match_ppm")
      .orderBy(col("block"))
  }


  /** Order-to-ship lead time per order priority: exact median / p90 / max
    * of (ship date − order date) in days — the fulfilment-SLA table, and
    * the operational-analytics face of the warehouse's biggest join
    * (lineitem ⋈ orders on the order key, the shuffle that bucketing
    * (`sources.Bucketing`) exists to eliminate). Percentiles are the
    * discrete inverse-ECDF cuts (q169's definition: smallest value whose
    * cumulative count reaches ⌈n·p/100⌉), computed over per-(priority,
    * days) DISTINCT-value summaries — the corpus never enters a window.
    * Day arithmetic is integer datediff on both engines.
    */
  def leadTime(spark: SparkSession, dir: String): DataFrame = {
    val lags = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(t(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("days"))
    val byVal = lags.groupBy(col("priority"), col("days"))
      .agg(count(lit(1)).as("k"))
    val totals = byVal.groupBy(col("priority"))
      .agg(sum(col("k")).as("n"), max(col("days")).as("max_days"))
    val cum = byVal
      .withColumn("cum", sum(col("k")).over(
        Window.partitionBy(col("priority")).orderBy(col("days"))))
      .join(broadcast(totals), "priority")
    cum.groupBy(col("priority"), col("n"), col("max_days"))
      .agg(min(when(expr("cum >= (n * 50 + 99) DIV 100"), col("days"))).as("median_days"),
        min(when(expr("cum >= (n * 90 + 99) DIV 100"), col("days"))).as("p90_days"))
      .select(col("priority"), col("n").as("n_lineitems"),
        col("median_days"), col("p90_days"), col("max_days"))
      .orderBy(col("priority"))
  }


  /** Price–volume–mix variance bridge per brand: the FP&A decomposition of
    * revenue change between two periods (orders before vs after
    * 1998-01-01) into volume-at-old-price, price, and a mix/interaction
    * residual, with new and discontinued parts as their own legs — and
    * the residual defined as ΔR − volume − price, so the bridge RECONCILES
    * EXACTLY by construction (the spec pins per-brand conservation to the
    * micro-cent; a float bridge never ties out, which is why finance
    * teams distrust them). All money in integer cents through
    * DECIMAL(18,2); per-part divisions are sign-explicit with DECIMAL
    * products.
    *
    * Scale shape: one lineitem⋈orders⋈part pass, a per-(brand, part)
    * rollup (map-side partials on the high-card part key), effects as
    * projections, then a brands-cardinality rollup.
    *
    * MEMORY FLOOR (measured r15/r16, RE-CONFIRMED against a plan fix in
    * r17): the 600M⋈150M orderkey sort-merge at sf100 needs ≥ ~1 GB/core —
    * it OOMs on the deliberately under-provisioned 0.25 GB/core bench JVM
    * at 1024 AND 4096 shuffle partitions (32 concurrent tasks split one
    * execution pool, so more partitions don't help) and clears untouched
    * at 1 GB/core (85.6 s in the r16 full-catalog sf100 sweep). The r17
    * attempted fix — money columns narrowed to longs BEFORE the join and
    * the part join moved to the per-part grain after the rollup — kept the
    * oracle hash (235/235) but STILL hit SparkOutOfMemory in the same
    * stage at 8 g sf100, because the wall is the orderkey SMJ itself,
    * which any shape of this query shares; explain also showed part
    * already broadcasts in this shape well past sf10, so the feared
    * "second fat sort" never existed, and the rewrite measured 58% slower
    * at sf10 (isolated min-of-3: 6.26 s vs 9.92 s). The floor is therefore
    * a RAW-LAYOUT floor, not an operator floor — MEASURED r18
    * (bench_out/r18_q174_bucketed_probe.json): with lineitem AND orders
    * bucketed+sorted on orderkey (128 buckets, one-time ingest-side
    * layout), the orderkey exchange disappears and the identical query
    * CLEARS the 0.25 GB/core probe in ~81 s (vs OOM raw; vs 70.5 s raw at
    * 4× the memory).
    *
    * r19 promoted that layout to a first-class engine path
    * ([[graft.sources.Bucketing]] declared layouts, routed transparently
    * by Tables.load) and found r18's residual cost: with MULTIPLE files
    * per bucket the reader keeps a per-bucket Sort (and at 8 g that sort
    * is itself OOM-prone — reproduced); with ONE file per bucket
    * (writeLayout's enforced invariant) plus
    * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` the SMJ
    * streams both sides with NO exchange and NO sort —
    * bench_out/r19_q174_bucketed_floor.json: 54.1 s min-of-3 at
    * 0.25 GB/core, 33% under the r18 probe and 23% under the raw run at
    * 4× the memory. Provisioning guidance: ≥1 GB/core on raw parquet, or
    * declare the bucketed layout and run at commodity 0.25 GB/core.
    */
  def varianceBridge(spark: SparkSession, dir: String): DataFrame =
    varianceBridgeFrom(t(spark, dir, "lineitem"), t(spark, dir, "orders"),
      t(spark, dir, "part"))

  /** [[varianceBridge]] parameterized over its input frames, so the same
    * logical query can run against raw parquet (the bench contract) or a
    * BUCKETED-by-orderkey lineitem/orders layout
    * (tools/BucketedFactProbe.scala) — bucketing both fact sides on the
    * join key removes the orderkey exchange+sort entirely, which is the
    * allocation behind the measured 1 GB/core raw-parquet floor above.
    */
  def varianceBridgeFrom(lineitem: DataFrame, orders: DataFrame,
                         part: DataFrame): DataFrame = {
    val li = lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"), col("l_partkey").as("pk"),
        when(col("o_orderdate") < lit("1998-01-01"), "a").otherwise("b").as("period"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("r"),
        (dec2(col("l_quantity")) * 100).cast("long").as("q"))
    val perPart = li.groupBy(col("brand"), col("pk")).agg(
      sum(when(col("period") === "a", col("r")).otherwise(0L)).as("r1"),
      sum(when(col("period") === "b", col("r")).otherwise(0L)).as("r2"),
      sum(when(col("period") === "a", col("q")).otherwise(0L)).as("q1"),
      sum(when(col("period") === "b", col("q")).otherwise(0L)).as("q2"))
    val effects = perPart.selectExpr("brand", "r1", "r2", "q1", "q2",
      "CASE WHEN q1 > 0 AND q2 > 0 THEN 1L ELSE 0L END AS is_both",
      """CASE WHEN q1 > 0 AND q2 > 0 THEN
        |  CASE WHEN q2 >= q1
        |    THEN CAST((CAST(q2 - q1 AS DECIMAL(38,0)) * r1) DIV q1 AS BIGINT)
        |    ELSE -CAST((CAST(q1 - q2 AS DECIMAL(38,0)) * r1) DIV q1 AS BIGINT) END
        |ELSE 0L END AS vol_e""".stripMargin.replaceAll("\n", " "),
      """CASE WHEN q1 > 0 AND q2 > 0
        |  THEN CAST((CAST(r2 AS DECIMAL(38,0)) * q1) DIV q2 AS BIGINT) - r1
        |ELSE 0L END AS price_e""".stripMargin.replaceAll("\n", " "))
      .selectExpr("brand", "is_both", "vol_e", "price_e",
        "CASE WHEN is_both = 1 THEN (r2 - r1) - vol_e - price_e ELSE 0L END AS mix_e",
        "CASE WHEN q1 = 0 THEN r2 ELSE 0L END AS new_rev",
        "CASE WHEN q2 = 0 THEN r1 ELSE 0L END AS disc_rev",
        "r2 - r1 AS delta")
    effects.groupBy(col("brand"))
      .agg(sum(col("is_both")).as("n_parts_both"),
        sum(col("delta")).as("delta_cents"),
        sum(col("vol_e")).as("volume_cents"),
        sum(col("price_e")).as("price_cents"),
        sum(col("mix_e")).as("mix_cents"),
        sum(col("new_rev")).as("new_cents"),
        sum(col("disc_rev")).as("discontinued_cents"))
      .orderBy(col("brand"))
  }


  /** Part-affinity market basket: the top 20 part PAIRS co-ordered in the
    * same order, ranked by lift with a minimum-support floor — q158's
    * association analysis moved to the scale regime that actually bites:
    * a high-cardinality item space (pair universe = |parts|²) made
    * tractable because pair GENERATION is bounded by basket size, not the
    * catalog — the within-order self-join emits C(basket, 2) rows per
    * order and baskets are small by construction (the itemset-mining
    * contract; cap baskets for pathological orders). The support floor
    * (n_ab ≥ 3) is what keeps one-off coincidences from topping the lift
    * ranking — lift with tiny support is noise, the classic market-basket
    * trap. Marginals broadcast; lift in DECIMAL/HUGEINT ppm; the final
    * cut is TakeOrderedAndProject.
    */
  def partAffinity(spark: SparkSession, dir: String): DataFrame = {
    val items = t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val nOrders = items.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders"))
    val marg = items.groupBy(col("pk")).agg(count(lit(1)).as("n_p"))
    // Pair generation stays the items⋈items self-join — a MEASURED r17
    // decision: a sorted-basket rewrite (groupBy(ok).collect_list +
    // posexplode + per-element slice(parts, i+2, ...) explode) looked like
    // it should win by replacing the SMJ's two 60M-row sorts with one hash
    // aggregate, but ran 37% SLOWER at sf10 in isolated min-of-3 A/B
    // (47.5 s → 65.3 s): the generator allocates a subarray copy per
    // basket element (O(b²) allocations per order across 45M orders),
    // which loses to the fully codegen'd sort-merge join on narrow
    // (ok, pk) longs. Whole-stage codegen over primitive columns beats
    // allocation-heavy higher-order expressions — same lesson as the
    // sparseTopK df diamond (Tfidf.scala).
    val pairs = items.as("a")
      .join(items.as("b"), col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 3)
    pairs
      .join(marg.select(col("pk").as("part_a"), col("n_p").as("n_a")), "part_a")
      .join(marg.select(col("pk").as("part_b"), col("n_p").as("n_b")), "part_b")
      .crossJoin(broadcast(nOrders))
      .selectExpr("part_a", "part_b", "n_ab",
        "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000) DIV " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) AS lift_ppm")
      .orderBy(col("lift_ppm").desc, col("part_a"), col("part_b"))
      .limit(20)
  }


  /** Pareto revenue concentration: the exact share of order revenue held
    * by the top 1/5/10/20/50% of customers — the 80/20 card that q168's
    * Gini summarizes into one number, here as the actionable table
    * (VIP-program sizing, concentration-risk reporting). Exactness at the
    * boundary: customers tied at the cut all carry the SAME revenue
    * value, so the top-n revenue is cum-before + (n_top − users_before)·v
    * regardless of which tied customers are "in" — no tiebreak needed and
    * no per-customer ranking: the cumulative runs DESC over the
    * distinct-revenue summary (q168's tie-group discipline). That summary
    * is ~#customers distinct cent values, so both running totals go
    * through [[graft.ops.Relational.shardedCumSum]]'s value-range
    * sharding — only the ≤257-row slice summary takes an unpartitioned
    * window, never the per-customer frame. Thresholds are a 5-row literal
    * frame, and n_top = ⌈n·k/100⌉ in integer ceiling DIV. One
    * per-customer rollup touches the orders table; money in DECIMAL cents
    * throughout.
    */
  def paretoConcentration(spark: SparkSession, dir: String): DataFrame = {
    val perCust = t(spark, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum((dec2(col("o_totalprice")) * 100).cast("long")).as("v"))
    val byVal = perCust.groupBy(col("v")).agg(count(lit(1)).as("k"))
    val totals = perCust.agg(count(lit(1)).as("n"), sum(col("v")).as("tot"))
    val cum = graft.ops.Relational.shardedCumSum(
        byVal.withColumn("vk", expr("v * k")), "v", Seq("k", "vk"),
        ascending = false)
      .withColumnRenamed("cum_k", "users_through")
      .withColumnRenamed("cum_vk", "rev_through")
      .withColumn("users_before", col("users_through") - col("k"))
      .withColumn("rev_before", col("rev_through") - col("vk"))
    val thresholds = spark.sql(
      "SELECT explode(array(1L, 5L, 10L, 20L, 50L)) AS pct")
    thresholds.crossJoin(broadcast(totals))
      .withColumn("n_top", expr("(n * pct + 99) DIV 100"))
      .join(cum, expr("users_before < n_top AND n_top <= users_through"))
      .selectExpr("pct", "n_top AS n_top_customers",
        "rev_before + (n_top - users_before) * v AS revenue_cents",
        "((rev_before + (n_top - users_before) * v) * 1000000L) DIV tot AS share_ppm")
      .orderBy(col("pct"))
  }


  /** Regional market share (the TPC-H Q8 shape on this star): each
    * customer nation's share of discounted lineitem revenue within its
    * region, per order year — the market-share card a commercial analytics
    * deployment refreshes per release. Money integerizes at scale 4
    * (DECIMAL(18,2)×DECIMAL(18,2) is exact at scale 4, so ×10000 → BIGINT
    * loses nothing and replays bit-for-bit in any engine); shares are
    * integer ppm of the region-year total. Scale shape: two id-keyed
    * shuffles (orderkey, custkey) carry only ids + the revenue long;
    * nation/region broadcast onto the customer projection; the rollup is
    * regions × years × nations with map-side partials, and the region-year
    * totals re-join as a broadcast summary.
    */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val dims = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name").as("nation"), col("r_name").as("region"))
    val ord = t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
      year(col("o_orderdate")).cast("long").as("yr"))
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"),
      (dec2(col("l_extendedprice")) *
        (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))) * 10000)
        .cast("long").as("rev_sc4"))
    // the cells rollup feeds both the output and the region-year totals;
    // a materialization seam here measured SLOWER (1.0 -> 1.4s at sf0.1):
    // the duplicated fact subtrees dedupe through runtime exchange reuse,
    // so the checkpoint only added overhead — left on the reuse path.
    val cells = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("region"), col("yr"), col("nation"))
      .agg(sum(col("rev_sc4")).as("rev"))
    val regionYear = cells.groupBy(col("region"), col("yr"))
      .agg(sum(col("rev")).as("rtot"))
    cells.join(broadcast(regionYear), Seq("region", "yr"))
      .selectExpr("region", "yr", "nation", "rev AS revenue_sc4",
        "(rev * 1000000L) DIV rtot AS share_ppm")
      .orderBy(col("region"), col("yr"), col("nation"))
  }


  /** Waiting-supplier audit (the TPC-H Q21 shape, correlated EXISTS /
    * NOT EXISTS): suppliers who were the SOLE late shipper on a
    * multi-supplier order — their line shipped more than 60 days after
    * the order date while every other supplier on the order shipped in
    * time. The correlated-subquery form decorrelates into ONE per-order
    * aggregate: per (order, supplier) a late flag, per order the supplier
    * and late-supplier counts, then the credit filter is a row predicate —
    * no EXISTS re-scan of lineitem per row, which is the difference
    * between O(n) and O(n²) at fact scale. Output ends in the
    * TakeOrdered top-10.
    */
  def supplierWait(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders").select(col("o_orderkey"), col("o_orderdate"))
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    // the per-(order, supplier) flags feed the per-order rollup AND the
    // credit join: cut once (one fact join instead of two)
    val perSupp = Materialize.cut(
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
          (datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 60)
            .cast("long").as("late"))
        .groupBy(col("ok"), col("sk"))
        .agg(max(col("late")).as("any_late")))
    val perOrder = perSupp.groupBy(col("ok"))
      .agg(count(lit(1)).as("n_supp"), sum(col("any_late")).as("n_late"))
    perSupp.join(perOrder, "ok")
      .filter(col("any_late") === 1L && col("n_supp") > 1L && col("n_late") === 1L)
      .groupBy(col("sk")).agg(count(lit(1)).as("numwait"))
      .join(broadcast(t(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))), col("sk") === col("s_suppkey"))
      .select(col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(10)
  }


  /** Returned-item revenue report (the TPC-H Q10 shape): the 20 customers
    * who cost the most in returned-line revenue (l_returnflag = 'R'),
    * with their nation — the churn-risk escalation list. Money at exact
    * scale 4 (the q182 discipline); the customer join is id-keyed AFTER
    * the per-customer rollup so only (custkey, revenue) pairs shuffle to
    * meet the dim, and the final cut is TakeOrdered (per-partition top-k
    * + merge), never a global sort of the customer base.
    */
  def returnedItemReport(spark: SparkSession, dir: String): DataFrame = {
    val returned = t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))) * 10000)
          .cast("long").as("rev_sc4"))
    val perCust = returned
      .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey")).agg(sum(col("rev_sc4")).as("lost_revenue_sc4"))
    perCust
      .join(t(spark, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name").as("nation"),
        col("lost_revenue_sc4"))
      .orderBy(col("lost_revenue_sc4").desc, col("c_custkey"))
      .limit(20)
  }


  /** Order-priority integrity count (the TPC-H Q4 shape: EXISTS over the
    * fact inside a date window): per order priority, how many orders of
    * one quarter have at least one line shipped more than 30 days after
    * the order date. The correlated EXISTS plans as a LEFT SEMI join of
    * the date-windowed orders against the qualifying lineitem keys —
    * the order scan prunes on the pushed date range, the semi join
    * carries only orderkeys, and the rollup is priority-cardinality with
    * map-side partials.
    */
  def orderPriorityCheck(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val lateLines = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
    val qualifying = o.join(lateLines,
        col("o_orderkey") === col("l_orderkey") &&
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 30,
        "left_semi")
    qualifying.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }


  /** 2-D skyline (Pareto frontier) of the part catalog: every part no
    * other part dominates on (cheaper-or-equal price, larger-or-equal
    * size, one strict) — the "best tradeoffs only" operator behind
    * procurement shortlists and hardware-config pickers. The textbook
    * form is a quadratic NOT-EXISTS self-join (the oracle runs exactly
    * that); the scale path is the classic 2-D reduction to a PREFIX MAX:
    * a part is on the frontier iff its size is the max at its price AND
    * strictly above the running max over all cheaper prices. That
    * running max goes through [[graft.ops.Relational.shardedCumMax]]
    * (same slicing as the cumulative sums — no single-reducer sort of
    * the price summary), the strict-prefix test reduces to
    * first-price-per-cum-level (a ≤size-domain-sized aggregate), and the
    * frontier price list broadcasts back onto the scan. Higher
    * dimensions would grid-partition first; 2-D is exact here.
    */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val parts = t(spark, dir, "part").select(col("p_partkey"),
      (dec2(col("p_retailprice")) * 100).cast("long").as("price_cents"),
      col("p_size").cast("long").as("size"))
    val byPrice = parts.groupBy(col("price_cents").as("v"))
      .agg(max(col("size")).as("ms"))
    val cum = graft.ops.Relational.shardedCumMax(byPrice, "v", Seq("ms"),
      ascending = true)
    // ms == cum_ms: this price achieves the running max; the FIRST price
    // of each cum level is the one that raised it — strictly above every
    // cheaper price's best size. cum levels are bounded by the size
    // domain, so the frontier list is a broadcast.
    val frontier = cum.filter(col("ms") === col("cum_ms"))
    val firstAtLevel = frontier.groupBy(col("cum_ms")).agg(min(col("v")).as("v"))
    val skyPrices = frontier.join(firstAtLevel, Seq("cum_ms", "v"))
      .select(col("v").as("price_cents"), col("ms"))
    parts.join(broadcast(skyPrices), "price_cents")
      .filter(col("size") === col("ms"))
      .select(col("p_partkey"), col("price_cents"), col("size"))
      .orderBy(col("price_cents"), col("p_partkey"))
  }


  /** Large-volume customers (the TPC-H Q18 shape): orders whose total
    * lineitem quantity exceeds 200 units, with their customer and order
    * value, top-10 by order value — the HAVING-driven semi-aggregate
    * join: the qualifying-order set comes from ONE map-side-combined
    * rollup of the fact (only orderkeys and a quantity sum shuffle), and
    * only survivors join the orders/customer dims. Quantity stays exact
    * DECIMAL through the sum and integerizes at scale 2 for the output;
    * the final cut is TakeOrdered.
    */
  def bigOrders(spark: SparkSession, dir: String): DataFrame = {
    val qualifying = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(dec2(col("l_quantity"))).as("qty"))
      .filter(col("qty") > 200)
    qualifying
      .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        (dec2(col("o_totalprice")) * 100).cast("long").as("price_cents")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(spark, dir, "customer").select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("price_cents"), (col("qty") * 100).cast("long").as("total_qty_centi"))
      .orderBy(col("price_cents").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Excess-inventory suppliers (the TPC-H Q20 shape): per (part,
    * supplier), the 1996-H1 shipped quantity; a pair is EXCESS when it
    * ships more than 1.5× its part's average per-supplier quantity; report
    * the top suppliers by excess-part count. The correlated "per-part
    * average" subquery decorrelates into one part-grain aggregate joined
    * back — one scan, no per-row re-scan; the 1.5× test stays in integer
    * centi-units as a cross-multiplication (`2·q > 3·avg`), so neither
    * engine ever divides. Supplier dim joins AFTER the rollup (only
    * (suppkey, counts) meet the dim) and the cut is TakeOrdered.
    */
  def excessInventory(spark: SparkSession, dir: String): DataFrame = {
    val h1 = tk(spark, dir, "lineitem", "l_partkey")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-07-01"))
      .select(col("l_partkey"), col("l_suppkey"),
        (dec2(col("l_quantity")) * 100).cast("long").as("q_centi"))
    val perPair = h1.groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("q_centi")).as("pair_centi"))
    val perPart = perPair.groupBy(col("l_partkey"))
      .agg(sum(col("pair_centi")).as("part_centi"),
        count(lit(1)).as("n_supp"))
      .select(col("l_partkey"),
        expr("part_centi DIV n_supp").as("avg_centi"))
    val excess = perPair.join(perPart, "l_partkey")
      .filter(col("pair_centi") * 2 > col("avg_centi") * 3)
    excess.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_excess_parts"),
        sum(col("pair_centi")).as("excess_centi"))
      .join(t(spark, dir, "supplier").select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_excess_parts"),
        col("excess_centi"))
      .orderBy(col("n_excess_parts").desc, col("s_suppkey"))
      .limit(20)
  }

  /** Idle high-balance customers (the TPC-H Q22 shape, engagement
    * variant): customers whose balance beats their SEGMENT's average
    * positive balance but whose order COUNT is under half the segment's
    * average — dormant capital with low engagement. Both correlated
    * averages decorrelate into ONE segment-grain aggregate (≤ #segments
    * rows, broadcast back); order counts come from a key-grain
    * pre-aggregate left-joined so never-buyers count 0, not NULL. All
    * comparisons integer-exact (cents; the half test cross-multiplies,
    * `2·n < avg`, no division).
    */
  def idleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        (dec2(col("c_acctbal")) * 100).cast("long").as("bal_cents"))
    val perCust = t(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val cc = c.join(perCust, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_mktsegment"), col("bal_cents"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    val segAvg = cc.filter(col("bal_cents") > 0)
      .groupBy(col("c_mktsegment"))
      .agg(expr("sum(bal_cents) DIV count(1)").as("avg_cents"),
        expr("sum(n_orders) DIV count(1)").as("avg_orders"))
    cc.join(broadcast(segAvg), "c_mktsegment")
      .filter(col("bal_cents") > col("avg_cents") &&
        col("n_orders") * 2 < col("avg_orders"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_idle"), sum(col("bal_cents")).as("idle_cents"))
      .orderBy(col("c_mktsegment"))
  }

  /** Monthly promotion revenue share (the TPC-H Q14 shape): what fraction
    * of each month's discounted revenue came from PROMO-type parts, in
    * exact ppm. Revenue at scale 4 (the q182 money discipline) so the
    * conditional and total sums are bit-identical in both engines; part
    * joins lineitem id-keyed (only keys + money shuffle), the rollup is
    * months-bounded.
    */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val li = tk(spark, dir, "lineitem", "l_partkey")
      .select(col("l_partkey"), date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        (dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))) * 10000)
          .cast("long").as("rev_sc4"))
    li.join(tk(spark, dir, "part", "p_partkey").select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("month"))
      .agg(sum(when(col("p_type") === "PROMO", col("rev_sc4")).otherwise(0L))
          .as("promo_rev_sc4"),
        sum(col("rev_sc4")).as("total_rev_sc4"))
      .select(col("month"), col("promo_rev_sc4"), col("total_rev_sc4"),
        expr("promo_rev_sc4 * 1000000 DIV greatest(total_rev_sc4, 1L)")
          .as("promo_ppm"))
      .orderBy(col("month"))
  }

  /** Supplier variety per (brand, type) excluding complaint suppliers (the
    * TPC-H Q16 shape without a partsupp table): how many DISTINCT
    * suppliers ship each brand×type, after dropping suppliers whose
    * return rate exceeds 35% (`20·returns > 7·total`, integer
    * cross-multiplication — the threshold sits above the corpus's ~30%
    * base rate so the complaint set is a tail, not the population). The distinct (brand, type, supplier) incidence
    * replaces a countDistinct per group (same one shuffle, no Expand
    * risk); the complaint set is a supplier-grain aggregate anti-joined
    * key-to-key.
    */
  def supplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val li = tk(spark, dir, "lineitem", "l_partkey")
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"))
    val complaints = li.groupBy(col("l_suppkey"))
      .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"),
        count(lit(1)).as("n"))
      .filter(col("r") * 20 > col("n") * 7)
      .select(col("l_suppkey").as("bad_supp"))
    val incidence = li
      .join(complaints, col("l_suppkey") === col("bad_supp"), "left_anti")
      .join(tk(spark, dir, "part", "p_partkey").select(col("p_partkey"), col("p_brand"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), col("p_type"), col("l_suppkey"))
      .distinct()
    incidence.groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("n_suppliers"))
      .orderBy(col("p_brand"), col("p_type"))
  }

  /** Order fill-time SLA bridge: per order priority, how many orders were
    * FULLY shipped (last line shipped) within 30/60/90/90+ days — the
    * service-level table behind fulfillment dashboards. One per-order
    * `max(l_shipdate)` aggregate (the order is the grain — no window),
    * id-keyed join to orders, then a priorities×4 bounded rollup with
    * per-priority shares in exact ppm.
    */
  def fillTimeSla(spark: SparkSession, dir: String): DataFrame = {
    val lastShip = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("last_ship"))
    val joined = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("last_ship")), to_date(col("o_orderdate")))
          .cast("long").as("fill_days"))
      .select(col("o_orderpriority"),
        when(col("fill_days") <= 30, "a_030")
          .when(col("fill_days") <= 60, "b_060")
          .when(col("fill_days") <= 90, "c_090")
          .otherwise("d_90plus").as("sla_bucket"))
    val cell = joined.groupBy(col("o_orderpriority"), col("sla_bucket"))
      .agg(count(lit(1)).as("n_orders"))
    val perPrio = cell.groupBy(col("o_orderpriority")).agg(sum(col("n_orders")).as("t"))
    cell.join(broadcast(perPrio), "o_orderpriority")
      .select(col("o_orderpriority"), col("sla_bucket"), col("n_orders"),
        expr("n_orders * 1000000 DIV t").as("share_ppm"))
      .orderBy(col("o_orderpriority"), col("sla_bucket"))
  }

  /** Minimum-cost supplier per part (the TPC-H Q2 correlated-min shape,
    * with lineitem standing in for partsupp): for every LARGE part, which
    * supplier(s) ship it at the lowest unit price. The correlated
    * `WHERE unit = (SELECT min(unit) ...)` decorrelates into a per-part
    * min aggregate equality-joined back to the offer rows — the exact
    * rewrite Catalyst would produce, made explicit so both the agg and
    * the join shuffle once on `l_partkey`.
    *
    * Unit price is exact integer micro-cents: `price_cents * 10000 DIV
    * qty` (both operands non-negative, so Spark's truncating DIV and
    * DuckDB's flooring `//` agree), so the min and the equality join
    * replay bit-for-bit — no double division anywhere.
    */
  def minCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val offers = tk(spark, dir, "lineitem", "l_partkey")
      .join(broadcast(t(spark, dir, "part")
          .filter(col("p_type") === "LARGE" && col("p_size") <= 10)
          .select(col("p_partkey"), col("p_name"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("p_name"), col("l_suppkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000" +
          " DIV CAST(l_quantity AS BIGINT)").as("unit_microcents"))
    val best = offers.groupBy(col("l_partkey").as("bp"))
      .agg(min(col("unit_microcents")).as("best_unit"))
    offers
      .join(best, col("l_partkey") === col("bp") &&
        col("unit_microcents") === col("best_unit"))
      .select(col("l_partkey").as("partkey"), col("p_name"), col("l_suppkey"),
        col("unit_microcents")).distinct()
      .join(broadcast(t(spark, dir, "supplier")
          .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_name"), col("n_name").as("supp_nation"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("partkey"), col("p_name"), col("s_name"), col("supp_nation"),
        col("unit_microcents"))
      .orderBy(col("partkey"), col("s_name"))
  }


  /** Bilateral trade volume between two nations by year (the TPC-H Q7
    * shape): revenue shipped from suppliers in one nation to customers in
    * the other, both directions, per ship year. The nation pair filter is
    * a disjunction of conjunctions evaluated AFTER the two broadcast dim
    * joins; only lineitem→orders shuffles (on orderkey). Revenue in exact
    * scale-4 longs.
    */
  def nationTrade(spark: SparkSession, dir: String): DataFrame = {
    val nations = broadcast(t(spark, dir, "nation")
      .filter(col("n_name").isin("NATION_19", "NATION_11")))
    val supp = broadcast(t(spark, dir, "supplier")
      .join(nations, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val cust = broadcast(t(spark, dir, "customer")
      .join(nations, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation")))
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("ship_year"),
        (dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))) * 10000)
          .cast("long").as("rev_sc4"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter((col("supp_nation") === "NATION_19" && col("cust_nation") === "NATION_11") ||
        (col("supp_nation") === "NATION_11" && col("cust_nation") === "NATION_19"))
      .groupBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
      .agg(sum(col("rev_sc4")).as("revenue_sc4"), count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("ship_year"))
  }


  /** Important stock (the TPC-H Q11 HAVING-vs-global-scalar shape): parts
    * whose shipped value from NATION_3 suppliers exceeds 1/10000 of the
    * total such value. The global total enters the plan as
    * `crossJoin(broadcast(1-row agg))` — never a driver collect — and the
    * threshold compares `part_value > total DIV 10000` in longs (floor of
    * the fraction; documented, exact, and overflow-free where
    * `part_value * 10000` would not be at the 100 TB corpus).
    */
  def importantStock(spark: SparkSession, dir: String): DataFrame = {
    val supp = broadcast(t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey")))
    val value = tk(spark, dir, "lineitem", "l_partkey")
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("val_cents"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("val_cents")).as("part_value_cents"))
    val total = value.agg(sum(col("part_value_cents")).as("total_cents"))
    value.crossJoin(broadcast(total))
      .filter(col("part_value_cents") > expr("total_cents DIV 10000"))
      .select(col("l_partkey").as("partkey"), col("part_value_cents"))
      .orderBy(col("part_value_cents").desc, col("partkey"))
  }


  /** Top supplier(s) by quarterly revenue (the TPC-H Q15 view+scalar-max
    * shape): per-supplier revenue over 1996Q1, then the supplier(s)
    * whose revenue equals the global max. Exact scale-4 longs make the
    * max-equality join deterministic; the 1-row max broadcasts.
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_suppkey"),
        (dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))) * 10000)
          .cast("long").as("rev_sc4"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("rev_sc4")).as("total_revenue_sc4"))
    val mx = rev.agg(max(col("total_revenue_sc4")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_revenue_sc4") === col("max_rev"))
      .join(broadcast(t(spark, dir, "supplier").select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue_sc4"))
      .orderBy(col("s_suppkey"))
  }


  /** Small-quantity revenue loss (the TPC-H Q17 correlated-avg shape):
    * lineitems of SMALL Brand#3 parts whose quantity falls below 20% of
    * that part's average shipped quantity. The correlated
    * `l_quantity < 0.2 * avg(...)` decorrelates to a per-part (sum, count)
    * aggregate joined back, and the 20% comparison cross-multiplies into
    * integers — `5 * qty * cnt < sum_qty` — so no double division or
    * rounding enters the predicate. Quantities are integer-valued in this
    * corpus (TPC-H semantics), asserted by the cast.
    */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = tk(spark, dir, "lineitem", "l_partkey")
      .join(broadcast(t(spark, dir, "part")
          .filter(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("price_cents"))
    val avgQ = li.groupBy(col("l_partkey").as("ap"))
      .agg(sum(col("qty")).as("sum_qty"), count(lit(1)).as("cnt"))
    li.join(avgQ, col("l_partkey") === col("ap"))
      .filter(col("qty") * 5 * col("cnt") < col("sum_qty"))
      .agg(count(lit(1)).as("n_small"),
        sum(col("price_cents")).as("lost_cents"),
        expr("CAST(sum(price_cents) DIV 7 AS BIGINT)").as("avg_yearly_cents"))
  }


  /** Disjunctive multi-predicate join (the TPC-H Q19 shape): revenue from
    * three OR'd brand/size/quantity windows. The join stays a single
    * equi-join on partkey (part broadcasts); the disjunction is a
    * post-join filter — the plan Catalyst picks for OR-of-conjunctions
    * with a shared equi-key (a disjunction in the join CONDITION would
    * plan a nested loop). Grouped by brand so the result exercises all
    * three branches.
    */
  def disjunctiveJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
        (dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))) * 10000)
          .cast("long").as("rev_sc4"))
    li.join(broadcast(t(spark, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) && col("qty").between(1, 11)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) && col("qty").between(10, 20)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) && col("qty").between(20, 30)))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_sc4")).as("revenue_sc4"))
      .orderBy(col("p_brand"))
  }


  /** Shipping priority (the TPC-H Q3 shape): top-10 undelivered orders by
    * open revenue for one market segment at a cutoff date. Each table is
    * filtered BEFORE its join (segment, order date, ship date all reach
    * their scans as pushed predicates); orders⋈customer shuffles on
    * custkey, lineitem joins on orderkey, and the final cut is a
    * TakeOrderedAndProject — no global sort materializes. Revenue in
    * exact scale-4 longs; ties broken by orderkey so the LIMIT is
    * deterministic on both engines.
    */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1997-06-30"
    val cust = t(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit(cutoff))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit(cutoff))
      .select(col("l_orderkey"),
        (dec2(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))) * 10000)
          .cast("long").as("rev_sc4"))
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("order_date"))
      .agg(sum(col("rev_sc4")).as("revenue_sc4"))
      .orderBy(col("revenue_sc4").desc, col("o_orderkey"))
      .limit(10)
  }


  /** Local-supplier volume (the TPC-H Q5 shape): revenue in one region
    * and order year where the supplier and the customer share a nation —
    * the dim-attribute equi-correlation (`c_nationkey = s_nationkey`)
    * rides the supplier join as a second hash key, so the whole thing
    * stays equi-joins. Region→nation is a genuinely tiny broadcast; the
    * supplier and customer joins shuffle on their keys.
    */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val rn = broadcast(t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region").filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name")))
    val supp = t(spark, dir, "supplier")
      .join(rn, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(spark, dir, "customer").select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(t(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"),
            (dec2(col("l_extendedprice")) *
              (lit(1).cast(DecimalType(18, 2)) - dec2(col("l_discount"))) * 10000)
              .cast("long").as("rev_sc4")),
        col("o_orderkey") === col("l_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("rev_sc4")).as("revenue_sc4"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue_sc4").desc, col("n_name"))
  }


  /** Forecast-revenue change (the TPC-H Q6 shape): one pure scan-side
    * filter-aggregate — no join, no shuffle beyond the final 1-row
    * combine; every predicate (date range, discount band, quantity cap)
    * reaches the parquet scan. The revenue delta is price × discount in
    * exact scale-4 longs.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg((sum((dec2(col("l_extendedprice")) * dec2(col("l_discount")) * 10000)
          .cast("long"))).as("revenue_sc4"),
        count(lit(1)).as("n_items"))
  }


  /** Customer order-count distribution (the TPC-H Q13 shape): how many
    * customers placed exactly k qualifying orders, INCLUDING the
    * never-ordered (the left-outer zero bucket). The scalable rewrite:
    * orders pre-aggregate to customer grain FIRST (one map-side-combined
    * count), then the left join carries one row per customer instead of
    * fanning out order rows, then a second bounded rollup over k.
    */
  def orderCountDistribution(spark: SparkSession, dir: String): DataFrame = {
    val perCust = t(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("k"))
    t(spark, dir, "customer").select(col("c_custkey"))
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("k"), lit(0L)).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }


  /** Product gross-margin by nation and order year (the TPC-H Q9 shape,
    * tax-margin variant — this corpus has no partsupp/supplycost, so the
    * profit expression becomes net vs tax-gross revenue): parts chosen by
    * a LIKE substring, revenue attributed to the supplier's nation and
    * the ORDER year. All money in exact integer 1e-4-cent units —
    * `price_cents × (100−disc_pct) × (100±0/tax_pct)` — so the two sums
    * and the tax-load ppm replay bit-for-bit (non-negative DIV).
    */
  def nationMargin(spark: SparkSession, dir: String): DataFrame = {
    val widgets = t(spark, dir, "part")
      .filter(col("p_name").like("%widget%")).select(col("p_partkey"))
    val supp = t(spark, dir, "supplier")
      .join(broadcast(t(spark, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (dec2(col("l_extendedprice")) * 100).cast("long").as("price_cents"),
        (dec2(col("l_discount")) * 100).cast("long").as("disc_pct"),
        (dec2(col("l_tax")) * 100).cast("long").as("tax_pct"))
      .join(widgets, col("l_partkey") === col("p_partkey"))
      .join(t(spark, dir, "orders")
          .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("nation"), col("o_year"))
      // e4 units run 100× hotter than the repo's sc4 standard, so the sums
      // and the ppm multiply widen to DECIMAL(38,0)/HUGEINT (the q198/q133
      // overflow discipline); the BIGINT presentation cast then fails loudly
      // on both engines instead of wrapping if a group ever tops ~$9.2e12.
      .agg(sum((col("price_cents") * (lit(100L) - col("disc_pct")) * 100L)
          .cast(DecimalType(38, 0))).as("net_d"),
        sum((col("price_cents") * (lit(100L) - col("disc_pct")) *
          (lit(100L) + col("tax_pct"))).cast(DecimalType(38, 0))).as("gross_d"))
      .select(col("nation"), col("o_year"),
        col("net_d").cast("long").as("net_e4"),
        col("gross_d").cast("long").as("gross_e4"),
        expr("CAST((gross_d - net_d) * 1000000 DIV greatest(net_d, CAST(1 AS DECIMAL(38,0))) AS BIGINT)")
          .as("tax_load_ppm"))
      .orderBy(col("nation"), col("o_year"))
  }


  /** Late-shipment priority mix (the TPC-H Q12 shape, completing the
    * catalog's Q1-Q22 sweep): among 1996-1997 lines that shipped more
    * than 60 days after their order was placed, how many belonged to
    * critical-priority orders (1-URGENT / 2-HIGH) versus everything
    * else, per line status — the reference's priority-vs-latency
    * integrity concern as one equi-join plus conditional aggregation
    * (`query.txt:1`'s CASE rollup idiom). The ship-date window reaches
    * the lineitem scan as a pushed predicate; the lateness test is a
    * cheap post-join flag (it needs both sides, so it can't push
    * further); the rollup is |linestatus| rows.
    */
  def latePriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
          .otherwise(0L)).as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
          .otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }


  protected lazy val commerceOracle: Map[String, String] = Map(
    "q229_late_priority" ->
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND date_diff('day', CAST(o_orderdate AS DATE),
        |                 CAST(l_shipdate AS DATE)) > 60
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q222_shipping_priority" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |       * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)) AS BIGINT)
        |    AS revenue_sc4
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < '1997-06-30' AND l_shipdate > '1997-06-30'
        |GROUP BY 1, 2 ORDER BY revenue_sc4 DESC, o_orderkey LIMIT 10""".stripMargin,
    "q223_local_supplier" ->
      """SELECT n_name,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |       * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)) AS BIGINT)
        |    AS revenue_sc4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
        |GROUP BY 1 ORDER BY revenue_sc4 DESC, n_name""".stripMargin,
    "q224_forecast_revenue" ->
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |       * CAST(l_discount AS DECIMAL(18,2)) * 10000 AS BIGINT)) AS BIGINT)
        |    AS revenue_sc4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q225_order_count_dist" ->
      """WITH pc AS (
        |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS k FROM orders
        |  WHERE o_orderpriority <> '4-NOT SPECIFIED' GROUP BY 1)
        |SELECT coalesce(k, 0) AS c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM customer LEFT OUTER JOIN pc ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "q226_nation_margin" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey, l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
        |    CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS disc_pct,
        |    CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT) AS tax_pct
        |  FROM lineitem),
        |g AS (
        |  SELECT n_name AS nation,
        |    CAST(strftime(o_orderdate, '%Y') AS BIGINT) AS o_year,
        |    sum(price_cents * (100 - disc_pct) * 100) AS net_d,
        |    sum(price_cents * (100 - disc_pct) * (100 + tax_pct)) AS gross_d
        |  FROM li JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%widget%'
        |  GROUP BY 1, 2)
        |SELECT nation, o_year,
        |  CAST(net_d AS BIGINT) AS net_e4, CAST(gross_d AS BIGINT) AS gross_e4,
        |  CAST((gross_d - net_d) * 1000000 // greatest(net_d, 1) AS BIGINT) AS tax_load_ppm
        |FROM g ORDER BY nation, o_year""".stripMargin,
    "q216_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT l_partkey, p_name, l_suppkey,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000
        |      // CAST(l_quantity AS BIGINT) AS unit_microcents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'LARGE' AND p_size <= 10),
        |best AS (SELECT l_partkey AS bp, min(unit_microcents) AS best_unit
        |         FROM offers GROUP BY 1),
        |win AS (SELECT DISTINCT l_partkey AS partkey, p_name, l_suppkey, unit_microcents
        |        FROM offers JOIN best
        |          ON l_partkey = bp AND unit_microcents = best_unit)
        |SELECT partkey, p_name, s_name, n_name AS supp_nation, unit_microcents
        |FROM win JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY partkey, s_name""".stripMargin,
    "q217_nation_trade" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    CAST(strftime(l_shipdate, '%Y') AS BIGINT) AS ship_year,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |         * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS rev_sc4
        |  FROM lineitem),
        |sn AS (SELECT s_suppkey, n_name AS supp_nation FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey
        |       WHERE n_name IN ('NATION_19','NATION_11')),
        |cn AS (SELECT c_custkey, n_name AS cust_nation FROM customer
        |       JOIN nation ON c_nationkey = n_nationkey
        |       WHERE n_name IN ('NATION_19','NATION_11'))
        |SELECT supp_nation, cust_nation, ship_year,
        |  CAST(sum(rev_sc4) AS BIGINT) AS revenue_sc4,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM li JOIN sn ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN cn ON o_custkey = c_custkey
        |WHERE (supp_nation = 'NATION_19' AND cust_nation = 'NATION_11')
        |   OR (supp_nation = 'NATION_11' AND cust_nation = 'NATION_19')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q218_important_stock" ->
      """WITH v AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |      AS part_value_cents
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1),
        |tot AS (SELECT CAST(sum(part_value_cents) AS BIGINT) AS total_cents FROM v)
        |SELECT l_partkey AS partkey, part_value_cents
        |FROM v CROSS JOIN tot
        |WHERE part_value_cents > total_cents // 10000
        |ORDER BY part_value_cents DESC, partkey""".stripMargin,
    "q219_small_qty" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'),
        |a AS (SELECT l_partkey AS ap, CAST(sum(qty) AS BIGINT) AS sum_qty,
        |        CAST(count(*) AS BIGINT) AS cnt
        |      FROM li GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_small,
        |  CAST(sum(price_cents) AS BIGINT) AS lost_cents,
        |  CAST(sum(price_cents) // 7 AS BIGINT) AS avg_yearly_cents
        |FROM li JOIN a ON l_partkey = ap
        |WHERE qty * 5 * cnt < sum_qty""".stripMargin,
    "q220_disjunctive_join" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |         * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS rev_sc4
        |  FROM lineitem)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(rev_sc4) AS BIGINT) AS revenue_sc4
        |FROM li JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5 AND qty BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND qty BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND qty BETWEEN 20 AND 30)
        |GROUP BY 1 ORDER BY p_brand""".stripMargin,
    "q221_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |         * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT)) AS BIGINT)
        |      AS total_revenue_sc4
        |  FROM lineitem
        |  WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        |  GROUP BY 1),
        |mx AS (SELECT max(total_revenue_sc4) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, total_revenue_sc4
        |FROM rev CROSS JOIN mx
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_sc4 = max_rev
        |ORDER BY s_suppkey""".stripMargin,
    "q215_fill_sla" ->
      """WITH ls AS (SELECT l_orderkey, max(l_shipdate) AS last_ship
        |            FROM lineitem GROUP BY 1),
        |j AS (SELECT o_orderpriority,
        |        date_diff('day', CAST(o_orderdate AS DATE), CAST(last_ship AS DATE)) AS fill_days
        |      FROM orders JOIN ls ON o_orderkey = l_orderkey),
        |b AS (SELECT o_orderpriority,
        |        CASE WHEN fill_days <= 30 THEN 'a_030'
        |             WHEN fill_days <= 60 THEN 'b_060'
        |             WHEN fill_days <= 90 THEN 'c_090'
        |             ELSE 'd_90plus' END AS sla_bucket
        |      FROM j),
        |cell AS (SELECT o_orderpriority, sla_bucket, CAST(count(*) AS BIGINT) AS n_orders
        |         FROM b GROUP BY 1, 2),
        |pp AS (SELECT o_orderpriority, CAST(sum(n_orders) AS BIGINT) AS t FROM cell GROUP BY 1)
        |SELECT o_orderpriority, sla_bucket, n_orders,
        |  CAST(n_orders * 1000000 // t AS BIGINT) AS share_ppm
        |FROM cell JOIN pp USING (o_orderpriority)
        |ORDER BY o_orderpriority, sla_bucket""".stripMargin,
    "q211_promo_share" ->
      """WITH li AS (SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS month,
        |              CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |                   * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS rev_sc4
        |            FROM lineitem)
        |SELECT month,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_sc4 ELSE 0 END) AS BIGINT) AS promo_rev_sc4,
        |  CAST(sum(rev_sc4) AS BIGINT) AS total_rev_sc4,
        |  CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev_sc4 ELSE 0 END) * 1000000
        |       // greatest(sum(rev_sc4), 1) AS BIGINT) AS promo_ppm
        |FROM li JOIN part ON l_partkey = p_partkey
        |GROUP BY month ORDER BY month""".stripMargin,
    "q212_supplier_variety" ->
      """WITH bad AS (SELECT l_suppkey FROM lineitem
        |             GROUP BY 1
        |             HAVING sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 20 > count(*) * 7),
        |inc AS (SELECT DISTINCT p_brand, p_type, l_suppkey
        |        FROM lineitem JOIN part ON l_partkey = p_partkey
        |        WHERE l_suppkey NOT IN (SELECT l_suppkey FROM bad))
        |SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS n_suppliers
        |FROM inc GROUP BY 1, 2 ORDER BY p_brand, p_type""".stripMargin,
    "q202_excess_inventory" ->
      """WITH h1 AS (SELECT l_partkey, l_suppkey,
        |              CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q_centi
        |            FROM lineitem
        |            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-07-01'),
        |pp AS (SELECT l_partkey, l_suppkey, CAST(sum(q_centi) AS BIGINT) AS pair_centi
        |       FROM h1 GROUP BY 1, 2),
        |pa AS (SELECT l_partkey,
        |         CAST(sum(pair_centi) AS BIGINT) // count(*) AS avg_centi
        |       FROM pp GROUP BY 1),
        |ex AS (SELECT pp.* FROM pp JOIN pa USING (l_partkey)
        |       WHERE pair_centi * 2 > avg_centi * 3)
        |SELECT s_suppkey, s_name,
        |  CAST(count(*) AS BIGINT) AS n_excess_parts,
        |  CAST(sum(pair_centi) AS BIGINT) AS excess_centi
        |FROM ex JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2
        |ORDER BY n_excess_parts DESC, s_suppkey LIMIT 20""".stripMargin,
    "q203_idle_customers" ->
      """WITH c AS (SELECT c_custkey, c_mktsegment,
        |             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
        |           FROM customer),
        |oc AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        |       FROM orders GROUP BY 1),
        |cc AS (SELECT c.*, coalesce(oc.n_orders, 0) AS n_orders
        |       FROM c LEFT JOIN oc ON c_custkey = o_custkey),
        |sa AS (SELECT c_mktsegment,
        |         CAST(sum(bal_cents) AS BIGINT) // count(*) AS avg_cents,
        |         CAST(sum(n_orders) AS BIGINT) // count(*) AS avg_orders
        |       FROM cc WHERE bal_cents > 0 GROUP BY 1),
        |idle AS (SELECT cc.* FROM cc JOIN sa USING (c_mktsegment)
        |         WHERE bal_cents > avg_cents AND n_orders * 2 < avg_orders)
        |SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_idle,
        |  CAST(sum(bal_cents) AS BIGINT) AS idle_cents
        |FROM idle GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS count_order,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_rank_latest" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q03_watermark_bounds" ->
      """SELECT coalesce(min(o_orderkey), 0) AS min_run_id, coalesce(max(o_orderkey), 0) AS max_run_id
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey > 1000""".stripMargin,
    "q04_incremental_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, strftime(l_shipdate, '%Y-%m-%d') AS ship_date
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-03-31 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q05_filter_in_like" ->
      """SELECT p_partkey, p_name, p_brand, p_type, p_size FROM part
        |WHERE p_brand IN ('Brand#1','Brand#2','Brand#3')
        |  AND (p_name LIKE '%widget%' OR p_name LIKE '%bolt%')
        |ORDER BY p_partkey""".stripMargin,
    "q06_dim_enrich" ->
      """SELECT coalesce(r_name, 'UNKNOWN') AS region_name,
        | CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'Vehicle'
        |      WHEN c_mktsegment = 'MACHINERY' THEN 'Industrial'
        |      WHEN c_mktsegment IS NULL THEN 'Not Applicable'
        |      ELSE 'Other' END AS segment_class,
        | count(*) AS n_lines, sum(l_quantity) AS sum_qty,
        | CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |LEFT JOIN orders ON l_orderkey = o_orderkey AND o_orderstatus IN ('F','O')
        |LEFT JOIN customer ON o_custkey = c_custkey
        |LEFT JOIN nation ON c_nationkey = n_nationkey
        |LEFT JOIN region ON n_regionkey = r_regionkey
        |LEFT JOIN supplier ON l_suppkey = s_suppkey
        |LEFT JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q07_join_agg_subquery" ->
      """SELECT c_custkey, c_name, coalesce(z.order_cnt, 0) AS order_cnt,
        | coalesce(z.max_price, 0.0) AS max_price
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, count(*) AS order_cnt, max(o_totalprice) AS max_price
        |           FROM orders GROUP BY o_custkey) z
        |  ON c_custkey = z.o_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q09_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 190000)
        |ORDER BY c_custkey""".stripMargin,
    "q10_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q12_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q13_dup_finder" ->
      """SELECT o_custkey, o_orderstatus, count(*) AS dup_count FROM orders
        |GROUP BY o_custkey, o_orderstatus HAVING count(*) > 1
        |ORDER BY o_custkey, o_orderstatus""".stripMargin,
    "q14_listagg" ->
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q15_except_diff" ->
      """SELECT o_orderkey, 'source_only' AS diff_side FROM
        | (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000
        |  EXCEPT SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |UNION ALL
        |SELECT o_orderkey, 'target_only' AS diff_side FROM
        | (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
        |  EXCEPT SELECT o_orderkey FROM orders WHERE o_totalprice > 150000)
        |ORDER BY o_orderkey, diff_side""".stripMargin,
    "q16_null_audit" ->
      """SELECT c_custkey, c_name FROM customer
        |LEFT JOIN orders ON c_custkey = o_custkey
        |WHERE o_orderkey IS NULL ORDER BY c_custkey""".stripMargin,
    "q17_count_reconcile" ->
      """SELECT (SELECT count(*) FROM orders) AS src_count,
        | (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS tgt_count,
        | (SELECT count(*) FROM orders) = (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS is_match""".stripMargin,
    "q51_catalog_query" ->
      """SELECT r_name AS region_name, count(*) AS n_nations, min(n_name) AS first_nation
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY region_name""".stripMargin,
    "q58_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q34_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q35_cast_convert" ->
      """SELECT o_orderkey, CAST(CAST(o_custkey AS VARCHAR) AS BIGINT) AS rt_key,
        | CAST(epoch(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d')) AS BIGINT) AS order_epoch
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q37_running_total" ->
      """SELECT o_custkey, o_orderkey,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_total,
        | lag(o_totalprice) OVER w AS prev_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q38_daily_agg" ->
      """SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day, o_orderstatus,
        | count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q39_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region_name,
        | coalesce(n_name, 'ALL') AS nation_name,
        | count(*) AS n_customers,
        | CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,
    "q47_percentiles" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_quantity, 0.9) AS p90_qty, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q48_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q43_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY o_custkey""".stripMargin,
    "q81_bloom_filter" ->
      """WITH keys AS (SELECT DISTINCT o_custkey AS key FROM orders WHERE o_totalprice > 400000),
        |kpos AS (SELECT key, (('0x' || substr(md5(CAST(key AS VARCHAR)), 1 + 8*j, 8))::BIGINT) % 1024 AS pos
        |         FROM keys, (VALUES (0), (1), (2)) jt(j)),
        |bloom AS (SELECT pos // 32 AS word, bit_or(1::BIGINT << (pos % 32)) AS bits
        |          FROM kpos GROUP BY pos // 32),
        |cpos AS (SELECT c_custkey, (('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1 + 8*j, 8))::BIGINT) % 1024 AS pos
        |         FROM customer, (VALUES (0), (1), (2)) jt(j)),
        |verd AS (SELECT c_custkey,
        |           min(CASE WHEN (coalesce(bits, 0) & (1::BIGINT << (pos % 32))) = (1::BIGINT << (pos % 32))
        |                    THEN 1 ELSE 0 END) AS hit
        |         FROM cpos LEFT JOIN bloom ON cpos.pos // 32 = bloom.word
        |         GROUP BY c_custkey)
        |SELECT CAST(c.c_nationkey AS BIGINT) AS nation, count(*) AS n_customers,
        |  CAST(sum(CASE WHEN v.hit = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pos,
        |  CAST(sum(CASE WHEN k.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_members
        |FROM customer c
        |JOIN verd v ON c.c_custkey = v.c_custkey
        |LEFT JOIN keys k ON c.c_custkey = k.key
        |GROUP BY c.c_nationkey ORDER BY nation""".stripMargin,
    "q149_join_stats" -> {
      val edges = Seq(
        ("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders"),
        ("lineitem", "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier"),
        ("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey->customer"),
        ("customer", "c_nationkey", "nation", "n_nationkey", "customer.c_nationkey->nation"))
      edges.map { case (f, k, d, dk, name) =>
        s"""SELECT '$name' AS edge, n_rows, n_keys, max_freq,
           | (max_freq * 1000000) // greatest(n_rows // n_keys, 1) AS skew_ppm,
           | orphan_rows, unmatched_dim_keys
           |FROM (WITH f AS (SELECT $k AS k, count(*) AS c FROM $f WHERE $k IS NOT NULL GROUP BY 1),
           | s AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys, CAST(max(c) AS BIGINT) AS max_freq FROM f),
           | orp AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS orphan_rows FROM f WHERE NOT EXISTS (SELECT 1 FROM $d d WHERE d.$dk = f.k)),
           | um AS (SELECT CAST(count(*) AS BIGINT) AS unmatched_dim_keys FROM $d d WHERE NOT EXISTS (SELECT 1 FROM f f2 WHERE f2.k = d.$dk))
           | SELECT * FROM s, orp, um)""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY edge")
    },
    "q172_fuzzy_blocks" ->
      """WITH c AS (SELECT c_custkey AS id, c_name AS nm,
        |             substr(c_name, 1, 16) AS blk FROM customer),
        |sz AS (SELECT blk, CAST(count(*) AS BIGINT) AS n_records FROM c GROUP BY 1),
        |pr AS (SELECT a.blk,
        |         CAST(count(*) AS BIGINT) AS n_pairs,
        |         CAST(sum(CASE WHEN levenshtein(a.nm, b.nm) <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches
        |       FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
        |       GROUP BY 1)
        |SELECT sz.blk AS block, n_records,
        |  coalesce(n_pairs, 0) AS n_pairs,
        |  coalesce(n_matches, 0) AS n_matches,
        |  CAST(CASE WHEN coalesce(n_pairs, 0) = 0 THEN 0
        |            ELSE coalesce(n_matches, 0) * 1000000 // n_pairs END AS BIGINT) AS match_ppm
        |FROM sz LEFT JOIN pr USING (blk) ORDER BY block""".stripMargin,
    "q173_lead_time" ->
      """WITH lg AS (SELECT o_orderpriority AS priority,
        |              CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS days
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |bv AS (SELECT priority, days, CAST(count(*) AS BIGINT) AS k FROM lg GROUP BY 1, 2),
        |tt AS (SELECT priority, CAST(sum(k) AS BIGINT) AS n,
        |         CAST(max(days) AS BIGINT) AS max_days FROM bv GROUP BY 1),
        |cm AS (SELECT bv.*, n, max_days,
        |         CAST(sum(k) OVER (PARTITION BY bv.priority ORDER BY days) AS BIGINT) AS cum
        |       FROM bv JOIN tt USING (priority))
        |SELECT priority, n AS n_lineitems,
        |  min(CASE WHEN cum >= (n * 50 + 99) // 100 THEN days END) AS median_days,
        |  min(CASE WHEN cum >= (n * 90 + 99) // 100 THEN days END) AS p90_days,
        |  max_days
        |FROM cm GROUP BY priority, n, max_days ORDER BY priority""".stripMargin,
    "q174_variance_bridge" ->
      """WITH li AS (SELECT p_brand AS brand, l_partkey AS pk,
        |              CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a' ELSE 'b' END AS period,
        |              CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS r,
        |              CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q
        |            FROM lineitem
        |            JOIN orders ON l_orderkey = o_orderkey
        |            JOIN part ON l_partkey = p_partkey),
        |pp AS (SELECT brand, pk,
        |         CAST(sum(CASE WHEN period = 'a' THEN r ELSE 0 END) AS BIGINT) AS r1,
        |         CAST(sum(CASE WHEN period = 'b' THEN r ELSE 0 END) AS BIGINT) AS r2,
        |         CAST(sum(CASE WHEN period = 'a' THEN q ELSE 0 END) AS BIGINT) AS q1,
        |         CAST(sum(CASE WHEN period = 'b' THEN q ELSE 0 END) AS BIGINT) AS q2
        |       FROM li GROUP BY 1, 2),
        |ef AS (SELECT brand, r1, r2, q1, q2,
        |         CASE WHEN q1 > 0 AND q2 > 0 THEN 1 ELSE 0 END AS is_both,
        |         CASE WHEN q1 > 0 AND q2 > 0 THEN
        |           CASE WHEN q2 >= q1
        |             THEN CAST((CAST(q2 - q1 AS HUGEINT) * r1) // q1 AS BIGINT)
        |             ELSE -CAST((CAST(q1 - q2 AS HUGEINT) * r1) // q1 AS BIGINT) END
        |         ELSE 0 END AS vol_e,
        |         CASE WHEN q1 > 0 AND q2 > 0
        |           THEN CAST((CAST(r2 AS HUGEINT) * q1) // q2 AS BIGINT) - r1
        |         ELSE 0 END AS price_e
        |       FROM pp),
        |ef2 AS (SELECT brand, is_both, vol_e, price_e,
        |          CASE WHEN is_both = 1 THEN (r2 - r1) - vol_e - price_e ELSE 0 END AS mix_e,
        |          CASE WHEN q1 = 0 THEN r2 ELSE 0 END AS new_rev,
        |          CASE WHEN q2 = 0 THEN r1 ELSE 0 END AS disc_rev,
        |          r2 - r1 AS delta
        |        FROM ef)
        |SELECT brand, CAST(sum(is_both) AS BIGINT) AS n_parts_both,
        |  CAST(sum(delta) AS BIGINT) AS delta_cents,
        |  CAST(sum(vol_e) AS BIGINT) AS volume_cents,
        |  CAST(sum(price_e) AS BIGINT) AS price_cents,
        |  CAST(sum(mix_e) AS BIGINT) AS mix_cents,
        |  CAST(sum(new_rev) AS BIGINT) AS new_cents,
        |  CAST(sum(disc_rev) AS BIGINT) AS discontinued_cents
        |FROM ef2 GROUP BY brand ORDER BY brand""".stripMargin,
    "q175_part_affinity" ->
      """WITH it AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |no AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM it),
        |mg AS (SELECT pk, CAST(count(*) AS BIGINT) AS n_p FROM it GROUP BY 1),
        |pr AS (SELECT a.pk AS part_a, b.pk AS part_b, CAST(count(*) AS BIGINT) AS n_ab
        |       FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
        |       GROUP BY 1, 2 HAVING count(*) >= 3)
        |SELECT part_a, part_b, n_ab,
        |  CAST((CAST(n_ab AS HUGEINT) * n_orders * 1000000) //
        |       (CAST(ma.n_p AS HUGEINT) * mb.n_p) AS BIGINT) AS lift_ppm
        |FROM pr JOIN mg ma ON pr.part_a = ma.pk
        |        JOIN mg mb ON pr.part_b = mb.pk
        |        CROSS JOIN no
        |ORDER BY lift_ppm DESC, part_a, part_b LIMIT 20""".stripMargin,
    "q180_pareto" ->
      """WITH pc AS (SELECT o_custkey,
        |              CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS v
        |            FROM orders GROUP BY 1),
        |bv AS (SELECT v, CAST(count(*) AS BIGINT) AS k FROM pc GROUP BY 1),
        |tt AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS tot FROM pc),
        |cm AS (SELECT v, k,
        |         CAST(sum(k) OVER (ORDER BY v DESC) AS BIGINT) AS users_through,
        |         CAST(sum(v * k) OVER (ORDER BY v DESC) AS BIGINT) AS rev_through
        |       FROM bv),
        |cm2 AS (SELECT *, users_through - k AS users_before,
        |          rev_through - v * k AS rev_before FROM cm),
        |th AS (SELECT unnest([1, 5, 10, 20, 50])::BIGINT AS pct)
        |SELECT pct, (n * pct + 99) // 100 AS n_top_customers,
        |  CAST(rev_before + ((n * pct + 99) // 100 - users_before) * v AS BIGINT) AS revenue_cents,
        |  CAST(((rev_before + ((n * pct + 99) // 100 - users_before) * v) * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM th CROSS JOIN tt JOIN cm2
        |  ON users_before < (n * pct + 99) // 100 AND (n * pct + 99) // 100 <= users_through
        |ORDER BY pct""".stripMargin,
    "q36_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           | CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str
           |FROM orders""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
    },
    // q61's exact columns replay like q36's; the HLL estimate itself is
    // engine-specific, so the oracle pins its in-plan integer bound TRUE.
    "q61_profile_approx" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           | CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           | CAST(min($c) AS VARCHAR) AS min_str, CAST(max($c) AS VARCHAR) AS max_str,
           | TRUE AS approx_in_bounds
           |FROM orders""".stripMargin
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name")
    },
    "q182_market_share" ->
      """WITH dims AS (SELECT c_custkey, n_name AS nation, r_name AS region
        |              FROM customer JOIN nation ON c_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey),
        |li AS (SELECT l_orderkey,
        |         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |              * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS rev_sc4
        |       FROM lineitem),
        |cells AS (SELECT region, CAST(year(o_orderdate) AS BIGINT) AS yr, nation,
        |            CAST(sum(rev_sc4) AS BIGINT) AS rev
        |          FROM li JOIN orders ON l_orderkey = o_orderkey
        |          JOIN dims ON o_custkey = c_custkey
        |          GROUP BY 1, 2, 3),
        |ry AS (SELECT region, yr, CAST(sum(rev) AS BIGINT) AS rtot
        |       FROM cells GROUP BY 1, 2)
        |SELECT region, yr, nation, rev AS revenue_sc4,
        |  CAST(rev * 1000000 // rtot AS BIGINT) AS share_ppm
        |FROM cells JOIN ry USING (region, yr)
        |ORDER BY region, yr, nation""".stripMargin,
    "q183_supplier_wait" ->
      """WITH ps AS (SELECT l_orderkey AS ok, l_suppkey AS sk,
        |              CAST(max(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |                                           CAST(l_shipdate AS DATE)) > 60
        |                            THEN 1 ELSE 0 END) AS BIGINT) AS any_late
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |            GROUP BY 1, 2),
        |po AS (SELECT ok, CAST(count(*) AS BIGINT) AS n_supp,
        |         CAST(sum(any_late) AS BIGINT) AS n_late
        |       FROM ps GROUP BY 1)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM ps JOIN po USING (ok) JOIN supplier ON sk = s_suppkey
        |WHERE any_late = 1 AND n_supp > 1 AND n_late = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,
    "q188_returned_items" ->
      """WITH r AS (SELECT l_orderkey,
        |             CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |                  * (1 - CAST(l_discount AS DECIMAL(18,2))) * 10000 AS BIGINT) AS rev_sc4
        |           FROM lineitem WHERE l_returnflag = 'R'),
        |pc AS (SELECT o_custkey, CAST(sum(rev_sc4) AS BIGINT) AS lost_revenue_sc4
        |       FROM r JOIN orders ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT c_custkey, c_name, n_name AS nation, lost_revenue_sc4
        |FROM pc JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY lost_revenue_sc4 DESC, c_custkey LIMIT 20""".stripMargin,
    "q200_big_orders" ->
      """WITH q AS (SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |           FROM lineitem GROUP BY 1
        |           HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 200)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
        |  CAST(qty * 100 AS BIGINT) AS total_qty_centi
        |FROM q JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY price_cents DESC, o_orderkey LIMIT 10""".stripMargin,
    "q191_skyline" ->
      """WITH p AS (SELECT p_partkey,
        |             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents,
        |             CAST(p_size AS BIGINT) AS size
        |           FROM part)
        |SELECT p_partkey, price_cents, size FROM p a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM p b
        |  WHERE b.price_cents <= a.price_cents AND b.size >= a.size
        |    AND (b.price_cents < a.price_cents OR b.size > a.size))
        |ORDER BY price_cents, p_partkey""".stripMargin,
    "q189_priority_check" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND date_diff('day', CAST(o_orderdate AS DATE),
        |                              CAST(l_shipdate AS DATE)) > 30)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
