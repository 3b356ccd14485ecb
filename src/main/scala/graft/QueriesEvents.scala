package graft

import graft.functions.{Dedup, Domains, Quant, Sampling, Similarity, Text}
import graft.ops.{Events, Materialize, Relational}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-stream shapes over the `events` table: windows, sessions,
  * funnels, retention, sketches, anomaly and robust-stats monitors — the
  * batch twins of the streaming operators.
  *
  * One thematic slice of the [[Queries]] catalog (r13 split — the object
  * grew past 8k lines); `Queries.all` remains the assembly point. Members
  * self-type against `Queries.type` so cross-theme builders and shared
  * fragments resolve exactly as before the split.
  */
private[graft] trait QueriesEvents { this: Queries.type =>


  /** 2A-12: CASE-unpivot — name/value pairs to wide columns via conditional
    * aggregation (`query.txt:1` SMS/MMS/DATA/VOICE columns), here over the
    * events stream's type/value pairs.
    */
  def caseUnpivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "purchase", col("value"))).as("purchase_max"),
        max(when(col("event_type") === "view", col("value"))).as("view_max"),
        max(when(col("event_type") === "click", col("value"))).as("click_max"),
        max(when(col("event_type") === "error", col("value"))).as("error_max"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))


  /** 2B-2: offset-continuity seams via lag over a per-(user, hour-bucket)
    * offset ledger derived from events (`KafkaDemo.sh:184-200` — prev run's
    * until must equal current run's from).
    */
  def offsetGaps(spark: SparkSession, dir: String): DataFrame = {
    val ledger = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 3600000000000").as("bucket"), col("event_id"))
      .groupBy(col("user_id"), col("bucket"))
      .agg(min(col("event_id")).as("from_id"), max(col("event_id")).as("until_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
    ledger
      .withColumn("prev_until", lag(col("until_id"), 1).over(w))
      .filter(col("prev_until").isNotNull && col("prev_until") =!= col("from_id"))
      .select(col("user_id"), col("bucket"), col("prev_until"), col("from_id"))
      .orderBy(col("user_id"), col("bucket"))
  }


  /** Sessionization (gap 30 min) + per-session rollup — batch twin of the
    * streaming `session_window` leg. Event time = integer epoch micros.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("value"),
        expr("ts div 1000").as("ts_us"))
    Events.sessionize(e, col("user_id"), col("ts_us"), col("event_id"), 1800000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"),
        money(dec2(col("value"))).as("session_value"))
      .orderBy(col("user_id"), col("session_seq"))
  }


  /** Tumbling 1-hour window aggregation — batch twin of the streaming
    * windowed aggregation; bucket as integer epoch seconds.
    */
  def tumblingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(expr("(ts div 1000000000) div 3600 * 3600").as("hour_epoch"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), money(dec2(col("value"))).as("total_value"))
      .orderBy(col("hour_epoch"), col("event_type"))


  /** Sliding-window aggregation (1 h window, 30 min slide) — each event
    * lands in exactly two slots, materialized by an explode of the two slot
    * ids rather than a range join: the 2× fan-out is the window/slide ratio
    * and shuffles only (slot, user_id). q20 is the tumbling twin; the
    * streaming form is `window(ts, "1 hour", "30 minutes")`.
    */
  def slidingWindow(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(expr("(ts div 1000000000) div 1800").as("slot"), col("user_id"))
      .select(explode(array(col("slot"), col("slot") - 1)).as("w"), col("user_id"))
      .groupBy((col("w") * 1800).as("window_start"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("window_start"))


  /** 2B-20: record accounting from JSON payloads
    * (`Kafka_ArrivalToConform.sh:408-416` counts JSON objects) — extract a
    * field from the props JSON and aggregate.
    */
  def jsonExtractAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))


  /** As-of join: each click enriched with the user's latest purchase at or
    * before the click (graft.ops.AsOf — composed union+window form; DuckDB
    * verifies with its native ASOF JOIN).
    */
  def asofClickPurchase(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"), col("value"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = Relational.rankLatest(
        e.filter(col("event_type") === "purchase"),
        Seq(col("user_id"), col("ts_us")), Seq(col("event_id").desc))
      .select(col("user_id"), col("ts_us").as("p_ts"),
        col("event_id").as("p_event_id"), col("value").as("p_value"))
    graft.ops.AsOf.joinAsOf(clicks, purchases, "user_id", "ts_us", "p_ts",
        Seq("p_event_id", "p_value"))
      .select(col("event_id"), col("user_id"),
        col("asof_p_event_id"), col("asof_p_value"))
      .orderBy(col("event_id"))
  }


  /** Banded range join: per purchase, clicks of the same user within the
    * preceding 10 minutes — equi-shuffle on (user, bucket) instead of a
    * nested-loop inequality join.
    */
  def rangeJoinClicks(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts_us").as("p_ts"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_ts"))
    graft.ops.RangeJoin.joinRange(purchases, clicks, "user_id", "p_ts", "c_ts",
        window = 600000000L) // 10 min in µs
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_recent_clicks"))
      .orderBy(col("p_id"))
  }


  /** Dedicated pivot operator (RelationalGroupedDataset.pivot with a static
    * value list — the planned form; q11 is the manual CASE twin).
    */
  def pivotEvents(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "view", "purchase"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))


  /** Salted two-phase aggregation — same result as the direct GROUP BY
    * (the oracle runs the direct form), so the skew rewrite is itself
    * under the differential gate.
    */
  def saltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Skew.saltedAggregate(
        t(spark, dir, "events"), Seq(col("event_type")), buckets = 8,
        partialAggs = Seq(
          sum(dec2(col("value"))).as("pv"),
          count(lit(1)).as("pn")),
        finalAggs = Seq(
          sum(col("pv")).cast("double").as("total_value"),
          sum(col("pn")).as("n")))
      .orderBy(col("event_type"))


  /** Salted join under the oracle: the skew rewrite must be invisible to
    * results, so DuckDB verifies with the plain join. The fact side is
    * events on its naturally skewed event_type; the dim is the per-type
    * average (sum/count division done identically in double on both
    * engines for bit parity).
    */
  def skewJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = t(spark, dir, "events")
    val dim = events.groupBy(col("event_type"))
      .agg((sum(dec2(col("value"))).cast("double") / count(lit(1))).as("type_avg"))
    graft.ops.Skew.saltedJoin(events, dim, "event_type", buckets = 8)
      .groupBy(col("event_type"))
      .agg(count(when(col("value") > col("type_avg"), 1)).as("n_above"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))
  }


  /** Group-wise z-score outliers on event values
    * ([[graft.dq.Checks.zscoreOutliers]]): exact integer-sum moments per
    * event type, broadcast back over the fact scan, |z| > 3 survives.
    */
  def valueOutliers(spark: SparkSession, dir: String): DataFrame =
    graft.dq.Checks.zscoreOutliers(
        t(spark, dir, "events").select(col("event_id"), col("event_type"), col("value")),
        col("event_type"), col("value"), threshold = 3.0)
      .select(col("event_id"), col("event_type"), col("value"), col("z"))
      .orderBy(col("event_type"), col("event_id"))


  /** Temporal-split cold-start audit: split events at the 80th time
    * percentile (integer nano math), then measure, per event type, how
    * many evaluation-window events belong to users with NO history in the
    * training window — the leakage-vs-coverage number a time-based
    * train/eval split reports before features are built. The train side
    * reduces to distinct user ids (a narrow semi-join input), never
    * re-scanning event payloads.
    */
  def coldStartAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events").select(col("event_id"), col("event_type"),
      col("user_id"), col("ts"))
    // deterministic cut: min + 80% of the span (integer nanos). The 1-row
    // min/max aggregate stays IN-PLAN as a broadcast cross join — no
    // driver-side .head(), so the audit is a single job and is safe on an
    // empty events table (zero rows out instead of an NPE).
    val bounds = e.agg(min(col("ts")).as("__lo"), max(col("ts")).as("__hi"))
    val withCut = e.crossJoin(broadcast(bounds))
      // DIV = integral division, matching the oracle's `(hi - lo) // 5 * 4`
      // exactly (Column./ would detour through double).
      .withColumn("__cut", col("__lo") + expr("(__hi - __lo) DIV 5") * 4)
    val trainUsers = withCut.filter(col("ts") < col("__cut"))
      .select(col("user_id")).distinct()
      .withColumn("seen", lit(1L))
    withCut.filter(col("ts") >= col("__cut"))
      .join(broadcast(trainUsers), Seq("user_id"), "left")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval_events"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_cold_start"),
        countDistinct(when(col("seen").isNull, col("user_id"))).as("n_cold_users"))
      .orderBy(col("event_type"))
  }


  /** Ordered conversion funnel over the event stream: users who signed up,
    * then clicked AFTER their first signup, then purchased AFTER that first
    * click — each stage gated on the previous stage's first-completion
    * time, not mere event co-occurrence. Scale shape: type filters push to
    * the scan; every stage is a user_id-keyed aggregate joined to the
    * (already user-unique, strictly shrinking) previous stage — three
    * co-partitionable shuffles, no windows over the raw stream.
    */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") >= col("t1"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") >= col("t2"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    def stage(df: DataFrame, step: Int, name: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step.toLong).as("step"), lit(name).as("stage"), col("n_users"))
    stage(s1, 1, "signup")
      .unionByName(stage(s2, 2, "signup>click"))
      .unionByName(stage(s3, 3, "signup>click>purchase"))
      .orderBy(col("step"))
  }


  /** Retention cohort matrix: users grouped by first-active day, counted on
    * each later active day as an offset from their cohort — the
    * engagement-decay table behind every retention curve. Scale shape: the
    * stream pre-aggregates to distinct (user, day) AT THE SCAN's first
    * shuffle (the raw events never reach the join), then one user-keyed
    * join against the per-user first-day aggregate and a low-card rollup.
    */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val first = e.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    e.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }


  /** Incremental maintenance of the q116 retention matrix: the nightly-job
    * form that merges a NEW day partition into yesterday's per-user state
    * instead of recomputing history. The split point is an in-plan scalar
    * (min day + 20, broadcast like q88's cut — no driver-side .head()).
    * Old-side state is exactly what a real job persists: per-user first
    * day + distinct (user, day) actives. The merge is
    * min-of-mins for first days plus a union of actives — and the result
    * must be INDISTINGUISHABLE from the full q116 recompute, which is
    * what the oracle (the same full-recompute SQL) and the parity spec
    * assert. At 100 TB the old side reads from the incremental store; only
    * the new partition is scanned fresh.
    */
  def incrementalRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val cut = e.agg((min(col("day")) + lit(20L)).as("__cut"))
    val withCut = e.crossJoin(broadcast(cut))
    val old = withCut.filter(col("day") < col("__cut")).drop("__cut")
    val fresh = withCut.filter(col("day") >= col("__cut")).drop("__cut")
    // the persisted incremental state: per-user first day over OLD runs only
    val firstOld = old.groupBy(col("user_id")).agg(min(col("day")).as("f"))
    val firstNew = fresh.groupBy(col("user_id")).agg(min(col("day")).as("f"))
    val first = firstOld.unionByName(firstNew)
      .groupBy(col("user_id")).agg(min(col("f")).as("cohort_day"))
    old.unionByName(fresh)
      .join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }


  /** Mergeable-sketch rollup: per-day HLL sketches of active users,
    * UNIONED into per-week distinct estimates without rescanning the
    * stream — the pre-aggregated sketch-table pattern that answers
    * "distinct users any window" at 100 TB from kilobytes of state per
    * day instead of a countDistinct over raw events. The HLL estimate is
    * engine-specific (no other engine reproduces it bit-for-bit), so the
    * query carries its OWN accuracy contract in-plan: the estimate folds
    * into `est_within_5pct` against an exact per-week distinct leg, and
    * the oracle value-checks the exact counts plus the TRUE bound — the
    * ≤5%-error invariant the spec used to hold alone now rides the
    * driver's hash check. q116/q118 remain the exact-arithmetic rollups.
    */
  def sketchRollup(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    val daily = e.groupBy(col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_events"))
    val weekly = daily
      .groupBy((col("day") - pmod(col("day"), lit(7L))).as("week_start"))
      .agg(
        count(lit(1)).as("n_days"),
        sum(col("n_events")).as("n_events"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    // Exact verification leg (one distinct + count per week, the q116
    // shuffle shape): the sketch path stays the production read pattern;
    // this leg exists to carry the error bound under the oracle.
    val exact = e
      .select((col("day") - pmod(col("day"), lit(7L))).as("week_start"),
        col("user_id"))
      .distinct()
      .groupBy(col("week_start"))
      .agg(count(lit(1)).as("exact_distinct_users"))
    weekly.join(exact, "week_start")
      .select(col("week_start"), col("n_days"), col("n_events"),
        col("exact_distinct_users"),
        (abs(col("est") - col("exact_distinct_users")) * 20L <=
          col("exact_distinct_users")).as("est_within_5pct"))
      .orderBy(col("week_start"))
  }


  /** Conversion-latency distribution per funnel transition: median and p90
    * nanoseconds from first signup to first qualifying click, and from
    * that click to first qualifying purchase — the "how long does
    * conversion take" companion to q115's "how many convert". Same
    * shrinking user-keyed aggregates; the exact percentile runs over one
    * latency long per converted user.
    */
  def funnelLatency(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts") >= col("t1"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t2"), min(col("t1")).as("t1"))
    val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts") >= col("t2"))
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("t3"), min(col("t2")).as("t2"))
    def lat(df: DataFrame, from: String, to: String, name: String): DataFrame =
      df.select((col(to) - col(from)).as("lat"))
        .agg(count(lit(1)).as("n_users"),
          expr("percentile(lat, 0.5)").as("median_latency_ns"),
          expr("percentile(lat, 0.9)").as("p90_latency_ns"))
        .select(lit(name).as("stage"), col("n_users"),
          col("median_latency_ns"), col("p90_latency_ns"))
    lat(s2, "t1", "t2", "signup>click")
      .unionByName(lat(s3, "t2", "t3", "click>purchase"))
      .orderBy(col("stage"))
  }


  /** Heavy-hitter skew diagnostic: the top-20 hottest event keys with
    * their corpus share — the pre-check that decides whether a key needs
    * q49/q62's salting before a groupBy/join ships to the cluster. Plans
    * as a two-phase count into `TakeOrderedAndProject` (per-partition
    * top-N + tiny merge — no global sort of the key histogram), with the
    * stream total riding in-plan as a broadcast scalar. Deterministic
    * under ties ([[graft.ops.Skew.heavyHitters]] breaks on the key).
    */
  def heavyHitterAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events").select(col("user_id"))
    val total = e.agg(count(lit(1)).as("__total"))
    graft.ops.Skew.heavyHitters(e, col("user_id"), topN = 20)
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("(n * 1000000L) DIV __total"))
      .drop("__total")
      .orderBy(col("n").desc, col("user_id"))
  }


  /** Count-Min sketch heavy-hitter estimates, audited against exact
    * counts: the 4×256-cell mergeable sketch every streaming frequency
    * monitor keeps (kilobytes of state for an unbounded key space, only
    * ever OVER-estimating), built in one explode pass and probed for
    * q131's exact top-20 keys. Unlike library sketches, the hash family
    * is seeded md5 — fully deterministic and engine-portable — so the
    * ESTIMATES themselves replay bit-for-bit in the DuckDB oracle (q120's
    * HLL rollup is rows-only for exactly this reason; this sketch isn't).
    * Scale: cells are a 1024-row broadcast; the probe join and the final
    * min-over-rows run on 20×4 rows. over_ppm is the sketch's measured
    * collision error at this width — the number that sizes `width` for a
    * real key cardinality.
    */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val depth = 4
    val width = 256
    def lane(r: Int, key: Column): Column =
      pmod(conv(substring(md5(concat(lit(s"$r|"), key.cast("string"))), 1, 8),
        16, 10).cast("long"), lit(width.toLong))
    def lanes(key: Column): Column = explode(array((0 until depth).map(r =>
      struct(lit(r).as("r"), lane(r, key).as("lane"))): _*))
    val e = t(spark, dir, "events").select(col("user_id"))
    val cells = e.select(lanes(col("user_id")).as("c"))
      .groupBy(col("c.r").as("r"), col("c.lane").as("lane"))
      .agg(count(lit(1)).as("cell_n"))
    val probes = graft.ops.Skew.heavyHitters(e, col("user_id"), topN = 20)
      .select(col("user_id"), col("n"), lanes(col("user_id")).as("p"))
      .select(col("user_id"), col("n"), col("p.r").as("r"), col("p.lane").as("lane"))
    probes.join(broadcast(cells), Seq("r", "lane"))
      .groupBy(col("user_id"), col("n"))
      .agg(min(col("cell_n")).as("cms_estimate"))
      .withColumn("over_ppm", expr("((cms_estimate - n) * 1000000L) DIV n"))
      .orderBy(col("n").desc, col("user_id"))
  }


  /** Mergeable CMS rollup — the property that makes sketches worth keeping
    * at 100 TB, demonstrated end-to-end: per-DAY 4×256 Count-Min cells are
    * SUMMED into per-week sketches (cell-wise addition IS the Count-Min
    * merge), then probed for the overall top-5 keys and audited against
    * the exact weekly counts. The pre-aggregated-sketch-table pattern of
    * q120, but with the md5 hash family the estimates replay bit-for-bit
    * in the oracle — so "merge then estimate" is hash-verified, not just
    * rows-counted. Day cells are kilobytes; the merge is a second
    * aggregate over sketch-cardinality rows, never the raw stream.
    */
  def cmsWeeklyRollup(spark: SparkSession, dir: String): DataFrame = {
    val depth = 4
    val width = 256
    def lane(r: Int, key: Column): Column =
      pmod(conv(substring(md5(concat(lit(s"$r|"), key.cast("string"))), 1, 8),
        16, 10).cast("long"), lit(width.toLong))
    def lanes(key: Column): Column = explode(array((0 until depth).map(r =>
      struct(lit(r).as("r"), lane(r, key).as("lane"))): _*))
    val e = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    // per-day sketches (what a real pipeline persists) ...
    val daily = e.select(col("day"), lanes(col("user_id")).as("c"))
      .groupBy(col("day"), col("c.r").as("r"), col("c.lane").as("lane"))
      .agg(count(lit(1)).as("cell_n"))
    // ... merged cell-wise into per-week sketches
    val weekly = daily.groupBy(expr("day div 7").as("week"), col("r"), col("lane"))
      .agg(sum(col("cell_n")).as("cell_n"))
    val top = graft.ops.Skew.heavyHitters(e.select(col("user_id")),
      col("user_id"), topN = 5)
    val exact = e.join(broadcast(top.select(col("user_id"))), "user_id")
      .groupBy(expr("day div 7").as("week"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val probes = exact
      .select(col("week"), col("user_id"), col("n"), lanes(col("user_id")).as("p"))
      .select(col("week"), col("user_id"), col("n"),
        col("p.r").as("r"), col("p.lane").as("lane"))
    probes.join(broadcast(weekly), Seq("week", "r", "lane"))
      .groupBy(col("week"), col("user_id"), col("n"))
      .agg(min(col("cell_n")).as("cms_estimate"))
      .withColumn("over_ppm", expr("((cms_estimate - n) * 1000000L) DIV n"))
      .orderBy(col("week"), col("user_id"))
  }


  /** Concurrent-sessions curve: per hour, the PEAK number of
    * simultaneously open q19 sessions (plus starts/ends and the
    * hour-boundary level) — the capacity-planning read of the event
    * stream. The classic form is a single running sum over every
    * start/end delta in global time order: one reducer sorting the
    * world. Here the prefix sum is decomposed exactly the
    * `packByBudget` way, but sharded by TIME: within-hour running sums
    * window per hour (parallel across hours), a prefix over the tiny
    * per-hour totals gives each hour's opening level, and
    * peak(h) = opening(h) + max(within-hour run). Bit-identical to the
    * global sort for any tie order that respects time — ties at the
    * same microsecond order (+1 before −1, then user/session), so a
    * session ending exactly when another starts still overlaps it.
    * Finer shards (minutes) extend the same decomposition if an hour
    * outgrows a task.
    */
  def concurrencyCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
    val sess = Events.sessionize(e, col("user_id"), col("ts_us"),
        col("event_id"), 1800000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
    val deltas = sess.select(col("user_id"), col("session_seq"),
        col("s_start").as("t"), lit(1L).as("delta"))
      .unionAll(sess.select(col("user_id"), col("session_seq"),
        col("s_end").as("t"), lit(-1L).as("delta")))
      .withColumn("hour", expr("t div 3600000000"))
    val withinHour = Window.partitionBy(col("hour"))
      .orderBy(col("t"), col("delta").desc, col("user_id"), col("session_seq"))
    val within = deltas
      .withColumn("run_in_hour", sum(col("delta")).over(withinHour))
      .groupBy(col("hour")).agg(max(col("run_in_hour")).as("max_run"))
    val hourTotals = deltas.groupBy(col("hour"))
      .agg(sum(col("delta")).as("h_total"),
        sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"),
        sum(when(col("delta") === -1L, 1L).otherwise(0L)).as("n_ends"))
    val offsets = hourTotals
      .withColumn("end_concurrency",
        sum(col("h_total")).over(Window.orderBy(col("hour"))))
    within.join(offsets, "hour")
      .select((col("hour") * 3600L).as("hour_epoch"),
        col("n_starts"), col("n_ends"),
        (col("end_concurrency") - col("h_total") + col("max_run"))
          .as("peak_concurrency"),
        col("end_concurrency"))
      .orderBy(col("hour_epoch"))
  }


  /** Time-travel snapshots: each user's state AS OF three cut timestamps
    * — last event (type + id) and events-so-far — reconstructed from the
    * raw change-log in ONE pass. This is the q02 rank-latest pattern
    * generalized to multiple reconstruction points: the cuts derive
    * in-plan from the stream's own bounds (q88's broadcast-bounds
    * pattern, no driver collect), every event replicates only into the
    * cuts it precedes, and the latest-row window partitions by the
    * HIGH-cardinality (cut, user) key — per-user state is exactly the
    * partitioning a cluster parallelizes freely, never a hot reducer.
    * The practical face is SCD/backfill auditing: "what did the serving
    * state look like at T" without a stored snapshot per T.
    */
  def asOfSnapshots(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("ts_ns"))
    val bounds = e.agg(min(col("ts_ns")).as("__lo"), max(col("ts_ns")).as("__hi"))
    val cuts = broadcast(bounds.select(
      explode(array(lit(1), lit(2), lit(3))).as("cut_id"),
      col("__lo"), col("__hi")))
      .select(col("cut_id"),
        expr("__lo + ((__hi - __lo) DIV 4) * cut_id").as("cut_ns"))
    val asOf = e.join(broadcast(cuts), col("ts_ns") <= col("cut_ns"))
    val perUserCut = Window.partitionBy(col("cut_id"), col("user_id"))
    asOf
      .withColumn("rn", row_number().over(
        perUserCut.orderBy(col("ts_ns").desc, col("event_id").desc)))
      .withColumn("n_events", count(lit(1)).over(perUserCut))
      .filter(col("rn") === 1)
      .select(col("cut_id"), col("user_id"),
        col("event_type").as("last_event_type"),
        col("event_id").as("last_event_id"), col("n_events"))
      .orderBy(col("cut_id"), col("user_id"))
  }


  /** Daily distinct-user estimates via the mergeable KMV AGGREGATOR
    * ([[graft.functions.Sketches.KmvAggregator]]) — q147's sketch as one
    * custom aggregate instead of a sharded top-k plan: partial sketches
    * form map-side on every input split and merge associatively, which is
    * the form that drops unchanged into a watermarked streaming window
    * ([[graft.streaming.Windowed.distinctEstimateStream]] is the
    * continuous twin). Per day: sketch fill, the integer-DIV estimate, and
    * the exact distinct as the error audit (the q134 discipline — the
    * audit column is what you delete at 100 TB, the sketch is what you
    * keep). State per group is ≤ 64 longs, never a distinct set.
    */
  def kmvDaily(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    t(spark, dir, "events")
      .select(expr("ts div 86400000000000").as("day"), col("user_id"),
        Sketches.kmvHash48(col("user_id")).as("h"))
      .groupBy(col("day"))
      .agg(Sketches.kmvSketch(col("h")).as("sk"),
        countDistinct(col("user_id")).as("exact_distinct"))
      .select(col("day"), size(col("sk")).cast("long").as("n_sketch"),
        Sketches.kmvEstimate("sk").as("est_distinct"), col("exact_distinct"))
      .orderBy(col("day"))
  }


  /** Linear multi-touch attribution: every purchase's value splits equally
    * (exact integer micros, remainder to the LAST touch so revenue is
    * conserved to the micro) across the same-user clicks in the preceding
    * 10 minutes; purchases with no preceding click post as 'direct'. The
    * daily first/middle/last/direct revenue table is the attribution card
    * marketing runs nightly — and the remainder-to-last rule is what makes
    * it auditable: per day, attributed revenue sums EXACTLY to purchase
    * revenue (the spec pins conservation). Scale shape: the touch match is
    * [[graft.ops.RangeJoin.joinRange]]'s bucketed equi-join (no
    * nested-loop inequality join); position/count windows partition by
    * the high-cardinality purchase id; the rollup is days × 4 classes
    * with map-side partials. Money goes through DECIMAL(18,2) → integer
    * micros before any split.
    */
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"),
        (dec2(col("value")) * 1000000).cast("long").as("vmicro"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"), col("vmicro"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("c_ts"), col("event_id").as("c_id"))
    val touches = graft.ops.RangeJoin.joinRange(purchases, clicks,
      "user_id", "p_ts", "c_ts", window = 600000000L)
    val w = Window.partitionBy(col("p_id"))
    val ranked = touches
      .withColumn("pos", row_number().over(w.orderBy(col("c_ts"), col("c_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("base", expr("vmicro DIV n"))
      .withColumn("attributed",
        when(col("pos") === col("n"),
          col("vmicro") - col("base") * (col("n") - 1))
          .otherwise(col("base")))
      .withColumn("attribution",
        when(col("pos") === col("n"), "last")
          .when(col("pos") === 1, "first").otherwise("middle"))
    val direct = purchases
      .join(touches.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
      .select(expr("p_ts div 86400000000").as("day"),
        lit("direct").as("attribution"), col("vmicro").as("attributed"))
    ranked
      .select(expr("p_ts div 86400000000").as("day"), col("attribution"),
        col("attributed"))
      .unionByName(direct)
      .groupBy(col("day"), col("attribution"))
      .agg(count(lit(1)).as("n_touches"), sum(col("attributed")).as("revenue_micro"))
      .orderBy(col("day"), col("attribution"))
  }


  /** Session co-occurrence lift (association analysis): for every
    * unordered event-type pair, the number of sessions containing both,
    * its support, and its LIFT — observed co-occurrence over the
    * independence expectation, in exact ppm — the market-basket table
    * behind "users who error also churn" claims, and the point where raw
    * counts mislead (the two most common types always co-occur most; lift
    * is what says whether that means anything). Scale shape: sessions
    * come from the q19/q144 sessionizer (per-user windows); the only
    * corpus-scale frames are distinct (session, type) rows and their
    * self-join WITHIN each session — bounded by the type-alphabet squared
    * per session, which is the standard itemset constraint (cap the
    * per-session type set for open alphabets). Type marginals and the
    * session total broadcast; lift multiplies in DECIMAL(38,0)/HUGEINT
    * so n_ab·N·1e6 cannot overflow at corpus scale.
    */
  def liftPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"))
    val sess = Events.sessionize(e, col("user_id"), col("ts_us"),
      col("event_id"), 1800000000L)
    val st = sess.select(col("user_id"), col("session_seq"), col("event_type"))
      .distinct()
    val totals = st.select(col("user_id"), col("session_seq")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val single = st.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val a = st.select(col("user_id"), col("session_seq"),
      col("event_type").as("type_a"))
    val b = st.select(col("user_id"), col("session_seq"),
      col("event_type").as("type_b"))
    a.join(b, Seq("user_id", "session_seq"))
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
      .join(broadcast(single.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(single.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(totals))
      .selectExpr("type_a", "type_b", "n_ab",
        "(n_ab * 1000000L) DIV n_sessions AS support_ppm",
        "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_sessions * 1000000) DIV " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) AS lift_ppm")
      .orderBy(col("type_a"), col("type_b"))
  }


  /** Within-session transition matrix (first-order Markov journey table):
    * for every consecutive event pair inside a session, the (from → to)
    * count and the row-normalized transition probability in exact ppm —
    * q158 says which behaviors co-occur, this says in which ORDER, which
    * is what funnels (q115), next-action prediction baselines, and
    * anomaly detection on journey shape all consume. Scale shape:
    * transitions come from one `lead` over the per-(user, session) window
    * (high-cardinality partitioning, parallelizes freely) and project
    * map-side into a ≤ |alphabet|² cell rollup; the from-marginal
    * normalization runs on matrix-cardinality rows only.
    */
  def transitionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"))
    val sess = Events.sessionize(e, col("user_id"), col("ts_us"),
      col("event_id"), 1800000000L)
    val w = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts_us"), col("event_id"))
    val cells = sess
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val marginals = cells.groupBy(col("from_type"))
      .agg(sum(col("n_transitions")).as("nf"))
    cells.join(broadcast(marginals), "from_type")
      .selectExpr("from_type", "to_type", "n_transitions",
        "(n_transitions * 1000000L) DIV nf AS prob_ppm")
      .orderBy(col("from_type"), col("to_type"))
  }


  /** Daily-trend detector: exact ordinary-least-squares slope of each
    * event type's daily total value over the day index — the "is this
    * metric drifting" monitor (q110 watches a distribution, this watches
    * a LEVEL) in closed form: slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²),
    * computed entirely from integer sums so the fit replays bit-for-bit
    * (a float regression would not). Value micros keep money exact;
    * products run in DECIMAL(38,0)/HUGEINT (q133's overflow discipline);
    * the slope ships as micros-per-day with sign-explicit DIV. Scale
    * shape: one map-side-combined (type, day) rollup — the only
    * corpus-scale shuffle — then a types-cardinality aggregate of the
    * five sufficient statistics.
    */
  def trendSlope(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        (dec2(col("value")) * 1000000).cast("long").as("vmicro"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vmicro")).as("y"))
    val dec = (c: Column) => c.cast(DecimalType(38, 0))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("day")).as("sx"),
        sum(col("y")).as("sy"),
        sum(dec(col("day")) * dec(col("y"))).as("sxy"),
        sum(dec(col("day")) * dec(col("day"))).as("sxx"))
      .selectExpr("event_type", "n",
        "CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DECIMAL(38,0)) AS num",
        "CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DECIMAL(38,0)) AS den")
      .selectExpr("event_type", "n",
        "CASE WHEN den = 0 THEN 0L " +
          "WHEN num >= 0 THEN CAST((num * 1000000) DIV den AS BIGINT) " +
          "ELSE -CAST(((-num) * 1000000) DIV den AS BIGINT) END AS slope_micro_per_day")
      .orderBy(col("event_type"))
  }


  /** Benford first-digit audit: the leading-significant-digit distribution
    * of event values per type, as a DENSE type × digit grid of observed
    * shares next to the Benford expectation log10(1+1/d) (fixed ppm
    * constants) and the signed deviation — the classic fabricated-number /
    * broken-generator screen for any money-like column, the fraud-facing
    * member of the DQ family (q16 nulls, q80 outliers, q36 profile).
    * First digit comes from the DECIMAL(18,2)-exact cents rendered as a
    * string, identical in both engines; zero-valued rows are excluded
    * (they have no significant digit). Scale shape: one
    * map-side-combined (type, digit) rollup — ≤ types×9 cells — with
    * per-type totals broadcast back onto the dense grid.
    */
  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    val benford = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
      57992L, 51153L, 45757L)
    val cents = t(spark, dir, "events")
      .select(col("event_type"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .withColumn("digit", expr("cast(substring(cast(cents as string), 1, 1) as long)"))
    val cellCounts = cents.groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("n"))
    val typeTotals = cellCounts.groupBy(col("event_type")).agg(sum(col("n")).as("nt"))
    val grid = typeTotals.crossJoin(broadcast(
      spark.sql(s"SELECT posexplode(array(${benford.mkString(",")})) AS (i, benford_ppm)")
        .selectExpr("cast(i + 1 as long) AS digit", "cast(benford_ppm as long) AS benford_ppm")))
    grid.join(cellCounts, Seq("event_type", "digit"), "left")
      .selectExpr("event_type", "digit", "coalesce(n, 0L) AS n",
        "(coalesce(n, 0L) * 1000000L) DIV nt AS obs_ppm",
        "benford_ppm",
        "(coalesce(n, 0L) * 1000000L) DIV nt - benford_ppm AS deviation_ppm")
      .orderBy(col("event_type"), col("digit"))
  }


  /** Engine-portable HyperLogLog with a full oracle: 256 registers from an
    * md5 hash split (2 hex chars → register, next 48 bits → rank = leading
    * zeros + 1 via `49 − length(bin(v))`, identical SQL in both engines),
    * per-DAY sketches max-merged register-wise into per-WEEK sketches —
    * the HLL union — with the raw estimator in ALL-INTEGER arithmetic:
    * Σ 2^−M scales to S = Σ 2^(50−M) (empties at 2^50) and
    * Ê = α·m²·2^50 DIV S with α as a shared ppm literal, so the estimate
    * replays bit-for-bit where q120's xxhash64 sketch is rows-only.
    * The standard small-range correction (raw ≤ 5m/2 with empty
    * registers → linear counting m·ln(m/V)) IS applied — but ln() is an
    * engine-variant double, so the 256 possible values of the correction
    * are precomputed into a shared literal lookup table indexed by the
    * empty-register count: both engines read the same integer, no libm in
    * the plan. Scale shape: after the scan the only rows are
    * (period, register, rank) partials — map-side max-combined, ≤ 256 per
    * period; the week merge aggregates sketch rows, never the stream; the
    * exact audit columns are what you delete at 100 TB.
    */
  /** Linear-counting values m·ln(m/V) for m = 256 and V = 1..256, rounded
    * to long — THE shared literal table both q164 engines index (Spark
    * `element_at`, DuckDB list subscript), so the small-range correction
    * never evaluates ln() inside either plan.
    */
  private[graft] lazy val HllLinearCountTable: String =
    (1 to 256).map(v => Math.round(256.0 * Math.log(256.0 / v))).mkString(", ")


  def hllPortable(spark: SparkSession, dir: String): DataFrame = {
    val alphaPpm = 718273L // 0.7213 / (1 + 1.079/256), shared literal
    val base = t(spark, dir, "events")
      .select(expr("ts div 86400000000000").as("day"), col("user_id"))
      .withColumn("reg",
        expr("cast(conv(substring(md5(cast(user_id as string)), 1, 2), 16, 10) as long)"))
      .withColumn("v48",
        expr("cast(conv(substring(md5(cast(user_id as string)), 3, 12), 16, 10) as long)"))
      .withColumn("rho",
        when(col("v48") === 0L, lit(49L)).otherwise(lit(49L) - length(bin(col("v48")))))
    val dayReg = base.groupBy(col("day"), col("reg")).agg(max(col("rho")).as("m"))
    val weekReg = dayReg.groupBy(expr("day div 7").as("week"), col("reg"))
      .agg(max(col("m")).as("m"))
    def estimate(regs: DataFrame, period: Column, grain: String): DataFrame =
      regs.groupBy(period.as("period"))
        .agg(count(lit(1)).as("n_used"),
          sum(expr("shiftleft(1L, cast(50 - m as int))")).as("s_used"))
        .selectExpr("period", "n_used",
          s"""CAST((CAST($alphaPpm AS DECIMAL(38,0)) * 65536 * ${1L << 50}L) DIV
             |  (CAST(s_used + (256 - n_used) * ${1L << 50}L AS DECIMAL(38,0)) * 1000000)
             |  AS BIGINT) AS raw_est""".stripMargin.replaceAll("\n", " "))
        .selectExpr("period", "n_used",
          s"""CASE WHEN raw_est <= 640 AND n_used < 256
             |  THEN element_at(array($HllLinearCountTable), cast(256 - n_used as int))
             |  ELSE raw_est END AS est_distinct""".stripMargin.replaceAll("\n", " "))
        .withColumn("grain", lit(grain))
    val exactDay = t(spark, dir, "events")
      .select(expr("ts div 86400000000000").as("period"), col("user_id"))
      .groupBy(col("period")).agg(countDistinct(col("user_id")).as("exact_distinct"))
    val exactWeek = t(spark, dir, "events")
      .select(expr("(ts div 86400000000000) div 7").as("period"), col("user_id"))
      .groupBy(col("period")).agg(countDistinct(col("user_id")).as("exact_distinct"))
    estimate(dayReg, col("day"), "day").join(exactDay, "period")
      .unionByName(estimate(weekReg, col("week"), "week").join(exactWeek, "period"))
      .select(col("grain"), col("period"), col("n_used"),
        col("est_distinct"), col("exact_distinct"))
      .orderBy(col("grain"), col("period"))
  }


  /** Winsorized means per event type — the robust-statistics member of the
    * monitoring family: the raw mean next to the mean with values clamped
    * to the exact [p5, p95] inverse-ECDF bounds, in integer milli-cents.
    * When the two disagree, the metric is tail-driven (one whale order, a
    * bad sensor) and q162's slope on raw means is not trustworthy — this
    * is the check that says so. Exactness: bounds are discrete
    * inverse-ECDF cuts (smallest value whose cumulative count reaches
    * ⌈n·p/100⌉ — integer ceiling DIV), money goes through DECIMAL(18,2)
    * cents, every mean is an integer DIV. Scale shape: one map-side
    * (type, cents) rollup; the cumulative window runs over DISTINCT-value
    * summary rows per type, never raw events; bounds and totals broadcast
    * back onto the value table for the clamped re-sum.
    */
  def winsorizedMeans(spark: SparkSession, dir: String): DataFrame = {
    val byVal = t(spark, dir, "events")
      .select(col("event_type"), (dec2(col("value")) * 100).cast("long").as("c"))
      .groupBy(col("event_type"), col("c")).agg(count(lit(1)).as("k"))
    val totals = byVal.groupBy(col("event_type"))
      .agg(sum(col("k")).as("n"), sum(expr("c * k")).as("s"))
    val cum = byVal
      .withColumn("cum", sum(col("k")).over(
        Window.partitionBy(col("event_type")).orderBy(col("c"))))
      .join(broadcast(totals), "event_type")
    val bounds = cum.groupBy(col("event_type"))
      .agg(min(when(expr("cum >= (n * 5 + 99) DIV 100"), col("c"))).as("lo"),
        min(when(expr("cum >= (n * 95 + 99) DIV 100"), col("c"))).as("hi"))
    byVal.join(broadcast(bounds), "event_type")
      .join(broadcast(totals), "event_type")
      .groupBy(col("event_type"), col("n"), col("s"), col("lo"), col("hi"))
      .agg(sum(expr("greatest(least(c, hi), lo) * k")).as("ws"))
      .selectExpr("event_type", "n", "lo AS lo_cents", "hi AS hi_cents",
        "(1000L * s) DIV n AS mean_millicents",
        "(1000L * ws) DIV n AS win_mean_millicents")
      .orderBy(col("event_type"))
  }


  /** Burstiness (Fano factor) of each event type's daily arrivals:
    * variance-to-mean of the per-day counts over the DENSE day range —
    * 1000 milli ≈ Poisson, above = bursty/clumped (retry storms, batch
    * replays), below = rate-limited. The dispersion companion to q162's
    * slope (a flat mean can hide a bursty process) — and the day grid is
    * deliberately dense from in-plan min/max bounds (q88's pattern): a
    * type's silent days are exactly the burstiness signal a sparse
    * rollup would silently drop. All-integer: F_milli =
    * 1000·(n·Σx²−S²) DIV (n·S) with products in DECIMAL(38,0). Scale:
    * one map-side (type, day) rollup; the dense grid is types × days
    * (tiny); sufficient statistics aggregate map-side.
    */
  def fanoFactor(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day")).agg(count(lit(1)).as("x"))
    val bounds = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val grid = daily.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"), explode(expr("sequence(lo, hi)")).as("day"))
    grid.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), coalesce(col("x"), lit(0L)).as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("s"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .selectExpr("event_type", "n_days", "s AS total_events",
        "(1000L * s) DIV n_days AS mean_milli",
        ("CAST(CASE WHEN s = 0 THEN 0 ELSE " +
          "(1000 * (CAST(n_days AS DECIMAL(38,0)) * sxx - CAST(s AS DECIMAL(38,0)) * s)) " +
          "DIV (CAST(n_days AS DECIMAL(38,0)) * s) END AS BIGINT) AS fano_milli"))
      .orderBy(col("event_type"))
  }


  /** Kaplan–Meier retention survival curve — the product-limit estimator
    * over user churn (last event day = churn; users active on the final
    * observed day are CENSORED, the distinction that separates KM from a
    * naive "active share" and q116's cohort matrix): per day, users at
    * risk, churned, and S(t) = Π (1 − dⱼ/nⱼ) in EXACT integer ppm — each
    * step is acc·(n−d) DIV n, so the curve replays bit-for-bit (a float
    * product would drift and the true rational explodes past 38 digits at
    * 30 steps). Spark computes the prefix products with one nested-HOF
    * fold over the collected ≤|days| summary array; the oracle replays
    * the identical stepwise sequence with a recursive CTE. Scale shape:
    * the only corpus-scale work is the per-user last-day rollup (narrow
    * shuffle by user); everything after runs on the days-cardinality
    * summary — the survival fold is driver-free but operates on one
    * broadcast-sized row.
    */
  def kmRetention(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
    val lastDay = days.groupBy(col("user_id")).agg(max(col("day")).as("ld"))
    val bounds = days.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val churn = lastDay.crossJoin(broadcast(bounds))
      .filter(col("ld") < col("hi")) // final-day users are censored, not churned
      .groupBy(col("ld").as("day")).agg(count(lit(1)).as("d"))
    val totals = lastDay.agg(count(lit(1)).as("nu"))
    val dense = bounds.select(explode(expr("sequence(lo, hi)")).as("day"))
      .join(churn, Seq("day"), "left")
      .select(col("day"), coalesce(col("d"), lit(0L)).as("d"))
      .crossJoin(broadcast(totals))
      .withColumn("cum_before", coalesce(sum(col("d")).over(
        Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("day"), col("d"), (col("nu") - col("cum_before")).as("n"))
    dense
      .agg(sort_array(collect_list(struct(col("day"), col("d"), col("n")))).as("a"))
      .select(explode(expr(
        """transform(sequence(1, size(a)), i ->
          |  struct(a[i-1].day AS day, a[i-1].n AS n, a[i-1].d AS d,
          |    aggregate(slice(a, 1, i), 1000000L,
          |      (acc, s) -> CASE WHEN s.n = 0 THEN acc
          |                       ELSE (acc * (s.n - s.d)) DIV s.n END) AS surv))"""
          .stripMargin)).as("s"))
      .select(col("s.day").as("day"), col("s.n").as("n_at_risk"),
        col("s.d").as("n_churned"), col("s.surv").as("survival_ppm"))
      .orderBy(col("day"))
  }


  /** Cohort LTV matrix: cumulative purchase revenue per signup cohort by
    * account age — q116's retention matrix with MONEY on it, the table
    * that says whether later cohorts monetize faster (the payback-period
    * chart every growth team reads). Cohort = a user's first event day;
    * age = purchase day − cohort day; revenue in exact integer cents
    * (DECIMAL(18,2)); the cumulative runs per cohort over the
    * ages-cardinality rollup — a pre-aggregated summary window, never
    * events. Scale shape: one per-user min-day rollup, one join back by
    * user (narrow), one (cohort, age) map-side rollup.
    */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        col("event_type"), (dec2(col("value")) * 100).cast("long").as("cents"))
    val cohorts = days.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    val cells = days.filter(col("event_type") === "purchase")
      .join(cohorts, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("rev_cents"))
    cells
      .withColumn("cum_rev_cents", sum(col("rev_cents")).over(
        Window.partitionBy(col("cohort_day")).orderBy(col("age_days"))))
      .orderBy(col("cohort_day"), col("age_days"))
  }


  /** Inter-purchase cadence: the repeat-purchase rate and the exact
    * median/p90 gap in days between a user's consecutive purchases — the
    * replenishment-cycle card that q171's survival curve needs as context
    * (churn judgments are meaningless without the natural purchase
    * cadence). Gaps come from one lag() over the per-user window
    * (high-cardinality partitioning); percentiles are the q169 discrete
    * inverse-ECDF cuts over the distinct-gap summary; rates are integer
    * ppm. One summary row out.
    */
  def purchaseCadence(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
    val gaps = p
      .withColumn("prev", lag(col("ts_us"), 1).over(
        Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))))
      .filter(col("prev").isNotNull)
      .select(expr("(ts_us - prev) div 86400000000").as("gap_days"))
    val users = p.groupBy(col("user_id")).agg(count(lit(1)).as("np"))
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("np") >= 2, 1L).otherwise(0L)).as("n_repeat"))
    val byGap = gaps.groupBy(col("gap_days")).agg(count(lit(1)).as("k"))
    val tot = byGap.agg(sum(col("k")).as("n_gaps"))
    val cuts = byGap
      .withColumn("cum", sum(col("k")).over(Window.orderBy(col("gap_days"))))
      .crossJoin(broadcast(tot))
      .agg(min(when(expr("cum >= (n_gaps * 50 + 99) DIV 100"), col("gap_days")))
          .as("median_gap_days"),
        min(when(expr("cum >= (n_gaps * 90 + 99) DIV 100"), col("gap_days")))
          .as("p90_gap_days"))
    users.crossJoin(broadcast(tot)).crossJoin(broadcast(cuts))
      .selectExpr("n_users", "n_repeat",
        "(n_repeat * 1000000L) DIV n_users AS repeat_ppm",
        "n_gaps", "median_gap_days", "p90_gap_days")
  }


  /** RFM segmentation (recency / frequency / monetary quintiles): every
    * purchasing user scored on three axes and the 5×5×5 segment grid
    * reported with population and revenue — the CRM workhorse that drives
    * win-back and VIP targeting. The quintile assignment is VALUE-BASED,
    * not ntile: bucket = ((cum_users_through_value − 1)·5) DIV n over the
    * per-metric DISTINCT-value cumulative — ties share a bucket (a
    * determinism ntile doesn't give without an arbitrary tiebreak), the
    * cumulative runs over distinct-value summaries instead of one global
    * user sort (ntile over 1e9 users is a single-reducer sort — the hot
    * shape this repo bans), and the result replays bit-for-bit. The
    * monetary summary is itself ~#purchasers distinct values, so its
    * cumulative goes through [[graft.ops.Relational.shardedCumSum]]'s
    * value-range sharding (recency/frequency ride the same path for
    * uniformity): only the ≤257-row slice summary ever takes an
    * unpartitioned window. Scale shape: one per-user rollup (narrow
    * shuffle by user), three sharded cumulative frames joined back BY
    * VALUE, one ≤125-cell rollup.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
    val maxDay = p.agg(max(col("day")).as("mx"))
    // one per-user rollup feeds FIVE consumers (the population scalar,
    // three quintile summaries, the final scoring joins): cut it
    // once or the events scan+rollup re-derives per consumer
    val users = Materialize.cut(
      p.crossJoin(broadcast(maxDay))
        .groupBy(col("user_id"))
        .agg(min(expr("mx - day")).as("recency"),
          count(lit(1)).as("frequency"), sum(col("cents")).as("monetary")))
    def quintile(metric: String): DataFrame = {
      val byVal = users.groupBy(col(metric).as("v")).agg(count(lit(1)).as("k"))
      graft.ops.Relational.shardedCumSum(byVal, "v", Seq("k"), ascending = true)
        .crossJoin(broadcast(users.agg(count(lit(1)).as("n"))))
        .selectExpr(s"v AS $metric", s"((cum_k - 1) * 5) DIV n AS ${metric}_q")
    }
    users
      .join(broadcast(quintile("recency")), "recency")
      .join(broadcast(quintile("frequency")), "frequency")
      .join(broadcast(quintile("monetary")), "monetary")
      // low recency is GOOD: invert so 4 = most recent, matching f/m polarity
      .selectExpr("4 - recency_q AS r_score", "frequency_q AS f_score",
        "monetary_q AS m_score", "monetary")
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(count(lit(1)).as("n_users"), sum(col("monetary")).as("revenue_cents"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }


  /** Stationary distribution of the q159 journey chain, next to the
    * observed event-type mix: power iteration on the within-session
    * transition matrix — [[graft.functions.Graph.pageRankInt]] at damping
    * 100 IS the pure Markov step r·P in the same exact-integer fixed
    * point (self-loops kept: they are real journey mass, unlike in link
    * analysis) — versus each type's observed share. When the two
    * disagree, the process is NOT stationary: the observed mix is
    * entry/exit-driven (burst signups, error storms at session ends) and
    * any "steady state" capacity plan read off raw shares is wrong. The
    * chain is alphabet-sized, so iteration cost is trivial; the ranks
    * replay bit-for-bit via q101's unrolled-CTE oracle pattern.
    */
  def journeyStationary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // The chain is ALPHABET-sized (≤ event-type² cells), so the power
    // iteration is a driver-side model fit — the Kmeans/Pca/PQ-codebook
    // division of labor: the cluster does the one corpus-scale pass (the
    // transition rollup), the driver iterates the tiny matrix, and the
    // learned ranks broadcast back as a literal frame. Identical integer
    // math to [[graft.functions.Graph.pageRankInt]] at damping 100
    // (per-edge truncating contrib, inflow-only update), which q101
    // keeps exercising distributed where the graph is host-scale.
    // Replaces 8 distributed rounds of pure per-job overhead
    // (4.4s → sub-second at sf0.1; bit-identical output).
    val cells = transitionMatrix(spark, dir)
      .select(col("from_type"), col("to_type"), col("n_transitions"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val hosts = (cells.map(_._1) ++ cells.map(_._2)).distinct.sorted
    val ow = cells.groupBy(_._1).map { case (s, g) => s -> g.map(_._3).sum }
    val base = 1000000000L / hosts.length
    var r = hosts.map(_ -> base).toMap
    for (_ <- 1 to 8) {
      val inflow = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      cells.foreach { case (s, d, w) =>
        inflow(d) += r(s) * w / ow(s)
      }
      r = hosts.map(h => h -> inflow(h)).toMap
    }
    val ranks = hosts.map(h => (h, r(h))).toSeq.toDF("host", "rank")
    val obs = t(spark, dir, "events")
      .groupBy(col("event_type").as("host")).agg(count(lit(1)).as("n_events"))
    val tot = obs.agg(sum(col("n_events")).as("te"))
    obs.join(broadcast(ranks), "host").crossJoin(broadcast(tot))
      .selectExpr("host AS event_type",
        "rank DIV 1000 AS stationary_ppm",
        "n_events",
        "(n_events * 1000000L) DIV te AS observed_ppm")
      .selectExpr("event_type", "stationary_ppm", "n_events", "observed_ppm",
        "stationary_ppm - observed_ppm AS gap_ppm")
      .orderBy(col("event_type"))
  }


  /** Freshness / lag monitor: per event type, the last-seen event time,
    * its lag behind the stream head, active-day coverage and the mean
    * daily rate — the staleness dashboard a pipeline owner checks before
    * trusting any downstream table (a type whose lag exceeds its arrival
    * cadence has silently stopped flowing; SURVEY §2B's dataflow-health
    * plane extended to per-type granularity). One map-side-combined pass
    * over events; the stream head joins back as an in-plan broadcast
    * scalar. All integers (epoch micros / day counts / DIV rates).
    */
  def freshnessLag(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events").select(col("event_type"),
      expr("ts div 1000").as("ts_us"), expr("ts div 86400000000000").as("day"))
    val per = e.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_events"),
      max(col("ts_us")).as("last_ts_us"),
      countDistinct(col("day")).as("n_days_active"))
    val head = e.agg(max(col("ts_us")).as("head_us"))
    per.crossJoin(broadcast(head))
      .selectExpr("event_type", "n_events", "n_days_active",
        "head_us - last_ts_us AS lag_us",
        "n_events DIV n_days_active AS events_per_active_day")
      .orderBy(col("event_type"))
  }


  /** Revenue-decile migration matrix: every purchaser's spend quintile in
    * the FIRST half of the observed window versus the SECOND half — the
    * churn/upsell mobility table (how much of the top quintile stays top,
    * how much decays to zero) that sits one step past q179's static RFM
    * grid. Halves split at the calendar midpoint (an in-plan broadcast
    * scalar); users absent from a half carry spend 0 and land in the
    * bottom bucket with all other zeros — ties share a bucket by
    * construction. Both quintile assignments are VALUE-BASED cumulatives
    * over distinct-spend summaries through
    * [[graft.ops.Relational.shardedCumSum]] (the q179 discipline: only
    * slice summaries take unpartitioned windows). Scale shape: one
    * per-user conditional rollup, two sharded cumulative frames joined
    * back BY VALUE, one ≤25-cell rollup.
    */
  def decileMigration(spark: SparkSession, dir: String): DataFrame = {
    val p = t(spark, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        (dec2(col("value")) * 100).cast("long").as("cents"))
    val mid = p.agg(expr("min(day) + (max(day) - min(day) + 1L) DIV 2").as("mid"))
    // four consumers (population scalar, two quintile summaries, the
    // final joins) share one per-user rollup: cut it (q179's cut)
    val users = Materialize.cut(
      p.crossJoin(broadcast(mid))
        .groupBy(col("user_id"))
        .agg(sum(when(col("day") < col("mid"), col("cents")).otherwise(0L)).as("v1"),
          sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L)).as("v2")))
    val n = users.agg(count(lit(1)).as("n"))
    def quintile(metric: String): DataFrame = {
      val byVal = users.groupBy(col(metric).as("v")).agg(count(lit(1)).as("k"))
      graft.ops.Relational.shardedCumSum(byVal, "v", Seq("k"), ascending = true)
        .crossJoin(broadcast(n))
        .selectExpr(s"v AS $metric", s"((cum_k - 1) * 5) DIV n AS ${metric}_q")
    }
    users
      .join(broadcast(quintile("v1")), "v1")
      .join(broadcast(quintile("v2")), "v2")
      .groupBy(col("v1_q").as("first_half_q"), col("v2_q").as("second_half_q"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("v2") - col("v1")).as("delta_cents"))
      .orderBy(col("first_half_q"), col("second_half_q"))
  }


  /** Integer-EWMA anomaly bands over the per-type daily event series: each
    * day scored against the exponentially-weighted mean of everything
    * BEFORE it (α = 1/8 as an integer shift-divide, micro-scaled), flagged
    * when it deviates more than 50% — the ops anomaly monitor that q162's
    * OLS slope can't express because the smoothing is a sequential
    * recurrence, not an aggregate. Exact arithmetic: E_t = E_{t−1} +
    * sgn-DIV(x_t·1e6 − E_{t−1}, 8) with E_1 = x_1·1e6 — truncation is
    * sign-explicit so the fold replays bit-for-bit against the oracle's
    * recursive CTE. Scale shape: the corpus collapses to (type, day)
    * summaries with map-side partials FIRST; the recurrence then runs as
    * a per-type prefix fold over the collected day array (q171's
    * sequential-fold discipline — the array is calendar-bounded, never
    * corpus-sized; the O(days²) prefix slices are ~10⁵ integer ops per
    * type at a decade of history).
    */
  def ewmaAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
      .agg(count(lit(1)).as("n"))
    val arrs = daily.groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("arr"))
    arrs.select(col("event_type"), col("arr"), posexplode(col("arr")))
      .withColumn("ewma_prev_micro", expr(
        """aggregate(slice(arr, 2, greatest(pos - 1, 0)),
          |  CAST(element_at(arr, 1).n * 1000000 AS BIGINT),
          |  (acc, e) -> acc + (CASE WHEN e.n * 1000000 - acc >= 0
          |    THEN (e.n * 1000000 - acc) DIV 8
          |    ELSE -((acc - e.n * 1000000) DIV 8) END))""".stripMargin))
      .selectExpr("event_type", "col.day AS day", "col.n AS n",
        "ewma_prev_micro",
        "CAST(CASE WHEN abs(col.n * 1000000 - ewma_prev_micro) * 2 > ewma_prev_micro" +
          " THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly")
      .orderBy(col("event_type"), col("day"))
  }


  /** Theil–Sen robust daily trend: the MEDIAN of all pairwise day-slopes
    * per event type, next to q162's OLS slope a single outlier day can
    * drag — the robust estimator an ops team trusts through incident
    * spikes (breakdown point 29% vs OLS's 0%). Exactness: slopes stay
    * (num, den) integer fractions; the selection orders by the IEEE
    * quotient (one correctly-rounded division — bit-identical in any
    * engine) with the fraction as tiebreak, and the reported median is
    * sign-explicit integer micros. Scale shape: the corpus collapses to
    * calendar-bounded (type, day) summaries FIRST; the pair frame is a
    * within-type self-join of that summary (C(days,2) rows — bounded by
    * the calendar² regardless of data volume), and the rank window
    * partitions by type over that bounded frame.
    */
  def theilSenSlope(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        (dec2(col("value")) * 1000000).cast("long").as("vmicro"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("vmicro")).as("y"))
    val a = daily.select(col("event_type"), col("day").as("d1"), col("y").as("y1"))
    val b = daily.select(col("event_type"), col("day").as("d2"), col("y").as("y2"))
    val pairs = a.join(b, Seq("event_type"))
      .filter(col("d1") < col("d2"))
      .select(col("event_type"), (col("y2") - col("y1")).as("num"),
        (col("d2") - col("d1")).as("den"))
    val ranked = pairs
      .withColumn("s", col("num").cast("double") / col("den").cast("double"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("event_type"))
        .orderBy(col("s"), col("num"), col("den"))))
    val medianIdx = pairs.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pairs"), expr("(count(1) + 1) DIV 2").as("m"))
    ranked.join(medianIdx, "event_type")
      .filter(col("rn") === col("m"))
      .selectExpr("event_type", "n_pairs",
        "CASE WHEN num >= 0 THEN (num * 1000000) DIV den " +
          "ELSE -(((-num) * 1000000) DIV den) END AS theilsen_micro_per_day")
      .orderBy(col("event_type"))
  }


  /** Audience overlap via chunked bitmaps: pairwise distinct-user overlap
    * and Jaccard between event types, computed on 32-bit user bitmaps —
    * the "roaring-lite" set representation that makes audience
    * intersection a popcount instead of a distinct-join. Per (type,
    * chunk = user DIV 32) one OR-folded lane; the pair join is chunk-
    * keyed (users/32 narrow rows per type, ~97% smaller than the id
    * list), and |A∩B| = Σ popcount(lanes AND). Lanes stay 32-bit because
    * a 63-bit shift overflows BIGINT in other engines — the portability
    * cap that keeps the oracle exact. Jaccard in integer ppm.
    */
  def audienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    // the bitmap table feeds three consumers (sizes + both join sides):
    // cut the compressed frame so events scan+fold runs once
    val lanes = Materialize.cut(
      t(spark, dir, "events")
        .select(col("event_type"), expr("user_id DIV 32").as("chunk"),
          expr("shiftleft(1L, CAST(user_id % 32 AS INT))").as("bit"))
        .groupBy(col("event_type"), col("chunk"))
        .agg(expr("bit_or(bit)").as("lanes")))
    val sizes = lanes.groupBy(col("event_type"))
      .agg(sum(expr("bit_count(lanes)")).as("n_users"))
    val a = lanes.select(col("event_type").as("type_a"), col("chunk"),
      col("lanes").as("la"))
    val b = lanes.select(col("event_type").as("type_b"), col("chunk"),
      col("lanes").as("lb"))
    a.join(b, Seq("chunk")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(sum(expr("bit_count(la & lb)")).as("n_overlap"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n_users").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n_users").as("n_b"))), "type_b")
      .selectExpr("type_a", "type_b", "n_a", "n_b", "n_overlap",
        "(n_overlap * 1000000L) DIV (n_a + n_b - n_overlap) AS jaccard_ppm")
      .orderBy(col("type_a"), col("type_b"))
  }


  /** Sequence-pattern matching over sessions (MATCH_RECOGNIZE-lite): each
    * q19 session becomes an ordered event-initial string and a regex
    * classifies the journey — here "a signup later converts with no error
    * in between" (`S[^E]*P`) and its frustrated twin "signup, then an
    * error before any purchase" (`S[^P]*E`), rolled up per session-start
    * day. This is the row-pattern operator class (SQL MATCH_RECOGNIZE /
    * CEP) the relational plane can't express without it; the string form
    * keeps it engine-portable and the oracle exact. Scale shape: the
    * per-session string is built by ONE collect over the session group
    * (sessions are gap-bounded; the string caps at 512 events — past
    * that, journey classification is meaningless and the cap keeps state
    * bounded), everything else is a day-cardinality rollup. The regexes
    * stay in the Java∩RE2 subset.
    */
  /** Session walk strings shared by q195/q234: one char per event
    * (C/E/P/S/V), sessionized at 30 min, capped at 512 chars. The
    * extraction is verbatim q195's original derivation so its plan and
    * floor are untouched.
    */
  private def sessionWalks(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"))
    val sess = graft.ops.Events.sessionize(e, col("user_id"), col("ts_us"),
      col("event_id"), 1800000000L)
    sess
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_us")).as("start_us"),
        concat_ws("", slice(transform(
          array_sort(collect_list(struct(col("ts_us"), col("event_id"),
            upper(substring(col("event_type"), 1, 1)).as("c")))),
          x => x.getField("c")), 1, 512)).as("walk"))
  }

  def journeyPatterns(spark: SparkSession, dir: String): DataFrame = {
    val strings = sessionWalks(spark, dir)
    strings
      .groupBy(expr("start_us div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("walk").rlike("S[^E]*P").cast("long")).as("n_clean_convert"),
        sum(col("walk").rlike("S[^P]*E").cast("long")).as("n_frustrated"))
      .withColumn("clean_convert_ppm",
        expr("(n_clean_convert * 1000000L) DIV n_sessions"))
      .orderBy(col("day"))
  }


  /** MATCH_RECOGNIZE-style multi-pattern alternation (the r13 verdict's
    * named gap — beyond q195's two independent regex flags): every session
    * walk is classified into exactly ONE pattern of an ordered grammar,
    * first-match-wins — the alternation-priority semantics of
    * `PATTERN (RETRY | CLEAN | ERREXIT | NOSIGNUP)` — with a
    * MEASURES-style aggregate (total length of the classifying match,
    * leftmost-first like both engines' regex find) per (day, pattern).
    * Grammar over C/E/P/S/V walks:
    *   retry_convert   S.*E.*P   (error between signup and purchase)
    *   clean_convert   S[^E]*P   (purchase with no intervening error)
    *   error_exit      S[^P]*E[^P]*$ (a signup that errors and never buys)
    *   nosignup_convert ^[^S]*P  (purchase before any signup)
    *   browse_only     (no pattern matched)
    * Patterns stay in the Java∩RE2 subset (no lookaround/backrefs) and
    * are spliced verbatim into the DuckDB oracle. Scale shape: the walk
    * table is session-sized, classification is a scan-local CASE, and the
    * rollup groups by (day, pattern) — nothing beyond q195's shuffles.
    */
  def journeyGrammar(spark: SparkSession, dir: String): DataFrame = {
    val grammar = Seq(
      "retry_convert" -> "S.*E.*P",
      "clean_convert" -> "S[^E]*P",
      "error_exit" -> "S[^P]*E[^P]*$",
      "nosignup_convert" -> "^[^S]*P")
    // ONE regexp_extract per pattern per row: every grammar pattern's
    // minimum match length is >= 1 (each requires at least one literal
    // event char), so `length(extract) > 0` IS the match predicate and the
    // r14 shape's second rlike pass is redundant. The lengths project in a
    // separate select; CollapseProject keeps multiply-referenced non-cheap
    // expressions un-inlined, so each regex runs once in the scan stage.
    val lens = grammar.zipWithIndex.map { case ((_, re), i) =>
      length(regexp_extract(col("walk"), re, 0)).cast("long").as(s"__l$i")
    }
    val pattern = grammar.zipWithIndex.foldRight(lit("browse_only")) {
      case (((name, _), i), rest) =>
        when(col(s"__l$i") > 0, lit(name)).otherwise(rest)
    }
    val matchLen = grammar.zipWithIndex.foldRight(lit(0L)) {
      case ((_, i), rest) => when(col(s"__l$i") > 0, col(s"__l$i")).otherwise(rest)
    }
    sessionWalks(spark, dir)
      .select(expr("start_us div 86400000000").as("day") +:
        length(col("walk")).cast("long").as("wlen") +: lens: _*)
      .select(col("day"), pattern.as("pattern"), matchLen.as("mlen"),
        col("wlen"))
      .groupBy(col("day"), col("pattern"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("mlen")).as("match_len_total"),
        expr("(sum(wlen) * 1000) DIV count(1)").as("walk_len_milli"))
      .orderBy(col("day"), col("pattern"))
  }

  /** Streaming-join loss under watermark, quantified in batch (the r13
    * verdict's second named gap): how many click→purchase interval-join
    * pairs would a stream-stream join DROP at each candidate watermark
    * delay? The watermark is modeled per kafka shard (user_id % 32) as
    * the running max event time over arrival order (event_id) — the
    * per-shard high-water mark a partitioned source actually advances —
    * and an event is late by (watermark_before_it − its ts). For each
    * delay D in {0s, 60s, 600s, 3600s}: the count of late-beyond-D
    * events, the exact interval-join pair total (purchase within 1h
    * after a click, same user), and the pairs lost because either side
    * would have been dropped. The loss curve is what sizes a production
    * `withWatermark` delay; StreamingSpec pins the live
    * stream-stream-join drop semantics on a real micro-batch stream.
    * Scale shape: the per-shard prefix max runs TWO-PHASE (the
    * shardedCumSum slicing discipline) — event_id's range splits into
    * 256 equal-width chunks by integer DIV (monotone, so chunk order ≡
    * arrival order within a shard), the strict-prefix max runs
    * chunk-local under `partitionBy(shard, chunk)` (32×256 sorted tasks,
    * not 32 shard-sized ones), and the cross-chunk carry-in joins back
    * from a broadcast ≤32×257-row (shard, chunk) summary — so stamping
    * parallelism scales with data while shard semantics stay identical.
    * Shards are sign-explicit (`((user_id % 32) + 32) % 32`) so Spark,
    * DuckDB, and the spec replay agree even for negative ids. Both legs
    * of the loss curve are single conditional aggregates (no per-delay
    * pass), combined by broadcasting two 1-row aggregates and unpivoted
    * with stack.
    */
  def watermarkLoss(spark: SparkSession, dir: String): DataFrame = {
    val delays = Seq(0L, 60L, 600L, 3600L) // seconds
    val e = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .withColumn("shard", expr("((user_id % 32) + 32) % 32"))
    val bounds = e.agg(min(col("event_id")).as("__mn"), max(col("event_id")).as("__mx"))
    val chunked = e.crossJoin(broadcast(bounds))
      .withColumn("chunk",
        expr("(event_id - __mn) DIV (((__mx - __mn) DIV 256) + 1)"))
      .drop("__mn", "__mx")
    // carry-in: max ts over all STRICTLY EARLIER chunks of the same shard,
    // computed on the bounded (shard, chunk) summary
    val carry = chunked.groupBy(col("shard").as("__cs"), col("chunk").as("__cc"))
      .agg(max(col("ts")).as("__cmax"))
      .withColumn("__carry", max(col("__cmax")).over(
        Window.partitionBy(col("__cs")).orderBy(col("__cc"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .drop("__cmax")
    val localW = Window.partitionBy(col("shard"), col("chunk"))
      .orderBy(col("event_id")).rowsBetween(Window.unboundedPreceding, -1)
    // Null-SAFE join keys: a null user_id (null shard) or null event_id
    // (null chunk) still forms a window partition — the r14 single-window
    // shape stamped such rows, so the two-phase rewrite must not silently
    // drop them through a null-rejecting equi-join (groupBy groups null
    // keys, so carry has the matching row). greatest() skips NULLs, so a
    // missing carry (first chunk) or empty local prefix (first row of a
    // chunk) degrades to the other leg; both NULL = first arrival = on
    // time.
    // Deliberately NO materialization seam although `stamped` feeds three
    // consumers (the late-count aggregate and the click/purchase join
    // legs): all three read the SAME (shard, chunk) exchange, so runtime
    // exchange reuse dedupes the events scan + shuffle and only the
    // post-exchange window re-evaluates. Measured r16 (3-pass isolated
    // mins): localCheckpoint seam 1.05→0.97 s at sf0.1 (noise) but
    // 3.8→5.0 s at sf10 — the checkpoint write costs more than the
    // duplicated window saves (the q182/q149 lesson).
    val stamped = chunked
      .join(broadcast(carry),
        col("shard") <=> col("__cs") && col("chunk") <=> col("__cc"))
      .drop("__cs", "__cc")
      .withColumn("__wm", greatest(max(col("ts")).over(localW), col("__carry")))
      .withColumn("late_ns",
        greatest(coalesce(col("__wm") - col("ts"), lit(0L)), lit(0L)))
      .drop("__wm", "__carry", "chunk")
    val lateAggs = delays.map(d =>
      sum((col("late_ns") > d * 1000000000L).cast("long")).as(s"late_$d"))
    val lateRow = stamped.agg(lateAggs.head, lateAggs.tail: _*)
    val c = stamped.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("late_ns").as("c_late"))
    val p = stamped.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("late_ns").as("p_late"))
    val pairs = c.join(p, Seq("user_id"))
      .filter(col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + 3600000000000L)
    // coalesce: sum over an EMPTY pair frame is NULL, and zero pairs is a
    // legitimate corpus (PropertySpec generates them) — losses are then 0
    val lossAggs = count(lit(1)).as("n_pairs") +: delays.map(d =>
      coalesce(sum((col("c_late") > d * 1000000000L ||
        col("p_late") > d * 1000000000L).cast("long")), lit(0L)).as(s"lost_$d"))
    val lossRow = pairs.agg(lossAggs.head, lossAggs.tail: _*)
    lateRow.crossJoin(broadcast(lossRow))
      .selectExpr(s"stack(${delays.length}, " +
        delays.map(d => s"${d}L, late_$d, lost_$d").mkString(", ") +
        ") AS (delay_s, n_late_events, n_pairs_lost)", "n_pairs")
      .withColumn("lost_ppm",
        expr("(n_pairs_lost * 1000000L) DIV greatest(n_pairs, 1L)"))
      .select(col("delay_s"), col("n_late_events"), col("n_pairs"),
        col("n_pairs_lost"), col("lost_ppm"))
      .orderBy(col("delay_s"))
  }

  /** Session-gap sensitivity curve: how many sessions (and events per
    * session) the q19 sessionization yields at EVERY candidate gap
    * threshold — from ONE pass over the inter-event gaps, because
    * n_sessions(T) = n_users + #\{gaps > T\}: each user's first event
    * opens a session and every over-threshold gap opens one more. The
    * parameter sweep that normally costs one sessionization per
    * threshold becomes a gap histogram probed five times — the evidence
    * for CHOOSING the 30-minute constant every downstream session query
    * hard-codes. All counts exact; scale shape: one lag window
    * partitioned by the high-cardinality user id, all five thresholds
    * counted in ONE conditional aggregate (no per-threshold pass),
    * unpivoted by `stack`.
    */
  def sessionGapCurve(spark: SparkSession, dir: String): DataFrame = {
    val minutes = Seq(5L, 15L, 30L, 60L, 120L)
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val gaps = e.withColumn("gap", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap").isNotNull)
    val breakCounts = minutes.map(m =>
      sum((col("gap") > m * 60000000L).cast("long")).as(s"b_$m"))
    val breaks = gaps.agg(breakCounts.head, breakCounts.tail: _*)
    val totals = e.agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"))
    breaks.crossJoin(broadcast(totals))
      .selectExpr(s"stack(${minutes.length}, " +
        minutes.map(m => s"${m}L, b_$m").mkString(", ") +
        ") AS (gap_minutes, n_breaks)", "n_events", "n_users")
      .selectExpr("gap_minutes",
        "n_users + n_breaks AS n_sessions",
        "(n_events * 1000L) DIV (n_users + n_breaks) AS events_per_session_milli")
      .orderBy(col("gap_minutes"))
  }


  /** Two-proportion z-test, exact-integer form: do users who arrived in
    * the first half of the window convert (purchase within 7 days of
    * their first event) at a different rate than later arrivals? The
    * squared z-statistic z² = (ca·nb − cb·na)²·N / (na·nb·c·(N−c))
    * evaluates in a FIXED two-step integer-division sequence over
    * DECIMAL(38,0) intermediates (d² ≤ 10³⁶ fits; dividing by na·nb
    * BEFORE multiplying by N keeps every intermediate in range at any
    * population), so both engines truncate identically and the
    * significance verdict (z² > 1.96², i.e. z2_milli > 3841) replays
    * bit-for-bit — no sqrt, no doubles, no libm. The A/B evaluation an
    * experimentation platform runs nightly, minus the floating point.
    * Scale shape: one per-user first-event rollup, one purchase
    * range-check join keyed by user, a 2-row cohort aggregate.
    */
  def abConversionTest(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
    val firstE = e.groupBy(col("user_id")).agg(min(col("ts_us")).as("f"))
    // split on the FIRST-EVENT distribution's midpoint: the raw event-time
    // midpoint leaves the late cohort empty whenever arrivals front-load
    val bounds = firstE.agg(expr("(min(f) + max(f) + 1L) DIV 2").as("mid"))
    val converted = e.filter(col("event_type") === "purchase")
      .join(firstE, "user_id")
      .filter(col("ts_us") >= col("f") &&
        col("ts_us") <= col("f") + lit(7L * 86400000000L))
      .select(col("user_id")).distinct()
      .withColumn("cv", lit(1L))
    val cohorts = firstE.crossJoin(broadcast(bounds))
      .join(converted, Seq("user_id"), "left")
      .groupBy((col("f") < col("mid")).as("early"))
      .agg(count(lit(1)).as("n"), sum(coalesce(col("cv"), lit(0L))).as("c"))
    cohorts
      .agg(max(when(col("early"), col("n"))).as("na"),
        max(when(col("early"), col("c"))).as("ca"),
        max(when(!col("early"), col("n"))).as("nb"),
        max(when(!col("early"), col("c"))).as("cb"))
      .selectExpr("na", "ca", "nb", "cb",
        "(ca * 1000000L) DIV na AS rate_a_ppm",
        "(cb * 1000000L) DIV nb AS rate_b_ppm",
        // z² in milli: A = d² DIV (na·nb); z2 = A·1000·N DIV (c·(N−c))
        "CAST((CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na)" +
          " * (CAST(ca AS DECIMAL(38,0)) * nb - CAST(cb AS DECIMAL(38,0)) * na)" +
          " DIV (CAST(na AS DECIMAL(38,0)) * nb) AS DECIMAL(38,0)) AS __A")
      .selectExpr("na", "ca", "nb", "cb", "rate_a_ppm", "rate_b_ppm",
        // degenerate pooled variance (all or none converted): both rates
        // are equal at an extreme, d = 0, z² is 0 by definition
        "CAST(CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN 0 " +
          "ELSE __A * 1000 * (na + nb) DIV (CAST(ca + cb AS DECIMAL(38,0))" +
          " * (na + nb - ca - cb)) END AS BIGINT) AS z2_milli")
      .selectExpr("na", "ca", "nb", "cb", "rate_a_ppm", "rate_b_ppm", "z2_milli",
        "CAST(CASE WHEN z2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT) AS is_significant")
  }

  /** Event-type co-occurrence lift: for every type pair, how much more
    * (or less) often users do BOTH than independence predicts —
    * `lift = P(a∧b) / (P(a)·P(b))` in exact ppm via
    * `n_both · n_users · 10⁶ DIV (n_a · n_b)`, all integer (the
    * engine-portable form of pointwise mutual information without a
    * libm log). The frame is the DISTINCT (user, type) incidence — one
    * dedup shuffle on narrow pairs — and the pair join is user-keyed
    * with `type_a < type_b`, so fan-out per user is ≤ C(#types, 2), a
    * constant; output is type²-bounded. The global user count rides in
    * as a broadcast scalar, never a driver collect.
    */
  def eventLift(spark: SparkSession, dir: String): DataFrame = {
    val ut = t(spark, dir, "events")
      .select(col("user_id"), col("event_type")).distinct()
    val nUsers = ut.select(col("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"))
    val perType = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n_t").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("n_both"),
        col("n_a"), col("n_b"),
        // lift multiplies in DECIMAL(38,0)/HUGEINT (the q158/q133 overflow
        // discipline): n_both·n_users·1e6 wraps BIGINT at ~10M users
        expr("CAST((CAST(n_both AS DECIMAL(38,0)) * n_users * 1000000) DIV " +
          "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)").as("lift_ppm"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** Longest-activity-streak distribution (the gaps-and-islands operator):
    * consecutive active DAYS group into islands via the classic
    * `day − row_number()` constant-per-island key, the per-user longest
    * island is kept, and the output is the #users per longest-streak
    * length — the engagement-depth curve. Both windows partition by
    * user_id (corpus-cardinality keys — no global sort anywhere) and the
    * result is bounded by the calendar length.
    */
  def activeStreaks(spark: SparkSession, dir: String): DataFrame = {
    val days = t(spark, dir, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val streaks = days
      .withColumn("isl", col("day") - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("len"))
    streaks.groupBy(col("user_id")).agg(max(col("len")).as("streak_days"))
      .groupBy(col("streak_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("streak_days"))
  }

  /** Time-decay purchase attribution: every click in the 7 days before a
    * same-user purchase earns credit halving per day of age
    * (`w = 2^(6−age)`, same-day 64× … six-days-old 1×), normalized per
    * purchase in exact milli-units (`w·1000 DIV Σw`) — the
    * multi-touch-attribution shape next to q157's last-click. The pair
    * join is user-keyed equi (the time bound is a residual filter, ≤ 7
    * days of one user's clicks per purchase); weights are power-of-two
    * shifts in ≤ 32-bit lanes so both engines stay exact; output is
    * 7-row bounded.
    */
  def decayAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("event_id").as("pid"))
    val pairs = purchases.join(clicks, "user_id")
      .filter(col("cts") <= col("pts") &&
        col("cts") > col("pts") - expr("CAST(7 AS BIGINT) * 86400000000000"))
      .select(col("pid"), expr("(pts - cts) div 86400000000000").as("age_days"))
      .withColumn("w", expr("shiftleft(CAST(1 AS BIGINT), CAST(6 - age_days AS INT))"))
    val perPurchase = pairs.groupBy(col("pid")).agg(sum(col("w")).as("sw"))
    pairs.join(perPurchase, "pid")
      .select(col("age_days"), expr("w * 1000 DIV sw").as("credit_milli"))
      .groupBy(col("age_days"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("credit_milli")).as("credit_milli_sum"))
      .orderBy(col("age_days"))
  }

  /** Day-of-week activity profile with deviation from the corpus base
    * rate: per (event_type, weekday), the type's share of events on that
    * weekday vs the all-types weekday share, as an exact signed ppm
    * difference — the weekly-seasonality screen behind alert thresholds
    * (a type whose Saturday share is 3× the corpus's is batch traffic,
    * not users). Weekday from the integer epoch day (`(day+4) % 7`,
    * 1970-01-01 = Thursday) — identical arithmetic on both engines; the
    * rollup is types×7-bounded with the two marginals broadcast back.
    */
  def dowProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "events")
      .select(col("event_type"),
        expr("((ts div 86400000000000) + 4) % 7").as("dow"))
    val cell = d.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n"))
    val perType = cell.groupBy(col("event_type")).agg(sum(col("n")).as("t"))
    val perDow = cell.groupBy(col("dow")).agg(sum(col("n")).as("dn"))
    val total = cell.agg(sum(col("n")).as("g"))
    cell.join(broadcast(perType), "event_type")
      .join(broadcast(perDow), "dow")
      .crossJoin(broadcast(total))
      .select(col("event_type"), col("dow"), col("n"),
        expr("n * 1000000 DIV t").as("share_ppm"),
        expr("n * 1000000 DIV t - dn * 1000000 DIV g").as("dev_ppm"))
      .orderBy(col("event_type"), col("dow"))
  }

  /** Inter-event gap hazard: per event type, the distribution of per-user
    * day gaps between consecutive events — the return-time curve that
    * separates habitual types (mass at 0-1 days) from episodic ones. One
    * lead window per (user, type) — corpus-cardinality partition keys, no
    * global sort — then a types×gap-days bounded rollup with each cell's
    * share of its type in exact ppm.
    */
  def gapHazard(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("ts"))
    val gaps = e.withColumn("nxt", lead(col("ts"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("event_type"),
        expr("(nxt - ts) div 86400000000000").as("gap_days"))
    val cell = gaps.groupBy(col("event_type"), col("gap_days"))
      .agg(count(lit(1)).as("n"))
    val perType = cell.groupBy(col("event_type")).agg(sum(col("n")).as("t"))
    cell.join(broadcast(perType), "event_type")
      .select(col("event_type"), col("gap_days"), col("n"),
        expr("n * 1000000 DIV t").as("share_ppm"))
      .orderBy(col("event_type"), col("gap_days"))
  }

  /** Seasonal-residual outlier days: per event type, days whose volume
    * deviates from the day-of-week expectation by more than 3 MAD — the
    * ingestion-volume monitor that q210's static profile can't give
    * (q210 says Mondays run hot; this says THIS Monday broke). The
    * day-of-week baseline is the per-(type, dow) mean in floor-integer
    * counts; the MAD is the lower median of |residual| read off the
    * per-type cumulative over the (type, |r|) distinct-value summary —
    * every window here is partitioned by type over a calendar-bounded
    * frame, the raw stream is gone after the first rollup. All integer
    * arithmetic, so the flags replay bit-for-bit.
    */
  def seasonalOutliers(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dow", expr("(day + 4) % 7"))
    val expected = daily.groupBy(col("event_type"), col("dow"))
      .agg(expr("sum(n) DIV count(1)").as("exp_n"))
    val resid = daily.join(expected, Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("n"), col("exp_n"),
        (col("n") - col("exp_n")).as("resid"))
    val summary = resid.groupBy(col("event_type"), abs(col("resid")).as("ar"))
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("ar"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val mad = summary
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("tt", sum(col("c")).over(wAll))
      .filter(col("cum") * 2 >= col("tt"))
      .groupBy(col("event_type")).agg(min(col("ar")).as("mad"))
    resid.join(broadcast(mad), "event_type")
      .filter(abs(col("resid")) > lit(3L) * greatest(col("mad"), lit(1L)))
      .select(col("event_type"), col("day"), col("n"), col("exp_n"),
        col("resid"), col("mad"))
      .orderBy(col("event_type"), col("day"))
  }


  /** Lag-k autocorrelation of daily event volume per type (k = 1 and 7):
    * the seasonality-strength statistic q227's outlier flags sit on top
    * of — r₇ ≫ r₁ means weekly rhythm, high r₁ means day-to-day
    * momentum, both near 0 means white noise. Estimator: the calendar is
    * zero-filled per type (missing days are real zeros), residuals are
    * scaled by n to stay integral (y_t = n·x_t − S over n days, S total
    * events), and r_k = Σ_{t≤n−k} y_t·y_{t+k} / Σ y_t² ships in ppm with
    * the sign-explicit DIV (Spark truncates, DuckDB floors — they agree
    * only for non-negative operands). Products widen to DECIMAL(38,0)
    * before summing (y² ≈ (n·daily volume)² passes Long at planet
    * scale). Scale shape: the dense grid is calendar-bounded per type
    * (sequence-explode over min..max day), each lag is an equi-join on
    * day+k over that bounded grid, and the raw stream touches exactly
    * one map-side-combined daily rollup.
    */
  def lagAutocorr(spark: SparkSession, dir: String): DataFrame = {
    val daily = t(spark, dir, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val range = daily.groupBy(col("event_type"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
        sum(col("x")).as("s"))
      .withColumn("n", col("d1") - col("d0") + 1)
    val dense = range
      .select(col("event_type"), col("s"), col("n"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      .join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"), col("n"),
        (col("n") * coalesce(col("x"), lit(0L)) - col("s")).as("y"))
    val denom = dense.groupBy(col("event_type"))
      .agg(sum(col("y").cast(DecimalType(38, 0)) * col("y")).as("den"),
        max(col("n")).as("n_days"))
    def num(k: Int): DataFrame = dense
      .select(col("event_type"), col("day"), col("y").as("ya"))
      .join(dense.select(col("event_type"), (col("day") - k).as("day"),
          col("y").as("yb")),
        Seq("event_type", "day"))
      .groupBy(col("event_type"))
      .agg(sum(col("ya").cast(DecimalType(38, 0)) * col("yb")).as("num"))
      .withColumn("lag_k", lit(k.toLong))
    // grid dense over (type × lag): a type whose calendar span is ≤ k has
    // an empty lag-k pair set — that's autocorr 0, not a missing row
    val grid = denom.withColumn("lag_k", explode(array(lit(1L), lit(7L))))
    grid.join(num(1).unionByName(num(7)), Seq("event_type", "lag_k"), "left")
      .withColumn("num",
        coalesce(col("num"), lit(0L).cast(DecimalType(38, 0))))
      .selectExpr("event_type", "lag_k", "n_days",
        "CAST(CASE WHEN den = 0 THEN 0 " +
          "WHEN num >= 0 THEN (num * 1000000) DIV den " +
          "ELSE -(((-num) * 1000000) DIV den) END AS BIGINT) AS autocorr_ppm")
      .orderBy(col("event_type"), col("lag_k"))
  }


  /** Per-user behavioral diversity (Gini–Simpson index) histogram: for
    * each user, 1 − Σp_i² over their event-type mix — 0 = every event the
    * same type, →1 = evenly spread — banded into integer percents and counted. The
    * diversity complement to q204's co-occurrence lift: lift says which
    * types travel together, this says how concentrated each user's
    * behavior is, and the band histogram is the audience-shape summary a
    * mixture planner reads. Pure integers: gs_ppm = 1e6 − (Σc²·1e6) DIV
    * n² (Σc² ≤ n² so it never goes negative), band = gs_ppm DIV 1e4 (integer percent); the
    * per-user frame is a user×type rollup (bounded by the type alphabet
    * per user), the histogram is ≤11 rows. Σc²·1e6 widens to
    * DECIMAL(38,0) — a 1e9-event user would pass Long.
    */
  def typeDiversity(spark: SparkSession, dir: String): DataFrame = {
    val cell = t(spark, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
    val per = cell.groupBy(col("user_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast(DecimalType(38, 0)) * col("c")).as("c2"))
      .selectExpr("user_id",
        "CAST(1000000 - (c2 * 1000000) DIV (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) AS gs_ppm")
    per.groupBy(expr("gs_ppm DIV 10000").as("band"))
      .agg(count(lit(1)).as("n_users"),
        min(col("gs_ppm")).as("min_ppm"), max(col("gs_ppm")).as("max_ppm"))
      .orderBy(col("band"))
  }


  protected lazy val eventsOracle: Map[String, String] = Map(
    "q233_type_diversity" ->
      """WITH cell AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
        |              FROM events GROUP BY 1, 2),
        |per AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
        |          sum(c * c) AS c2
        |        FROM cell GROUP BY 1),
        |g AS (SELECT user_id,
        |        CAST(1000000 - (c2 * 1000000) // (n * n) AS BIGINT) AS gs_ppm
        |      FROM per)
        |SELECT gs_ppm // 10000 AS band, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(min(gs_ppm) AS BIGINT) AS min_ppm,
        |  CAST(max(gs_ppm) AS BIGINT) AS max_ppm
        |FROM g GROUP BY 1 ORDER BY band""".stripMargin,
    "q232_lag_autocorr" ->
      """WITH daily AS MATERIALIZED (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |rng AS (SELECT event_type, min(day) AS d0, max(day) AS d1,
        |          CAST(sum(x) AS BIGINT) AS s, max(day) - min(day) + 1 AS n
        |        FROM daily GROUP BY 1),
        |dense AS MATERIALIZED (
        |  SELECT r.event_type AS event_type, g.day AS day, r.n AS n,
        |         r.n * coalesce(d.x, 0) - r.s AS y
        |  FROM rng r
        |  CROSS JOIN LATERAL (SELECT unnest(generate_series(r.d0, r.d1)) AS day) g
        |  LEFT JOIN daily d ON d.event_type = r.event_type AND d.day = g.day),
        |den AS (SELECT event_type, sum(y * y) AS den,
        |          CAST(max(n) AS BIGINT) AS n_days
        |        FROM dense GROUP BY 1),
        |num AS (SELECT a.event_type AS event_type, k.lag_k, sum(a.y * b.y) AS num
        |        FROM (VALUES (1), (7)) k(lag_k)
        |        CROSS JOIN dense a
        |        JOIN dense b ON a.event_type = b.event_type
        |                    AND b.day = a.day + k.lag_k
        |        GROUP BY 1, 2)
        |SELECT den.event_type AS event_type, CAST(k.lag_k AS BIGINT) AS lag_k,
        |  n_days,
        |  CAST(CASE WHEN den = 0 THEN 0
        |            WHEN coalesce(num, 0) >= 0
        |              THEN (coalesce(num, 0) * 1000000) // den
        |            ELSE -(((-num) * 1000000) // den) END AS BIGINT) AS autocorr_ppm
        |FROM den CROSS JOIN (VALUES (1), (7)) k(lag_k)
        |LEFT JOIN num ON num.event_type = den.event_type
        |             AND num.lag_k = k.lag_k
        |ORDER BY event_type, lag_k""".stripMargin,
    "q227_seasonal_outliers" ->
      """WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, (day + 4) % 7 AS dow FROM daily),
        |e AS (SELECT event_type, dow, CAST(sum(n) // count(*) AS BIGINT) AS exp_n
        |      FROM d2 GROUP BY 1, 2),
        |r AS (SELECT d2.event_type AS event_type, day, n, exp_n, n - exp_n AS resid
        |      FROM d2 JOIN e ON d2.event_type = e.event_type AND d2.dow = e.dow),
        |s AS (SELECT event_type, abs(resid) AS ar, count(*) AS c FROM r GROUP BY 1, 2),
        |cum AS (SELECT event_type, ar,
        |          sum(c) OVER (PARTITION BY event_type ORDER BY ar) AS cum,
        |          sum(c) OVER (PARTITION BY event_type) AS t
        |        FROM s),
        |mad AS (SELECT event_type, CAST(min(ar) AS BIGINT) AS mad
        |        FROM cum WHERE cum * 2 >= t GROUP BY 1)
        |SELECT r.event_type AS event_type, day, n, exp_n, resid, mad
        |FROM r JOIN mad ON r.event_type = mad.event_type
        |WHERE abs(resid) > 3 * greatest(mad, 1)
        |ORDER BY event_type, day""".stripMargin,
    "q213_gap_hazard" ->
      """WITH g AS (SELECT event_type,
        |             (lead(epoch_ns(ts)) OVER (PARTITION BY user_id, event_type
        |                ORDER BY epoch_ns(ts)) - epoch_ns(ts)) // 86400000000000 AS gap_days
        |           FROM events),
        |cell AS (SELECT event_type, gap_days, CAST(count(*) AS BIGINT) AS n
        |         FROM g WHERE gap_days IS NOT NULL GROUP BY 1, 2),
        |pt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t FROM cell GROUP BY 1)
        |SELECT event_type, gap_days, n,
        |  CAST(n * 1000000 // t AS BIGINT) AS share_ppm
        |FROM cell JOIN pt USING (event_type)
        |ORDER BY event_type, gap_days""".stripMargin,
    "q208_active_streaks" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |                epoch_ns(ts) // 86400000000000 AS day FROM events),
        |isl AS (SELECT user_id, day,
        |          day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS isl
        |        FROM days),
        |st AS (SELECT user_id, isl, CAST(count(*) AS BIGINT) AS len
        |       FROM isl GROUP BY 1, 2),
        |lg AS (SELECT user_id, max(len) AS streak_days FROM st GROUP BY 1)
        |SELECT streak_days, CAST(count(*) AS BIGINT) AS n_users
        |FROM lg GROUP BY 1 ORDER BY streak_days""".stripMargin,
    "q209_decay_attribution" ->
      """WITH c AS (SELECT user_id, epoch_ns(ts) AS cts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_ns(ts) AS pts, event_id AS pid FROM events
        |      WHERE event_type = 'purchase'),
        |pr AS (SELECT pid, (pts - cts) // 86400000000000 AS age_days
        |       FROM p JOIN c USING (user_id)
        |       WHERE cts <= pts AND cts > pts - 7 * 86400000000000),
        |w AS (SELECT pid, age_days,
        |        (CAST(1 AS BIGINT) << CAST(6 - age_days AS INTEGER)) AS w
        |      FROM pr),
        |sw AS (SELECT pid, CAST(sum(w) AS BIGINT) AS sw FROM w GROUP BY 1)
        |SELECT age_days, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(w * 1000 // sw) AS BIGINT) AS credit_milli_sum
        |FROM w JOIN sw USING (pid)
        |GROUP BY 1 ORDER BY age_days""".stripMargin,
    "q210_dow_profile" ->
      """WITH d AS (SELECT event_type,
        |             ((epoch_ns(ts) // 86400000000000) + 4) % 7 AS dow
        |           FROM events),
        |cell AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n
        |         FROM d GROUP BY 1, 2),
        |pt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t FROM cell GROUP BY 1),
        |pd AS (SELECT dow, CAST(sum(n) AS BIGINT) AS dn FROM cell GROUP BY 1),
        |g AS (SELECT CAST(sum(n) AS BIGINT) AS g FROM cell)
        |SELECT event_type, dow, n,
        |  CAST(n * 1000000 // t AS BIGINT) AS share_ppm,
        |  CAST(n * 1000000 // t - dn * 1000000 // g AS BIGINT) AS dev_ppm
        |FROM cell JOIN pt USING (event_type) JOIN pd USING (dow) CROSS JOIN g
        |ORDER BY event_type, dow""".stripMargin,
    "q204_event_lift" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
        |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM ut),
        |pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM ut GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |         CAST(count(*) AS BIGINT) AS n_both
        |       FROM ut a JOIN ut b ON a.user_id = b.user_id
        |       WHERE a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT type_a, type_b, n_both, pa.n_t AS n_a, pb.n_t AS n_b,
        |  CAST((CAST(n_both AS DECIMAL(38,0)) * n_users * 1000000)
        |       // (CAST(pa.n_t AS DECIMAL(38,0)) * pb.n_t) AS BIGINT) AS lift_ppm
        |FROM pr JOIN pt pa ON pr.type_a = pa.event_type
        |JOIN pt pb ON pr.type_b = pb.event_type
        |CROSS JOIN n
        |ORDER BY type_a, type_b""".stripMargin,
    "q11_case_unpivot" ->
      """SELECT user_id,
        | max(CASE WHEN event_type = 'purchase' THEN value END) AS purchase_max,
        | max(CASE WHEN event_type = 'view' THEN value END) AS view_max,
        | max(CASE WHEN event_type = 'click' THEN value END) AS click_max,
        | max(CASE WHEN event_type = 'error' THEN value END) AS error_max,
        | count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q18_offset_gaps" ->
      """WITH g AS (
        |  SELECT user_id, epoch_ns(ts) // 3600000000000 AS bucket,
        |         min(event_id) AS from_id, max(event_id) AS until_id
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT user_id, bucket, from_id,
        |         lag(until_id) OVER (PARTITION BY user_id ORDER BY bucket) AS prev_until
        |  FROM g)
        |SELECT user_id, bucket, prev_until, from_id FROM l
        |WHERE prev_until IS NOT NULL AND prev_until <> from_id
        |ORDER BY user_id, bucket""".stripMargin,
    "q19_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s)
        |SELECT user_id, session_seq, count(*) AS n_events,
        | min(event_id) AS first_event, max(event_id) AS last_event,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
        |FROM s2 GROUP BY user_id, session_seq ORDER BY user_id, session_seq""".stripMargin,
    "q20_tumbling_window" ->
      """SELECT (epoch_ns(ts) // 1000000000) // 3600 * 3600 AS hour_epoch, event_type,
        | count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q21_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
        | max(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q62_skew_join" ->
      """WITH d AS (
        |  SELECT event_type,
        |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS type_avg
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type,
        |       count(*) FILTER (WHERE e.value > d.type_avg) AS n_above,
        |       count(*) AS n
        |FROM events e JOIN d USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q59_sliding_window" ->
      """WITH s AS (
        |  SELECT (epoch_ns(ts) // 1000000000) // 1800 AS slot, user_id FROM events),
        |e AS (SELECT unnest([slot, slot - 1]) AS w, user_id FROM s)
        |SELECT w * 1800 AS window_start, count(*) AS n_events,
        |       count(DISTINCT user_id) AS n_users
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q46_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q49_salted_agg" ->
      """SELECT event_type,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        | count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q45_range_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts_us AS p_ts FROM e WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us AS c_ts FROM e WHERE event_type = 'click')
        |SELECT p_id, CAST(count(*) AS BIGINT) AS n_recent_clicks
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND p.p_ts - c.c_ts BETWEEN 0 AND 600000000
        |GROUP BY p_id ORDER BY p_id""".stripMargin,
    "q44_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type, value FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts_us AS p_ts, event_id AS p_event_id, value AS p_value
        |  FROM e WHERE event_type = 'purchase'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts_us ORDER BY event_id DESC) = 1)
        |SELECT c.event_id, c.user_id, p.p_event_id AS asof_p_event_id, p.p_value AS asof_p_value
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.p_ts
        |ORDER BY c.event_id""".stripMargin,
    "q80_outliers" ->
      """WITH c AS (SELECT event_id, event_type, value,
        |            CAST(round(value * 100) AS BIGINT) AS vc FROM events),
        |s AS (SELECT event_type, count(*) AS n, CAST(sum(vc) AS BIGINT) AS s,
        |       CAST(sum(vc * vc) AS BIGINT) AS ss FROM c GROUP BY event_type),
        |z AS (SELECT event_id, c.event_type, value,
        |  CASE WHEN sqrt((CAST(s.ss AS DOUBLE) - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / s.n) / s.n) > 0
        |    THEN (CAST(vc AS DOUBLE) - CAST(s.s AS DOUBLE) / s.n) /
        |      sqrt((CAST(s.ss AS DOUBLE) - CAST(s.s AS DOUBLE) * CAST(s.s AS DOUBLE) / s.n) / s.n)
        |    ELSE 0.0 END AS z
        |FROM c JOIN s ON c.event_type = s.event_type)
        |SELECT event_id, event_type, value, z FROM z
        |WHERE abs(z) > 3.0
        |ORDER BY event_type, event_id""".stripMargin,
    "q88_cold_start" ->
      """WITH b AS (SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi FROM events),
        |cut AS (SELECT lo + (hi - lo) // 5 * 4 AS c FROM b),
        |tr AS (SELECT DISTINCT user_id FROM events, cut WHERE epoch_ns(ts) < c),
        |ev AS (SELECT e.event_id, e.event_type, e.user_id FROM events e, cut
        |       WHERE epoch_ns(e.ts) >= c)
        |SELECT event_type, count(*) AS n_eval_events,
        |  CAST(sum(CASE WHEN tr.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cold_start,
        |  count(DISTINCT CASE WHEN tr.user_id IS NULL THEN ev.user_id END) AS n_cold_users
        |FROM ev LEFT JOIN tr ON ev.user_id = tr.user_id
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q234: identical session-walk CTE as q195; the ordered CASE is the
    // alternation priority, patterns spliced verbatim from the builder.
    "q234_journey_grammar" ->
      """WITH e0 AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s),
        |st AS (SELECT user_id, session_seq, min(ts_us) AS start_us,
        |         substr(string_agg(upper(substr(event_type, 1, 1)), ''
        |                           ORDER BY ts_us, event_id), 1, 512) AS walk
        |       FROM s2 GROUP BY 1, 2),
        |cl AS (SELECT start_us // 86400000000 AS day,
        |         CASE WHEN regexp_matches(walk, 'S.*E.*P') THEN 'retry_convert'
        |              WHEN regexp_matches(walk, 'S[^E]*P') THEN 'clean_convert'
        |              WHEN regexp_matches(walk, 'S[^P]*E[^P]*$') THEN 'error_exit'
        |              WHEN regexp_matches(walk, '^[^S]*P') THEN 'nosignup_convert'
        |              ELSE 'browse_only' END AS pattern,
        |         CASE WHEN regexp_matches(walk, 'S.*E.*P') THEN length(regexp_extract(walk, 'S.*E.*P'))
        |              WHEN regexp_matches(walk, 'S[^E]*P') THEN length(regexp_extract(walk, 'S[^E]*P'))
        |              WHEN regexp_matches(walk, 'S[^P]*E[^P]*$') THEN length(regexp_extract(walk, 'S[^P]*E[^P]*$'))
        |              WHEN regexp_matches(walk, '^[^S]*P') THEN length(regexp_extract(walk, '^[^S]*P'))
        |              ELSE 0 END AS mlen,
        |         length(walk) AS wlen
        |       FROM st)
        |SELECT CAST(day AS BIGINT) AS day, pattern,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(mlen) AS BIGINT) AS match_len_total,
        |  CAST(sum(wlen) * 1000 // count(*) AS BIGINT) AS walk_len_milli
        |FROM cl GROUP BY 1, 2 ORDER BY day, pattern""".stripMargin,
    // q235: per-shard running-max watermark over arrival order; the two
    // 1-row aggregate CTEs are MATERIALIZED so the 4-delay unpivot does
    // not recompute the pair join per delay. Shard is sign-explicit
    // (((x % 32) + 32) % 32) to match Spark's pmod semantics even for
    // negative ids (Spark % and DuckDB % both follow the dividend sign).
    "q235_watermark_loss" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ns(ts) AS ts,
        |             ((user_id % 32) + 32) % 32 AS shard FROM events),
        |s AS (SELECT *, max(ts) OVER (PARTITION BY shard ORDER BY event_id
        |                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
        |      FROM e),
        |l AS (SELECT *, CASE WHEN wm IS NULL OR wm <= ts THEN 0 ELSE wm - ts END AS late_ns FROM s),
        |lr AS MATERIALIZED (SELECT
        |        CAST(sum(CASE WHEN late_ns > 0 THEN 1 ELSE 0 END) AS BIGINT) AS late_0,
        |        CAST(sum(CASE WHEN late_ns > 60000000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_60,
        |        CAST(sum(CASE WHEN late_ns > 600000000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_600,
        |        CAST(sum(CASE WHEN late_ns > 3600000000000 THEN 1 ELSE 0 END) AS BIGINT) AS late_3600
        |      FROM l),
        |c AS (SELECT user_id, ts, late_ns FROM l WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, late_ns FROM l WHERE event_type = 'purchase'),
        |pr AS (SELECT c.late_ns AS cl, p.late_ns AS pl
        |       FROM c JOIN p ON c.user_id = p.user_id
        |        AND p.ts >= c.ts AND p.ts <= c.ts + 3600000000000),
        |ls AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |        CAST(COALESCE(sum(CASE WHEN cl > 0 OR pl > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS lost_0,
        |        CAST(COALESCE(sum(CASE WHEN cl > 60000000000 OR pl > 60000000000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS lost_60,
        |        CAST(COALESCE(sum(CASE WHEN cl > 600000000000 OR pl > 600000000000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS lost_600,
        |        CAST(COALESCE(sum(CASE WHEN cl > 3600000000000 OR pl > 3600000000000 THEN 1 ELSE 0 END), 0) AS BIGINT) AS lost_3600
        |      FROM pr),
        |u AS (SELECT 0 AS delay_s, late_0 AS n_late_events, n_pairs, lost_0 AS n_pairs_lost FROM lr, ls
        |      UNION ALL
        |      SELECT 60, late_60, n_pairs, lost_60 FROM lr, ls
        |      UNION ALL
        |      SELECT 600, late_600, n_pairs, lost_600 FROM lr, ls
        |      UNION ALL
        |      SELECT 3600, late_3600, n_pairs, lost_3600 FROM lr, ls)
        |SELECT CAST(delay_s AS BIGINT) AS delay_s, n_late_events, n_pairs, n_pairs_lost,
        |  CAST(n_pairs_lost * 1000000 // greatest(n_pairs, 1) AS BIGINT) AS lost_ppm
        |FROM u ORDER BY delay_s""".stripMargin,
    "q120_sketch_rollup" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n_events FROM e GROUP BY day),
        |weekly AS (SELECT day - day % 7 AS week_start,
        |             CAST(count(*) AS BIGINT) AS n_days,
        |             CAST(sum(n_events) AS BIGINT) AS n_events
        |           FROM daily GROUP BY 1),
        |ex AS (SELECT day - day % 7 AS week_start,
        |         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct_users
        |       FROM e GROUP BY 1)
        |SELECT week_start, n_days, n_events, exact_distinct_users,
        |       TRUE AS est_within_5pct
        |FROM weekly JOIN ex USING (week_start)
        |ORDER BY week_start""".stripMargin,
    "q121_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(t) AS t2, min(t1) AS t1 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND t >= t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(t) AS t3, min(t2) AS t2 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t >= t2 GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT 'signup>click' AS stage, CAST(count(*) AS BIGINT) AS n_users,
        |         quantile_cont(t2 - t1, 0.5) AS median_latency_ns,
        |         quantile_cont(t2 - t1, 0.9) AS p90_latency_ns FROM s2
        |  UNION ALL
        |  SELECT 'click>purchase', count(*),
        |         quantile_cont(t3 - t2, 0.5), quantile_cont(t3 - t2, 0.9) FROM s3)
        |ORDER BY stage""".stripMargin,
    "q144_concurrency" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s),
        |sess AS (SELECT user_id, session_seq, min(ts_us) AS s_start, max(ts_us) AS s_end
        |         FROM s2 GROUP BY 1, 2),
        |d AS (SELECT user_id, session_seq, s_start AS t, 1 AS delta FROM sess
        |      UNION ALL
        |      SELECT user_id, session_seq, s_end AS t, -1 AS delta FROM sess),
        |c AS (SELECT *, CAST(sum(delta) OVER (ORDER BY t, delta DESC, user_id, session_seq
        |                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM d)
        |SELECT (t // 3600000000) * 3600 AS hour_epoch,
        |       CAST(count(CASE WHEN delta = 1 THEN 1 END) AS BIGINT) AS n_starts,
        |       CAST(count(CASE WHEN delta = -1 THEN 1 END) AS BIGINT) AS n_ends,
        |       CAST(max(cum) AS BIGINT) AS peak_concurrency,
        |       CAST(sum(sum(delta)) OVER (ORDER BY (t // 3600000000) * 3600
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_concurrency
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q146_asof_snapshots" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts_ns FROM events),
        |b AS (SELECT min(ts_ns) AS lo, max(ts_ns) AS hi FROM e),
        |cuts AS (SELECT CAST(i AS INT) AS cut_id, lo + ((hi - lo) // 4) * i AS cut_ns
        |         FROM b CROSS JOIN range(1, 4) AS r(i)),
        |j AS (SELECT cut_id, e.* FROM e JOIN cuts ON ts_ns <= cut_ns),
        |r AS (SELECT *,
        |        row_number() OVER (PARTITION BY cut_id, user_id
        |                           ORDER BY ts_ns DESC, event_id DESC) AS rn,
        |        count(*) OVER (PARTITION BY cut_id, user_id) AS n_events
        |      FROM j)
        |SELECT cut_id, user_id, event_type AS last_event_type,
        |       event_id AS last_event_id, CAST(n_events AS BIGINT) AS n_events
        |FROM r WHERE rn = 1 ORDER BY cut_id, user_id""".stripMargin,
    "q135_cms_rollup" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |r AS (SELECT unnest(range(0, 4)) AS r),
        |daily AS (SELECT day, r.r,
        |            ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS lane,
        |            CAST(count(*) AS BIGINT) AS cell_n
        |          FROM e CROSS JOIN r GROUP BY 1, 2, 3),
        |weekly AS (SELECT day // 7 AS week, r, lane, CAST(sum(cell_n) AS BIGINT) AS cell_n
        |           FROM daily GROUP BY 1, 2, 3),
        |top AS (SELECT user_id FROM e GROUP BY user_id
        |        ORDER BY count(*) DESC, user_id LIMIT 5),
        |ex AS (SELECT day // 7 AS week, user_id, CAST(count(*) AS BIGINT) AS n
        |       FROM e JOIN top USING (user_id) GROUP BY 1, 2),
        |probes AS (SELECT ex.week, ex.user_id, ex.n, r.r,
        |             ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '|' || CAST(ex.user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS lane
        |           FROM ex CROSS JOIN r),
        |est AS (SELECT p.week, p.user_id, p.n, min(w.cell_n) AS cms_estimate
        |        FROM probes p JOIN weekly w ON p.week = w.week AND p.r = w.r AND p.lane = w.lane
        |        GROUP BY 1, 2, 3)
        |SELECT week, user_id, n, cms_estimate,
        |       CAST((cms_estimate - n) * 1000000 // n AS BIGINT) AS over_ppm
        |FROM est ORDER BY week, user_id""".stripMargin,
    "q134_cms_heavy" ->
      """WITH e AS (SELECT user_id FROM events),
        |r AS (SELECT unnest(range(0, 4)) AS r),
        |cells AS (SELECT r.r,
        |            ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS lane,
        |            CAST(count(*) AS BIGINT) AS cell_n
        |          FROM e CROSS JOIN r GROUP BY 1, 2),
        |top AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM e
        |        GROUP BY user_id ORDER BY n DESC, user_id LIMIT 20),
        |probes AS (SELECT t.user_id, t.n, r.r,
        |             ('0x' || substr(md5(CAST(r.r AS VARCHAR) || '|' || CAST(t.user_id AS VARCHAR)), 1, 8))::BIGINT % 256 AS lane
        |           FROM top t CROSS JOIN r),
        |est AS (SELECT p.user_id, p.n, min(c.cell_n) AS cms_estimate
        |        FROM probes p JOIN cells c ON p.r = c.r AND p.lane = c.lane
        |        GROUP BY p.user_id, p.n)
        |SELECT user_id, n, cms_estimate,
        |       CAST((cms_estimate - n) * 1000000 // n AS BIGINT) AS over_ppm
        |FROM est ORDER BY n DESC, user_id""".stripMargin,
    "q131_heavy_hitters" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY user_id),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM events)
        |SELECT user_id, n,
        |       CAST(n * 1000000 // (SELECT total FROM t) AS BIGINT) AS share_ppm
        |FROM c ORDER BY n DESC, user_id LIMIT 20""".stripMargin,
    "q115_funnel_steps" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |s1 AS (SELECT user_id, min(t) AS t1 FROM e WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(t) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND t >= t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(t) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t >= t2 GROUP BY e.user_id)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'signup' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM s1
        |  UNION ALL
        |  SELECT 2, 'signup>click', count(*) FROM s2
        |  UNION ALL
        |  SELECT 3, 'signup>click>purchase', count(*) FROM s3)
        |ORDER BY step""".stripMargin,
    "q116_retention_cohorts" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q118_incremental_retention" ->
      """WITH e AS (SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q153_kmv_daily" ->
      """WITH e AS (SELECT epoch_ns(ts) // 86400000000000 AS day, user_id,
        |             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
        |           FROM events),
        |d AS (SELECT DISTINCT day, h FROM e),
        |rk AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS r FROM d),
        |sk AS (SELECT day, CAST(count(*) AS BIGINT) AS n_sketch,
        |         max(CASE WHEN r = 64 THEN h END) AS h64
        |       FROM rk WHERE r <= 64 GROUP BY day),
        |ex AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |       FROM e GROUP BY day)
        |SELECT sk.day, n_sketch,
        |  CAST(CASE WHEN n_sketch < 64 THEN n_sketch
        |            ELSE 17732923532771328 // greatest(h64, 1) END AS BIGINT) AS est_distinct,
        |  exact_distinct
        |FROM sk JOIN ex USING (day) ORDER BY sk.day""".stripMargin,
    "q157_attribution" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type,
        |             CAST(CAST(value AS DECIMAL(18,2)) * 1000000 AS BIGINT) AS vmicro
        |           FROM events),
        |p AS (SELECT event_id AS p_id, user_id, ts_us AS p_ts, vmicro FROM e
        |      WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts_us AS c_ts, event_id AS c_id FROM e
        |      WHERE event_type = 'click'),
        |tj AS (SELECT p.p_id, p.p_ts, p.vmicro, c.c_ts, c.c_id
        |       FROM p JOIN c ON p.user_id = c.user_id
        |       WHERE p.p_ts - c.c_ts BETWEEN 0 AND 600000000),
        |r AS (SELECT *, row_number() OVER w AS pos, count(*) OVER (PARTITION BY p_id) AS n,
        |        vmicro // count(*) OVER (PARTITION BY p_id) AS base
        |      FROM tj WINDOW w AS (PARTITION BY p_id ORDER BY c_ts, c_id)),
        |a AS (SELECT p_ts // 86400000000 AS day,
        |        CASE WHEN pos = n THEN 'last' WHEN pos = 1 THEN 'first' ELSE 'middle' END AS attribution,
        |        CASE WHEN pos = n THEN vmicro - base * (n - 1) ELSE base END AS attributed
        |      FROM r
        |      UNION ALL
        |      SELECT p_ts // 86400000000, 'direct', vmicro FROM p
        |      WHERE NOT EXISTS (SELECT 1 FROM tj WHERE tj.p_id = p.p_id))
        |SELECT day, attribution, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(sum(attributed) AS BIGINT) AS revenue_micro
        |FROM a GROUP BY day, attribution ORDER BY day, attribution""".stripMargin,
    "q158_lift_pairs" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s),
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM s2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_sessions
        |        FROM (SELECT DISTINCT user_id, session_seq FROM st)),
        |sg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_t FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b, CAST(count(*) AS BIGINT) AS n_ab
        |       FROM st a JOIN st b ON a.user_id = b.user_id
        |         AND a.session_seq = b.session_seq AND a.event_type < b.event_type
        |       GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        |  CAST(n_ab * 1000000 // n_sessions AS BIGINT) AS support_ppm,
        |  CAST((CAST(n_ab AS HUGEINT) * n_sessions * 1000000) //
        |       (CAST(sa.n_t AS HUGEINT) * sb.n_t) AS BIGINT) AS lift_ppm
        |FROM pr JOIN sg sa ON pr.type_a = sa.event_type
        |        JOIN sg sb ON pr.type_b = sb.event_type
        |        CROSS JOIN tot
        |ORDER BY type_a, type_b""".stripMargin,
    "q159_transition_matrix" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s),
        |tr AS (SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id, session_seq
        |                                ORDER BY ts_us, event_id) AS to_type
        |       FROM s2),
        |g AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
        |      FROM tr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS nf FROM g GROUP BY 1)
        |SELECT from_type, to_type, n_transitions,
        |       CAST(n_transitions * 1000000 // nf AS BIGINT) AS prob_ppm
        |FROM g JOIN m USING (from_type) ORDER BY from_type, to_type""".stripMargin,
    "q162_trend_slope" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |             CAST(CAST(value AS DECIMAL(18,2)) * 1000000 AS BIGINT) AS vmicro
        |           FROM events),
        |d AS (SELECT event_type, day, CAST(sum(vmicro) AS BIGINT) AS y
        |      FROM e GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(day) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        sum(CAST(day AS HUGEINT) * y) AS sxy,
        |        sum(CAST(day AS HUGEINT) * day) AS sxx
        |      FROM d GROUP BY 1),
        |f AS (SELECT event_type, n,
        |        CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
        |        CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
        |      FROM s)
        |SELECT event_type, n,
        |  CAST(CASE WHEN den = 0 THEN 0
        |            WHEN num >= 0 THEN (num * 1000000) // den
        |            ELSE -(((-num) * 1000000) // den) END AS BIGINT) AS slope_micro_per_day
        |FROM f ORDER BY event_type""".stripMargin,
    "q163_benford" ->
      """WITH c AS (SELECT event_type,
        |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM events),
        |d AS (SELECT event_type,
        |        CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |      FROM c WHERE cents > 0),
        |g AS (SELECT event_type, digit, CAST(count(*) AS BIGINT) AS n
        |      FROM d GROUP BY 1, 2),
        |tt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM g GROUP BY 1),
        |bf AS (SELECT CAST(unnest(range(1, 10)) AS BIGINT) AS digit,
        |              unnest([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757])::BIGINT AS benford_ppm),
        |grid AS (SELECT tt.event_type, bf.digit, bf.benford_ppm, tt.nt FROM tt CROSS JOIN bf)
        |SELECT grid.event_type, grid.digit, coalesce(g.n, 0) AS n,
        |  CAST(coalesce(g.n, 0) * 1000000 // grid.nt AS BIGINT) AS obs_ppm,
        |  grid.benford_ppm,
        |  CAST(coalesce(g.n, 0) * 1000000 // grid.nt - grid.benford_ppm AS BIGINT) AS deviation_ppm
        |FROM grid LEFT JOIN g ON grid.event_type = g.event_type AND grid.digit = g.digit
        |ORDER BY grid.event_type, grid.digit""".stripMargin,
    "q164_hll_portable" ->
      s"""WITH lc AS (SELECT [$HllLinearCountTable] AS t),
        |b AS (SELECT epoch_ns(ts) // 86400000000000 AS day, user_id,
        |             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))::BIGINT AS reg,
        |             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 12))::BIGINT AS v48
        |           FROM events),
        |r AS (SELECT day, reg,
        |        CASE WHEN v48 = 0 THEN 49 ELSE 49 - length(bin(v48)) END AS rho FROM b),
        |dr AS (SELECT day, reg, CAST(max(rho) AS BIGINT) AS m FROM r GROUP BY 1, 2),
        |wr AS (SELECT day // 7 AS week, reg, CAST(max(m) AS BIGINT) AS m FROM dr GROUP BY 1, 2),
        |ed AS (SELECT day AS period, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |       FROM b GROUP BY 1),
        |ew AS (SELECT day // 7 AS period, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
        |       FROM b GROUP BY 1),
        |estd AS (SELECT day AS period, CAST(count(*) AS BIGINT) AS n_used,
        |           sum(CAST(1::BIGINT << CAST(50 - m AS INT) AS HUGEINT)) AS s_used
        |         FROM dr GROUP BY 1),
        |estw AS (SELECT week AS period, CAST(count(*) AS BIGINT) AS n_used,
        |           sum(CAST(1::BIGINT << CAST(50 - m AS INT) AS HUGEINT)) AS s_used
        |         FROM wr GROUP BY 1),
        |raws AS (
        |  SELECT 'day' AS grain, e.period, n_used,
        |    CAST((718273::HUGEINT * 65536 * 1125899906842624) //
        |         ((s_used + (256 - n_used) * 1125899906842624::HUGEINT) * 1000000) AS BIGINT) AS raw_est,
        |    exact_distinct
        |  FROM estd e JOIN ed USING (period)
        |  UNION ALL
        |  SELECT 'week', e.period, n_used,
        |    CAST((718273::HUGEINT * 65536 * 1125899906842624) //
        |         ((s_used + (256 - n_used) * 1125899906842624::HUGEINT) * 1000000) AS BIGINT),
        |    exact_distinct
        |  FROM estw e JOIN ew USING (period))
        |SELECT grain, period, n_used,
        |  CAST(CASE WHEN raw_est <= 640 AND n_used < 256
        |            THEN (SELECT t FROM lc)[CAST(256 - n_used AS INT)]
        |            ELSE raw_est END AS BIGINT) AS est_distinct,
        |  exact_distinct
        |FROM raws ORDER BY grain, period""".stripMargin,
    "q169_winsorized" ->
      """WITH cts AS (SELECT event_type,
        |               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
        |             FROM events),
        |bv AS (SELECT event_type, c, CAST(count(*) AS BIGINT) AS k FROM cts GROUP BY 1, 2),
        |tt AS (SELECT event_type, CAST(sum(k) AS BIGINT) AS n,
        |         CAST(sum(c * k) AS BIGINT) AS s FROM bv GROUP BY 1),
        |cm AS (SELECT bv.*, n,
        |         CAST(sum(k) OVER (PARTITION BY bv.event_type ORDER BY c) AS BIGINT) AS cum
        |       FROM bv JOIN tt USING (event_type)),
        |bd AS (SELECT event_type,
        |         min(CASE WHEN cum >= (n * 5 + 99) // 100 THEN c END) AS lo,
        |         min(CASE WHEN cum >= (n * 95 + 99) // 100 THEN c END) AS hi
        |       FROM cm GROUP BY 1),
        |ws AS (SELECT bv.event_type,
        |         CAST(sum(greatest(least(c, hi), lo) * k) AS BIGINT) AS wsum
        |       FROM bv JOIN bd USING (event_type) GROUP BY 1)
        |SELECT tt.event_type, n, lo AS lo_cents, hi AS hi_cents,
        |  CAST(1000 * s // n AS BIGINT) AS mean_millicents,
        |  CAST(1000 * wsum // n AS BIGINT) AS win_mean_millicents
        |FROM tt JOIN bd USING (event_type) JOIN ws USING (event_type)
        |ORDER BY tt.event_type""".stripMargin,
    "q170_fano_burstiness" ->
      """WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |                 CAST(count(*) AS BIGINT) AS x
        |               FROM events GROUP BY 1, 2),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
        |grid AS (SELECT t.event_type, d.day
        |         FROM (SELECT DISTINCT event_type FROM daily) t
        |         CROSS JOIN (SELECT unnest(range(lo, hi + 1)) AS day FROM b) d),
        |dense AS (SELECT grid.event_type, coalesce(daily.x, 0) AS x
        |          FROM grid LEFT JOIN daily USING (event_type, day)),
        |st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
        |         CAST(sum(x) AS BIGINT) AS s,
        |         sum(CAST(x AS HUGEINT) * x) AS sxx
        |       FROM dense GROUP BY 1)
        |SELECT event_type, n_days, s AS total_events,
        |  CAST(1000 * s // n_days AS BIGINT) AS mean_milli,
        |  CAST(CASE WHEN s = 0 THEN 0 ELSE
        |    (1000 * (CAST(n_days AS HUGEINT) * sxx - CAST(s AS HUGEINT) * s))
        |    // (CAST(n_days AS HUGEINT) * s) END AS BIGINT) AS fano_milli
        |FROM st ORDER BY event_type""".stripMargin,
    // the stepwise integer product must be identical in both engines — the
    // oracle replays the exact fold sequence with a recursive CTE,
    "q171_km_retention" ->
      """WITH RECURSIVE e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        |ld AS (SELECT user_id, max(day) AS ldy FROM e GROUP BY 1),
        |ch AS (SELECT ldy AS day, CAST(count(*) AS BIGINT) AS d
        |       FROM ld, b WHERE ldy < hi GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM ld),
        |grid AS (SELECT unnest(range(lo, hi + 1)) AS day FROM b),
        |dense AS (SELECT g.day, coalesce(ch.d, 0) AS d FROM grid g LEFT JOIN ch USING (day)),
        |wn AS (SELECT day, d,
        |         nu - coalesce(sum(d) OVER (ORDER BY day
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
        |       FROM dense, tot),
        |rec AS (
        |  SELECT day, d, n,
        |    CAST(CASE WHEN n = 0 THEN 1000000
        |              ELSE (1000000 * (n - d)) // n END AS BIGINT) AS surv
        |  FROM wn WHERE day = (SELECT lo FROM b)
        |  UNION ALL
        |  SELECT w.day, w.d, w.n,
        |    CAST(CASE WHEN w.n = 0 THEN r.surv
        |              ELSE (r.surv * (w.n - w.d)) // w.n END AS BIGINT)
        |  FROM wn w JOIN rec r ON w.day = r.day + 1)
        |SELECT day, CAST(n AS BIGINT) AS n_at_risk, d AS n_churned,
        |       surv AS survival_ppm
        |FROM rec ORDER BY day""".stripMargin,
    "q176_cohort_ltv" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day, event_type,
        |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM events),
        |ch AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |cl AS (SELECT cohort_day, day - cohort_day AS age_days,
        |         CAST(count(*) AS BIGINT) AS n_purchases,
        |         CAST(sum(cents) AS BIGINT) AS rev_cents
        |       FROM e JOIN ch USING (user_id)
        |       WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT cohort_day, age_days, n_purchases, rev_cents,
        |  CAST(sum(rev_cents) OVER (PARTITION BY cohort_day ORDER BY age_days) AS BIGINT) AS cum_rev_cents
        |FROM cl ORDER BY cohort_day, age_days""".stripMargin,
    "q177_purchase_cadence" ->
      """WITH p AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us
        |           FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT (ts_us - prev) // 86400000000 AS gap_days FROM (
        |        SELECT ts_us, lag(ts_us) OVER (PARTITION BY user_id
        |                 ORDER BY ts_us, event_id) AS prev
        |        FROM p)
        |      WHERE prev IS NOT NULL),
        |u AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
        |        CAST(sum(CASE WHEN np >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat
        |      FROM (SELECT user_id, count(*) AS np FROM p GROUP BY 1)),
        |bg AS (SELECT gap_days, CAST(count(*) AS BIGINT) AS k FROM g GROUP BY 1),
        |tt AS (SELECT CAST(sum(k) AS BIGINT) AS n_gaps FROM bg),
        |cm AS (SELECT gap_days, CAST(sum(k) OVER (ORDER BY gap_days) AS BIGINT) AS cum FROM bg),
        |ct AS (SELECT min(CASE WHEN cum >= (n_gaps * 50 + 99) // 100 THEN gap_days END) AS median_gap_days,
        |              min(CASE WHEN cum >= (n_gaps * 90 + 99) // 100 THEN gap_days END) AS p90_gap_days
        |       FROM cm, tt)
        |SELECT n_users, n_repeat,
        |  CAST(n_repeat * 1000000 // n_users AS BIGINT) AS repeat_ppm,
        |  n_gaps, median_gap_days, p90_gap_days
        |FROM u, tt, ct""".stripMargin,
    "q179_rfm_segments" ->
      """WITH p AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
        |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT max(day) AS mxd FROM p),
        |u AS (SELECT user_id, CAST(min(mxd - day) AS BIGINT) AS recency,
        |        CAST(count(*) AS BIGINT) AS frequency,
        |        CAST(sum(cents) AS BIGINT) AS monetary
        |      FROM p, mx GROUP BY user_id),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nu FROM u),
        |qr AS (SELECT v AS recency, ((cum - 1) * 5) // nu AS recency_q FROM (
        |         SELECT recency AS v, CAST(sum(count(*)) OVER (ORDER BY recency) AS BIGINT) AS cum
        |         FROM u GROUP BY recency), n),
        |qf AS (SELECT v AS frequency, ((cum - 1) * 5) // nu AS frequency_q FROM (
        |         SELECT frequency AS v, CAST(sum(count(*)) OVER (ORDER BY frequency) AS BIGINT) AS cum
        |         FROM u GROUP BY frequency), n),
        |qm AS (SELECT v AS monetary, ((cum - 1) * 5) // nu AS monetary_q FROM (
        |         SELECT monetary AS v, CAST(sum(count(*)) OVER (ORDER BY monetary) AS BIGINT) AS cum
        |         FROM u GROUP BY monetary), n)
        |SELECT CAST(4 - recency_q AS BIGINT) AS r_score,
        |       CAST(frequency_q AS BIGINT) AS f_score,
        |       CAST(monetary_q AS BIGINT) AS m_score,
        |       CAST(count(*) AS BIGINT) AS n_users,
        |       CAST(sum(monetary) AS BIGINT) AS revenue_cents
        |FROM u JOIN qr USING (recency) JOIN qf USING (frequency) JOIN qm USING (monetary)
        |GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score""".stripMargin,
    "q181_journey_stationary" -> {
      // q101's unrolled-round pattern at damping 100: p_k = inflow only
      val rounds = (1 to 8).map { k =>
        s"""f$k AS (SELECT e.dst AS host, CAST(sum((p.r * e.w) // o2.ow) AS BIGINT) AS inflow
           |      FROM p${k - 1} p JOIN ed e ON p.host = e.src JOIN o2 ON o2.src = e.src GROUP BY 1),
           |p$k AS (SELECT h.host, CAST(coalesce(f.inflow, 0) AS BIGINT) AS r
           |      FROM h LEFT JOIN f$k f ON f.host = h.host)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events),
         |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
         |                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
         |      FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
         |s2 AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
         |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s),
         |tr AS (SELECT event_type AS src,
         |         lead(event_type) OVER (PARTITION BY user_id, session_seq
         |                                ORDER BY ts_us, event_id) AS dst
         |       FROM s2),
         |ed AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM tr
         |       WHERE dst IS NOT NULL GROUP BY 1, 2),
         |h AS (SELECT src AS host FROM ed UNION SELECT dst FROM ed),
         |b AS (SELECT CAST(1000000000 // count(*) AS BIGINT) AS base FROM h),
         |o2 AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM ed GROUP BY 1),
         |p0 AS (SELECT host, base AS r FROM h CROSS JOIN b),
         |$rounds,
         |ob AS (SELECT event_type AS host, CAST(count(*) AS BIGINT) AS n_events
         |       FROM events GROUP BY 1),
         |tt AS (SELECT CAST(sum(n_events) AS BIGINT) AS te FROM ob)
         |SELECT p8.host AS event_type, CAST(r // 1000 AS BIGINT) AS stationary_ppm,
         |  n_events,
         |  CAST(n_events * 1000000 // te AS BIGINT) AS observed_ppm,
         |  CAST(r // 1000 - n_events * 1000000 // te AS BIGINT) AS gap_ppm
         |FROM p8 JOIN ob USING (host) CROSS JOIN tt ORDER BY event_type""".stripMargin
    },
    "q185_freshness_lag" ->
      """WITH e AS (SELECT event_type, epoch_ns(ts) // 1000 AS ts_us,
        |             epoch_ns(ts) // 86400000000000 AS day FROM events),
        |per AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |          CAST(max(ts_us) AS BIGINT) AS last_ts_us,
        |          CAST(count(DISTINCT day) AS BIGINT) AS n_days_active
        |        FROM e GROUP BY 1),
        |h AS (SELECT CAST(max(ts_us) AS BIGINT) AS head_us FROM e)
        |SELECT event_type, n_events, n_days_active,
        |  CAST(head_us - last_ts_us AS BIGINT) AS lag_us,
        |  CAST(n_events // n_days_active AS BIGINT) AS events_per_active_day
        |FROM per CROSS JOIN h ORDER BY event_type""".stripMargin,
    "q184_ewma_anomaly" ->
      """WITH RECURSIVE d AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |                       CAST(count(*) AS BIGINT) AS n
        |                     FROM events GROUP BY 1, 2),
        |i AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx FROM d),
        |rec AS (
        |  SELECT event_type, day, n, idx,
        |    CAST(n * 1000000 AS BIGINT) AS e, CAST(n * 1000000 AS BIGINT) AS e_prev
        |  FROM i WHERE idx = 1
        |  UNION ALL
        |  SELECT i.event_type, i.day, i.n, i.idx,
        |    CAST(r.e + CASE WHEN i.n * 1000000 - r.e >= 0
        |                    THEN (i.n * 1000000 - r.e) // 8
        |                    ELSE -((r.e - i.n * 1000000) // 8) END AS BIGINT),
        |    r.e
        |  FROM i JOIN rec r ON i.event_type = r.event_type AND i.idx = r.idx + 1)
        |SELECT event_type, day, n, e_prev AS ewma_prev_micro,
        |  CAST(CASE WHEN abs(n * 1000000 - e_prev) * 2 > e_prev
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM rec ORDER BY event_type, day""".stripMargin,
    "q198_ab_test" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events),
        |f AS (SELECT user_id, min(ts_us) AS f FROM e GROUP BY 1),
        |b AS (SELECT (min(f) + max(f) + 1) // 2 AS mid FROM f),
        |cv AS (SELECT DISTINCT e.user_id FROM e JOIN f USING (user_id)
        |       WHERE event_type = 'purchase'
        |         AND ts_us >= f AND ts_us <= f + 604800000000),
        |coh AS (SELECT CASE WHEN f < mid THEN 1 ELSE 0 END AS early,
        |          CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(CASE WHEN cv.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS c
        |        FROM f CROSS JOIN b LEFT JOIN cv ON f.user_id = cv.user_id
        |        GROUP BY 1),
        |w AS (SELECT max(CASE WHEN early = 1 THEN n END) AS na,
        |        max(CASE WHEN early = 1 THEN c END) AS ca,
        |        max(CASE WHEN early = 0 THEN n END) AS nb,
        |        max(CASE WHEN early = 0 THEN c END) AS cb
        |      FROM coh),
        |z AS (SELECT na, ca, nb, cb,
        |        CAST(ca * 1000000 // na AS BIGINT) AS rate_a_ppm,
        |        CAST(cb * 1000000 // nb AS BIGINT) AS rate_b_ppm,
        |        (CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
        |          * (CAST(ca AS HUGEINT) * nb - CAST(cb AS HUGEINT) * na)
        |          // (CAST(na AS HUGEINT) * nb) AS A
        |      FROM w),
        |z2 AS (SELECT *,
        |         CAST(CASE WHEN ca + cb = 0 OR ca + cb = na + nb THEN 0
        |                   ELSE A * 1000 * (na + nb)
        |                        // (CAST(ca + cb AS HUGEINT) * (na + nb - ca - cb))
        |              END AS BIGINT) AS z2_milli
        |       FROM z)
        |SELECT CAST(na AS BIGINT) AS na, CAST(ca AS BIGINT) AS ca,
        |  CAST(nb AS BIGINT) AS nb, CAST(cb AS BIGINT) AS cb,
        |  rate_a_ppm, rate_b_ppm, z2_milli,
        |  CAST(CASE WHEN z2_milli > 3841 THEN 1 ELSE 0 END AS BIGINT) AS is_significant
        |FROM z2""".stripMargin,
    "q197_session_gap_curve" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |g AS (SELECT ts_us - lag(ts_us) OVER (PARTITION BY user_id
        |                                      ORDER BY ts_us, event_id) AS gap
        |      FROM e),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM e),
        |m AS (SELECT unnest([5, 15, 30, 60, 120]) AS gap_minutes),
        |b AS (SELECT gap_minutes,
        |        (SELECT CAST(count(*) AS BIGINT) FROM g
        |         WHERE gap > CAST(gap_minutes AS BIGINT) * 60000000) AS n_breaks
        |      FROM m)
        |SELECT CAST(gap_minutes AS BIGINT) AS gap_minutes,
        |  n_users + n_breaks AS n_sessions,
        |  CAST(n_events * 1000 // (n_users + n_breaks) AS BIGINT) AS events_per_session_milli
        |FROM b CROSS JOIN t ORDER BY gap_minutes""".stripMargin,
    "q195_journey_patterns" ->
      """WITH e0 AS (SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us, event_type FROM events),
        |s AS (SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                       OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS ns
        |      FROM e0 WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s2 AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s),
        |st AS (SELECT user_id, session_seq, min(ts_us) AS start_us,
        |         substr(string_agg(upper(substr(event_type, 1, 1)), ''
        |                           ORDER BY ts_us, event_id), 1, 512) AS walk
        |       FROM s2 GROUP BY 1, 2)
        |SELECT CAST(start_us // 86400000000 AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN regexp_matches(walk, 'S[^E]*P') THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_convert,
        |  CAST(sum(CASE WHEN regexp_matches(walk, 'S[^P]*E') THEN 1 ELSE 0 END) AS BIGINT) AS n_frustrated,
        |  CAST(sum(CASE WHEN regexp_matches(walk, 'S[^E]*P') THEN 1 ELSE 0 END) * 1000000
        |       // count(*) AS BIGINT) AS clean_convert_ppm
        |FROM st GROUP BY 1 ORDER BY day""".stripMargin,
    "q194_audience_overlap" ->
      """WITH l AS (SELECT event_type, user_id // 32 AS chunk,
        |             CAST(bit_or(1::BIGINT << CAST(user_id % 32 AS INT)) AS BIGINT) AS lanes
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, CAST(sum(bit_count(lanes)) AS BIGINT) AS n_users
        |      FROM l GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        CAST(sum(bit_count(a.lanes & b.lanes)) AS BIGINT) AS n_overlap
        |      FROM l a JOIN l b ON a.chunk = b.chunk AND a.event_type < b.event_type
        |      GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b, n_overlap,
        |  CAST(n_overlap * 1000000 // (sa.n_users + sb.n_users - n_overlap) AS BIGINT) AS jaccard_ppm
        |FROM p JOIN s sa ON type_a = sa.event_type JOIN s sb ON type_b = sb.event_type
        |ORDER BY type_a, type_b""".stripMargin,
    "q190_theil_sen" ->
      """WITH d AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |             CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 1000000 AS BIGINT)) AS BIGINT) AS y
        |           FROM events GROUP BY 1, 2),
        |p AS (SELECT a.event_type,
        |        CAST(b.y - a.y AS BIGINT) AS num, CAST(b.day - a.day AS BIGINT) AS den
        |      FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
        |r AS (SELECT event_type, num, den,
        |        row_number() OVER (PARTITION BY event_type
        |          ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rn
        |      FROM p),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
        |        (count(*) + 1) // 2 AS mi FROM p GROUP BY 1)
        |SELECT r.event_type AS event_type, n_pairs,
        |  CAST(CASE WHEN num >= 0 THEN (num * 1000000) // den
        |            ELSE -(((-num) * 1000000) // den) END AS BIGINT) AS theilsen_micro_per_day
        |FROM r JOIN m ON r.event_type = m.event_type AND r.rn = m.mi
        |ORDER BY r.event_type""".stripMargin,
    "q187_decile_migration" ->
      """WITH p AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
        |             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |m AS (SELECT min(day) + (max(day) - min(day) + 1) // 2 AS mid FROM p),
        |u AS (SELECT user_id,
        |        CAST(sum(CASE WHEN day < mid THEN cents ELSE 0 END) AS BIGINT) AS v1,
        |        CAST(sum(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS v2
        |      FROM p CROSS JOIN m GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM u),
        |q1 AS (SELECT v, CAST((c - 1) * 5 // n AS BIGINT) AS q FROM (
        |         SELECT v, sum(k) OVER (ORDER BY v) AS c FROM (
        |           SELECT v1 AS v, count(*) AS k FROM u GROUP BY 1)) CROSS JOIN n),
        |q2 AS (SELECT v, CAST((c - 1) * 5 // n AS BIGINT) AS q FROM (
        |         SELECT v, sum(k) OVER (ORDER BY v) AS c FROM (
        |           SELECT v2 AS v, count(*) AS k FROM u GROUP BY 1)) CROSS JOIN n)
        |SELECT q1.q AS first_half_q, q2.q AS second_half_q,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(u.v2 - u.v1) AS BIGINT) AS delta_cents
        |FROM u JOIN q1 ON u.v1 = q1.v JOIN q2 ON u.v2 = q2.v
        |GROUP BY 1, 2 ORDER BY first_half_q, second_half_q""".stripMargin)
}
