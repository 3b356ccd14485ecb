package graft.dq

import graft.model.ValidationResult
import graft.ops.Relational
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-quality / reconciliation operators — the §2B inventory. Each check
  * returns a [[ValidationResult]] (the reference appends PASS/FAIL rows to
  * *_TEST_LOG tables — `KafkaDemo.sh:133-143`); the DataFrame-shaped variants
  * also expose offending rows for inspection.
  *
  * Shape of each check: none round-trips data through the driver the way
  * the reference's CSV-diff flow does (`KafkaScript_ConformToStaging.sh:210-219`),
  * but they are not all one job:
  *  - [[countMatch]]: one aggregate over the union of both sides' row tags;
  *  - [[dataMatch]]: two `except` anti-joins plus a limit-1 probe — several
  *    jobs, both sides shuffled at full width twice;
  *  - [[duplicateCheck]]: a group-by-all aggregate plus a limit-1 probe;
  *  - [[nullCheck]]: a filter plus a limit-1 probe;
  *  - [[standardStageChecks]]: all four of the above as ONE grouped
  *    aggregate, each side scanned and shuffled once (see its doc);
  *  - the offset, profile and diff checks each state their scale shape.
  */
object Checks {

  /** Count reconciliation source vs target
    * (`KafkaScript_ConformToStaging.sh:222-246`). One action: both sides
    * project to literal (source, target) tags, no columns read, and one
    * aggregate sums them.
    */
  def countMatch(source: DataFrame, target: DataFrame, sourceName: String,
                 stage: String): ValidationResult = {
    val r = source.select(lit(1L).as("ns"), lit(0L).as("nt"))
      .union(target.select(lit(0L).as("ns"), lit(1L).as("nt")))
      .agg(coalesce(sum(col("ns")), lit(0L)), coalesce(sum(col("nt")), lit(0L))).head()
    countResult(r.getLong(0), r.getLong(1), sourceName, stage)
  }

  /** Exact data match via both-direction set difference — the MINUS-based
    * validation (`FACT_AUTOMATION.sh:181-236`); shell form is
    * `diff source.csv target.csv` (`KafkaScript_ConformToStaging.sh:216-219`).
    * `except` = Oracle MINUS set semantics. isEmpty is a limit-1 probe, so the
    * happy path stops as soon as any partition yields a diff row.
    */
  def dataMatch(source: DataFrame, target: DataFrame, sourceName: String,
                stage: String): ValidationResult = {
    val diff = Relational.symmetricDiff(source, target)
    dataResult(diff.limit(1).count(), sourceName, stage)
  }

  /** Data match by content hash — the scale path for the same validation:
    * instead of shuffling both tables' full width through `except` twice,
    * aggregate an order-insensitive 128-bit content digest per side
    * (count + sum and xor of per-row xxhash64) and compare the digests.
    * One narrow aggregate per side, zero joins; collision probability is
    * ~2⁻⁶⁴ per comparison. Semantics are bag (exceptAll-like), not set —
    * duplicated rows change the digest.
    */
  def dataMatchHashed(source: DataFrame, target: DataFrame, sourceName: String,
                      stage: String): ValidationResult = {
    def digest(df: DataFrame): (Long, String, String) = {
      val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
      // DECIMAL(38,0) accumulation: immune to ANSI long-overflow and exact
      // for any realistic row count (2⁶³ × 10¹⁰ rows ≪ 10³⁸).
      val dec = h.cast("decimal(38,0)")
      val row = df.agg(
        count(lit(1)).as("n"),
        coalesce(sum(dec), lit(0)).cast("string").as("hsum"),
        // Second independent fold: re-mix each row hash through xxhash64
        // before summing. (sum(h >> 1) would be linearly determined by
        // sum(h) up to the parity sum — not independent at all.)
        coalesce(sum(xxhash64(h).cast("decimal(38,0)")), lit(0))
          .cast("string").as("hmix")).head()
      (row.getLong(0), row.getString(1), row.getString(2))
    }
    val s = digest(source)
    val t = digest(target)
    ValidationResult.of(sourceName, stage, "data_match_hashed", "xxhash64_digest",
      s == t, s"source=$s target=$t")
  }

  /** Duplicate check: GROUP BY all columns HAVING count>1
    * (`FACT_AUTOMATION.sh:311-363`, shell `sort | uniq -d`
    * `KafkaScript_ConformToStaging.sh:250-279`).
    */
  def duplicateCheck(df: DataFrame, sourceName: String, stage: String): ValidationResult =
    duplicateResult(Relational.duplicateRows(df).limit(1).count(), sourceName, stage)

  /** Null check over NOT NULL columns, schema-driven the way the reference is
    * catalog-driven (`fact_dim_merging.sh:282-358`): columns default to the
    * non-nullable fields of the schema.
    */
  def nullCheck(df: DataFrame, sourceName: String, stage: String,
                columns: Seq[String] = Nil): ValidationResult = {
    val cols =
      if (columns.nonEmpty) columns
      else nullCheckColumns(df.schema).map(df.columns(_))
    nullResult(Relational.nullAudit(df, cols).limit(1).count(), cols, sourceName, stage)
  }

  /** Positions of the columns [[nullCheck]] checks by default: the
    * non-nullable fields, or every column when none is non-nullable.
    */
  private def nullCheckColumns(schema: StructType): Seq[Int] = {
    val nn = schema.fields.indices.filter(i => !schema(i).nullable)
    if (nn.nonEmpty) nn else schema.fields.indices
  }

  // The four standard audit rows, shared by the single checks and the
  // fused [[standardStageChecks]] so their strings cannot drift apart.
  private def countResult(s: Long, t: Long, sourceName: String, stage: String) =
    ValidationResult.of(sourceName, stage, "count_match", "count_reconciliation",
      s == t, s"source=$s target=$t")

  private def dataResult(mismatch: Long, sourceName: String, stage: String) =
    ValidationResult.of(sourceName, stage, "data_match", "minus_both_directions",
      mismatch == 0, if (mismatch == 0) "exact match" else "symmetric difference non-empty")

  private def duplicateResult(dups: Long, sourceName: String, stage: String) =
    ValidationResult.of(sourceName, stage, "duplicate_check", "group_by_all_having",
      dups == 0, if (dups == 0) "no duplicates" else "duplicate rows present")

  private def nullResult(offenders: Long, cols: Seq[String], sourceName: String, stage: String) =
    ValidationResult.of(sourceName, stage, "null_check", "is_null_disjunction",
      offenders == 0, s"columns=${cols.mkString(",")}")

  /** Offset continuity: previous run's max(until_offset) must equal the
    * current run's max(from_offset) per topic/partition
    * (`KafkaDemo.sh:184-200`, `Kafka_ArrivalToConform.sh:209-237`).
    * Implemented as a lag window over the offset ledger so ALL seams are
    * checked in one pass, not just the latest pair. Returns rows that break
    * continuity (empty = pass).
    */
  def offsetGaps(ledger: DataFrame, topicCol: Column, partitionCol: Column,
                 runIdCol: Column, fromCol: Column, untilCol: Column): DataFrame = {
    val w = Window.partitionBy(topicCol, partitionCol).orderBy(runIdCol)
    ledger
      .withColumn("prev_until", lag(untilCol, 1).over(w))
      .filter(col("prev_until").isNotNull && col("prev_until") =!= fromCol)
  }

  def offsetContinuity(ledger: DataFrame, sourceName: String): ValidationResult = {
    val gaps = offsetGaps(ledger, col("topicName"), col("partition"),
      col("jobRunId"), col("fromOffset"), col("untilOffset")).limit(1).count()
    ValidationResult.of(sourceName, "ARRIVAL", "offset_continuity", "lag_over_ledger",
      gaps == 0, if (gaps == 0) "continuous" else "offset seam mismatch")
  }

  /** [[offsetContinuity]] with KNOWN data-loss seams: a ledger gap whose
    * [prev_until, from) window is covered by a recorded loss
    * (`seams`: topicName/partition/lostFrom/lostUntil — e.g.
    * [[graft.sources.KafkaStubBroker.seamsDf]], or the real connector's
    * WARN-log windows) is an EXPLAINED seam — the broker trimmed the data,
    * the read continued by explicit `failOnDataLoss=false` policy, and the
    * audit must record that rather than fail as if the pipeline dropped
    * records. Gaps with no covering seam still FAIL. The check stays PASSED
    * when every gap is explained, but the comment carries the explained
    * count so the loss is never silent in the audit trail.
    *
    * Only BROKER-SIDE losses can explain a gap: when `seams` carries a
    * `kind` column, the caller-side kinds
    * ([[graft.model.SeamKinds.callerSideKinds]]:
    * `end_beyond_latest` — an `until` past the high-water mark — and
    * `start_beyond_end` — a start past the current end, which is either a
    * caller bug or a recreated topic and is classified conservatively as
    * the former) are excluded before the join, so a mis-specified window
    * can never launder a genuine pipeline gap into a PASS.
    *
    * Surviving seams are COALESCED per (topic, partition) — overlapping or
    * back-to-back loss windows (e.g. two clamped fetches between the same
    * pair of ledger runs, each recording part of one retention trim) merge
    * into one interval — so a gap jointly covered by several recorded
    * losses is still explained; without the merge, coverage demanded a
    * single seam spanning the whole gap, a conservative false FAIL.
    *
    * Scale shape: seams are rare events (one per retention incident), so
    * the coalescing window and the broadcast against the windowed ledger
    * both run over kilobytes; the ledger is windowed ONCE — covered count
    * from one semi join, unexplained as total − covered (a gap matched by
    * several merged seams still counts once).
    */
  def offsetContinuityWithSeams(ledger: DataFrame, seams: DataFrame,
                                sourceName: String): ValidationResult = {
    val gaps = offsetGaps(ledger, col("topicName"), col("partition"),
      col("jobRunId"), col("fromOffset"), col("untilOffset"))
      .select(col("topicName"), col("partition"),
        col("prev_until").as("gap_from"), col("fromOffset").as("gap_until"))
    val callerSide = graft.model.SeamKinds.callerSideKinds
    val brokerSide =
      if (seams.columns.contains("kind"))
        seams.filter(!col("kind").isin(callerSide.toSeq: _*))
      else seams
    // Interval-coalesce per (topic, partition): a seam whose lostFrom is
    // ≤ the running max lostUntil of its predecessors continues the
    // current merged interval; a strictly-greater lostFrom starts a new one.
    val sw = Window.partitionBy(col("s_topic"), col("s_partition"))
      .orderBy(col("lostFrom"))
    val merged = brokerSide
      .select(col("topicName").as("s_topic"), col("partition").as("s_partition"),
        col("lostFrom"), col("lostUntil"))
      .withColumn("prev_max_until",
        max(col("lostUntil")).over(sw.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("starts_new",
        when(col("prev_max_until").isNull ||
          col("lostFrom") > col("prev_max_until"), 1).otherwise(0))
      .withColumn("ivl",
        sum(col("starts_new")).over(sw.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("s_topic"), col("s_partition"), col("ivl"))
      .agg(min(col("lostFrom")).as("lostFrom"),
        max(col("lostUntil")).as("lostUntil"))
    val s = broadcast(merged.select(col("s_topic"),
      col("s_partition"), col("lostFrom"), col("lostUntil")))
    val cond = col("topicName") === col("s_topic") &&
      col("partition") === col("s_partition") &&
      col("lostFrom") <= col("gap_from") && col("lostUntil") >= col("gap_until")
    val total = gaps.count()
    val explained = gaps.join(s, cond, "left_semi").count()
    val unexplained = total - explained
    ValidationResult.of(sourceName, "ARRIVAL", "offset_continuity",
      "lag_over_ledger_with_seams", unexplained == 0,
      if (explained == 0 && unexplained == 0) "continuous"
      else if (unexplained == 0)
        s"$explained seam(s) explained by recorded data loss (failOnDataLoss=false policy)"
      else s"$unexplained UNEXPLAINED offset seam(s), $explained explained")
  }

  /** Expected record volume from the ledger: sum(until - from)
    * (`KafkaDemo.sh:202-214`) vs the actual materialized count.
    *
    * CONTIGUOUS-OFFSET CONTRACT: this arithmetic assumes every offset in
    * [from, until) was a delivered record. On a transactional topic read
    * with `read_committed` (or a compacted topic) offsets are
    * non-contiguous — commit/abort control batches and compacted-away
    * records occupy offsets but deliver nothing — so this check would
    * report FALSE data loss. Use [[offsetCountMatchWithControl]] there.
    */
  def offsetCountMatch(ledger: DataFrame, actual: Long, sourceName: String): ValidationResult = {
    val expected = ledger
      .agg(coalesce(sum(col("untilOffset") - col("fromOffset")), lit(0L)))
      .head().getLong(0)
    ValidationResult.of(sourceName, "ARRIVAL", "offset_count", "sum_until_minus_from",
      expected == actual, s"expected=$expected actual=$actual")
  }

  /** [[offsetCountMatch]] for TRANSACTIONAL/COMPACTED topics: the expected
    * count is the ledger's offset deltas MINUS the non-record offsets
    * (txn control batches, compacted-away records) that fall inside some
    * ledger window — `controlOffsets` rows
    * (topicName/partition/offset, e.g.
    * [[graft.sources.KafkaStubBroker.controlOffsetsDf]]) outside every
    * window are ignored, since no read ever covered them.
    *
    * Scale shape: the ledger is small (one row per batch × partition), so
    * it broadcasts; control offsets can be numerous (one marker per
    * transaction) and stay distributed — the semi join never shuffles
    * them, and only a count crosses to the driver.
    */
  def offsetCountMatchWithControl(ledger: DataFrame, controlOffsets: DataFrame,
                                  actual: Long, sourceName: String): ValidationResult = {
    val raw = ledger
      .agg(coalesce(sum(col("untilOffset") - col("fromOffset")), lit(0L)))
      .head().getLong(0)
    val l = broadcast(ledger.select(col("topicName").as("l_topic"),
      col("partition").as("l_partition"),
      col("fromOffset").as("l_from"), col("untilOffset").as("l_until")))
    val covered = controlOffsets.join(l,
      col("topicName") === col("l_topic") &&
        col("partition") === col("l_partition") &&
        col("offset") >= col("l_from") && col("offset") < col("l_until"),
      "left_semi").count()
    val expected = raw - covered
    ValidationResult.of(sourceName, "ARRIVAL", "offset_count",
      "sum_until_minus_from_minus_control", expected == actual,
      s"expected=$expected (raw=$raw control=$covered) actual=$actual")
  }

  /** Batch-duration expectation as an audit row — the reference's
    * BATCH_DURATION PASS/FAIL log (`KafkaDemo.sh:131-144`,
    * `Insights_Kafka_ArrivalTo3NF.sh:135-186`): every recorded micro-batch
    * must finish within `maxMs`. `durations` is (batchId, wall ms), as
    * captured by [[graft.streaming.OffsetLedgerListener.batchDurations]].
    */
  def batchDurationCheck(durations: Seq[(Long, Long)], maxMs: Long,
                         sourceName: String): ValidationResult = {
    val over = durations.count(_._2 > maxMs)
    val worst = if (durations.isEmpty) 0L else durations.map(_._2).max
    ValidationResult.of(sourceName, "ARRIVAL", "batch_duration", "progress_listener",
      over == 0,
      s"batches=${durations.size} over_budget=$over worst_ms=$worst max_ms=$maxMs")
  }

  /** Group-wise z-score outliers over a fixed-point rescale of `valueCol`:
    * values are rounded to `scale` units (cents by default), per-group
    * mean/stddev derived from EXACT integer sums, and rows with
    * |z| > `threshold` returned with their score. The integer-sum detour is
    * what makes the result deterministic and engine-portable — double sums
    * are partition-order-dependent, exact BIGINT/DECIMAL sums are not, and
    * every later double op (divide, sqrt) is IEEE-deterministic given
    * identical inputs.
    *
    * Scale shape: the stats aggregate is a map-side-combined groupBy on the
    * (low-cardinality) group key; the tiny stats table broadcasts back onto
    * the fact scan, so the detector is one shuffle of partial aggregates +
    * one broadcast join. Integer sums hold to ~9e18: at 100 TB per-group
    * row counts push sum(vc²) past BIGINT — swap the two sums to
    * DECIMAL(38,0) there (same plan shape, still exact).
    */
  def zscoreOutliers(df: DataFrame, groupCol: Column, valueCol: Column,
                     threshold: Double, scale: Int = 100): DataFrame = {
    val vc = round(valueCol * scale).cast("long")
    val scored = df.withColumn("__vc", vc)
    val stats = scored.groupBy(groupCol.as("__grp"))
      .agg(count(lit(1)).as("__n"), sum(col("__vc")).as("__s"),
        sum(col("__vc") * col("__vc")).as("__ss"))
    val n = col("__n"); val s = col("__s").cast("double")
    val mean = s / n
    val sd = sqrt((col("__ss").cast("double") - s * s / n) / n)
    // Zero-variance guard: a constant group (or n=1) has sd=0, and
    // 0/0 = NaN, which both Spark and DuckDB order ABOVE every number —
    // so |z| > threshold would flag the entire group. Such groups have
    // no outliers by definition; pin their z to 0.
    scored.join(broadcast(stats), groupCol === col("__grp"))
      .withColumn("z",
        when(sd > 0, (col("__vc").cast("double") - mean) / sd).otherwise(lit(0.0)))
      .filter(abs(col("z")) > threshold)
      .drop("__vc", "__grp", "__n", "__s", "__ss")
  }

  /** Snapshot release diff: per `rollup` group, how many records were
    * added, removed, changed (same id, different content fingerprint) or
    * unchanged between two corpus snapshots — the delta table of a
    * dataset release note, and the generalization of [[dataMatch]] from
    * a boolean verdict to an attributable report.
    *
    * Scale shape: one full-outer join keyed by the high-cardinality id,
    * carrying only (id, group, fingerprint) — text never shuffles (pass a
    * fingerprint EXPRESSION, e.g. `Text.fingerprint`, evaluated
    * scan-locally on each side); the rollup groupBy is low-cardinality
    * with map-side partials.
    */
  def releaseDiff(prev: DataFrame, cur: DataFrame, id: Column, fp: Column,
                  rollup: Column): DataFrame = {
    val p = prev.select(id.as("id"), rollup.as("__gp"), fp.as("fp_prev"))
    val c = cur.select(id.as("id"), rollup.as("__gc"), fp.as("fp_cur"))
    val status =
      when(col("fp_prev").isNull, "added")
        .when(col("fp_cur").isNull, "removed")
        .when(col("fp_prev") === col("fp_cur"), "unchanged")
        .otherwise("changed")
    p.join(c, Seq("id"), "full_outer")
      .select(coalesce(col("__gp"), col("__gc")).as("grp"), status.as("st"))
      .groupBy(col("grp"))
      .agg(count(when(col("st") === "added", 1)).as("n_added"),
        count(when(col("st") === "removed", 1)).as("n_removed"),
        count(when(col("st") === "changed", 1)).as("n_changed"),
        count(when(col("st") === "unchanged", 1)).as("n_unchanged"))
  }

  /** Join-key profile for one FK edge — the statistics a join planner (or
    * the engineer deciding between broadcast, shuffle, bucketing, and
    * salting) needs BEFORE running the join: fact-side row/key counts, the
    * hottest key's frequency and its multiple of the mean (skew_ppm, the
    * q49/q62-salting trigger), referential orphans (fact rows whose key has
    * no dim row — an outer join would null-fan these), and unmatched dim
    * keys (dead dimension fraction — a semi-join prune opportunity).
    *
    * Scale shape: ONE two-phase groupBy(key).count over the fact (map-side
    * partials; only the 8-byte key shuffles) feeds every statistic; the
    * orphan / unmatched checks are anti-joins between that per-key count
    * table and the dim's key projection — never the fact table itself — so
    * the heavy side of each anti-join is already aggregated to distinct
    * keys. The three single-row aggregates combine with in-plan cross
    * joins (broadcast scalars, no driver collect).
    */
  def fkProfile(fact: DataFrame, key: Column, dim: DataFrame, dimKey: Column,
                edge: String): DataFrame = {
    // SINGLE-CONSUMER SHAPE (r19): stats, orphan_rows and
    // unmatched_dim_keys all derive from ONE full-outer join of the
    // per-key counts against the per-dim-key counts, so the expensive
    // perKey subtree (a full fact scan + aggregate) executes exactly once
    // BY CONSTRUCTION. The previous shape fed perKey to three consumers
    // and relied on runtime ReusedExchange to dedupe the work — which
    // silently broke when the fact arrived BUCKETED on the key
    // (sources/Bucketing routing): the aggregate needs no exchange there,
    // so there was no exchange to reuse and the 600M-row scan+aggregate
    // ran three times (q149 sf100 routed: 162 s vs 91 s raw, measured
    // r19). Single-consumer, the routed leg reads the fact in place once.
    val perKey = fact.select(key.as("k")).filter(col("k").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("c"))
    // dim side pre-aggregated to (dk, dn) so duplicate dim keys can never
    // fan out perKey rows in the join (unmatched_dim_keys counts dim ROWS,
    // as before — a NULL dim key groups on its own, never equi-joins, and
    // so stays counted as unmatched, matching the old anti-join exactly)
    val dimKeys = dim.select(dimKey.as("dk"))
      .groupBy(col("dk")).agg(count(lit(1)).as("dn"))
    // Degenerate edge (empty fact / all-NULL keys): coalesce the NULL
    // sum/max to 0 so the audit row keeps its all-integer contract.
    perKey
      .join(dimKeys, col("k") === col("dk"), "full_outer")
      .agg(
        coalesce(sum(col("c")), lit(0L)).as("n_rows"),
        count(col("k")).as("n_keys"),
        coalesce(max(col("c")), lit(0L)).as("max_freq"),
        coalesce(sum(when(col("dk").isNull, col("c"))), lit(0L)).as("orphan_rows"),
        coalesce(sum(when(col("k").isNull, col("dn"))), lit(0L)).as("unmatched_dim_keys"))
      .select(lit(edge).as("edge"), col("n_rows"), col("n_keys"), col("max_freq"),
        expr("CASE WHEN n_keys = 0 THEN 0L ELSE " +
          "(max_freq * 1000000L) DIV greatest(n_rows DIV n_keys, 1L) END")
          .as("skew_ppm"),
        col("orphan_rows"), col("unmatched_dim_keys"))
  }

  /** Run all four standard per-stage checks (SURVEY §5.2) as ONE query and
    * return the audit rows ready for an append-mode write: the same four
    * rows, strings included, that [[countMatch]], [[dataMatch]],
    * [[duplicateCheck]] and [[nullCheck]] (on `target`) return one by one.
    *
    * Every row carries its side's weights — source (1, 0), target (0, 1) —
    * and the two sides are unioned by position, which widens types by the
    * same rules as `except`. One group-by over every column sums the
    * weights into (ns, nt) per distinct row, and one global aggregate
    * folds the groups into five numbers:
    *  - Σns and Σnt, the row counts (count_match);
    *  - the groups with (ns > 0) != (nt > 0): exactly the two-way `except`,
    *    with its set semantics and its null-safe, NaN- and −0.0-normalized
    *    equality (data_match);
    *  - the groups with nt > 1: a target row present more than once, bag
    *    semantics (duplicate_check);
    *  - the groups with nt > 0 and a null in the null-check columns, the
    *    target's non-nullable fields or all its columns when none is
    *    non-nullable (null_check).
    *
    * Internal names are positional, so duplicate or `__`-prefixed column
    * names cannot collide. When widening changes a target column's type
    * (a long target against a double source maps distinct longs to one
    * double), the duplicate and null checks must still see the target's
    * own values: the original column rides along as an extra group key,
    * null on source rows, and a second group-by on the widened columns
    * folds those finer groups back before the global fold. Each side is
    * scanned once and shuffled once.
    */
  def standardStageChecks(spark: SparkSession, source: DataFrame, target: DataFrame,
                          sourceName: String, stage: String): Dataset[ValidationResult] = {
    import spark.implicits._
    def positional(df: DataFrame): DataFrame = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val (src, tgt) = (positional(source), positional(target))
    val keys = tgt.columns.toSeq.map(col)
    // The union's column types (analysis only, no job); a mismatched
    // column count throws here, as `except` does.
    val widened = src.union(tgt).schema
    val retyped = target.schema.fields.indices
      .filter(i => widened(i).dataType != target.schema(i).dataType)
    val origs = retyped.map(i => s"o$i")
    val tagged = src.select(keys ++ retyped.map(i =>
        lit(null).cast(target.schema(i).dataType).as(s"o$i")) :+
        lit(1L).as("ns") :+ lit(0L).as("nt"): _*)
      .union(tgt.select(keys ++ retyped.map(i => col(s"c$i").as(s"o$i")) :+
        lit(0L).as("ns") :+ lit(1L).as("nt"): _*))
    val nullCols = nullCheckColumns(target.schema)
    val anyNull = nullCols
      .map(i => col(if (retyped.contains(i)) s"o$i" else s"c$i").isNull).reduce(_ || _)
    val groups = tagged.groupBy(keys ++ origs.map(col): _*)
      .agg(sum(col("ns")).as("ns"), sum(col("nt")).as("nt"))
      .select(keys ++ Seq(col("ns"), col("nt"), (col("nt") > 1).as("dup"),
        (col("nt") > 0 && anyNull).as("nul")): _*)
    val perRow =
      if (origs.isEmpty) groups
      else groups.groupBy(keys: _*).agg(sum(col("ns")).as("ns"), sum(col("nt")).as("nt"),
        max(col("dup")).as("dup"), max(col("nul")).as("nul"))
    val r = perRow.agg(
      coalesce(sum(col("ns")), lit(0L)), coalesce(sum(col("nt")), lit(0L)),
      count_if((col("ns") > 0) =!= (col("nt") > 0)), count_if(col("dup")),
      count_if(col("nul"))).head()
    Seq(
      countResult(r.getLong(0), r.getLong(1), sourceName, stage),
      dataResult(r.getLong(2), sourceName, stage),
      duplicateResult(r.getLong(3), sourceName, stage),
      nullResult(r.getLong(4), nullCols.map(target.columns(_)), sourceName, stage)
    ).toDS()
  }
}
