package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operator builders — the §2A inventory of SURVEY.md, re-expressed
  * as composable DataFrame transformations. Everything here is declarative so
  * Catalyst can push filters/prune columns/reorder joins; no operator
  * collects to the driver.
  */
object Relational {

  /** Incremental watermark filter: rows whose run/watermark column lies in
    * [lo, hi]. Reference: `query.txt:2`
    * (`where update_job_run_id>=$MIN_RUN_ID_CURRENT and ...<=$MAX...`).
    * The predicate is a plain range → parquet min/max pushdown + partition
    * pruning when the table is partitioned by the run column, which is the
    * at-scale design: incremental loads touch only the new partitions.
    */
  def incrementalFilter(df: DataFrame, col: Column, lo: Column, hi: Column): DataFrame =
    df.filter(col.between(lo, hi))

  /** Latest-run-per-key: ROW_NUMBER() OVER (PARTITION BY key ORDER BY ord) = 1.
    * The most-repeated query in the reference (`KafkaDemo.sh:64-71`,
    * `Kafka_ArrivalToConform.sh:101-108`, 5 more sites). Callers MUST pass a
    * total order (include a unique tiebreak column) or the result is
    * nondeterministic. One shuffle on the partition keys; at scale this is a
    * single hash exchange + in-partition sort — no further optimization
    * needed unless keys are skewed (then pre-aggregate with max_by).
    */
  def rankLatest(df: DataFrame, partitionCols: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") === 1)
      .drop("rank")
  }

  /** Exact per-group top-k WITHOUT a group-only rank window: when the group
    * column is low-cardinality (languages, sources, event types), a
    * `row_number over (partition by group)` funnels the whole corpus into
    * a handful of reducers. Instead, phase 1 ranks within (group, hash
    * shard) — `shards`× the parallelism — and keeps k per shard; phase 2
    * re-ranks the ≤ shards×k survivors per group. The global top-k of a
    * group is always contained in the union of its per-shard top-ks, so
    * the rewrite is exact for ANY order columns. Callers must make
    * `order` a total order (unique tiebreak) for determinism; `tiebreak`
    * also seeds the shard hash so the sharding is stable across runs.
    */
  def groupTopK(df: DataFrame, groupCols: Seq[Column], order: Seq[Column],
                tiebreak: Column, k: Int, shards: Int = 64): DataFrame = {
    val shard = pmod(xxhash64(tiebreak), lit(shards.toLong))
    val survivors = df.withColumn("__shard", shard)
      .withColumn("__r1", row_number().over(
        Window.partitionBy(groupCols :+ col("__shard"): _*).orderBy(order: _*)))
      .filter(col("__r1") <= k)
      .drop("__shard", "__r1")
    survivors.withColumn("rank", row_number().over(
        Window.partitionBy(groupCols: _*).orderBy(order: _*)))
      .filter(col("rank") <= k)
  }

  /** Per-key top-k through the NATIVE physical operator
    * ([[graft.plans.TopKPlan]]) that every profile session carries via
    * [[graft.GraftExtensions]]: the rows of `row_number() <= k` per key
    * under `order`, which MUST be total (include a tiebreak column).
    *
    * The native plan replaces "shuffle every row, sort every partition"
    * with per-key bounded heaps: the exchange moves at most
    * mapPartitions × keys × k survivors.
    */
  def nativeTopK(df: DataFrame, keys: Seq[String],
                 order: Seq[(String, Boolean)], k: Int): DataFrame = {
    // Spark DROPS a hint nothing resolves, which would silently return
    // EVERY row instead of k: on empty keys/order (a global top-k is
    // TakeOrdered / orderBy.limit) and on a session without the extension.
    require(keys.nonEmpty && order.nonEmpty,
      "nativeTopK needs non-empty keys and order (global top-k = orderBy.limit)")
    val (setting, extensions) = graft.SessionProfile.extensions
    require(df.sparkSession.sessionState.planner.strategies
        .exists(_.isInstanceOf[graft.plans.TopKPlan.Strategy]),
      s"nativeTopK needs a session built with $setting=$extensions")
    val params: Seq[Any] = k +: (keys.map("key:" + _) ++
      order.map { case (c, asc) => (if (asc) "asc:" else "desc:") + c })
    df.hint("graft_topk", params: _*)
  }

  /** Watermark computation: NVL(MAX(runId),0) / NVL(MIN(runId),0) over the
    * control table filtered to new successful runs
    * (`Fact_Dagg_automation.sh:71-75`, `KafkaScript_ConformToStaging.sh:76-121`).
    * Returns a 1-row DataFrame (min_run_id, max_run_id); (0,0) = skip.
    */
  def watermarkBounds(control: DataFrame, runIdCol: Column, newerThan: Column,
                      statusPred: Column): DataFrame =
    control
      .filter(statusPred && runIdCol > newerThan)
      .agg(
        coalesce(min(runIdCol), lit(0L)).as("min_run_id"),
        coalesce(max(runIdCol), lit(0L)).as("max_run_id"))

  /** Duplicate finder: GROUP BY <all columns> HAVING COUNT(*) > 1
    * (`FACT_AUTOMATION.sh:334-342` — column list generated from the catalog;
    * here from `df.schema`, same metadata-programmed idea). At 100 TB this is
    * one hash aggregate with map-side partial aggregation; grouping by a
    * precomputed xxhash64 of all columns first would cut shuffle width, at
    * the cost of hash-collision false positives — kept exact here.
    */
  def duplicateRows(df: DataFrame): DataFrame =
    df.groupBy(df.columns.toIndexedSeq.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Ordered string aggregation — LISTAGG(x,',') WITHIN GROUP (ORDER BY x)
    * (`Fact_Dagg_automation.sh:73`). collect_list is safe only when per-group
    * cardinality is bounded (it is for control-table groups); sort_array gives
    * Oracle's deterministic WITHIN GROUP ordering.
    */
  def listAgg(df: DataFrame, groupCols: Seq[Column], valueCol: Column): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(concat_ws(",", sort_array(collect_list(valueCol))).as("list_agg"))

  /** LISTAGG ordered by a *different* column than the value (Oracle's
    * `WITHIN GROUP (ORDER BY o)` general form): collect (order, value)
    * structs, sort by the struct (order key leads), project values.
    */
  def listAggBy(df: DataFrame, groupCols: Seq[Column], valueCol: Column,
                orderCol: Column): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(concat_ws(",",
        transform(array_sort(collect_list(struct(orderCol.as("o"), valueCol.as("v")))),
          x => x.getField("v"))).as("list_agg"))

  /** Symmetric difference both directions — the MINUS-based data validation
    * (`FACT_AUTOMATION.sh:182-193, :221-231`): Oracle MINUS is set semantics
    * → `except` (distinct), not `exceptAll`. Tag each direction so one pass
    * reports which side is missing rows.
    */
  def symmetricDiff(a: DataFrame, b: DataFrame): DataFrame = {
    val aMinusB = a.except(b).withColumn("diff_side", lit("source_only"))
    val bMinusA = b.except(a).withColumn("diff_side", lit("target_only"))
    aMinusB.union(bMinusA)
  }

  /** Null-audit filter: `c1 IS NULL OR c2 IS NULL OR ...` over the given
    * columns (all columns when empty), generated from the schema the way the
    * reference generates it from `all_tab_columns where nullable='N'`
    * (`fact_dim_merging.sh:282-358`, `query.txt:2` third segment).
    */
  def nullAudit(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.columns.toSeq
    val pred = cols.map(c => col(c).isNull).reduce(_ || _)
    df.filter(pred)
  }

  /** CASE-unpivot: the reference's name/value-pair → wide-column pattern
    * (`query.txt:1` SMS/MMS/DATA/VOICE allowance columns). One row per key
    * with `max(when(nameCol === name, valueCol))` per requested name —
    * conditional aggregation avoids the join fan-out the naive multi-join
    * form would produce, and runs as a single hash aggregate.
    */
  def caseUnpivot(df: DataFrame, keyCols: Seq[Column], nameCol: Column,
                  valueCol: Column, names: Seq[String]): DataFrame = {
    val aggs = names.map(n =>
      max(when(nameCol === lit(n), valueCol)).as(n.toLowerCase.replaceAll("\\W+", "_")))
    df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Range-sharded cumulative sum over a distinct-value summary: exact
    * running totals of each `weights` column in `v`-order (ascending or
    * descending, inclusive of the current row) WITHOUT ever sorting the
    * summary on a single reducer. `byVal` must hold one row per distinct
    * `v` (the caller's `groupBy(v)` output) — at scale that summary can
    * still be ~cardinality-of-the-keyspace (distinct revenues ≈
    * #customers), so a bare `sum(...).over(Window.orderBy(v))` is the
    * one-reducer global sort this repo bans.
    *
    * Shape (the q156 curriculum discipline, generalized): the value range
    * [min, max] splits into `slices` equal-width slices via integer
    * DIV — a monotone map, so slice order ≡ value order. Per-slice
    * partials aggregate map-side, the ≤ slices+1-row slice summary takes
    * the only unpartitioned window (bounded by construction), and the
    * within-slice cumulative runs under `Window.partitionBy(__slice)` —
    * every reducer sorts ~n/slices rows instead of n. Exact integer math
    * throughout; results are bit-identical to the naive global window.
    *
    * Output: the input columns plus one `cum_<w>` column per weight.
    * Weights and `v` must be integral (LongType) and `v - min(v)` must
    * not overflow Long (any real business domain qualifies).
    */
  def shardedCumSum(byVal: DataFrame, v: String, weights: Seq[String],
                    ascending: Boolean, slices: Int = 256): DataFrame =
    shardedCumAgg(byVal, v, weights, ascending, slices, op = "sum")

  /** [[shardedCumSum]]'s running-MAX twin under the same slicing — the
    * prefix-extremum behind skyline/frontier operators (is this row's
    * weight above every earlier value's?). Same exactness and shape:
    * `cum_<w>` = max of w over all rows at-or-before this `v` in the
    * chosen direction. NULL-free inputs assumed (the summaries here are
    * aggregate outputs).
    */
  def shardedCumMax(byVal: DataFrame, v: String, weights: Seq[String],
                    ascending: Boolean, slices: Int = 256): DataFrame =
    shardedCumAgg(byVal, v, weights, ascending, slices, op = "max")

  private def shardedCumAgg(byVal: DataFrame, v: String, weights: Seq[String],
                            ascending: Boolean, slices: Int,
                            op: String): DataFrame = {
    val partialOf: Column => Column = if (op == "max") max(_) else sum(_)
    val combine: (Column, Column) => Column =
      if (op == "max") (a, b) => greatest(a, b) else (a, b) => a + b
    val bounds = byVal.agg(min(col(v)).as("__mn"), max(col(v)).as("__mx"))
    // width >= 1 always; slice index is 0..slices even when mx == mn
    val sliced = byVal.crossJoin(broadcast(bounds))
      .withColumn("__slice",
        expr(s"($v - __mn) DIV (((__mx - __mn) DIV $slices) + 1)"))
      .drop("__mn", "__mx")
    val sliceOrd = if (ascending) col("__slice").asc else col("__slice").desc
    val valOrd = if (ascending) col(v).asc else col(v).desc
    val partials = weights.map(w => partialOf(col(w)).as(s"__s_$w"))
    val perSlice = sliced.groupBy(col("__slice"))
      .agg(partials.head, partials.tail: _*)
    // strict-prefix per slice: the lag-1 running aggregate over the
    // ≤slices+1-row summary (NULL on the first slice = neutral element,
    // handled at combine time for max via coalesce-with-self)
    val prefix = weights.foldLeft(perSlice) { (d, w) =>
      val through = partialOf(col(s"__s_$w")).over(Window.orderBy(sliceOrd))
      val before = if (op == "max")
        partialOf(col(s"__s_$w")).over(
          Window.orderBy(sliceOrd).rowsBetween(Window.unboundedPreceding, -1))
      else through - col(s"__s_$w")
      d.withColumn(s"__b_$w", before)
    }.select(col("__slice") +: weights.map(w => col(s"__b_$w")): _*)
    val win = Window.partitionBy(col("__slice")).orderBy(valOrd)
    weights.foldLeft(sliced.join(broadcast(prefix), "__slice")) { (d, w) =>
      val within = partialOf(col(w)).over(win)
      val c = if (op == "max") combine(coalesce(col(s"__b_$w"), within), within)
        else combine(col(s"__b_$w"), within)
      d.withColumn(s"cum_$w", c)
    }.drop("__slice" +: weights.map(w => s"__b_$w"): _*)
  }

  /** LIKE-disjunction from a comma list — the reference rewrites
    * `a,b,c` into `OBJECT_NAME LIKE '%a%' OR OBJECT_NAME LIKE '%b%' ...`
    * (`FACT_AUTOMATION.sh:75-79`); here composed as Columns, no string
    * rewriting.
    */
  def likeAny(c: Column, patterns: Seq[String]): Column =
    patterns.map(p => c.like(s"%$p%")).reduce(_ || _)
}
