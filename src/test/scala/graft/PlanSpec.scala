package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions for the headline queries — the properties
  * that decide whether a plan survives a 100× scale-up, pinned as tests so a
  * refactor can't silently regress them:
  *
  *  - range filters reach the parquet scan (`PushedFilters`), and the scan
  *    reads only referenced columns (`ReadSchema` pruning);
  *  - guaranteed-tiny dims join via `BroadcastHashJoin` (no shuffle of the
  *    fact side on a dim key);
  *  - ORDER BY + LIMIT plans as `TakeOrderedAndProject` (per-partition
  *    top-k + merge), never a global sort;
  *  - aggregations are two-phase (map-side `partial_` before the exchange);
  *  - the scan→filter→project spine stays inside whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  /** Execute, then render the AQE-final physical plan. */
  private def finalPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q04: watermark range filter is pushed to the parquet scan") {
    val plan = finalPlan(SparkEntry.queries("q04_incremental_filter")(spark, sf))
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") ||
      plan.contains("GreaterThan(l_shipdate"), plan)
    // Column pruning: the 16-column lineitem scan must read only the 4
    // referenced columns; a full-width ReadSchema means pruning broke.
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"),
      readSchema)
  }

  test("q06: guaranteed-tiny dims (nation/region) broadcast, never shuffle") {
    val plan = finalPlan(SparkEntry.queries("q06_dim_enrich")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q34: ORDER BY + LIMIT plans as TakeOrderedAndProject, not global sort") {
    val plan = finalPlan(SparkEntry.queries("q34_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q01: aggregation is two-phase with map-side partials under codegen") {
    val plan = finalPlan(SparkEntry.queries("q01_pricing_summary")(spark, sf))
    assert(plan.contains("partial_sum"), plan)
    // Codegen stages render as "*(n)" in the simple plan string; the partial
    // aggregate must sit in the same codegen stage as the scan spine.
    assert(plan.contains("*(1) HashAggregate"), plan)
    assert(plan.contains("*(1) Filter"), plan)
  }

  test("q54: blocked jaccard is one equi-shuffle on the blocking key") {
    val df = SparkEntry.queries("q54_jaccard_blocked")(spark, sf)
    val plan = finalPlan(df)
    // The pair join must be an equi-join on the block columns (shuffled hash
    // or sort-merge at scale, broadcast at this SF) — never a cartesian.
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q63: contamination joins on the gram hash — never a cartesian") {
    val plan = finalPlan(SparkEntry.queries("q63_contamination")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // The join key is the fixed-width digest, not the gram text: the
    // shuffled columns stay narrow regardless of gram length.
    assert(plan.contains("gh"), plan)
  }

  test("q65: the top-50 vocabulary joins as a broadcast, corpus never reshuffles for membership") {
    val plan = finalPlan(SparkEntry.queries("q65_oov_rate")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q62: the salted join carries the salt in its join keys") {
    val df = SparkEntry.queries("q62_skew_join")(spark, sf)
    val plan = finalPlan(df)
    // The whole point of the rewrite: the hot key's rows spread over
    // `buckets` reducers because __salt participates in the join.
    assert(plan.contains("__salt"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q72: k-means profile is scan→project→two-phase agg — no join, no window") {
    val plan = finalPlan(SparkEntry.queries("q72_kmeans")(spark, sf))
    // Assignment rides inside the projection (centroids are expression
    // constants); a Join or Window here would mean the corpus shuffles
    // per iteration — the shape that dies at 100 TB.
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
    // Column pruning: only the vector column feeds the profile scan.
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("embedding") && !readSchema.contains("label"),
      readSchema)
  }

  test("q73: duplicated-span df joins nothing — one gram-hash window, no cartesian") {
    val plan = finalPlan(SparkEntry.queries("q73_dup_spans")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // df comes from a count over the gh window on the pre-aggregated
    // (doc, gh) rows — re-exploding the text for an anti-join form would
    // double the gram computation (the q63/tf-idf lesson).
    assert(plan.contains("Window"), plan)
  }

  test("q74: int8 quantization error is a pure projection into a two-phase agg") {
    val plan = finalPlan(SparkEntry.queries("q74_int8_quant")(spark, sf))
    // The fitted scale is a literal inside the expression — no join, no
    // scalar-subquery re-evaluation against the corpus.
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("q77: PII scrub is a pure projection — no join, no window, one sort") {
    val plan = finalPlan(SparkEntry.queries("q77_pii_scrub")(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    // regex counting + redaction ride the scan inside codegen
    assert(plan.contains("*(1)"), plan)
  }

  test("q80: outlier stats broadcast back — the fact side never re-shuffles") {
    val plan = finalPlan(SparkEntry.queries("q80_outliers")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only shuffles are the stats aggregate (5 groups) + final sort;
    // a SortMergeJoin would mean the whole fact table shuffled on group key
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q81: bloom probe joins are all broadcast; customer never shuffles on key") {
    val plan = finalPlan(SparkEntry.queries("q81_bloom_filter")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q82: LM model broadcasts onto the bigram explode — no sort-merge join") {
    val plan = finalPlan(SparkEntry.queries("q82_lm_score")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  /** A twin session with AQE off, used ONLY to inspect planned shuffles:
    * exchanges are inserted by EnsureRequirements during executedPlan
    * preparation, and under AQE they hide inside leaf query stages that
    * TreeNode.collect cannot descend into. Planning here never executes
    * the query.
    */
  private lazy val planningSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Column names carried by every shuffle exchange in the physical plan —
    * the payload check behind "text never shuffles" pins.
    */
  /** Column names crossing any KEYED exchange (hash/range partitioning).
    * Round-robin exchanges are excluded: the only round-robin in the
    * catalog is `Tables.fanOutSmallInput`'s scale-GATED scan fan-out
    * (r20), which by construction fires only when the input is below
    * cores × 64 MB — so a text column riding it is a bounded local spread,
    * not the corpus-text-through-a-join shuffle this lint exists to ban.
    * Keyed exchanges carrying text remain a failure at any size.
    */
  private def shuffledColumns(query: String): Seq[String] =
    SparkEntry.queries(query)(planningSession, sf)
      .queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if !e.outputPartitioning.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning] =>
          e.output.map(_.name)
      }.flatten.distinct

  test("q83: incremental dedup anti-joins on the fingerprint — no shuffle carries text") {
    val df = SparkEntry.queries("q83_incremental_dedup")(spark, sf)
    val plan = finalPlan(df)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the corpus side reduces to distinct fingerprints BEFORE the join: the
    // 16-byte fp + id are the widest things any exchange moves
    val cols = shuffledColumns("q83_incremental_dedup")
    assert(cols.nonEmpty && !cols.exists(_.contains("text")), cols.toString)
  }

  test("q113: dedup survivorship hashes text at the scan — no shuffle carries text") {
    // the keeper window partitions by the 32-char md5 fingerprint; the
    // fingerprint is computed BEFORE the first exchange, so only
    // (fp, doc_id, lang, source, n_chars) ever moves
    val cols = shuffledColumns("q113_dedup_survivorship")
    assert(cols.nonEmpty && !cols.exists(_.contains("text")), cols.toString)
  }

  test("q86: CDC chunking is a map-only explode — no shuffle carries document text") {
    val df = SparkEntry.queries("q86_cdc_chunks")(spark, sf)
    val plan = finalPlan(df)
    assert(!plan.contains("CartesianProduct"), plan)
    // boundary scan + per-chunk hashing ride the projection; every exchange
    // moves (doc_id, 16-byte chunk hash, length) — never text or norm
    val cols = shuffledColumns("q86_cdc_chunks")
    assert(cols.nonEmpty &&
      !cols.exists(c => c.contains("text") || c.contains("norm")), cols.toString)
  }

  test("q90: the query-term table broadcasts onto the postings — no sort-merge join on term") {
    val plan = finalPlan(SparkEntry.queries("q90_sparse_retrieval")(spark, sf))
    // Without the broadcast(qt) pin Spark may SMJ, shuffling the entire
    // inverted index on term — the shape that dies at corpus scale.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q91: semdedup pair generation is cluster-blocked — never a cartesian") {
    val plan = finalPlan(SparkEntry.queries("q91_semdedup")(spark, sf))
    // within-cluster pairs come from an equi-join on the cluster id;
    // an unblocked form would be an all-pairs cartesian over the corpus
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q92: cluster sample assigns by projection — only the shard summary joins, as a broadcast") {
    val plan = finalPlan(SparkEntry.queries("q92_cluster_sample")(spark, sf))
    // centroids ride inside the NearestCentroid expression (no centroid
    // join); the only join is the tiny per-(cluster, shard) rank-offset
    // summary broadcasting back onto the scan — never a shuffle join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
  }

  /** WindowExec nodes of a query's (AQE-off) physical plan — the shape
    * check behind the sampler pins: no corpus rows may flow through a
    * window partitioned by a lone low-cardinality stratum.
    */
  private def windowNodes(query: String) =
    SparkEntry.queries(query)(planningSession, sf)
      .queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }

  test("q114: candidate joins broadcast the pair list and the rank window carries no shingle arrays") {
    val exec = SparkEntry.queries("q114_cross_split_neardup")(planningSession, sf)
      .queryExecution.executedPlan
    val smjs = exec.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
    assert(smjs.isEmpty, s"shingle sets re-shuffled by SMJ:\n$smjs")
    exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.foreach { w =>
      assert(!w.child.output.exists(a =>
        a.name.startsWith("sh_") || a.name.contains("text")),
        s"arrays enter the rank window: ${w.child.output.map(_.name)}")
    }
  }

  test("q117: the group-only rank window sees only phase-1 survivors, never the raw corpus") {
    val ws = windowNodes("q117_group_topk")
    assert(ws.length == 2, s"expected the two-phase pair, got ${ws.length}")
    val Seq(lone) = ws.filter(_.partitionSpec.length == 1)
    // beneath the lang-only window there MUST be the per-(lang, shard)
    // rank cut — the filter on phase 1's row number
    assert("""__r1#\d+ <= 5""".r.findFirstIn(lone.child.toString).isDefined,
      s"phase-2 window not fed by the shard-rank cut:\n${lone.child}")
    val sharded = ws.filterNot(_.partitionSpec.length == 1)
    assert(sharded.head.partitionSpec.length == 2)
  }

  test("samplers: every corpus window is sharded (or runs over a pre-aggregated summary) and text never enters a window") {
    val samplers = Seq("q56_stratified_sample", "q70_mixture_sample",
      "q84_quality_deciles", "q92_cluster_sample", "q93_token_budget_mix",
      "q97_alpha_mixture", "q107_score_calibration", "q110_drift_monitor")
    for (q <- samplers) {
      val ws = windowNodes(q)
      assert(ws.nonEmpty, s"$q: expected window nodes")
      ws.foreach { w =>
        // A window partitioned by a single expression is only allowed over
        // a pre-aggregated summary (the strata×shards / per-metric-value
        // histograms — recognizable because every column is an internal
        // `__`-prefixed one) OR partitioned by the histogram VALUE key
        // `__m` (quantileBins' straddling-value tie window: its input is
        // bounded by the bin boundaries, and Catalyst prunes a constant
        // stratum out of the spec, e.g. q107's lit("all")): partitioning
        // raw corpus rows by the ~5-value stratum alone is the
        // one-reducer-per-language shape that dies at 100 TB.
        assert(w.partitionSpec.length >= 2 ||
          w.child.output.forall(a =>
            a.name.startsWith("__") || a.name.startsWith("_we")) ||
          w.partitionSpec.flatMap(_.references.toSeq).map(_.name) == Seq("__m"),
          s"$q: window over raw rows partitioned by a lone stratum:\n$w")
        assert(!w.child.output.exists(_.name.contains("text")),
          s"$q: text enters a window: ${w.child.output.map(_.name)}")
      }
      // The summary joins back as a broadcast — a sort-merge join keyed
      // by an internal stratum/shard/metric column would re-shuffle the
      // corpus on a low-cardinality key. Joins on a high-cardinality doc
      // id (q107's score left join) may legitimately shuffle.
      val smjs = SparkEntry.queries(q)(planningSession, sf)
        .queryExecution.executedPlan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
      smjs.foreach { j =>
        val keys = j.leftKeys.flatMap(_.references.toSeq).map(_.name)
        assert(keys.forall(n => !n.startsWith("__") && n != "b"),
          s"$q: SMJ on internal low-cardinality key $keys:\n$j")
      }
    }
  }

  test("samplers: no shuffle carries document text") {
    for (q <- Seq("q56_stratified_sample", "q70_mixture_sample",
        "q84_quality_deciles", "q93_token_budget_mix",
        "q97_alpha_mixture")) {
      val cols = shuffledColumns(q)
      assert(cols.nonEmpty && !cols.exists(_.contains("text")),
        s"$q: $cols")
    }
  }

  test("q188/q189: the report cut is TakeOrdered; the EXISTS plans as a semi join with the date range pushed") {
    val p188 = finalPlan(SparkEntry.queries("q188_returned_items")(spark, sf))
    assert(p188.contains("TakeOrderedAndProject"), p188)
    assert(p188.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"), p188)
    val p189 = finalPlan(SparkEntry.queries("q189_priority_check")(spark, sf))
    assert(p189.contains("LeftSemi"), p189)
    assert(p189.contains("GreaterThanOrEqual(o_orderdate"), p189)
  }

  test("q229-q232: pushdown, pruning, bounded broadcast, sharded cumulative") {
    // q229: the ship-date window reaches the lineitem scan; money columns
    // are never read (3-column projection of an 11-column table)
    val p229 = finalPlan(SparkEntry.queries("q229_late_priority")(spark, sf))
    assert(p229.contains("GreaterThanOrEqual(l_shipdate"), p229)
    assert(!p229.contains("l_extendedprice"), "q229 must not read money columns")
    // q230: the 64-probe side broadcasts (bounded nested loop, the q30
    // adjudicated shape) — corpus streams once, no corpus×corpus join
    val p230 = finalPlan(SparkEntry.queries("q230_hubness")(spark, sf))
    assert(p230.contains("BroadcastNestedLoopJoin"), p230)
    // q231: the corpus cumulative must ride the sharded slices, not a
    // bare global window over the value summary
    val p231 = finalPlan(SparkEntry.queries("q231_ranksum_drift")(spark, sf))
    assert(p231.contains("__slice"),
      "q231's corpus cumulative must ride shardedCumSum's slices")
    // q232: the events scan reads only (event_type, ts) — the payload
    // columns never leave the parquet reader
    val p232 = finalPlan(SparkEntry.queries("q232_lag_autocorr")(spark, sf))
    val rs232 = p232.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!rs232.contains("props") && !rs232.contains("value"),
      s"q232 must prune the events payload: $rs232")
  }

  test("q36: exact profile has NO Expand — per-column pre-aggregation instead") {
    val plan = finalPlan(SparkEntry.queries("q36_profile")(spark, sf))
    // N countDistincts in one Aggregate would plan an Expand multiplying
    // the scan by N+1 — the shape this query exists to avoid.
    assert(!plan.contains("Expand"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_min"), plan)
  }

  test("q100: both rankers keep their broadcast shapes through the fusion — no sort-merge join anywhere") {
    // The sparse side must broadcast the query-term table (q90's pin) and
    // the dense side the query vectors; the fusion itself adds only a
    // narrow (query, item, rank) union + aggregate. An SMJ appearing
    // anywhere means a ranker re-shuffled its corpus-sized side.
    val plan = finalPlan(SparkEntry.queries("q100_hybrid_rrf")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q102: the weight table broadcasts and the global top-k is TakeOrderedAndProject; text never shuffles") {
    val plan = finalPlan(SparkEntry.queries("q102_importance_select")(spark, sf))
    // 64-row bucket-weight table joins onto the exploded terms as a
    // broadcast; a shuffle join here would move every (id, bucket) row
    // on the bucket key.
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // global top-100 = per-partition top-k + merge, never a global sort
    // of the scored corpus
    assert(plan.contains("TakeOrderedAndProject"), plan)
    val cols = shuffledColumns("q102_importance_select")
    assert(cols.nonEmpty && !cols.exists(_.contains("text")), cols.toString)
  }

  test("q104/q106: two-phase order assembly — the corpus window is (stratum, shard)-partitioned; lone-key windows see only bounded frames") {
    // q104: phase-1 rank window partitions by (lang, shard); the lone
    // stratum window re-ranks only phase-1 survivors — visible as a
    // WindowGroupLimit (partial top-k) in its child subtree, so no
    // unbounded corpus rows reach it. q106: the (epoch, shard) rank
    // window is 2-key; the lone 'epoch' window runs over the
    // pre-aggregated shard-count summary (its input carries __c).
    for ((q, boundedChild) <- Seq[(String,
        org.apache.spark.sql.execution.window.WindowExec => Boolean)](
        "q104_weighted_sample" ->
          (w => w.child.toString.contains("WindowGroupLimit")),
        "q106_epoch_shuffle" ->
          (w => w.child.output.exists(_.name == "__c")))) {
      val ws = windowNodes(q)
      assert(ws.nonEmpty, s"$q: expected window nodes")
      ws.foreach { w =>
        assert(w.partitionSpec.length >= 2 || boundedChild(w),
          s"$q: lone-key window over an unbounded frame:\n$w")
      }
      val plan = SparkEntry.queries(q)(planningSession, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), s"$q: $plan")
    }
  }

  test("q103: the exported model scores as a stateless projection — no join, no (id,bucket) shuffle; text never keyed-shuffles") {
    // r21: the ≤256-row trained model exports to the driver once (the
    // same tiny collect a broadcast build performs) and held-out docs are
    // scored by Classifier.scoreExpr — a per-row expression. The scoring
    // plan must therefore contain NO join at all: any join here means the
    // old explode → distinct (id,bucket) shuffle → broadcast join →
    // re-aggregate pipeline crept back (two corpus-wide exchanges at
    // 100 TB for what is a projection). The model-training collect runs
    // as its own job and is pinned by the trainer's own lints.
    val exec = SparkEntry.queries("q103_quality_classifier")(planningSession, sf)
      .queryExecution.executedPlan
    val joins = exec.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
    assert(joins.isEmpty, s"scorer should be join-free:\n${joins.mkString}")
    val cols = shuffledColumns("q103_quality_classifier")
    assert(cols.nonEmpty && !cols.exists(_.contains("text")), cols.toString)
  }

  test("classifier trainer: the feature cut is TakeOrderedAndProject and the pair frame never re-shuffles for dedup") {
    // the presence set is built scan-side with array ops (distinct terms
    // → distinct buckets per row), so the trainer's plan must carry NO
    // post-explode distinct exchange of (id, y, b) — only the
    // low-cardinality groupBy(b) aggregate shuffle — and the top-K cut is
    // per-partition partial top-K + tiny driver merge, never a global
    // sort of the bucket-weight table.
    val train = planningSession.read
      .parquet(s"$sf/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val model = graft.functions.Classifier.hashedLinearModel(train,
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.col("text"),
      org.apache.spark.sql.functions.col("doc_id") % 2 === 0)
    val exec = model.queryExecution.executedPlan
    assert(exec.toString.contains("TakeOrderedAndProject"), exec.toString)
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    // one keyed exchange: the groupBy(b) partial→final aggregate (the
    // 1-row class-totals aggregate's SinglePartition exchange and any
    // round-robin fan-out are fine; a SECOND hash exchange would be the
    // old (id, y, b) dedup shuffle creeping back)
    val keyed = exchanges.filter(_.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(keyed.size == 1, s"expected exactly the groupBy(b) exchange:\n$exec")
    assert(keyed.head.output.map(_.name).forall(n => !n.contains("text")),
      keyed.head.output.map(_.name).toString)
  }

  test("q122: labeled corpus streams once through the broadcast scan; vectors never shuffle") {
    val plan = finalPlan(SparkEntry.queries("q122_knn_label")(spark, sf))
    // held-out side broadcast into a nested-loop scan — the one place BNLJ
    // is the RIGHT shape (bounded queries × unbounded corpus, q30's plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // everything past the top-k window is q×k rows: the vote/label joins
    // broadcast, and no exchange ever carries an embedding array
    val cols = shuffledColumns("q122_knn_label")
    assert(!cols.exists(c => c.contains("embedding") || c == "cv" || c == "qv"),
      cols.toString)
  }

  test("q141: vectors never shuffle — only (label, pos, code) integer sums move") {
    val cols = shuffledColumns("q141_label_centroids")
    assert(cols.nonEmpty, "expected at least the (label, pos) sum exchange")
    assert(!cols.exists(c => c.contains("embedding") || c.contains("codes")),
      s"a vector column rides a shuffle: $cols")
  }

  test("q142: the query set broadcasts into one corpus scan; no sort-merge join") {
    val plan = finalPlan(SparkEntry.queries("q142_maxsim")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    val cols = shuffledColumns("q142_maxsim")
    assert(!cols.exists(c => c.contains("embedding") || c == "cv" || c == "qv"),
      s"vectors enter a shuffle: $cols")
  }

  test("q139: the PR sweep's window runs over histogram cells, never held-out docs") {
    val ws = windowNodes("q139_pr_curve")
    assert(ws.nonEmpty)
    // the window's child must already be the aggregated (cell, n, n_pos)
    // sketch: a raw score column below the window means the corpus got in
    ws.foreach { w =>
      val names = w.child.output.map(_.name)
      assert(names.exists(_.contains("cell")) || names.exists(_.contains("threshold")),
        s"window child is not the histogram: $names")
      assert(!names.contains("is_spam"), s"per-doc rows under the window: $names")
    }
  }

  test("q123: truth pairs come from the blocked equi-join — never a cartesian") {
    val plan = finalPlan(SparkEntry.queries("q123_lsh_recall")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    // the truth-candidate join moves only (id_a, id_b, bucket/caught)
    val cols = shuffledColumns("q123_lsh_recall")
    assert(!cols.exists(_.contains("text")), cols.toString)
  }

  test("q124/q125: diversity and multiplicity shuffles carry hashes, never text or grams") {
    for (q <- Seq("q124_ngram_diversity", "q125_dup_multiplicity")) {
      val cols = shuffledColumns(q)
      assert(cols.nonEmpty, q)
      assert(!cols.exists(c => c.contains("text") || c == "g" || c == "dsh" ||
        c == "sh"), s"$q: $cols")
    }
  }

  test("q127: burden join is id-keyed and no shuffle carries text") {
    val plan = finalPlan(SparkEntry.queries("q127_dup_by_quality")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    val cols = shuffledColumns("q127_dup_by_quality")
    assert(cols.nonEmpty && !cols.exists(_.contains("text")), cols.toString)
  }

  test("q131: the heavy-hitter cut is TakeOrderedAndProject over a two-phase count") {
    val plan = finalPlan(SparkEntry.queries("q131_heavy_hitters")(spark, sf))
    // per-partition top-N + tiny merge — a global Sort of the key
    // histogram is the shape that dies on a high-cardinality key space
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q128: every language-partitioned window sees only rank-cut survivors") {
    // the q117 discipline on text: the rank re-derivation partitions by
    // lang alone, so it must be fed by the native per-key heap cut
    // (TopKPerKey's final pass over ≤ langs×20 survivors) — never the raw
    // token-count table, and no window-form shard cut (__r1 <= 20) either.
    val lone = windowNodes("q128_zipf_table").filter(_.partitionSpec.length == 1)
    assert(lone.nonEmpty, "no lang-only window in q128")
    lone.foreach { w =>
      assert(w.child.collectFirst {
        case t: graft.plans.TopKPlan.TopKPerKeyExec if !t.partial => t }.isDefined,
        s"lang-only window not fed by the TopKPerKey cut:\n${w.child}")
      assert(!w.child.toString.contains("__r1"), s"window-form cut under:\n${w.child}")
    }
  }

  test("q147: KMV sketch shuffles carry only (source, hash48) — never text or shingle strings") {
    // the corpus-wide phase is distinct(source, h) + the sharded bottom-K;
    // both move an 8-byte hash. Text and the exploded shingle string must
    // stay inside the scan stage.
    val cols = shuffledColumns("q147_kmv_overlap")
    assert(cols.nonEmpty &&
      !cols.exists(c => c.contains("text") || c == "s" || c.contains("shingle")),
      cols.toString)
  }

  test("q150: margin mining shuffles carry ids and doubles — vectors never leave the scan") {
    // anchors broadcast; the pair frame that shuffles holds (aid, tid,
    // tag, sim/margin). An embedding column in any exchange means the
    // neighborhood sums were computed on the wrong side of the join.
    val cols = shuffledColumns("q150_bitext_margin")
    assert(cols.nonEmpty &&
      !cols.exists(c => c == "v" || c == "av" || c == "tv" || c.contains("embedding")),
      cols.toString)
  }

  test("q156: curriculum windows run over the slice summary and the boundary slice only — text never shuffles") {
    // the global prefix is range-sharded: one window over the ≤17-row
    // slice summary, one over the single boundary slice. No window may
    // see the raw corpus unsharded, and no exchange may carry text.
    val df = SparkEntry.queries("q156_curriculum_budget")(planningSession, sf)
    val ws = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.nonEmpty)
    ws.foreach { w =>
      assert(!w.child.output.exists(_.name.contains("text")),
        s"text enters a window: ${w.child.output.map(_.name)}")
    }
    val cols = shuffledColumns("q156_curriculum_budget")
    assert(cols.nonEmpty && !cols.exists(_.contains("text")), cols.toString)
  }

  test("q157/q161: inequality-shaped joins plan as equi-joins — nested loops only combine scalars") {
    // q157's 10-minute lookback is RangeJoin's bucketed equi-join; q161's
    // wedge join is keyed on the oriented source. A data×data nested loop
    // or cartesian is the O(n·m) shape that dies at corpus scale — the
    // only tolerated BroadcastNestedLoopJoins are the in-plan scalar
    // combiners, whose broadcast side is a global (groupless) aggregate.
    Seq("q157_attribution", "q161_dup_triangles").foreach { q =>
      val exec = SparkEntry.queries(q)(planningSession, sf).queryExecution.executedPlan
      val plan = exec.toString
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian")
      val equi = plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
        plan.contains("BroadcastHashJoin")
      assert(equi, s"$q: the core join must be an equi join")
      exec.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.foreach { j =>
        val scalarSide = Seq(j.left, j.right).exists(_.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
            if a.groupingExpressions.isEmpty => a
        }.isDefined)
        assert(scalarSide, s"$q: a nested loop joins two DATA-sized sides:\n$j")
      }
    }
  }

  /** Bounded-domain grouping keys: calendar buckets, shards/slices/strata,
    * histogram cells — anything whose cardinality is fixed by construction
    * rather than by the data volume. An unpartitioned window whose input is
    * an aggregate over ONLY such keys sorts a summary, not the corpus.
    */
  private val boundedKeyPattern =
    ("^(day|hour|week|month|ld|gap_days|stratum|source|lang|shard|slice|" +
      "cell|pct|bucket|bin|decile|epoch|__slice|__m)$").r

  /** The global-window lint behind the catalog sweep: every WindowExec with
    * an EMPTY partition spec must read a provably bounded frame —
    *  (a) an internal summary (all child columns `__`-prefixed, the repo's
    *      convention for pre-aggregated histogram/slice frames), or
    *  (b) an aggregate in its child subtree grouped only by bounded-domain
    *      keys ([[boundedKeyPattern]]), or
    *  (c) a limit (`TakeOrderedAndProject` / global limit) bounding the
    *      frame's row count outright.
    * Anything else is the one-reducer global sort that dies at 100 TB —
    * the r11 q179/q180 defect this lint exists to catch at review time.
    * Returns the offending windows' child outputs (empty = clean).
    */
  /** Every node in a physical subtree, descending THROUGH exchange reuse:
    * `ReusedExchangeExec` is a leaf that aliases another exchange's subtree,
    * so a plain `collect` under it sees nothing — the aggregate proving a
    * frame bounded may live only behind the reused edge.
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    p +: (p match {
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        allNodes(r.child)
      case _ => p.children.flatMap(allNodes)
    })

  private def unboundedGlobalWindows(df: DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }.filterNot { w =>
      val internalSummary = w.child.output.nonEmpty &&
        w.child.output.forall(a => a.name.startsWith("__"))
      val subtree = allNodes(w.child)
      val boundedAgg = subtree.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.flatMap(_.references.toSeq).map(_.name).distinct
      }.exists(keys => keys.nonEmpty &&
        keys.forall(k => boundedKeyPattern.findFirstIn(k).isDefined))
      val limited = subtree.exists {
        case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
        case _: org.apache.spark.sql.execution.GlobalLimitExec => true
        case _: org.apache.spark.sql.execution.CollectLimitExec => true
        case _ => false
      }
      internalSummary || boundedAgg || limited
    }.map(w => w.child.output.map(_.name).mkString(","))

  test("lint: every unpartitioned window in the whole catalog runs over a provably bounded frame") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        unboundedGlobalWindows(fn(planningSession, sf)).map(o => s"$name: [$o]")
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows over unbounded frames:\n${offenders.mkString("\n")}")
  }

  /** Queries whose BroadcastNestedLoopJoin broadcasts a BOUNDED QUERY SET
    * rather than a scalar: the ANN/retrieval family broadcasts a
    * literal-filtered query/anchor frame (`vec_id < 5`, `lang = 'en' AND
    * id < 50`) or a k-sized centroid/codebook table into one corpus scan —
    * the one shape where a nested loop IS the right plan (bounded × corpus,
    * the q30/q122 pattern, each pinned by its own per-query test). A
    * literal filter's boundedness isn't mechanically provable, so these are
    * adjudicated by name; any NEW query planning a data×data nested loop
    * fails the sweep below until it is either fixed or justified here.
    */
  private val boundedQuerySetBnlj = Set(
    "q30_ann_brute", "q31_embed_neardup", "q53_ann_ivf", "q67_pq_adc",
    "q68_ivf_pq", "q100_hybrid_rrf", "q122_knn_label", "q126_ann_recall",
    "q136_hard_negatives", "q142_maxsim", "q150_bitext_margin",
    "q160_ann_scorecard", "q207_int8_recall", "q228_matryoshka_recall",
    "q230_hubness",
    // flagship dim build: the reference's scalar subqueries in join ON
    // (SELECT DISTINCT(...) — 1 row by data contract, query.txt:1) plan as
    // distinct-aggregate sides, grouped hence not provably scalar
    "q50_flagship_full")

  test("lint: no cartesian products in the whole catalog; nested loops only combine scalars or adjudicated bounded sets") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val exec = fn(planningSession, sf).queryExecution.executedPlan
        val cartesians = exec.collect {
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }.map(_ => s"$name: CartesianProduct")
        // A nested loop is O(|L|·|R|); it is the RIGHT plan only when one
        // side is provably bounded — a scalar (groupless) aggregate, an
        // aggregate over bounded-domain keys, a limit-bounded frame, or a
        // literal frame with no file scan at all. Traversal descends
        // through exchange reuse, where the scalar side often hides.
        def sideBounded(side: org.apache.spark.sql.execution.SparkPlan): Boolean =
          allNodes(side).exists {
            case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
              a.groupingExpressions.isEmpty ||
                a.groupingExpressions.flatMap(_.references.toSeq).map(_.name)
                  .forall(k => boundedKeyPattern.findFirstIn(k).isDefined)
            case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
            case _: org.apache.spark.sql.execution.GlobalLimitExec => true
            case _: org.apache.spark.sql.execution.CollectLimitExec => true
            case _ => false
          } || !allNodes(side).exists(
            _.isInstanceOf[org.apache.spark.sql.execution.FileSourceScanExec])
        val badBnlj = exec.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        }.filterNot { j =>
          boundedQuerySetBnlj(name) || Seq(j.left, j.right).exists(sideBounded)
        }.map(j => s"$name: data-sized BNLJ ${j.output.map(_.name).take(6).mkString(",")}")
        cartesians ++ badBnlj
    }
    assert(offenders.isEmpty,
      s"unbounded join shapes:\n${offenders.mkString("\n")}")
  }

  test("lint regression: r11 q180's single-partition cumulative over per-customer revenue is flagged") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // the exact pre-r12 shape: distinct per-customer revenue summary into a
    // bare Window.orderBy running sum — ~#customers rows on one reducer
    val perCust = planningSession.read
      .parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("v"))
    val byVal = perCust.groupBy(col("v")).agg(count(lit(1)).as("k"))
    val old = byVal.withColumn("users_through",
      sum(col("k")).over(Window.orderBy(col("v").desc)))
    assert(unboundedGlobalWindows(old).nonEmpty,
      "the lint must flag the r11 q180 shape")
    // and the r12 sharded rewrite of the same cumulative passes it
    val fixed = graft.ops.Relational.shardedCumSum(byVal, "v", Seq("k"),
      ascending = false)
    assert(unboundedGlobalWindows(fixed).isEmpty,
      "shardedCumSum must carry no unbounded global window")
  }

  test("q179/q180: no unpartitioned window reads a per-customer-cardinality frame; slice summaries only") {
    for (q <- Seq("q179_rfm_segments", "q180_pareto")) {
      val df = SparkEntry.queries(q)(planningSession, sf)
      assert(unboundedGlobalWindows(df).isEmpty, q)
      // partitioned windows may only be the within-slice cumulatives
      windowNodes(q).filter(_.partitionSpec.nonEmpty).foreach { w =>
        val keys = w.partitionSpec.flatMap(_.references.toSeq).map(_.name)
        assert(keys == Seq("__slice"),
          s"$q: unexpected window partition keys $keys")
      }
    }
  }

  test("q235: watermark stamping is two-phase — data-sized prefix windows are (shard, chunk)-partitioned; any shard-only window reads the chunk summary") {
    // The r14 shape was ONE prefix-max window per user_id%32 shard: 32
    // sorted tasks no matter the data volume. The two-phase rewrite must
    // keep every data-sized window partitioned by (shard, chunk) and allow
    // a shard-only window ONLY over the bounded (shard, chunk) aggregate
    // summary (the carry-in).
    val ws = windowNodes("q235_watermark_loss").map { w =>
      (w, w.partitionSpec.flatMap(_.references.toSeq).map(_.name).distinct.sorted)
    }
    assert(ws.exists(_._2 == Seq("chunk", "shard")),
      s"missing the chunk-local prefix window; saw keys: ${ws.map(_._2)}")
    ws.filterNot(_._2 == Seq("chunk", "shard")).foreach { case (w, keys) =>
      // the carry window partitions by the summary's renamed shard key
      // (__cs; renamed so the data-side join keys stay null-safe <=>)
      assert(keys == Seq("__cs"), s"unexpected window partition keys $keys")
      val aggKeys = allNodes(w.child).collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          a.groupingExpressions.flatMap(_.references.toSeq)
            .map(_.name).distinct.sorted
      }
      assert(aggKeys.contains(Seq("chunk", "shard")),
        s"the carry window must read the (shard, chunk) summary; aggs: $aggKeys")
    }
  }

  test("q234: each grammar regex is evaluated exactly once per row in the physical plan") {
    // The r15 fold relies on CollapseProject declining to inline
    // multiply-referenced non-cheap expressions: if a Spark upgrade or a
    // builder edit re-inlines the per-pattern regexp_extract into both the
    // CASE classifier and the match-length CASE, each regex doubles in the
    // plan and the scan pays twice (the r14 shape this replaced).
    // Collect RegExpExtract nodes from the plan's expression TREES, not from
    // the rendered string: plan strings truncate long expression lists under
    // spark.sql.debug.maxToStringFields, so substring-counting could
    // spuriously fail (or count 0) after unrelated select-list growth.
    import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpExtract}
    val plan = SparkEntry.queries("q234_journey_grammar")(planningSession, sf)
      .queryExecution.executedPlan
    val patterns = plan.flatMap(_.expressions.flatMap(_.collect {
      case RegExpExtract(_, Literal(p, _), _) => p.toString
    }))
    Seq("S.*E.*P", "S[^E]*P", "S[^P]*E[^P]*$", "^[^S]*P").foreach { re =>
      val n = patterns.count(_ == re)
      assert(n == 1, s"pattern $re must appear exactly once in the plan, saw $n" +
        s" (all patterns: $patterns)")
    }
  }

  test("q152: the IVF argmax is a map-side-combinable aggregation — no window, no vector shuffles") {
    // a row_number window over the corpus x centroids frame would sort 32x
    // the corpus; the max(struct(cos, -cell)) aggregation partial-combines
    // instead, so the plan must carry NO window at all
    val df = SparkEntry.queries("q152_ivf_balance")(planningSession, sf)
    val windows = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"unexpected window: $windows")
    val cols = shuffledColumns("q152_ivf_balance")
    assert(cols.nonEmpty &&
      !cols.exists(c => c.contains("embedding") || c == "cv" || c == "cent"),
      cols.toString)
  }
}
