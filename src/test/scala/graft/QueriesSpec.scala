package graft

import org.scalatest.funsuite.AnyFunSuite

/** Smoke over the driver contract: every catalog query runs on sf0.001 and
  * the ones the contract expects non-empty are non-empty. (Value-level
  * correctness is the DuckDB differential oracle — tools/diffcheck.py.)
  */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry (flagship dim-enrich) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every catalog query executes on sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).count(); None }
      catch { case e: Exception => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("column names match between spark results and oracle SQL aliases") {
    // The driver sorts columns by name before hashing — mismatched aliases
    // break the compare even when values agree. Guard the contract here.
    val expected = Map(
      "q01_pricing_summary" -> Set("l_returnflag", "l_linestatus", "sum_qty",
        "count_order", "sum_base_price", "sum_disc_price"),
      "q02_rank_latest" -> Set("o_custkey", "o_orderkey", "order_date", "o_totalprice"),
      "q03_watermark_bounds" -> Set("min_run_id", "max_run_id"))
    expected.foreach { case (q, cols) =>
      assert(SparkEntry.queries(q)(spark, sf).columns.toSet == cols, q)
    }
  }

  test("q112 truncation-loss curve is monotone and bounded") {
    val rows = SparkEntry.queries("q112_truncation_loss")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, total, kept) => assert(kept <= total) }
    // larger max_len never keeps fewer tokens
    rows.sortBy(_._1).map(_._3).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b); case _ => }
  }

  test("q113 removed docs equal corpus size minus distinct fingerprints") {
    import org.apache.spark.sql.functions._
    val removed = SparkEntry.queries("q113_dedup_survivorship")(spark, sf)
      .agg(sum("n_removed")).head.getLong(0)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val distinctFp = docs
      .select(md5(graft.functions.Text.normalized(col("text")))).distinct().count()
    assert(removed == docs.count() - distinctFp)
  }

  test("q114 finds a planted cross-split near-duplicate") {
    import spark.implicits._
    SpecIo.withTempDir("graft-xsplit") { dir =>
      // md5 hash buckets (Sampling.hashBucket(id, 100)): 0 → train (<80),
      // 8 → eval (≥90); identical text plants a jaccard-1.0 cross pair.
      Seq(
        (0L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L),
        (1L, "one two three four five six seven", "en", "web", 33L),
        (8L, "alpha beta gamma delta epsilon zeta", "en", "web", 35L))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = SparkEntry.queries("q114_cross_split_neardup")(spark, dir).collect()
      assert(out.length == 1, out.mkString(";"))
      val r = out.head
      assert(r.getLong(0) == 8L, "eval side")
      assert(r.getLong(1) == 1L, "match count")
      assert(r.getLong(2) == 0L, "train side")
      assert(r.getDouble(3) == 1.0, "exact-dup jaccard")
    }
  }

  test("q115 funnel stages shrink monotonically and q116 offsets start at the cohort") {
    val funnel = SparkEntry.queries("q115_funnel_steps")(spark, sf)
      .collect().sortBy(_.getLong(0)).map(_.getLong(2))
    funnel.toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b, "a later stage outgrew an earlier one")
      case _ => }
    val cohorts = SparkEntry.queries("q116_retention_cohorts")(spark, sf).collect()
    assert(cohorts.forall(_.getLong(1) >= 0L), "negative day offset")
    // offset-0 cell exists for every cohort (a user is active on their first day)
    val byCohort = cohorts.groupBy(_.getLong(0))
    assert(byCohort.values.forall(_.exists(_.getLong(1) == 0L)))
  }

  test("q118 incremental retention is bit-identical to the q116 full recompute") {
    val full = SparkEntry.queries("q116_retention_cohorts")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val incr = SparkEntry.queries("q118_incremental_retention")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(incr == full)
  }

  test("q119 packed layout starts each bin at offset 0 and offsets accumulate exactly") {
    val rows = SparkEntry.queries("q119_packed_layout")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sortBy(_._1)).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.nonEmpty)
    rows.values.foreach { bin =>
      assert(bin.head._2 == 0L, "first doc of a bin must start at 0")
      bin.map(_._2).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a < b, "offsets must strictly increase")
        case _ => }
    }
    // total covered chars across all bins equals the corpus
    val out = SparkEntry.queries("q119_packed_layout")(spark, sf).collect()
    assert(out.length == docs.size, "every doc appears exactly once")
  }

  test("q120 sketch-union estimates stay within HLL error of exact weekly distincts") {
    import org.apache.spark.sql.functions._
    // The 5% bound now rides IN the query (est_within_5pct column, oracle
    // pins TRUE); the spec independently recomputes the exact leg and
    // asserts both the bound column and the exact values.
    val out = SparkEntry.queries("q120_sketch_rollup")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), r.getBoolean(4)))).toMap
    val exact = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .groupBy((col("day") - pmod(col("day"), lit(7L))).as("week_start"))
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == exact.keySet)
    out.foreach { case (wk, (x, within)) =>
      assert(x == exact(wk), s"week $wk: query exact $x vs recomputed ${exact(wk)}")
      assert(within, s"week $wk: HLL estimate strayed past 5% of exact $x")
    }
  }

  test("q88 cold-start audit is empty-safe: zero events yields zero rows, not an NPE") {
    // The 80th-percentile cut is an in-plan broadcast cross join of the
    // 1-row min/max aggregate — a driver-side .head() here would
    // NullPointerException on getLong(null) before this query ever ran.
    SpecIo.withTempDir("graft-empty") { dir =>
      spark.read.parquet(s"$sf/events.parquet").limit(0)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      assert(SparkEntry.queries("q88_cold_start")(spark, dir).count() == 0L)
    }
  }

  test("q85 and q139 are identical under local and reliable stage cuts") {
    // The conf a cluster run sets: every stage cut written through to
    // reliable storage instead of held as executor-local blocks. Both cut
    // kinds must produce the same rows.
    def rows(s: org.apache.spark.sql.SparkSession): Seq[Seq[String]] =
      Seq("q85_curation_funnel", "q139_pr_curve").map(q =>
        SparkEntry.queries(q)(s, sf).collect().map(_.toString).sorted.toSeq)
    val local = spark.newSession()
    local.conf.unset("spark.graft.checkpoint.dir")
    SpecIo.withTempDir("graft-cut-ckpt") { ckptDir =>
      val reliable = TestSpark.sibling("spark.graft.checkpoint.dir" -> ckptDir)
      assert(rows(reliable) == rows(local), "cut kinds disagree")
      // the reliable cuts actually landed in the checkpoint directory
      def treeSize(p: java.io.File): Long =
        if (p.isDirectory) p.listFiles().map(treeSize).sum else p.length()
      assert(treeSize(new java.io.File(ckptDir)) > 0L, "checkpoint dir never written")
    }
  }

  test("q124 diversity: distinct ≤ doc-distinct ≤ total grams, groups cover the corpus") {
    val rows = SparkEntry.queries("q124_ngram_diversity")(spark, sf)
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (nDocs, total, distinct, docDistinct, ttr) =>
      assert(nDocs > 0)
      assert(distinct <= docDistinct, "corpus-distinct can only merge per-doc distinct grams")
      assert(docDistinct <= total, "per-doc distinct cannot exceed the raw gram count")
      assert(ttr <= 1000000L && ttr >= 0L)
    }
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._1).sum == corpus, "every document lands in exactly one facet group")
  }

  test("q123 LSH S-curve: low-overlap pairs near 0 ppm, planted near-dups fully captured") {
    val rows = SparkEntry.queries("q123_lsh_recall")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (bucket, nTrue, nCaught, ppm) =>
      assert(bucket >= 0 && bucket <= 20)
      assert(nCaught <= nTrue)
      assert(ppm == nCaught * 1000000L / nTrue)
    }
    // the curve's two ends: incidental overlap is ignored, near-dups are caught
    val low = rows.filter(_._1 <= 2)
    val high = rows.filter(_._1 >= 15)
    assert(low.nonEmpty && high.nonEmpty, "corpus must exercise both curve ends")
    assert(low.map(_._4).max < 100000L, "banding should ignore <15%-Jaccard pairs")
    assert(high.map(_._4).min == 1000000L, "planted near-dups must all be captured")
  }

  test("q127 near-dup burden partitions the corpus and totals the q60 non-keepers") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q127_dup_by_quality")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._2).sum == corpus, "every document lands in exactly one (lang, bin)")
    rows.foreach { case (bin, nDocs, nDups) =>
      assert(bin >= 1 && bin <= 10)
      assert(nDups <= nDocs)
    }
    val ccNonKeepers = SparkEntry.queries("q60_dedup_clusters")(spark, sf)
      .filter(col("id") =!= col("cluster")).count()
    assert(rows.map(_._3).sum == ccNonKeepers,
      "decile burden must total the cluster non-keeper count")
  }

  test("q128 zipf table: dense ranks 1..20 per language, counts non-increasing") {
    val rows = SparkEntry.queries("q128_zipf_table")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    val byLang = rows.groupBy(_._1)
    assert(byLang.nonEmpty)
    byLang.foreach { case (lang, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to 20L), s"$lang ranks not dense")
      rs.sortBy(_._2).map(_._3).toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a >= b, s"$lang counts must be non-increasing")
        case _ =>
      }
    }
  }

  test("q129 ablation grid partitions the corpus and reproduces q76's marginals") {
    import org.apache.spark.sql.functions._
    val grid = SparkEntry.queries("q129_filter_ablation")(spark, sf)
      .collect().map(r => ((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)),
        r.getLong(5)))
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(grid.map(_._2).sum == corpus, "cells must partition the corpus")
    assert(grid.map(_._1).distinct.length == grid.length, "one row per combination")
    // the joint distribution must marginalize to q76's per-gate pass counts
    val marginals = SparkEntry.queries("q76_gopher_rules")(spark, sf)
      .agg(sum("n_len_ok"), sum("n_word_len_ok"), sum("n_alpha_ok"),
        sum("n_stop_ok"), sum("n_rep_ok")).head()
    val expected = (0 to 4).map(i => marginals.getLong(i))
    val fromGrid = (0 to 4).map { i =>
      grid.filter { case (flags, _) => flags.productElement(i).asInstanceOf[Int] == 1 }
        .map(_._2).sum
    }
    assert(fromGrid == expected, s"grid marginals $fromGrid != q76 $expected")
  }

  test("q130 fill histogram accounts for every document and every q119 bin") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q130_pack_fill")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._3).sum == corpus, "every document lands in exactly one bin")
    val binCount = SparkEntry.queries("q119_packed_layout")(spark, sf)
      .select(col("shard"), col("pack_bin")).distinct().count()
    assert(rows.map(_._2).sum == binCount, "histogram must cover every q119 bin")
    rows.foreach { case (bucket, nBins, _, minC, maxC) =>
      assert(bucket >= 0 && bucket <= 12)
      assert(nBins > 0 && minC <= maxC)
      // bucket boundaries are exact: min/max chars of the cell stay inside
      if (bucket < 12) {
        assert(minC * 10 / 4000 == bucket && maxC * 10 / 4000 == bucket)
      }
    }
  }

  test("q132 cross-source matrix accounts for every q28 candidate pair") {
    val rows = SparkEntry.queries("q132_cross_source_dups")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (lo, hi, nPairs, intra) =>
      assert(lo <= hi, "source pair must be canonically ordered")
      assert(nPairs > 0)
      assert((lo == hi) == (intra == 1))
    }
    val pairCount = SparkEntry.queries("q28_minhash_pairs")(spark, sf).count()
    assert(rows.map(_._3).sum == pairCount, "matrix must total the candidate pairs")
  }

  test("q133 covariance audit agrees with q76's per-language pass totals") {
    import org.apache.spark.sql.functions._
    val cov = SparkEntry.queries("q133_signal_covariance")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val fromQ76 = SparkEntry.queries("q76_gopher_rules")(spark, sf)
      .groupBy(col("lang")).agg(sum("n_docs").as("n"), sum("n_pass").as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cov.nonEmpty)
    cov.foreach { case (lang, nDocs, nPass, covScaled) =>
      assert((nDocs, nPass) == fromQ76(lang), s"$lang totals disagree with q76")
      // a constant verdict (all pass or none) has exactly zero covariance
      if (nPass == 0L || nPass == nDocs)
        assert(covScaled == 0L, s"$lang: constant y must give cov 0")
    }
  }

  test("q134 CMS never underestimates and probes exactly q131's keys") {
    val cms = SparkEntry.queries("q134_cms_heavy")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(cms.nonEmpty && cms.length <= 20)
    cms.foreach { case (_, n, est, overPpm) =>
      assert(est >= n, "a Count-Min estimate can only overestimate")
      assert(overPpm == (est - n) * 1000000L / n)
    }
    val q131 = SparkEntry.queries("q131_heavy_hitters")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cms.map(c => (c._1, c._2)).toSet == q131,
      "the audit must probe exactly the exact-top-20 keys with their true counts")
  }

  test("q135 merged weekly CMS never underestimates and weekly exacts sum to the q134 totals") {
    val rows = SparkEntry.queries("q135_cms_rollup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, n, est) =>
      assert(est >= n, "a merged Count-Min estimate can only overestimate")
    }
    // per-key weekly exact counts must total the overall exact counts the
    // q134 audit reports for the same keys (top-5 ⊆ top-20)
    val weeklyTotals = rows.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._3).sum }
    val overall = SparkEntry.queries("q134_cms_heavy")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    weeklyTotals.foreach { case (k, total) =>
      assert(overall(k) == total, s"key $k weekly sum $total != overall ${overall(k)}")
    }
  }

  test("q136 hard negatives always cross the label boundary, 5 per anchor, never the anchor itself") {
    val rows = SparkEntry.queries("q136_hard_negatives")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (anchor, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to 5L), s"anchor $anchor ranks not dense")
      rs.foreach { case (a, aLabel, _, negId, negLabel) =>
        assert(negLabel != aLabel, "a hard negative must carry a different label")
        assert(negId != a, "the anchor can never be its own negative")
      }
    }
  }

  test("q137 confusion matrix partitions the corpus and matches q25's predictions") {
    import org.apache.spark.sql.functions._
    val cells = SparkEntry.queries("q137_lang_confusion")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(cells.map(_._3).sum == corpus)
    cells.groupBy(_._1).foreach { case (lang, rs) =>
      val ppm = rs.map(_._4).sum
      assert(ppm >= 1000000L - rs.length && ppm <= 1000000L,
        s"$lang row shares must sum to ~1e6 (integer-div remainder only)")
    }
    // the matrix must total q25's per-prediction counts exactly
    val fromQ25 = SparkEntry.queries("q25_lang_id")(spark, sf)
      .groupBy(col("lang_pred")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromMatrix = cells.groupBy(_._2).map { case (p, rs) => p -> rs.map(_._3).sum }
    assert(fromMatrix == fromQ25, s"matrix $fromMatrix != q25 $fromQ25")
  }

  test("q138 sketch quantiles bracket the exact values within one cell width") {
    val rows = SparkEntry.queries("q138_hist_quantiles")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (est50, ex50, est90, ex90) =>
      // the estimate is the containing cell's UPPER bound: never below the
      // exact value, never more than a full cell width (16) above it
      assert(est50 >= ex50 && est50 - ex50 < 16L, s"p50 $est50 vs $ex50")
      assert(est90 >= ex90 && est90 - ex90 < 16L, s"p90 $est90 vs $ex90")
      assert(ex90 >= ex50, "p90 can never undercut the median")
    }
  }

  test("q139 PR curve: confusion counts consistent, recall monotone, floor threshold captures all") {
    val rows = SparkEntry.queries("q139_pr_curve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val p = rows.head._2 + rows.head._4 // tp + fn is the positive total everywhere
    rows.foreach { case (_, tp, fp, fn, prec, rec, f1) =>
      assert(tp + fn == p, "tp + fn must be the constant positive total")
      assert(tp >= 0 && fp >= 0 && fn >= 0)
      assert(prec == tp * 1000000L / (tp + fp).max(1L) || tp + fp == 0)
      assert(rec == tp * 1000000L / p)
      assert(prec <= 1000000L && rec <= 1000000L && f1 <= 1000000L)
      if (tp == 0) assert(f1 == 0L)
    }
    // rows ascend by threshold: raising the cutoff can only LOSE positives
    rows.map(_._2).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a >= b, "tp must be non-increasing in threshold")
      case _ =>
    }
    // the lowest observed threshold admits every held-out doc: total recall
    assert(rows.head._6 == 1000000L, "floor threshold must have recall 1e6")
    assert(rows.head._4 == 0L)
  }

  test("q140 gate kappa: every pair partitions the corpus and marginals agree across pairs") {
    val rows = SparkEntry.queries("q140_gate_kappa")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.length == 10, "5 gates give 10 unordered pairs")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    rows.foreach { case (_, _, n00, n01, n10, n11, agree, kappa) =>
      assert(n00 + n01 + n10 + n11 == corpus, "each pair's cells partition the corpus")
      assert(agree >= 0L && agree <= 1000000L)
      assert(kappa <= 1000000L, "kappa can never exceed perfect agreement")
    }
    // a gate's pass count must be the same number in every pair it appears in
    val marginals = rows.flatMap { case (a, b, n00, n01, n10, n11, _, _) =>
      Seq(a -> (n10 + n11), b -> (n01 + n11))
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    marginals.foreach { case (gate, vals) =>
      assert(vals.length == 1, s"$gate marginal differs across pairs: $vals")
    }
    assert(marginals.keySet == Set("len_ok", "word_len_ok", "alpha_ok", "stop_ok", "rep_ok"))
  }

  test("q141 label centroids: all pairs present, Cauchy-Schwarz holds, sim2 in [-1e6, 1e6]") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q141_label_centroids")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val labels = emb.select(col("label")).distinct().count().toInt
    assert(rows.length == labels * (labels - 1) / 2, "one row per unordered label pair")
    val counts = emb.groupBy(col("label").cast("long")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (la, lb, na, nb, dot, n2a, n2b, sim2) =>
      assert(la < lb, "canonical pair order")
      assert(na == counts(la) && nb == counts(lb), "pair carries exact class sizes")
      // Cauchy-Schwarz on the integer centroid sums: dot^2 <= |a|^2 |b|^2
      assert(BigInt(dot) * BigInt(dot) <= BigInt(n2a) * BigInt(n2b),
        s"pair ($la,$lb) violates Cauchy-Schwarz")
      assert(sim2 >= -1000000L && sim2 <= 1000000L)
      // truncation can round a tiny |dot| to sim2 = 0; otherwise signs match
      if (sim2 != 0) assert((sim2 > 0) == (dot > 0), "sim2 carries the dot's sign")
    }
  }

  test("q142 maxsim: one row per label, score is the fixed-order sum of per-query maxes") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q142_maxsim")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") >= 4).select(col("label")).distinct().count()
    assert(rows.length == labels, "every label with corpus vectors gets a score")
    rows.foreach { case (_, m0, m1, m2, m3, score) =>
      Seq(m0, m1, m2, m3).foreach(m => assert(m >= -1.0001 && m <= 1.0001,
        "per-query maxes are cosines"))
      assert(score == ((m0 + m1) + m2) + m3, "score must be the exact fixed-order sum")
    }
  }

  test("q144 concurrency: two-phase decomposition equals the naive global running sum") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q144_concurrency")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nStarts, nEnds, peak, end) =>
      assert(peak >= end, "peak can never undercut the hour-end level")
      assert(peak >= 0 && end >= 0, "open-session count can never go negative")
      assert(nStarts >= 0 && nEnds >= 0)
    }
    assert(rows.last._5 == 0L, "every session that opens also closes")
    assert(rows.map(_._2).sum == rows.map(_._3).sum, "starts and ends balance")
    // naive single-window replay: one global running sum, peak per hour
    val base = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
    val sess = graft.ops.Events.sessionize(base, col("user_id"), col("ts_us"),
        col("event_id"), 1800000000L)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_us")).as("s_start"), max(col("ts_us")).as("s_end"))
    val d = sess.select(col("user_id"), col("session_seq"), col("s_start").as("t"), lit(1L).as("delta"))
      .unionAll(sess.select(col("user_id"), col("session_seq"), col("s_end").as("t"), lit(-1L).as("delta")))
    val naive = d.withColumn("cum", sum(col("delta")).over(
        Window.orderBy(col("t"), col("delta").desc, col("user_id"), col("session_seq"))))
      .groupBy(expr("t div 3600000000 * 3600").as("hour_epoch"))
      .agg(max(col("cum")).as("peak"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (h, _, _, peak, _) =>
      assert(naive(h) == peak, s"hour $h: sharded peak $peak != naive ${naive(h)}")
    }
  }

  test("q145 vocab drift: dense 30×sources grid, corpus share constant per token, zero rows carry full negative drift") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q145_vocab_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source")).distinct().count()
    assert(rows.length == 30 * nSources, "grid must be dense: every source × every top token")
    rows.groupBy(_._2).foreach { case (token, rs) =>
      assert(rs.map(_._5).distinct.length == 1,
        s"$token: corpus share must not vary by source")
      assert(rs.length == nSources)
    }
    rows.foreach { case (_, _, obs, srcShare, corpShare, drift) =>
      assert(drift == srcShare - corpShare, "drift is exactly the share difference")
      if (obs == 0) assert(srcShare == 0 && drift == -corpShare,
        "an unused top token shows as full negative drift")
      assert(srcShare >= 0 && srcShare <= 1000000L && corpShare > 0)
    }
  }

  test("q146 snapshots: user sets and event counts grow monotonically across cuts") {
    val rows = SparkEntry.queries("q146_asof_snapshots")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val byCut = rows.groupBy(_._1)
    assert(byCut.keySet == Set(1, 2, 3), "exactly three reconstruction points")
    // a later cut can only ADD history: users present at cut i stay at i+1,
    // their event counts never shrink, and the last event never goes back in id-time
    for (i <- 1 to 2) {
      val a = byCut(i).map(r => r._2 -> (r._3, r._4)).toMap
      val b = byCut(i + 1).map(r => r._2 -> (r._3, r._4)).toMap
      assert(a.keySet.subsetOf(b.keySet), s"a user vanished between cut $i and ${i + 1}")
      a.foreach { case (user, (lastId, n)) =>
        assert(b(user)._2 >= n, s"user $user lost events between cuts")
        assert(b(user)._1 >= lastId || b(user)._2 > n,
          s"user $user state did not advance consistently")
      }
    }
  }

  test("q126 recall curve is monotone in the probe budget and bounded by the truth set") {
    val rows = SparkEntry.queries("q126_ann_recall")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 4)
    rows.foreach { case (nprobe, nQueries, nRetrieved, nHits, nTruth) =>
      assert(nQueries == 20)
      assert(nRetrieved <= nTruth, "at most k candidates per query")
      assert(nHits <= nRetrieved)
      assert(nprobe > 0)
    }
    // more probed cells can only add candidates: recall never decreases
    rows.sortBy(_._1).map(_._4).toSeq.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b, "recall must be monotone in nprobe")
      case _ =>
    }
  }

  test("q125 multiplicity histogram partitions the corpus; lang spans bounded by group size") {
    val rows = SparkEntry.queries("q125_dup_multiplicity")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (mult, nLangs, nGroups, nDocs) =>
      assert(nLangs <= mult, "a group cannot span more languages than members")
      assert(nGroups > 0)
      if (mult < 5) assert(nDocs == nGroups * mult, "below the 5+ cap, size is exact")
      else assert(nDocs >= nGroups * 5)
    }
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_._4).sum == corpus, "every document lands in exactly one cell")
  }

  test("q122 kNN propagation: one vote per held-out vector, labels from the labeled domain") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q122_knn_label")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val held = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 50)
    assert(out.length == held.count().toInt, "every held-out vector gets exactly one prediction")
    assert(out.map(_._1).distinct.length == out.length)
    val labelDomain = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") >= 50)
      .select(col("label")).distinct().collect().map(_.getInt(0)).toSet
    out.foreach { case (_, pred, _, correct) =>
      assert(labelDomain.contains(pred), "prediction must come from a labeled neighbor")
      assert(correct == 0 || correct == 1)
    }
    // the correct flag is derived, never asserted independently of its inputs
    out.foreach { case (_, pred, truth, correct) =>
      assert((pred == truth) == (correct == 1))
    }
  }

  test("q147 KMV overlap: full pair matrix, sketch-combine invariants hold") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q147_kmv_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8)))
    val nSources = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source")).distinct().count().toInt
    assert(rows.length == nSources * (nSources - 1) / 2,
      "every unordered source pair appears exactly once")
    rows.foreach { case (a, b, m, rho, estA, estB, estU, estI, jppm) =>
      assert(a < b, "canonical pair order")
      assert(m >= 1 && m <= 64 && rho >= 0 && rho <= m)
      // the union sketch's kth value is <= either input's kth value, so the
      // combined estimate can never fall below the larger input estimate
      assert(estU >= math.max(estA, estB),
        s"($a,$b): union estimate $estU below max input ${math.max(estA, estB)}")
      assert(estI <= estU && jppm >= 0 && jppm <= 1000000L)
      assert(estI == rho * estU / m && jppm == rho * 1000000L / m,
        "intersection and Jaccard derive exactly from (rho, m, union)")
    }
  }

  test("q148 half-sample intervals: one row per source, bounds ordered, replicates bounded") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q148_halfsample_ci")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    val docCounts = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSet == docCounts.keySet, "one row per source")
    rows.foreach { case (src, nDocs, mean, nReps, lo, hi, spread) =>
      assert(nDocs == docCounts(src), s"$src: full-sample doc count")
      assert(nReps >= 1 && nReps <= 32, s"$src: $nReps replicates")
      assert(lo <= hi && spread == hi - lo, s"$src: interval must be ordered")
      assert(mean > 0 && lo > 0, s"$src: milli-char means are positive")
    }
  }

  test("q151 BPE pairs: 2-char pairs, non-increasing counts, top pair recounted exactly") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q151_bpe_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    assert(rows.forall(_._1.length == 2), "every candidate merge is an adjacent pair")
    rows.map(_._2).toSeq.sliding(2).foreach { case Seq(a, b) => assert(a >= b); case _ => }
    assert(rows.forall { case (_, _, ppm) => ppm > 0 && ppm <= 1000000L })
    // recount the top pair straight off the corpus (token stream, not vocab)
    val (topPair, topN, _) = rows.head
    val recount = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("p"))
      .filter(col("p") === topPair).count()
    assert(recount == topN, s"vocab-weighted count $topN != corpus recount $recount")
  }

  test("q152 IVF balance: dense cell report, populations partition the corpus, load derives from share") {
    val rows = SparkEntry.queries("q152_ivf_balance")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 32, "one row per centroid, dead cells included")
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_._2).sum == corpus, "cells partition the corpus exactly")
    rows.foreach { case (cell, n, share, load, meanCos) =>
      assert(n * 1000000L / corpus == share, s"cell $cell share")
      assert(n * 32L * 1000000L / corpus == load, s"cell $cell load factor")
      assert(meanCos >= -1000000L && meanCos <= 1000000L, s"cell $cell mean cosine")
      if (n == 0) assert(meanCos == 0, s"dead cell $cell must report 0 coherence")
    }
  }

  test("q154 group split: same pair universe per mode, group leakage bounded by cross-source pairs") {
    import graft.functions.{Dedup, Text}
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q154_group_split")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("id_hash", "group_hash"))
    val (nG, crossG, ttG) = rows("group_hash")
    val (nI, crossI, ttI) = rows("id_hash")
    assert(nG == nI, "both modes score the SAME candidate pairs")
    Seq((crossG, ttG), (crossI, ttI)).foreach { case (c, tt) =>
      assert(tt <= c && c <= nG, "train-test leaks are a subset of cross-split pairs")
    }
    // the group-split guarantee: same-source pairs can never cross, so
    // group-mode crossings are bounded by the cross-source pair count
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(size(Text.shingles(col("text"), 3)) > 0)
    val src = d.select(col("doc_id"), col("source"))
    val crossSource = Dedup.minHashCandidates(d, col("doc_id"), col("text"), 3, 2, 2)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
      .filter(col("src_a") =!= col("src_b")).count()
    assert(crossG <= crossSource,
      s"group-split crossings $crossG exceed cross-source pairs $crossSource")
  }

  test("q155 dim health: every dimension reported once, energy shares total ~1e6") {
    import org.apache.spark.sql.functions.{col, size => asize}
    val rows = SparkEntry.queries("q155_dim_health")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val dim = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(asize(col("embedding"))).head().getInt(0)
    assert(rows.map(_._1).toSeq == (0L until dim.toLong), "dense, ordered dimension report")
    val energySum = rows.map(_._4).sum
    // each of `dim` integer DIVs truncates < 1 ppm
    assert(energySum <= 1000000L && energySum > 1000000L - dim,
      s"energy shares must partition the mass: $energySum")
    rows.foreach { case (d, nZero, _, eppm) =>
      assert(nZero >= 0 && eppm >= 0, s"dim $d")
    }
  }

  test("q156 curriculum: the selection fills the half-token budget to within one document") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q156_curriculum_budget")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val toks = spark.read.parquet(s"$sf/documents.parquet")
      .select(size(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), "\\s+"))
        .cast("long").as("tok"))
    val (total, maxTok) = toks.agg(sum(col("tok")), max(col("tok"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).head
    val budget = total / 2
    val selected = rows.map(_._3).sum
    assert(selected <= budget, s"selection $selected exceeds budget $budget")
    assert(selected > budget - maxTok,
      s"greedy prefix must fill the budget to within one document: $selected vs $budget (max doc $maxTok)")
  }

  test("q157 attribution: revenue conserved to the micro per day, classes well-formed") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q157_attribution")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.map(_._2).toSet.subsetOf(Set("first", "middle", "last", "direct")))
    // the remainder-to-last rule makes attribution a PARTITION of revenue:
    // per day, attributed micros must equal raw purchase micros exactly
    val purchases = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(expr("ts div 86400000000000").as("day"),
        (col("value").cast(DecimalType(18, 2)) * 1000000).cast("long").as("vmicro"))
      .groupBy(col("day")).agg(sum(col("vmicro")).as("v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val attributed = rows.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._4).sum }
    assert(attributed == purchases,
      s"attribution must conserve revenue: ${attributed.toSeq.sorted.take(3)} vs ${purchases.toSeq.sorted.take(3)}")
    // every day with any purchase has a 'last' or 'direct' row (value must land somewhere)
    rows.groupBy(_._1).foreach { case (d, rs) =>
      assert(rs.exists(r => r._2 == "last" || r._2 == "direct"), s"day $d")
    }
  }

  test("q158 lift pairs: canonical pair grid, lift derives exactly from the session marginals") {
    import graft.ops.Events
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q158_lift_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.foreach { case (a, b, nab, support, _) =>
      assert(a < b, "canonical order")
      assert(nab > 0 && support > 0 && support <= 1000000L)
    }
    // recompute the marginals for every pair and pin the exact lift formula
    val e = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
    val st = Events.sessionize(e, col("user_id"), col("ts_us"), col("event_id"), 1800000000L)
      .select(col("user_id"), col("session_seq"), col("event_type")).distinct()
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getString(2)))
    val bySession = st.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val n = bySession.size.toLong
    val marg = st.groupBy(_._2).map { case (t, vs) => t -> vs.length.toLong }
    rows.foreach { case (a, b, nab, support, lift) =>
      val expectNab = bySession.values.count(s => s.contains(a) && s.contains(b)).toLong
      assert(nab == expectNab, s"($a,$b) co-occurrence")
      assert(support == nab * 1000000L / n)
      assert(lift == (BigInt(nab) * n * 1000000 / (BigInt(marg(a)) * marg(b))).toLong,
        s"($a,$b) lift")
    }
  }

  test("q159 transitions: rows normalize to ~1e6 per from-state, totals match session lengths") {
    import graft.ops.Events
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q159_transition_matrix")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (from, rs) =>
      val total = rs.map(_._4).sum
      // each cell truncates < 1 ppm
      assert(total <= 1000000L && total > 1000000L - rs.length,
        s"$from: row probabilities sum to $total")
    }
    // total transitions = sum over sessions of (length - 1)
    val e = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"), col("event_type"))
    val sessLens = Events.sessionize(e, col("user_id"), col("ts_us"), col("event_id"), 1800000000L)
      .groupBy(col("user_id"), col("session_seq")).count()
      .agg(sum(col("count") - 1)).head().getLong(0)
    assert(rows.map(_._3).sum == sessLens,
      "every consecutive in-session pair is exactly one transition")
  }

  test("q160 scorecard: brute is perfect by construction, approximate methods are bounded by it") {
    val rows = SparkEntry.queries("q160_ann_scorecard")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows.keySet == Set("brute", "lsh", "ivf"))
    val (bq, bHits, bRecall, bMrr) = rows("brute")
    assert(bq == 5 && bHits == 50 && bRecall == 1000000L && bMrr == 1000000L,
      s"brute vs its own truth must be perfect: ${rows("brute")}")
    Seq("lsh", "ivf").foreach { m =>
      val (nq, hits, recall, mrr) = rows(m)
      assert(nq == 5, s"$m must be scored on the full query set")
      assert(hits <= bHits && recall <= bRecall && mrr <= bMrr, s"$m exceeds truth")
      assert(recall == hits * 1000000L / (nq * 10L), s"$m recall derivation")
      assert(mrr >= 0 && recall >= 0)
    }
  }

  test("q162 trend slope: closed form matches a BigInt recomputation from the daily rollup") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q162_trend_slope")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val daily = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        (col("value").cast(DecimalType(18, 2)) * 1000000).cast("long").as("v"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("v")).as("y"))
      .collect().map(r => (r.getString(0), BigInt(r.getLong(1)), BigInt(r.getLong(2))))
    daily.groupBy(_._1).foreach { case (tpe, ds) =>
      val n = BigInt(ds.length)
      val sx = ds.map(_._2).sum; val sy = ds.map(_._3).sum
      val sxy = ds.map(d => d._2 * d._3).sum; val sxx = ds.map(d => d._2 * d._2).sum
      val num = n * sxy - sx * sy; val den = n * sxx - sx * sx
      val expect =
        if (den == 0) BigInt(0)
        else if (num >= 0) (num * 1000000) / den
        else -((-num * 1000000) / den)
      val (gotN, gotSlope) = rows(tpe)
      assert(gotN == ds.length && BigInt(gotSlope) == expect,
        s"$tpe: slope $gotSlope != $expect over $gotN days")
    }
  }

  test("q163 Benford: dense 9-digit grid per type, shares partition each type's rows") {
    val rows = SparkEntry.queries("q163_benford")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val types = rows.map(_._1).distinct
    assert(rows.length == types.length * 9, "dense grid: every type x digit 1..9")
    val benford1 = rows.find(_._2 == 1L).get._5
    assert(benford1 == 301030L, "log10(2) in ppm")
    rows.groupBy(_._1).foreach { case (t, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to 9L), s"$t digits")
      val obsSum = rs.map(_._4).sum
      assert(obsSum <= 1000000L && obsSum > 1000000L - 9, s"$t shares sum $obsSum")
      rs.foreach { case (_, _, n, obs, bf, dev) =>
        assert(dev == obs - bf && n >= 0, s"$t deviation derivation")
      }
    }
  }

  test("q164 portable HLL: sketches merge upward, corrected estimates track the exact audit") {
    val rows = SparkEntry.queries("q164_hll_portable")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val days = rows.filter(_._1 == "day")
    val weeks = rows.filter(_._1 == "week")
    assert(days.nonEmpty && weeks.nonEmpty)
    // register-wise max-merge can only add registers: a week's used-register
    // count is at least any of its days' and at most the capped sum
    weeks.foreach { case (_, wk, nUsed, _, wExact) =>
      val inWeek = days.filter(d => d._2 / 7 == wk)
      assert(inWeek.nonEmpty)
      assert(nUsed >= inWeek.map(_._3).max, s"week $wk lost registers in the merge")
      assert(nUsed <= math.min(256L, inWeek.map(_._3).sum), s"week $wk register count")
      assert(wExact >= inWeek.map(_._5).max, s"week $wk exact below a day's")
    }
    // deterministic data + corrected estimator: keep the sketch honest
    rows.foreach { case (g, p, nUsed, est, exact) =>
      assert(nUsed >= 1 && nUsed <= 256)
      assert(est > 0 && exact > 0)
      val errPct = math.abs(est - exact) * 100.0 / exact
      assert(errPct < 25.0, s"$g $p: estimate $est vs exact $exact ($errPct%)")
    }
  }

  test("q165 centroid drift: one row per populated label, Cauchy-Schwarz bounds, drift complements") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q165_centroid_drift")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("label")).distinct().count()
    assert(rows.length <= labels && rows.nonEmpty)
    rows.foreach { case (label, nA, nB, sim2, drift) =>
      assert(nA > 0 && nB > 0, s"label $label: both releases populated by construction")
      assert(sim2 >= -1000000L && sim2 <= 1000000L, s"label $label: |cos^2| <= 1 (Cauchy-Schwarz)")
      assert(drift == 1000000L - sim2, s"label $label: drift complements sim2")
      // NOTE deliberately no closeness assertion: the synthetic embeddings
      // are direction-free noise, so tiny per-release centroids are nearly
      // orthogonal and the monitor CORRECTLY reports near-total drift —
      // which is itself the behavior worth pinning
      assert(drift >= 0, s"label $label")
    }
  }

  test("q167 span corruption: mask rate near 15%, spans bound the masked count") {
    val rows = SparkEntry.queries("q167_span_corruption")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val (totTok, totMask) = (rows.map(_._3).sum, rows.map(_._4).sum)
    // deterministic hash mask at threshold 150/1000 — corpus-wide rate
    // must sit near 15% (binomial wobble at sf0.001 sizes)
    val ratePpm = totMask * 1000000L / totTok
    assert(ratePpm > 100000L && ratePpm < 200000L, s"corpus mask rate $ratePpm ppm")
    rows.foreach { case (lang, nDocs, nTok, nMask, nSpans, maskPpm, meanMilli) =>
      assert(nDocs > 0 && nTok > 0)
      assert(nSpans <= nMask, s"$lang: a span needs at least one masked token")
      assert(nMask <= nTok && maskPpm == nMask * 1000000L / nTok)
      if (nSpans > 0) {
        assert(meanMilli == nMask * 1000L / nSpans, s"$lang mean span derivation")
        assert(meanMilli >= 1000L, s"$lang: mean span length is at least one token")
      }
    }
  }

  test("q168 vocab Gini: tie-group closed form equals the naive sorted-rank Gini") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q168_vocab_gini")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (s, n, tot, gini) =>
      assert(n > 0 && tot >= n && gini >= 0 && gini < 1000000L, s"$s: $gini")
    }
    // recompute one source's Gini the naive way: sort counts, rank, sum
    val (src, n, tot, gini) = rows.head
    val counts = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("source") === src)
      .select(explode(split(lower(regexp_replace(trim(col("text")), "\\s+", " ")), "\\s+")).as("w"))
      .groupBy(col("w")).count().collect().map(_.getLong(1)).sorted
    assert(counts.length == n && counts.sum == tot, s"$src vocab recount")
    val rix = counts.zipWithIndex.map { case (x, i) => BigInt(i + 1) * x }.sum
    val expect = (2 * rix - BigInt(n + 1) * tot) * 1000000 / (BigInt(n) * tot)
    assert(BigInt(gini) == expect, s"$src: closed form $gini != naive $expect")
  }

  test("q169 winsorized means: bounds are real data values, clamping matches a naive replay") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q169_winsorized")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val centsByType = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    rows.foreach { case (t, n, lo, hi, mean, winMean) =>
      val cs = centsByType(t)
      assert(n == cs.length)
      assert(lo <= hi && cs.contains(lo) && cs.contains(hi),
        s"$t: bounds must be actual data values")
      // naive replay: p-th bound = value at rank ceil(n*p/100) (1-indexed)
      assert(lo == cs(((n * 5 + 99) / 100 - 1).toInt), s"$t lower bound")
      assert(hi == cs(((n * 95 + 99) / 100 - 1).toInt), s"$t upper bound")
      assert(mean == 1000L * cs.sum / n)
      val wsum = cs.map(c => math.max(lo, math.min(hi, c))).sum
      assert(winMean == 1000L * wsum / n, s"$t winsorized mean")
    }
  }

  test("q170 Fano factor: dense shared day range, BigInt replay of the dispersion") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q170_fano_burstiness")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.map(_._2).distinct.length == 1,
      "every type is scored over the SAME dense day range")
    val daily = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"))
      .groupBy(col("event_type"), col("day")).count()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val (loD, hiD) = (daily.map(_._2).min, daily.map(_._2).max)
    rows.foreach { case (t, nDays, tot, meanMilli, fano) =>
      assert(nDays == hiD - loD + 1)
      val xs = (loD to hiD).map(d =>
        daily.find(r => r._1 == t && r._2 == d).map(_._3).getOrElse(0L))
      assert(xs.sum == tot && meanMilli == 1000L * tot / nDays)
      val (n, s) = (BigInt(nDays), BigInt(tot))
      val sxx = xs.map(x => BigInt(x) * x).sum
      val expect = if (tot == 0) BigInt(0) else (1000 * (n * sxx - s * s)) / (n * s)
      assert(BigInt(fano) == expect, s"$t: fano $fano != $expect")
      assert(fano >= 0)
    }
  }

  test("q171 Kaplan-Meier: survival is monotone, conserves risk sets, replays stepwise") {
    val rows = SparkEntry.queries("q171_km_retention")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.nonEmpty)
    // risk-set conservation: n at day i+1 = n at day i minus churned at i
    rows.toSeq.sliding(2).foreach {
      case Seq((d1, n1, c1, _), (d2, n2, _, _)) =>
        assert(d2 == d1 + 1, "dense day sequence")
        assert(n2 == n1 - c1, s"day $d2: risk set must shrink by the churned")
      case _ =>
    }
    // stepwise integer product replay, monotone non-increasing survival
    var acc = 1000000L
    rows.foreach { case (day, n, d, surv) =>
      acc = if (n == 0) acc else acc * (n - d) / n
      assert(surv == acc, s"day $day: survival $surv != stepwise $acc")
    }
    assert(rows.last._3 == 0, "final-day users are censored, never churned")
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(-_).toSeq, "monotone")
  }

  test("q172 fuzzy blocks: pairs are the exact in-block combinatorics, matches replay on one block") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q172_fuzzy_blocks")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (blk, n, pairs, matches, ppm) =>
      assert(pairs == n * (n - 1) / 2, s"$blk: every in-block pair is compared exactly once")
      assert(matches <= pairs, blk)
      assert(ppm == (if (pairs == 0) 0L else matches * 1000000L / pairs), blk)
    }
    // replay one block's Levenshtein adjudication naively
    val (blk, _, _, matches, _) = rows.maxBy(_._2)
    val names = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_name").startsWith(blk)).collect().map(_.getString(1))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val naive = names.combinations(2).count { case Array(a, b) => lev(a, b) <= 1 }
    assert(matches == naive, s"$blk: $matches != naive $naive")
  }

  test("q173 lead time: ordered percentiles, totals partition the join, naive replay per priority") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q173_lead_time")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val lags = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(graft.sources.Tables.load(spark, sf, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("d"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).sorted }
    assert(rows.map(_._1).toSet == lags.keySet)
    rows.foreach { case (p, n, med, p90, mx) =>
      val ds = lags(p)
      assert(n == ds.length && mx == ds.last)
      assert(med <= p90 && p90 <= mx)
      assert(med == ds(((n * 50 + 99) / 100 - 1).toInt), s"$p median")
      assert(p90 == ds(((n * 90 + 99) / 100 - 1).toInt), s"$p p90")
    }
  }

  test("q174 variance bridge reconciles exactly: delta = volume + price + mix + new - discontinued") {
    val rows = SparkEntry.queries("q174_variance_bridge")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (brand, nBoth, delta, vol, price, mix, nw, disc) =>
      // the reconciliation that makes a bridge trustworthy — to the cent
      assert(delta == vol + price + mix + nw - disc,
        s"$brand: bridge does not tie out: $delta != $vol+$price+$mix+$nw-$disc")
      assert(nBoth >= 0 && nw >= 0 && disc >= 0)
    }
    // the bridge must actually decompose something at this scale
    assert(rows.exists(r => r._4 != 0 || r._5 != 0), "all-zero effects")
  }

  test("q175 part affinity: support floor holds, lift ranked, top pair replays from marginals") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q175_part_affinity")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 20)
    rows.foreach { case (a, b, nab, _) =>
      assert(a < b, "canonical pair order")
      assert(nab >= 3, "support floor")
    }
    assert(rows.map(_._4).toSeq == rows.map(_._4).sortBy(-_).toSeq, "ranked by lift")
    // replay the top pair's lift from independently recomputed marginals
    val (pa, pb, nab, lift) = rows.head
    val baskets = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nOrders = baskets.map(_._1).distinct.length
    val na = baskets.count(_._2 == pa); val nb = baskets.count(_._2 == pb)
    val byOrder = baskets.groupBy(_._1).map { case (_, vs) => vs.map(_._2).toSet }
    val coc = byOrder.count(s => s.contains(pa) && s.contains(pb))
    assert(coc == nab, s"($pa,$pb) co-occurrence")
    assert(BigInt(lift) == BigInt(nab) * nOrders * 1000000 / (BigInt(na) * nb),
      s"($pa,$pb) lift")
  }

  test("q176 cohort LTV: non-negative ages, cumulative runs exactly, totals match purchases") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q176_cohort_ltv")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, age, n, rev, _) =>
      assert(age >= 0, "a purchase cannot precede the user's first event")
      assert(n > 0 && rev > 0)
    }
    rows.groupBy(_._1).foreach { case (cohort, rs) =>
      val sorted = rs.sortBy(_._2)
      var acc = 0L
      sorted.foreach { case (_, age, _, rev, cum) =>
        acc += rev
        assert(cum == acc, s"cohort $cohort age $age: cumulative $cum != $acc")
      }
    }
    // global conservation against an independent purchase-revenue total
    val total = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .agg(sum((col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long"))).head().getLong(0)
    assert(rows.map(_._4).sum == total, "LTV cells must partition purchase revenue")
  }

  test("q177 purchase cadence: gap count and percentiles replay from a naive per-user walk") {
    import org.apache.spark.sql.functions._
    val Array(row) = SparkEntry.queries("q177_purchase_cadence")(spark, sf).collect()
    val (nUsers, nRepeat, repeatPpm, nGaps, med, p90) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
        row.getLong(4), row.getLong(5))
    val purchases = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 1000").as("us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byUser = purchases.groupBy(_._1).map { case (u, vs) =>
      u -> vs.sortBy(v => (v._2, v._3)).map(_._2) }
    assert(nUsers == byUser.size)
    assert(nRepeat == byUser.count(_._2.length >= 2))
    assert(repeatPpm == nRepeat * 1000000L / nUsers)
    val gaps = byUser.values.flatMap(ts =>
      ts.toSeq.sliding(2).collect { case Seq(a, b) => (b - a) / 86400000000L }).toSeq.sorted
    assert(nGaps == gaps.length)
    assert(med == gaps(((nGaps * 50 + 99) / 100 - 1).toInt))
    assert(p90 == gaps(((nGaps * 90 + 99) / 100 - 1).toInt))
    assert(med <= p90)
  }

  test("q178 modal coverage: per-language doc counts partition the corpus, bounds hold") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("q178_modal_coverage")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet").count()
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_._2).sum == docs, "language rows partition the corpus")
    val embedded = rows.map(_._3).sum
    val orphans = rows.head._5
    assert(rows.forall(_._5 == orphans), "orphan count is a corpus-level constant")
    // conservation: every vector is either matched to a doc or an orphan
    assert(embedded + orphans == vecs, s"$embedded + $orphans != $vecs")
    rows.foreach { case (lang, n, emb, ppm, _) =>
      assert(emb <= n && ppm == emb * 1000000L / n, lang)
    }
  }

  test("q179 RFM: segments partition purchasers and revenue, quintile scores stay in range") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q179_rfm_segments")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (rs, fs, ms, n, rev) =>
      assert(rs >= 0 && rs <= 4 && fs >= 0 && fs <= 4 && ms >= 0 && ms <= 4)
      assert(n > 0 && rev > 0)
    }
    val p = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
    val nUsers = p.select(col("user_id")).distinct().count()
    val totalRev = p.agg(sum((col("value").cast(DecimalType(18, 2)) * 100).cast("long")))
      .head().getLong(0)
    assert(rows.map(_._4).sum == nUsers, "segments partition the purchaser base")
    assert(rows.map(_._5).sum == totalRev, "segments partition revenue to the cent")
    // value-based quintiles over ~uniform data must use the full range
    assert(rows.map(_._1).distinct.length >= 3 && rows.map(_._3).distinct.length >= 3)
  }

  test("q180 Pareto: shares replay from a naive sorted cut, monotone and bounded") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q180_pareto")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 5L, 10L, 20L, 50L))
    val perCust = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey"))
      .agg(sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast("long")).as("v"))
      .collect().map(_.getLong(1)).sortBy(-_)
    val total = perCust.sum
    rows.foreach { case (pct, nTop, rev, ppm) =>
      assert(nTop == (perCust.length * pct + 99) / 100)
      // ties at the boundary all carry the same value, so the naive
      // take-first-nTop revenue is the unique exact answer
      assert(rev == perCust.take(nTop.toInt).sum, s"$pct%: $rev")
      assert(ppm == rev * 1000000L / total)
      assert(ppm >= pct * 10000L, s"$pct%: top share cannot be below uniform")
    }
    assert(rows.map(_._4).toSeq == rows.map(_._4).sorted.toSeq,
      "share grows with the cut")
  }

  test("q181 stationary distribution: near-probability mass, consistent with q159's chain") {
    val rows = SparkEntry.queries("q181_journey_stationary")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val statSum = rows.map(_._2).sum
    // integer DIV truncation loses a little mass per round/state, never gains
    assert(statSum <= 1000000L && statSum > 990000L,
      s"stationary mass $statSum must stay near 1e6")
    val obsSum = rows.map(_._4).sum
    assert(obsSum <= 1000000L && obsSum > 1000000L - rows.length)
    rows.foreach { case (t, stat, n, obs, gap) =>
      assert(stat >= 0 && obs > 0 && n > 0)
      assert(gap == stat - obs, s"$t gap derivation")
    }
    // a 5-state chain fed by ~uniform synthetic types: no state should
    // dominate or vanish in the stationary limit
    assert(rows.map(_._2).max < 500000L && rows.map(_._2).min > 50000L)
  }

  test("q182 market share: ppm shares sum to ~1e6 per region-year and revenue replays exactly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q182_market_share")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // shares within a (region, year) sum to 1e6 minus at most one DIV
    // truncation unit per nation
    rows.groupBy(t => (t._1, t._2)).foreach { case (ry, g) =>
      val s = g.map(_._5).sum
      assert(s <= 1000000L && s > 1000000L - g.length, s"$ry share sum $s")
    }
    // total revenue replays against a direct decimal aggregate
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))
        * 10000).cast("long"))).head().getLong(0)
    assert(rows.map(_._4).sum == direct, "every lineitem's revenue lands in exactly one cell")
  }

  test("q183 supplier wait: credits replay from a per-order recomputation") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q183_supplier_wait")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty && rows.map(_._2).toSeq == rows.map(_._2).sortBy(-_).toSeq)
    // brute-force recomputation of the sole-late-supplier rule
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
    val flat = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 60).as("late"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byOrder = flat.groupBy(_._1).map { case (ok, ls) =>
      val bySupp = ls.groupBy(_._2).map { case (sk, g) => sk -> g.exists(_._3) }
      ok -> bySupp
    }
    val credits = byOrder.values.flatMap { bySupp =>
      val late = bySupp.filter(_._2).keys.toSeq
      if (bySupp.size > 1 && late.length == 1) late else Nil
    }.groupBy(identity).map { case (sk, g) => sk -> g.size.toLong }
    val names = spark.read.parquet(s"$sf/supplier.parquet")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expected = credits.toSeq.map { case (sk, n) => (names(sk), n) }
      .sortBy { case (n, w) => (-w, n) }.take(10)
    assert(rows.toSeq == expected, s"${rows.toSeq} vs $expected")
  }

  test("q185 freshness: head lag is zero for the freshest type and rates divide exactly") {
    val rows = SparkEntry.queries("q185_freshness_lag")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    assert(rows.exists(_._4 == 0L), "some type carries the stream head")
    rows.foreach { case (et, n, days, lag, rate) =>
      assert(lag >= 0L && days > 0L && rate == n / days, et)
    }
  }

  test("q187 decile migration: the matrix partitions purchasers and conserves the revenue delta") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q187_decile_migration")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (a, b, n, _) =>
      assert(a >= 0 && a <= 4 && b >= 0 && b <= 4 && n > 0)
    }
    val p = graft.sources.Tables.load(spark, sf, "events")
      .filter(col("event_type") === "purchase")
    assert(rows.map(_._3).sum == p.select(col("user_id")).distinct().count(),
      "matrix partitions the purchaser base")
    // Σ delta over all cells = Σ(v2) − Σ(v1) = second-half − first-half
    // revenue, replayed directly
    val mid = p.select(expr("ts div 86400000000000").as("day"))
      .agg(expr("min(day) + (max(day) - min(day) + 1L) DIV 2")).head().getLong(0)
    val halves = p.select(expr("ts div 86400000000000").as("day"),
        (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"))
      .agg(sum(when(col("day") >= mid, col("cents")).otherwise(0L)),
        sum(when(col("day") < mid, col("cents")).otherwise(0L))).head()
    assert(rows.map(_._4).sum == halves.getLong(0) - halves.getLong(1),
      "delta conserves to the cent")
  }

  test("q184 EWMA: the integer recurrence replays on the driver, first day never flags") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q184_ewma_anomaly")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    def sgnDiv8(d: Long): Long = if (d >= 0) d / 8 else -((-d) / 8)
    rows.groupBy(_._1).foreach { case (et, g) =>
      val days = g.sortBy(_._2)
      var e = days.head._3 * 1000000L
      days.zipWithIndex.foreach { case ((_, _, n, ePrev, flag), i) =>
        val expectPrev = e
        if (i > 0) e = e + sgnDiv8(n * 1000000L - e)
        assert(ePrev == expectPrev, s"$et day $i: $ePrev vs $expectPrev")
        val expectFlag = if (math.abs(n * 1000000L - expectPrev) * 2 > expectPrev) 1L else 0L
        assert(flag == expectFlag, s"$et day $i flag")
      }
      assert(days.head._5 == 0L, s"$et: first day can never deviate from itself")
    }
  }

  test("q186 dup core: 3-core nests inside 2-core and every core vertex keeps k edges") {
    val rows = SparkEntry.queries("q186_dup_core")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(2L, 3L))
    val byK = rows.map(t => t._1 -> ((t._2, t._3))).toMap
    val (n2, e2) = byK(2L)
    val (n3, e3) = byK(3L)
    assert(n3 <= n2 && e3 <= e2, "k-cores are nested")
    // degree >= k for every core vertex -> edges >= nodes*k/2
    assert(2 * e2 >= 2 * n2 && 2 * e3 >= 3 * n3, s"core degree bound: $rows")
    assert((n2 == 0) == (e2 == 0) && (n3 == 0) == (e3 == 0))
  }

  test("q188 returned items: descending, returned-revenue replays per customer") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q188_returned_items")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(-_).toSeq)
    // spot-replay the top customer's lost revenue directly
    val top = rows.head
    val direct = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_returnflag") === "R")
      .join(spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_custkey") === top._1),
        col("l_orderkey") === col("o_orderkey"))
      .agg(sum((col("l_extendedprice").cast(DecimalType(18, 2)) *
        (lit(1).cast(DecimalType(18, 2)) - col("l_discount").cast(DecimalType(18, 2)))
        * 10000).cast("long"))).head().getLong(0)
    assert(top._3 == direct, s"top customer revenue $top vs $direct")
  }

  test("q189 priority check: counts bounded by the window's orders, no priority invented") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q189_priority_check")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.nonEmpty)
    val windowOrders = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
    val perPriority = windowOrders.groupBy(col("o_orderpriority")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (p, n) =>
      assert(perPriority.contains(p) && n > 0 && n <= perPriority(p), s"$p: $n")
    }
  }

  test("q190 Theil-Sen: median slope replays from a naive all-pairs sort per type") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q190_theil_sen")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val daily = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), expr("ts div 86400000000000").as("day"),
        (col("value").cast(DecimalType(18, 2)) * 1000000).cast("long").as("v"))
      .groupBy(col("event_type"), col("day")).agg(sum(col("v")).as("y"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (et, nPairs, slope) =>
      val days = daily.filter(_._1 == et).sortBy(_._2)
      val slopes = for {
        i <- days.indices; j <- (i + 1) until days.length
      } yield (days(j)._3 - days(i)._3, days(j)._2 - days(i)._2)
      assert(nPairs == slopes.length.toLong, s"$et pair count")
      val sorted = slopes.sortBy { case (num, den) =>
        (num.toDouble / den, num, den) }
      val (num, den) = sorted((slopes.length + 1) / 2 - 1)
      val expect = if (num >= 0) num * 1000000L / den else -((-num) * 1000000L / den)
      assert(slope == expect, s"$et: $slope vs $expect")
    }
  }

  test("q191 skyline: members replay from naive dominance; non-members are all dominated") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val sky = SparkEntry.queries("q191_skyline")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = spark.read.parquet(s"$sf/part.parquet")
      .select(col("p_partkey"),
        (col("p_retailprice").cast(DecimalType(18, 2)) * 100).cast("long"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominated(p: (Long, Long, Long)): Boolean = all.exists(q =>
      q._2 <= p._2 && q._3 >= p._3 && (q._2 < p._2 || q._3 > p._3))
    val expect = all.filterNot(dominated).toSet
    assert(sky == expect, s"${sky.size} vs ${expect.size}")
    assert(sky.nonEmpty)
  }

  test("q192 grouping sets: each level's rows partition the corpus; no CUBE-only levels leak") {
    val rows = SparkEntry.queries("q192_grouping_sets")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    // exactly three levels: (lang, source) g=00, (lang) g=01, () g=11 —
    // the (source)-only level (g=10) must NOT appear (that's CUBE)
    val levels = rows.map(t => (t._5, t._6)).distinct.sorted.toSeq
    assert(levels == Seq((0L, 0L), (0L, 1L), (1L, 1L)), levels.toString)
    for ((gl, gs) <- levels) {
      val lvl = rows.filter(t => t._5 == gl && t._6 == gs)
      assert(lvl.map(_._3).sum == total, s"level ($gl,$gs) must partition the corpus")
    }
    val grand = rows.filter(t => t._5 == 1L && t._6 == 1L)
    assert(grand.length == 1 && grand.head._1 == "ALL" && grand.head._2 == "ALL")
  }

  test("q193 MAD: medians replay from driver-side sorts; fence is robust to the max doc") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q193_mad_outliers")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.length + 1) / 2 - 1)
    rows.foreach { case (lang, n, med, mad, nOut) =>
      val vs = docs.filter(_._1 == lang).map(_._2).toSeq
      assert(n == vs.length.toLong, lang)
      assert(med == lowerMedian(vs), s"$lang median")
      val devs = vs.map(v => math.abs(v - med))
      assert(mad == lowerMedian(devs), s"$lang mad")
      assert(nOut == devs.count(_ > 3 * mad).toLong, s"$lang outliers")
    }
  }

  test("q194 audience overlap: bitmap counts equal distinct-set arithmetic") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q194_audience_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val sets = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), col("user_id"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (t, g) => t -> g.map(_._2).toSet }
    rows.foreach { case (a, b, na, nb, ov, ppm) =>
      assert(na == sets(a).size.toLong && nb == sets(b).size.toLong, s"$a/$b sizes")
      val inter = (sets(a) & sets(b)).size.toLong
      assert(ov == inter, s"$a/$b overlap $ov vs $inter")
      assert(ppm == inter * 1000000L / (na + nb - inter), s"$a/$b jaccard")
    }
    // every unordered pair appears exactly once
    assert(rows.map(t => (t._1, t._2)).distinct.length == rows.length)
  }

  test("q195 journey patterns: classifications replay from driver-side session walks") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q195_journey_patterns")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // rebuild walks on the driver with the same gap sessionization
    val evs = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"),
        col("event_type"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val walks = evs.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val sorted = g.sortBy(e => (e._3, e._2))
      val sessions = scala.collection.mutable.Buffer.empty[Seq[(Long, Long, Long, String)]]
      sorted.foreach { e =>
        if (sessions.isEmpty || e._3 - sessions.last.last._3 > 1800000000L)
          sessions += Seq(e)
        else sessions(sessions.length - 1) = sessions.last :+ e
      }
      sessions.map { s =>
        (s.head._3 / 86400000000L,
          s.take(512).map(_._4.head.toUpper).mkString)
      }
    }
    val byDay = walks.groupBy(_._1)
    rows.foreach { case (day, n, clean, frustrated) =>
      val ws = byDay(day).map(_._2)
      assert(n == ws.length.toLong, s"day $day count")
      assert(clean == ws.count(_.matches(".*S[^E]*P.*")).toLong, s"day $day clean")
      assert(frustrated == ws.count(_.matches(".*S[^P]*E.*")).toLong, s"day $day frustrated")
    }
  }

  test("q196 PPJoin: complete vs brute force, and the prefix filter genuinely prunes") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q196_ppjoin_exact")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // brute force over the same shingle sets on the driver
    val sets = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("text").isNotNull && col("doc_id") % 8 === 0)
      .select(col("doc_id"),
        array_sort(array_distinct(graft.functions.Text.charShingles(col("text"), 3))).as("sh"))
      .filter(size(col("sh")) > 0)
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toSet))
    val expect = (for {
      i <- sets.indices; j <- (i + 1) until sets.length
      (ia, sa) = sets(i); (ib, sb) = sets(j)
      inter = (sa & sb).size
      jac = inter.toDouble / (sa.size + sb.size - inter)
      if jac >= 0.65
    } yield {
      val (lo, hi) = if (ia < ib) (ia, ib) else (ib, ia)
      (lo, hi, jac)
    }).sortBy(t => (t._1, t._2))
    assert(got.toSeq == expect, s"${got.length} vs ${expect.length} pairs")
    // the point of the prefix filter: far fewer candidates than all pairs
    assert(got.nonEmpty, "fixture must produce at least one qualifying pair")
    val allPairs = sets.length.toLong * (sets.length - 1) / 2
    assert(got.length < allPairs / 10,
      "threshold 0.65 should be selective on this corpus")
  }

  test("q196 PPJoin edge: threshold-exact pairs survive every prune with zero slack") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // Two engineered pairs sitting EXACTLY on the t = 0.65 boundary, built
    // from sliding char-3-grams over distinct-char strings (n distinct
    // chars -> n-2 distinct shingles; appending fresh chars adds exactly
    // 2 bridge + (k-2) new shingles):
    //
    //  SUBSET pair (docs 0, 8): A = 28 distinct chars (26 shingles),
    //    B = A ++ 14 fresh chars (40 shingles, the first 26 = A's).
    //    o = 26, J = 26/40 = 0.65 exactly;
    //    - size filter at EQUALITY: ma*20 = 520 = mb*13 (a `>` kills it);
    //    - A's tokens are all shared (df = 2) while B's 14 unshared are
    //      df = 1, so B's prefix (40 - 26 + 1 = 15) holds exactly ONE
    //      shared token, at its LAST slot: the pair's only candidate row
    //      has extreme ranks (ra = 1, rb = 15) and positional bound
    //      min(0, 14) + 1 + min(25, 25) = 26 = alpha EXACTLY — any
    //      off-by-one in the bound, alpha, or the prefix length prunes
    //      the pair's sole row and the pair vanishes.
    //  EQUAL pair (docs 16, 24): A = 35 distinct chars (33 shingles),
    //    B = A's first 28 chars ++ 7 fresh (33 shingles, 26 shared).
    //    J = 26/(33 + 33 - 26) = 0.65 exactly.
    //
    // Disjoint alphabets across pairs keep cross-pair similarity at 0 and
    // every df in {1, 2}.
    val p1 = (33 to 74).map(_.toChar).mkString   // 42 chars for pair 1
    val p2 = (75 to 116).map(_.toChar).mkString  // 42 chars for pair 2
    val docA1 = p1.substring(0, 28)
    val docB1 = p1 // A1 ++ 14 fresh
    val docA2 = p2.substring(0, 35)
    val docB2 = p2.substring(0, 28) + p2.substring(35, 42)
    // fixture self-check: the engineered geometry, via the same shingler
    def shingles(s: String): Set[String] = s.sliding(3).toSet
    assert(shingles(docA1).size == 26 && shingles(docB1).size == 40 &&
      (shingles(docA1) & shingles(docB1)).size == 26, "subset pair geometry")
    assert(shingles(docA2).size == 33 && shingles(docB2).size == 33 &&
      (shingles(docA2) & shingles(docB2)).size == 26, "equal pair geometry")
    assert((shingles(docA1) ++ shingles(docB1))
      .intersect(shingles(docA2) ++ shingles(docB2)).isEmpty, "pair isolation")
    SpecIo.withTempDir("ppjoin_edge") { dir =>
      Seq((0L, docA1), (8L, docB1), (16L, docA2), (24L, docB2))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = SparkEntry.queries("q196_ppjoin_exact")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == Seq((0L, 8L, 0.65), (16L, 24L, 0.65)),
        s"threshold-exact pairs must survive the prune chain with J = 0.65: $got")
    }
  }

  test("q235 edge: null user_id rows form their own shard and are stamped, not dropped") {
    // The two-phase rewrite joins the carry summary back by (shard, chunk);
    // a plain equi-join would silently DROP null-shard rows that the r14
    // single-window shape (and the DuckDB oracle's PARTITION BY) kept.
    // Fixture: two null-user events where the second arrives 100s late
    // behind the first — visible ONLY if null shards survive the join.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    SpecIo.withTempDir("q235_null") { dir =>
      val schema = StructType(Seq(
        StructField("event_id", LongType, nullable = false),
        StructField("user_id", LongType, nullable = true),
        StructField("event_type", StringType, nullable = false),
        StructField("ts", LongType, nullable = false)))
      val rows = Seq(
        Row(0L, null, "view", 100000000000L),
        Row(1L, null, "view", 0L), // 100s behind the null-shard high-water
        Row(2L, 5L, "click", 0L))
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = SparkEntry.queries("q235_watermark_loss")(spark, dir).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(0L -> 1L, 60L -> 1L, 600L -> 0L, 3600L -> 0L),
        s"the null-shard straggler must be stamped late by 100s: $got")
    }
  }

  test("q197 session gap curve: counts replay against real sessionization at each threshold") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q197_session_gap_curve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(5L, 15L, 30L, 60L, 120L))
    // monotone: larger gaps merge sessions
    assert(rows.map(_._2).toSeq == rows.map(_._2).sortBy(-_).toSeq)
    val e = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"), expr("ts div 1000").as("ts_us"))
    rows.foreach { case (mins, nSessions, epsMilli) =>
      val real = graft.ops.Events.sessionize(e, col("user_id"), col("ts_us"),
          col("event_id"), mins * 60000000L)
        .select(col("user_id"), col("session_seq")).distinct().count()
      assert(nSessions == real, s"$mins min: $nSessions vs $real")
      assert(epsMilli == e.count() * 1000L / real, s"$mins min eps")
    }
  }

  test("q198 A/B test: z-squared replays from the exact integer sequence on the driver") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q198_ab_test")(spark, sf).collect()
    assert(r.length == 1)
    val row = r.head
    val (na, ca, nb, cb) = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(na > 0 && nb > 0 && ca <= na && cb <= nb)
    assert(row.getLong(4) == ca * 1000000L / na && row.getLong(5) == cb * 1000000L / nb)
    val d = BigInt(ca) * nb - BigInt(cb) * na
    val a = (d * d) / (BigInt(na) * nb)
    val z2 = if (ca + cb == 0 || ca + cb == na + nb) BigInt(0)
      else (a * 1000 * (na + nb)) / (BigInt(ca + cb) * (na + nb - ca - cb))
    assert(row.getLong(6) == z2.toLong, s"z2_milli ${row.getLong(6)} vs $z2")
    assert(row.getLong(7) == (if (z2 > 3841) 1L else 0L))
    // cohort populations partition the user base
    val users = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id")).distinct().count()
    assert(na + nb == users, "cohorts partition the users")
  }

  test("q199 release merge: monotone cluster algebra and consistency with q60's full labels") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q199_release_merge")(spark, sf).collect()
    assert(r.length == 1)
    val (nDocs, before, after, merged) =
      (r.head.getLong(0), r.head.getLong(1), r.head.getLong(2), r.head.getLong(3))
    // adding documents can only merge old clusters, never split them
    assert(after <= before && merged == before - after && merged >= 0)
    assert(nDocs >= before && before >= 1)
    // the after-labels restricted to old docs must agree with q60's full
    // component labels (same pair pipeline, same propagation)
    val full = SparkEntry.queries("q60_dedup_clusters")(spark, sf)
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .filter(size(graft.functions.Text.shingles(col("text"), 3)) > 0)
      .agg(expr("(min(doc_id) + max(doc_id) + 1L) DIV 2")).head().getLong(0)
    val fullOldLabels = full.filter(col("id") < d)
      .select(col("cluster")).distinct().count()
    // q199's after-count covers only docs ALSO clustered before the
    // release, so it is bounded by the full old-doc label count
    assert(after <= fullOldLabels + 0L || fullOldLabels == 0L, s"$after vs $fullOldLabels")
  }

  test("q200 big orders: every row's quantity replays and exceeds the HAVING threshold") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val rows = SparkEntry.queries("q200_big_orders")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_._3).toSeq == rows.map(_._3).sortBy(-_).toSeq, "price-descending")
    val qty = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_orderkey"))
      .agg((sum(col("l_quantity").cast(DecimalType(18, 2))) * 100).cast("long").as("q"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (_, ok, _, q) =>
      assert(q == qty(ok) && q > 20000L, s"order $ok qty $q")
    }
  }

  test("q201 KS drift: the exact sup-distance replays from driver-side CDFs") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q201_ks_drift")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val corpusVals = docs.map(_._2).distinct.sorted
    val cn = docs.length.toLong
    rows.foreach { case (src, n, ks, at) =>
      val mine = docs.filter(_._1 == src).map(_._2)
      assert(n == mine.length.toLong, src)
      val dists = corpusVals.map { v =>
        val fc = docs.count(_._2 <= v).toLong * 1000000L / cn
        val fs = mine.count(_ <= v).toLong * 1000000L / n
        v -> math.abs(fc - fs)
      }
      val mx = dists.map(_._2).max
      assert(ks == mx, s"$src ks $ks vs $mx")
      assert(at == dists.filter(_._2 == mx).map(_._1).min, s"$src argmax")
    }
    // KS of the union against itself would be 0; real sources must differ
    assert(rows.exists(_._3 > 0L), "at least one source drifts")
  }

  test("q202 excess inventory: every row replays from a brute per-pair recomputation") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q202_excess_inventory")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1996-07-01"))
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_quantity").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pair = li.groupBy(t => (t._1, t._2)).map { case (k, g) => k -> g.map(_._3).sum }
    val avg = pair.groupBy(_._1._1).map { case (p, g) =>
      p -> g.map(_._2).sum / g.size }
    val excess = pair.filter { case ((p, _), q) => q * 2 > avg(p) * 3 }
    val bySupp = excess.groupBy(_._1._2).map { case (s, g) =>
      s -> (g.size.toLong, g.map(_._2).sum) }
    rows.foreach { case (s, n, tot) =>
      assert(bySupp(s) == ((n, tot)), s"supplier $s") }
    // top-20 cut keeps the best counts
    val kept = rows.map(_._2).min
    assert(bySupp.count(_._2._1 > kept) <= rows.length)
  }

  test("q203 idle customers: the segment thresholds and membership replay exactly") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q203_idle_customers")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val nOrd = spark.read.parquet(s"$sf/orders.parquet")
      .groupBy(col("o_custkey")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bySeg = cust.groupBy(_._2)
    val expect = bySeg.flatMap { case (seg, cs) =>
      val pos = cs.filter(_._3 > 0)
      val avgB = pos.map(_._3).sum / pos.size
      val avgN = pos.map(c => nOrd.getOrElse(c._1, 0L)).sum / pos.size
      val idle = cs.filter(c => c._3 > avgB && nOrd.getOrElse(c._1, 0L) * 2 < avgN)
      if (idle.isEmpty) None
      else Some(seg -> (idle.size.toLong, idle.map(_._3).sum))
    }
    assert(rows == expect, s"$rows vs $expect")
  }

  test("q204 event lift: counts and the integer lift replay from the incidence sets") {
    import org.apache.spark.sql.functions._
    val byName = SparkEntry.queries("q204_event_lift")(spark, sf).collect().map { r =>
      (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        (r.getAs[Long]("n_both"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("lift_ppm"))
    }.toMap
    val ut = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val users = ut.map(_._1).distinct.length.toLong
    val byType = ut.groupBy(_._2).map { case (t, g) => t -> g.size.toLong }
    val byUser = ut.groupBy(_._1)
    byName.foreach { case ((a, b), (nBoth, nA, nB, lift)) =>
      assert(a < b)
      assert(nA == byType(a) && nB == byType(b))
      val both = byUser.count { case (_, g) =>
        g.exists(_._2 == a) && g.exists(_._2 == b) }.toLong
      assert(nBoth == both, s"($a,$b)")
      assert(lift == nBoth * users * 1000000L / (nA * nB), s"($a,$b) lift")
    }
    assert(byName.nonEmpty)
  }

  test("q205 TTR curve: prefix distinct/token sums replay from a Scala tokenizer") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q205_ttr_curve")(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    }.toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("lang"), col("text"))
      .collect().map(r => (r.getString(0),
        r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ")
          .trim.split("\\s+").toSeq))
    for (((lang, k), (nDocs, d, n, ppm)) <- rows) {
      val mine = docs.filter(_._1 == lang).map(_._2)
      assert(nDocs == mine.length.toLong, s"$lang/$k docs")
      val dd = mine.map(_.take(k.toInt).distinct.length.toLong).sum
      val nn = mine.map(w => math.min(w.length, k.toInt).toLong).sum
      assert(d == dd && n == nn, s"$lang/$k: $d/$n vs $dd/$nn")
      assert(ppm == d * 1000000L / math.max(n, 1L))
    }
    // diversity must not INCREASE with the budget (more tokens, more repeats)
    rows.keys.map(_._1).foreach { lang =>
      val curve = Seq(50L, 100L, 200L).map(k => rows((lang, k))._4)
      assert(curve == curve.sorted.reverse, s"$lang TTR not non-increasing: $curve")
    }
  }

  test("q206 chunk library: totals reconcile with the per-doc q86 stats and ppm derives") {
    val rows = SparkEntry.queries("q206_chunk_library")(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    }
    assert(rows.nonEmpty)
    rows.foreach { case (src, nCh, nSh, tot, sh, ppm) =>
      assert(nSh <= nCh && sh <= tot, src)
      assert(ppm == sh * 1000000L / math.max(tot, 1L), src)
    }
    // corpus-level conservation against the q86 per-doc frame
    val q86 = SparkEntry.queries("q86_cdc_chunks")(spark, sf).collect()
    assert(rows.map(_._2).sum == q86.map(_.getLong(1)).sum, "chunk instances")
    assert(rows.map(_._4).sum == q86.map(_.getLong(2)).sum, "character mass")
  }

  test("q208 active streaks: the longest-run histogram replays from per-user day sets") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q208_active_streaks")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val days = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    def longest(ds: Seq[Long]): Long = {
      val s = ds.sorted
      var best = 1L; var cur = 1L
      s.sliding(2).foreach {
        case Seq(a, b) => if (b == a + 1) { cur += 1; best = math.max(best, cur) }
          else cur = 1L
        case _ =>
      }
      math.max(best, 1L)
    }
    val expect = days.groupBy(_._1).map { case (_, g) => longest(g.map(_._2).toSeq) }
      .groupBy(identity).map { case (l, g) => l -> g.size.toLong }
    assert(rows == expect, s"$rows vs $expect")
    assert(rows.values.sum == days.map(_._1).distinct.length.toLong,
      "every active user appears exactly once")
  }

  test("q209 decay attribution: weights halve per day and credits replay per purchase") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q209_decay_attribution")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase")
    val dayNs = 86400000000000L
    val pairs = for {
      (u, pts, _, pid) <- purchases
      (cu, cts, _, _) <- clicks
      if cu == u && cts <= pts && cts > pts - 7 * dayNs
    } yield (pid, (pts - cts) / dayNs)
    val expect = pairs.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val ws = g.map { case (_, age) => age -> (1L << (6 - age).toInt) }
      val sw = ws.map(_._2).sum
      ws.map { case (age, w) => age -> w * 1000L / sw }
    }.groupBy(_._1).map { case (age, cs) => age -> (cs.size.toLong, cs.map(_._2).sum) }
    assert(rows == expect, s"$rows vs $expect")
    assert(rows.keys.forall(a => a >= 0 && a <= 6))
  }

  test("q210 DOW profile: shares partition each type and deviations cancel against the base") {
    val rows = SparkEntry.queries("q210_dow_profile")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (tpe, cells) =>
      val total = cells.map(_._3).sum
      cells.foreach { case (_, dow, n, share, dev) =>
        assert(dow >= 0 && dow <= 6)
        assert(share == n * 1000000L / total, s"$tpe/$dow share")
      }
      // shares within a type sum to ~1e6 (floor slack < #cells)
      val s = cells.map(_._4).sum
      assert(s > 1000000L - cells.length && s <= 1000000L, s"$tpe shares sum $s")
    }
    // deviation replays exactly from the collected cells' own marginals
    val g = rows.map(_._3).sum
    val perDow = rows.groupBy(_._2).map { case (d, cs) => d -> cs.map(_._3).sum }
    rows.foreach { case (tpe, dow, _, share, dev) =>
      assert(dev == share - perDow(dow) * 1000000L / g, s"$tpe/$dow dev")
    }
  }

  test("q211 promo share: conditional and total revenue replay exactly per month") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q211_promo_share")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val types = spark.read.parquet(s"$sf/part.parquet")
      .collect().map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("p_type")).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey"), date_format(col("l_shipdate"), "yyyy-MM"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) * 10000)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expect = li.groupBy(_._2).map { case (m, g) =>
      val promo = g.filter(x => types(x._1) == "PROMO").map(_._3).sum
      val total = g.map(_._3).sum
      m -> (promo, total, promo * 1000000L / math.max(total, 1L))
    }
    assert(rows == expect, s"${rows.size} months")
    assert(rows.values.exists(_._1 > 0L), "PROMO parts must contribute somewhere")
  }

  test("q212 supplier variety: complaint exclusion and distinct counts replay") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q212_supplier_variety")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .collect().map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[String]("p_type"))).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"), col("l_returnflag"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val bad = li.groupBy(_._2).collect {
      case (s, g) if g.count(_._3 == "R") * 20 > g.size * 7 => s
    }.toSet
    val expect = li.filterNot(x => bad(x._2))
      .map(x => (parts(x._1), x._2)).distinct
      .groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
    assert(rows == expect)
    assert(rows.nonEmpty)
  }

  test("q213 gap hazard: the gap multiset replays from sorted per-(user,type) times") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q213_gap_hazard")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val dayNs = 86400000000000L
    val gaps = ev.groupBy(e => (e._1, e._2)).toSeq.flatMap { case ((_, tpe), g) =>
      val ts = g.map(_._3).sorted
      ts.zip(ts.drop(1)).map { case (a, b) => tpe -> (b - a) / dayNs }
    }
    val expect = gaps.groupBy(identity).map { case ((tpe, gap), cs) =>
      (tpe, gap) -> cs.size.toLong }
    val perType = gaps.groupBy(_._1).map { case (t, g) => t -> g.size.toLong }
    assert(rows.view.mapValues(_._1).toMap == expect, "gap histogram")
    rows.foreach { case ((tpe, _), (n, ppm)) =>
      assert(ppm == n * 1000000L / perType(tpe), s"$tpe share") }
  }

  test("q214 vocab growth: first-occurrence counting equals brute prefix distincts") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q214_vocab_growth")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == (1L to 8L))
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0),
        r.getString(1).trim.toLowerCase.replaceAll("\\s+", " ").trim.split("\\s+").toSeq))
    val mx = docs.map(_._1).max
    rows.foreach { case (k, cp, nDocs, tot, dist, ppm) =>
      assert(cp == (mx + 1) * k / 8, s"checkpoint $k")
      val prefix = docs.filter(_._1 < cp)
      assert(nDocs == prefix.length.toLong, s"k=$k docs")
      assert(tot == prefix.map(_._2.length.toLong).sum, s"k=$k mass")
      assert(dist == prefix.flatMap(_._2).distinct.length.toLong, s"k=$k vocab")
      assert(ppm == dist * 1000000L / math.max(tot, 1L))
    }
    // vocabulary never shrinks; diversity ppm never grows (Heaps direction)
    assert(rows.map(_._5).toSeq == rows.map(_._5).sorted.toSeq)
    assert(rows.map(_._6).toSeq == rows.map(_._6).sorted.reverse.toSeq)
  }

  test("q215 fill SLA: per-priority buckets replay from the per-order last-ship date") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q215_fill_sla")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // timestamps arrive as Timestamp OR LocalDateTime depending on the
    // parquet physical type (the TESTDATA ts caveat) — normalize to dates
    def ld(v: Any): java.time.LocalDate = v match {
      case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
      case d: java.time.LocalDateTime => d.toLocalDate
    }
    val lastShip = spark.read.parquet(s"$sf/lineitem.parquet")
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("ls"))
      .collect().map(r => r.getLong(0) -> ld(r.get(1))).toMap
    val orders = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect().map(r => (r.getLong(0), ld(r.get(1)), r.getString(2)))
    val expect = orders.flatMap { case (ok, od, prio) =>
      lastShip.get(ok).map { ls =>
        val d = java.time.temporal.ChronoUnit.DAYS.between(od, ls)
        val b = if (d <= 30) "a_030" else if (d <= 60) "b_060"
          else if (d <= 90) "c_090" else "d_90plus"
        (prio, b)
      }
    }.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    val perPrio = expect.groupBy(_._1._1).map { case (p, g) => p -> g.values.sum }
    assert(rows.view.mapValues(_._1).toMap == expect, "bucket counts")
    rows.foreach { case ((p, _), (n, ppm)) =>
      assert(ppm == n * 1000000L / perPrio(p), s"$p share") }
  }

  test("q207 int8 recall: one row per query, exact ppm derivation, high recall at tiny sf") {
    val rows = SparkEntry.queries("q207_int8_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    rows.foreach { case (q, hits, ppm) =>
      assert(hits >= 0L && hits <= 10L, s"q$q")
      assert(ppm == hits * 100000L, s"q$q ppm")
      // 64-dim int8 against a ~200-vector corpus: near-lossless by
      // construction; below 8/10 means the quantizer or ranking broke
      assert(hits >= 8L, s"q$q int8 recall collapsed: $hits/10")
    }
  }

  test("q216 min-cost supplier: per-part min unit price and winners replay") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q216_min_cost_supplier")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_type") === "LARGE" && col("p_size") <= 10)
      .collect().map(r => r.getAs[Long]("p_partkey") -> r.getAs[String]("p_name")).toMap
    val suppliers = spark.read.parquet(s"$sf/supplier.parquet")
      .join(spark.read.parquet(s"$sf/nation.parquet"),
        col("s_nationkey") === col("n_nationkey"))
      .collect().map(r => r.getAs[Long]("s_suppkey") ->
        (r.getAs[String]("s_name"), r.getAs[String]("n_name"))).toMap
    val offers = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"),
        expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000" +
          " DIV CAST(l_quantity AS BIGINT)").as("unit"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(o => parts.contains(o._1))
    val best = offers.groupBy(_._1).map { case (p, g) => p -> g.map(_._3).min }
    val expect = offers.filter(o => o._3 == best(o._1))
      .map(o => (o._1, parts(o._1), suppliers(o._2)._1, suppliers(o._2)._2, o._3))
      .distinct.sortBy(w => (w._1, w._3))
    assert(rows.toSeq == expect.toSeq)
    assert(rows.nonEmpty)
  }

  test("q217 nation trade: bilateral revenue replays per direction and year") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q217_nation_trade")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> (r.getLong(3), r.getLong(4))).toMap
    val nations = spark.read.parquet(s"$sf/nation.parquet")
      .collect().map(r => r.getAs[Number]("n_nationkey").longValue -> r.getAs[String]("n_name")).toMap
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .collect().map(r => r.getAs[Long]("s_suppkey") ->
        nations(r.getAs[Number]("s_nationkey").longValue)).toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .collect().map(r => r.getAs[Long]("c_custkey") -> nations(r.getAs[Long]("c_nationkey"))).toMap
    val ordCust = spark.read.parquet(s"$sf/orders.parquet")
      .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")).cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) * 10000)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val pairs = Set(("NATION_19", "NATION_11"), ("NATION_11", "NATION_19"))
    val expect = li.map { case (ok, sk, yr, rev) => (supp(sk), cust(ordCust(ok)), yr, rev) }
      .filter(x => pairs((x._1, x._2)))
      .groupBy(x => (x._1, x._2, x._3))
      .map { case (k, g) => k -> (g.map(_._4).sum, g.size.toLong) }
    assert(rows == expect)
    assert(rows.nonEmpty, "the chosen nation pair must trade at sf0.001")
  }

  test("q218 important stock: the 1/10000-of-total threshold replays in longs") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q218_important_stock")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nation3 = spark.read.parquet(s"$sf/nation.parquet")
      .filter(col("n_name") === "NATION_3")
      .collect().map(_.getAs[Number]("n_nationkey").longValue).toSet
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .collect().filter(r => nation3(r.getAs[Number]("s_nationkey").longValue))
      .map(_.getAs[Long]("s_suppkey")).toSet
    val value = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(x => supp(x._2))
      .groupBy(_._1).map { case (p, g) => p -> g.map(_._3).sum }
    val total = value.values.sum
    val expect = value.filter(_._2 > total / 10000).toSeq
      .sortBy { case (p, v) => (-v, p) }
    assert(rows.toSeq == expect)
    assert(rows.nonEmpty)
  }

  test("q219 small-quantity revenue: the cross-multiplied 20%-of-avg predicate replays") {
    import org.apache.spark.sql.functions._
    val row = SparkEntry.queries("q219_small_qty")(spark, sf).collect()
    assert(row.length == 1)
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_brand") === "Brand#3" && col("p_type") === "SMALL")
      .collect().map(_.getAs[Long]("p_partkey")).toSet
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey"), col("l_quantity").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .filter(x => parts(x._1))
    val stats = li.groupBy(_._1).map { case (p, g) =>
      p -> (g.map(_._2).sum, g.size.toLong) }
    val small = li.filter { case (p, q, _) =>
      val (sumQ, cnt) = stats(p); q * 5 * cnt < sumQ }
    assert(row(0).getLong(0) == small.size.toLong)
    if (small.nonEmpty) {
      val lost = small.map(_._3).sum
      assert(row(0).getLong(1) == lost)
      assert(row(0).getLong(2) == lost / 7)
    }
  }

  test("q220 disjunctive join: each OR branch contributes and counts replay per brand") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q220_disjunctive_join")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .collect().map(r => r.getAs[Long]("p_partkey") ->
        (r.getAs[String]("p_brand"), r.getAs[Number]("p_size").longValue)).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_partkey"), col("l_quantity").cast("long"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) * 10000)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = li.flatMap { case (pk, q, rev) =>
      val (b, sz) = parts(pk)
      val in = (b == "Brand#1" && sz >= 1 && sz <= 5 && q >= 1 && q <= 11) ||
        (b == "Brand#2" && sz >= 1 && sz <= 10 && q >= 10 && q <= 20) ||
        (b == "Brand#3" && sz >= 1 && sz <= 15 && q >= 20 && q <= 30)
      if (in) Some(b -> rev) else None
    }.groupBy(_._1).map { case (b, g) => b -> (g.size.toLong, g.map(_._2).sum) }
    assert(rows == expect)
    assert(rows.keySet == Set("Brand#1", "Brand#2", "Brand#3"),
      "all three OR branches must fire at sf0.001")
  }

  test("q221 top supplier: the max-revenue equality join replays from per-supplier sums") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q221_top_supplier")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val names = spark.read.parquet(s"$sf/supplier.parquet")
      .collect().map(r => r.getAs[Long]("s_suppkey") -> r.getAs[String]("s_name")).toMap
    val rev = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1996-04-01"))
      .select(col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) * 10000)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (s, g) => s -> g.map(_._2).sum }
    val mx = rev.values.max
    val expect = rev.filter(_._2 == mx).toSeq
      .map { case (s, v) => (s, names(s), v) }.sortBy(_._1)
    assert(rows.toSeq == expect)
    assert(rows.nonEmpty)
  }

  test("q222 shipping priority: the top-10 cut replays from per-order open revenue") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q222_shipping_priority")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val building = spark.read.parquet(s"$sf/customer.parquet")
      .filter(col("c_mktsegment") === "BUILDING")
      .collect().map(_.getAs[Long]("c_custkey")).toSet
    val ord = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") < lit("1997-06-30"))
      .select(col("o_orderkey"), col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .filter(o => building(o._2)).map(o => o._1 -> o._3).toMap
    val rev = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") > lit("1997-06-30"))
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) * 10000)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(x => ord.contains(x._1))
      .groupBy(_._1).map { case (ok, g) => (ok, ord(ok), g.map(_._2).sum) }
    val expect = rev.toSeq.sortBy(x => (-x._3, x._1)).take(10)
    assert(rows.toSeq == expect)
    assert(rows.length == 10)
  }

  test("q223 local supplier: the c_nationkey=s_nationkey correlation replays per nation") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q223_local_supplier")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val asia = spark.read.parquet(s"$sf/region.parquet")
      .filter(col("r_name") === "ASIA")
      .collect().map(_.getAs[Number]("r_regionkey").longValue).toSet
    val nations = spark.read.parquet(s"$sf/nation.parquet")
      .collect().filter(r => asia(r.getAs[Number]("n_regionkey").longValue))
      .map(r => r.getAs[Number]("n_nationkey").longValue -> r.getAs[String]("n_name")).toMap
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .collect().map(r => r.getAs[Long]("s_suppkey") ->
        r.getAs[Number]("s_nationkey").longValue).toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .collect().map(r => r.getAs[Long]("c_custkey") ->
        r.getAs[Number]("c_nationkey").longValue).toMap
    val ordCust = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1998-01-01"))
      .collect().map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("o_custkey")).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")) * 10000)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expect = li.flatMap { case (ok, sk, rev) =>
      for {
        ck <- ordCust.get(ok)
        sn = supp(sk)
        if cust(ck) == sn
        name <- nations.get(sn)
      } yield (name, rev)
    }.groupBy(_._1).map { case (n, g) => (n, g.map(_._2).sum, g.size.toLong) }
      .toSeq.sortBy(x => (-x._2, x._1))
    assert(rows.toSeq == expect)
    assert(rows.nonEmpty, "ASIA must trade locally at sf0.001")
  }

  test("q224 forecast revenue: the pure filter-aggregate replays over banded rows") {
    import org.apache.spark.sql.functions._
    val row = SparkEntry.queries("q224_forecast_revenue")(spark, sf).collect()
    assert(row.length == 1)
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(col("l_shipdate") >= lit("1997-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .select(col("l_discount"), col("l_quantity"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)") * 10000).cast("long"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      .filter(x => x._1 >= 0.05 && x._1 <= 0.07 && x._2 < 24)
    assert(row(0).getLong(0) == li.map(_._3).sum)
    assert(row(0).getLong(1) == li.size.toLong)
    assert(li.nonEmpty)
  }

  test("q225 order-count distribution: the zero bucket counts exactly the never-ordered") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q225_order_count_dist")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val perCust = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .collect().map(_.getAs[Long]("o_custkey"))
      .groupBy(identity).map { case (c, g) => c -> g.length.toLong }
    val custs = spark.read.parquet(s"$sf/customer.parquet")
      .collect().map(_.getAs[Long]("c_custkey"))
    val expect = custs.map(c => perCust.getOrElse(c, 0L))
      .groupBy(identity).map { case (k, g) => (k, g.length.toLong) }
      .toSeq.sortBy(x => (-x._2, -x._1))
    assert(rows.toSeq == expect)
    assert(expect.map(_._2).sum == custs.length.toLong, "every customer lands in one bucket")
  }

  test("q226 nation margin: net/gross integer sums and the tax-load ppm replay") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q226_nation_margin")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val widgets = spark.read.parquet(s"$sf/part.parquet")
      .filter(col("p_name").like("%widget%"))
      .collect().map(_.getAs[Long]("p_partkey")).toSet
    val nations = spark.read.parquet(s"$sf/nation.parquet")
      .collect().map(r => r.getAs[Number]("n_nationkey").longValue -> r.getAs[String]("n_name")).toMap
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .collect().map(r => r.getAs[Long]("s_suppkey") ->
        nations(r.getAs[Number]("s_nationkey").longValue)).toMap
    val ordYear = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long"),
        (col("l_discount").cast("decimal(18,2)") * 100).cast("long"),
        (col("l_tax").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .filter(x => widgets(x._2))
    val expect = li.map { case (ok, _, sk, pc, d, t) =>
      (supp(sk), ordYear(ok)) -> (pc * (100L - d) * 100L, pc * (100L - d) * (100L + t))
    }.groupBy(_._1).map { case (k, g) =>
      val net = g.map(_._2._1).sum; val gross = g.map(_._2._2).sum
      k -> (net, gross, (gross - net) * 1000000L / math.max(net, 1L))
    }
    assert(rows == expect)
    assert(rows.nonEmpty)
    rows.values.foreach { case (net, gross, _) => assert(gross >= net) }
  }

  test("q227 seasonal outliers: the DOW baseline, MAD, and 3-MAD flags replay in integers") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q227_seasonal_outliers")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), col("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 86400000000000L))
    val daily = ev.groupBy(identity).map { case ((t, d), g) => (t, d, g.size.toLong) }
    val expected = daily.groupBy(x => (x._1, (x._2 + 4) % 7))
      .map { case (k, g) => k -> g.map(_._3).sum / g.size }
    val resid = daily.map { case (t, d, n) =>
      (t, d, n, expected((t, (d + 4) % 7))) }
      .map { case (t, d, n, e) => (t, d, n, e, n - e) }
    val mad = resid.groupBy(_._1).map { case (t, g) =>
      val ars = g.map(x => math.abs(x._5)).toSeq.sorted
      // lower median: smallest value whose cumulative count doubles past the total
      t -> ars((ars.size - 1) / 2)
    }
    val expect = resid.filter { case (t, _, _, _, r) =>
      math.abs(r) > 3 * math.max(mad(t), 1L) }
      .map { case (t, d, n, e, r) => (t, d, n, e, r, mad(t)) }
      .toSeq.sortBy(x => (x._1, x._2))
    assert(rows.toSeq == expect)
    assert(rows.nonEmpty, "the sf0.001 stream must contain at least one seasonal outlier")
  }

  test("q228 matryoshka recall: prefix-cosine rankings replay and dim-64 is perfect") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q228_matryoshka_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    def cos(a: Array[Float], b: Array[Float], d: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < d) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else dot / den
    }
    val queries = vecs.keys.filter(_ < 5).toSeq.sorted
    val dims = Seq(8, 16, 32, 64)
    val top = (for { d <- dims; q <- queries } yield {
      val ranked = vecs.toSeq.filter(_._1 != q)
        .map { case (cid, cv) => (cid, cos(cv, vecs(q), d)) }
        .sortBy { case (cid, s) => (-s, cid) }.take(10).map(_._1).toSet
      (d.toLong, q) -> ranked
    }).toMap
    val expect = (for { d <- dims; q <- queries } yield {
      val h = (top((d.toLong, q)) intersect top((64L, q))).size.toLong
      (d.toLong, q) -> (h, h * 100000L)
    }).toMap
    assert(rows == expect)
    queries.foreach(q => assert(rows((64L, q)) == ((10L, 1000000L)), s"dim-64 truth for q$q"))
  }

  test("q229 late priority: the Q12-shape flags replay from joined rows") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q229_late_priority")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // timestamps arrive as Timestamp OR LocalDateTime depending on the
    // parquet physical type (the TESTDATA ts caveat) — normalize to dates
    def ld(v: Any): java.time.LocalDate = v match {
      case t: java.sql.Timestamp => t.toLocalDateTime.toLocalDate
      case d: java.time.LocalDateTime => d.toLocalDate
    }
    val ord = graft.sources.Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .collect().map(r => r.getLong(0) -> (ld(r.get(1)), r.getString(2))).toMap
    val lo = java.time.LocalDate.parse("1996-01-01")
    val hi = java.time.LocalDate.parse("1998-01-01")
    val li = graft.sources.Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
      .collect().map(r => (r.getLong(0), r.getString(1), ld(r.get(2))))
    val flagged = li
      .filter { case (_, _, ship) => !ship.isBefore(lo) && ship.isBefore(hi) }
      .flatMap { case (ok, st, ship) => ord.get(ok).collect {
        case (od, pr) if java.time.temporal.ChronoUnit.DAYS.between(od, ship) > 60 =>
          (st, pr == "1-URGENT" || pr == "2-HIGH") } }
    val expect = flagged.groupBy(_._1).map { case (st, g) =>
      (st, g.count(_._2).toLong, g.count(x => !x._2).toLong) }
      .toSeq.sortBy(_._1)
    assert(rows.toSeq == expect)
    assert(rows.map(r => r._2 + r._3).sum > 0, "the window must contain late lines")
  }

  test("q230 hubness: the k-occurrence histogram replays from exact cosine top-10 lists") {
    val rows = SparkEntry.queries("q230_hubness")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den == 0.0) 0.0 else dot / den
    }
    val probes = vecs.keys.filter(_ < 64).toSeq.sorted
    val occ = probes.flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (cid, cv) => (cid, cos(cv, vecs(q))) }
        .sortBy { case (cid, s) => (-s, cid) }.take(10).map(_._1)
    }.groupBy(identity).map { case (cid, g) => cid -> g.size.toLong }
    val expect = occ.values.groupBy(identity)
      .map { case (o, g) => (o, g.size.toLong) }.toSeq.sorted
    assert(rows.toSeq == expect)
    assert(rows.map(_._2).sum <= vecs.size)
    assert(rows.map(r => r._1 * r._2).sum == probes.size * 10L,
      "total occurrences must equal probes x k when corpus > k")
  }

  test("q231 ranksum drift: 2U and AUC ppm replay from naive midranks") {
    val rows = SparkEntry.queries("q231_ranksum_drift")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val d = graft.sources.Tables.load(spark, sf, "documents")
      .selectExpr("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val n = d.length.toLong
    val sorted = d.map(_._2).sorted
    // 2*midrank per distinct value = first 1-based rank + last 1-based rank
    val mid2 = sorted.zipWithIndex.groupBy(_._1).map { case (v, g) =>
      v -> (g.map(_._2.toLong + 1).min + g.map(_._2.toLong + 1).max)
    }
    val expect = d.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, g) =>
      val ns = g.length.toLong
      val r2 = g.map(x => BigInt(mid2(x._2))).sum
      val u2 = r2 - BigInt(ns) * BigInt(ns + 1)
      val auc = u2 * 1000000 / (BigInt(2) * BigInt(ns) * BigInt(math.max(n - ns, 1L)))
      (s, ns, u2.toLong, auc.toLong)
    }
    assert(rows.toSeq == expect)
    rows.foreach { case (s, _, u2, auc) =>
      assert(u2 >= 0 && auc >= 0 && auc <= 1000000, s"AUC out of range for $s")
    }
  }

  test("q232 lag autocorr: r1/r7 ppm replay from the zero-filled daily series") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("q232_lag_autocorr")(spark, sf).collect()
      .map(r => ((r.getString(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .select(col("event_type"), col("ts"))
      .collect().map(r => (r.getString(0), r.getLong(1) / 86400000000000L))
    val expect = ev.groupBy(_._1).flatMap { case (tpe, g) =>
      val byDay = g.groupBy(_._2).map { case (d, h) => d -> h.size.toLong }
      val (d0, d1) = (byDay.keys.min, byDay.keys.max)
      val n = d1 - d0 + 1
      val s = byDay.values.sum
      val y = (d0 to d1).map(d => BigInt(n * byDay.getOrElse(d, 0L) - s))
      val den = y.map(v => v * v).sum
      Seq(1, 7).map { k =>
        val num = (0 until (y.length - k)).map(i => y(i) * y(i + k)).sum
        val r = if (den == 0) BigInt(0)
          else if (num >= 0) num * 1000000 / den
          else -((-num) * 1000000 / den)
        (tpe, k.toLong) -> ((n, r.toLong))
      }
    }
    assert(rows == expect)
    assert(rows.nonEmpty && rows.keys.map(_._1).toSet.size >= 2)
  }

  test("q233 type diversity: Gini-Simpson bands replay from per-user type counts") {
    val rows = SparkEntry.queries("q233_type_diversity")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val gs = ev.groupBy(_._1).map { case (_, g) =>
      val n = BigInt(g.length)
      val c2 = g.groupBy(_._2).values.map(h => BigInt(h.size) * h.size).sum
      (BigInt(1000000) - c2 * 1000000 / (n * n)).toLong
    }.toSeq
    val expect = gs.groupBy(_ / 10000).toSeq.sortBy(_._1).map { case (b, g) =>
      (b, g.size.toLong, g.min, g.max)
    }
    assert(rows.toSeq == expect)
    rows.foreach { case (b, _, lo, hi) =>
      assert(lo >= b * 10000 && hi < (b + 1) * 10000 || hi == 1000000,
        s"band $b bounds") }
  }

  test("q234 journey grammar: ordered alternation replays first-match-wins " +
    "with leftmost match lengths") {
    val rows = SparkEntry.queries("q234_journey_grammar")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("user_id", "event_id", "ts div 1000 AS ts_us", "event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // independent sessionization + walk build
    val walks = ev.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val sorted = g.sortBy(e => (e._3, e._2))
      val sessions = sorted.foldLeft(Vector.empty[Vector[(Long, Long, Long, String)]]) {
        case (acc, e) =>
          if (acc.isEmpty || e._3 - acc.last.last._3 > 1800000000L) acc :+ Vector(e)
          else acc.init :+ (acc.last :+ e)
      }
      sessions.map { s =>
        (s.head._3 / 86400000000L,
          s.map(_._4.head.toUpper).mkString.take(512))
      }
    }
    val grammar = Seq(
      "retry_convert" -> "S.*E.*P", "clean_convert" -> "S[^E]*P",
      "error_exit" -> "S[^P]*E[^P]*$", "nosignup_convert" -> "^[^S]*P")
    val classified = walks.map { case (day, w) =>
      grammar.find { case (_, re) => re.r.findFirstIn(w).isDefined } match {
        case Some((name, re)) =>
          (day, name, re.r.findFirstIn(w).get.length.toLong, w.length.toLong)
        case None => (day, "browse_only", 0L, w.length.toLong)
      }
    }
    val expect = classified.groupBy(c => (c._1, c._2)).map { case (k, g) =>
      k -> ((g.size.toLong, g.map(_._3).sum, g.map(_._4).sum * 1000 / g.size))
    }
    assert(rows == expect)
  }

  test("q29 invariants hold for null-text docs (null sig contract, not NULL output)") {
    // The r14 review finding: with a plain ===, a null text row emitted
    // NULL invariant columns against the oracle's TRUE. The null-safe
    // forms must emit TRUE — the null contract (null text → null sig) is
    // itself the invariant being checked.
    import org.apache.spark.sql.functions._
    SpecIo.withTempDir("graft-nulltext") { dir =>
      val spark2 = spark
      import spark2.implicits._
      spark.read.parquet(s"$sf/documents.parquet").limit(5)
        .unionByName(Seq((99999L, Option.empty[String], "xx", "null-src", 0L))
          .toDF("doc_id", "text", "lang", "source", "n_chars"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = SparkEntry.queries("q29_simhash")(spark, dir).collect()
      assert(rows.length == 6, "the null-text doc must appear, not drop")
      rows.foreach { r =>
        (1 to 3).foreach(i => assert(!r.isNullAt(i) && r.getBoolean(i),
          s"invariant column $i must be TRUE for doc ${r.getLong(0)}"))
      }
    }
  }

  test("q235 watermark loss: per-shard high-water lateness and join-loss " +
    "counts replay exactly") {
    val rows = SparkEntry.queries("q235_watermark_loss")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val ev = graft.sources.Tables.load(spark, sf, "events")
      .selectExpr("event_id", "user_id", "event_type", "ts")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    // lateness + sign-explicit shard via the shared EventRef reference
    // (one spelling across QueriesSpec and PropertySpec)
    val byId = EventRef.latenessByEvent(ev.toSeq)
    val clicks = ev.filter(_._3 == "click")
    val purchases = ev.filter(_._3 == "purchase")
    val pairs = for {
      c <- clicks
      p <- purchases
      if p._2 == c._2 && p._4 >= c._4 && p._4 <= c._4 + 3600000000000L
    } yield (byId(c._1), byId(p._1))
    val delays = Seq(0L, 60L, 600L, 3600L)
    delays.foreach { d =>
      val dNs = d * 1000000000L
      val expectLate = byId.values.count(_ > dNs).toLong
      val expectLost = pairs.count { case (cl, pl) => cl > dNs || pl > dNs }.toLong
      assert(rows(d) == ((expectLate, pairs.size.toLong, expectLost)),
        s"delay $d: got ${rows(d)}, expect ($expectLate, ${pairs.size}, $expectLost)")
    }
  }
}
