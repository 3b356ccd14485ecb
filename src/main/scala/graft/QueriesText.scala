package graft

import graft.functions.{Dedup, Domains, Quant, Sampling, Similarity, Text}
import graft.ops.{Events, Materialize, Overlap, Relational}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text corpus operators over `documents`: language/quality/PII
  * analysis, exact + MinHash/SimHash dedup, n-gram statistics, graph
  * audits over the near-dup candidate graph, sampling and packing.
  *
  * One thematic slice of the [[Queries]] catalog (r13 split — the object
  * grew past 8k lines); `Queries.all` remains the assembly point. Members
  * self-type against `Queries.type` so cross-theme builders and shared
  * fragments resolve exactly as before the split.
  */
private[graft] trait QueriesText { this: Queries.type =>


  // ---------------------------------------------------------------------
  // Training-data pipeline operators (documents / embeddings)
  // ---------------------------------------------------------------------

  /** Exact dedup groups: md5 fingerprint → keeper id + group size. */
  def dedupGroups(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactDuplicateGroups(t(spark, dir, "documents"), col("doc_id"), col("text"))
      .orderBy(col("fp"))


  /** Text quality features per document (token counting, quality scoring). */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val toks = Text.tokens(col("text"))
    d.select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(toks).as("n_tokens"),
        Text.subwordCount(col("text")).as("n_subwords"),
        Text.tokensIn(col("text"),
          Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
            "that", "for", "on", "with", "as")).as("stopword_hits"),
        size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))).as("punct_count"),
        aggregate(toks, lit(0L), (acc, x) => acc + length(x)).as("sum_token_len"))
      .orderBy(col("doc_id"))
  }


  /** Language ID via stopword-hit argmax. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))


  /** C4-style quality filter: keep documents passing token/punct thresholds. */
  def qualityFilter(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(Text.tokenCount(col("text")).between(15, 40) &&
        size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0))) === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))


  /** MinHash signatures (4 seeded hashes over 3-shingles, md5-portable). */
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val sh = Text.shingles(col("text"), 3)
    d.filter(size(sh) > 0)
      .select(col("doc_id") +: Dedup.minHashSignature(sh, 4): _*)
      .orderBy(col("doc_id"))
  }


  /** MinHash+LSH near-duplicate candidate pairs (2 bands × 2 rows). */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashCandidates(
        t(spark, dir, "documents").filter(size(Text.shingles(col("text"), 3)) > 0),
        col("doc_id"), col("text"), shingleK = 3, bands = 2, rowsPerBand = 2)
      .orderBy(col("id_a"), col("id_b"))


  /** SimHash 64-bit signatures (xxhash64 fast path). The signature values
    * are engine-specific (no xxhash64 in DuckDB), so the query emits the
    * CHECKABLE facts about each signature instead of the raw bits, all of
    * which the oracle hash-matches as TRUE per doc:
    *  - `bands_rejoin`: the 4×16-bit band decomposition the LSH pair
    *    machinery shifts out ([[graft.functions.Dedup.simHashCandidatesFromSigs]])
    *    ORs back to the exact signature — the banding is lossless;
    *  - `null_contract`: sig is non-null IFF text is non-null (falsifiable
    *    in both directions — a hash of null text or a null hash of real
    *    text each flips it FALSE; the r14 popcount-in-[0,64] column it
    *    replaces was a tautology on BIGINT);
    *  - `composable_match`: on a deterministic ~5% doc sample, the native
    *    [[graft.plans.TextExpressions]] SimHash64 expression agrees
    *    bit-for-bit with the composable built-ins twin — the DedupSpec
    *    differential, riding the driver's oracle on live data (sampled so
    *    the O(64·tokens) interpreted twin never dominates at scale).
    * q52/q69 value-check the md5-portable signature and pair path.
    */
  def simhashSignatures(spark: SparkSession, dir: String): DataFrame = {
    val sigged = t(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        Dedup.simHash64(col("text")).as("sig"))
    val mask = lit((1L << 16) - 1)
    val rejoin = (0 until 4)
      .map(b => shiftleft(shiftright(col("sig"), b * 16).bitwiseAND(mask), b * 16))
      .reduce(_ bitwiseOR _)
    val sampled = graft.functions.Sampling.hashBucket(col("doc_id"), 100) < 5
    // Null-SAFE (<=>) forms so the null contract is itself an invariant:
    // null text → null signature (documented in simHash64), where a plain
    // === would emit NULL against the oracle's TRUE. On null sig the band
    // rejoin and the composable twin are both null (null <=> null holds);
    // null_contract asserts the iff directly with never-null isNotNulls.
    sigged
      .select(col("doc_id"),
        (rejoin <=> col("sig")).as("bands_rejoin"),
        (col("sig").isNotNull === col("text").isNotNull)
          .as("null_contract"),
        (!sampled ||
          (Dedup.simHash64Composable(col("text")) <=> col("sig")))
          .as("composable_match"))
      .orderBy(col("doc_id"))
  }


  /** Engine-portable 32-bit md5 SimHash — same algorithm under the real
    * DuckDB oracle (the per-token hash is plain SQL on both engines).
    */
  def simhashPortable(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), Dedup.simHash32Md5(col("text")).as("sig"))
      .orderBy(col("doc_id"))


  /** SimHash banded Hamming near-dup candidate pairs over the md5-portable
    * 32-bit signatures — q52's signature derivation fed through the same
    * banding machinery as the 64-bit fast path
    * ([[graft.functions.Dedup.simHashCandidatesFromSigs]]), which puts the
    * pair-level SimHash path under a real DuckDB oracle.
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sigs = t(spark, dir, "documents")
      .select(col("doc_id"), Dedup.simHash32Md5(col("text")).as("sig"))
    Dedup.simHashCandidatesFromSigs(sigs, bits = 32, bands = 2, maxHamming = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Corpus-wide term frequencies (explode → count → top 50). */
  def termFreq(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(Text.tokens(Text.normalized(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(50)


  /** Top-3 TF-IDF terms per document (score used for ranking only — ln()
    * last-ulp differences across engines never reorder distinct (tf, df)
    * pairs, whose scores differ by ≥ ln((df+1)/df)).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Tfidf.topTerms(t(spark, dir, "documents"),
        col("doc_id"), col("text"), k = 3)
      .select(col("doc_id"), col("term"), col("tf"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))


  /** Exact character-3-gram Jaccard over (lang, source)-blocked pairs on a
    * deterministic 1-in-5 sample — the oracle row for the n-gram Jaccard
    * family (q28's LSH candidates are the scale path; this blocked exact
    * form is plain SQL on both engines, so it carries a real DuckDB oracle).
    *
    * Sample-at-scale contract (the q123/q196 discipline): blocked exact
    * enumeration is quadratic in the block, so any (lang, source) block
    * past the cap keeps a deterministic ~cap-sized hash-sample of its
    * docs. Inert at every gate SF — blocks are 12 / 109 / 1090 docs at
    * sf0.01 / sf0.1 / sf1, all under the 2048 cap, so oracle hashes and
    * floors are untouched — and proven necessary by the sf10 full-catalog
    * rehearsal, where the uncapped 10900-doc blocks went 373× wall for
    * 100× data. Keep iff hashBucket(id)/10⁶ < cap/bn, all integers.
    */
  def jaccardBlocked(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(col("doc_id") % 5 === 0 && col("text").isNotNull)
    val sampled =
      Sampling.capBlocks(docs, Seq("lang", "source"), col("doc_id"), 2048L)
    Dedup.blockedJaccardPairs(sampled,
        col("doc_id"), col("text"), Seq(col("lang"), col("source")),
        shingleK = 3, threshold = 0.2)
      .select(col("id_a").as("left_id"), col("id_b").as("right_id"), col("jaccard"))
      .orderBy(col("left_id"), col("right_id"))
  }


  /** Deterministic 80/10/10 train/val/test split from the md5 hash bucket of
    * doc_id — reproducible, shuffle-free at any scale (pure projection), and
    * plain SQL on both engines.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("split", Sampling.split(col("doc_id"), trainPct = 80, valPct = 10))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"))


  /** Deterministic stratified sample: first 5 docs per language in
    * hash-bucket order. The input is projected to (lang, doc_id) at the
    * scan — the sampler's shuffle carries two narrow columns, never text.
    */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedSample(
        t(spark, dir, "documents").select(col("lang"), col("doc_id")),
        Seq(col("lang")), col("doc_id"), perStratum = 5)
      .select(col("lang"), col("doc_id"), col("sample_rank"))
      .orderBy(col("lang"), col("sample_rank"))


  /** Sequence packing: documents → 4000-char bins per hash shard (running
    * sum in doc_id order), rolled up to per-bin occupancy — the batch-shape
    * audit a pretraining data pipeline runs after packing.
    */
  def packBins(spark: SparkSession, dir: String): DataFrame =
    Sampling.packByBudget(t(spark, dir, "documents"),
        col("doc_id"), col("n_chars"), budget = 4000L, shards = 8)
      .groupBy(col("shard"), col("pack_bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("bin_chars"))
      .orderBy(col("shard"), col("pack_bin"))


  /** Duplicate-cluster resolution over the LSH candidate pairs (q28's
    * output): connected components by iterated label propagation
    * ([[graft.functions.Dedup.connectedComponents]]), cluster = min doc_id
    * of the component. DuckDB verifies with a recursive-CTE transitive
    * closure over the same pairs.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(minhashPairs(spark, dir))
      .orderBy(col("id"))


  /** Document chunking into training windows: 32-token chunks advancing by
    * 24 (8-token overlap), with the chunk text materialized from the token
    * slice — the final shaping step before packing (q57).
    */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        Text.tokens(Text.normalized(col("text"))).as("w"),
        explode(Text.chunkSpans(col("text"), chunkSize = 32, stride = 24)).as("c"))
      .select(col("doc_id"), col("c.chunk_id"), col("c.start_tok"), col("c.chunk_len"),
        array_join(slice(col("w"), col("c.start_tok").cast("int") + 1,
          col("c.chunk_len").cast("int")), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))


  /** Data-mixing quota sample: a 200-doc mixture at 60% en / 15% es /
    * 15% fr / 10% de (zh excluded) — the curation step that pins training
    * mixture proportions.
    */
  def mixtureSampleDocs(spark: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(
        t(spark, dir, "documents").select(col("lang"), col("doc_id")),
        col("lang"), col("doc_id"),
        weights = Map("en" -> 0.60, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.10),
        total = 200L)
      .select(col("lang"), col("doc_id"), col("mix_rank"))
      .orderBy(col("lang"), col("mix_rank"))


  /** Token-budget mixture ([[graft.functions.Sampling.tokenBudgetSample]]):
    * a training mix stated in TOKENS — 30k en / 10k es / 10k fr / 5k de
    * (zh excluded) — admitted as a per-language hash-order prefix whose
    * running token sum stays within budget.
    */
  def tokenBudgetMix(spark: SparkSession, dir: String): DataFrame =
    Sampling.tokenBudgetSample(
        // token count is computed IN the scan projection: only
        // (lang, doc_id, n_tokens) ever shuffles, text is pruned at the scan
        t(spark, dir, "documents").select(col("lang"), col("doc_id"),
          Text.tokenCount(col("text")).as("__tok")),
        col("lang"), col("doc_id"), col("__tok"),
        budgets = Map("en" -> 30000L, "es" -> 10000L, "fr" -> 10000L, "de" -> 5000L))
      .select(col("lang"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("lang"), col("cum_tokens"))


  /** Benchmark decontamination over the q55 hash split: held-out docs
    * (bucket ≥ 90) sharing a word 5-gram with any train doc (bucket < 80),
    * with train-doc and shared-gram counts.
    */
  def contaminationCheck(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val bkt = Sampling.hashBucket(col("doc_id"), 100)
    Dedup.contamination(
        d.filter(bkt < 80), col("doc_id"), col("text"),
        d.filter(bkt >= 90), col("doc_id"), col("text"), k = 5)
      .orderBy(col("test_id"))
  }


  /** Intra-document repetition ratio (word 3-grams repeating within one
    * document) — the Gopher/C4-style repetitious-text quality rule.
    */
  def repetitionRatio(spark: SparkSession, dir: String): DataFrame = {
    val stats = Text.repetitionStats(col("text"), 3)
      .map { case (n, c) => c.as(n) }
    t(spark, dir, "documents")
      .select(col("doc_id") +: stats: _*)
      .filter(col("n_grams") > 0)
      .withColumn("rep_ratio",
        col("n_repeated").cast("double") / col("n_grams"))
      .orderBy(col("doc_id"))
  }


  /** Per-document out-of-vocabulary rate against the corpus top-50
    * vocabulary (q40's term ranking) — the token-coverage signal a
    * data-mixing pass thresholds on.
    */
  def oovRateDocs(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Tfidf.oovRate(t(spark, dir, "documents"),
        col("doc_id"), col("text"), vocabSize = 50)
      .orderBy(col("doc_id"))


  /** Duplicated-span fraction per document (word 5-grams shared with any
    * other document) — the scalable exact-substring-dedup signal
    * ([[graft.functions.Dedup.duplicatedSpanStats]]).
    */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup.duplicatedSpanStats(
        t(spark, dir, "documents"), col("doc_id"), col("text"), k = 5)
      .orderBy(col("doc_id"))


  /** Gopher-style quality-rule pass rates per (lang, source) facet
    * ([[graft.functions.Text.gopherFlags]]): the rule-based curation gate
    * a pretraining pipeline runs before any model-based filter. One
    * corpus scan, one small shuffle of facet-keyed partial sums.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val flags = Text.gopherFlags(col("text"))
    val flagged = t(spark, dir, "documents")
      .select(col("lang") +: col("source") +: flags.map { case (n, c) => c.as(n) }: _*)
    flagged
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len_ok")).as("n_len_ok"),
        sum(col("word_len_ok")).as("n_word_len_ok"),
        sum(col("alpha_ok")).as("n_alpha_ok"),
        sum(col("stop_ok")).as("n_stop_ok"),
        sum(col("rep_ok")).as("n_rep_ok"),
        sum(col("len_ok") * col("word_len_ok") * col("alpha_ok") *
          col("stop_ok") * col("rep_ok")).as("n_pass"))
      .orderBy(col("lang"), col("source"))
  }


  /** PII detect + redact over documents ([[Text.piiCounts]] /
    * [[Text.redactPii]]). The synthetic corpus carries no organic PII, so
    * the query first plants deterministic emails/IPs/phones keyed off
    * `doc_id` — the SAME arithmetic the oracle SQL applies — then counts
    * and scrubs them. Redaction fidelity is pinned by length + md5 of the
    * scrubbed text. Pure projection: zero shuffles besides the final sort.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val planted = t(spark, dir, "documents").withColumn("t2", concat(
      col("text"),
      when(d % 3 === 0,
        concat(lit(" contact user"), d.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(d % 5 === 0, lit(" or admin@test.org")).otherwise(lit("")),
      when(d % 4 === 0, concat(lit(" from 10."), (d % 32).cast("string"),
        lit(".0."), (d % 256).cast("string"))).otherwise(lit("")),
      when(d % 7 === 0, lit(" call 555-0199")).otherwise(lit(""))))
    val counts = Text.piiCounts(col("t2")).map { case (n, c) => c.as(n) }
    planted
      .select(d +: counts :+
        length(Text.redactPii(col("t2"))).cast("long").as("redacted_len") :+
        md5(Text.redactPii(col("t2"))).as("redacted_md5"): _*)
      .orderBy(d)
  }


  /** Domain-frequency stats with a blocklist filter over URLs mentioned in
    * the corpus ([[Text.urlHosts]]): the reach/diversity signal a crawl
    * curation pass computes before sampling. URLs are planted like q77's
    * PII (the corpus has none). Shuffle carries (domain, doc_id) only.
    */
  def urlDomainStats(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val planted = t(spark, dir, "documents").withColumn("t2", concat(
      col("text"),
      when(d % 2 === 0, concat(lit(" see https://site"), (d % 20).cast("string"),
        lit(".example.com/p"), d.cast("string"))).otherwise(lit("")),
      when(d % 3 === 0, concat(lit(" ref http://www.ref"), (d % 7).cast("string"),
        lit(".org/page"))).otherwise(lit(""))))
    planted
      .select(d, explode(Text.urlHosts(col("t2"))).as("domain"))
      .filter(!col("domain").isin("site3.example.com", "www.ref2.org"))
      .groupBy(col("domain"))
      .agg(countDistinct(d).as("n_docs"), count(lit(1)).as("n_refs"))
      .orderBy(col("domain"))
  }


  /** Quality-aware dedup survivorship
    * ([[graft.functions.Dedup.bestQualityKeepers]]): duplicate groups
    * planted by collapsing every 7th document onto one of 3 shared bodies;
    * the keeper is the copy with the most original characters (ties to the
    * smallest id), not the first-crawled one — the survivorship policy of
    * a real curation pass.
    */
  def qualityKeeperDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val planted = t(spark, dir, "documents").withColumn("t2",
      when(d % 7 === 0,
        concat(lit("shared duplicate body "), (d % 3).cast("string")))
        .otherwise(col("text")))
    Dedup.bestQualityKeepers(planted, d, col("t2"), col("n_chars").cast("long"))
      .orderBy(col("fp"))
  }


  /** Near-dup CLUSTER survivorship
    * ([[graft.functions.Dedup.clusterQualityKeepers]]): q60's connected
    * components composed with q95's quality policy — per duplicate
    * cluster (transitive closure of the LSH candidate pairs, not per
    * exact fingerprint), keep the highest-quality member (ties to the
    * smallest id). This is the step a real minhash pipeline runs after
    * clustering: the capstone of candidates (q28) → components (q60) →
    * survivors. DuckDB replays the full chain — recursive-CTE closure
    * over the same pairs, then the keeper window per label.
    */
  def clusterSurvivorship(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusterQualityKeepers(
        Dedup.connectedComponents(minhashPairs(spark, dir)),
        t(spark, dir, "documents"), col("doc_id"), col("n_chars").cast("long"))
      .orderBy(col("cluster"))


  /** α=½ temperature mixture ([[graft.functions.Sampling
    * .sqrtMixtureSample]]): draw a 2000-document corpus whose language
    * proportions follow sqrt-smoothed shares — the standard multilingual
    * rare-language upweighting — with quotas in exact BIGINT isqrt
    * arithmetic, so DuckDB replays weight, quota, and admission
    * bit-for-bit.
    */
  def alphaMixture(spark: SparkSession, dir: String): DataFrame =
    Sampling.sqrtMixtureSample(
        t(spark, dir, "documents").select(col("doc_id"), col("lang")),
        col("lang"), col("doc_id"), total = 2000L)
      .select(col("doc_id"), col("lang"), col("mix_rank"), col("quota"))
      .orderBy(col("lang"), col("mix_rank"))


  /** Domain-reputation blocklist ([[graft.functions.Domains
    * .domainReputation]]): synthetic crawl URLs spread the corpus over 17
    * registered domains (with `www.`/`cdn.` subdomain variants and one
    * `:port` form rolling up); two domains are poisoned the way spam
    * domains actually look — site5 half-filled with one short
    * click-bait string, site11 three-quarters-filled with one boilerplate
    * body — and the exact-arithmetic verdict (dup share > 25% at ≥ 20
    * docs, or mean length < 60 chars) blocks precisely those. The report
    * is the differential surface; [[graft.functions.Domains
    * .blocklistFilter]]'s anti-join is spec-covered.
    */
  def domainBlocklist(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val url = concat(lit("https://"),
      when(d % 3 === 0, lit("www.")).when(d % 3 === 1, lit("cdn."))
        .otherwise(lit("")),
      lit("site"), (d % 17).cast("string"), lit(".net"),
      when(d % 17 === 0, lit(":8080")).otherwise(lit("")),
      lit("/page/"), (d % 7).cast("string"))
    val planted = t(spark, dir, "documents")
      .withColumn("t2",
        when(d % 17 === 5 && d % 2 === 0,
          lit("click here to win a free prize"))
          .when(d % 17 === 11 && d % 4 =!= 0, lit(BoilerplateBody))
          .otherwise(col("text")))
      .select(url.as("u"), col("t2"))
    Domains.domainReputation(planted, col("u"), col("t2"),
        length(col("t2")), minDocs = 20L, maxDupPct = 25L,
        minMeanChars = 60L)
      .orderBy(col("domain"))
  }


  /** Dataset "data card" ([[graft.functions.Sampling.exactQuantiles]]):
    * the per-(source, lang) release table — doc counts, exact token and
    * char totals, and EXACT median/p90 length via histogram rank-math
    * (inverse ECDF), where `approx_percentile` would be engine-specific
    * and fall out of the differential oracle. The quantile windows run
    * over the (source, lang, length) histogram, never the corpus.
    */
  def dataCard(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val stats = d.select(col("source"), col("lang"),
        Text.tokenCount(col("text")).cast("long").as("toks"), col("n_chars"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_tokens"),
        sum(col("n_chars")).as("sum_chars"))
    val quants = Sampling.exactQuantiles(
        d.select(col("source"), col("lang"), col("n_chars")),
        Seq("source", "lang"), col("n_chars"), Seq(0.5, 0.9))
      .withColumnRenamed("p50", "median_chars")
      .withColumnRenamed("p90", "p90_chars")
    stats.join(quants, Seq("source", "lang"))
      .orderBy(col("source"), col("lang"))
  }


  /** The constant spam body planted on q98's site11 — one string shared
    * verbatim with the DuckDB oracle. */
  private[graft] val BoilerplateBody =
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do" +
      " eiusmod tempor incididunt ut labore et dolore magna aliqua"


  /** URL canonicalization + dedup ([[graft.functions.Text
    * .canonicalizeUrl]]): raw URLs planted with the variation a crawl
    * frontier actually sees — mixed-case hosts, `www.` prefixes, trailing
    * slashes, `utm_*` tracking params, fragments — collapse onto their
    * canonical form; per canonical URL the dedup reports document reach,
    * how many distinct raw spellings it absorbed, and the min-doc keeper.
    * Pure projection → one narrow groupBy shuffle: the
    * have-we-fetched-this-already gate at frontier scale.
    */
  def urlCanonDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val raw = concat(
      lit("https://"),
      when(d % 3 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Site"), (d % 10).cast("string"),
      lit(".Example.com/doc/"), (d % 5).cast("string"),
      when(d % 2 === 0, lit("/")).otherwise(lit("")),
      when(d % 3 === 1, concat(lit("?utm_source=feed&ref="), (d % 2).cast("string")))
        .when(d % 3 === 2, concat(lit("?ref="), (d % 2).cast("string")))
        .otherwise(lit("")),
      when(d % 5 === 0, concat(lit("#sec"), (d % 3).cast("string"))).otherwise(lit("")))
    t(spark, dir, "documents").select(d, raw.as("raw_url"))
      .withColumn("canonical_url", Text.canonicalizeUrl(col("raw_url")))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_url")).as("n_raw_forms"),
        min(d).as("keep_doc"))
      .orderBy(col("canonical_url"))
  }


  /** C4-style boilerplate-line removal ([[graft.functions.Dedup
    * .boilerplateSummary]]): lines recurring across ≥100 documents are
    * boilerplate; per-doc counts + characters kept. Boilerplate lines are
    * planted (corpus text is single-line): two hot lines cross the
    * threshold, one rare line stays content.
    */
  def boilerplateStrip(spark: SparkSession, dir: String): DataFrame = {
    val d = col("doc_id")
    val planted = t(spark, dir, "documents").withColumn("t2", concat(
      col("text"),
      when(d % 3 === 0, lit("\nsubscribe to our newsletter today"))
        .otherwise(lit("")),
      when(d % 4 === 0, lit("\nall rights reserved")).otherwise(lit("")),
      when(d % 50 === 0, lit("\nrare promo line")).otherwise(lit(""))))
    graft.functions.Dedup
      .boilerplateSummary(planted, d, col("t2"), minDocs = 100L)
      .orderBy(col("doc_id"))
  }


  /** Char-bigram LM fluency scores ([[graft.functions.LmScore]]): the
    * corpus-trained transition model broadcasts onto one explode of each
    * document's bigrams; scores are exact BIGINT sums of integer-scaled
    * conditional frequencies (the engine-portable perplexity stand-in).
    */
  def lmFluency(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val model = graft.functions.LmScore.bigramModel(docs, col("text"))
    graft.functions.LmScore.score(docs, col("doc_id"), col("text"), model)
      .orderBy(col("doc_id"))
  }


  /** Incremental batch-vs-corpus dedup ([[graft.functions.Dedup
    * .incrementalNew]]): docs split 80/20 into corpus/new batch by id, with
    * every 50th corpus doc re-planted into the batch under a shifted id —
    * the anti join must remove exactly those replants.
    */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 10 < 8)
    val batch = docs.filter(col("doc_id") % 10 >= 8)
      .select(col("doc_id"), col("text"))
      .unionAll(corpus.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
    graft.functions.Dedup.incrementalNew(corpus, batch, col("doc_id"), col("text"))
      .orderBy(col("doc_id"))
  }


  /** Per-language quality deciles ([[Sampling.quantileBins]]): rank docs by
    * length inside each language, cut into 10 equal-count bins, roll up
    * counts + length bounds per bin — the labels a quality-weighted
    * mixture sampler draws from.
    */
  def qualityDeciles(spark: SparkSession, dir: String): DataFrame =
    Sampling.quantileBins(
        t(spark, dir, "documents").select(col("lang"), col("n_chars"), col("doc_id")),
        col("lang"), col("n_chars"), col("doc_id"), n = 10)
      .groupBy(col("lang"), col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"), max(col("n_chars")).as("max_chars"))
      .orderBy(col("lang"), col("bin"))


  /** The full curation funnel as ONE query — the composite a pretraining
    * data pipeline actually runs, each stage a verified operator from this
    * catalog applied cumulatively, reported as docs surviving per stage:
    * raw → exact dedup (q23) → Gopher quality gate (q76) → train split
    * (q55) → decontamination vs the test split (q63) → bottom-decile
    * length trim (q84). At 100 TB every stage keeps its own scale shape
    * (fingerprint shuffle, scan-local flags, hash-bucket projection,
    * gram-hash semi join, per-stratum ntile); the funnel adds nothing but
    * the final 6-row count union.
    */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
    val bkt = Sampling.hashBucket(col("doc_id"), 100)
    val gopherOk = Text.gopherFlags(col("text")).map(_._2).reduce(_ * _) === 1L
    // r21 (ONE text pass — r20 verdict task 1): the old funnel ran a
    // separate regex pass per gate family — the fingerprint normalization
    // into the keep1 window, the five gopher tokenizations on keep2's
    // filter (evaluated once per consumer), and the decontamination
    // tokenize+shingle+md5 explode — and every one of them executed over
    // SINGLE-PARTITION lazily-cached frames (AQE coalesces the tiny fp
    // exchange to 1 partition, so each downstream cache stage ran
    // one-task, and the 6-way count union's concurrent branches raced the
    // cache materializations — the r21 PlanMetrics profile shows two
    // independent 3.3 s / 7.3 s executions of the same pipelines). Now
    // every text-derived column the funnel consumes — fingerprint, the
    // gopher gate product, the split bucket, the distinct 5-gram hash
    // array — is computed in a single fanned-out projection per document
    // (guide §4: no repeated interpreted regex over the same string;
    // §2.5: fan out the unsplittable scan), exactly the oracle's
    // `toks AS (...)` CTE shape. The gram array is built only for rows
    // that can reach a gram consumer (train-split candidates and the test
    // split); text never crosses the boundary.
    val needG5 = (gopherOk && bkt < 80) || bkt >= 90
    val enriched = graft.sources.Tables.fanOutSmallInput(d).select(
      col("doc_id"), col("lang"), col("n_chars"),
      Text.fingerprint(col("text")).as("fp"),
      gopherOk.as("gopher_ok"), bkt.as("bkt"),
      when(needG5, Text.gramHashArray(col("text"), 5)).as("g5"))
    // Per-document stage-membership flags, computed ONCE by an eager cut
    // (not persist(): concurrent consumer stages each materialize a lazy
    // cache independently — the measured double-compute above; the cut's
    // job happens-before every consumer). is_k1 is the exact-dedup keeper
    // flag: row_number = 1 on (fp, doc_id) ⇔ doc_id = min(doc_id) of its
    // fingerprint group.
    val flags = Materialize.cut(
      enriched.withColumn("is_k1",
        row_number().over(
          Window.partitionBy(col("fp")).orderBy(col("doc_id"))) === 1)
        .drop("fp"))
    val k3cond = col("is_k1") && col("gopher_ok") && col("bkt") < 80
    // Decontamination over the PRECOMPUTED gram arrays (both sides read
    // the flags cut — no second text pass). The id list has exactly ONE
    // consumer (the flag join below), so it is NOT seamed: a boundary
    // here would be pure write overhead (the r20 q182/q149 lesson).
    val dropIds = Dedup.contaminatedIdsFromGrams(
      flags.filter(k3cond), col("doc_id"), col("g5"),
      flags.filter(col("bkt") >= 90), col("g5"))
    val k4cond = k3cond && col("__dropped").isNull
    // Every stage count is now a conjunction of the per-document flags, so
    // the old 6-branch count union (6 subplans re-reading the boundary —
    // ~25 AQE stages of fixed overhead each at sf0.1, and at 100 TB six
    // passes over the boundary frame) collapses into ONE corpus pass: a
    // per-language aggregate rolled up globally and unpivoted with
    // stack(). The decile trim needs no quantileBins subplan for a COUNT:
    // ntile(10) assigns its bins by rank alone, so bin 1 of a language
    // with t survivors holds exactly t DIV 10 + (1 if t % 10 >= 1) rows —
    // stage 5 is a closed-form expression over the per-language stage-4
    // totals (guide §8: use what you know that the optimizer does not;
    // the oracle still computes the full ntile and the differential gate
    // pins equality).
    val perLang = flags
      .join(dropIds.withColumn("__dropped", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("l0"),
        count(when(col("is_k1"), 1)).as("l1"),
        count(when(col("is_k1") && col("gopher_ok"), 1)).as("l2"),
        count(when(k3cond, 1)).as("l3"),
        count(when(k4cond, 1)).as("l4"))
    perLang
      .agg(coalesce(sum(col("l0")), lit(0L)).as("c0"),
        coalesce(sum(col("l1")), lit(0L)).as("c1"),
        coalesce(sum(col("l2")), lit(0L)).as("c2"),
        coalesce(sum(col("l3")), lit(0L)).as("c3"),
        coalesce(sum(col("l4")), lit(0L)).as("c4"),
        coalesce(sum(col("l4") - expr("l4 DIV 10") -
          when(col("l4") % 10L >= 1L, 1L).otherwise(0L)), lit(0L)).as("c5"))
      .selectExpr("stack(6, '0_raw', c0, '1_exact_dedup', c1, " +
        "'2_quality_gate', c2, '3_train_split', c3, " +
        "'4_decontaminated', c4, '5_decile_trim', c5) as (stage, n_docs)")
      .orderBy(col("stage"))
  }


  /** Content-defined chunking with cross-doc chunk dedup
    * ([[graft.functions.Dedup.cdcChunkStats]]): rolling 8-char-window
    * boundaries at hash ≡ 0 mod 64, chunk doc-frequency over md5 hashes.
    */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame =
    graft.functions.Dedup.cdcChunkStats(
        t(spark, dir, "documents"), col("doc_id"), col("text"))
      .orderBy(col("doc_id"))


  /** K-anonymity facet suppression: publishable per-(lang, source) rollups
    * with facets under k=8 documents suppressed into an "__other__"
    * bucket instead of dropped — group sizes stay truthful while no rare
    * facet is exposed. The pre-publication privacy gate of a shared
    * corpus-stats table.
    */
  def kAnonFacets(spark: SparkSession, dir: String): DataFrame = {
    val k = 8L
    val d = t(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
    d.select(
        when(col("n_docs") >= k, col("lang")).otherwise(lit("__other__")).as("lang_pub"),
        when(col("n_docs") >= k, col("source")).otherwise(lit("__other__")).as("source_pub"),
        col("n_docs"), col("total_chars"))
      .groupBy(col("lang_pub"), col("source_pub"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("total_chars")).as("total_chars"))
      .orderBy(col("lang_pub"), col("source_pub"))
  }


  /** Sparse retrieval: top-10 corpus documents per query document (the
    * first 5 docs stand in for the query set) via the inverted-index
    * term-match score of [[graft.functions.Tfidf.sparseTopK]]. Integer idf
    * weights keep the scores exact BIGINT sums, so ranking is under the
    * differential oracle, not rows-only.
    */
  def sparseRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // 0.78: the synthetic vocabulary is ~31 terms with df ≈ 0.75-0.8·N, so
    // this keeps the mid-frequency half of the index and visibly drops the
    // hottest terms (a realistic 0.5 stopword cap would empty it here).
    graft.functions.Tfidf.sparseTopK(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") < 5), col("doc_id"), col("text"),
        k = 10, maxDfFrac = 0.78)
      .orderBy(col("q"), col("rnk"))
  }


  /** The materialized inverted index itself
    * ([[graft.functions.Tfidf.buildIndex]], the build half of
    * build-once/probe-many): one posting per (document, term) with document
    * frequency, integer idf weight `w` and integer-scaled BM25
    * tf-saturation `tfc` precomputed, stopword-frac terms already dropped —
    * a probe needs only `sum(tf_q·w·tfc)` over (term, d, w, tfc). The df
    * window and corpus-stats broadcasts run HERE, once, instead of inside
    * every retrieval query.
    */
  def sparseIndexBuild(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    graft.functions.Tfidf.buildIndex(docs, col("doc_id"), col("text"),
        maxDfFrac = 0.78)
      .orderBy(col("term"), col("d"))
  }


  /** q90's exact retrieval answered from the MATERIALIZED index (the probe
    * half of build-once/probe-many,
    * [[graft.functions.Tfidf.sparseTopKIndexed]] over
    * [[graft.functions.Tfidf.cachedIndex]]): the postings parquet is built
    * on first touch and fingerprint-keyed to the source files, so a warm
    * probe's plan is a 4-column columnar scan + broadcast term join — no
    * corpus tokenization, no explode, no df-window exchange. Results are
    * hash-identical to q90 by construction (same oracle).
    */
  def sparseIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // File-backed layer: fingerprint-cached materialized index. JDBC
    // layer (no source files to fingerprint): build in-plan — same
    // answer, no cache; the probe path stays functional on every layer
    // location Tables.load supports.
    val idx = graft.sources.Tables.parquetLocation(dir, "documents") match {
      case Some(src) => graft.functions.Tfidf.cachedIndex(docs, col("doc_id"),
        col("text"), maxDfFrac = 0.78, sourceDir = src)
      case None => graft.functions.Tfidf.buildIndex(docs, col("doc_id"),
        col("text"), maxDfFrac = 0.78)
    }
    graft.functions.Tfidf.sparseTopKIndexed(idx,
        docs.filter(col("doc_id") < 5), col("doc_id"), col("text"), k = 10)
      .orderBy(col("q"), col("rnk"))
  }


  /** Incremental-index retrieval ([[graft.functions.Tfidf.rawPostings]] /
    * [[graft.functions.Tfidf.sparseTopKIncremental]]): the corpus arrives
    * as TWO disjoint ingest batches (even / odd doc ids), postings stay
    * raw and statistics additive, and the probe derives the integer BM25
    * weights from the SUMMED stats at probe time. Must reproduce q90's
    * monolithic SQL byte-for-byte — the differential proof that appending
    * a batch never stales the index (df, N, avgdl and the stopword cap all
    * reflect the grown corpus exactly).
    */
  def sparseIndexDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Tfidf
    val docs = t(spark, dir, "documents")
    val batchA = docs.filter(col("doc_id") % 2 === 0)
    val batchB = docs.filter(col("doc_id") % 2 =!= 0)
    val postings = Tfidf.rawPostings(batchA, col("doc_id"), col("text"))
      .unionByName(Tfidf.rawPostings(batchB, col("doc_id"), col("text")))
    val (tsA, csA) = Tfidf.batchStats(batchA, col("doc_id"), col("text"))
    val (tsB, csB) = Tfidf.batchStats(batchB, col("doc_id"), col("text"))
    Tfidf.sparseTopKIncremental(postings, tsA.unionByName(tsB),
        csA.unionByName(csB),
        docs.filter(col("doc_id") < 5), col("doc_id"), col("text"),
        k = 10, maxDfFrac = 0.78)
      .orderBy(col("q"), col("rnk"))
  }

  /** The full incremental-index LIFECYCLE on disk ([[graft.functions
    * .Tfidf.appendToIndex]] ×2 → [[graft.functions.Tfidf.compactIndex]] →
    * probe): two disjoint ingest batches append raw postings + additive
    * stats, compaction merges them into the term-partitioned sorted
    * layout (one row per term in term_stats, one corpus row, contiguous
    * per-term posting runs), and the probe over the COMPACTED directory
    * must still reproduce q90's monolithic SQL byte-for-byte — the
    * differential proof that compaction is a pure layout rewrite. q238
    * proves append ≡ monolithic in-plan; this proves append→compact ≡
    * monolithic through the on-disk path an always-appending ingest needs
    * (without compaction, 10k batches = 10k file sets per probe scan).
    * The index directory is rebuilt per run (delete → append → compact)
    * so the query is self-contained and deterministic.
    */
  def sparseIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Tfidf
    val docs = t(spark, dir, "documents")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
    // Process-unique generation suffix: two concurrent runs over the same
    // scale-factor dir (Verify and Bench in parallel) must never race one
    // delete→append→compact sequence — each builds its own generation,
    // and prior generations of the same corpus are purged only once aged
    // (a younger sibling may be a live concurrent build), the
    // Tfidf.cachedIndex purge discipline.
    val gen = java.util.UUID.randomUUID().toString.take(8)
    val path = s"${sys.props("java.io.tmpdir")}/graft_compact_idx_${key}_$gen"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    val ageFloorMs = 60L * 60 * 1000
    val now = System.currentTimeMillis()
    if (fs.exists(parent))
      fs.listStatus(parent)
        .filter { s =>
          val n = s.getPath.getName
          (n.startsWith(s"graft_compact_idx_${key}_") ||
            n == s"graft_compact_idx_$key") && n != p.getName &&
            now - s.getModificationTime > ageFloorMs
        }
        .foreach(s => scala.util.Try(fs.delete(s.getPath, true)))
    // r21: the two disjoint ingest batches append CONCURRENTLY (guide
    // §2.6) — appendToIndex's staged-write + rename-in publish makes
    // simultaneous batches safe by construction (no shared committer
    // state), so one batch's small stat jobs back-fill the cores the
    // other's driver round-trips leave idle. The lifecycle proof is
    // unchanged: two append calls, then compaction, then the probe.
    Overlap.all(spark)(Seq(col("doc_id") % 2 === 0, col("doc_id") % 2 =!= 0)
      .map(pred => () =>
        Tfidf.appendToIndex(docs.filter(pred), col("doc_id"), col("text"), path)): _*)
    Tfidf.compactIndex(spark, path)
    Tfidf.sparseTopKIncremental(spark, path,
        docs.filter(col("doc_id") < 5), col("doc_id"), col("text"),
        k = 10, maxDfFrac = 0.78)
      .orderBy(col("q"), col("rnk"))
  }


  /** Crawl-frontier host authority ([[graft.functions.Graph.pageRankInt]]):
    * a host-level link graph derived deterministically from doc ids (the
    * q94 pattern — site `d mod 10` links to site `(d div 10) mod 10`,
    * weight = link count), ranked by 8 rounds of ALL-INTEGER weighted
    * PageRank at scale 1e9 / damping 0.85. Exact BIGINT fixed-point, so
    * the full iterative computation sits under the differential oracle
    * (unrolled to 8 chained CTEs in DuckDB).
    */
  def hostAuthority(spark: SparkSession, dir: String): DataFrame = {
    val edges = t(spark, dir, "documents")
      .select(expr("doc_id % 10").as("src"),
        expr("(doc_id DIV 10) % 10").as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    // (r21: one cut after a full 8-round unroll was tried — the host
    // universe is ≤10 by construction, so the per-round frames are tiny —
    // and measured FLAT-to-worse: AQE materializes the unrolled chain's ~3 micro-
    // exchanges per round sequentially, costing what the 4 saved seam
    // round-trips cost. Falsified, reverted; the win that survived is
    // inside pageRankInt: its loop invariants are seamed once.)
    graft.functions.Graph.pageRankInt(edges, col("src"), col("dst"),
        col("w"), iterations = 8)
      .select(col("host"), col("rank").as("authority"))
      .orderBy(col("authority").desc, col("host"))
  }


  /** DSIR-style importance selection
    * ([[graft.functions.Importance.importanceScores]]): src0 documents
    * define the target domain; every other document is scored by its
    * hashed-unigram bucket ratio sum (integer-exact), length-normalized,
    * and the top 100 candidates are selected. The global top-k runs as
    * sort+limit (TakeOrderedAndProject), never a corpus-wide
    * single-partition window; ranks are assigned on the 100 survivors.
    */
  def importanceSelection(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.functions.Importance.importanceScores(
      t(spark, dir, "documents"), col("doc_id"), col("text"),
      col("source") === "src0")
    scored.orderBy(col("imp_per_tok").desc, col("id")).limit(100)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("imp_per_tok").desc, col("id"))))
      .select(col("id").as("doc_id"), col("n_toks"), col("imp_per_tok"),
        col("rnk"))
      .orderBy(col("rnk"))
  }


  /** The spam phrase appended to every 5th document (`doc_id % 5 = 2`)
    * for the q103/q107 classifier queries — the planted ground truth the
    * model must learn, shared verbatim with the DuckDB oracle (the q98
    * planting discipline). The words are disjoint from the synthetic
    * corpus vocabulary, so the signal is real but the base text stays.
    */
  private[graft] val SpamMarker =
    "click here to win your free prize unsubscribe now limited offer exclusive deal"


  /** (doc_id, is_spam, score, pred) for every held-out document under
    * the q103 classifier — shared by q103 (per-doc surface) and q107
    * (calibration table). One in five documents carries [[SpamMarker]];
    * the model trains on the 30% md5 split and must recover the planted
    * label on the held-out 70%.
    */
  private[graft] def classifierScored(spark: SparkSession, dir: String): DataFrame = {
    val planted = col("doc_id") % 5 === 2
    val docs = t(spark, dir, "documents")
      .withColumn("text",
        when(planted, concat(col("text"), lit(s" $SpamMarker")))
          .otherwise(col("text")))
      .withColumn("is_spam", planted.cast("int"))
    val isTrain = Sampling.hashBucket(col("doc_id"), 100) < 30
    // r21: the trained model is a ≤topK-row frame BY CONSTRUCTION, so it
    // exports to the driver once (the same tiny collect a broadcast build
    // performs) and the held-out corpus is scored by the stateless
    // [[graft.functions.Classifier.scoreExpr]] projection — the streaming
    // scorer's form. The old scoreDocs path exploded every held-out
    // document into (id, bucket) pairs, deduped them through a corpus-wide
    // shuffle, broadcast-joined the model, re-aggregated by id, and
    // left-joined the scores back: at 100 TB that is two full (id, bucket)
    // exchanges and two joins for what is a per-row expression (guide
    // §2.4: remove shuffles outright). Train input is fanned out: the
    // explode+hash pass is expression-bound and a single-row-group scan
    // would run it one-task (§2.5).
    val model = graft.functions.Classifier.hashedLinearModel(
      graft.sources.Tables.fanOutSmallInput(docs.filter(isTrain)),
      col("doc_id"), col("text"), col("is_spam") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.sources.Tables.fanOutSmallInput(docs.filter(!isTrain))
      .select(col("doc_id"), col("is_spam"),
        graft.functions.Classifier.scoreExpr(model, col("text")).as("score"))
      .withColumn("pred", (col("score") > 0L).cast("int"))
  }


  /** Hashed bag-of-words spam classifier ([[graft.functions.Classifier]]):
    * the fastText-style model-based filter step of a pretraining
    * pipeline, end to end — class-rate token weights trained on the 30%
    * md5 split, top-256 feature cut, held-out docs scored by
    * broadcast-joined weighted bag-of-words sum. All-BIGINT train AND
    * inference, so the whole learn-then-filter pipeline replays exactly
    * in DuckDB.
    */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    classifierScored(spark, dir).orderBy(col("doc_id"))


  /** Classifier calibration table ([[graft.functions.Sampling
    * .quantileBins]] over the q103 scores): held-out documents cut into
    * 10 exact score deciles, each reporting its spam-label count — the
    * reliability check run on every production quality filter (the
    * planted positives must concentrate in the top deciles). Binning is
    * the two-phase histogram form: windows run over distinct score
    * values, never the held-out corpus.
    */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame =
    // quantileBins reads its input from several branches (summary, join,
    // whole/straddling) — cut the narrow scored frame once or the whole
    // train-and-score pipeline runs per branch. r21: an eager cut, not
    // persist(): quantileBins' branches all launch concurrently under AQE
    // and each racing stage materialized the lazy cache INDEPENDENTLY (the
    // r21 PlanMetrics profile showed the scoring pipeline executed twice,
    // 5.2 s + 2.1 s accumulated); the cut's job happens-before every
    // consumer, so scoring runs exactly once at any scale.
    Sampling.quantileBins(
        Materialize.cut(classifierScored(spark, dir).drop("pred")),
        lit("all"), col("score"), col("doc_id"), n = 10)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("is_spam")).cast("long").as("n_pos"),
        min(col("score")).as("min_score"),
        max(col("score")).as("max_score"))
      .orderBy(col("bin"))


  /** Weighted document sample ([[graft.functions.Sampling
    * .sequentialPoissonSample]]): 50 documents per language drawn with
    * probability proportional to length — sequential Poisson sampling
    * with the portable md5 hash as the uniform, priority `h / n_chars`
    * one exact-rounded IEEE division, so DuckDB orders identically.
    * Two-phase per-shard top-k: no stratum-only window over the corpus.
    */
  def weightedSample(spark: SparkSession, dir: String): DataFrame =
    Sampling.sequentialPoissonSample(
        t(spark, dir, "documents").select(col("doc_id"), col("lang"),
          col("n_chars")),
        col("lang"), col("doc_id"), col("n_chars"), k = 50)
      .orderBy(col("lang"), col("samp_rank"))


  /** Mixture epoch plan ([[graft.functions.Sampling.epochPlan]]): per
    * source, the repeat factor realizing a 1M-token budget under
    * sqrt-temperature weights — exact BIGINT ceil/floor rationals. One
    * corpus pass; normalization runs over the sources-sized summary.
    */
  def epochPlanQuery(spark: SparkSession, dir: String): DataFrame =
    Sampling.epochPlan(
        t(spark, dir, "documents").select(col("source"), col("text")),
        col("source"), Text.tokenCount(col("text")), budget = 1000000L)
      .orderBy(col("stratum"))


  /** Per-epoch training order ([[graft.functions.Sampling.epochShuffle]]):
    * every document's exact global position in 2 differently-shuffled
    * epochs — epoch-seeded md5 order, positions assembled from monotone
    * shard partials, never a corpus-wide sort.
    */
  def epochShuffleQuery(spark: SparkSession, dir: String): DataFrame =
    Sampling.epochShuffle(
        t(spark, dir, "documents").select(col("doc_id")),
        col("doc_id"), epochs = 2)
      .select(col("doc_id"), col("epoch"), col("pos"))
      .orderBy(col("epoch"), col("pos"))


  /** Dataset release diff ([[graft.dq.Checks.releaseDiff]]): per source,
    * the added / removed / changed / unchanged counts between two
    * synthesized corpus snapshots (the q83 snapshot-arithmetic
    * discipline: every 13th doc is new, every 19th was dropped, every
    * 11th was revised) — the delta table of a dataset release note. Only
    * (id, source, md5 fingerprint) ride the full-outer join.
    */
  def releaseDiffQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val prev = docs.filter(col("doc_id") % 13 =!= 5)
    val cur = docs.filter(col("doc_id") % 19 =!= 6)
      .withColumn("text",
        when(col("doc_id") % 11 === 3, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    graft.dq.Checks.releaseDiff(prev, cur, col("doc_id"),
        Text.fingerprint(col("text")), col("source"))
      .orderBy(col("grp"))
  }


  /** Decontamination sweep ([[graft.functions.Dedup.contamination]] at
    * two shingle sizes): the overlap-vs-n-gram-size table a dataset card
    * publishes — short grams over-flag (any shared phrase), long grams
    * under-flag (only real copies); the sweep quantifies both ends on
    * the same train/test split. Per gram size: contaminated test docs,
    * total (test, train) contaminated pairs, total shared grams.
    */
  def contaminationSweep(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bkt = Sampling.hashBucket(col("doc_id"), 100)
    val train = docs.filter(bkt < 80)
    val test = docs.filter(bkt >= 90)
    Seq(3, 8).map { k =>
      Dedup.contamination(train, col("doc_id"), col("text"),
          test, col("doc_id"), col("text"), k = k,
          metricName = s"graft.contamination_k$k")
        .agg(count(lit(1)).as("n_test_contaminated"),
          coalesce(sum(col("n_train_docs")), lit(0L)).as("total_pairs"),
          coalesce(sum(col("n_shared_grams")), lit(0L)).as("total_shared_grams"))
        .withColumn("gram_k", lit(k))
    }.reduce(_ unionByName _)
      .select(col("gram_k"), col("n_test_contaminated"), col("total_pairs"),
        col("total_shared_grams"))
      .orderBy(col("gram_k"))
  }


  /** Per-source quality-drift monitor ([[graft.functions.Sampling
    * .exactQuantiles]] over (source, batch)): compare each source's exact
    * median/p90 length between the old and new halves of the corpus and
    * flag a >20% median shift — the distribution-shift alarm a continuous
    * ingestion pipeline runs per source per day. One source (src7) gets a
    * planted +200-char inflation in its new batch, so exactly one alarm
    * fires. All rank-math and the drift test are exact integers; the
    * quantile windows run over the (source, batch, value) histogram,
    * never the corpus.
    */
  def driftMonitor(spark: SparkSession, dir: String): DataFrame = {
    // batch by doc_id BLOCK, not parity: source is doc_id mod 20, so a
    // parity split would correlate perfectly with the strata. Stratify by
    // LANGUAGE (hundreds of docs per cell), not source (tens) — exact
    // medians of tiny cells are noisy enough to trip any sane threshold,
    // which is a property of the data, not the monitor.
    val newBatch = expr("(doc_id DIV 20) % 2") === 1
    val d = t(spark, dir, "documents")
      .withColumn("batch", when(newBatch, "new").otherwise("old"))
      .withColumn("m",
        col("n_chars") + when(col("lang") === "de" && newBatch, 200L)
          .otherwise(0L))
    val q = Sampling.exactQuantiles(
      d.select(col("lang"), col("batch"), col("m")),
      Seq("lang", "batch"), col("m"), Seq(0.5, 0.9))
    def side(b: String, c: String) = max(when(col("batch") === b, col(c)))
    q.groupBy(col("lang"))
      .agg(side("old", "p50").as("median_old"),
        side("new", "p50").as("median_new"),
        side("old", "p90").as("p90_old"),
        side("new", "p90").as("p90_new"))
      .withColumn("drift",
        (abs(col("median_new") - col("median_old")) * 10L >
          col("median_old") * 2L).cast("int"))
      .orderBy(col("lang"))
  }


  /** Tokenizer fertility per language: subword pieces emitted per
    * whitespace word ([[Text.subwordCount]] / [[Text.tokenCount]]),
    * integer-scaled ×1e6 — the standard multilingual tokenizer-equity
    * metric (a high-fertility language pays more sequence length per
    * word, so mixtures and budgets must correct for it). Scan-local
    * projections into a low-cardinality groupBy with map-side partials.
    */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("lang"),
        Text.tokenCount(col("text")).cast("long").as("toks"),
        Text.subwordCount(col("text")).cast("long").as("subs"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("total_tokens"),
        sum(col("subs")).as("total_subwords"))
      .withColumn("fertility_ppm",
        expr("(total_subwords * 1000000L) DIV total_tokens"))
      .orderBy(col("lang"))


  /** Context-length truncation-loss curve: for each candidate max sequence
    * length, the tokens kept vs lost if every document is truncated there —
    * the table a team reads to pick a training context length. Scale shape:
    * per-doc token counts collapse to one long AT THE SCAN (text never
    * shuffles); the 4× explode fans out 8-byte rows into a 4-group rollup.
    */
  def truncationLoss(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .select(col("n_tokens"),
        explode(array(lit(64L), lit(128L), lit(192L), lit(256L))).as("max_len"))
      .groupBy(col("max_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") > col("max_len"), 1L).otherwise(0L)).as("n_truncated"),
        sum(col("n_tokens")).as("tokens_total"),
        sum(least(col("n_tokens"), col("max_len"))).as("tokens_kept"))
      .withColumn("kept_ppm", expr("tokens_kept * 1000000L DIV tokens_total"))
      .orderBy(col("max_len"))


  /** Exact-dedup survivorship audit: per (lang, source), how many documents
    * (and characters) exact dedup would REMOVE under the q23 policy (one
    * keeper per normalized-text fingerprint, ties to min doc_id) — the
    * "what did dedup delete, and from where" table every data card needs
    * before the removal is applied. Scale shape: only (fp, doc_id, lang,
    * source, n_chars) shuffles — fingerprints, never text — and the keeper
    * window partitions by fp (cardinality ≈ corpus), so parallelism is full.
    */
  def dedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        md5(Text.normalized(col("text"))).as("fp"))
    val w = Window.partitionBy(col("fp"))
    d.withColumn("keep_id", min(col("doc_id")).over(w))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("keep_id"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("doc_id") =!= col("keep_id"), col("n_chars"))
          .otherwise(lit(0L))).as("chars_removed"))
      .withColumn("removed_ppm", expr("n_removed * 1000000L DIV n_docs"))
      .orderBy(col("lang"), col("source"))
  }


  /** Cross-split doc-level near-dup contamination: MinHash/LSH candidate
    * pairs that CROSS the train (bucket < 80) / eval (bucket ≥ 90) hash
    * split, verified with exact word-3-gram Jaccard and reported per eval
    * doc with its closest train match — the doc-granularity
    * benchmark-overlap report (q63 is the shared-n-gram containment twin;
    * this answers "which eval docs are near-copies of a train doc").
    * Scale shape: candidates come from the capped LSH band buckets (never
    * a cross join); exact Jaccard runs only on the candidate set; shingle
    * sets join in by id so the corpus is scanned, not re-shuffled.
    */
  def crossSplitNearDup(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .filter(size(Text.shingles(col("text"), 3)) > 0)
    val cands = Dedup.minHashCandidates(d, col("doc_id"), col("text"),
      shingleK = 3, bands = 2, rowsPerBand = 2)
    def bkt(c: Column): Column = Sampling.hashBucket(c, 100)
    val cross = cands
      .filter((bkt(col("id_a")) < 80 && bkt(col("id_b")) >= 90) ||
        (bkt(col("id_a")) >= 90 && bkt(col("id_b")) < 80))
      .select(
        when(bkt(col("id_a")) < 80, col("id_a")).otherwise(col("id_b")).as("train_id"),
        when(bkt(col("id_a")) < 80, col("id_b")).otherwise(col("id_a")).as("eval_id"))
    val sh = d.select(col("doc_id"),
      array_distinct(Text.shingles(col("text"), 3)).as("sh"))
    val scored = cross
      .join(sh.select(col("doc_id").as("train_id"), col("sh").as("sh_t")), "train_id")
      .join(sh.select(col("doc_id").as("eval_id"), col("sh").as("sh_e")), "eval_id")
      .withColumn("inter", size(array_intersect(col("sh_e"), col("sh_t"))))
      .withColumn("jaccard", col("inter").cast("double") /
        (size(col("sh_e")) + size(col("sh_t")) - col("inter")).cast("double"))
      // shingle sets are consumed — drop them so the per-eval rank
      // exchange moves only (ids, jaccard), not text-derived arrays
      .drop("sh_e", "sh_t", "inter")
    val byEval = Window.partitionBy(col("eval_id"))
    scored
      .withColumn("rn", row_number().over(
        byEval.orderBy(col("jaccard").desc, col("train_id"))))
      .withColumn("n_train_matches", count(lit(1)).over(byEval))
      .filter(col("rn") === 1)
      .select(col("eval_id"), col("n_train_matches"),
        col("train_id").as("best_train_id"), col("jaccard").as("best_jaccard"))
      .orderBy(col("eval_id"))
  }


  /** Exact per-group top-k without a group-only rank window
    * ([[graft.ops.Relational.groupTopK]]): the 5 longest documents per
    * language. A `row_number over (partition by lang)` would funnel the
    * corpus into ~5 reducers at 100 TB; the two-phase rewrite ranks within
    * (lang, hash shard) first and re-ranks only the ≤ shards×k survivors —
    * exact for any order, since a group's global top-k is contained in the
    * union of its per-shard top-ks.
    */
  def groupTopKDocs(spark: SparkSession, dir: String): DataFrame =
    Relational.groupTopK(
        t(spark, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        Seq(col("lang")), Seq(col("n_chars").desc, col("doc_id")),
        col("doc_id"), k = 5)
      .select(col("lang"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("rank"))


  /** Packed-sequence layout: q57 assigns documents to packing bins; this
    * materializes each bin's internal layout — every document's position
    * and starting character offset inside its packed sequence, the
    * attention-boundary table a training shard writer needs next to the
    * packed bytes. Scale shape: the offset window partitions by
    * (shard, pack_bin) — cardinality ≈ corpus/budget, full parallelism —
    * and only (ids, n_chars) ever shuffle.
    */
  def packedLayout(spark: SparkSession, dir: String): DataFrame = {
    val p = Sampling.packByBudget(
      t(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
      col("doc_id"), col("n_chars"), budget = 4000L, shards = 8)
    val w = Window.partitionBy(col("shard"), col("pack_bin")).orderBy(col("doc_id"))
    p.withColumn("seq_pos", row_number().over(w).cast("long"))
      .withColumn("start_offset", sum(col("n_chars")).over(w) - col("n_chars"))
      .select(col("shard"), col("pack_bin"), col("doc_id"),
        col("seq_pos"), col("start_offset"))
      .orderBy(col("shard"), col("pack_bin"), col("seq_pos"))
  }


  /** N-gram diversity data card: per (lang, source) the type/token table
    * over word 3-grams — total grams, per-doc-distinct gram total,
    * corpus-distinct grams, and the distinct/total ratio in exact ppm.
    * The inter-document repetition twin of q64 (which is intra-document):
    * a shrinking corpus-level type/token ratio is template spam shared
    * ACROSS documents — the signal domain caps (q98) and near-dup removal
    * (q27/q60) act on, quantified per corpus slice for the data card.
    * Scale shape: grams leave the scan as md5 hashes projected next to two
    * facet columns — text never shuffles — and the exact distinct count is
    * a (lang, source, hash) pre-aggregate (map-side combine collapses
    * within-partition repeats) before the count; the two facet-level
    * aggregates join at 100-row cardinality.
    */
  def ngramDiversity(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .select(col("lang"), col("source"),
        array_distinct(Text.shingles(col("text"), 3)).as("dsh"),
        size(Text.shingles(col("text"), 3)).cast("long").as("n_grams"))
    val tot = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_grams")).as("total_grams"),
        sum(size(col("dsh")).cast("long")).as("doc_distinct_grams"))
    val dist = d.select(col("lang"), col("source"),
        explode(col("dsh")).as("g"))
      .select(col("lang"), col("source"), md5(col("g")).as("h"))
      .groupBy(col("lang"), col("source"))
      .agg(countDistinct(col("h")).as("distinct_grams"))
    tot.join(dist, Seq("lang", "source"))
      .select(col("lang"), col("source"), col("n_docs"), col("total_grams"),
        col("distinct_grams"), col("doc_distinct_grams"),
        when(col("total_grams") > 0,
          expr("(distinct_grams * 1000000L) DIV total_grams"))
          .otherwise(lit(0L)).cast("long").as("ttr_ppm"))
      .orderBy(col("lang"), col("source"))
  }


  /** Duplicate-multiplicity histogram: how many fingerprint groups appear
    * exactly k times (k capped at 5+), and how many languages each group
    * spans — the "docs seen N times" table of a dedup report, with the
    * cross-language facet surfacing machine-translated or spam duplicates
    * that per-language dedup would miss. The answer to "how much does
    * multiplicity-weighted dedup actually save" before running it (q113
    * reports the per-slice outcome; this is the shape of the problem).
    * Scale: only (16-byte fp, lang, n_chars) shuffles; the second rollup
    * is over group-cardinality rows and lands at ≤ 5×|langs| cells.
    */
  def dupMultiplicity(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(
      md5(Text.normalized(col("text"))).as("fp"), col("lang"), col("n_chars"))
    val g = d.groupBy(col("fp"))
      .agg(count(lit(1)).as("m"), countDistinct(col("lang")).as("nl"),
        sum(col("n_chars")).as("chars"))
    g.select(least(col("m"), lit(5L)).as("multiplicity"), col("nl").as("n_langs"),
        col("m"), col("chars"))
      .groupBy(col("multiplicity"), col("n_langs"))
      .agg(count(lit(1)).as("n_groups"), sum(col("m")).as("n_docs"),
        sum(col("chars")).as("total_chars"))
      .orderBy(col("multiplicity"), col("n_langs"))
  }


  /** MinHash/LSH S-curve audit: for each exact-Jaccard bucket (5% wide),
    * what fraction of overlapping pairs did the banded signature scheme
    * (q28's bands=2 × rows=2) actually surface? This is the measured
    * capture curve behind every minhash parameter choice: near-zero
    * buckets SHOULD sit at ~0 ppm (banding correctly ignores incidental
    * shared grams) and the near-dup buckets at ~10⁶ ppm — a flat curve
    * means the band/row trade-off is mis-sized for the dedup threshold.
    * Ground truth is the q54 discipline — exact set math only within
    * (lang, source) blocks, and any block past 2048 docs keeps a
    * deterministic hash-sample (exact all-pairs is what LSH exists to
    * avoid; the cap is inert at every gate SF and bounds the truth side
    * at 100 TB). The cap matches q54's 2048 — the r13 rehearsal ran this
    * audit at 4096 and the truth leg alone cost 4× q54's at sf10 (105 s,
    * the catalog's heaviest); a recall AUDIT needs a statistically dense
    * truth sample, not a 4×-bigger one. Candidates come from the capped band buckets over the
    * FULL universe — sampling the truth never hides a candidate.
    * Buckets are exact integer math ((inter*20) DIV union), so boundaries
    * cannot drift between engines; the truth-candidate join moves only id
    * pairs.
    */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .filter(size(Text.shingles(col("text"), 3)) > 0)
    // sorted + deduped ONCE per document; the per-pair work inside the
    // blocked join is then a single allocation-free merge scan returning
    // the exact integer intersection (the q54 lesson, integer-typed)
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      array_sort(array_distinct(Text.shingles(col("text"), 3))).as("sh"))
    // The documented sample-at-scale contract, implemented: exact all-pairs
    // truth is quadratic in the block, so any (lang, source) block past the
    // cap keeps a deterministic ~cap-sized hash-sample of docs (inert at
    // every gate SF — sf0.01/sf0.1/sf1 blocks sit under 2048 — and proven
    // necessary by the sf10 rehearsal, where unsampled truth went 25× for
    // 10× data). Keep iff hashBucket(id)/10⁶ < cap/bn, all integers.
    val sampled =
      Sampling.capBlocks(base, Seq("lang", "source"), col("doc_id"), 2048L)
    val a = sampled.select(col("doc_id").as("id_a"), col("lang"), col("source"),
      col("sh").as("sh_a"))
    val b = sampled.select(col("doc_id").as("id_b"), col("lang"), col("source"),
      col("sh").as("sh_b"))
    val truth = a.join(b, Seq("lang", "source"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", graft.plans.TextExpressions
        .sorted_set_intersect_size(col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("inter"))
      .filter(col("inter") > 0L)
      .select(col("id_a"), col("id_b"), expr("(inter * 20) DIV uni").as("bucket"))
    val cands = Dedup.minHashCandidates(docs, col("doc_id"), col("text"),
        shingleK = 3, bands = 2, rowsPerBand = 2)
      .withColumn("caught", lit(1L))
    truth.join(cands, Seq("id_a", "id_b"), "left")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true_pairs"),
        sum(coalesce(col("caught"), lit(0L))).as("n_caught"))
      .withColumn("caught_ppm", expr("(n_caught * 1000000L) DIV n_true_pairs"))
      .orderBy(col("bucket"))
  }


  /** Near-dup burden per quality decile: are near-duplicates concentrated
    * in low-quality strata? Composes q60's duplicate clusters (members
    * that are not their cluster's min-id representative count as burden)
    * with q84's exact per-language deciles — the table that says whether
    * quality filtering alone would have removed the duplicates anyway, or
    * dedup earns its keep across the whole quality range. Scale: the
    * cluster labels are id-pairs only, the decile assignment is the
    * two-phase histogram (no corpus-wide window), and the final join is
    * id-keyed.
    */
  def dupByQuality(spark: SparkSession, dir: String): DataFrame = {
    val binned = Sampling.quantileBins(
      t(spark, dir, "documents").select(col("lang"), col("n_chars"), col("doc_id")),
      col("lang"), col("n_chars"), col("doc_id"), n = 10)
    val cc = Dedup.connectedComponents(minhashPairs(spark, dir))
    val dups = cc.filter(col("id") =!= col("cluster"))
      .select(col("id").as("doc_id"), lit(1L).as("is_dup"))
    binned.join(dups, Seq("doc_id"), "left")
      .groupBy(col("lang"), col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_neardups"))
      .withColumn("neardup_ppm", expr("(n_neardups * 1000000L) DIV n_docs"))
      .orderBy(col("lang"), col("bin"))
  }


  /** Zipf vocabulary table: the 20 most frequent tokens per language with
    * exact occurrence counts — the vocabulary audit behind stopword lists,
    * quality-signal calibration (q26 stopword ratios) and tokenizer-equity
    * checks (q111). The per-language top-k is
    * [[graft.ops.Relational.nativeTopK]]'s per-key bounded-heap operator
    * ([[graft.plans.TopKPlan]], partial/final heaps — at most
    * mapPartitions × langs × 20 survivors cross the exchange), so the
    * ~5-value language partition never funnels the full token-count table
    * through one reducer, and the rank column is re-derived by a window
    * over the ≤ langs×20 survivors.
    */
  def zipfTable(spark: SparkSession, dir: String): DataFrame = {
    val counts = t(spark, dir, "documents")
      .select(col("lang"), explode(Text.tokens(Text.normalized(col("text")))).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
    Relational.nativeTopK(counts, keys = Seq("lang"),
        order = Seq(("n_occurrences", false), ("token", true)), k = 20)
      .withColumn("rank", row_number().over(Window.partitionBy(col("lang"))
        .orderBy(col("n_occurrences").desc, col("token"))).cast("long"))
      .select(col("lang"), col("rank"), col("token"), col("n_occurrences"))
      .orderBy(col("lang"), col("rank"))
  }


  /** Filter-ablation grid: the JOINT distribution of the five Gopher gates
    * — every observed pass/fail combination with doc and char mass plus
    * corpus share. q76 reports each gate's marginal pass count; this table
    * is the overlap structure those marginals hide: which gates fire
    * together, what each uniquely removes, and whether a gate is subsumed
    * (its fail cells all co-fail with another's) — the evidence for
    * dropping or reordering gates in the curation funnel (q85). Pure
    * projection into a ≤32-cell rollup; the corpus total rides in-plan as
    * a broadcast scalar (q88's pattern, no driver-side collect).
    */
  def filterAblation(spark: SparkSession, dir: String): DataFrame = {
    val flags = Text.gopherFlags(col("text"))
    val d = t(spark, dir, "documents")
      .select(col("n_chars") +: flags.map { case (n, c) => c.cast("int").as(n) }: _*)
    val flagCols = flags.map { case (n, _) => col(n) }
    val total = d.agg(count(lit(1)).as("__total"))
    d.groupBy(flagCols: _*)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .crossJoin(broadcast(total))
      .withColumn("share_ppm", expr("(n_docs * 1000000L) DIV __total"))
      .drop("__total")
      .orderBy(flagCols: _*)
  }


  /** Packing-efficiency histogram: the distribution of bin fill ratios
    * under q119's layout (budget 4000 chars, 8 hash shards) — the padding
    * waste a shard writer reports before training commits to a sequence
    * length. Bins land in 10%-wide fill buckets (a bin can exceed 10⁶ ppm:
    * the document that crosses the budget boundary stays in its bin, which
    * is exactly what the histogram must surface); each shard's final,
    * typically underfull bin is the long tail on the left. Rollup over
    * bin-cardinality rows; the corpus itself never re-shuffles beyond
    * q119's (shard)-keyed pass.
    */
  def packFillHistogram(spark: SparkSession, dir: String): DataFrame = {
    val p = Sampling.packByBudget(
      t(spark, dir, "documents").select(col("doc_id"), col("n_chars")),
      col("doc_id"), col("n_chars"), budget = 4000L, shards = 8)
    val bins = p.groupBy(col("shard"), col("pack_bin"))
      .agg(sum(col("n_chars")).as("bin_chars"), count(lit(1)).as("n_docs"))
    bins
      .withColumn("fill_bucket",
        least(expr("(bin_chars * 10) DIV 4000"), lit(12L)))
      .groupBy(col("fill_bucket"))
      .agg(count(lit(1)).as("n_bins"), sum(col("n_docs")).as("n_docs"),
        min(col("bin_chars")).as("min_chars"), max(col("bin_chars")).as("max_chars"))
      .orderBy(col("fill_bucket"))
  }


  /** Cross-source duplication matrix: q28's near-dup candidate pairs
    * rolled up by the (unordered) source pair of their endpoints — the
    * provenance table that says which feeds copy which (mirrors, syndication,
    * scraper loops) and whether duplication is mostly intra-source (a feed
    * re-crawling itself) or cross-source. Only id pairs join back to the
    * two source labels; the matrix is ≤ |sources|² cells.
    */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir)
    val src = t(spark, dir, "documents").select(col("doc_id"), col("source"))
    val labeled = pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
      .select(least(col("sa"), col("sb")).as("source_lo"),
        greatest(col("sa"), col("sb")).as("source_hi"))
    labeled.groupBy(col("source_lo"), col("source_hi"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("intra_source",
        when(col("source_lo") === col("source_hi"), 1).otherwise(0).cast("int"))
      .orderBy(col("source_lo"), col("source_hi"))
  }


  /** Signal-covariance audit: per language, the EXACT scaled covariance
    * between document length and the overall Gopher pass verdict,
    * cov_scaled = n·Σ(x·y) − Σx·Σy with x = n_chars and y = pass∈{0,1} —
    * the number whose sign says whether the quality gate is just a length
    * gate in disguise (strongly positive = longer docs pass; near zero =
    * the gate carries independent signal). All integer arithmetic: the
    * three sums are exact per-language aggregates and the final products
    * run in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so no float ever
    * appears — at extreme corpus sizes the decimal lane is also what keeps
    * n·Σxy from overflowing 64 bits. One scan, one 5-row rollup.
    */
  def signalCovariance(spark: SparkSession, dir: String): DataFrame = {
    val flags = Text.gopherFlags(col("text"))
    val pass = flags.map(_._2).reduce(_ * _)
    val d = t(spark, dir, "documents")
      .select(col("lang"), col("n_chars"), pass.as("y"))
    val agg = d.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(col("y")).as("n_pass"),
        sum(col("n_chars") * col("y")).as("sum_xy"))
    val dec = DecimalType(38, 0)
    agg.select(col("lang"), col("n_docs"), col("n_pass"),
        (col("n_docs").cast(dec) * col("sum_xy").cast(dec) -
          col("sum_chars").cast(dec) * col("n_pass").cast(dec))
          .cast("long").as("cov_scaled"))
      .orderBy(col("lang"))
  }


  /** Language-ID confusion matrix: q25's stopword-vote classifier evaluated
    * against the corpus's true language labels — per (true, predicted)
    * cell with its within-language share. The classifier-eval table every
    * langid gate publishes (which languages leak into which, and how much
    * lands in 'und'); the mixture/budget queries (q70/q93/q97) inherit
    * exactly these error rates when they stratify on PREDICTED language.
    * One scan into a ≤ |langs|×5 matrix; the share window runs over
    * matrix-cardinality rows only.
    */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val m = t(spark, dir, "documents")
      .select(col("lang"), Text.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
    m.withColumn("lang_total",
        sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
      .withColumn("row_ppm", expr("(n_docs * 1000000L) DIV lang_total"))
      .drop("lang_total")
      .orderBy(col("lang"), col("lang_pred"))
  }


  /** Histogram-sketch quantiles + error audit — the quantile member of the
    * sketch suite (membership = Bloom q81, distinct = HLL q120, frequency
    * = CMS q134/q135): per language, median/p90 estimated from a 256-cell
    * fixed-width histogram (the mergeable kilobyte summary a t-digest
    * plays at 100 TB — cells SUM across partitions and days) next to the
    * exact inverse-ECDF values and the measured error. The estimate is
    * the containing cell's upper bound, so error is bounded by the cell
    * width (15 chars) and ≥ 0 — the number that sizes the histogram for a
    * latency/length SLO. All integer; both rank scans run over ≤256-cell /
    * value-cardinality summaries, never the corpus.
    */
  def histogramQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val width = 16L
    val d = t(spark, dir, "documents").select(col("lang"), col("n_chars"))
    val sketch = d
      .withColumn("bucket", least(expr(s"n_chars DIV $width"), lit(255L)))
      .groupBy(col("lang"), col("bucket")).agg(count(lit(1)).as("c"))
    val cum = sketch
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("bucket"))))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("lang"))))
    def est(q: Double, name: String) =
      min(when(col("cum") >= ceil(lit(q) * col("n")),
        col("bucket") * lit(width) + lit(width - 1))).as(name)
    val ests = cum.groupBy(col("lang"))
      .agg(est(0.5, "est_p50"), est(0.9, "est_p90"))
    val exact = Sampling.exactQuantiles(d, Seq("lang"), col("n_chars"),
        Seq(0.5, 0.9))
      .withColumnRenamed("p50", "exact_p50").withColumnRenamed("p90", "exact_p90")
    ests.join(exact, Seq("lang"))
      .select(col("lang"), col("est_p50"), col("exact_p50"),
        col("est_p90"), col("exact_p90"),
        expr("((est_p50 - exact_p50) * 1000000L) DIV exact_p50").as("err_p50_ppm"),
        expr("((est_p90 - exact_p90) * 1000000L) DIV exact_p90").as("err_p90_ppm"))
      .orderBy(col("lang"))
  }


  /** Precision–recall sweep of the q103 quality classifier: for every
    * operating threshold, tp/fp/fn and precision/recall/F1 in exact ppm —
    * the table that picks a model-filter's cutoff (keep-rate vs purity)
    * before it gates a corpus. The sweep is built from a 64-cell mergeable
    * score HISTOGRAM (the q138 sketch discipline): the held-out scores
    * collapse to ≤64 (cell, n, n_pos) rows in one map-side-combined
    * aggregate, and the cumulative-from-the-top counts — "predict spam at
    * score ≥ threshold" — run a window over those sketch-cardinality rows
    * only. The corpus never enters a window, and the histogram is
    * per-shard mergeable, so the same table falls out of a 100 TB score
    * set at the same ≤64-row cost past the first aggregate. Thresholds
    * are each cell's minimum OBSERVED score (exact integers, so DuckDB
    * replays the sweep bit-for-bit); all rates are BIGINT ppm.
    */
  def prCurve(spark: SparkSession, dir: String): DataFrame = {
    val cells = 64
    // classifierScored trains and scores; the histogram and its bounds
    // both scan it, so cut the narrow (score, label) frame once.
    val scored = Materialize.cut(
      classifierScored(spark, dir).select(col("score"), col("is_spam")))
    val bounds = scored.agg(min(col("score")).as("__lo"),
      max(col("score")).as("__hi"))
    val hist = scored.crossJoin(broadcast(bounds))
      .withColumn("cell", expr(s"((score - __lo) * $cells) DIV (__hi - __lo + 1)"))
      .groupBy(col("cell"))
      .agg(min(col("score")).as("threshold"), count(lit(1)).as("n"),
        sum(col("is_spam")).cast("long").as("n_pos"))
    val byCellDesc = Window.orderBy(col("cell").desc)
    val cum = hist
      .withColumn("tp", sum(col("n_pos")).over(byCellDesc))
      .withColumn("pp", sum(col("n")).over(byCellDesc))
    val totals = hist.agg(sum(col("n_pos")).as("__p"))
    cum.crossJoin(broadcast(totals))
      .select(col("threshold"), col("tp"),
        (col("pp") - col("tp")).as("fp"),
        (col("__p") - col("tp")).as("fn"),
        expr("(tp * 1000000L) DIV pp").as("precision_ppm"),
        expr("(tp * 1000000L) DIV __p").as("recall_ppm"),
        expr("""CASE WHEN tp = 0 THEN 0L ELSE
               |  (2 * ((tp * 1000000L) DIV pp) * ((tp * 1000000L) DIV __p))
               |    DIV (((tp * 1000000L) DIV pp) + ((tp * 1000000L) DIV __p))
               |END""".stripMargin).as("f1_ppm"))
      .orderBy(col("threshold"))
  }


  /** Inter-gate agreement matrix: Cohen's kappa (and raw agreement) for
    * every unordered pair of the five Gopher gates — the chance-corrected
    * redundancy check behind q129's ablation grid. Two gates with high
    * kappa are one signal measured twice (drop one from the funnel); a
    * kappa near zero despite high raw agreement is the base-rate trap
    * (both gates pass almost everything) that raw-overlap tables
    * misread. Exact arithmetic end to end: one corpus pass produces the
    * forty joint counts as a single map-side-combined aggregate row, the
    * ten pair rows explode from that one row (driver never collects),
    * and kappa's products run in DECIMAL(38,0)/HUGEINT (the q133
    * discipline) with an explicit |num| DIV den + sign so Spark's
    * truncating DIV and DuckDB's flooring `//` agree on negative kappas.
    */
  def gateKappa(spark: SparkSession, dir: String): DataFrame = {
    val flags = Text.gopherFlags(col("text"))
    val names = flags.map(_._1)
    val d = t(spark, dir, "documents")
      .select(flags.map { case (n, c) => c.cast("int").as(n) }: _*)
    val pairs = for { i <- names.indices; j <- i + 1 until names.length }
      yield (names(i), names(j))
    val cellAggs = pairs.flatMap { case (a, b) =>
      Seq("00", "01", "10", "11").map { vv =>
        sum(when(col(a) === vv(0).asDigit && col(b) === vv(1).asDigit, 1L)
          .otherwise(0L)).as(s"${a}__${b}__$vv")
      }
    }
    val one = d.agg(cellAggs.head, cellAggs.tail: _*)
    val rows = one.select(explode(array(pairs.map { case (a, b) =>
        struct(lit(a).as("gate_a"), lit(b).as("gate_b"),
          col(s"${a}__${b}__00").as("n00"), col(s"${a}__${b}__01").as("n01"),
          col(s"${a}__${b}__10").as("n10"), col(s"${a}__${b}__11").as("n11"))
      }: _*)).as("p"))
      .select(col("p.*"))
    rows
      .withColumn("n", col("n00") + col("n01") + col("n10") + col("n11"))
      .withColumn("agree_ppm", expr("((n00 + n11) * 1000000L) DIV n"))
      .withColumn("__pe", expr(
        """CAST(n11 + n10 AS DECIMAL(38,0)) * CAST(n11 + n01 AS DECIMAL(38,0))
          | + CAST(n00 + n01 AS DECIMAL(38,0)) * CAST(n00 + n10 AS DECIMAL(38,0))
          |""".stripMargin))
      .withColumn("__num", expr(
        "CAST(n AS DECIMAL(38,0)) * CAST(n11 + n00 AS DECIMAL(38,0)) - __pe"))
      .withColumn("__den", expr(
        "CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)) - __pe"))
      .withColumn("kappa_ppm", expr(
        """CAST(CASE WHEN __den = 0 THEN 0
          | WHEN __num < 0 THEN -(((-__num) * 1000000) DIV __den)
          | ELSE (__num * 1000000) DIV __den END AS BIGINT)""".stripMargin))
      .select(col("gate_a"), col("gate_b"), col("n00"), col("n01"),
        col("n10"), col("n11"), col("agree_ppm"), col("kappa_ppm"))
      .orderBy(col("gate_a"), col("gate_b"))
  }


  /** Longest documents per (lang, source) through
    * [[graft.ops.Relational.nativeTopK]] — the catalog face of the native
    * per-key top-k PHYSICAL operator ([[graft.plans.TopKPlan]]: logical
    * node + planner strategy + heap-based partial/final exec pair,
    * injected via [[graft.GraftExtensions]]). The shuffle carries only
    * per-partition heap survivors (≤ partitions × keys × k rows) instead
    * of the corpus; the rows are `row_number() <= k` under a total order,
    * which is exactly what the oracle checks.
    */
  def nativeTopKDocs(spark: SparkSession, dir: String): DataFrame =
    Relational.nativeTopK(
        t(spark, dir, "documents")
          .select(col("lang"), col("source"), col("doc_id"), col("n_chars")),
        keys = Seq("lang", "source"),
        order = Seq(("n_chars", false), ("doc_id", true)), k = 3)
      .orderBy(col("lang"), col("source"), col("n_chars").desc, col("doc_id"))


  /** Vocabulary-drift data card: for the 30 highest-count corpus tokens,
    * each source's usage share vs the corpus share, in exact ppm — the
    * per-source lexical fingerprint that catches a source drifting from
    * the mixture (spam floods, template text, topic shift) before any
    * model-based monitor would (q110 watches length quantiles; this
    * watches the words). The grid is DENSE: a source that never uses a
    * top token gets its 0-observation row (drift = −corpus share), which
    * is precisely the signal a sparse join would silently drop. Scale
    * shape: one token explode into a map-side-combined (source, token)
    * count; the top-30 cut is TakeOrdered; everything after runs on
    * broadcast-sized frames (30 tokens × sources). Shares are integer
    * DIV against all-token totals, so the card replays bit-for-bit.
    */
  def vocabDrift(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("source"),
        explode(Text.tokens(Text.normalized(col("text")))).as("token"))
    val bySrcTok = toks.groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("o"))
    val byTok = bySrcTok.groupBy(col("token")).agg(sum(col("o")).as("rt"))
    val top = byTok.orderBy(col("rt").desc, col("token")).limit(30)
    val bySrc = bySrcTok.groupBy(col("source")).agg(sum(col("o")).as("ct"))
    val totals = bySrc.agg(sum(col("ct")).as("n"))
    broadcast(bySrc).crossJoin(broadcast(top))
      .join(bySrcTok, Seq("source", "token"), "left")
      .crossJoin(broadcast(totals))
      .select(col("source"), col("token"),
        coalesce(col("o"), lit(0L)).as("obs_count"),
        expr("(coalesce(o, 0L) * 1000000L) DIV ct").as("source_share_ppm"),
        expr("(rt * 1000000L) DIV n").as("corpus_share_ppm"),
        expr("(coalesce(o, 0L) * 1000000L) DIV ct - (rt * 1000000L) DIV n")
          .as("drift_ppm"))
      .orderBy(col("source"), col("token"))
  }


  /** KMV (k-minimum-values) bottom-k distinct sketch + cross-source overlap
    * matrix: per source, the K=64 smallest 48-bit md5 hashes of its distinct
    * word 3-shingles form a mergeable sketch; any two sketches combine into
    * (distinct, union, intersection, Jaccard) ESTIMATES without touching the
    * corpus again. Closes the sketch suite's set-operations gap — Bloom (q81)
    * answers membership, HLL (q120) distinct-only, CMS (q134/q135)
    * frequency; KMV is the one that composes under union AND intersection,
    * which is what "how much does src A's content overlap src B" needs at
    * 100 TB, where exact pairwise shingle intersections are off the table.
    * The hash family is a 12-hex md5 prefix, so the sketch — and therefore
    * every estimate — replays bit-for-bit in the oracle (unlike HLL's
    * xxhash64 rows-only check). Scale shape: the only corpus-wide work is
    * distinct (source, hash48) — an ~8-byte-payload shuffle, text never
    * leaves the scan; the per-source bottom-K runs through
    * [[Relational.groupTopK]]'s sharded two-phase form (no hot reducer per
    * source); everything pairwise operates on K-element arrays (sources × K
    * rows), in-plan and broadcast-sized. Estimators are the standard KMV
    * forms in integer DIV arithmetic: D̂ = (K−1)·2⁴⁸ DIV h_K when the
    * sketch is full (a sketch with fewer than K values IS the exact
    * distinct set); over the m = |union sketch| ≤ K smallest union values
    * with ρ of them in both sketches, J = ρ/m and |A∩B| = ρ·Û DIV m.
    */
  def kmvOverlap(spark: SparkSession, dir: String): DataFrame = {
    val K = 64
    val estNum = (K - 1).toLong * (1L << 48)
    val hashes = t(spark, dir, "documents")
      .select(col("source"), explode(Text.shingles(col("text"), 3)).as("s"))
      .select(col("source"),
        expr("cast(conv(substring(md5(s), 1, 12), 16, 10) as long)").as("h"))
      .distinct()
    val sk = Relational.groupTopK(hashes, Seq(col("source")),
        Seq(col("h").asc), col("h"), K)
      .groupBy(col("source"))
      .agg(sort_array(collect_list(col("h"))).as("hs"), count(lit(1)).as("n"))
    val a = sk.select(col("source").as("src_a"), col("hs").as("ha"), col("n").as("na"))
    val b = sk.select(col("source").as("src_b"), col("hs").as("hb"), col("n").as("nb"))
    a.join(b, col("src_a") < col("src_b"))
      .withColumn("us",
        slice(sort_array(array_distinct(concat(col("ha"), col("hb")))), 1, K))
      .withColumn("m", size(col("us")).cast("long"))
      .withColumn("rho",
        size(array_intersect(array_intersect(col("us"), col("ha")), col("hb")))
          .cast("long"))
      .withColumn("eu", expr(
        s"CASE WHEN m < $K THEN m ELSE ${estNum}L DIV greatest(try_element_at(us, $K), 1L) END"))
      .selectExpr("src_a", "src_b", "m", "rho",
        s"CASE WHEN na < $K THEN na ELSE ${estNum}L DIV greatest(try_element_at(ha, $K), 1L) END AS est_a",
        s"CASE WHEN nb < $K THEN nb ELSE ${estNum}L DIV greatest(try_element_at(hb, $K), 1L) END AS est_b",
        "eu AS est_union",
        "(rho * eu) DIV m AS est_inter",
        "(rho * 1000000L) DIV m AS jaccard_ppm")
      .orderBy(col("src_a"), col("src_b"))
  }


  /** Deterministic half-sample stability intervals: the per-source mean
    * document length (q99's point estimate) with 32-replicate spread — the
    * error bars a data card needs before anyone compares two sources or two
    * releases on a mean. Replicate r keeps a document iff bit r of an
    * md5-derived 32-bit word is set, i.e. 32 deterministic ~half-samples;
    * the min/max replicate means bound the estimate's sampling wobble, and
    * because membership is a pure hash of doc_id the whole "resampling"
    * replays bit-for-bit in the oracle (a seeded-RNG bootstrap could
    * never). Scale shape: membership is a scan-local projection (only
    * (source, n_chars, h32) exist — text is pruned at the scan), the ×32
    * replicate fan-out happens map-side and is immediately partial-
    * aggregated, so the shuffle carries sources × 32 partial rows; the
    * replicate-mean frame downstream is broadcast-sized. Means are integer
    * milli-chars ((1000·Σ) DIV n), exact in both engines.
    */
  def halfSampleCi(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("source"), col("n_chars"),
      expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10) as long)")
        .as("h32"))
    val reps = docs
      .select(col("source"), col("n_chars"), col("h32"),
        explode(sequence(lit(0), lit(31))).as("rep"))
      .filter(expr("shiftright(h32, rep) % 2 = 1"))
      .groupBy(col("source"), col("rep"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      .select(col("source"), expr("(1000L * s) DIV n").as("rep_mean"))
    val full = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("s"))
      .select(col("source"), col("n_docs"),
        expr("(1000L * s) DIV n_docs").as("mean_milli"))
    full.join(reps, "source")
      .groupBy(col("source"), col("n_docs"), col("mean_milli"))
      .agg(count(lit(1)).as("n_reps"),
        min(col("rep_mean")).as("lo_milli"), max(col("rep_mean")).as("hi_milli"))
      .withColumn("spread_milli", col("hi_milli") - col("lo_milli"))
      .orderBy(col("source"))
  }


  /** Tokenizer-training statistics: the first BPE merge table — corpus-wide
    * adjacent character-pair frequencies, weighted by word occurrence, top
    * 20 with corpus share. This is exactly the candidate list the first
    * iteration of byte-pair-encoding training scores, and the diagnostic
    * for "does this corpus slice deserve its own tokenizer" next to q111's
    * fertility and q128's Zipf table. Scale shape — the BPE trick: pair
    * counting runs on the VOCABULARY (distinct word, count), not the
    * corpus. One map-side-combined word count is the only corpus-scale
    * shuffle; the pair explode and pair rollup operate on vocab-cardinality
    * rows; the final cut is TakeOrderedAndProject with the total as an
    * in-plan broadcast scalar (q131's shape).
    */
  def bpePairs(spark: SparkSession, dir: String): DataFrame = {
    val vocab = t(spark, dir, "documents")
      .select(explode(Text.tokens(Text.normalized(col("text")))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
    val pairs = vocab
      .select(col("wc"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wc")).as("n_occurrences"))
    val total = pairs.agg(sum(col("n_occurrences")).as("tot"))
    pairs.crossJoin(broadcast(total))
      .select(col("pair"), col("n_occurrences"),
        expr("(n_occurrences * 1000000L) DIV tot").as("share_ppm"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(20)
  }


  /** Group-aware splitting, measured: the same near-dup candidate pairs
    * (q28's MinHash LSH), scored against TWO split assignments — the naive
    * per-document id-hash split (q55) and the group-aware source-hash
    * split (GroupShuffleSplit: every document of a source travels
    * together). For each mode: total pairs, pairs crossing any split
    * boundary, and train↔test pairs specifically — the leakage a held-out
    * metric silently inherits. Same-source near-dups (re-crawls, template
    * copies — most of them, per q132) can NEVER cross under the group
    * split; what remains is true cross-source duplication, which only
    * dedup (q83) can fix. One candidate-pair computation feeds both modes
    * (flags are projections, the rollup is a single aggregate row
    * unpivoted by stack); pairs carry ids and source labels only.
    */
  def groupSplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .filter(size(Text.shingles(col("text"), 3)) > 0)
    val cands = Dedup.minHashCandidates(d, col("doc_id"), col("text"),
      shingleK = 3, bands = 2, rowsPerBand = 2)
    val src = d.select(col("doc_id"), col("source"))
    val pairs = cands
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), "id_a")
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), "id_b")
    def split(key: Column): Column = {
      val b = Sampling.hashBucket(key, 100)
      when(b < 80, "train").when(b < 90, "val").otherwise("test")
    }
    val (ia, ib) = (split(col("id_a")), split(col("id_b")))
    val (ga, gb) = (split(col("src_a")), split(col("src_b")))
    def tt(a: Column, b: Column): Column =
      ((a === "train" && b === "test") || (a === "test" && b === "train"))
        .cast("long")
    pairs
      .select((ia =!= ib).cast("long").as("ic"), tt(ia, ib).as("itt"),
        (ga =!= gb).cast("long").as("gc"), tt(ga, gb).as("gtt"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("ic")), lit(0L)).as("ics"),
        coalesce(sum(col("itt")), lit(0L)).as("itts"),
        coalesce(sum(col("gc")), lit(0L)).as("gcs"),
        coalesce(sum(col("gtt")), lit(0L)).as("gtts"))
      .selectExpr("stack(2, 'id_hash', n, ics, itts, 'group_hash', n, gcs, gtts) " +
        "AS (split_mode, n_pairs, n_cross_split, n_train_test)")
      .orderBy(col("split_mode"))
  }


  /** Curriculum budget cut: the most-FLUENT documents (q82's integer
    * char-bigram LM, mean-per-transition) selected in exact global quality
    * order until half the corpus tokens are spent — "best data first"
    * selection at a token budget, the curriculum/data-pruning op that a
    * top-k by score (q102) can't express because the stop condition is a
    * running SUM, not a count. Scale shape — the third prefix-sum sharding
    * in this repo, this one ORDER-BY-VALUE: the bounded metric (mean
    * fluency ∈ [0, 1e6]) range-shards into 16 slices, a per-slice token
    * mass + a ≤17-row slice prefix locate the budget's boundary slice,
    * whole slices above it keep scan-locally, and ONLY the boundary
    * slice's rows enter an ordered window (bounded by slice width, never
    * the corpus). Bit-identical to the naive global running sum the
    * oracle computes; output is the per-language rollup of the selection.
    */
  def curriculumBudget(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val model = graft.functions.LmScore.bigramModel(docs, col("text"))
    // MEASURED AND REVERTED (r20, attacking the sf100 wall): fusing the
    // token count into the scoring pass — one scan instead of two, no
    // doc_id join — LOSES on this plan, 3-rep interleaved A/B at sf10:
    // separate-scan-and-join min 37.3/44.2 s vs fused 53.8 s (tok+lang as
    // grouping keys) and 51.5 s (tok-only key + thin text-free lang
    // join). The gram-grain partial HashAggregate is the true wall, and
    // widening its key/payload by even one long across ~10⁸ exploded
    // rows costs MORE than a whole extra 5·10⁵-doc scan+tokenize+join —
    // same lesson as q175's rejected basket rewrite: codegen over narrow
    // primitive keys beats touching the hot row. (Two plan traps worth
    // recording from the losing variants: an aliased scalar in the same
    // SELECT as explode() lands ABOVE Generate and re-evaluates PER GRAM
    // — the tokenize regex ran once per bigram, 7× — and first(string)
    // forces the corpus aggregate from HashAggregate to SortAggregate.
    // A scored-prefix length cap is inert here: this corpus's docs are
    // ≤874 chars.) The scoring expression itself is the sf100 cost, as
    // the plan audit concluded; the selection machinery below is already
    // shard-bounded.
    val scored = graft.functions.LmScore
      .score(docs, col("doc_id"), col("text"), model)
      .select(col("doc_id"), expr("lm_score DIV n_bigrams").as("mean_micro"))
    // r20: CUT the scored base once. `base` feeds FOUR unshareable
    // consumers (the budget aggregate, the shard-prefix aggregate, the
    // full-slice filter and the boundary window), and the executed-plan
    // profile showed the whole scoring pipeline — bigram model aggregate
    // included — replicated in each (14 copies of the ~1.7 s aggregates at
    // sf0.1). The frame is 5 narrow columns per doc, so the cut is
    // corpus-ROW-bounded, never corpus-TEXT-sized; scoring now runs once. This is the orthogonal complement of the
    // falsified fusion above: don't widen the hot aggregate, just stop
    // re-running it.
    val base = Materialize.cut(docs
      .select(col("doc_id"), col("lang"),
        size(Text.tokens(Text.normalized(col("text")))).cast("long").as("tok"))
      .join(scored, "doc_id")
      .withColumn("shard", expr("mean_micro DIV 62500")))
    val budget = base.agg(sum(col("tok")).as("tt"))
      .select(expr("tt DIV 2").as("budget"))
    val shardPrefix = base.groupBy(col("shard")).agg(sum(col("tok")).as("stok"))
      .withColumn("cum_through",
        sum(col("stok")).over(Window.orderBy(col("shard").desc)))
      .withColumn("cum_before", col("cum_through") - col("stok"))
    val withCtx = base.join(broadcast(shardPrefix), "shard")
      .crossJoin(broadcast(budget))
    val fullSlices = withCtx.filter(col("cum_through") <= col("budget"))
    val boundary = withCtx
      .filter(col("cum_before") < col("budget") && col("cum_through") > col("budget"))
      .withColumn("wc", sum(col("tok")).over(
        Window.partitionBy(col("shard"))
          .orderBy(col("mean_micro").desc, col("doc_id"))))
      .filter(col("cum_before") + col("wc") <= col("budget"))
      .drop("wc")
    fullSlices.unionByName(boundary)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("n_tokens"))
      .orderBy(col("lang"))
  }


  /** Near-dup graph shape ([[graft.functions.Graph.triangleStats]]):
    * exact triangle count and global clustering coefficient over q28's
    * candidate-pair graph — q60 says how big duplicate clusters are, this
    * says how DENSE (re-crawl chains are triangle-free; template farms
    * are near-cliques), the evidence for whether q60's transitive merge
    * over-merges. Degree-ordered edge orientation bounds the wedge-join
    * fan-out by the graph's degeneracy, not its max degree.
    */
  def dupGraphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .filter(size(Text.shingles(col("text"), 3)) > 0)
    // a materialization seam on the candidate list measured flat here
    // (1.67 vs 1.71s): minHashCandidates ends in a distinct whose
    // exchange every triangleStats consumer reuses — the reuse path holds
    val pairs = Dedup.minHashCandidates(d, col("doc_id"), col("text"),
      shingleK = 3, bands = 2, rowsPerBand = 2)
    graft.functions.Graph.triangleStats(pairs, col("id_a"), col("id_b"))
  }


  /** Span-corruption mask plan (the T5/UL2 denoising objective's data
    * prep): per document, a DETERMINISTIC mask over token positions —
    * position p masks iff md5(doc_id|p) mod 1000 < 150 (15% rate) — and
    * the span statistics the objective actually consumes: masked count,
    * SPAN count (runs of consecutive masked positions become one sentinel
    * each), and the masked share. Hash-driven masking is what makes the
    * noise reproducible across reruns and engines — a seeded-RNG mask
    * would be neither — and the span/run derivation is one lag() over the
    * per-document window (high-cardinality partitioning). Output rolls up
    * per language: documents, tokens, masked tokens, spans, mask_ppm,
    * mean span length in milli (exact integer DIV). Scale shape: the
    * token explode is scan-side; the window partitions by doc_id; the
    * rollup is language-cardinality with map-side partials.
    */
  def spanCorruption(spark: SparkSession, dir: String): DataFrame = {
    val toks = t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        posexplode(Text.tokens(Text.normalized(col("text")))).as(Seq("pos", "tok")))
      .withColumn("masked",
        expr("cast(conv(substring(md5(concat(cast(doc_id as string), '|', cast(pos as string))), 1, 8), 16, 10) as long) % 1000 < 150"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spans = toks
      .withColumn("prev_masked", lag(col("masked"), 1, false).over(w))
      .withColumn("span_start",
        (col("masked") && !col("prev_masked")).cast("long"))
    spans.groupBy(col("lang"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(col("masked").cast("long")).as("n_masked"),
        sum(col("span_start")).as("n_spans"))
      .selectExpr("lang", "n_docs", "n_tokens", "n_masked", "n_spans",
        "(n_masked * 1000000L) DIV n_tokens AS mask_ppm",
        "CASE WHEN n_spans = 0 THEN 0L ELSE (n_masked * 1000L) DIV n_spans END AS mean_span_milli")
      .orderBy(col("lang"))
  }


  /** Vocabulary Gini coefficient per source — how CONCENTRATED a source's
    * token distribution is (0 = every word used equally, →1 = a few words
    * dominate): the single-number "templatedness" score next to q128's
    * top-20 table and q124's diversity, and the ranking that finds
    * boilerplate farms before any dedup runs. Exact integer Gini with NO
    * per-token ranking: tokens with equal count form a tie-group whose
    * rank-weighted mass is x·(k·r₀ + k(k+1)/2) in closed form, so
    * Σ i·x₍ᵢ₎ needs only (source, count) tie-groups — a frame of
    * per-source DISTINCT-count cardinality (hundreds of rows, the Zipf
    * long tail collapses into ONE count=1 group) — ordered by a window
    * over that pre-aggregated summary, never over the vocabulary. Scale
    * shape: one map-side-combined word count (the only corpus-scale
    * shuffle), one vocab→tie-group rollup, one summary-sized window;
    * G = (2·Σi·x − (n+1)·S)·1e6 DIV (n·S) in DECIMAL(38,0).
    */
  def vocabGini(spark: SparkSession, dir: String): DataFrame = {
    val vocab = t(spark, dir, "documents")
      .select(col("source"),
        explode(Text.tokens(Text.normalized(col("text")))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
    val ties = vocab.groupBy(col("source"), col("c"))
      .agg(count(lit(1)).as("k"))
    val w = Window.partitionBy(col("source")).orderBy(col("c"))
    val ranked = ties
      .withColumn("r0", coalesce(sum(col("k")).over(w) - col("k"), lit(0L)))
      // tie-group rank-weighted mass: x·(k·r0 + k(k+1)/2), exact
      .withColumn("gmass", expr(
        "CAST(c AS DECIMAL(38,0)) * (CAST(k AS DECIMAL(38,0)) * r0 + (CAST(k AS DECIMAL(38,0)) * (k + 1)) DIV 2)"))
    ranked.groupBy(col("source"))
      .agg(sum(col("k")).as("n_tokens"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * k")).as("s_occ"),
        sum(col("gmass")).as("rix"))
      .selectExpr("source", "n_tokens",
        "CAST(s_occ AS BIGINT) AS total_occurrences",
        """CAST((2 * rix - (CAST(n_tokens AS DECIMAL(38,0)) + 1) * s_occ) * 1000000
          | DIV (CAST(n_tokens AS DECIMAL(38,0)) * s_occ) AS BIGINT) AS gini_ppm"""
          .stripMargin.replaceAll("\n", " "))
      .orderBy(col("source"))
  }


  /** Core strength of the near-dup graph ([[graft.functions.Graph.kCore]]
    * peeling over q28's candidate pairs): surviving vertex/edge counts of
    * the 2-core and 3-core — the template-farm detector one level past
    * q161's triangle census. A 2-core is any cycle mass (chains of
    * re-crawls peel away entirely); a 3-core only survives densely
    * cross-linked boilerplate, the structure that tells a dedup owner
    * whether q60's transitive merging is collapsing genuine families or
    * bridged accidents. The peel runs to FIXPOINT (safety cap 64 — a
    * fixed low round count truncates long chains, the r13 ADVICE fix);
    * the oracle's 8-round unrolled CTE still replays it bit-for-bit
    * because peeling is monotone (rounds past the fixpoint are no-ops)
    * and the measured fixpoint on every gate SF is ≤ 2 rounds — GraphSpec
    * pins the long-chain behavior the unroll can't see. Counts stay
    * in-plan as 1-row aggregates.
    */
  def dupCoreStrength(spark: SparkSession, dir: String): DataFrame = {
    // one LSH pipeline feeds BOTH peels: cut the candidate list once, or
    // each kCore call re-derives shingles→minhash→bands
    val pairs = Materialize.cut(minhashPairs(spark, dir))
    // r21: the k=2 and k=3 peels are INDEPENDENT driver-sequential loops
    // over the one cut pair list — the q199 two-CC-runs shape, so they get
    // the same guide-§2.6 treatment: two driver threads, each peel's round
    // jobs back-filling the cores the other's driver round-trips leave
    // idle. The shared `pairs` cut is read-only to both.
    val ks = Seq(2, 3)
    val cores = ks.zip(Overlap.all(spark)(ks.map(k => () =>
      graft.functions.Graph.kCore(pairs, col("id_a"), col("id_b"), k)): _*))
    cores.map { case (k, core) =>
      val nodes = core.select(col("a").as("id"))
        .unionAll(core.select(col("b").as("id"))).distinct()
        .agg(count(lit(1)).as("n_core_nodes"))
      core.agg(count(lit(1)).as("n_core_edges"))
        .crossJoin(nodes)
        .select(lit(k.toLong).as("k"), col("n_core_nodes"), col("n_core_edges"))
    }.reduce(_ unionByName _).orderBy(col("k"))
  }


  /** Explicit GROUPING SETS — the multi-level aggregation surface between
    * q39's ROLLUP and q58's CUBE: exactly the requested levels
    * ((lang, source), (lang), ()) in ONE pass, with `grouping()` flags
    * labeling each row's level (the standard-SQL convention both engines
    * share; rolled-up keys coalesce to 'ALL' so the level structure reads
    * without NULL semantics). Spark plans one Expand over the three
    * levels + a single hash aggregate with map-side partials — 3× the
    * input rows into a bounded-cardinality rollup, the exact cost the
    * operator advertises (and why q36 avoids Expand for N-distinct
    * profiles: THERE the multiplier rode a corpus scan for per-column
    * stats an ordinary aggregate already answers).
    */
  def groupingSetsReport(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "documents")
      .select(col("lang"), col("source"), col("n_chars"))
      .groupingSets(
        Seq(Seq(col("lang"), col("source")), Seq(col("lang")), Seq.empty),
        col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        grouping(col("lang")).cast("long").as("g_lang"),
        grouping(col("source")).cast("long").as("g_source"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("total_chars"), col("g_lang"), col("g_source"))
      .orderBy(col("g_lang"), col("g_source"), col("lang"), col("source"))
  }


  /** Median/MAD robust outlier census per language: the exact lower
    * median of document length, the median absolute deviation around it,
    * and how many documents sit beyond 3·MAD — the robust twin of q80's
    * z-score outliers (one 10 MB page would drag a mean/stddev fence;
    * the MAD fence doesn't move). Exactness: both medians come from
    * distinct-value cumulative counts (smallest v with cum ≥ (n+1) DIV 2),
    * all integer. Scale shape: document length is a BOUNDED domain (max
    * doc size), so the per-language value summaries are bounded frames
    * regardless of corpus size — the lang-partitioned cumulative windows
    * sort ≤max-length rows each; the corpus itself is touched by two
    * map-side-combined aggregation passes and one final outlier count.
    */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    // (lang, length) pairs feed the population counts, the first median,
    // and the deviation pass: cut the two-long projection once
    val d = Materialize.cut(
      t(spark, dir, "documents").select(col("lang"), col("n_chars").as("v")))
    val n = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    def medianOf(df: DataFrame, valueCol: String): DataFrame = {
      val byVal = df.groupBy(col("lang"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("k"))
        .withColumn("cum", sum(col("k")).over(
          Window.partitionBy(col("lang")).orderBy(col("v"))))
      byVal.join(broadcast(n), "lang")
        .filter(col("cum") >= expr("(n + 1L) DIV 2"))
        .groupBy(col("lang")).agg(min(col("v")).as("med"))
    }
    val med = medianOf(d, "v")
    val devs = d.join(broadcast(med), "lang")
      .select(col("lang"), abs(col("v") - col("med")).as("dev"))
    val mad = medianOf(devs, "dev").withColumnRenamed("med", "mad")
    val outliers = devs.join(broadcast(mad), "lang")
      .filter(col("dev") > col("mad") * 3)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_outliers"))
    n.join(med, "lang").join(mad, "lang")
      .join(outliers, Seq("lang"), "left")
      .select(col("lang"), col("n"), col("med").as("median_chars"),
        col("mad").as("mad_chars"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
      .orderBy(col("lang"))
  }


  /** EXACT set-similarity join via prefix filtering (the PPJoin family) —
    * the completeness-guaranteed alternative to minhash (q28 can miss
    * pairs; this provably cannot): under one global rare-first token
    * order, any two sets with Jaccard ≥ t MUST share a token within each
    * set's first m − ⌈t·m⌉ + 1 tokens, so candidates come from an
    * equi-join on those prefixes only (at t = 0.65, the rarest ~third)
    * and the exact [[graft.plans.SortedSetJaccard]] merge verifies. The
    * oracle replays the naive all-pairs join, so the test is literally
    * "the pruned join found every pair". Scale shape: the frequency join
    * and the candidate join both move (doc_id, shingle) narrow rows; the
    * per-doc rank window partitions by the high-cardinality doc id; sets
    * enter exactly one verify join keyed by id pairs. Candidate volume is
    * Σ df(prefix-token)² — subquadratic on any Zipfian real corpus where
    * rare tokens are actually rare; THIS synthetic corpus's ~40-word
    * vocabulary makes every shingle hot (its candidate set approaches
    * all-pairs), so the catalog entry runs on a q54-style 1-in-8
    * verification sample to keep the bench honest about the algorithm
    * rather than the fixture.
    */
  def ppjoinExact(spark: SparkSession, dir: String): DataFrame = {
    // r20: char-shingling is expression-bound — fan the (small) sampled
    // input to cores (see Tables.fanOutSmallInput).
    val base = graft.sources.Tables.fanOutSmallInput(t(spark, dir, "documents"))
      .filter(col("text").isNotNull && col("doc_id") % 8 === 0)
      .select(col("doc_id"),
        array_sort(array_distinct(Text.charShingles(col("text"), 3))).as("sh"))
      .filter(size(col("sh")) > 0)
    // The verification sample is additionally CAPPED at ~8192 docs by a
    // deterministic hash thin (in-plan scalar count, never a collect) —
    // inert at every gate SF (sf0.01/sf0.1 samples sit at 625/6250) and
    // the bound that keeps the degenerate-vocabulary fixture's
    // near-all-pairs candidate set from exhausting executor memory at the
    // sf10 rehearsal. The ALGORITHM is unchanged: within the sample the
    // prefix filter remains provably complete.
    val ns = base.agg(count(lit(1)).as("ns"))
    val sets = base.crossJoin(broadcast(ns))
      .filter(col("ns") <= 8192L ||
        Sampling.hashBucket(col("doc_id"), 1000000) * col("ns") <
          lit(8192L * 1000000L))
      .drop("ns")
    // The pipeline itself — token hashing (the shingle STRING never
    // shuffles: tokens travel as a 128-bit two-lane xxhash64 key), the
    // rare-first (df, h1, h2) global order, the prefix/size/positional
    // prunes, and the exact sorted-merge verify — is [[Dedup.ppjoin]],
    // extracted r16 with the threshold as the exact rational 13/20 so
    // PropertySpec can replay the completeness theorem generatively over
    // random Zipfian corpora at several thresholds (the constants
    // interpolate to the identical expression strings, so this entry's
    // physical plan is unchanged). The row-local positional filter is
    // deliberate: an aggregated min-bound variant prunes a few more pairs
    // but was measured 35% slower at sf10 (the min/first buffers outweigh
    // the extra verifies on this fixture's genuinely-similar candidates).
    //
    // r20: cut the shingle sets ONCE. ppjoin consumes its input
    // from three unshareable subtrees (the df aggregate, the prefix
    // window, the two verify sides), and the r20 profile showed the
    // charShingles+array_sort tokenization re-running in each (~2 s × 3
    // of the 6.5 s wall at sf0.1). The thin above caps this relation at
    // ~8192 docs BY CONSTRUCTION, so the cut is bounded at every scale —
    // exactly the stage-boundary discipline q85 uses.
    Dedup.ppjoin(Materialize.cut(sets), 13, 20)
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Release-merge audit: does a corpus release BRIDGE previously-distinct
    * duplicate clusters? Components are computed over the old half alone
    * (doc_id below the id midpoint) and over the full corpus; old-doc
    * clusters that fuse through new bridge documents show up as the drop
    * in distinct cluster labels among old docs. The structural twin of
    * q108's row-level release diff — row counts can't see that two old
    * families became one — and the audit that decides whether a release
    * forces re-running survivorship (q96) over closed clusters. Scale
    * shape: two CC runs (each the q60 plan, lineage-cut rounds), one
    * id-keyed join of label frames, a 1-row rollup; old labels translate
    * through the join, never via collect.
    */
  def releaseMergeAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents")
      .filter(size(Text.shingles(col("text"), 3)) > 0)
    val cut = d.agg(expr("(min(doc_id) + max(doc_id) + 1L) DIV 2").as("mid"))
    val dOld = d.crossJoin(broadcast(cut)).filter(col("doc_id") < col("mid"))
    def cc(docs: DataFrame): DataFrame =
      Dedup.connectedComponents(
        Dedup.minHashCandidates(docs, col("doc_id"), col("text"),
          shingleK = 3, bands = 2, rowsPerBand = 2))
    // r21: the two CC runs are INDEPENDENT until the label join, and each
    // is a driver-sequential loop of small lineage-cut jobs — running them
    // from two driver threads (guide §2.6) lets one run's round jobs
    // back-fill the cores the other's driver round-trips leave idle (at
    // sf0.1 neither saturates the box; on a cluster 2 jobs in flight is
    // the guide's sweet spot). Both cut under the one session's checkpoint
    // dir, so there is no shared state to race on.
    val Seq(before, after) = Overlap.all(spark)(
      () => cc(dOld).withColumnRenamed("cluster", "c_before"),
      () => cc(d).withColumnRenamed("cluster", "c_after"))
    // old docs only: new docs may ADD clusters; the merge signal lives in
    // how many distinct labels the old population keeps. Two separate
    // distinct aggregates (q36's no-Expand discipline) over the
    // cut join; docs first clustered only AFTER the release are
    // intentionally out of scope (they are new structure, not merges).
    val joined = Materialize.cut(before.join(after, "id"))
    joined.agg(count(lit(1)).as("n_old_clustered_docs"))
      .crossJoin(joined.select(col("c_before")).distinct()
        .agg(count(lit(1)).as("n_clusters_before")))
      .crossJoin(joined.select(col("c_after")).distinct()
        .agg(count(lit(1)).as("n_clusters_after")))
      .selectExpr("n_old_clustered_docs", "n_clusters_before", "n_clusters_after",
        "n_clusters_before - n_clusters_after AS n_merged")
  }


  /** Two-sample Kolmogorov–Smirnov drift per source: the exact maximum
    * CDF distance between each source's document-length distribution and
    * the corpus's, with the length at which it occurs — the
    * distribution-shape drift statistic q110's binned monitor
    * approximates (KS sees a shifted mode even when bin totals agree).
    * Exactness: both CDFs are integer ppm at their jump points, and the
    * supremum of a step-function difference is attained at a jump, so
    * evaluating F_source at every CORPUS value (a superset of each
    * source's values) makes the max exact. Scale shape: document length
    * is a bounded domain, so the (source × value) grid is bounded
    * regardless of corpus size; the cumulative windows partition by
    * source over that bounded grid; the corpus touches only two
    * map-side-combined rollups. The oracle recomputes F_source by a
    * triangular sum — different algorithm, same integers.
    */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("source"), col("n_chars").as("v"))
    val corpusByVal = d.groupBy(col("v")).agg(count(lit(1)).as("ck"))
    val corpusN = d.agg(count(lit(1)).as("cn"))
    // the corpus cumulative rides shardedCumSum like every other
    // distinct-value running total (the catalog lint bans a bare global
    // window here — it cannot know THIS value domain is bounded)
    val corpusCdf = graft.ops.Relational
      .shardedCumSum(corpusByVal, "v", Seq("ck"), ascending = true)
      .crossJoin(broadcast(corpusN))
      .select(col("v"), expr("(cum_ck * 1000000L) DIV cn").as("fc_ppm"))
    val srcByVal = d.groupBy(col("source"), col("v")).agg(count(lit(1)).as("k"))
    val srcN = d.groupBy(col("source")).agg(count(lit(1)).as("n"))
    // grid = every corpus value × every source; the source CDF at corpus
    // values falls out of one cumulative over coalesced per-value counts
    val grid = corpusCdf.crossJoin(broadcast(srcN.select(col("source"))))
      .join(srcByVal, Seq("source", "v"), "left")
      .withColumn("scum", sum(coalesce(col("k"), lit(0L))).over(
        Window.partitionBy(col("source")).orderBy(col("v"))))
      .join(broadcast(srcN), "source")
      .withColumn("fs_ppm", expr("(scum * 1000000L) DIV n"))
      .withColumn("dist", abs(col("fc_ppm") - col("fs_ppm")))
    grid
      .withColumn("mx", max(col("dist")).over(Window.partitionBy(col("source"))))
      .filter(col("dist") === col("mx"))
      .groupBy(col("source"))
      .agg(max(col("n")).as("n_docs"), max(col("dist")).as("ks_ppm"),
        min(col("v")).as("at_length"))
      .orderBy(col("source"))
  }


  /** Mann–Whitney rank-sum drift per source: the exact two-sample U
    * statistic of each source's document-length distribution against the
    * rest of the corpus, reported as the common-language effect size
    * (AUC) in ppm — the location-shift twin of q201's KS statistic (KS
    * sees any shape change anywhere; U answers "does this source run
    * longer or shorter than everything else, and by how much probability
    * mass"). Exactness under ties: midranks double to integers
    * (2·midrank(v) = 2C(v) − ck(v) + 1 with C the inclusive corpus
    * cumulative), so 2R and 2U stay integral and replay bit-for-bit; the
    * AUC ppm is one integral DIV. The per-value products widen to
    * DECIMAL(38,0) before summing (2C·k is ~N² at corpus scale — past
    * Long near 1e10 docs) and the presentation casts fail loudly rather
    * than wrap. Scale shape: document length is a bounded domain, so the
    * value summary and the (source × value) grid are bounded regardless
    * of corpus size; the corpus cumulative rides
    * [[graft.ops.Relational.shardedCumSum]]; the raw corpus touches only
    * map-side-combined rollups.
    */
  def rankSumDrift(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("source"), col("n_chars").as("v"))
    val corpusByVal = d.groupBy(col("v")).agg(count(lit(1)).as("ck"))
    val cum = graft.ops.Relational
      .shardedCumSum(corpusByVal, "v", Seq("ck"), ascending = true)
    val srcByVal = d.groupBy(col("source"), col("v")).agg(count(lit(1)).as("k"))
    val srcN = d.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val corpusN = d.agg(count(lit(1)).as("nn"))
    val r2 = srcByVal.join(cum, "v")
      .groupBy(col("source"))
      .agg(sum(col("k").cast(DecimalType(38, 0)) *
        (col("cum_ck") * 2 - col("ck") + 1)).as("r2"))
    r2.join(broadcast(srcN), "source").crossJoin(broadcast(corpusN))
      .select(col("source"), col("ns").as("n_docs"),
        expr("CAST(r2 - CAST(ns AS DECIMAL(38,0)) * (ns + 1) AS BIGINT)")
          .as("u2"),
        expr("CAST((r2 - CAST(ns AS DECIMAL(38,0)) * (ns + 1)) * 1000000 " +
          "DIV (2 * CAST(ns AS DECIMAL(38,0)) * greatest(nn - ns, 1)) AS BIGINT)")
          .as("auc_ppm"))
      .orderBy(col("source"))
  }


  // DuckDB dialect fragments shared by the text oracles.
  // The PII/URL patterns are the EXACT strings the Spark side compiles
  // (Text.scala keeps them RE2∩Java-compatible), spliced into single-quoted
  // SQL literals — DuckDB's default strings don't process backslashes, so
  // the regex arrives verbatim.
  private[graft] val PiiEmailSql = Text.EmailPattern

  private[graft] val PiiIpv4Sql = Text.Ipv4Pattern

  private[graft] val PiiPhoneSql = Text.PhonePattern

  private[graft] val DTOKS = "string_split_regex(trim(text), '\\s+')"

  private[graft] val DNORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  private[graft] val DNTOKS = s"string_split_regex(trim($DNORM), '\\s+')"

  private[graft] val DSTOP =
    "['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as']"


  /** The q103 classifier's train-then-score pipeline as a shared oracle
    * CTE chain (`cfin` = held-out (doc_id, lang, score)); q103 reads the
    * per-doc surface, q107 the calibration deciles.
    */
  private[graft] lazy val ClassifierChainSql =
    s"""planted AS (SELECT doc_id,
       |         CASE WHEN doc_id % 5 = 2 THEN text || ' $SpamMarker' ELSE text END AS text,
       |         CAST(doc_id % 5 = 2 AS INT) AS is_spam
       |       FROM documents),
       |split AS (SELECT doc_id, text, is_spam,
       |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 30 AS is_train
       |       FROM planted),
       |toks AS (SELECT doc_id, is_spam, is_train, unnest($DNTOKS) AS term FROM split),
       |tb AS (SELECT DISTINCT doc_id, is_spam, is_train,
       |         ('0x' || substr(md5(term), 1, 8))::BIGINT % 4096 AS b FROM toks),
       |tot AS (SELECT CAST(count(CASE WHEN is_spam = 1 THEN 1 END) AS BIGINT) AS np,
       |               CAST(count(CASE WHEN is_spam = 0 THEN 1 END) AS BIGINT) AS nn
       |        FROM split WHERE is_train),
       |w0 AS (SELECT b,
       |         (CAST(count(CASE WHEN is_spam = 1 THEN 1 END) AS BIGINT) * 1000000) // np
       |           - (CAST(count(CASE WHEN is_spam = 0 THEN 1 END) AS BIGINT) * 1000000) // nn AS w
       |       FROM tb CROSS JOIN tot WHERE is_train GROUP BY b, np, nn),
       |model AS (SELECT b, CAST(w AS BIGINT) AS w FROM w0 WHERE w <> 0
       |          ORDER BY abs(w) DESC, b LIMIT 256),
       |sums AS (SELECT doc_id, CAST(sum(model.w) AS BIGINT) AS score
       |         FROM tb JOIN model USING (b) WHERE NOT is_train GROUP BY doc_id),
       |cfin AS (SELECT s.doc_id, s.is_spam, coalesce(sums.score, 0) AS score
       |        FROM split s LEFT JOIN sums USING (doc_id) WHERE NOT s.is_train)""".stripMargin


  private[graft] def langScore(vocab: Seq[String]): String =
    s"len(list_filter($DTOKS, t -> list_contains([${vocab.map(w => s"'$w'").mkString(",")}], t)))"


  /** The q28 candidate-pair derivation, shared verbatim with q60's
    * recursive-CTE connected components (no ORDER BY so it can nest).
    */
  /** The banded MinHash candidate-pair derivation shared by every
    * minhash-pairs oracle. The `bok`/`bk` CTEs model
    * [[graft.functions.Dedup.minHashCandidates]]'s `maxBucketSize` drop
    * EXACTLY (a bucket with more members than the cap contributes no
    * pairs): inert at the graded SFs (largest sf0.01 bucket ≪ cap) and
    * load-bearing at the sf10 cap-active differential — without it the
    * all-pairs oracle keeps pairs the engine deliberately drops.
    */
  private[graft] lazy val MinhashPairsBody: String =
    s"""WITH toks AS (SELECT doc_id, $DNTOKS AS tk FROM documents),
       |sh AS (SELECT doc_id,
       |        CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
       |             ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS s
       |       FROM toks),
       |sig AS (SELECT doc_id,
       |         list_min(list_transform(s, x -> md5('0|' || x))) AS mh_0,
       |         list_min(list_transform(s, x -> md5('1|' || x))) AS mh_1,
       |         list_min(list_transform(s, x -> md5('2|' || x))) AS mh_2,
       |         list_min(list_transform(s, x -> md5('3|' || x))) AS mh_3
       |        FROM sh WHERE len(s) > 0),
       |bands AS (
       |  SELECT doc_id, 0 AS band_id, md5(mh_0 || '|' || mh_1) AS band_key FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band_id, md5(mh_2 || '|' || mh_3) AS band_key FROM sig),
       |bok AS (SELECT band_id, band_key FROM bands GROUP BY band_id, band_key
       |        HAVING count(*) <= ${graft.functions.Dedup.DefaultMaxBucketSize}),
       |bk AS (SELECT bands.* FROM bands JOIN bok USING (band_id, band_key))
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM bk a JOIN bk b ON a.band_id = b.band_id AND a.band_key = b.band_key
       |WHERE a.doc_id < b.doc_id""".stripMargin


  /** The q52 md5-portable 32-bit SimHash derivation (no ORDER BY so it can
    * nest) — shared with q69's banded Hamming candidate pairs.
    */
  private[graft] lazy val SimhashMd5Body: String =
    s"""WITH toks AS (SELECT doc_id, $DNTOKS AS tk FROM documents),
       |h AS (SELECT doc_id, list_transform(tk, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS hs FROM toks)
       |SELECT doc_id,
       |  CAST(list_sum(list_transform(range(0, 32), b ->
       |    CASE WHEN list_sum(list_transform(hs, x -> CASE WHEN ((x >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
       |         THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
       |FROM h""".stripMargin

  /** Type-token-ratio curve: per (lang, prefix budget k ∈ {50, 100, 200}),
    * the corpus-aggregate TTR — Σ distinct tokens in each doc's first k ÷
    * Σ tokens counted, in exact ppm — the lexical-diversity curve that
    * separates natural prose (TTR decays slowly with k) from template spam
    * (collapses fast). ENTIRELY map-side per doc: `size(array_distinct(
    * slice(tokens, 1, k)))` computes each prefix without any explode, so
    * the only shuffle is the ≤ langs×3-group rollup.
    */
  def ttrCurve(spark: SparkSession, dir: String): DataFrame = {
    val w = Text.tokens(Text.normalized(col("text")))
    // all three prefix budgets from ONE tokenization in ONE scan (a
    // per-budget union would re-scan and re-tokenize the corpus 3×); the
    // 3-struct explode happens after the per-doc numbers are computed, so
    // it multiplies 3 small ints per doc, never token arrays
    val base = t(spark, dir, "documents").select(col("lang"), w.as("w"))
    val perDoc = base.select(col("lang"), explode(array(
      Seq(50, 100, 200).map(k => struct(lit(k.toLong).as("k"),
        size(array_distinct(slice(col("w"), 1, k))).cast("long").as("d"),
        least(size(col("w")), lit(k)).cast("long").as("n"))): _*)).as("x"))
    perDoc.select(col("lang"), col("x.k").as("k"), col("x.d").as("d"), col("x.n").as("n"))
      .groupBy(col("lang"), col("k"))
      .agg(count(lit(1)).as("n_docs"), sum(col("d")).as("distinct_toks"),
        sum(col("n")).as("total_toks"))
      .select(col("lang"), col("k"), col("n_docs"), col("distinct_toks"),
        col("total_toks"),
        expr("distinct_toks * 1000000 DIV greatest(total_toks, 1)").as("ttr_ppm"))
      .orderBy(col("lang"), col("k"))
  }

  /** Corpus chunk-reuse library (the q86 CDC machinery lifted to source
    * grain): per source, how much of its character mass lives in chunks
    * that ALSO occur in another document — the copy-detection rollup that
    * tells a curation owner which feeds are mirror farms before any
    * pairwise dedup runs. Chunk doc-frequency aggregates over the
    * DISTINCT (doc, h) incidence (16-byte hashes only — text never
    * shuffles, the [[graft.functions.Dedup.cdcChunkFrame]] contract);
    * instances tag by joining the h-grain shared flag back; the final
    * rollup is sources-bounded. Reuse is exact integer ppm.
    */
  def chunkLibrary(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val chunks = graft.functions.Dedup
      .cdcChunkFrame(docs, col("doc_id"), col("text"))
    val sharedByH = chunks.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg((count(lit(1)) >= 2).as("is_shared"))
    val tagged = chunks
      .join(sharedByH, "h")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    tagged.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("clen")).as("total_chars"),
        sum(when(col("is_shared"), col("clen")).otherwise(0L)).as("shared_chars"),
        sum(when(col("is_shared"), 1L).otherwise(0L)).as("n_shared_chunks"))
      .select(col("source"), col("n_chunks"), col("n_shared_chunks"),
        col("total_chars"), col("shared_chars"),
        expr("shared_chars * 1000000 DIV greatest(total_chars, 1)").as("reuse_ppm"))
      .orderBy(col("source"))
  }

  /** Vocabulary-growth (Heaps' law) audit: distinct-token and total-token
    * counts at 8 corpus prefixes (doc_id order) — does vocabulary keep
    * growing with corpus size (healthy diversity) or saturate (template
    * mass)? The scale trick: cumulative DISTINCT is not decomposable,
    * but "distinct tokens among docs < c" ≡ "tokens whose FIRST
    * occurrence doc < c" — so one token-grain `min(doc_id)` aggregate +
    * a broadcast 8-row checkpoint grid replaces any sequential scan.
    * Checkpoints derive from max(doc_id) in-plan (`max·k DIV 8`); token
    * text never joins anything bigger than the 8-row grid.
    */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(Text.tokens(Text.normalized(col("text")))).as("tok"))
    val firstSeen = toks.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val perDoc = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("n_toks"))
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val cps = spark.range(1, 9).toDF("k")
      .crossJoin(broadcast(mx))
      .select(col("k"), expr("(mx + 1) * k DIV 8").as("cp"))
    val vocab = firstSeen.crossJoin(broadcast(cps))
      .filter(col("first_doc") < col("cp"))
      .groupBy(col("k"), col("cp"))
      .agg(count(lit(1)).as("distinct_tokens"))
    val mass = perDoc.crossJoin(broadcast(cps))
      .filter(col("doc_id") < col("cp"))
      .groupBy(col("k"), col("cp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("total_tokens"))
    mass.join(vocab, Seq("k", "cp"))
      .select(col("k"), col("cp"), col("n_docs"), col("total_tokens"),
        col("distinct_tokens"),
        expr("distinct_tokens * 1000000 DIV greatest(total_tokens, 1L)")
          .as("vocab_ppm"))
      .orderBy(col("k"))
  }

  /** Shared by q90 (inline recompute) and q237 (materialized-index probe):
    * the two run DIFFERENT plans over the same definition and must stay
    * hash-identical under the differential gate.
    */
  private lazy val SparseRetrievalSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($DNTOKS) AS term FROM documents),
       |ct AS (SELECT doc_id AS d, term, count(*) AS tf_d FROM toks GROUP BY 1, 2),
       |st AS (SELECT (SELECT count(*) FROM documents) AS n_corpus,
       |              (SELECT sum(tf_d) FROM ct) AS total_tokens),
       |dld AS (SELECT *, sum(tf_d) OVER (PARTITION BY d) AS dl,
       |               count(*) OVER (PARTITION BY term) AS df FROM ct),
       |wt AS (SELECT d, term, tf_d, dl,
       |         CAST(floor(1000000 / df) AS BIGINT) AS w,
       |         (10000 * 22 * tf_d * (total_tokens // n_corpus)) //
       |           (10 * (total_tokens // n_corpus) * tf_d
       |            + 3 * (total_tokens // n_corpus) + 9 * dl) AS tfc
       |       FROM dld, st
       |       WHERE df <= n_corpus * 0.78),
       |qt AS (SELECT d AS q, term, tf_d AS tf_q FROM ct WHERE d < 5),
       |s AS (SELECT q, d, CAST(sum(tf_q * w * tfc) AS BIGINT) AS score
       |      FROM qt JOIN wt USING (term) GROUP BY 1, 2),
       |rk AS (SELECT q, d, score,
       |         row_number() OVER (PARTITION BY q ORDER BY score DESC, d) AS rnk FROM s)
       |SELECT q, d, score, rnk FROM rk WHERE rnk <= 10 ORDER BY q, rnk""".stripMargin

  protected lazy val textOracle: Map[String, String] = Map(
    "q214_vocab_growth" ->
      s"""WITH toks AS (SELECT doc_id, unnest($DNTOKS) AS tok FROM documents),
         |fs AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS first_doc FROM toks GROUP BY 1),
         |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks FROM toks GROUP BY 1),
         |mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mx FROM documents),
         |cps AS (SELECT CAST(k AS BIGINT) AS k, (mx + 1) * k // 8 AS cp
         |        FROM range(1, 9) t(k) CROSS JOIN mx),
         |vocab AS (SELECT k, cp, CAST(count(*) AS BIGINT) AS distinct_tokens
         |          FROM fs CROSS JOIN cps WHERE first_doc < cp GROUP BY 1, 2),
         |mass AS (SELECT k, cp, CAST(count(*) AS BIGINT) AS n_docs,
         |           CAST(sum(n_toks) AS BIGINT) AS total_tokens
         |         FROM pd CROSS JOIN cps WHERE doc_id < cp GROUP BY 1, 2)
         |SELECT k, cp, n_docs, total_tokens, distinct_tokens,
         |  CAST(distinct_tokens * 1000000 // greatest(total_tokens, 1) AS BIGINT) AS vocab_ppm
         |FROM mass JOIN vocab USING (k, cp) ORDER BY k""".stripMargin,
    "q205_ttr_curve" ->
      s"""WITH toks AS (SELECT lang, $DNTOKS AS tk FROM documents),
         |ks AS (SELECT unnest([50, 100, 200]) AS k),
         |per AS (SELECT lang, CAST(k AS BIGINT) AS k,
         |          CAST(len(list_distinct(tk[1:k])) AS BIGINT) AS d,
         |          CAST(least(len(tk), k) AS BIGINT) AS n
         |        FROM toks CROSS JOIN ks)
         |SELECT lang, k, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(d) AS BIGINT) AS distinct_toks,
         |  CAST(sum(n) AS BIGINT) AS total_toks,
         |  CAST(sum(d) * 1000000 // greatest(sum(n), 1) AS BIGINT) AS ttr_ppm
         |FROM per GROUP BY 1, 2 ORDER BY lang, k""".stripMargin,
    "q206_chunk_library" ->
      s"""WITH nt AS (SELECT doc_id, $DNORM AS n FROM documents),
         |wins AS (SELECT doc_id, n, unnest(range(1, greatest(len(n) - 6, 1))) AS i FROM nt),
         |cuts AS (SELECT doc_id, n, i AS cut FROM wins
         |         WHERE ('0x' || substr(md5(n[i:i+7]), 1, 8))::BIGINT % 64 = 0
         |         UNION
         |         SELECT doc_id, n, len(n) AS cut FROM nt),
         |chunks AS (SELECT doc_id,
         |             md5(n[lag(cut, 1, 0) OVER (PARTITION BY doc_id ORDER BY cut) + 1 : cut]) AS h,
         |             cut - lag(cut, 1, 0) OVER (PARTITION BY doc_id ORDER BY cut) AS clen
         |           FROM cuts),
         |sh AS (SELECT h, count(*) >= 2 AS is_shared
         |       FROM (SELECT DISTINCT doc_id, h FROM chunks) GROUP BY h),
         |tagged AS (SELECT d.source, c.clen, sh.is_shared
         |           FROM chunks c JOIN sh USING (h)
         |           JOIN documents d USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN is_shared THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
         |  CAST(sum(clen) AS BIGINT) AS total_chars,
         |  CAST(sum(CASE WHEN is_shared THEN clen ELSE 0 END) AS BIGINT) AS shared_chars,
         |  CAST(sum(CASE WHEN is_shared THEN clen ELSE 0 END) * 1000000
         |       // greatest(sum(clen), 1) AS BIGINT) AS reuse_ppm
         |FROM tagged GROUP BY 1 ORDER BY source""".stripMargin,
    "q23_dedup_groups" ->
      s"""SELECT md5($DNORM) AS fp, min(doc_id) AS keep_id, count(*) AS group_size
         |FROM documents GROUP BY 1 ORDER BY fp""".stripMargin,
    "q24_token_stats" ->
      s"""SELECT doc_id, len(text) AS n_chars, len($DTOKS) AS n_tokens,
         | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords,
         | len(list_filter($DTOKS, t -> list_contains($DSTOP, t))) AS stopword_hits,
         | len(regexp_extract_all(text, '[.,;:!?]')) AS punct_count,
         | CAST(list_sum(list_transform($DTOKS, t -> len(t))) AS BIGINT) AS sum_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q25_lang_id" -> {
      val en = langScore(Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as"))
      val es = langScore(Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"))
      val fr = langScore(Seq("le", "la", "les", "de", "et", "un", "une", "des", "est", "pour"))
      val de = langScore(Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "nicht"))
      s"""WITH s AS (SELECT doc_id, $en AS s_en, $es AS s_es, $fr AS s_fr, $de AS s_de FROM documents),
         |b AS (SELECT *, greatest(s_en, s_es, s_fr, s_de) AS best FROM s)
         |SELECT doc_id,
         | CASE WHEN best > 0 AND s_en = best THEN 'en'
         |      WHEN best > 0 AND s_es = best THEN 'es'
         |      WHEN best > 0 AND s_fr = best THEN 'fr'
         |      WHEN best > 0 AND s_de = best THEN 'de'
         |      ELSE 'und' END AS lang_pred
         |FROM b ORDER BY doc_id""".stripMargin
    },
    "q26_quality_filter" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE len($DTOKS) BETWEEN 15 AND 40
         |  AND len(regexp_extract_all(text, '[.,;:!?]')) = 0
         |ORDER BY doc_id""".stripMargin,
    "q27_minhash_sig" ->
      s"""WITH toks AS (SELECT doc_id, $DNTOKS AS tk FROM documents),
         |sh AS (SELECT doc_id,
         |        CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |             ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS s
         |       FROM toks)
         |SELECT doc_id,
         | list_min(list_transform(s, x -> md5('0|' || x))) AS mh_0,
         | list_min(list_transform(s, x -> md5('1|' || x))) AS mh_1,
         | list_min(list_transform(s, x -> md5('2|' || x))) AS mh_2,
         | list_min(list_transform(s, x -> md5('3|' || x))) AS mh_3
         |FROM sh WHERE len(s) > 0 ORDER BY doc_id""".stripMargin,
    "q28_minhash_pairs" -> s"$MinhashPairsBody\nORDER BY id_a, id_b",
    // The xxhash64 signatures themselves are engine-specific; the oracle
    // pins the per-doc invariants (band rejoin, popcount range, sampled
    // native-vs-composable differential) all TRUE.
    "q29_simhash" ->
      """SELECT doc_id, TRUE AS bands_rejoin, TRUE AS null_contract,
        |       TRUE AS composable_match
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q60_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS ($MinhashPairsBody),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id)
         |SELECT id, min(lbl) AS cluster FROM reach GROUP BY id ORDER BY id""".stripMargin,
    "q71_chunking" ->
      s"""WITH tk AS (SELECT doc_id, $DNTOKS AS w FROM documents),
         |nn AS (SELECT doc_id, w, len(w) AS n FROM tk),
         |c AS (SELECT doc_id, w, n,
         |        unnest(range(0, CASE WHEN n <= 32 THEN 1
         |                             ELSE CAST(ceil(CAST(n - 32 AS DOUBLE) / 24) AS BIGINT) + 1 END)) AS chunk_id
         |      FROM nn)
         |SELECT doc_id, chunk_id, chunk_id * 24 AS start_tok,
         |       least(32, n - chunk_id * 24) AS chunk_len,
         |       array_to_string(w[chunk_id*24+1 : chunk_id*24 + least(32, n - chunk_id*24)], ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "q70_mixture_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY
        |           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824,
        |           doc_id) AS mix_rank
        |  FROM documents)
        |SELECT lang, doc_id, mix_rank FROM r
        |WHERE mix_rank <= floor(CASE lang WHEN 'en' THEN 0.60 WHEN 'es' THEN 0.15
        |                                  WHEN 'fr' THEN 0.15 WHEN 'de' THEN 0.10
        |                                  ELSE 0.0 END * 200)
        |ORDER BY lang, mix_rank""".stripMargin,
    "q63_contamination" ->
      s"""WITH b AS (SELECT doc_id, $DNTOKS AS tk,
         |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bkt
         |           FROM documents),
         |g AS (SELECT doc_id, bkt,
         |        unnest(list_distinct(list_transform(range(1, len(tk) - 3),
         |                 i -> md5(array_to_string(tk[i:i+4], ' '))))) AS gh
         |      FROM b WHERE len(tk) >= 5)
         |SELECT te.doc_id AS test_id,
         |       count(DISTINCT tr.doc_id) AS n_train_docs,
         |       count(DISTINCT te.gh) AS n_shared_grams
         |FROM g te JOIN g tr ON te.gh = tr.gh AND te.bkt >= 90 AND tr.bkt < 80
         |GROUP BY te.doc_id ORDER BY test_id""".stripMargin,
    "q64_repetition" ->
      s"""WITH tk AS (SELECT doc_id, $DNTOKS AS w FROM documents),
         |g AS (SELECT doc_id,
         |        list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' ')) AS gs
         |      FROM tk WHERE len(w) >= 3)
         |SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams,
         |       CAST(len(gs) - len(list_distinct(gs)) AS BIGINT) AS n_repeated,
         |       CAST(len(gs) - len(list_distinct(gs)) AS DOUBLE) / len(gs) AS rep_ratio
         |FROM g ORDER BY doc_id""".stripMargin,
    "q65_oov_rate" ->
      s"""WITH toks AS (SELECT doc_id, unnest($DNTOKS) AS term FROM documents),
         |v AS (SELECT term FROM (
         |        SELECT term, count(*) AS n FROM toks GROUP BY term
         |        ORDER BY n DESC, term LIMIT 50)),
         |j AS (SELECT t.doc_id, (v.term IS NOT NULL) AS in_v
         |      FROM toks t LEFT JOIN v ON t.term = v.term)
         |SELECT doc_id, count(*) AS n_tokens,
         |       count(*) FILTER (WHERE NOT in_v) AS n_oov,
         |       CAST(count(*) FILTER (WHERE NOT in_v) AS DOUBLE) / count(*) AS oov_rate
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q52_simhash_md5" -> s"$SimhashMd5Body\nORDER BY doc_id",
    "q69_simhash_pairs" ->
      s"""WITH sig AS ($SimhashMd5Body),
         |bands AS (SELECT doc_id, sig, 0 AS band_id, sig & 65535 AS chunk FROM sig
         |          UNION ALL SELECT doc_id, sig, 1 AS band_id, (sig >> 16) & 65535 AS chunk FROM sig),
         |bok AS (SELECT band_id, chunk FROM bands GROUP BY band_id, chunk
         |        HAVING count(*) <= ${graft.functions.Dedup.DefaultMaxBucketSize}),
         |bk AS (SELECT bands.* FROM bands JOIN bok USING (band_id, chunk)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |            CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |          FROM bk a JOIN bk b USING (band_id, chunk)
         |          WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin,
    "q54_jaccard_blocked" ->
      """WITH s AS (
        |  SELECT doc_id, lang, source,
        |         list_transform(generate_series(1, greatest(length(text) - 2, 0)),
        |                        i -> substr(text, i, 3)) AS sh
        |  FROM documents WHERE text IS NOT NULL AND doc_id % 5 = 0
        |),
        |sz AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS bn
        |       FROM s GROUP BY 1, 2),
        |ss AS (SELECT s.* FROM s JOIN sz
        |         ON s.lang IS NOT DISTINCT FROM sz.lang
        |        AND s.source IS NOT DISTINCT FROM sz.source
        |       WHERE bn <= 2048
        |          OR (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000) * bn < 2048 * 1000000)
        |SELECT a.doc_id AS left_id, b.doc_id AS right_id,
        |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |         / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
        |FROM ss a JOIN ss b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.2
        |ORDER BY left_id, right_id""".stripMargin,
    "q55_hash_split" ->
      """WITH b AS (
        |  SELECT n_chars,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bkt
        |  FROM documents)
        |SELECT CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
        |       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM b GROUP BY 1 ORDER BY split""".stripMargin,
    "q56_stratified_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
        |           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824,
        |           doc_id) AS sample_rank
        |  FROM documents)
        |SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= 5
        |ORDER BY lang, sample_rank""".stripMargin,
    "q57_pack_bins" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
        |  FROM documents),
        |b AS (
        |  SELECT shard, n_chars,
        |         CAST(floor((SUM(n_chars) OVER (PARTITION BY shard ORDER BY doc_id) - n_chars)
        |                    / 4000.0) AS BIGINT) AS pack_bin
        |  FROM s)
        |SELECT shard, pack_bin, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS bin_chars
        |FROM b GROUP BY shard, pack_bin ORDER BY shard, pack_bin""".stripMargin,
    "q40_term_freq" ->
      s"""SELECT term, CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT unnest($DNTOKS) AS term FROM documents)
         |GROUP BY term ORDER BY n DESC, term LIMIT 50""".stripMargin,
    "q41_tfidf_top_terms" ->
      s"""WITH tc AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($DNTOKS) AS term FROM documents)
         |  GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tc GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tc.doc_id, tc.term, tc.tf,
         |         tc.tf * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS tf_idf
         |  FROM tc JOIN dfreq USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, term, tf,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY tf_idf DESC, term ASC) AS rnk
         |  FROM scored)
         |SELECT doc_id, term, tf, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,
    "q73_dup_spans" ->
      s"""WITH toks AS (SELECT doc_id, $DNTOKS AS tk FROM documents),
         |g AS (SELECT doc_id,
         |        unnest(list_transform(range(1, len(tk) - 3),
         |                 i -> md5(array_to_string(tk[i:i+4], ' ')))) AS gh
         |      FROM toks WHERE len(tk) >= 5),
         |pg AS (SELECT doc_id, gh, count(*) AS occ FROM g GROUP BY doc_id, gh),
         |d AS (SELECT doc_id, occ,
         |        count(*) OVER (PARTITION BY gh) AS gram_docs FROM pg)
         |SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_grams,
         |       CAST(sum(CASE WHEN gram_docs > 1 THEN occ ELSE 0 END) AS BIGINT) AS n_dup_grams,
         |       CAST(sum(CASE WHEN gram_docs > 1 THEN occ ELSE 0 END) AS DOUBLE)
         |         / CAST(sum(occ) AS DOUBLE) AS dup_fraction
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q76_gopher_rules" ->
      s"""WITH toks AS (SELECT lang, source, $DTOKS AS tk, $DNTOKS AS nt FROM documents),
         |sh AS (SELECT lang, source, tk,
         |        CASE WHEN len(nt) < 3 THEN []::VARCHAR[]
         |             ELSE list_transform(range(1, len(nt) - 1), i -> array_to_string(nt[i:i+2], ' ')) END AS s
         |       FROM toks),
         |f AS (SELECT lang, source,
         |        CASE WHEN len(tk) >= 30 THEN 1 ELSE 0 END AS len_ok,
         |        CASE WHEN list_sum(list_transform(tk, t -> len(t))) * 1000 >= len(tk) * 3000
         |              AND list_sum(list_transform(tk, t -> len(t))) * 1000 <= len(tk) * 10000
         |             THEN 1 ELSE 0 END AS word_len_ok,
         |        CASE WHEN len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) * 5 >= len(tk) * 4
         |             THEN 1 ELSE 0 END AS alpha_ok,
         |        CASE WHEN len(list_filter(tk, t -> list_contains($DSTOP, t))) >= 2
         |             THEN 1 ELSE 0 END AS stop_ok,
         |        CASE WHEN (len(s) - len(list_distinct(s))) * 5 <= len(s)
         |             THEN 1 ELSE 0 END AS rep_ok
         |      FROM sh)
         |SELECT lang, source, count(*) AS n_docs,
         |       CAST(sum(len_ok) AS BIGINT) AS n_len_ok,
         |       CAST(sum(word_len_ok) AS BIGINT) AS n_word_len_ok,
         |       CAST(sum(alpha_ok) AS BIGINT) AS n_alpha_ok,
         |       CAST(sum(stop_ok) AS BIGINT) AS n_stop_ok,
         |       CAST(sum(rep_ok) AS BIGINT) AS n_rep_ok,
         |       CAST(sum(len_ok * word_len_ok * alpha_ok * stop_ok * rep_ok) AS BIGINT) AS n_pass
         |FROM f GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q77_pii_scrub" ->
      s"""WITH p AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
         |  || CASE WHEN doc_id % 5 = 0 THEN ' or admin@test.org' ELSE '' END
         |  || CASE WHEN doc_id % 4 = 0 THEN ' from 10.' || CAST(doc_id % 32 AS VARCHAR) || '.0.' || CAST(doc_id % 256 AS VARCHAR) ELSE '' END
         |  || CASE WHEN doc_id % 7 = 0 THEN ' call 555-0199' ELSE '' END AS t2
         |  FROM documents),
         |r AS (SELECT doc_id, t2,
         |  regexp_replace(regexp_replace(regexp_replace(t2,
         |    '$PiiEmailSql', '<EMAIL>', 'g'),
         |    '$PiiIpv4Sql', '<IP>', 'g'),
         |    '$PiiPhoneSql', '<PHONE>', 'g') AS red
         |  FROM p)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t2, '$PiiEmailSql')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(t2, '$PiiIpv4Sql')) AS BIGINT) AS n_ips,
         |  CAST(len(regexp_extract_all(t2, '$PiiPhoneSql')) AS BIGINT) AS n_phones,
         |  CAST(len(red) AS BIGINT) AS redacted_len,
         |  md5(red) AS redacted_md5
         |FROM r ORDER BY doc_id""".stripMargin,
    "q78_url_domains" ->
      s"""WITH p AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 2 = 0 THEN ' see https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/p' || CAST(doc_id AS VARCHAR) ELSE '' END
         |  || CASE WHEN doc_id % 3 = 0 THEN ' ref http://www.ref' || CAST(doc_id % 7 AS VARCHAR) || '.org/page' ELSE '' END AS t2
         |  FROM documents),
         |d AS (SELECT doc_id, unnest(regexp_extract_all(t2, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain FROM p)
         |SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       count(*) AS n_refs
         |FROM d WHERE domain NOT IN ('site3.example.com', 'www.ref2.org')
         |GROUP BY domain ORDER BY domain""".stripMargin,
    "q79_boilerplate" ->
      s"""WITH p AS (SELECT doc_id, text
         |  || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END
         |  || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END
         |  || CASE WHEN doc_id % 50 = 0 THEN chr(10) || 'rare promo line' ELSE '' END AS t2
         |  FROM documents),
         |l AS (SELECT doc_id, unnest(string_split(t2, chr(10))) AS line FROM p),
         |hot AS (SELECT line FROM l GROUP BY line HAVING count(DISTINCT doc_id) >= 100)
         |SELECT l.doc_id, count(*) AS n_lines,
         |  CAST(sum(CASE WHEN hot.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  CAST(sum(CASE WHEN hot.line IS NULL THEN len(l.line) ELSE 0 END) AS BIGINT) AS kept_chars
         |FROM l LEFT JOIN hot ON l.line = hot.line
         |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin,
    "q82_lm_score" ->
      s"""WITH nt AS (SELECT doc_id, $DNORM AS n FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(n)), i -> n[i:i+1])) AS bigram FROM nt),
         |m AS (SELECT bigram, count(*) AS cnt FROM g GROUP BY bigram),
         |p AS (SELECT substr(bigram, 1, 1) AS c1, CAST(sum(cnt) AS BIGINT) AS prefix_cnt FROM m GROUP BY 1)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  CAST(sum(CAST(floor(1000000 * cnt / prefix_cnt) AS BIGINT)) AS BIGINT) AS lm_score
         |FROM g JOIN m USING (bigram) JOIN p ON substr(g.bigram, 1, 1) = p.c1
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q83_incremental_dedup" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
        |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8
        |          UNION ALL
        |          SELECT doc_id + 100000, text FROM corpus WHERE doc_id % 50 = 0),
        |bf AS (SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM batch),
        |cf AS (SELECT DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp FROM corpus)
        |SELECT min(b.doc_id) AS doc_id, b.fp
        |FROM bf b LEFT JOIN cf c ON b.fp = c.fp
        |WHERE c.fp IS NULL
        |GROUP BY b.fp ORDER BY doc_id""".stripMargin,
    "q85_curation_funnel" ->
      s"""WITH base AS (SELECT doc_id, lang, n_chars,
         |         md5($DNORM) AS fp,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bkt
         |       FROM documents),
         |k1 AS (SELECT * FROM base QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
         |toks AS (SELECT doc_id, $DTOKS AS tk, $DNTOKS AS nt FROM documents),
         |sh AS (SELECT doc_id, tk, nt,
         |        CASE WHEN len(nt) < 3 THEN []::VARCHAR[]
         |             ELSE list_transform(range(1, len(nt) - 1), i -> array_to_string(nt[i:i+2], ' ')) END AS s
         |       FROM toks),
         |flags AS (SELECT doc_id FROM sh WHERE
         |   len(tk) >= 30
         |   AND list_sum(list_transform(tk, t -> len(t))) * 1000 >= len(tk) * 3000
         |   AND list_sum(list_transform(tk, t -> len(t))) * 1000 <= len(tk) * 10000
         |   AND len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) * 5 >= len(tk) * 4
         |   AND len(list_filter(tk, t -> list_contains($DSTOP, t))) >= 2
         |   AND (len(s) - len(list_distinct(s))) * 5 <= len(s)),
         |k2 AS (SELECT k1.* FROM k1 JOIN flags USING (doc_id)),
         |k3 AS (SELECT * FROM k2 WHERE bkt < 80),
         |tgr AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(nt) - 3),
         |                 i -> md5(array_to_string(nt[i:i+4], ' '))))) AS gh
         |        FROM toks JOIN base USING (doc_id) WHERE base.bkt >= 90),
         |kgr0 AS (SELECT k3.doc_id, unnest(list_distinct(list_transform(range(1, len(nt) - 3),
         |                 i -> md5(array_to_string(nt[i:i+4], ' '))))) AS gh
         |        FROM toks JOIN k3 USING (doc_id)),
         |kgr AS (SELECT doc_id, gh FROM
         |          (SELECT doc_id, gh, count(*) OVER (PARTITION BY gh) AS df FROM kgr0)
         |        WHERE df <= 1000),
         |drop4 AS (SELECT DISTINCT kgr.doc_id FROM kgr JOIN tgr USING (gh)),
         |k4 AS (SELECT * FROM k3 WHERE doc_id NOT IN (SELECT doc_id FROM drop4)),
         |k5 AS (SELECT * FROM k4 QUALIFY ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) >= 2)
         |SELECT * FROM (
         |  SELECT '0_raw' AS stage, count(*) AS n_docs FROM documents
         |  UNION ALL SELECT '1_exact_dedup', count(*) FROM k1
         |  UNION ALL SELECT '2_quality_gate', count(*) FROM k2
         |  UNION ALL SELECT '3_train_split', count(*) FROM k3
         |  UNION ALL SELECT '4_decontaminated', count(*) FROM k4
         |  UNION ALL SELECT '5_decile_trim', count(*) FROM k5
         |) ORDER BY stage""".stripMargin,
    "q89_kanon_facets" ->
      """WITH d AS (SELECT lang, source, count(*) AS n_docs,
        |            CAST(sum(n_chars) AS BIGINT) AS total_chars
        |           FROM documents GROUP BY lang, source)
        |SELECT CASE WHEN n_docs >= 8 THEN lang ELSE '__other__' END AS lang_pub,
        |       CASE WHEN n_docs >= 8 THEN source ELSE '__other__' END AS source_pub,
        |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |       CAST(sum(total_chars) AS BIGINT) AS total_chars
        |FROM d GROUP BY 1, 2 ORDER BY lang_pub, source_pub""".stripMargin,
    "q90_sparse_retrieval" -> SparseRetrievalSql,
    // The probe answers q90's EXACT retrieval from the materialized index,
    // so it shares q90's oracle verbatim: same rows, different plan — the
    // differential gate proves build-once/probe-many loses nothing.
    "q237_sparse_probe" -> SparseRetrievalSql,
    // The delta-built incremental index answers the SAME retrieval: its
    // whole point is that two disjoint ingest batches + additive stats
    // reproduce the monolithic computation exactly.
    "q238_index_delta" -> SparseRetrievalSql,
    "q239_index_compact" -> SparseRetrievalSql,
    "q236_sparse_index" ->
      s"""WITH toks AS (SELECT doc_id, unnest($DNTOKS) AS term FROM documents),
         |ct AS (SELECT doc_id AS d, term, count(*) AS tf_d FROM toks GROUP BY 1, 2),
         |st AS (SELECT (SELECT count(*) FROM documents) AS n_corpus,
         |              (SELECT sum(tf_d) FROM ct) AS total_tokens),
         |dld AS (SELECT *, sum(tf_d) OVER (PARTITION BY d) AS dl,
         |               count(*) OVER (PARTITION BY term) AS df FROM ct)
         |SELECT term, d, CAST(dl AS BIGINT) AS dl, tf_d, df,
         |       CAST(floor(1000000 / df) AS BIGINT) AS w,
         |       CAST((10000 * 22 * tf_d * (total_tokens // n_corpus)) //
         |         (10 * (total_tokens // n_corpus) * tf_d
         |          + 3 * (total_tokens // n_corpus) + 9 * dl) AS BIGINT) AS tfc
         |FROM dld, st
         |WHERE df <= n_corpus * 0.78
         |ORDER BY term, d""".stripMargin,
    "q93_token_budget_mix" ->
      // budget > 0 BEFORE the window mirrors the Spark-side scan-local
      // prefilter: zero-budget strata are unconditionally empty (even a
      // hypothetical zero-token row can't sneak in at cum_tokens = 0)
      s"""WITH b AS (
         |  SELECT lang, doc_id, CAST(len($DTOKS) AS BIGINT) AS n_tokens,
         |         CASE lang WHEN 'en' THEN 30000 WHEN 'es' THEN 10000
         |                   WHEN 'fr' THEN 10000 WHEN 'de' THEN 5000 ELSE 0 END AS budget
         |  FROM documents),
         |r AS (
         |  SELECT lang, doc_id, n_tokens, budget,
         |         CAST(sum(n_tokens) OVER (PARTITION BY lang ORDER BY
         |           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824,
         |           doc_id) AS BIGINT) AS cum_tokens
         |  FROM b WHERE budget > 0)
         |SELECT lang, doc_id, n_tokens, cum_tokens FROM r
         |WHERE cum_tokens <= budget
         |ORDER BY lang, cum_tokens""".stripMargin,
    "q94_url_canon" ->
      """WITH r AS (SELECT doc_id,
        |  'https://' ||
        |  CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END ||
        |  'Site' || CAST(doc_id % 10 AS VARCHAR) ||
        |  '.Example.com/doc/' || CAST(doc_id % 5 AS VARCHAR) ||
        |  CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 1 THEN '?utm_source=feed&ref=' || CAST(doc_id % 2 AS VARCHAR)
        |       WHEN doc_id % 3 = 2 THEN '?ref=' || CAST(doc_id % 2 AS VARCHAR) ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN '#sec' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END AS raw_url
        |  FROM documents),
        |n AS (SELECT doc_id, raw_url, regexp_replace(raw_url, '#.*$', '') AS nofrag FROM r),
        |p AS (SELECT doc_id, raw_url,
        |        lower(regexp_extract(nofrag, '(?i)^(https?)://', 1)) AS scheme,
        |        regexp_replace(lower(regexp_extract(nofrag, '(?i)^https?://([^/?]+)', 1)), '^www\.', '') AS host,
        |        regexp_replace(regexp_extract(nofrag, '(?i)^https?://[^/?]+([^?]*)', 1), '/$', '') AS path,
        |        array_to_string(list_filter(string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
        |          q -> NOT (starts_with(q, 'utm_') OR starts_with(q, 'fbclid'))), '&') AS qk
        |      FROM n),
        |c AS (SELECT doc_id, raw_url,
        |        CASE WHEN host = '' THEN raw_url
        |             ELSE scheme || '://' || host || path ||
        |                  CASE WHEN qk <> '' THEN '?' || qk ELSE '' END
        |        END AS canonical_url
        |      FROM p)
        |SELECT canonical_url, count(*) AS n_docs,
        |       count(DISTINCT raw_url) AS n_raw_forms,
        |       min(doc_id) AS keep_doc
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
    "q95_quality_keeper" ->
      """WITH p AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS q,
        |        CASE WHEN doc_id % 7 = 0
        |             THEN 'shared duplicate body ' || CAST(doc_id % 3 AS VARCHAR)
        |             ELSE text END AS t2
        |        FROM documents),
        |f AS (SELECT doc_id, q,
        |        md5(lower(regexp_replace(trim(t2), '\s+', ' ', 'g'))) AS fp FROM p),
        |r AS (SELECT fp, doc_id, q,
        |        row_number() OVER (PARTITION BY fp ORDER BY q DESC, doc_id) AS rk,
        |        count(*) OVER (PARTITION BY fp) AS group_size
        |      FROM f)
        |SELECT fp, doc_id AS keep_id, q AS keep_quality, group_size
        |FROM r WHERE rk = 1 ORDER BY fp""".stripMargin,
    "q96_cluster_survivors" ->
      s"""WITH RECURSIVE pairs AS ($MinhashPairsBody),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |lab AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
         |j AS (SELECT lab.cluster, lab.id, CAST(d.n_chars AS BIGINT) AS q
         |      FROM lab JOIN documents d ON lab.id = d.doc_id),
         |r AS (SELECT cluster, id, q,
         |        row_number() OVER (PARTITION BY cluster ORDER BY q DESC, id) AS rk,
         |        count(*) OVER (PARTITION BY cluster) AS cluster_size
         |      FROM j)
         |SELECT cluster, id AS keep_id, q AS keep_quality, cluster_size
         |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin,
    "q97_alpha_mixture" ->
      """WITH n AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w FROM n),
        |q AS (SELECT lang,
        |        (2000 * w) // CAST((SELECT sum(w) FROM w) AS BIGINT) AS quota
        |      FROM w),
        |r AS (SELECT lang, doc_id,
        |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
        |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824,
        |          doc_id) AS mix_rank
        |      FROM documents)
        |SELECT r.doc_id, r.lang, CAST(mix_rank AS INT) AS mix_rank, quota
        |FROM r JOIN q USING (lang) WHERE mix_rank <= quota
        |ORDER BY lang, mix_rank""".stripMargin,
    "q98_domain_blocklist" ->
      s"""WITH u AS (
         |  SELECT 'https://' ||
         |    CASE WHEN doc_id % 3 = 0 THEN 'www.'
         |         WHEN doc_id % 3 = 1 THEN 'cdn.' ELSE '' END ||
         |    'site' || CAST(doc_id % 17 AS VARCHAR) || '.net' ||
         |    CASE WHEN doc_id % 17 = 0 THEN ':8080' ELSE '' END ||
         |    '/page/' || CAST(doc_id % 7 AS VARCHAR) AS url,
         |    CASE WHEN doc_id % 17 = 5 AND doc_id % 2 = 0
         |           THEN 'click here to win a free prize'
         |         WHEN doc_id % 17 = 11 AND doc_id % 4 <> 0
         |           THEN '$BoilerplateBody'
         |         ELSE text END AS t2
         |  FROM documents),
         |e AS (SELECT
         |    regexp_extract(regexp_replace(lower(
         |        regexp_extract(url, '(?i)^https?://([^/?#]+)', 1)),
         |      ':[0-9]+$$', ''), '([^.]+\\.[^.]+)$$', 1) AS domain,
         |    md5(lower(regexp_replace(trim(t2), '\\s+', ' ', 'g'))) AS fp,
         |    CAST(len(t2) AS BIGINT) AS nc
         |  FROM u),
         |r AS (SELECT domain, count(*) AS n_docs,
         |        count(DISTINCT fp) AS n_unique,
         |        CAST(sum(nc) AS BIGINT) AS sum_chars
         |      FROM e GROUP BY domain)
         |SELECT domain, n_docs, n_unique, sum_chars,
         |  (n_docs >= 20 AND (100 * (n_docs - n_unique) > 25 * n_docs
         |                     OR sum_chars < 60 * n_docs)) AS blocked
         |FROM r ORDER BY domain""".stripMargin,
    "q99_data_card" ->
      s"""WITH b AS (SELECT source, lang, n_chars AS m,
         |             CAST(len(string_split_regex(trim(text), '\\s+'))
         |               AS BIGINT) AS toks FROM documents),
         |s AS (SELECT source, lang, count(*) AS n_docs,
         |        CAST(sum(toks) AS BIGINT) AS sum_tokens,
         |        CAST(sum(m) AS BIGINT) AS sum_chars
         |      FROM b GROUP BY source, lang),
         |h AS (SELECT source, lang, m, count(*) AS c
         |      FROM b GROUP BY source, lang, m),
         |cw AS (SELECT source, lang, m,
         |         CAST(sum(c) OVER (PARTITION BY source, lang ORDER BY m)
         |           AS BIGINT) AS cum,
         |         CAST(sum(c) OVER (PARTITION BY source, lang) AS BIGINT) AS n
         |       FROM h),
         |qv AS (SELECT source, lang,
         |         min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
         |               THEN m END) AS median_chars,
         |         min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT)
         |               THEN m END) AS p90_chars
         |       FROM cw GROUP BY source, lang)
         |SELECT s.source, s.lang, n_docs, sum_tokens, sum_chars,
         |       median_chars, p90_chars
         |FROM s JOIN qv USING (source, lang)
         |ORDER BY source, lang""".stripMargin,
    "q101_host_authority" -> {
      // One CTE pair per PageRank round, unrolled — integer fixed-point
      // makes every round's ranks bit-identical to the Spark loop.
      val rounds = (1 to 8).map { k =>
        s"""f$k AS (SELECT e.dst AS host, CAST(sum((p.r * e.w) // o.ow) AS BIGINT) AS inflow
           |      FROM p${k - 1} p JOIN ed e ON p.host = e.src JOIN o ON o.src = e.src GROUP BY 1),
           |p$k AS (SELECT h.host, CAST((15 * b.base + 85 * coalesce(f.inflow, 0)) // 100 AS BIGINT) AS r
           |      FROM h CROSS JOIN b LEFT JOIN f$k f ON f.host = h.host)""".stripMargin
      }.mkString(",\n")
      s"""WITH ed AS (SELECT doc_id % 10 AS src, (doc_id // 10) % 10 AS dst, CAST(count(*) AS BIGINT) AS w
         |      FROM documents WHERE doc_id % 10 <> (doc_id // 10) % 10 GROUP BY 1, 2),
         |h AS (SELECT src AS host FROM ed UNION SELECT dst FROM ed),
         |b AS (SELECT CAST(1000000000 // count(*) AS BIGINT) AS base FROM h),
         |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow FROM ed GROUP BY 1),
         |p0 AS (SELECT host, base AS r FROM h CROSS JOIN b),
         |$rounds
         |SELECT host, r AS authority FROM p8 ORDER BY authority DESC, host""".stripMargin
    },
    "q102_importance_select" ->
      s"""WITH toks AS (SELECT doc_id, source, unnest($DNTOKS) AS term FROM documents),
         |tb AS (SELECT doc_id, source = 'src0' AS is_tgt,
         |         ('0x' || substr(md5(term), 1, 8))::BIGINT % 64 AS b FROM toks),
         |w AS (SELECT b, CAST((count(CASE WHEN is_tgt THEN 1 END) * 1000000) // count(*) AS BIGINT) AS w
         |      FROM tb GROUP BY b),
         |ds AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
         |         CAST(sum(w.w) AS BIGINT) AS imp
         |       FROM tb JOIN w USING (b) WHERE NOT is_tgt GROUP BY doc_id),
         |fin AS (SELECT doc_id, n_toks, imp // n_toks AS imp_per_tok,
         |          row_number() OVER (ORDER BY imp // n_toks DESC, doc_id) AS rnk
         |        FROM ds)
         |SELECT doc_id, n_toks, CAST(imp_per_tok AS BIGINT) AS imp_per_tok, rnk
         |FROM fin WHERE rnk <= 100 ORDER BY rnk""".stripMargin,
    "q103_quality_classifier" ->
      s"""WITH $ClassifierChainSql
         |SELECT doc_id, is_spam, CAST(score AS BIGINT) AS score,
         |       CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INT) AS pred
         |FROM cfin ORDER BY doc_id""".stripMargin,
    "q107_score_calibration" ->
      s"""WITH $ClassifierChainSql,
         |b AS (SELECT doc_id, is_spam, score,
         |        ntile(10) OVER (ORDER BY score, doc_id) AS bin FROM cfin)
         |SELECT CAST(bin AS INT) AS bin, count(*) AS n_docs,
         |       CAST(sum(is_spam) AS BIGINT) AS n_pos,
         |       CAST(min(score) AS BIGINT) AS min_score,
         |       CAST(max(score) AS BIGINT) AS max_score
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q108_release_diff" ->
      s"""WITH prev AS (SELECT doc_id, source, md5($DNORM) AS fp
         |              FROM documents WHERE doc_id % 13 <> 5),
         |cur0 AS (SELECT doc_id, source,
         |           CASE WHEN doc_id % 11 = 3 THEN text || ' rev2' ELSE text END AS text
         |         FROM documents WHERE doc_id % 19 <> 6),
         |cur AS (SELECT doc_id, source, md5($DNORM) AS fp FROM cur0),
         |j AS (SELECT coalesce(p.source, c.source) AS grp,
         |        CASE WHEN p.fp IS NULL THEN 'added'
         |             WHEN c.fp IS NULL THEN 'removed'
         |             WHEN p.fp = c.fp THEN 'unchanged' ELSE 'changed' END AS st
         |      FROM prev p FULL OUTER JOIN cur c USING (doc_id))
         |SELECT grp, CAST(count(CASE WHEN st = 'added' THEN 1 END) AS BIGINT) AS n_added,
         |       CAST(count(CASE WHEN st = 'removed' THEN 1 END) AS BIGINT) AS n_removed,
         |       CAST(count(CASE WHEN st = 'changed' THEN 1 END) AS BIGINT) AS n_changed,
         |       CAST(count(CASE WHEN st = 'unchanged' THEN 1 END) AS BIGINT) AS n_unchanged
         |FROM j GROUP BY grp ORDER BY grp""".stripMargin,
    "q109_contamination_sweep" -> {
      def leg(k: Int): String = {
        val hi = k - 1
        s"""g$k AS (SELECT doc_id, bkt,
           |        unnest(list_distinct(list_transform(range(1, len(tk) - ${k - 2}),
           |                 i -> md5(array_to_string(tk[i:i+$hi], ' '))))) AS gh
           |      FROM b WHERE len(tk) >= $k),
           |tr$k AS (SELECT * FROM (SELECT doc_id, gh, count(*) OVER (PARTITION BY gh) AS df
           |                        FROM g$k WHERE bkt < 80) WHERE df <= 1000),
           |p$k AS (SELECT te.doc_id, count(DISTINCT tr.doc_id) AS ntr,
           |          count(DISTINCT te.gh) AS nsh
           |        FROM g$k te JOIN tr$k tr ON te.gh = tr.gh AND te.bkt >= 90
           |        GROUP BY te.doc_id),
           |s$k AS (SELECT CAST($k AS INT) AS gram_k,
           |          CAST(count(*) AS BIGINT) AS n_test_contaminated,
           |          CAST(coalesce(sum(ntr), 0) AS BIGINT) AS total_pairs,
           |          CAST(coalesce(sum(nsh), 0) AS BIGINT) AS total_shared_grams
           |        FROM p$k)""".stripMargin
      }
      s"""WITH b AS (SELECT doc_id, $DNTOKS AS tk,
         |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bkt
         |           FROM documents),
         |${leg(3)},
         |${leg(8)}
         |SELECT * FROM s3 UNION ALL SELECT * FROM s8 ORDER BY gram_k""".stripMargin
    },
    "q110_drift_monitor" ->
      s"""WITH b AS (SELECT lang,
         |             CASE WHEN (doc_id // 20) % 2 = 1 THEN 'new' ELSE 'old' END AS batch,
         |             n_chars + CASE WHEN lang = 'de' AND (doc_id // 20) % 2 = 1
         |                            THEN 200 ELSE 0 END AS m
         |           FROM documents),
         |h AS (SELECT lang, batch, m, count(*) AS c FROM b GROUP BY lang, batch, m),
         |cw AS (SELECT lang, batch, m,
         |         CAST(sum(c) OVER (PARTITION BY lang, batch ORDER BY m) AS BIGINT) AS cum,
         |         CAST(sum(c) OVER (PARTITION BY lang, batch) AS BIGINT) AS n
         |       FROM h),
         |qv AS (SELECT lang, batch,
         |         min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN m END) AS p50,
         |         min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT) THEN m END) AS p90
         |       FROM cw GROUP BY lang, batch),
         |p AS (SELECT lang,
         |        CAST(max(CASE WHEN batch = 'old' THEN p50 END) AS BIGINT) AS median_old,
         |        CAST(max(CASE WHEN batch = 'new' THEN p50 END) AS BIGINT) AS median_new,
         |        CAST(max(CASE WHEN batch = 'old' THEN p90 END) AS BIGINT) AS p90_old,
         |        CAST(max(CASE WHEN batch = 'new' THEN p90 END) AS BIGINT) AS p90_new
         |      FROM qv GROUP BY lang)
         |SELECT lang, median_old, median_new, p90_old, p90_new,
         |       CAST(CASE WHEN abs(median_new - median_old) * 10 > median_old * 2
         |                 THEN 1 ELSE 0 END AS INT) AS drift
         |FROM p ORDER BY lang""".stripMargin,
    "q111_tokenizer_fertility" ->
      s"""WITH b AS (SELECT lang,
         |             CAST(len($DTOKS) AS BIGINT) AS toks,
         |             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS subs
         |           FROM documents),
         |s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(toks) AS BIGINT) AS total_tokens,
         |        CAST(sum(subs) AS BIGINT) AS total_subwords
         |      FROM b GROUP BY lang)
         |SELECT lang, n_docs, total_tokens, total_subwords,
         |       CAST((total_subwords * 1000000) // total_tokens AS BIGINT) AS fertility_ppm
         |FROM s ORDER BY lang""".stripMargin,
    "q112_truncation_loss" ->
      s"""WITH b AS (SELECT CAST(len($DTOKS) AS BIGINT) AS n_tokens FROM documents),
         |e AS (SELECT n_tokens, unnest([64, 128, 192, 256]) AS max_len FROM b)
         |SELECT CAST(max_len AS BIGINT) AS max_len,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN n_tokens > max_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
         |       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
         |       CAST(sum(least(n_tokens, max_len)) AS BIGINT) AS tokens_kept,
         |       CAST(sum(least(n_tokens, max_len)) * 1000000 // sum(n_tokens) AS BIGINT) AS kept_ppm
         |FROM e GROUP BY max_len ORDER BY max_len""".stripMargin,
    "q113_dedup_survivorship" ->
      s"""WITH d AS (SELECT doc_id, lang, source, n_chars, md5($DNORM) AS fp FROM documents),
         |k AS (SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM d)
         |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |       CAST(sum(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END) AS BIGINT) AS chars_removed,
         |       CAST(sum(CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS removed_ppm
         |FROM k GROUP BY lang, source ORDER BY lang, source""".stripMargin,
    "q114_cross_split_neardup" ->
      s"""WITH pairs AS (SELECT * FROM ($MinhashPairsBody) pp),
         |tok AS (SELECT doc_id, $DNTOKS AS tk,
         |          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bkt
         |        FROM documents),
         |sd AS (SELECT doc_id, bkt,
         |         list_distinct(CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |              ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sd
         |       FROM tok),
         |cr AS (SELECT CASE WHEN a.bkt < 80 THEN p.id_a ELSE p.id_b END AS train_id,
         |              CASE WHEN a.bkt < 80 THEN p.id_b ELSE p.id_a END AS eval_id
         |       FROM pairs p JOIN sd a ON p.id_a = a.doc_id JOIN sd b ON p.id_b = b.doc_id
         |       WHERE (a.bkt < 80 AND b.bkt >= 90) OR (a.bkt >= 90 AND b.bkt < 80)),
         |j AS (SELECT c.train_id, c.eval_id,
         |        CAST(len(list_intersect(e.sd, t2.sd)) AS DOUBLE)
         |          / (len(e.sd) + len(t2.sd) - len(list_intersect(e.sd, t2.sd))) AS jaccard
         |      FROM cr c JOIN sd e ON c.eval_id = e.doc_id JOIN sd t2 ON c.train_id = t2.doc_id),
         |best AS (SELECT eval_id, train_id AS best_train_id, jaccard AS best_jaccard FROM j
         |         QUALIFY row_number() OVER (PARTITION BY eval_id ORDER BY jaccard DESC, train_id) = 1),
         |agg AS (SELECT eval_id, CAST(count(*) AS BIGINT) AS n_train_matches FROM j GROUP BY eval_id)
         |SELECT a.eval_id, a.n_train_matches, b.best_train_id, b.best_jaccard
         |FROM agg a JOIN best b USING (eval_id) ORDER BY eval_id""".stripMargin,
    "q124_ngram_diversity" ->
      s"""WITH g AS (SELECT lang, source,
         |             CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |                  ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END AS sh
         |           FROM (SELECT lang, source, $DNTOKS AS tk FROM documents)),
         |tot AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
         |          CAST(sum(len(sh)) AS BIGINT) AS total_grams,
         |          CAST(sum(len(list_distinct(sh))) AS BIGINT) AS doc_distinct_grams
         |        FROM g GROUP BY lang, source),
         |d AS (SELECT lang, source, CAST(count(DISTINCT h) AS BIGINT) AS distinct_grams
         |      FROM (SELECT lang, source, md5(unnest(list_distinct(sh))) AS h FROM g)
         |      GROUP BY lang, source)
         |SELECT lang, source, n_docs, total_grams, distinct_grams, doc_distinct_grams,
         |       CAST(CASE WHEN total_grams > 0 THEN distinct_grams * 1000000 // total_grams
         |            ELSE 0 END AS BIGINT) AS ttr_ppm
         |FROM tot JOIN d USING (lang, source) ORDER BY lang, source""".stripMargin,
    "q125_dup_multiplicity" ->
      s"""WITH d AS (SELECT md5($DNORM) AS fp, lang, n_chars FROM documents),
         |g AS (SELECT fp, CAST(count(*) AS BIGINT) AS m,
         |        CAST(count(DISTINCT lang) AS BIGINT) AS nl,
         |        CAST(sum(n_chars) AS BIGINT) AS chars
         |      FROM d GROUP BY fp)
         |SELECT CAST(least(m, 5) AS BIGINT) AS multiplicity, nl AS n_langs,
         |       CAST(count(*) AS BIGINT) AS n_groups, CAST(sum(m) AS BIGINT) AS n_docs,
         |       CAST(sum(chars) AS BIGINT) AS total_chars
         |FROM g GROUP BY 1, 2 ORDER BY multiplicity, n_langs""".stripMargin,
    "q138_hist_quantiles" ->
      """WITH d AS (SELECT lang, n_chars FROM documents),
        |sk AS (SELECT lang, least(n_chars // 16, 255) AS bucket,
        |         CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2),
        |cu AS (SELECT lang, bucket, c,
        |         CAST(sum(c) OVER (PARTITION BY lang ORDER BY bucket) AS BIGINT) AS cum,
        |         CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS n
        |       FROM sk),
        |e AS (SELECT lang,
        |        CAST(min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT)
        |              THEN bucket * 16 + 15 END) AS BIGINT) AS est_p50,
        |        CAST(min(CASE WHEN cum >= CAST(ceil(0.9 * n) AS BIGINT)
        |              THEN bucket * 16 + 15 END) AS BIGINT) AS est_p90
        |      FROM cu GROUP BY lang),
        |h AS (SELECT lang, n_chars AS m, count(*) AS c2 FROM d GROUP BY 1, 2),
        |hc AS (SELECT lang, m,
        |         CAST(sum(c2) OVER (PARTITION BY lang ORDER BY m) AS BIGINT) AS cum2,
        |         CAST(sum(c2) OVER (PARTITION BY lang) AS BIGINT) AS n2
        |       FROM h),
        |x AS (SELECT lang,
        |        CAST(min(CASE WHEN cum2 >= CAST(ceil(0.5 * n2) AS BIGINT) THEN m END) AS BIGINT) AS exact_p50,
        |        CAST(min(CASE WHEN cum2 >= CAST(ceil(0.9 * n2) AS BIGINT) THEN m END) AS BIGINT) AS exact_p90
        |      FROM hc GROUP BY lang)
        |SELECT lang, est_p50, exact_p50, est_p90, exact_p90,
        |       CAST((est_p50 - exact_p50) * 1000000 // exact_p50 AS BIGINT) AS err_p50_ppm,
        |       CAST((est_p90 - exact_p90) * 1000000 // exact_p90 AS BIGINT) AS err_p90_ppm
        |FROM e JOIN x USING (lang) ORDER BY lang""".stripMargin,
    "q139_pr_curve" ->
      s"""WITH $ClassifierChainSql,
         |bd AS (SELECT min(score) AS lo, max(score) AS hi FROM cfin),
         |h AS (SELECT ((score - lo) * 64) // (hi - lo + 1) AS cell,
         |         CAST(min(score) AS BIGINT) AS threshold,
         |         CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(is_spam) AS BIGINT) AS n_pos
         |       FROM cfin CROSS JOIN bd GROUP BY 1),
         |c AS (SELECT cell, threshold,
         |         CAST(sum(n_pos) OVER (ORDER BY cell DESC) AS BIGINT) AS tp,
         |         CAST(sum(n) OVER (ORDER BY cell DESC) AS BIGINT) AS pp
         |       FROM h),
         |ptot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS p FROM h)
         |SELECT threshold, tp, pp - tp AS fp, p - tp AS fn,
         |       tp * 1000000 // pp AS precision_ppm,
         |       tp * 1000000 // p AS recall_ppm,
         |       CAST(CASE WHEN tp = 0 THEN 0 ELSE
         |         (2 * (tp * 1000000 // pp) * (tp * 1000000 // p))
         |           // ((tp * 1000000 // pp) + (tp * 1000000 // p))
         |       END AS BIGINT) AS f1_ppm
         |FROM c CROSS JOIN ptot ORDER BY threshold""".stripMargin,
    "q140_gate_kappa" -> {
      val gateNames = Seq("len_ok", "word_len_ok", "alpha_ok", "stop_ok", "rep_ok")
      val pairSelects = (for {
        i <- gateNames.indices; j <- i + 1 until gateNames.length
      } yield {
        val (a, b) = (gateNames(i), gateNames(j))
        s"""SELECT '$a' AS gate_a, '$b' AS gate_b,
           |  CAST(count(CASE WHEN $a = 0 AND $b = 0 THEN 1 END) AS BIGINT) AS n00,
           |  CAST(count(CASE WHEN $a = 0 AND $b = 1 THEN 1 END) AS BIGINT) AS n01,
           |  CAST(count(CASE WHEN $a = 1 AND $b = 0 THEN 1 END) AS BIGINT) AS n10,
           |  CAST(count(CASE WHEN $a = 1 AND $b = 1 THEN 1 END) AS BIGINT) AS n11
           |FROM f""".stripMargin
      }).mkString("\nUNION ALL\n")
      s"""WITH toks AS (SELECT $DTOKS AS tk, $DNTOKS AS nt FROM documents),
         |sh AS (SELECT tk,
         |        CASE WHEN len(nt) < 3 THEN []::VARCHAR[]
         |             ELSE list_transform(range(1, len(nt) - 1), i -> array_to_string(nt[i:i+2], ' ')) END AS s
         |       FROM toks),
         |f AS (SELECT
         |        CASE WHEN len(tk) >= 30 THEN 1 ELSE 0 END AS len_ok,
         |        CASE WHEN list_sum(list_transform(tk, t -> len(t))) * 1000 >= len(tk) * 3000
         |              AND list_sum(list_transform(tk, t -> len(t))) * 1000 <= len(tk) * 10000
         |             THEN 1 ELSE 0 END AS word_len_ok,
         |        CASE WHEN len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) * 5 >= len(tk) * 4
         |             THEN 1 ELSE 0 END AS alpha_ok,
         |        CASE WHEN len(list_filter(tk, t -> list_contains($DSTOP, t))) >= 2
         |             THEN 1 ELSE 0 END AS stop_ok,
         |        CASE WHEN (len(s) - len(list_distinct(s))) * 5 <= len(s)
         |             THEN 1 ELSE 0 END AS rep_ok
         |      FROM sh),
         |pairs AS ($pairSelects),
         |k AS (SELECT *, n00 + n01 + n10 + n11 AS n,
         |        CAST(n11 + n10 AS HUGEINT) * CAST(n11 + n01 AS HUGEINT)
         |          + CAST(n00 + n01 AS HUGEINT) * CAST(n00 + n10 AS HUGEINT) AS pe
         |      FROM pairs)
         |SELECT gate_a, gate_b, n00, n01, n10, n11,
         |       (n00 + n11) * 1000000 // n AS agree_ppm,
         |       CAST(CASE
         |         WHEN CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - pe = 0 THEN 0
         |         WHEN CAST(n AS HUGEINT) * CAST(n11 + n00 AS HUGEINT) - pe < 0 THEN
         |           -(((pe - CAST(n AS HUGEINT) * CAST(n11 + n00 AS HUGEINT)) * 1000000)
         |             // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - pe))
         |         ELSE ((CAST(n AS HUGEINT) * CAST(n11 + n00 AS HUGEINT) - pe) * 1000000)
         |             // (CAST(n AS HUGEINT) * CAST(n AS HUGEINT) - pe)
         |       END AS BIGINT) AS kappa_ppm
         |FROM k ORDER BY gate_a, gate_b""".stripMargin
    },
    "q143_native_topk" ->
      """SELECT lang, source, doc_id, n_chars FROM documents
        |QUALIFY row_number() OVER (PARTITION BY lang, source
        |                           ORDER BY n_chars DESC, doc_id) <= 3
        |ORDER BY lang, source, n_chars DESC, doc_id""".stripMargin,
    "q145_vocab_drift" ->
      s"""WITH toks AS (SELECT source, unnest($DNTOKS) AS token FROM documents),
         |st AS (SELECT source, token, CAST(count(*) AS BIGINT) AS o
         |       FROM toks GROUP BY 1, 2),
         |tk AS (SELECT token, CAST(sum(o) AS BIGINT) AS rt FROM st GROUP BY 1),
         |top AS (SELECT token, rt FROM tk ORDER BY rt DESC, token LIMIT 30),
         |src AS (SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM st GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM src)
         |SELECT src.source, top.token,
         |       coalesce(st.o, 0) AS obs_count,
         |       (coalesce(st.o, 0) * 1000000) // ct AS source_share_ppm,
         |       (rt * 1000000) // n AS corpus_share_ppm,
         |       (coalesce(st.o, 0) * 1000000) // ct - (rt * 1000000) // n AS drift_ppm
         |FROM src CROSS JOIN top
         |LEFT JOIN st ON st.source = src.source AND st.token = top.token
         |CROSS JOIN tot
         |ORDER BY src.source, top.token""".stripMargin,
    "q137_lang_confusion" -> {
      val en = langScore(Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for", "on", "with", "as"))
      val es = langScore(Seq("el", "la", "de", "que", "y", "en", "un", "los", "por", "con"))
      val fr = langScore(Seq("le", "la", "les", "de", "et", "un", "une", "des", "est", "pour"))
      val de = langScore(Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "ein", "nicht"))
      s"""WITH s AS (SELECT lang, $en AS s_en, $es AS s_es, $fr AS s_fr, $de AS s_de FROM documents),
         |b AS (SELECT *, greatest(s_en, s_es, s_fr, s_de) AS best FROM s),
         |p AS (SELECT lang,
         |        CASE WHEN best > 0 AND s_en = best THEN 'en'
         |             WHEN best > 0 AND s_es = best THEN 'es'
         |             WHEN best > 0 AND s_fr = best THEN 'fr'
         |             WHEN best > 0 AND s_de = best THEN 'de'
         |             ELSE 'und' END AS lang_pred
         |      FROM b),
         |m AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |      FROM p GROUP BY 1, 2)
         |SELECT lang, lang_pred, n_docs,
         |       CAST(n_docs * 1000000 // sum(n_docs) OVER (PARTITION BY lang) AS BIGINT) AS row_ppm
         |FROM m ORDER BY lang, lang_pred""".stripMargin
    },
    "q133_signal_covariance" ->
      s"""WITH toks AS (SELECT lang, n_chars, $DTOKS AS tk, $DNTOKS AS nt FROM documents),
         |sh AS (SELECT lang, n_chars, tk,
         |        CASE WHEN len(nt) < 3 THEN []::VARCHAR[]
         |             ELSE list_transform(range(1, len(nt) - 1), i -> array_to_string(nt[i:i+2], ' ')) END AS s
         |       FROM toks),
         |f AS (SELECT lang, n_chars,
         |        (CASE WHEN len(tk) >= 30 THEN 1 ELSE 0 END)
         |        * (CASE WHEN list_sum(list_transform(tk, t -> len(t))) * 1000 >= len(tk) * 3000
         |                 AND list_sum(list_transform(tk, t -> len(t))) * 1000 <= len(tk) * 10000
         |                THEN 1 ELSE 0 END)
         |        * (CASE WHEN len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) * 5 >= len(tk) * 4
         |                THEN 1 ELSE 0 END)
         |        * (CASE WHEN len(list_filter(tk, t -> list_contains($DSTOP, t))) >= 2
         |                THEN 1 ELSE 0 END)
         |        * (CASE WHEN (len(s) - len(list_distinct(s))) * 5 <= len(s)
         |                THEN 1 ELSE 0 END) AS y
         |      FROM sh),
         |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(n_chars) AS HUGEINT) AS sum_chars,
         |        CAST(sum(y) AS BIGINT) AS n_pass,
         |        CAST(sum(n_chars * y) AS HUGEINT) AS sum_xy
         |      FROM f GROUP BY lang)
         |SELECT lang, n_docs, n_pass,
         |       CAST(CAST(n_docs AS HUGEINT) * sum_xy
         |            - sum_chars * CAST(n_pass AS HUGEINT) AS BIGINT) AS cov_scaled
         |FROM a ORDER BY lang""".stripMargin,
    "q132_cross_source_dups" ->
      s"""WITH pairs AS (SELECT * FROM ($MinhashPairsBody) pp),
         |lab AS (SELECT least(a.source, b.source) AS source_lo,
         |               greatest(a.source, b.source) AS source_hi
         |        FROM pairs p
         |        JOIN documents a ON p.id_a = a.doc_id
         |        JOIN documents b ON p.id_b = b.doc_id)
         |SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(CASE WHEN source_lo = source_hi THEN 1 ELSE 0 END AS INT) AS intra_source
         |FROM lab GROUP BY source_lo, source_hi
         |ORDER BY source_lo, source_hi""".stripMargin,
    "q130_pack_fill" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars, shard,
        |         CAST(floor((SUM(n_chars) OVER win - n_chars) / 4000.0) AS BIGINT) AS pack_bin
        |  FROM s WINDOW win AS (PARTITION BY shard ORDER BY doc_id)),
        |bins AS (SELECT shard, pack_bin, CAST(sum(n_chars) AS BIGINT) AS bin_chars,
        |           CAST(count(*) AS BIGINT) AS n_docs
        |         FROM b GROUP BY shard, pack_bin)
        |SELECT CAST(least((bin_chars * 10) // 4000, 12) AS BIGINT) AS fill_bucket,
        |       CAST(count(*) AS BIGINT) AS n_bins, CAST(sum(n_docs) AS BIGINT) AS n_docs,
        |       CAST(min(bin_chars) AS BIGINT) AS min_chars,
        |       CAST(max(bin_chars) AS BIGINT) AS max_chars
        |FROM bins GROUP BY 1 ORDER BY fill_bucket""".stripMargin,
    "q129_filter_ablation" ->
      s"""WITH toks AS (SELECT n_chars, $DTOKS AS tk, $DNTOKS AS nt FROM documents),
         |sh AS (SELECT n_chars, tk,
         |        CASE WHEN len(nt) < 3 THEN []::VARCHAR[]
         |             ELSE list_transform(range(1, len(nt) - 1), i -> array_to_string(nt[i:i+2], ' ')) END AS s
         |       FROM toks),
         |f AS (SELECT n_chars,
         |        CASE WHEN len(tk) >= 30 THEN 1 ELSE 0 END AS len_ok,
         |        CASE WHEN list_sum(list_transform(tk, t -> len(t))) * 1000 >= len(tk) * 3000
         |              AND list_sum(list_transform(tk, t -> len(t))) * 1000 <= len(tk) * 10000
         |             THEN 1 ELSE 0 END AS word_len_ok,
         |        CASE WHEN len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) * 5 >= len(tk) * 4
         |             THEN 1 ELSE 0 END AS alpha_ok,
         |        CASE WHEN len(list_filter(tk, t -> list_contains($DSTOP, t))) >= 2
         |             THEN 1 ELSE 0 END AS stop_ok,
         |        CASE WHEN (len(s) - len(list_distinct(s))) * 5 <= len(s)
         |             THEN 1 ELSE 0 END AS rep_ok
         |      FROM sh)
         |SELECT CAST(len_ok AS INT) AS len_ok, CAST(word_len_ok AS INT) AS word_len_ok,
         |       CAST(alpha_ok AS INT) AS alpha_ok, CAST(stop_ok AS INT) AS stop_ok,
         |       CAST(rep_ok AS INT) AS rep_ok,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |       CAST(count(*) * 1000000 // (SELECT count(*) FROM documents) AS BIGINT) AS share_ppm
         |FROM f GROUP BY 1, 2, 3, 4, 5 ORDER BY 1, 2, 3, 4, 5""".stripMargin,
    "q127_dup_by_quality" ->
      s"""WITH RECURSIVE pairs AS ($MinhashPairsBody),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.id),
         |lab AS (SELECT id, min(lbl) AS cluster FROM reach GROUP BY id),
         |dup AS (SELECT id FROM lab WHERE id <> cluster),
         |b AS (SELECT lang, doc_id,
         |        ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
         |      FROM documents)
         |SELECT lang, CAST(bin AS BIGINT) AS bin, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN dup.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_neardups,
         |       CAST(sum(CASE WHEN dup.id IS NOT NULL THEN 1 ELSE 0 END) * 1000000
         |            // count(*) AS BIGINT) AS neardup_ppm
         |FROM b LEFT JOIN dup ON b.doc_id = dup.id
         |GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "q128_zipf_table" ->
      s"""WITH tok AS (SELECT lang, unnest($DNTOKS) AS token FROM documents),
         |c AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n_occurrences
         |      FROM tok GROUP BY lang, token)
         |SELECT lang, CAST(row_number() OVER w AS BIGINT) AS rank, token, n_occurrences
         |FROM c WINDOW w AS (PARTITION BY lang ORDER BY n_occurrences DESC, token)
         |QUALIFY row_number() OVER w <= 20
         |ORDER BY lang, rank""".stripMargin,
    "q123_lsh_recall" ->
      s"""WITH cand AS (SELECT * FROM ($MinhashPairsBody) c),
         |s AS (SELECT doc_id, lang, source,
         |        list_distinct(CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |             ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS sh
         |      FROM (SELECT doc_id, lang, source, $DNTOKS AS tk FROM documents)),
         |s2 AS (SELECT * FROM s WHERE len(sh) > 0),
         |sz AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS bn
         |       FROM s2 GROUP BY 1, 2),
         |ss AS (SELECT s2.* FROM s2 JOIN sz
         |         ON s2.lang IS NOT DISTINCT FROM sz.lang
         |        AND s2.source IS NOT DISTINCT FROM sz.source
         |       WHERE bn <= 2048
         |          OR (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000) * bn < 2048 * 1000000),
         |t AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |        CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
         |        CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
         |      FROM ss a JOIN ss b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id),
         |tb AS (SELECT id_a, id_b, (inter * 20) // uni AS bucket FROM t WHERE inter > 0),
         |j AS (SELECT tb.bucket, CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS caught
         |      FROM tb LEFT JOIN cand c ON tb.id_a = c.id_a AND tb.id_b = c.id_b)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS n_true_pairs,
         |       CAST(sum(caught) AS BIGINT) AS n_caught,
         |       CAST(sum(caught) * 1000000 // count(*) AS BIGINT) AS caught_ppm
         |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q117_group_topk" ->
      """SELECT lang, CAST(row_number() OVER w AS BIGINT) AS rank, doc_id, n_chars
        |FROM documents
        |WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id)
        |QUALIFY row_number() OVER w <= 5
        |ORDER BY lang, rank""".stripMargin,
    "q119_packed_layout" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_chars, shard,
        |         CAST(floor((SUM(n_chars) OVER win - n_chars) / 4000.0) AS BIGINT) AS pack_bin
        |  FROM s WINDOW win AS (PARTITION BY shard ORDER BY doc_id))
        |SELECT shard, pack_bin, doc_id,
        |       CAST(row_number() OVER w2 AS BIGINT) AS seq_pos,
        |       CAST(sum(n_chars) OVER w2 - n_chars AS BIGINT) AS start_offset
        |FROM b WINDOW w2 AS (PARTITION BY shard, pack_bin ORDER BY doc_id)
        |ORDER BY shard, pack_bin, seq_pos""".stripMargin,
    // the incremental merge must be indistinguishable from the full
    // recompute — so its oracle IS the full recompute,
    "q104_weighted_sample" ->
      s"""WITH pri AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824 AS DOUBLE)
         |           / CAST(n_chars AS DOUBLE) AS p
         |  FROM documents WHERE n_chars > 0),
         |r AS (SELECT doc_id, lang, n_chars,
         |        row_number() OVER (PARTITION BY lang ORDER BY p, doc_id) AS samp_rank
         |      FROM pri)
         |SELECT doc_id, lang, n_chars, CAST(samp_rank AS INT) AS samp_rank
         |FROM r WHERE samp_rank <= 50 ORDER BY lang, samp_rank""".stripMargin,
    "q105_epoch_plan" ->
      s"""WITH avail AS (
         |  SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs,
         |         CAST(sum(len($DTOKS)) AS BIGINT) AS avail_tokens
         |  FROM documents GROUP BY source),
         |w AS (SELECT *, CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE))) AS BIGINT) AS w
         |      FROM avail),
         |s AS (SELECT *, CAST(sum(w) OVER () AS BIGINT) AS wsum FROM w),
         |fin AS (SELECT stratum, n_docs, avail_tokens,
         |          (1000000 * w) // wsum AS target_tokens FROM s)
         |SELECT stratum, n_docs, avail_tokens,
         |       CAST(target_tokens AS BIGINT) AS target_tokens,
         |       CAST((1000 * target_tokens + avail_tokens - 1) // avail_tokens AS BIGINT) AS epochs_milli
         |FROM fin ORDER BY stratum""".stripMargin,
    "q106_epoch_shuffle" ->
      """WITH e AS (SELECT doc_id, unnest([1, 2]) AS epoch FROM documents),
        |h AS (SELECT doc_id, epoch,
        |        ('0x' || substr(md5(CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1073741824 AS hh
        |      FROM e)
        |SELECT doc_id, CAST(epoch AS INT) AS epoch,
        |       CAST(row_number() OVER (PARTITION BY epoch ORDER BY hh, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY epoch, pos""".stripMargin,
    "q86_cdc_chunks" ->
      s"""WITH nt AS (SELECT doc_id, $DNORM AS n FROM documents),
         |wins AS (SELECT doc_id, n, unnest(range(1, greatest(len(n) - 6, 1))) AS i FROM nt),
         |cuts AS (SELECT doc_id, n, i AS cut FROM wins
         |         WHERE ('0x' || substr(md5(n[i:i+7]), 1, 8))::BIGINT % 64 = 0
         |         UNION
         |         SELECT doc_id, n, len(n) AS cut FROM nt),
         |chunks AS (SELECT doc_id,
         |             md5(n[lag(cut, 1, 0) OVER (PARTITION BY doc_id ORDER BY cut) + 1 : cut]) AS h,
         |             cut - lag(cut, 1, 0) OVER (PARTITION BY doc_id ORDER BY cut) AS clen
         |           FROM cuts),
         |stats AS (SELECT doc_id, count(*) AS n_chunks,
         |            CAST(sum(clen) AS BIGINT) AS total_chars FROM chunks GROUP BY doc_id),
         |dh AS (SELECT DISTINCT doc_id, h FROM chunks),
         |shared AS (SELECT doc_id,
         |             CAST(sum(CASE WHEN hdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |           FROM (SELECT doc_id, count(*) OVER (PARTITION BY h) AS hdf FROM dh)
         |           GROUP BY doc_id)
         |SELECT doc_id, n_chunks, total_chars, n_shared
         |FROM stats JOIN shared USING (doc_id) ORDER BY doc_id""".stripMargin,
    "q84_quality_deciles" ->
      """WITH b AS (SELECT lang, n_chars,
        |            ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS bin
        |           FROM documents)
        |SELECT lang, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "q147_kmv_overlap" ->
      s"""WITH toks AS (SELECT source, $DNTOKS AS tk FROM documents),
         |sh AS (SELECT source, unnest(CASE WHEN len(tk) < 3 THEN []::VARCHAR[]
         |         ELSE list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' ')) END) AS s
         |       FROM toks),
         |hh AS (SELECT DISTINCT source, ('0x' || substr(md5(s), 1, 12))::BIGINT AS h FROM sh),
         |rk AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS r FROM hh),
         |sk AS (SELECT source, list_sort(list(h)) AS hs, count(*) AS n FROM rk WHERE r <= 64 GROUP BY source),
         |p AS (SELECT a.source AS src_a, b.source AS src_b, a.hs AS ha, b.hs AS hb, a.n AS na, b.n AS nb
         |      FROM sk a JOIN sk b ON a.source < b.source),
         |u AS (SELECT *, (list_sort(list_distinct(ha || hb)))[1:64] AS us FROM p),
         |c AS (SELECT src_a, src_b, na, nb, ha, hb, us, len(us) AS m,
         |        len(list_intersect(list_intersect(us, ha), hb)) AS rho FROM u),
         |c2 AS (SELECT *, CASE WHEN m < 64 THEN m ELSE 17732923532771328 // greatest(us[64], 1) END AS eu FROM c)
         |SELECT src_a, src_b, CAST(m AS BIGINT) AS m, CAST(rho AS BIGINT) AS rho,
         |  CAST(CASE WHEN na < 64 THEN na ELSE 17732923532771328 // greatest(ha[64], 1) END AS BIGINT) AS est_a,
         |  CAST(CASE WHEN nb < 64 THEN nb ELSE 17732923532771328 // greatest(hb[64], 1) END AS BIGINT) AS est_b,
         |  CAST(eu AS BIGINT) AS est_union,
         |  CAST((rho * eu) // m AS BIGINT) AS est_inter,
         |  CAST((rho * 1000000) // m AS BIGINT) AS jaccard_ppm
         |FROM c2 ORDER BY src_a, src_b""".stripMargin,
    "q148_halfsample_ci" ->
      """WITH h AS (SELECT source, n_chars,
        |             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS h32
        |           FROM documents),
        |r AS (SELECT source, n_chars, unnest(range(0, 32)) AS rep, h32 FROM h),
        |m AS (SELECT source, rep,
        |        (1000 * CAST(sum(n_chars) AS BIGINT)) // count(*) AS rep_mean
        |      FROM r WHERE (h32 // (1::BIGINT << rep)) % 2 = 1 GROUP BY source, rep),
        |f AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |        (1000 * CAST(sum(n_chars) AS BIGINT)) // count(*) AS mean_milli
        |      FROM documents GROUP BY source)
        |SELECT f.source, f.n_docs, CAST(f.mean_milli AS BIGINT) AS mean_milli,
        |       CAST(count(*) AS BIGINT) AS n_reps,
        |       CAST(min(m.rep_mean) AS BIGINT) AS lo_milli,
        |       CAST(max(m.rep_mean) AS BIGINT) AS hi_milli,
        |       CAST(max(m.rep_mean) - min(m.rep_mean) AS BIGINT) AS spread_milli
        |FROM f JOIN m ON f.source = m.source
        |GROUP BY f.source, f.n_docs, f.mean_milli ORDER BY f.source""".stripMargin,
    "q151_bpe_pairs" ->
      s"""WITH wrd AS (SELECT unnest($DNTOKS) AS w FROM documents),
         |v AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM wrd GROUP BY w),
         |v2 AS (SELECT * FROM v WHERE len(w) >= 2),
         |p AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i:i+1])) AS pair, wc FROM v2),
         |g AS (SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occurrences FROM p GROUP BY pair),
         |t AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS tot FROM g)
         |SELECT pair, n_occurrences,
         |       CAST(n_occurrences * 1000000 // (SELECT tot FROM t) AS BIGINT) AS share_ppm
         |FROM g ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin,
    "q154_group_split" -> {
      def bkt(e: String) = s"('0x' || substr(md5(CAST($e AS VARCHAR)), 1, 8))::BIGINT % 100"
      def sp(e: String) =
        s"CASE WHEN ${bkt(e)} < 80 THEN 'train' WHEN ${bkt(e)} < 90 THEN 'val' ELSE 'test' END"
      s"""WITH pairs AS ($MinhashPairsBody),
         |s AS (SELECT doc_id, source FROM documents),
         |lab AS (SELECT ${sp("p.id_a")} AS ia, ${sp("p.id_b")} AS ib,
         |               ${sp("sa.source")} AS ga, ${sp("sb.source")} AS gb
         |        FROM pairs p JOIN s sa ON p.id_a = sa.doc_id
         |                     JOIN s sb ON p.id_b = sb.doc_id),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |        CAST(coalesce(sum(CASE WHEN ia <> ib THEN 1 ELSE 0 END), 0) AS BIGINT) AS ics,
         |        CAST(coalesce(sum(CASE WHEN (ia = 'train' AND ib = 'test') OR (ia = 'test' AND ib = 'train') THEN 1 ELSE 0 END), 0) AS BIGINT) AS itts,
         |        CAST(coalesce(sum(CASE WHEN ga <> gb THEN 1 ELSE 0 END), 0) AS BIGINT) AS gcs,
         |        CAST(coalesce(sum(CASE WHEN (ga = 'train' AND gb = 'test') OR (ga = 'test' AND gb = 'train') THEN 1 ELSE 0 END), 0) AS BIGINT) AS gtts
         |      FROM lab)
         |SELECT 'group_hash' AS split_mode, n AS n_pairs, gcs AS n_cross_split, gtts AS n_train_test FROM a
         |UNION ALL
         |SELECT 'id_hash', n, ics, itts FROM a
         |ORDER BY split_mode""".stripMargin
    },
    "q156_curriculum_budget" ->
      s"""WITH nt AS (SELECT doc_id, $DNORM AS n FROM documents),
         |g AS (SELECT doc_id, unnest(list_transform(range(1, len(n)), i -> n[i:i+1])) AS bigram FROM nt),
         |m AS (SELECT bigram, count(*) AS cnt FROM g GROUP BY bigram),
         |p AS (SELECT substr(bigram, 1, 1) AS c1, CAST(sum(cnt) AS BIGINT) AS prefix_cnt FROM m GROUP BY 1),
         |sc AS (SELECT doc_id, count(*) AS nb,
         |         CAST(sum(CAST(floor(1000000 * cnt / prefix_cnt) AS BIGINT)) AS BIGINT) AS ls
         |       FROM g JOIN m USING (bigram) JOIN p ON substr(g.bigram, 1, 1) = p.c1
         |       GROUP BY doc_id),
         |base AS (SELECT d.doc_id, d.lang, CAST(len($DNTOKS) AS BIGINT) AS tok,
         |           ls // nb AS mean_micro
         |         FROM documents d JOIN sc ON d.doc_id = sc.doc_id),
         |b AS (SELECT CAST(sum(tok) AS BIGINT) // 2 AS budget FROM base),
         |o AS (SELECT *, CAST(sum(tok) OVER (ORDER BY mean_micro DESC, doc_id
         |                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM base),
         |sel AS (SELECT o.* FROM o, b WHERE cum <= budget)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
         |FROM sel GROUP BY lang ORDER BY lang""".stripMargin,
    "q161_dup_triangles" ->
      s"""WITH pairs AS ($MinhashPairsBody),
         |e AS (SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
         |      FROM pairs WHERE id_a <> id_b),
         |deg AS (SELECT x, CAST(count(*) AS BIGINT) AS d
         |        FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x),
         |wd AS (SELECT e.u, e.v, du.d AS du, dv.d AS dv
         |       FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x),
         |o AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS s,
         |             CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS t FROM wd),
         |w AS (SELECT e1.t AS w1, e2.t AS w2 FROM o e1 JOIN o e2
         |      ON e1.s = e2.s AND e1.t < e2.t),
         |ek AS (SELECT least(s, t) AS ka, greatest(s, t) AS kb FROM o),
         |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |        FROM w JOIN ek ON least(w.w1, w.w2) = ek.ka
         |                      AND greatest(w.w1, w.w2) = ek.kb),
         |c AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         |vv AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices,
         |         CAST(coalesce(sum((d * (d - 1)) // 2), 0) AS BIGINT) AS n_wedges FROM deg)
         |SELECT n_vertices, n_edges, n_wedges, n_triangles,
         |  CAST(CASE WHEN n_wedges = 0 THEN 0
         |            ELSE (3 * n_triangles * 1000000) // n_wedges END AS BIGINT) AS clustering_ppm
         |FROM vv, c, tri""".stripMargin,
    "q167_span_corruption" ->
      s"""WITH tk AS (SELECT doc_id, lang, $DNTOKS AS tk FROM documents),
         |p AS (SELECT doc_id, lang, i - 1 AS pos,
         |        ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT % 1000 < 150 AS masked
         |      FROM tk, unnest(range(1, len(tk) + 1)) AS r(i)),
         |s AS (SELECT *, coalesce(lag(masked) OVER (PARTITION BY doc_id ORDER BY pos), false) AS prev FROM p)
         |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_masked,
         |  CAST(sum(CASE WHEN masked AND NOT prev THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS mask_ppm,
         |  CAST(CASE WHEN sum(CASE WHEN masked AND NOT prev THEN 1 ELSE 0 END) = 0 THEN 0
         |       ELSE sum(CASE WHEN masked THEN 1 ELSE 0 END) * 1000 // sum(CASE WHEN masked AND NOT prev THEN 1 ELSE 0 END)
         |  END AS BIGINT) AS mean_span_milli
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin,
    "q168_vocab_gini" ->
      s"""WITH wrd AS (SELECT source, unnest($DNTOKS) AS w FROM documents),
         |v AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c FROM wrd GROUP BY 1, 2),
         |tg AS (SELECT source, c, CAST(count(*) AS BIGINT) AS k FROM v GROUP BY 1, 2),
         |rk AS (SELECT *, CAST(coalesce(sum(k) OVER (PARTITION BY source ORDER BY c) - k, 0) AS BIGINT) AS r0 FROM tg),
         |g AS (SELECT source,
         |        CAST(sum(k) AS BIGINT) AS n_tokens,
         |        sum(CAST(c AS HUGEINT) * k) AS s_occ,
         |        sum(CAST(c AS HUGEINT) * (CAST(k AS HUGEINT) * r0 + (CAST(k AS HUGEINT) * (k + 1)) // 2)) AS rix
         |      FROM rk GROUP BY source)
         |SELECT source, n_tokens, CAST(s_occ AS BIGINT) AS total_occurrences,
         |  CAST((2 * rix - (CAST(n_tokens AS HUGEINT) + 1) * s_occ) * 1000000
         |       // (CAST(n_tokens AS HUGEINT) * s_occ) AS BIGINT) AS gini_ppm
         |FROM g ORDER BY source""".stripMargin,
    "q186_dup_core" -> {
      // fixed 8-round peel per k, unrolled (the q101/q181 unrolled-CTE
      // pattern): peeling is monotone so rounds past the fixpoint are
      // no-ops, matching the Scala side's early exit bit-for-bit
      // AS MATERIALIZED everywhere: DuckDB inlines plain CTEs, so each of
      // the 16 peel stages would re-derive the whole minhash pipeline
      // (and blow the open-file limit re-scanning the parquet per stage)
      def peel(k: Int): String = (1 to 8).map { r =>
        val prev = if (r == 1) "e0" else s"k${k}_${r - 1}"
        s"""k${k}_$r AS MATERIALIZED (SELECT a, b FROM $prev WHERE
           |  a IN (SELECT id FROM (SELECT a AS id FROM $prev UNION ALL SELECT b AS id FROM $prev) t
           |        GROUP BY id HAVING count(*) >= $k)
           |  AND b IN (SELECT id FROM (SELECT a AS id FROM $prev UNION ALL SELECT b AS id FROM $prev) t
           |        GROUP BY id HAVING count(*) >= $k))""".stripMargin
      }.mkString(",\n")
      s"""WITH pairs AS MATERIALIZED ($MinhashPairsBody),
         |e0 AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
         |       FROM pairs WHERE id_a <> id_b),
         |${peel(2)},
         |${peel(3)}
         |SELECT CAST(2 AS BIGINT) AS k,
         |  (SELECT CAST(count(DISTINCT id) AS BIGINT)
         |   FROM (SELECT a AS id FROM k2_8 UNION ALL SELECT b FROM k2_8) t) AS n_core_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM k2_8) AS n_core_edges
         |UNION ALL
         |SELECT CAST(3 AS BIGINT),
         |  (SELECT CAST(count(DISTINCT id) AS BIGINT)
         |   FROM (SELECT a AS id FROM k3_8 UNION ALL SELECT b FROM k3_8) t),
         |  (SELECT CAST(count(*) AS BIGINT) FROM k3_8)
         |ORDER BY k""".stripMargin
    },
    "q231_ranksum_drift" ->
      """WITH d AS (SELECT source, n_chars AS v FROM documents),
        |cv AS (SELECT v, CAST(count(*) AS BIGINT) AS ck FROM d GROUP BY 1),
        |cum AS (SELECT v, ck, sum(ck) OVER (ORDER BY v) AS c FROM cv),
        |sv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS k
        |       FROM d GROUP BY 1, 2),
        |r AS (SELECT source, sum(k * (2 * c - ck + 1)) AS r2
        |      FROM sv JOIN cum USING (v) GROUP BY 1),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM d GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM d)
        |SELECT source, ns AS n_docs,
        |  CAST(r2 - ns * (ns + 1) AS BIGINT) AS u2,
        |  CAST((r2 - ns * (ns + 1)) * 1000000
        |       // (2 * ns * greatest(nn - ns, 1)) AS BIGINT) AS auc_ppm
        |FROM r JOIN n USING (source) CROSS JOIN t
        |ORDER BY source""".stripMargin,
    "q201_ks_drift" ->
      """WITH d AS (SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS cn FROM d),
        |cv AS (SELECT DISTINCT v FROM d),
        |sn AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |g AS (SELECT sn.source, cv.v, sn.n FROM cv CROSS JOIN sn),
        |f AS (SELECT g.source, g.v, g.n,
        |        (SELECT CAST(count(*) AS BIGINT) FROM d WHERE d.v <= g.v) AS ccount,
        |        (SELECT CAST(count(*) AS BIGINT) FROM d
        |         WHERE d.source = g.source AND d.v <= g.v) AS scount
        |      FROM g),
        |dist AS (SELECT source, v, n,
        |           abs((ccount * 1000000 // (SELECT cn FROM cn))
        |               - (scount * 1000000 // n)) AS dist
        |         FROM f),
        |mx AS (SELECT source, max(dist) AS mxd FROM dist GROUP BY 1)
        |SELECT dist.source AS source, CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(max(dist) AS BIGINT) AS ks_ppm, CAST(min(v) AS BIGINT) AS at_length
        |FROM dist JOIN mx ON dist.source = mx.source AND dist.dist = mx.mxd
        |GROUP BY 1 ORDER BY source""".stripMargin,
    "q199_release_merge" -> {
      val eligible = s"len($DNTOKS) >= 3"
      val midSub = s"(SELECT (min(doc_id) + max(doc_id) + 1) // 2 FROM documents WHERE $eligible)"
      val bodyOld = MinhashPairsBody.replace("FROM documents",
        s"FROM documents WHERE doc_id < $midSub")
      s"""WITH RECURSIVE pairs_old AS MATERIALIZED ($bodyOld),
         |pairs_all AS MATERIALIZED ($MinhashPairsBody),
         |eo AS (SELECT id_a AS src, id_b AS dst FROM pairs_old
         |       UNION ALL SELECT id_b, id_a FROM pairs_old),
         |ro(id, lbl) AS (
         |  SELECT src, src FROM eo
         |  UNION
         |  SELECT e.src, r.lbl FROM eo e JOIN ro r ON e.dst = r.id),
         |lo AS (SELECT id, min(lbl) AS c_before FROM ro GROUP BY id),
         |ea AS (SELECT id_a AS src, id_b AS dst FROM pairs_all
         |       UNION ALL SELECT id_b, id_a FROM pairs_all),
         |ra(id, lbl) AS (
         |  SELECT src, src FROM ea
         |  UNION
         |  SELECT e.src, r.lbl FROM ea e JOIN ra r ON e.dst = r.id),
         |la AS (SELECT id, min(lbl) AS c_after FROM ra GROUP BY id),
         |j AS (SELECT lo.id, c_before, c_after FROM lo JOIN la ON lo.id = la.id)
         |SELECT CAST(count(*) AS BIGINT) AS n_old_clustered_docs,
         |  CAST(count(DISTINCT c_before) AS BIGINT) AS n_clusters_before,
         |  CAST(count(DISTINCT c_after) AS BIGINT) AS n_clusters_after,
         |  CAST(count(DISTINCT c_before) - count(DISTINCT c_after) AS BIGINT) AS n_merged
         |FROM j""".stripMargin
    },
    "q196_ppjoin_exact" ->
      """WITH s0 AS (SELECT doc_id,
        |             list_distinct(list_transform(
        |               generate_series(1, greatest(length(text) - 2, 0)),
        |               i -> substr(text, i, 3))) AS sh
        |           FROM documents
        |           WHERE text IS NOT NULL AND length(text) >= 3 AND doc_id % 8 = 0),
        |ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM s0),
        |s AS (SELECT s0.* FROM s0 CROSS JOIN ns
        |      WHERE ns <= 8192
        |         OR (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 1000000) * ns < 8192::BIGINT * 1000000)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.sh, b.sh)) * 20
        |        >= len(list_distinct(list_concat(a.sh, b.sh))) * 13
        |ORDER BY id_a, id_b""".stripMargin,
    "q193_mad_outliers" ->
      """WITH d AS (SELECT lang, CAST(n_chars AS BIGINT) AS v FROM documents),
        |n AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
        |c1 AS (SELECT lang, v, sum(count(*)) OVER (PARTITION BY lang ORDER BY v) AS cum
        |       FROM d GROUP BY lang, v),
        |med AS (SELECT c1.lang, CAST(min(v) AS BIGINT) AS med
        |        FROM c1 JOIN n ON c1.lang = n.lang
        |        WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |dev AS (SELECT d.lang, abs(v - med) AS a FROM d JOIN med ON d.lang = med.lang),
        |c2 AS (SELECT lang, a, sum(count(*)) OVER (PARTITION BY lang ORDER BY a) AS cum
        |       FROM dev GROUP BY lang, a),
        |mad AS (SELECT c2.lang, CAST(min(a) AS BIGINT) AS mad
        |        FROM c2 JOIN n ON c2.lang = n.lang
        |        WHERE cum >= (n + 1) // 2 GROUP BY 1),
        |o AS (SELECT dev.lang, CAST(count(*) AS BIGINT) AS n_outliers
        |      FROM dev JOIN mad ON dev.lang = mad.lang
        |      WHERE a > mad * 3 GROUP BY 1)
        |SELECT n.lang AS lang, n, med AS median_chars, mad AS mad_chars,
        |  coalesce(n_outliers, 0) AS n_outliers
        |FROM n JOIN med ON n.lang = med.lang JOIN mad ON n.lang = mad.lang
        |LEFT JOIN o ON n.lang = o.lang
        |ORDER BY n.lang""".stripMargin,
    "q192_grouping_sets" ->
      """SELECT coalesce(lang, 'ALL') AS lang, coalesce(source, 'ALL') AS source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(GROUPING(lang) AS BIGINT) AS g_lang,
        |  CAST(GROUPING(source) AS BIGINT) AS g_source
        |FROM documents
        |GROUP BY GROUPING SETS ((lang, source), (lang), ())
        |ORDER BY g_lang, g_source, lang, source""".stripMargin)
}
