package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all shuffle-shaped
  * for 100 TB inputs:
  *
  *  - exact: one hash aggregate on a 128-bit fingerprint (shuffle width =
  *    fingerprint + id, never the document text);
  *  - MinHash+LSH: signature → band keys → explode → self-join on band key.
  *    The join key space is (band_id, band_hash) so candidate generation is
  *    an equi-join Catalyst can plan as a shuffled hash join; no O(n²) pair
  *    enumeration ever materializes;
  *  - SimHash: 64-bit signature, candidate pairs via banded key chunks too;
  *  - n-gram Jaccard: exact verification on candidate pairs only.
  */
object Dedup {

  /** Default LSH bucket-size cap. A bucket this large means the band key is
    * degenerate (boilerplate / near-empty docs): at 100 TB one mega-bucket
    * turns per-bucket pair expansion quadratic and dominates the whole job,
    * while its pairs are exactly the ones exact-dedup already catches more
    * cheaply. Dropped-bucket counts are observable via the "graft.lsh"
    * CollectMetrics node. Raise it (≥ corpus size) only when exact oracle
    * parity against an uncapped pair enumeration is required.
    */
  val DefaultMaxBucketSize: Int = 1000

  /** Exact dedup: keep the smallest id per normalized-text fingerprint.
    * Grouping by the md5/xxhash fingerprint instead of the raw text keeps the
    * shuffle narrow — the text column never moves.
    */
  def exactDuplicateGroups(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs
      .select(idCol.as("doc_id"), Text.fingerprint(textCol).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))

  /** Exact dedup with a QUALITY-aware survivor policy: one keeper per
    * normalized-text fingerprint — the row with the highest `quality`
    * (ties to the smallest id) — instead of [[exactDuplicateGroups]]'
    * min-id rule. This is the survivorship step of a real curation pass:
    * duplicate copies differ by extraction (truncation, boilerplate,
    * encoding damage) and the best copy should win, not the first-crawled
    * one. Same narrow shuffle discipline: only (id, 16-byte fingerprint,
    * quality metric) ever move — document text stays at the scan.
    */
  def bestQualityKeepers(docs: DataFrame, idCol: Column, textCol: Column,
                         quality: Column): DataFrame = {
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    docs.select(idCol.as("doc_id"), Text.fingerprint(textCol).as("fp"),
        quality.as("q"))
      .withColumn("__rk", row_number().over(
        byFp.orderBy(col("q").desc, col("doc_id"))))
      .withColumn("group_size", count(lit(1)).over(byFp))
      .filter(col("__rk") === 1)
      .select(col("fp"), col("doc_id").as("keep_id"),
        col("q").as("keep_quality"), col("group_size"))
  }

  /** Ids to drop under exact dedup (everything but the keeper per group). */
  def exactDropIds(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val withFp = docs.select(idCol.as("doc_id"), Text.fingerprint(textCol).as("fp"))
    val keep = withFp.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    withFp.join(keep, "fp").filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"), col("keep_id"))
  }

  /** One MinHash value: min over shingles of a seeded hash. The seeded-md5
    * string-min formulation is deterministic, engine-portable (DuckDB
    * computes the identical value → usable under the differential oracle),
    * and a valid MinHash family: each seed induces an independent
    * pseudo-random total order on shingles.
    * For pure-Spark throughput use [[minHash64]] (xxhash64, no hex strings).
    */
  def minHashMd5(shinglesCol: Column, seed: Int): Column =
    array_min(transform(shinglesCol, s => md5(concat(lit(s"$seed|"), s))))

  def minHash64(shinglesCol: Column, seed: Int): Column =
    array_min(transform(shinglesCol, s => xxhash64(lit(seed), s)))

  /** MinHash signature columns mh_0..mh_{n-1}, extracted from the
    * single-pass [[graft.plans.MinHashes]] expression (one traversal of the
    * shingle array computes every seeded hash).
    */
  def minHashSignature(shinglesCol: Column, numHashes: Int): Seq[Column] = {
    val sig = graft.plans.TextExpressions.min_hashes(shinglesCol, numHashes)
    (0 until numHashes).map(i => element_at(sig, i + 1).as(s"mh_$i"))
  }

  /** LSH banding: docs → (doc_id, band_id, band_key) with one row per band;
    * docs sharing any band key are near-duplicate candidates. Probability a
    * pair with Jaccard j collides ≈ 1-(1-j^rows)^bands.
    * Band key = md5 of the band's minhashes joined with "|" (matches the
    * composable/oracle form md5(mh_a || '|' || mh_b)).
    */
  def lshBands(docs: DataFrame, idCol: Column, textCol: Column,
               shingleK: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = graft.plans.TextExpressions
      .min_hashes(Text.shingles(textCol, shingleK), bands * rowsPerBand)
    val bandKeys = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        md5(array_join(slice(sig, b * rowsPerBand + 1, rowsPerBand), "|")).as("band_key"))
    }
    docs
      .select(idCol.as("doc_id"), explode(array(bandKeys: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_key"))
  }

  /** Candidate near-duplicate pairs from LSH: group by (band_id, band_key),
    * enumerate ordered pairs inside each bucket, distinct across bands.
    *
    * Grouping beats the naive self-join on band key: the expensive
    * signature pipeline (tokenize → shingle → N seeded hashes) is evaluated
    * exactly once per document, whereas a self-join re-derives it on both
    * join branches. One shuffle (on band keys, width = one hash + id);
    * per-bucket pair expansion is quadratic only in the bucket size, which
    * LSH keeps small by construction. `maxBucketSize` drops degenerate hot
    * buckets (boilerplate/empty docs) — at 100 TB a handful of mega-buckets
    * would otherwise dominate the whole job; dropping them loses only pairs
    * that exact-dedup already catches more cheaply.
    */
  def minHashCandidates(docs: DataFrame, idCol: Column, textCol: Column,
                        shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // r20: shingle+minhash is expression-bound per row — fan a small input
    // out to cores first (single-row-group files otherwise run the whole
    // signature pass as one task; see Tables.fanOutSmallInput).
    val b = lshBands(graft.sources.Tables.fanOutSmallInput(docs),
      idCol, textCol, shingleK, bands, rowsPerBand)
    val buckets = b
      .groupBy(col("band_id"), col("band_key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      // Free drop accounting (CollectMetrics — no extra job): readable from
      // QueryExecutionListener / StreamingQueryProgress as "graft.lsh".
      .observe("graft.lsh",
        count(when(size(col("ids")) > maxBucketSize, true)).as("dropped_buckets"),
        max(size(col("ids"))).as("max_bucket_size"))
      .filter(size(col("ids")).between(2, maxBucketSize))
    buckets
      .select(explode(flatten(
        transform(col("ids"), (x, i) =>
          transform(slice(col("ids"), i + lit(2), size(col("ids"))),
            y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard similarity between two shingle-array columns —
    * used to verify LSH candidates (candidate count is ~linear, so the exact
    * set math only ever runs on the small candidate set).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni.cast("double"))
  }

  /** Candidate pairs with their exact Jaccard similarity ≥ threshold:
    * MinHash/LSH to generate, exact verify to confirm. Joins the (small)
    * candidate pair list back to the docs twice to fetch shingle sets.
    */
  def nearDuplicatePairs(docs: DataFrame, idCol: Column, textCol: Column,
                         shingleK: Int = 3, bands: Int = 4, rowsPerBand: Int = 2,
                         threshold: Double = 0.7): DataFrame = {
    val cands = minHashCandidates(docs, idCol, textCol, shingleK, bands, rowsPerBand)
    val sh = docs.select(idCol.as("doc_id"), Text.shingles(textCol, shingleK).as("sh"))
    cands
      .join(sh.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Exact character-n-gram Jaccard over all pairs that share a blocking
    * key — the oracle-exact complement to [[nearDuplicatePairs]]: where LSH
    * candidates are probabilistic (xxhash-seeded, rows-only checkable),
    * blocked enumeration is deterministic plain SQL on any engine. Pair
    * expansion is quadratic ONLY in the block size, so the blocking columns
    * must be chosen to keep blocks small (at 100 TB: language × source ×
    * length-bucket, or a clustering prefix); for unbounded corpora the LSH
    * path is the scale path and this one verifies samples of it. One
    * equi-shuffle on the blocking key; shingle sets are sorted + deduped
    * ONCE per document at projection time so the per-pair work inside the
    * join is a single allocation-free merge scan
    * ([[graft.plans.SortedSetJaccard]]) — the builtin
    * `array_intersect`/`array_union` form builds two hash sets per *pair*
    * and dominates the whole job (5× on the q54 bench shape).
    */
  def blockedJaccardPairs(docs: DataFrame, idCol: Column, textCol: Column,
                          blockCols: Seq[Column], shingleK: Int = 3,
                          threshold: Double = 0.5): DataFrame = {
    val blockNames = blockCols.indices.map(i => s"blk_$i")
    val sortedSet = array_sort(array_distinct(Text.charShingles(textCol, shingleK)))
    val base = docs.filter(textCol.isNotNull).select(
      idCol.as("doc_id") +: sortedSet.as("sh") +:
        blockCols.zip(blockNames).map { case (c, n) => c.as(n) }: _*)
    val a = base.select(
      col("doc_id").as("id_a") +: col("sh").as("sh_a") +: blockNames.map(col): _*)
    val b = base.select(
      col("doc_id").as("id_b") +: col("sh").as("sh_b") +: blockNames.map(col): _*)
    a.join(b, blockNames).filter(col("id_a") < col("id_b"))
      .withColumn("jaccard", graft.plans.TextExpressions
        .sorted_set_jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Duplicate-cluster resolution: connected components over candidate
    * pairs by iterated label propagation — each id adopts the minimum label
    * among itself and its neighbors until fixpoint (≤ `maxIter` rounds,
    * each one join + aggregate). A label moves one hop per round, so the
    * fixpoint takes O(diameter) rounds plus one that changes nothing;
    * near-dup clusters are shallow. Hitting `maxIter` while labels still
    * change throws [[NotConvergedException]]. Returns (id, cluster) where
    * cluster = min id of the component; `cluster != id` rows are the drop
    * set. This is the step that turns pairwise candidates into one-keeper-
    * per-group semantics at scale without collecting edges to the driver.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10,
                          checkpointDir: Option[String] = None): DataFrame =
    connectedComponentsIterated(pairs, maxIter, checkpointDir)._1

  /** [[connectedComponents]] plus the number of label-propagation rounds
    * actually run — near-dup clusters are shallow, so convergence typically
    * lands well before `maxIter` and the count is the spec's early-exit
    * assertion.
    *
    * Checkpoint strategy: iterative label propagation MUST truncate lineage
    * each round (the plan otherwise doubles per iteration), but HOW matters
    * at scale. `localCheckpoint` stores blocks only on executors — fast, and
    * fine in local mode, but on a real cluster one lost executor makes the
    * truncated lineage unrecoverable and kills the whole job mid-iteration.
    * Passing `checkpointDir` switches every cut to a reliable
    * `checkpoint()` against that (HDFS/object-store) directory, which is the
    * cluster-mode configuration; `None` keeps the local-mode fast path.
    *
    * NOTE `setCheckpointDir` is SESSION-GLOBAL state: it is only called
    * when the context has no checkpoint dir or points elsewhere, so
    * same-dir concurrent callers don't race — but two concurrent callers
    * passing DIFFERENT dirs still contend (last set wins; both remain
    * correct, files just land in one dir). Per-iteration checkpoint files
    * are not cleaned up here; set
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` (as
    * [[graft.Bench]] does) to have the ContextCleaner remove them as the
    * checkpointed frames are GC'd, or clean the directory after the job.
    */
  def connectedComponentsIterated(pairs: DataFrame, maxIter: Int = 10,
                                  checkpointDir: Option[String] = None): (DataFrame, Int) = {
    // r20 materialization strategy: PARQUET WRITE + READ-BACK instead of
    // RDD checkpoint. Two measured costs of `checkpoint(eager = true)`
    // motivated the switch:
    //  1. a reliable checkpoint computes every round TWICE — the eager
    //     count materializes the lineage, then ReliableRDDCheckpointData
    //     re-runs the same lineage in a second job to write the files;
    //  2. the convergence probe was its own driver round-trip per round on
    //     top of that (and as `limit(1)` it scanned the converged round in
    //     up to 4 scale-up waves).
    // A parquet round-trip computes once, is exactly as
    // restart-/executor-loss-safe as a reliable checkpoint when
    // `checkpointDir` points at shared storage (the cluster conf), and —
    // because the write is a SQL action — an `observe()` on the frame
    // rides the SAME job and returns the changed-label count for free.
    // Per round: 3 jobs → 1. Files live under a per-run UUID dir; rounds
    // are deleted as they stop being referenced and the dir is registered
    // for delete-on-exit (the final labels table must outlive this call —
    // the returned frame lazily reads it, matching the old checkpoint's
    // GC-scoped lifetime).
    val seam = graft.ops.Materialize.seam(pairs.sparkSession, checkpointDir)
    def mat(df: DataFrame, step: String): DataFrame = seam.mat(df, step)
    // Materialize the edge list once: `pairs` is typically the output of the
    // whole LSH candidate pipeline, and every iteration references edges
    // twice — without this cut the shingle→minhash→band derivation would
    // re-run O(iterations) times.
    // (r20: an A/B measured pre-hash-partitioning edges/labels on their
    // join keys at the cut — a loop-invariant hoist — SLOWER at sf0.1
    // (2.2→3.1 s: the per-round joins broadcast anyway, so the init
    // repartitions bought nothing), falsified and reverted.)
    // The self-union deliberately re-runs the upstream pipeline in TWO
    // independent branches: they schedule in parallel, so the recompute
    // costs CPU but no wall. (r20 A/B: a single-pass explode-of-2-structs
    // variant serialized the derivation into one pipeline and measured
    // 2.4→3.1 s SLOWER — falsified and reverted.)
    val edges = mat(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))), "edges")
    // Round 1 is SPECIALIZED: under the identity seed (label(id) = id) the
    // generic step `least(label, min over neighbors of label(dst))`
    // simplifies to `least(src, min(dst))` — one aggregate over the
    // materialized edges, no label seed, no distinct, no joins. (The r20
    // profile showed the generic round-1 plan recomputing the seed
    // distinct on both sides of its update join.) Every id occurs as a
    // src because edges carry both directions, so the aggregate's key set
    // IS the id universe. Rounds ≥ 2 run the generic join form.
    var labels: DataFrame = null
    var i = 0
    var converged = false
    var changed = 0L
    while (i < maxIter && !converged) {
      // Carry the OLD label through so the convergence count is computable
      // on the materializing frame itself: `matCounted`'s observe
      // evaluates during the write job — no separate probe job per round.
      val stepped =
        if (i == 0)
          edges.groupBy(col("src")).agg(min(col("dst")).as("nmin"))
            .select(col("src").as("id"), col("src").as("__old"),
              least(col("src"), col("nmin")).as("cluster"))
        else {
          val neighborMin = edges
            .join(labels, edges("dst") === labels("id"))
            .groupBy(col("src").as("id2"))
            .agg(min(col("cluster")).as("nmin"))
          labels
            .join(neighborMin, labels("id") === col("id2"), "left_outer")
            .select(col("id"), col("cluster").as("__old"),
              least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
        }
      val (updated, moved) = seam.cutCounted(stepped,
        count(when(col("cluster") =!= col("__old"), lit(1))), s"round$i")
      labels = updated.select(col("id"), col("cluster"))
      changed = moved
      converged = changed == 0
      // Round i-1's files fed only round i's (now materialized) write —
      // free them as the loop advances instead of leaking every round.
      if (i > 0) seam.drop(s"round${i - 1}")
      i += 1
    }
    if (labels != null && !converged)
      throw new NotConvergedException("connectedComponents", i, changed)
    if (labels == null)
      // maxIter == 0: degenerate, but honor the contract with the seed.
      labels = edges.select(col("src").as("id")).distinct()
        .withColumn("cluster", col("id"))
    (labels.select(col("id"), col("cluster")), i)
  }

  /** Survivorship over near-dup CLUSTERS: given component labels
    * (id, cluster) from [[connectedComponents]] and a per-id quality
    * metric, keep the highest-quality member of each cluster (ties to the
    * smallest id) — the step a minhash-dedup pipeline runs AFTER
    * clustering, and the cluster-level twin of [[bestQualityKeepers]]'
    * per-fingerprint rule: near-duplicate copies differ by extraction
    * damage, and the best copy should represent the cluster, not the
    * arbitrary min-id one.
    *
    * Scale shape: the labels frame is already narrow (two ids); the
    * quality join is an equi-join on the high-cardinality id, and the
    * keeper window partitions by the cluster LABEL — also high-cardinality
    * (one partition per duplicate group). Only (id, cluster, quality)
    * ever shuffle.
    */
  def clusterQualityKeepers(labels: DataFrame, docs: DataFrame,
                            idCol: Column, quality: Column): DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
    labels.join(docs.select(idCol.as("id"), quality.as("q")), "id")
      .withColumn("__rk", row_number().over(
        byCluster.orderBy(col("q").desc, col("id"))))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .filter(col("__rk") === 1)
      .select(col("cluster"), col("id").as("keep_id"),
        col("q").as("keep_quality"), col("cluster_size"))
  }

  /** Benchmark decontamination: for each held-out document, how many
    * training documents share at least one word k-gram with it, and how many
    * distinct k-grams are shared. The unit is md5(gram) — fixed-width, so
    * the gram shuffle stays narrow no matter how long the grams are, and
    * engine-portable for the differential oracle. Per-document gram sets are
    * deduplicated BEFORE the join (array_distinct under the explode), so a
    * gram repeated inside one document can't multiply join rows. Scale
    * shape: two projections + one equi-shuffle on the gram hash + one
    * aggregate — no all-pairs anything.
    */
  /** (id, md5(word-k-gram)) rows, one per DISTINCT gram per document. */
  private def gramHashes(df: DataFrame, id: Column, text: Column, out: String,
                         k: Int): DataFrame =
    df.select(id.as(out),
        explode(array_distinct(Text.shingles(text, k))).as("g"))
      .select(col(out), md5(col("g")).as("gh"))

  def contamination(train: DataFrame, trainId: Column, trainText: Column,
                    test: DataFrame, testId: Column, testText: Column,
                    k: Int, maxGramDf: Int = 1000,
                    // observe() names must be unique within one query plan
                    // — callers composing several gram sizes (q109) pass
                    // distinct names
                    metricName: String = "graft.contamination"): DataFrame = {
    def grams(df: DataFrame, id: Column, text: Column, out: String): DataFrame =
      gramHashes(df, id, text, out, k)
    // Hot-gram cap: a boilerplate gram present in >maxGramDf train docs
    // contributes trainDf × testDf join rows while signaling nothing about
    // contamination — drop it, visibly (same no-silent-caps discipline as
    // the LSH bucket caps). df comes from a count over the gh window:
    // (train_id, gh) rows are distinct by construction, the window's gh
    // shuffle is the one the join needs anyway (co-partitioned sort-merge),
    // and the gram subtree is computed once — a groupBy+anti-join form
    // would re-run the explode over the train text a second time.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    val tr = grams(train, trainId, trainText, "train_id")
      .withColumn("df", count(lit(1)).over(w))
      .observe(metricName,
        count(when(col("df") > maxGramDf, 1)).as("hot_gram_rows_dropped"))
      .filter(col("df") <= maxGramDf)
      .drop("df")
    grams(test, testId, testText, "test_id")
      .join(tr, "gh")
      .groupBy(col("test_id"))
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        countDistinct(col("gh")).as("n_shared_grams"))
  }

  /** Per-document duplicated-span statistics: what fraction of a document's
    * word k-gram occurrences belong to grams that also appear in at least
    * one OTHER document. This is the scalable relaxation of exact-substring
    * dedup (a corpus-wide suffix array finds the exact duplicated spans;
    * hashed k-gram document frequency approximates them with one
    * equi-shuffle): threshold `dup_fraction` to drop boilerplate-heavy
    * documents, or feed the flagged grams to a span-removal pass.
    *
    * Scale shape: explode → (doc, gram-hash) pre-aggregate (map-side
    * combine collapses intra-doc repeats) → gram-df count over the gh
    * window (the shuffle the aggregate already produced, carrying md5
    * hashes, never text) → per-doc rollup. Intra-document repeats count
    * toward `n_grams` but NOT toward cross-document df — repetition inside
    * one document is q64's separate signal.
    */
  def duplicatedSpanStats(docs: DataFrame, idCol: Column, textCol: Column,
                          k: Int): DataFrame = {
    val perDocGram = docs
      .select(idCol.as("doc_id"), explode(Text.shingles(textCol, k)).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
      .groupBy(col("doc_id"), col("gh"))
      .agg(count(lit(1)).as("occ"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    perDocGram
      .withColumn("gram_docs", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_grams"),
        sum(when(col("gram_docs") > 1, col("occ")).otherwise(lit(0L))).as("n_dup_grams"))
      .withColumn("dup_fraction",
        col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** SimHash: 64-bit signature whose bits are the signs of per-bit weighted
    * sums over token hashes. Near-duplicates have small Hamming distance.
    * Evaluated by the native [[graft.plans.SimHash64]] expression — one pass
    * over the token array, each token hashed once.
    */
  def simHash64(textCol: Column): Column =
    graft.plans.TextExpressions.sim_hash64(Text.tokens(Text.normalized(textCol)))

  /** Composable-built-ins twin of [[simHash64]] (64 `aggregate` HOF folds —
    * interpreted and O(64×tokens) hash work, so the native expression is the
    * production path; this form exists as its differential check). Null
    * text → null signature, matching the native expression's null contract
    * (the bare fold would collapse null to 0 through `when().otherwise(0)`).
    */
  private[graft] def simHash64Composable(textCol: Column): Column = {
    val toks = Text.tokens(Text.normalized(textCol))
    val hashes = transform(toks, t => xxhash64(t))
    // For each bit b: sum over tokens of (+1 if bit set else -1); bit of the
    // signature = 1 when the sum is positive.
    val bits = (0 until 64).map { b =>
      val contrib = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      when(contrib > 0, lit(1L).cast("long") * lit(1L << b)).otherwise(lit(0L))
    }
    when(toks.isNotNull, bits.reduce(_ + _))
  }

  /** Engine-portable 32-bit SimHash (per-token hash = first 8 md5 hex chars
    * as unsigned int) — slower than [[simHash64]] but reproducible in plain
    * SQL on any engine, so it runs under the DuckDB differential oracle.
    */
  def simHash32Md5(textCol: Column): Column =
    graft.plans.TextExpressions.sim_hash32_md5(Text.tokens(Text.normalized(textCol)))

  /** Composable twin of [[simHash32Md5]] (its differential check). */
  private[graft] def simHash32Md5Composable(textCol: Column): Column = {
    val toks = Text.tokens(Text.normalized(textCol))
    val hashes = transform(toks, t => conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val bits = (0 until 32).map { b =>
      val contrib = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      when(contrib > 0, lit(1L << b)).otherwise(lit(0L))
    }
    when(toks.isNotNull, bits.reduce(_ + _))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup candidates: band the 64-bit signature into `bands`
    * chunks; docs sharing any chunk value are candidates (standard
    * Charikar-style blocking — guarantees recall for Hamming distance
    * < bands).
    */
  def simHashCandidates(docs: DataFrame, idCol: Column, textCol: Column,
                        bands: Int = 4, maxHamming: Int = 3,
                        maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    simHashCandidatesFromSigs(
      docs.select(idCol.as("doc_id"), simHash64(textCol).as("sig")),
      bits = 64, bands = bands, maxHamming = maxHamming,
      maxBucketSize = maxBucketSize)

  /** The banding + bucket-pair machinery over precomputed `(doc_id, sig)`
    * signatures of any width — the 64-bit fast path and the md5-portable
    * 32-bit oracle path share it verbatim.
    */
  def simHashCandidatesFromSigs(sigs: DataFrame, bits: Int, bands: Int,
                                maxHamming: Int,
                                maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(bits % bands == 0, s"bits $bits not divisible into $bands bands")
    val width = bits / bands
    val mask = (1L << width) - 1
    val banded = sigs.select(
      col("doc_id"), col("sig"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band_id"),
          shiftright(col("sig"), b * width).bitwiseAND(lit(mask)).as("chunk"))): _*)).as("band"))
      .select(col("doc_id"), col("sig"), col("band.band_id"), col("band.chunk"))
    // Same shape as minHashCandidates: group buckets and enumerate pairs
    // inside each — one shuffle, signatures derived once (a self-join would
    // re-run the signature pipeline on both branches), and the bucket cap
    // bounds per-bucket expansion.
    banded
      .groupBy(col("band_id"), col("chunk"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("sig")))).as("members"))
      .observe("graft.simhash_lsh",
        count(when(size(col("members")) > maxBucketSize, true)).as("dropped_buckets"),
        max(size(col("members"))).as("max_bucket_size"))
      .filter(size(col("members")).between(2, maxBucketSize))
      .select(explode(flatten(
        transform(col("members"), (x, i) =>
          transform(slice(col("members"), i + lit(2), size(col("members"))),
            y => struct(x.getField("doc_id").as("id_a"), y.getField("doc_id").as("id_b"),
              hamming64(x.getField("sig"), y.getField("sig")).as("hamming")))))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Ids of `train` documents sharing at least one word-k-gram with any
    * `test` document — the train-side drop set of a decontamination pass
    * ([[contamination]] reports the per-test-doc view; this is the verdict
    * a curation funnel acts on). The test side reduces to its distinct
    * gram hashes before the semi join, so the shuffle carries 16-byte
    * hashes + ids only.
    */
  def contaminatedIds(train: DataFrame, trainId: Column, trainText: Column,
                      test: DataFrame, testId: Column, testText: Column,
                      k: Int, maxGramDf: Int = 1000): DataFrame = {
    // Same hot-gram discipline as [[contamination]]: a boilerplate gram in
    // >maxGramDf train docs sends every one of those rows to a single gh
    // reducer while signaling nothing — drop it, visibly via observe().
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    val tr = gramHashes(train, trainId, trainText, "doc_id", k)
      .withColumn("df", count(lit(1)).over(w))
      .observe("graft.contaminated_ids",
        count(when(col("df") > maxGramDf, 1)).as("hot_gram_rows_dropped"))
      .filter(col("df") <= maxGramDf)
    val te = gramHashes(test, testId, testText, "test_id", k)
      .select(col("gh")).distinct()
    tr.join(te, Seq("gh"), "left_semi").select(col("doc_id")).distinct()
  }

  /** [[contaminatedIds]] over PRECOMPUTED per-document gram-hash arrays
    * ([[graft.functions.Text.gramHashArray]]): same hot-gram cap, same
    * semi join, but the tokenize+shingle+md5 pass already happened in the
    * caller's single text projection — here only 32-char hashes explode.
    * The one-text-pass form a multi-stage funnel uses when its boundary
    * frame already carries the gram arrays (q85).
    */
  def contaminatedIdsFromGrams(train: DataFrame, trainId: Column,
                               trainGrams: Column, test: DataFrame,
                               testGrams: Column,
                               maxGramDf: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
    val tr = train.select(trainId.as("doc_id"), explode(trainGrams).as("gh"))
      .withColumn("df", count(lit(1)).over(w))
      .observe("graft.contaminated_ids",
        count(when(col("df") > maxGramDf, 1)).as("hot_gram_rows_dropped"))
      .filter(col("df") <= maxGramDf)
    val te = test.select(explode(testGrams).as("gh")).distinct()
    tr.join(te, Seq("gh"), "left_semi").select(col("doc_id")).distinct()
  }

  /** Incremental-corpus dedup: of a new `batch`, keep only documents whose
    * normalized-text fingerprint appears neither in the existing `corpus`
    * (anti join on the 16-byte fingerprint — document text never shuffles)
    * nor earlier in the batch itself (min-id per fingerprint). This is the
    * daily-increment shape of a growing training corpus: the corpus side
    * reduces to a distinct fingerprint column, so each increment costs one
    * narrow anti join however big the corpus text is — and because
    * [[graft.functions.Text.fingerprint]] is deterministic, yesterday's
    * survivors never flip.
    */
  def incrementalNew(corpus: DataFrame, batch: DataFrame, idCol: Column,
                     textCol: Column): DataFrame = {
    val b = batch.select(idCol.as("doc_id"), Text.fingerprint(textCol).as("fp"))
    val c = corpus.select(Text.fingerprint(textCol).as("fp")).distinct()
    b.join(c, Seq("fp"), "left_anti")
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))
  }

  /** Content-defined chunking (CDC) + cross-document chunk dedup: cut each
    * document where the hash of the `window`-char context ≡ 0 mod
    * `avgChunk` — the rsync/LBFS boundary rule, which re-synchronizes
    * after insertions where fixed-size blocks would shift every boundary —
    * then report, per document, its chunk count, characters, and how many
    * of its distinct chunks also occur in ANOTHER document (the span-level
    * dup signal fixed k-grams approximate).
    *
    * Scale shape: the boundary scan is a map-only explode that keeps
    * ~1/`avgChunk` of positions; chunk doc-frequency follows the q73
    * pattern — distinct (doc, hash) rows, one count-over-window on the
    * 16-byte hash — so no shuffle ever carries chunk text.
    */
  def cdcChunkStats(docs: DataFrame, idCol: Column, textCol: Column,
                    window: Int = 8, avgChunk: Int = 64): DataFrame = {
    val chunks = cdcChunkFrame(docs, idCol, textCol, window, avgChunk)
    val stats = chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("clen")).as("total_chars"))
    val hw = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val shared = chunks.select(col("doc_id"), col("h")).distinct()
      .withColumn("hdf", count(lit(1)).over(hw))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("hdf") >= 2, 1L).otherwise(0L)).as("n_shared"))
    stats.join(shared, Seq("doc_id"))
      .select(col("doc_id"), col("n_chunks"), col("total_chars"), col("n_shared"))
  }

  /** The raw content-defined chunk frame behind [[cdcChunkStats]] (and the
    * q206 corpus-level reuse library): one (doc_id, h = md5(chunk),
    * clen) row per chunk. Chunking is ENTIRELY map-side: the native
    * one-pass boundary scan (graft.plans.CdcCuts — identical cuts to
    * posexplode(charShingles) + hashBucket==0, without a String + hex
    * rendering + conv() per char position), the end-of-text cut append,
    * and the per-chunk (md5, length) derivation all happen inside one
    * projection, so the explode emits 16-byte hashes + lengths and NO
    * shuffle ever carries document text. (An earlier row-wise form
    * dragged the normalized text through a distinct and a lag window —
    * two full-text shuffles.)
    */
  def cdcChunkFrame(docs: DataFrame, idCol: Column, textCol: Column,
                    window: Int = 8, avgChunk: Int = 64): DataFrame = {
    // r20: the boundary scan is expression-bound — fan small inputs to
    // cores (see Tables.fanOutSmallInput).
    val base = graft.sources.Tables.fanOutSmallInput(docs)
      .select(idCol.as("doc_id"), Text.normalized(textCol).as("norm"))
    val withCuts = base.select(col("doc_id"), col("norm"),
      array_sort(array_distinct(concat(
        graft.plans.CdcExpressions.cdc_cuts(col("norm"), window, avgChunk),
        array(length(col("norm")))))).as("cuts"))
    withCuts
      .select(col("doc_id"), explode(transform(col("cuts"), (c, i) => {
        // CaseWhen branches evaluate lazily, so element_at never sees the
        // out-of-range index 0 (ANSI mode would throw).
        val prev = when(i === 0, lit(0)).otherwise(element_at(col("cuts"), i))
        struct(
          md5(col("norm").substr(prev + 1, c - prev)).as("h"),
          (c - prev).cast("long").as("clen"))
      })).as("ch"))
      .select(col("doc_id"), col("ch.h").as("h"), col("ch.clen").as("clen"))
  }

  /** C4-style boilerplate-line removal summary: split each document on
    * newlines, count how many DISTINCT documents each line appears in, and
    * flag lines at or above `minDocs` as boilerplate. Returns one row per
    * document: total lines, boilerplate lines, and characters kept after
    * stripping them.
    *
    * Scale shape: the line-frequency aggregate shuffles `md5(line)` (16
    * bytes) + doc id — never line text — and the surviving hot-line set is
    * tiny BY CONSTRUCTION (only lines repeated across ≥ `minDocs` docs), so
    * it broadcasts back onto the exploded lines; per-doc rollup then
    * re-shuffles only ids and counts. Two passes over the line explode is
    * the price of the broadcast; both are map-side-heavy scans.
    */
  def boilerplateSummary(docs: DataFrame, idCol: Column, textCol: Column,
                         minDocs: Long): DataFrame = {
    val lines = docs.select(idCol.as("__doc"),
      explode(split(textCol, "\n")).as("line"))
      .withColumn("line_key", md5(col("line")))
    val hot = lines.groupBy(col("line_key"))
      .agg(countDistinct(col("__doc")).as("line_docs"))
      .filter(col("line_docs") >= minDocs)
    lines.join(broadcast(hot), Seq("line_key"), "left")
      .groupBy(col("__doc").as("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("line_docs").isNotNull, 1L).otherwise(0L)).as("n_boiler"),
        sum(when(col("line_docs").isNull, length(col("line")).cast("long"))
          .otherwise(0L)).as("kept_chars"))
  }

  /** EXACT set-similarity join via prefix filtering (PPJoin, Xiao et al.) —
    * the core the q196 catalog entry runs at t = 13/20 and PropertySpec
    * exercises generatively at several thresholds. `sets` must carry
    * (doc_id: long, sh: array&lt;string&gt;) with `sh` sorted-distinct and
    * non-empty; the threshold is the exact rational tNum/tDen (0 &lt; t ≤ 1).
    *
    * Completeness: under one global rare-first token order, any two sets
    * with J ≥ t share a token within each set's first m − ⌈t·m⌉ + 1 tokens
    * (prefix filter); J ≥ t also forces t·|a| ≤ |b| (size filter) and, at
    * any shared token at global ranks (i, j), overlap bound
    * min(i−1, j−1) + 1 + min(ma−i, mb−j) ≥ α = ⌈t·(ma+mb)/(1+t)⌉
    * (positional filter) — so every qualifying pair survives all three
    * prunes and the exact sorted-merge verify decides membership. Tokens
    * travel as 128-bit two-lane xxhash64 keys so the strings never shuffle;
    * the per-doc rank window partitions by the high-cardinality doc id.
    */
  def ppjoin(sets: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen out of (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val tok = sets
      .select(col("doc_id"), size(col("sh")).cast("long").as("m"),
        explode(col("sh")).as("s"))
      .select(col("doc_id"), col("m"),
        xxhash64(col("s")).as("h1"), xxhash64(col("s"), lit(1)).as("h2"))
    val freq = tok.groupBy(col("h1"), col("h2")).agg(count(lit(1)).as("df"))
    // rare-first global order (df, h1, h2); prefix p = m - ceil(t·m) + 1
    val prefixes = tok
      .join(freq, Seq("h1", "h2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h1"), col("h2"))))
      .filter(col("rk") <= expr(s"m - ($tNum * m + ${tDen - 1}) DIV $tDen + 1"))
      .select(col("doc_id"), col("m"), col("rk").cast("long").as("rk"),
        col("h1"), col("h2"))
    // size filter (prune #2) + row-local positional filter (prune #3):
    // α·(tDen+tNum) ≥ (ma+mb)·tNum rearranged to integer math — see the
    // q196 Scaladoc for why the scan-local per-row form beats the
    // aggregated min-bound variant on genuinely-similar candidate sets.
    // The self-join below is the one KNOWN-QUADRATIC step (output ≈
    // Σ df(prefix-token)²), so its parallelism must track candidate
    // volume, not input bytes: AQE's byte-based coalescing saw <1 MiB of
    // prefix rows at sf0.1 and fused the join + pair-distinct + verify
    // onto ONE partition (single core — 4.2 s of q196's 6.5 s wall, r20
    // profile). An explicit-N hash repartition on the join key pins the
    // stage at the session's configured shuffle width (scale-adaptive via
    // conf, not a constant) and is exempt from AQE coalescing; both join
    // sides share the one exchange (self-join reuse), so the exchange
    // count is unchanged.
    val pf = prefixes.repartition(
      sets.sparkSession.sessionState.conf.numShufflePartitions,
      col("h1"), col("h2"))
    val cand = pf
      .select(col("doc_id").as("id_a"), col("m").as("ma"),
        col("rk").as("ra"), col("h1"), col("h2"))
      .join(pf
        .select(col("doc_id").as("id_b"), col("m").as("mb"),
          col("rk").as("rb"), col("h1"), col("h2")),
        Seq("h1", "h2"))
      .filter(col("id_a") < col("id_b") &&
        col("mb") * tDen >= col("ma") * tNum && col("ma") * tDen >= col("mb") * tNum &&
        (least(col("ra") - 1L, col("rb") - 1L) + 1L +
          least(col("ma") - col("ra"), col("mb") - col("rb"))) * (tNum + tDen).toLong >=
          (col("ma") + col("mb")) * tNum.toLong)
      .select(col("id_a"), col("id_b")).distinct()
    // Verify in EXACT integer arithmetic (inter·tDen ≥ union·tNum), never
    // through the IEEE-rounded double: for thresholds not representable in
    // binary (13/20, 1/3) a double compare can misclassify boundary pairs
    // relative to the exact rational the prefix/size/positional prunes were
    // derived from — the one crack through which 'EXACT at any threshold'
    // could leak. The reported jaccard stays a double (correctly-rounded
    // division is engine-portable); only the admission test is integer.
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("inter", graft.plans.TextExpressions
        .sorted_set_intersect_size(col("sh_a"), col("sh_b")).cast("long"))
      .withColumn("union_sz",
        size(col("sh_a")).cast("long") + size(col("sh_b")) - col("inter"))
      .filter(col("inter") * tDen >= col("union_sz") * tNum)
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") / col("union_sz")).as("jaccard"))
  }
}
