package graft.functions

import graft.ops.Overlap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TF-IDF term weighting over a document corpus — the classic text-analysis
  * pipeline as three relational steps: explode tokens → per-(doc, term)
  * counts → join document frequencies. All shuffles are on the term column
  * (narrow strings); the corpus-size scalar rides along via a broadcast
  * cross join.
  *
  * idf = ln(N / df) — natural log, no smoothing, so the oracle SQL is the
  * plain textbook formula.
  */
object Tfidf {

  /** (doc_id, term, tf) — term counts per document. */
  def termCounts(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs
      .select(idCol.as("doc_id"),
        explode(Text.tokens(Text.normalized(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** (term, df) — number of documents containing each term. */
  def docFrequencies(termCountsDf: DataFrame): DataFrame =
    termCountsDf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).as("df"))

  /** (doc_id, term, tf, tf_idf) for the whole corpus.
    *
    * Document frequency comes from a window over the per-(doc, term) counts
    * — `tc` has exactly one row per (doc, term), so `count(*)` over the
    * term partition IS df. The alternative ([[docFrequencies]] + self-join)
    * computes the explode→aggregate subtree twice, because Spark does not
    * share common subplans across a self-join's two sides — at corpus scale
    * that is a second full pass over the text.
    */
  def tfIdf(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val tc = termCounts(docs, idCol, textCol)
    val n = docs.select(idCol).distinct()
      .agg(count(lit(1)).as("n_docs"))
    tc.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .withColumn("tf_idf",
        col("tf").cast("double") * log(col("n_docs").cast("double") / col("df").cast("double")))
      .select(col("doc_id"), col("term"), col("tf"), col("tf_idf"))
  }

  /** Top-k most characteristic terms per document (ties broken by term for
    * determinism).
    */
  def topTerms(docs: DataFrame, idCol: Column, textCol: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf_idf").desc, col("term").asc)
    tfIdf(docs, idCol, textCol)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Sparse retrieval: for each query document, the top-k corpus documents
    * by integer-scaled BM25 over the inverted index:
    *
    *   score(q, d) = Σ_t  tf_q(t) · w(t) · tfc(t, d)
    *
    * where `w = floor(1e6 / df)` is the integer idf weight and `tfc` is the
    * BM25 term-frequency saturation with k1 = 1.2, b = 0.75 held as exact
    * rationals (k1 = 6/5, b = 3/4):
    *
    *   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *     = 22·tf·avgdl / (10·avgdl·tf + 3·avgdl + 9·dl)
    *
    * integer-scaled ×10⁴ with a single integral division per posting, and
    * `avgdl = total_tokens DIV n_corpus`. Every intermediate is a BIGINT
    * and every division is integral, so scores are EXACT integer sums
    * (real BM25's `ln` and float accumulation are neither engine-portable
    * nor partition-order-free; the scaled-rational form keeps rare-term
    * emphasis, tf saturation AND length normalization while staying under
    * the differential oracle).
    *
    * Scale shape: the classic inverted-index probe — the corpus side
    * shuffles once on the term; the query side is tiny by construction
    * (a handful of query documents vs the corpus), so it is PINNED as the
    * broadcast side — without the pin, Spark can plan a sort-merge join
    * that shuffles the entire postings list on term. Matches aggregate per
    * (query, doc) pair and a per-query window takes top-k. (r17: see the
    * inline df note — a query-side df aggregate was tried and measured
    * slower; the plan-diamond re-execution costs more than the window.) Stopword-scale
    * terms flood the join (|q docs| × |d docs| rows per term): terms in
    * more than `maxDfFrac` of the corpus are dropped — visibly, via
    * `observe()` — which is what a real retrieval stack's stopword list
    * does. The cap is a fraction, not a count, so the same query text
    * survives a 100× corpus scale-up unchanged. The corpus-stats scalars
    * (n_corpus, total token count) ride in on 1-row broadcasts —
    * total_tokens is a scan-local `sum(size(tokens))` (no explode, no
    * shuffle), and the per-doc length `dl` rides through the term-count
    * aggregate as a functionally-dependent group key instead of costing
    * its own full-index window shuffle.
    */
  def sparseTopK(corpus: DataFrame, corpusId: Column, corpusText: Column,
                 queries: DataFrame, queryId: Column, queryText: Column,
                 k: Int, maxDfFrac: Double = 0.5): DataFrame =
    sparseTopKIndexed(buildIndex(corpus, corpusId, corpusText, maxDfFrac),
      queries, queryId, queryText, k)

  /** The inverted index [[sparseTopK]] probes: one posting row
    * `(term, d, dl, tf_d, df, w, tfc)` per (document, term) — `w` the
    * integer idf weight and `tfc` the integer-scaled BM25 tf-saturation
    * (see [[sparseTopK]] for the exact rationals), so a probe needs ONLY
    * `sum(tf_q · w · tfc)` over matching terms: no corpus re-tokenization,
    * no df window, no stats scalars at probe time.
    *
    * This is the build half of build-once/probe-many. Inline, the plan is
    * identical to what [[sparseTopK]] always ran; MATERIALIZED (via
    * [[writeIndex]]), every subsequent probe replaces the full
    * scan→tokenize→explode→aggregate→window pass over the corpus with a
    * columnar scan of exactly the 4 probe columns — the same
    * materialize-once-validate-downstream shape as the reference's conform
    * layer (`Kafka_ArrivalToConform.sh:436-513`).
    */
  def buildIndex(corpus: DataFrame, corpusId: Column, corpusText: Column,
                 maxDfFrac: Double = 0.5): DataFrame = {
    val n = corpus.agg(count(lit(1)).as("n_corpus"))
    val corpusToks = Text.tokens(Text.normalized(corpusText))
    val tot = corpus.agg(sum(size(corpusToks)).as("total_tokens"))
    // dl MUST become an attribute BEFORE the explode select: a generator
    // select evaluates its non-generator expressions ABOVE the Generate,
    // so an inline size(tokens) would re-tokenize once per exploded TOKEN
    // (a measured 3.6x on the whole query), not once per document.
    // df via count().over(partitionBy(term)) ON the tf aggregate — a
    // DELIBERATE, measured choice (r17): the tempting alternative (df as a
    // groupBy(term) aggregate attached to the query side, killing the
    // window's term-keyed exchange) creates a plan DIAMOND — the tf
    // subtree feeds both df and the probe, and Spark re-executes shared
    // subplans rather than CSE-ing them — so the whole scan+tokenize+
    // explode+aggregate ran twice and q90/q100 measured 40-70% SLOWER at
    // sf10 in interleaved A/B. The window re-uses the single tf execution
    // in-plan; its term-keyed exchange lands in ≤|vocab| non-empty
    // partitions, which is skewed only on a degenerate vocabulary (this
    // fixture's ~40 words) and well-spread on any real corpus. At true
    // index scale the BUILD pays this once and probes never see it.
    corpus
      .select(corpusId.as("d"), corpusToks.as("toks"))
      .withColumn("dl", size(col("toks")))
      .select(col("d"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("d"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf_d"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .crossJoin(broadcast(n))
      .crossJoin(broadcast(tot))
      .observe("graft.sparse_topk",
        count(when(col("df") > col("n_corpus") * maxDfFrac, 1)).as("hot_term_rows_dropped"))
      .filter(col("df") <= col("n_corpus") * maxDfFrac)
      .withColumn("w", floor(lit(1000000L) / col("df")))
      .withColumn("avgdl", expr("total_tokens DIV n_corpus"))
      .withColumn("tfc", expr(
        "(10000 * 22 * tf_d * avgdl) DIV (10 * avgdl * tf_d + 3 * avgdl + 9 * dl)"))
      .select(col("term"), col("d"), col("dl").cast("long").as("dl"),
        col("tf_d"), col("df"), col("w"), col("tfc"))
  }

  /** Probe path of build-once/probe-many: score `queries` against an
    * existing [[buildIndex]] postings table (in-plan or read back from
    * [[writeIndex]]'s layout).
    *
    * Scale shape: the query side is tiny by construction and PINNED as the
    * broadcast side — without the pin, Spark can plan a sort-merge join
    * that shuffles the entire postings list on term. After the broadcast
    * join, the only shuffles are on (q, d) and q — both bounded by
    * |queries| × candidate matches, never by corpus size. Against a
    * materialized index the probe reads only (term, d, w, tfc): column
    * pruning reaches the parquet scan, and stopword filtering is already
    * baked into the postings.
    */
  def sparseTopKIndexed(index: DataFrame,
                        queries: DataFrame, queryId: Column, queryText: Column,
                        k: Int): DataFrame = {
    val qt = termCounts(queries, queryId, queryText)
      .withColumnRenamed("doc_id", "q").withColumnRenamed("tf", "tf_q")
    val rank = Window.partitionBy(col("q"))
      .orderBy(col("score").desc, col("d").asc)
    broadcast(qt).join(index, Seq("term"))
      .groupBy(col("q"), col("d"))
      .agg(sum(col("tf_q") * col("w") * col("tfc")).as("score"))
      .withColumn("rnk", row_number().over(rank))
      .filter(col("rnk") <= k)
      .select(col("q"), col("d"), col("score"), col("rnk"))
  }

  /** Persist a [[buildIndex]] postings table: repartitioned on term (each
    * term's postings list is contiguous — the inverted-index layout) and
    * sorted by (term, d) within partitions for run-length-friendly
    * encoding and parquet min/max term pruning on selective probes. On a
    * real warehouse the same rows would go through
    * [[graft.sources.Bucketing.writeBucketed]] (bucketBy term) so a
    * fact-side SMJ probe needs no exchange; plain parquet is the portable
    * layout and is all the BROADCAST probe path needs (the probe never
    * shuffles the postings).
    */
  def writeIndex(postings: DataFrame, path: String): Unit =
    postings
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("d"))
      .write.mode("overwrite").parquet(path)

  // -------------------------------------------------------------------
  // Incremental (append-only) index — the ingest-time answer to "the
  // corpus grows after the build".
  //
  // The [[buildIndex]] postings BAKE the global statistics into every row
  // (df, and w/tfc derived from df + corpus scalars): correct and fastest
  // for a frozen corpus, but appending documents would stale every
  // existing posting's weight. The incremental layout keeps postings RAW
  // and statistics ADDITIVE:
  //
  //   postings    (term, d, tf_d, dl)   — per-batch, append-only
  //   term_stats  (term, df)            — per-batch rows; true df = SUM
  //   corpus_stats(n_docs, total_tokens)— per-batch row;  true N = SUM
  //
  // Because ingest batches carry DISJOINT document ids, document
  // frequencies and corpus scalars are exactly additive, so a probe that
  // sums the stats and derives w/tfc inline (the same integer rationals as
  // [[sparseTopK]]) returns the BYTE-IDENTICAL answer a monolithic rebuild
  // would — proven under the differential oracle by q238, which builds the
  // index in two batches and must reproduce q90's SQL verbatim. Nothing is
  // ever rewritten: an append is three small parquet appends, and the
  // stopword cap moves to probe time (a term can cross maxDfFrac as the
  // corpus grows and starts being dropped — with baked postings it would
  // be frozen forever at its build-time df).
  // -------------------------------------------------------------------

  /** Raw per-batch postings: (term, d, tf_d, dl). */
  def rawPostings(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val toks = Text.tokens(Text.normalized(textCol))
    docs
      .select(idCol.as("d"), toks.as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .select(col("d"), col("dl"), explode(col("toks")).as("term"))
      .groupBy(col("d"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf_d"))
      .select(col("term"), col("d"), col("tf_d"), col("dl"))
  }

  /** Per-batch additive statistics for `docs`: (term→df rows, 1-row corpus
    * scalars). df counts the batch's documents per term; the corpus row
    * counts ALL batch documents (token-less ones included — they carry no
    * posting but still belong to N, exactly as [[sparseTopK]]'s
    * `n_corpus` counts them).
    */
  def batchStats(docs: DataFrame, idCol: Column, textCol: Column)
      : (DataFrame, DataFrame) = {
    val toks = Text.tokens(Text.normalized(textCol))
    val term = docs
      .select(idCol.as("d"), explode(Text.tokens(Text.normalized(textCol))).as("term"))
      .groupBy(col("term")).agg(countDistinct(col("d")).as("df"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(size(toks)), lit(0L)).cast("long").as("total_tokens"))
    (term, corpus)
  }

  /** Append one ingest batch to an append-only index directory (layout:
    * `path/postings`, `path/term_stats`, `path/corpus_stats` — all parquet,
    * all append mode, nothing rewritten). Batches MUST carry document ids
    * disjoint from every earlier batch (the ingest contract that makes the
    * stats additive); the probe never needs to know the batch count.
    */
  def appendToIndex(docs: DataFrame, idCol: Column, textCol: Column,
                    path: String): Unit = {
    // r20: ONE tokenization pass per batch, not three. The old form ran
    // [[batchStats]] (tokenize ×2: df explode + corpus size-sum) plus
    // [[rawPostings]] (tokenize ×1); but both stat tables are derivable
    // from the postings themselves — df(term) = posting-row count per term
    // (postings are unique on (d, term)), and Σ tf_d = the batch's total
    // token count (token-less docs contribute 0 rows = 0 tokens, exactly
    // like size-of-tokens sums). Only n_docs still reads `docs`, and that
    // count never touches the text column (column-pruned scan). The staged
    // postings persist across the three consuming jobs and are dropped
    // before returning.
    //
    // r21: CONCURRENT batches are safe. The old parquet append-mode writes
    // made two simultaneous appendToIndex calls on one directory race each
    // other's `_temporary` job-commit dir (the classic concurrent-append
    // hazard), forcing callers to serialize independent ingest batches.
    // Each batch now writes its three tables under a private
    // `.append_tmp_<batch>` dir and PUBLISHES by renaming the part files
    // into the live tables under batch-unique names — pure metadata moves,
    // no shared committer state, so disjoint batches overlap freely
    // (guide §2.6). Crash posture is unchanged from append mode: a crash
    // before publish leaves only an ignorable private tmp dir (reads
    // touch the three live tables only); a crash MID-publish can leave a
    // partial batch visible, exactly as a crash inside append-mode's
    // multi-rename job commit or between the old three write jobs could —
    // the ingest-ledger retry contract covers both identically.
    val spark = docs.sparkSession
    val batchId = java.util.UUID.randomUUID().toString.take(12)
    val tmpDir = s"$path/.append_tmp_$batchId"
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = rawPostings(graft.sources.Tables.fanOutSmallInput(docs),
        idCol, textCol)
      .repartition(col("term")).sortWithinPartitions(col("term"), col("d"))
      .persist()
    try {
      // The postings write runs first and fills the cache; the two stat
      // writes then read cached blocks and are INDEPENDENT small jobs —
      // overlapping them from driver threads (guide §2.6) halves their
      // wall, which at the measured ~0.3 s/job overhead is most of what
      // they cost ([[Overlap.all]]; q239 nests two appends inside its own
      // overlap).
      staged.write.mode("overwrite").parquet(s"$tmpDir/postings")
      Overlap.all(spark)(
        () => staged.groupBy(col("term")).agg(count(lit(1)).as("df"))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmpDir/term_stats"),
        () => docs.agg(count(lit(1)).as("n_docs")).crossJoin(
            staged.agg(coalesce(sum(col("tf_d")), lit(0L)).cast("long")
              .as("total_tokens")))
          .coalesce(1).write.mode("overwrite").parquet(s"$tmpDir/corpus_stats"))
      // Publish: move the batch's data files into the live tables under
      // batch-unique names. mkdirs + rename are atomic per file on any
      // Hadoop FS; concurrent publishers never collide (names embed the
      // batch id).
      Seq("postings", "term_stats", "corpus_stats").foreach { t =>
        val live = new org.apache.hadoop.fs.Path(root, t)
        fs.mkdirs(live)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$tmpDir/$t"))
          .filter { f =>
            val n = f.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          }
          .foreach { f =>
            val dest = new org.apache.hadoop.fs.Path(live,
              s"$batchId-${f.getPath.getName}")
            require(fs.rename(f.getPath, dest),
              s"appendToIndex: cannot publish ${f.getPath} -> $dest")
          }
      }
    } finally {
      staged.unpersist(blocking = false)
      fs.delete(new org.apache.hadoop.fs.Path(tmpDir), true)
    }
  }

  /** Probe an incremental index (as DataFrames — read them from an
    * [[appendToIndex]] directory, or pass per-batch unions in-plan): sums
    * the additive stats, derives the integer BM25 weights inline with the
    * exact [[sparseTopK]] rationals, applies the stopword cap at PROBE
    * time against the current corpus size, and returns the identical
    * (q, d, score, rnk) contract.
    *
    * Scale shape: term_stats aggregates to ≤|vocab| rows and broadcasts;
    * corpus_stats is one row per batch; the postings side shuffles on
    * nothing — broadcast term join, then the (q, d) aggregate and per-q
    * window are bounded by |queries| × matches.
    */
  def sparseTopKIncremental(postings: DataFrame, termStats: DataFrame,
                            corpusStats: DataFrame,
                            queries: DataFrame, queryId: Column, queryText: Column,
                            k: Int, maxDfFrac: Double = 0.5): DataFrame = {
    val stats = corpusStats.agg(
      sum(col("n_docs")).cast("long").as("n_corpus"),
      sum(col("total_tokens")).cast("long").as("total_tokens"))
    val df = termStats.groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
    val qt = termCounts(queries, queryId, queryText)
      .withColumnRenamed("doc_id", "q").withColumnRenamed("tf", "tf_q")
    val rank = Window.partitionBy(col("q"))
      .orderBy(col("score").desc, col("d").asc)
    broadcast(qt).join(postings, Seq("term"))
      .join(broadcast(df), Seq("term"))
      .crossJoin(broadcast(stats))
      .filter(col("df") <= col("n_corpus") * maxDfFrac)
      .withColumn("w", floor(lit(1000000L) / col("df")))
      .withColumn("avgdl", expr("total_tokens DIV n_corpus"))
      .withColumn("tfc", expr(
        "(10000 * 22 * tf_d * avgdl) DIV (10 * avgdl * tf_d + 3 * avgdl + 9 * dl)"))
      .groupBy(col("q"), col("d"))
      .agg(sum(col("tf_q") * col("w") * col("tfc")).as("score"))
      .withColumn("rnk", row_number().over(rank))
      .filter(col("rnk") <= k)
      .select(col("q"), col("d"), col("score"), col("rnk"))
  }

  /** Compact an [[appendToIndex]] directory in place: merge the
    * accumulated per-batch files into the term-partitioned, (term, d)-
    * sorted layout of [[writeIndex]] — postings rewritten into contiguous
    * per-term runs (run-length-friendly encoding, parquet min/max term
    * pruning restored), term_stats collapsed to ONE row per term,
    * corpus_stats to ONE row total. The layout contract is unchanged:
    * [[sparseTopKIncremental]] probes it identically (the stats stay a
    * sum — of one row now), and later [[appendToIndex]] batches keep
    * appending; compaction is a pure equivalence-preserving rewrite, so a
    * post-compaction probe reproduces the monolithic answer byte-for-byte
    * (q239's differential gate, the same oracle as q90/q238).
    *
    * Without it, an always-appending ingest accumulates one file set per
    * batch forever — at 10k batches the probe's postings scan pays 10k
    * file opens and loses term locality entirely; the warehouse move is
    * periodic compaction exactly like a log-structured store's.
    *
    * Crash posture: the new layout is fully written (with _SUCCESS) under
    * `.compact_tmp` before any swap; each table then swaps via two
    * renames (live → tmp/<t>.old, tmp/<t> → live). A crash between the
    * renames of DIFFERENT tables leaves a mixed generation — harmless,
    * since compaction changes no logical content (any mix of
    * compacted/raw tables sums to the same stats). A crash between the
    * two renames of ONE table leaves that table missing with its
    * `.old` retired copy intact — the recovery sweep at the next
    * compactIndex start renames it back, so re-running converges.
    */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fsys = root.getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(root, ".compact_tmp")
    // Recovery sweep: restore any table a crashed previous compaction
    // left retired-but-unreplaced before rebuilding from the live set.
    Seq("postings", "term_stats", "corpus_stats").foreach { t =>
      val live = new org.apache.hadoop.fs.Path(root, t)
      val old = new org.apache.hadoop.fs.Path(tmp, s"$t.old")
      if (!fsys.exists(live) && fsys.exists(old)) {
        require(fsys.rename(old, live), s"compactIndex: cannot restore $live")
      }
    }
    fsys.delete(tmp, true)
    // The three table rewrites are independent reads of disjoint inputs
    // writing disjoint outputs — run them as overlapped driver-thread jobs
    // (guide §2.6): the two stat merges are overhead-dominated and ride
    // inside the postings rewrite's wall. The swap below stays sequential.
    Overlap.all(spark)(
      () => spark.read.parquet(s"$path/postings")
        .repartition(col("term")).sortWithinPartitions(col("term"), col("d"))
        .write.mode("overwrite").parquet(s"$tmp/postings"),
      () => spark.read.parquet(s"$path/term_stats")
        .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/term_stats"),
      () => spark.read.parquet(s"$path/corpus_stats")
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("total_tokens")).cast("long").as("total_tokens"))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/corpus_stats"))
    Seq("postings", "term_stats", "corpus_stats").foreach { t =>
      val live = new org.apache.hadoop.fs.Path(root, t)
      val next = new org.apache.hadoop.fs.Path(tmp, t)
      val old = new org.apache.hadoop.fs.Path(tmp, s"$t.old")
      require(fsys.rename(live, old), s"compactIndex: cannot retire $live")
      require(fsys.rename(next, live), s"compactIndex: cannot publish $next")
    }
    fsys.delete(tmp, true)
  }

  /** [[sparseTopKIncremental]] over an [[appendToIndex]] directory. */
  def sparseTopKIncremental(spark: org.apache.spark.sql.SparkSession,
                            path: String,
                            queries: DataFrame, queryId: Column, queryText: Column,
                            k: Int, maxDfFrac: Double): DataFrame =
    sparseTopKIncremental(spark.read.parquet(s"$path/postings"),
      spark.read.parquet(s"$path/term_stats"),
      spark.read.parquet(s"$path/corpus_stats"),
      queries, queryId, queryText, k, maxDfFrac)

  /** Build-once/probe-many for catalog queries: return the materialized
    * postings for (`sourceDir`'s documents, `maxDfFrac`), building and
    * persisting them under the JVM temp dir on first use. The cache key is
    * a FINGERPRINT of the source files (relative path, length, mtime), so
    * a regenerated corpus at the same path can never serve a stale index —
    * it hashes to a different directory and rebuilds. Results are
    * therefore identical whether the cache is cold (build + write + read
    * back) or warm (read only); only the time differs, which is exactly
    * the build-once/probe-many contract — in a warehouse this directory is
    * the conform-layer index table, maintained by ingest, and every
    * retrieval query is a warm probe.
    */
  def cachedIndex(docs: DataFrame, idCol: Column, textCol: Column,
                  maxDfFrac: Double, sourceDir: String): DataFrame = {
    val spark = docs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    // Hadoop FS, not java.io.File: the source (and the cache) may live on
    // any scheme a cluster mounts (hdfs://, s3a://, file:) — a local-only
    // walk would silently fingerprint nothing there.
    val srcPath = new org.apache.hadoop.fs.Path(sourceDir)
    val srcFs = srcPath.getFileSystem(hconf)
    val fp = {
      def ls(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        srcFs.listStatus(p).toSeq.sortBy(_.getPath.getName)
          .flatMap(s => if (s.isDirectory) ls(s.getPath) else Seq(s))
      val root = srcPath.toUri.getPath
      val sig = ls(srcPath)
        .map(s => s"${s.getPath.toUri.getPath.stripPrefix(root)}:${s.getLen}:${s.getModificationTime}")
        .mkString("\n")
      java.security.MessageDigest.getInstance("MD5")
        .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val cacheRoot = spark.conf.getOption("spark.graft.index.cache.dir")
      .getOrElse(s"${sys.props("java.io.tmpdir")}/graft_sparse_index")
    // Key = <source-path hash>_<content fingerprint>_<frac>: the path hash
    // identifies WHICH corpus the entry serves, the content fingerprint
    // its version. On rebuild, prior versions of the SAME corpus are
    // purged (they can never be read again — their fingerprint is gone),
    // while entries for other corpora (other path hashes) are untouched;
    // without this, every regeneration leaked a multi-GB postings dir
    // into the cache root forever.
    val pathKey = java.security.MessageDigest.getInstance("MD5")
      .digest(sourceDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val frac = math.round(maxDfFrac * 1000)
    val path = s"$cacheRoot/${pathKey}_${fp}_$frac"
    val cachePath = new org.apache.hadoop.fs.Path(path)
    val cacheFs = cachePath.getFileSystem(hconf)
    val successMarker = new org.apache.hadoop.fs.Path(cachePath, "_SUCCESS")
    if (!cacheFs.exists(successMarker)) {
      // HEAL a marker-less corpse first: a directory without _SUCCESS is
      // definitionally half-built (a published entry appears atomically —
      // the marker is INSIDE the renamed dir), and renaming onto it would
      // degrade to copy-INTO on the local FS / return false on HDFS,
      // stranding the fresh build while reads silently serve the partial
      // files. A complete concurrent publish is never deleted here: it
      // carries the marker and fails the second conjunct.
      if (cacheFs.exists(cachePath) && !cacheFs.exists(successMarker))
        cacheFs.delete(cachePath, true)
      // Write-to-temp-then-rename: the new version becomes visible only as
      // a complete directory (crash mid-write leaves a .tmp_ orphan that
      // the post-publish purge collects, never a half-built cache entry),
      // and a concurrent builder racing to the same fingerprint loses the
      // publish and discards its temp — both sessions then read one winner.
      val tmp = new org.apache.hadoop.fs.Path(
        s"$path.tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      writeIndex(buildIndex(docs, idCol, textCol, maxDfFrac), tmp.toString)
      // re-check: a concurrent builder may have published while we built
      if (cacheFs.exists(successMarker) || !cacheFs.rename(tmp, cachePath))
        scala.util.Try(cacheFs.delete(tmp, true))
      // Hadoop's LOCAL-FS rename of a dir onto an existing non-empty dir
      // can degrade to copy-INTO (FileUtil.copy places tmp as a
      // SUBDIRECTORY of the live entry, named *.tmp_* — not dot-prefixed,
      // so a parquet reader would recurse into it and double-count every
      // posting). Sweep any such nested dirs out before anyone reads.
      if (cacheFs.exists(cachePath))
        cacheFs.listStatus(cachePath)
          .filter(s => s.isDirectory && s.getPath.getName.contains(".tmp_"))
          .foreach(s => scala.util.Try(cacheFs.delete(s.getPath, true)))
    }
    // Purge prior versions of the SAME corpus+frac only AFTER the current
    // version's _SUCCESS exists (a crash can no longer strand the cache
    // with NO readable version). Orphaned temp dirs are purged only when
    // OLDER than an hour — a younger one may be a CONCURRENT session's
    // in-flight build, which a purge would fail mid-write. Deletes are
    // best-effort: a concurrent session still holding the old version open
    // may make its directory undeletable mid-read — tolerated, the next
    // rebuild retries the purge.
    locally {
      val rootPath = new org.apache.hadoop.fs.Path(cacheRoot)
      val tmpAgeFloorMs = 60L * 60 * 1000
      val now = System.currentTimeMillis()
      if (cacheFs.exists(rootPath))
        cacheFs.listStatus(rootPath)
          .filter { s =>
            val n = s.getPath.getName
            n.startsWith(s"${pathKey}_") && n != cachePath.getName && {
              if (n.endsWith(s"_$frac")) true
              else n.contains(s"_$frac.tmp_") &&
                now - s.getModificationTime > tmpAgeFloorMs
            }
          }
          .foreach(s => scala.util.Try(cacheFs.delete(s.getPath, true)))
    }
    // Serve `path` only once a COMPLETE version is published (ours or a
    // concurrent winner's) — a failed publish must fail loudly here, never
    // degrade to silently reading whatever partial files sit at the path.
    if (!cacheFs.exists(successMarker))
      throw new IllegalStateException(
        s"sparse-index cache publish failed: $path has no _SUCCESS marker " +
          "after build+rename — a concurrent writer may have crashed " +
          "mid-publish; re-invoke to rebuild")
    spark.read.parquet(path)
  }

  /** The corpus's `vocabSize` most frequent terms (ties broken by term) —
    * the vocabulary a coverage/data-mixing pass scores against.
    */
  def vocabTopK(docs: DataFrame, idCol: Column, textCol: Column,
                vocabSize: Int): DataFrame =
    docs
      .select(explode(Text.tokens(Text.normalized(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(vocabSize)
      .select(col("term"))

  /** Per-document out-of-vocabulary rate against [[vocabTopK]]: token
    * instances whose term is not in the vocabulary, over all tokens. The
    * vocabulary is tiny by construction, so the membership join is a
    * broadcast — the corpus explodes once and never shuffles its text; the
    * only wide shuffle is the per-doc aggregate on doc_id.
    */
  def oovRate(docs: DataFrame, idCol: Column, textCol: Column,
              vocabSize: Int): DataFrame = {
    val toks = docs.select(idCol.as("doc_id"),
      explode(Text.tokens(Text.normalized(textCol))).as("term"))
    val vocab = vocabTopK(docs, idCol, textCol, vocabSize)
      .withColumn("in_vocab", lit(1))
    toks.join(broadcast(vocab), Seq("term"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
  }
}
