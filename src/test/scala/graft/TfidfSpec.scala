package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Tfidf

/** Sparse retrieval (inverted-index top-k) semantics on a corpus small
  * enough to score by hand.
  */
class TfidfSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "apple zebra"),
    (2L, "apple cherry"),
    (3L, "banana cherry"),
    (4L, "apple banana cherry")).toDF("doc_id", "text")

  test("sparseTopK ranks the query document itself first") {
    val out = Tfidf.sparseTopK(corpus, col("doc_id"), col("text"),
        corpus.filter(col("doc_id") === 1), col("doc_id"), col("text"),
        k = 10, maxDfFrac = 1.0)
      .orderBy(col("rnk"))
      .collect()
    // doc 1 shares both terms with itself; zebra (df=1) dominates.
    assert(out.head.getAs[Long]("d") == 1L && out.head.getAs[Int]("rnk") == 1)
    // apple appears in docs 1, 2, 4 — all must be retrieved.
    assert(out.map(_.getAs[Long]("d")).toSet == Set(1L, 2L, 4L))
    // scores strictly follow rank order (ties broken by d, none here).
    val scores = out.map(_.getAs[Long]("score"))
    assert(scores.sameElements(scores.sorted(Ordering[Long].reverse)))
  }

  test("sparseTopK maxDfFrac drops stopword-scale terms from the index") {
    // apple and cherry have df=3 > 0.5·4: only zebra (df=1) and banana
    // (df=2) survive, so query 1's only match is the self-match via zebra.
    val out = Tfidf.sparseTopK(corpus, col("doc_id"), col("text"),
        corpus.filter(col("doc_id") === 1), col("doc_id"), col("text"),
        k = 10, maxDfFrac = 0.5)
      .collect()
    assert(out.map(r => (r.getAs[Long]("q"), r.getAs[Long]("d"))).toSet ==
      Set((1L, 1L)))
    // BM25 by hand: zebra idf weight floor(1e6/1) = 1_000_000. Doc 1 is
    // exactly average length (dl = 2, avgdl = 9 DIV 4 = 2) with tf_d = 1,
    // so the k1/b saturation is exactly 1.0 → tfc = 10_000 (the ×1e4
    // scale): (10000·22·1·2) DIV (10·2·1 + 3·2 + 9·2) = 440000 DIV 44.
    // score = tf_q(1) · w · tfc = 1e6 · 1e4.
    assert(out.head.getAs[Long]("score") == 1000000L * 10000L)
  }

  test("sparseTopK caps results at k per query") {
    val out = Tfidf.sparseTopK(corpus, col("doc_id"), col("text"),
        corpus.filter(col("doc_id") === 4), col("doc_id"), col("text"),
        k = 2, maxDfFrac = 1.0)
      .collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Int]("rnk")).toSet == Set(1, 2))
  }

  test("probing the materialized index returns exactly the recompute answer") {
    SpecIo.withTempDir("graft_idx") { dir =>
      val path = s"$dir/postings"
      Tfidf.writeIndex(
        Tfidf.buildIndex(corpus, col("doc_id"), col("text"), maxDfFrac = 1.0), path)
      val q = corpus.filter(col("doc_id") < 3)
      val fromIndex = Tfidf.sparseTopKIndexed(spark.read.parquet(path),
        q, col("doc_id"), col("text"), k = 10)
        .collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("d"),
          r.getAs[Long]("score"), r.getAs[Int]("rnk"))).toSet
      val recomputed = Tfidf.sparseTopK(corpus, col("doc_id"), col("text"),
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = 1.0)
        .collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("d"),
          r.getAs[Long]("score"), r.getAs[Int]("rnk"))).toSet
      assert(fromIndex == recomputed && fromIndex.nonEmpty, s"$fromIndex vs $recomputed")
    }
  }

  test("cachedIndex rebuilds when the source changes and PURGES the stale " +
    "version — same-corpus entries never accumulate, other corpora untouched") {
    SpecIo.withTempDir("graft_idx_cache") { root =>
      val src = s"$root/corpus.parquet"
      val cacheRoot = s"$root/cache"
      spark.conf.set("spark.graft.index.cache.dir", cacheRoot)
      try {
        corpus.write.parquet(src)
        def probe(): Set[(Long, Long)] = Tfidf.sparseTopKIndexed(
          Tfidf.cachedIndex(spark.read.parquet(src), col("doc_id"), col("text"),
            maxDfFrac = 1.0, sourceDir = src),
          corpus.filter(col("doc_id") === 1), col("doc_id"), col("text"), k = 10)
          .collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("d"))).toSet
        val first = probe()
        assert(first.nonEmpty)
        def cacheDirs: Set[String] =
          new java.io.File(cacheRoot).listFiles().map(_.getName).toSet
        val v1 = cacheDirs
        assert(v1.size == 1)
        // regenerate the corpus at the same path: doc 2 gone
        corpus.filter(col("doc_id") =!= 2).write.mode("overwrite").parquet(src)
        val second = probe()
        val v2 = cacheDirs
        // rebuilt (fingerprint moved), stale version purged, answer current
        assert(v2.size == 1 && v2 != v1, s"$v1 -> $v2")
        assert(!second.contains((1L, 2L)) && second != first, second.toString)
      } finally spark.conf.unset("spark.graft.index.cache.dir")
    }
  }

  test("cachedIndex HEALS a half-built cache entry (dir without _SUCCESS, " +
    "a crash corpse): it is deleted and rebuilt, never silently served") {
    SpecIo.withTempDir("graft_idx_heal") { root =>
      val src = s"$root/corpus.parquet"
      val cacheRoot = s"$root/cache"
      spark.conf.set("spark.graft.index.cache.dir", cacheRoot)
      try {
        corpus.write.parquet(src)
        def probe(): Set[(Long, Long)] = Tfidf.sparseTopKIndexed(
          Tfidf.cachedIndex(spark.read.parquet(src), col("doc_id"), col("text"),
            maxDfFrac = 1.0, sourceDir = src),
          corpus.filter(col("doc_id") === 1), col("doc_id"), col("text"), k = 10)
          .collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("d"))).toSet
        val first = probe()
        assert(first.nonEmpty)
        // forge the corpse: strip the marker and a data file from the entry
        val entry = new java.io.File(cacheRoot).listFiles()
          .filter(f => f.isDirectory && !f.getName.contains(".tmp_")).head
        assert(new java.io.File(entry, "_SUCCESS").delete())
        entry.listFiles().filter(_.getName.endsWith(".parquet")).take(1)
          .foreach(f => assert(f.delete()))
        // the next call must rebuild a COMPLETE entry with identical answers
        // (pre-fix, the rename degraded to copy-INTO, the sweep deleted the
        // fresh build, and the partial corpse was served forever after)
        val healed = probe()
        assert(healed == first, s"$healed vs $first")
        val entry2 = new java.io.File(cacheRoot).listFiles()
          .filter(f => f.isDirectory && !f.getName.contains(".tmp_")).head
        assert(new java.io.File(entry2, "_SUCCESS").exists(),
          "healed entry must be a complete published version")
      } finally spark.conf.unset("spark.graft.index.cache.dir")
    }
  }

  test("incremental index: two appended batches answer exactly like a " +
    "monolithic recompute, and the stopword cap tracks the GROWN corpus") {
    SpecIo.withTempDir("graft_idx_inc") { dir =>
      val batchA = corpus.filter(col("doc_id") <= 2) // apple zebra / apple cherry
      val batchB = corpus.filter(col("doc_id") > 2)
      Tfidf.appendToIndex(batchA, col("doc_id"), col("text"), dir)
      Tfidf.appendToIndex(batchB, col("doc_id"), col("text"), dir)
      val q = corpus.filter(col("doc_id") < 3)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("d"),
          r.getAs[Long]("score"), r.getAs[Int]("rnk"))).toSet
      // full-frac: identical to the monolithic recompute over all 4 docs
      val incremental = rows(Tfidf.sparseTopKIncremental(spark, dir,
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = 1.0))
      val monolithic = rows(Tfidf.sparseTopK(corpus, col("doc_id"), col("text"),
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = 1.0))
      assert(incremental == monolithic && incremental.nonEmpty)
      // the cap is evaluated at PROBE time against the summed stats: at
      // maxDfFrac=0.5 apple (df 2+1=3 of N=4) and cherry (df 3) are dropped,
      // zebra (1) and banana (2) survive — exactly sparseTopK's behavior on
      // the full corpus, which a BAKED batch-A index (apple df 2 of N 2,
      // kept at 1.0 but dropped at 0.5... frozen either way) could not track
      val capped = rows(Tfidf.sparseTopKIncremental(spark, dir,
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = 0.5))
      val cappedMono = rows(Tfidf.sparseTopK(corpus, col("doc_id"), col("text"),
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = 0.5))
      assert(capped == cappedMono && capped == Set((1L, 1L, 1000000L * 10000L, 1)))
      // append-only on disk: three parquet legs, two batch rows of corpus
      // stats, nothing rewritten
      val cs = spark.read.parquet(s"$dir/corpus_stats")
      assert(cs.count() == 2)
      assert(cs.agg(sum(col("n_docs"))).head().getLong(0) == 4L)
    }
  }

  test("CONCURRENT appends: two batches published simultaneously answer " +
    "exactly like sequential appends and the monolithic recompute") {
    // r21: appendToIndex publishes via staged write + batch-unique rename,
    // so simultaneous batches on one directory are safe by construction
    // (the old append-mode writes raced the shared _temporary commit dir).
    // This pins the q239 overlap: same stats, same probe, two corpus rows.
    SpecIo.withTempDir("graft_idx_conc") { dir =>
      val batchA = corpus.filter(col("doc_id") <= 2)
      val batchB = corpus.filter(col("doc_id") > 2)
      locally {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
          Await.result(Future.sequence(Seq(
              Future(Tfidf.appendToIndex(batchA, col("doc_id"), col("text"), dir)),
              Future(Tfidf.appendToIndex(batchB, col("doc_id"), col("text"), dir)))),
            scala.concurrent.duration.Duration.Inf)
        } finally pool.shutdown()
      }
      val q = corpus.filter(col("doc_id") < 3)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("d"),
          r.getAs[Long]("score"), r.getAs[Int]("rnk"))).toSet
      val concurrent = rows(Tfidf.sparseTopKIncremental(spark, dir,
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = 1.0))
      val monolithic = rows(Tfidf.sparseTopK(corpus, col("doc_id"), col("text"),
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = 1.0))
      assert(concurrent == monolithic && concurrent.nonEmpty)
      val cs = spark.read.parquet(s"$dir/corpus_stats")
      assert(cs.count() == 2)
      assert(cs.agg(sum(col("n_docs"))).head().getLong(0) == 4L)
      // no leftover private staging dirs after publish
      val leftovers = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith(".append_tmp_"))
      assert(leftovers.isEmpty, leftovers.mkString(", "))
    }
  }

  test("compactIndex: the probe over the compacted directory is byte-" +
    "identical to pre-compaction AND to the monolithic recompute; stats " +
    "collapse to one row per term / one corpus row; appends keep working") {
    SpecIo.withTempDir("graft_idx_cpt") { dir =>
      val batchA = corpus.filter(col("doc_id") <= 2)
      val batchB = corpus.filter(col("doc_id") > 2)
      Tfidf.appendToIndex(batchA, col("doc_id"), col("text"), dir)
      Tfidf.appendToIndex(batchB, col("doc_id"), col("text"), dir)
      val q = corpus.filter(col("doc_id") < 3)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("q"), r.getAs[Long]("d"),
          r.getAs[Long]("score"), r.getAs[Int]("rnk"))).toSet
      def probe(frac: Double) = rows(Tfidf.sparseTopKIncremental(spark, dir,
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = frac))
      val before = probe(1.0)
      val beforeCapped = probe(0.5)
      Tfidf.compactIndex(spark, dir)
      // pure layout rewrite: identical at both frac settings, and still
      // identical to the monolithic recompute
      assert(probe(1.0) == before && before.nonEmpty)
      assert(probe(0.5) == beforeCapped)
      assert(before == rows(Tfidf.sparseTopK(corpus, col("doc_id"), col("text"),
        q, col("doc_id"), col("text"), k = 10, maxDfFrac = 1.0)))
      // stats collapsed: one corpus row, one row per term
      assert(spark.read.parquet(s"$dir/corpus_stats").count() == 1L)
      val ts = spark.read.parquet(s"$dir/term_stats")
      assert(ts.count() == ts.select("term").distinct().count())
      // postings term-locality restored: each file holds disjoint terms'
      // contiguous runs (sorted within partitions) — pin via sorted scan
      val post = spark.read.parquet(s"$dir/postings")
      assert(post.count() == Tfidf.rawPostings(corpus, col("doc_id"), col("text")).count())
      // the directory is still APPENDABLE after compaction: a third batch
      // of new docs lands and the probe tracks the grown corpus exactly
      import spark.implicits._
      val batchC = Seq((5L, "zebra zebra banana")).toDF("doc_id", "text")
      Tfidf.appendToIndex(batchC, col("doc_id"), col("text"), dir)
      val grown = Tfidf.sparseTopK(corpus.unionByName(batchC),
        col("doc_id"), col("text"), q, col("doc_id"), col("text"),
        k = 10, maxDfFrac = 1.0)
      assert(probe(1.0) == rows(grown))
      // no postings-side term exchange in the probe plan: the only
      // term-keyed shuffles allowed are over the vocab-bounded stats legs
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val plan = Tfidf.sparseTopKIncremental(spark, dir, q,
        col("doc_id"), col("text"), k = 10, maxDfFrac = 1.0)
        .queryExecution.sparkPlan
      val termExchanges = plan.collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("term") => e
      }
      assert(termExchanges.forall(e => !e.toString.contains("postings")),
        s"postings must never shuffle on term:\n${termExchanges.mkString("\n")}")
    }
  }

  test("compactIndex crash recovery: a table retired but not replaced is " +
    "restored by the next compaction's recovery sweep") {
    SpecIo.withTempDir("graft_idx_crash") { dir =>
      Tfidf.appendToIndex(corpus, col("doc_id"), col("text"), dir)
      // simulate the worst crash window: postings retired to .old, new one
      // never published
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val root = new org.apache.hadoop.fs.Path(dir)
      val tmp = new org.apache.hadoop.fs.Path(root, ".compact_tmp")
      fs.mkdirs(tmp)
      assert(fs.rename(new org.apache.hadoop.fs.Path(root, "postings"),
        new org.apache.hadoop.fs.Path(tmp, "postings.old")))
      Tfidf.compactIndex(spark, dir) // recovery sweep restores, then compacts
      val q = corpus.filter(col("doc_id") < 3)
      val got = Tfidf.sparseTopKIncremental(spark, dir, q,
        col("doc_id"), col("text"), k = 10, maxDfFrac = 1.0).count()
      assert(got > 0)
    }
  }

  test("warm index probe plan: no tokenize/explode, no corpus-keyed window " +
    "exchange — the scan+broadcast-join shape build-once/probe-many buys") {
    SpecIo.withTempDir("graft_idx_plan") { dir =>
      val path = s"$dir/postings"
      Tfidf.writeIndex(
        Tfidf.buildIndex(corpus, col("doc_id"), col("text"), maxDfFrac = 1.0), path)
      val probe = Tfidf.sparseTopKIndexed(spark.read.parquet(path),
        corpus.filter(col("doc_id") === 1), col("doc_id"), col("text"), k = 10)
      val plan = probe.queryExecution.executedPlan.toString
      // the corpus-side work buildIndex paid must be GONE from the probe:
      // no Generate (tokenize+explode the corpus; the tiny query side is
      // collected through termCounts but rides the broadcast), and no
      // term-partitioned window (the df computation)
      assert(!plan.contains("windowspecdefinition(term"), plan.take(2000))
      assert(!plan.contains("hashpartitioning(term"), plan.take(2000))
      // column pruning reaches the postings scan: the probe needs only
      // (term, d, w, tfc) of the 7 persisted columns
      val scan = plan.linesIterator.find(l => l.contains("FileScan parquet") &&
        l.contains("postings")).getOrElse(fail(s"no postings scan in:\n$plan"))
      assert(scan.contains("ReadSchema") &&
        !scan.contains("tf_d") && !scan.contains("df") && !scan.contains("dl"),
        scan)
    }
  }
}
