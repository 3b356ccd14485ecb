package graft

import graft.functions.{Dedup, Text}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  QUICK brown fox jumps over the lazy dog"), // exact dup modulo norm
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different text about spark engines and data"),
    (5L, "ab") // too short for 3-shingles
  ).toDF("doc_id", "text")

  test("exact dedup groups normalized-identical docs") {
    val groups = Dedup.exactDuplicateGroups(docs, col("doc_id"), col("text"))
    val dup = groups.filter(col("group_size") > 1).collect()
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("keep_id") == 1L)
    assert(dup.head.getAs[Long]("group_size") == 2L)
    val drops = Dedup.exactDropIds(docs, col("doc_id"), col("text")).collect()
    assert(drops.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
  }

  test("MinHashes expression matches the composable md5 form exactly") {
    val sh = Text.shingles(col("text"), 3)
    val native = docs.filter(size(sh) > 0)
      .select(col("doc_id") +: Dedup.minHashSignature(sh, 4): _*)
    val composable = docs.filter(size(sh) > 0)
      .select(col("doc_id") +: (0 until 4).map(i => Dedup.minHashMd5(sh, i).as(s"mh_$i")): _*)
    assert(native.exceptAll(composable).isEmpty && composable.exceptAll(native).isEmpty)
  }

  test("identical docs collide in every band; near-dups appear as candidates") {
    val cands = Dedup.minHashCandidates(docs.filter(col("doc_id") =!= 5L),
      col("doc_id"), col("text"), shingleK = 3, bands = 2, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L))) // exact dup always collides
    assert(!cands.exists { case (a, b) => a == 4L || b == 4L }) // unrelated doc never pairs
  }

  test("nearDuplicatePairs verifies candidates with exact jaccard") {
    val pairs = Dedup.nearDuplicatePairs(docs.filter(col("doc_id") =!= 5L),
      col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("jaccard computes exact overlap") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0)
    assert(math.abs(j - 0.5) < 1e-12)
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("x", "y")
    assert(empty.select(Dedup.jaccard(col("x"), col("y"))).head().getDouble(0) == 0.0)
  }

  test("simhash: identical texts → same signature; hamming64 works") {
    val sigs = docs.filter(col("doc_id").isin(1L, 2L, 4L))
      .select(col("doc_id"), Dedup.simHash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L)) // normalization makes 1 and 2 identical
    val h = Seq((sigs(1L), sigs(4L))).toDF("a", "b")
      .select(Dedup.hamming64(col("a"), col("b"))).head().getInt(0)
    assert(h > 0)
  }

  test("native SimHash64 expression matches the composable 64-fold form") {
    val edge = Seq(
      Some("the quick brown fox jumps over the lazy dog"),
      Some("one"), Some(""), None
    ).toDF("text")
    val rows = (docs.select(col("text")) unionByName edge)
      .select(Dedup.simHash64(col("text")).as("native"),
        Dedup.simHash64Composable(col("text")).as("composable"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
  }

  test("native SimHash32Md5 matches the composable conv(md5) form") {
    val edge = Seq(Some("the quick brown fox"), Some("one"), Some(""), None).toDF("text")
    val rows = (docs.select(col("text")) unionByName edge)
      .select(Dedup.simHash32Md5(col("text")).as("native"),
        Dedup.simHash32Md5Composable(col("text")).as("composable"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1))
    }
  }

  test("simHashCandidates honors maxBucketSize cap on a hot bucket") {
    val boiler = (1L to 12L).map(i => (i, "identical boilerplate text everywhere"))
      .toDF("doc_id", "text")
    // all 12 docs share every band chunk → one 12-member bucket per band
    assert(Dedup.simHashCandidates(boiler, col("doc_id"), col("text"),
      bands = 4, maxHamming = 0, maxBucketSize = 11).count() == 0)
    assert(Dedup.simHashCandidates(boiler, col("doc_id"), col("text"),
      bands = 4, maxHamming = 0, maxBucketSize = 12).count() == 12L * 11 / 2)
  }

  test("simHashCandidates finds identical pair at hamming 0") {
    val cands = Dedup.simHashCandidates(docs.filter(col("doc_id") =!= 5L),
      col("doc_id"), col("text"), bands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(cands.exists(c => c._1 == 1L && c._2 == 2L && c._3 == 0))
  }

  test("Shingles expression matches the composable HOF form") {
    val toks = Text.tokens(Text.normalized(col("text")))
    val hof = when(size(toks) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 3 + 1),
        i => concat_ws(" ", slice(toks, i, lit(3)))))
    val native = docs.select(col("doc_id"), Text.shingles(col("text"), 3).as("s"))
    val comp = docs.select(col("doc_id"), hof.as("s"))
    assert(native.exceptAll(comp).isEmpty && comp.exceptAll(native).isEmpty)
  }

  test("CharShingles expression matches the composable HOF form (incl. short strings)") {
    val edge = docs.union(Seq((6L, ""), (7L, "abc")).toDF("doc_id", "text"))
    val hof = when(length(col("text")) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(col("text")) - 2),
        i => col("text").substr(i, lit(3))))
    val native = edge.select(col("doc_id"), Text.charShingles(col("text"), 3).as("s"))
    val comp = edge.select(col("doc_id"), hof.as("s"))
    assert(native.exceptAll(comp).isEmpty && comp.exceptAll(native).isEmpty)
    // fewer than k chars → empty, exactly k chars → the whole string
    val byId = native.collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[String](1)).toMap
    assert(byId(6L).isEmpty && byId(7L) == Seq("abc"))
  }

  test("SortedSetJaccard matches the builtin intersect/union form exactly") {
    // Raw (unsorted, duplicate-bearing) shingle arrays: the native merge is
    // only equivalent after array_sort(array_distinct(_)) — which is exactly
    // how blockedJaccardPairs projects them. Includes the empty-vs-empty
    // union case (both forms must yield 0.0).
    val pairs = docs.crossJoin(docs.select(col("text").as("text2")))
    val viaBuiltin = pairs.select(
      Dedup.jaccard(Text.charShingles(col("text"), 3),
        Text.charShingles(col("text2"), 3)).as("j"))
    val viaNative = pairs.select(
      graft.plans.TextExpressions.sorted_set_jaccard(
        array_sort(array_distinct(Text.charShingles(col("text"), 3))),
        array_sort(array_distinct(Text.charShingles(col("text2"), 3)))).as("j"))
    assert(viaNative.exceptAll(viaBuiltin).isEmpty &&
      viaBuiltin.exceptAll(viaNative).isEmpty)
    val selfJ = docs.select(graft.plans.TextExpressions.sorted_set_jaccard(
      array_sort(array_distinct(Text.charShingles(col("text"), 3))),
      array_sort(array_distinct(Text.charShingles(col("text"), 3)))).as("j"))
      .collect().map(_.getDouble(0))
    // identical sets → 1.0, except the sub-k-length doc whose set is empty → 0.0
    assert(selfJ.count(_ == 1.0) == 4 && selfJ.count(_ == 0.0) == 1)
  }

  test("blockedJaccardPairs pairs only within a block and scores exactly") {
    val blocked = Seq(
      (1L, "en", "the quick brown fox"),
      (2L, "en", "the quick brown fox"), // identical → jaccard 1.0
      (3L, "en", "a completely unrelated sentence zzz"),
      (4L, "de", "the quick brown fox") // same text, other block → never paired
    ).toDF("doc_id", "lang", "text")
    val pairs = Dedup.blockedJaccardPairs(blocked, col("doc_id"), col("text"),
      Seq(col("lang")), shingleK = 3, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs.head.getAs[Long]("id_a") == 1L && pairs.head.getAs[Long]("id_b") == 2L)
    assert(pairs.head.getAs[Double]("jaccard") == 1.0)
  }

  test("minHashCandidates honors maxBucketSize cap") {
    val same = (1L to 10L).map(i => (i, "identical text repeated for boilerplate docs"))
      .toDF("doc_id", "text")
    val capped = Dedup.minHashCandidates(same, col("doc_id"), col("text"),
      shingleK = 3, bands = 2, rowsPerBand = 2, maxBucketSize = 5)
    assert(capped.count() == 0) // bucket of 10 dropped by cap
    val uncapped = Dedup.minHashCandidates(same, col("doc_id"), col("text"),
      shingleK = 3, bands = 2, rowsPerBand = 2)
    assert(uncapped.count() == 45) // all C(10,2) pairs
  }

  test("bestQualityKeepers keeps the highest-quality copy per group, ties to smallest id") {
    val docs = Seq(
      (1L, "same body here", 10L),  // group A, low quality
      (2L, "same  body   here", 95L), // group A (whitespace-normalized dup), BEST
      (3L, "same body here", 95L),  // group A, ties with 2 -> 2 wins (smaller id)
      (4L, "unique document", 50L)  // singleton group
    ).toDF("id", "txt", "score")
    val out = Dedup.bestQualityKeepers(docs, col("id"), col("txt"), col("score"))
      .collect().map(r => r.getAs[Long]("keep_id") ->
        ((r.getAs[Long]("keep_quality"), r.getAs[Long]("group_size")))).toMap
    assert(out == Map(2L -> ((95L, 3L)), 4L -> ((50L, 1L))))
  }

  test("connectedComponents resolves transitive duplicate clusters") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L && cc(9L) == 1L)
    assert(cc(5L) == 5L && cc(6L) == 5L)
  }

  test("connectedComponents exits early on convergence, well before maxIter") {
    // Components of diameter ≤ 3: min-label propagation reaches fixpoint in
    // 2-3 rounds + 1 probe round — an iteration count at maxIter would mean
    // the early-exit broke and every q60 run pays maxIter shuffles.
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("id_a", "id_b")
    val (labels, iters) = Dedup.connectedComponentsIterated(pairs, maxIter = 10)
    assert(labels.count() == 6)
    assert(iters < 10, s"expected early convergence, ran $iters rounds")
    assert(iters <= 4, s"shallow clusters should converge in <=4 rounds, ran $iters")
  }

  test("connectedComponents throws when a chain longer than maxIter is still relabelling") {
    // min-label propagation moves a label one hop per round: a 12-node
    // chain needs 11 changing rounds, so a cap of 4 stops mid-propagation
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[graft.functions.NotConvergedException](
      Dedup.connectedComponentsIterated(chain, maxIter = 4))
    assert(e.operator == "connectedComponents" && e.rounds == 4 && e.changed > 0)
    val (labels, iters) = Dedup.connectedComponentsIterated(chain, maxIter = 20)
    assert(labels.filter(col("cluster") =!= 1L).isEmpty && iters <= 12)
  }

  test("connectedComponents reliable-checkpoint path (cluster mode) gives identical labels") {
    SpecIo.withTempDir("graft-ckpt") { dir =>
      val pairs = TestSpark.sibling("spark.graft.checkpoint.dir" -> dir)
        .createDataFrame(Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L))).toDF("id_a", "id_b")
      val cc = Dedup.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
      // the reliable strategy actually wrote checkpoint files
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "no reliable checkpoint files written")
    }
  }
  test("clusterQualityKeepers keeps one best member per connected component") {
    // component {1,2,3,9} (via 1-2, 2-3, 9-3) and component {5,6}; the
    // keeper is the highest quality, ties to the smallest id
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
    val docs = Seq((1L, 10L), (2L, 80L), (3L, 80L), (9L, 5L),
      (5L, 7L), (6L, 7L)).toDF("id", "quality")
    val out = Dedup.clusterQualityKeepers(labels, docs, col("id"), col("quality"))
      .collect().map(r => r.getAs[Long]("cluster") ->
        ((r.getAs[Long]("keep_id"), r.getAs[Long]("keep_quality"),
          r.getAs[Long]("cluster_size")))).toMap
    // cluster 1: quality tie 80 between ids 2 and 3 -> 2 wins
    assert(out == Map(1L -> ((2L, 80L, 4L)), 5L -> ((5L, 7L, 2L))), out.toString)
  }

  test("contamination counts train docs sharing a k-gram with each test doc") {
    import spark.implicits._
    val train = Seq(
      (10L, "alpha beta gamma delta shared phrase here ends"),
      (11L, "alpha beta gamma delta shared phrase here ends"), // 2nd train hit
      (12L, "nothing in common with anything at all today")
    ).toDF("id", "txt")
    val test_ = Seq(
      (20L, "prefix words alpha beta gamma padding tail words"), // shares "alpha beta gamma"
      (21L, "totally clean heldout document with fresh words only")
    ).toDF("id", "txt")
    val out = Dedup.contamination(train, col("id"), col("txt"),
        test_, col("id"), col("txt"), k = 3)
      .collect().map(r => (r.getAs[Long]("test_id"),
        r.getAs[Long]("n_train_docs"), r.getAs[Long]("n_shared_grams"))).toSet
    // doc 20 shares exactly the one 3-gram with both contaminated train docs
    assert(out == Set((20L, 2L, 1L)))
  }
  test("contamination drops ultra-common grams at the df cap") {
    import spark.implicits._
    // the same 3-gram sits in 3 train docs -> df cap 2 excludes it entirely
    val train = (10L to 12L).map(i => (i, "alpha beta gamma filler " + i)).toDF("id", "txt")
    val test_ = Seq((20L, "intro alpha beta gamma outro")).toDF("id", "txt")
    val capped = Dedup.contamination(train, col("id"), col("txt"),
      test_, col("id"), col("txt"), k = 3, maxGramDf = 2)
    assert(capped.count() == 0)
    val uncapped = Dedup.contamination(train, col("id"), col("txt"),
      test_, col("id"), col("txt"), k = 3, maxGramDf = 1000)
    assert(uncapped.count() == 1)
  }
  test("duplicatedSpanStats: cross-doc spans count, intra-doc repeats don't") {
    import spark.implicits._
    val docs = Seq(
      // docs 1+2 share the 3-gram "alpha beta gamma"; doc 1 has 4 grams total
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "intro alpha beta gamma outro"),
      // doc 3 repeats its own 3-gram twice but shares nothing across docs
      (3L, "solo uno duo solo uno duo solo uno"),
      (4L, "completely different words here")
    ).toDF("id", "txt")
    val out = Dedup.duplicatedSpanStats(docs, col("id"), col("txt"), k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_dup_grams")))).toMap
    assert(out(1L) == ((4L, 1L)))
    assert(out(2L) == ((3L, 1L)))
    // "solo uno duo" occurs twice in doc 3 alone: 2 occurrences, 0 cross-doc
    assert(out(3L)._2 == 0L)
    assert(out(4L)._2 == 0L)
  }

  test("native CdcCuts matches the composable charShingles+hashBucket form") {
    import graft.functions.Sampling
    val texts = Seq(
      (1 to 80).map(i => s"t${i * 13 % 89}").mkString(" "),
      "héllo wörld ünïcode ça và bien aujourd'hui mes amis du monde entier",
      "short", "", "exactly8")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "txt")
    val native = df.select(col("id"),
        graft.plans.CdcExpressions.cdc_cuts(col("txt"), 8, 16).as("cuts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val composable = df.select(col("id"),
        posexplode(Text.charShingles(col("txt"), 8)).as(Seq("p", "w")))
      .filter(Sampling.hashBucket(col("w"), 16) === 0)
      .select(col("id"), (col("p") + 1).cast("int").as("cut"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getInt(1)).sorted.toList).toMap
    texts.indices.foreach { i =>
      assert(native(i.toLong) == composable.getOrElse(i.toLong, Nil),
        s"id=$i native=${native(i.toLong)}")
    }
    // the pseudo-random text must actually produce cuts for this to test much
    assert(native(0L).nonEmpty)
  }

  test("cdcChunkStats: chunks tile the text; boundaries resync after inserts") {
    val words = (1 to 60).map(i => s"w${i * 7 % 97}x${i % 13}").mkString(" ")
    val docs = Seq((1L, words), (2L, "inserted prefix here " + words))
      .toDF("id", "txt")
    val out = Dedup.cdcChunkStats(docs, col("id"), col("txt"),
      window = 8, avgChunk = 16)
    val rows = out.collect().map(r => r.getAs[Long]("doc_id") ->
      ((r.getAs[Long]("n_chunks"), r.getAs[Long]("total_chars"),
        r.getAs[Long]("n_shared")))).toMap
    // chunks tile the normalized text exactly: total_chars == len(norm)
    assert(rows(1L)._2 == words.length.toLong)
    assert(rows(2L)._2 == ("inserted prefix here " + words).length.toLong)
    assert(rows(1L)._1 > 1L, "text long enough to cut more than one chunk")
    // THE CDC property: an insertion shifts only the chunks before the
    // first post-insert boundary — later cuts depend on local content, so
    // both docs share trailing chunks (fixed-size blocks would share none)
    assert(rows(1L)._3 >= 1L && rows(2L)._3 >= 1L,
      s"no resynced chunks: $rows")
  }

  test("contaminatedIds returns exactly the train docs sharing a test k-gram") {
    val train = Seq(
      (1L, "one two three four five six"),   // shares "two three four five six"? no — test has different grams
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "clean text with no overlap at all")
    ).toDF("id", "txt")
    val test = Seq(
      (10L, "x alpha beta gamma delta epsilon y") // 5-gram overlap with doc 2
    ).toDF("id", "txt")
    val ids = Dedup.contaminatedIds(train, col("id"), col("txt"),
      test, col("id"), col("txt"), k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L))
  }

  test("incrementalNew keeps only batch docs unseen in corpus or earlier batch") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "txt")
    val batch = Seq(
      (10L, "ALPHA   beta"),    // normalized dup of corpus doc 1 → dropped
      (11L, "epsilon zeta"),    // new → kept
      (12L, "epsilon  ZETA"),   // intra-batch dup of 11 → folded into 11
      (13L, "eta theta")        // new → kept
    ).toDF("id", "txt")
    val out = Dedup.incrementalNew(corpus, batch, col("id"), col("txt"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(out == Set(11L, 13L))
  }

  test("boilerplateSummary flags lines repeated across enough documents") {
    // "footer" appears in 3 docs (>= minDocs), "rare" in 2 (< minDocs);
    // doc-internal repetition must not inflate the distinct-doc count
    val docs = Seq(
      (1L, "unique one\nfooter\nrare"),
      (2L, "unique two\nfooter\nfooter"),
      (3L, "unique three\nfooter"),
      (4L, "unique four\nrare")
    ).toDF("id", "txt")
    val out = Dedup.boilerplateSummary(docs, col("id"), col("txt"), minDocs = 3L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_boiler"),
          r.getAs[Long]("kept_chars")))).toMap
    assert(out(1L) == ((3L, 1L, ("unique one" + "rare").length.toLong)))
    // both footer copies in doc 2 are stripped (same line instance-wise)
    assert(out(2L) == ((3L, 2L, "unique two".length.toLong)))
    assert(out(3L) == ((2L, 1L, "unique three".length.toLong)))
    assert(out(4L) == ((2L, 0L, ("unique four" + "rare").length.toLong)))
  }
}
