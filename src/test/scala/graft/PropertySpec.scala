package graft

import graft.dq.Checks
import graft.functions.Dedup
import graft.model.ValidationResult
import graft.ops.{AsOf, Relational, Skew}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-based invariants over randomized inputs — the algebra each
  * operator must satisfy regardless of data shape. (Raw ScalaCheck
  * generators sampled with fixed seeds — the scalatestplus bridge is not in
  * the offline cache.)
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def forAll[A](g: Gen[A], n: Int = 5)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default.withSize(30), Seed(i.toLong))
        .foreach(check)
    }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val rowsGen: Gen[List[(Long, String)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 8L), Gen.oneOf("a", "b", "c", "d")))

  private val checkRowsGen: Gen[List[(Option[Int], Option[String], Option[Double])]] =
    Gen.listOf(Gen.zip(
      Gen.option(Gen.chooseNum(0, 3)),
      Gen.option(Gen.oneOf("a", "b")),
      Gen.option(Gen.oneOf(0.0, -0.0, Double.NaN, 1.5))))

  test("standardStageChecks equals the four single checks run one by one") {
    def cells(vs: Seq[ValidationResult]) =
      vs.map(v => (v.testCase, v.stepName, v.testResult, v.comments))
    def same(src: DataFrame, tgt: DataFrame, label: String): Unit =
      assert(cells(Checks.standardStageChecks(spark, src, tgt, "s", "3NF").collect().toSeq) ==
        cells(Seq(Checks.countMatch(src, tgt, "s", "3NF"), Checks.dataMatch(src, tgt, "s", "3NF"),
          Checks.duplicateCheck(tgt, "s", "3NF"), Checks.nullCheck(tgt, "s", "3NF"))), label)
    forAll(Gen.zip(checkRowsGen, checkRowsGen, Gen.chooseNum(0, 2)), n = 6) {
      case (a, b, shift) =>
        val src = a.toDF("k", "v", "d")
        // target = part of the source (shared rows, duplicates and
        // source-only rows) plus rows of its own
        val tgt = (a.drop(shift) ++ b.take(3)).toDF("k", "v", "d")
        same(src, tgt, "nulls, duplicates, one-sided rows, NaN and -0.0")
        same(src, a.reverse.toDF("k", "v", "d"), "same rows, other order")
        same(src, tgt.withColumn("k", col("k").cast("long")), "int source, long target")
        same(src.withColumn("k", col("k").cast("long")), tgt, "long source, int target")
        // coalesce with a literal makes the field non-nullable, so the
        // null check narrows to it
        val nonNull = tgt.withColumn("k", coalesce(col("k"), lit(0)))
        assert(!nonNull.schema("k").nullable)
        same(src, nonNull, "target with a non-nullable field")
    }
    // Widening a long target to double merges distinct longs beyond 2^53:
    // the duplicate check must still see the longs.
    val big = 9007199254740992L
    val longs = Seq(Some(big), Some(big + 1), None).toDF("k")
    same(Seq(Some(big.toDouble), None).toDF("k"), longs, "lossy widening")
    same(Seq(Some(big.toDouble), None).toDF("k"), longs.union(longs.limit(1)),
      "lossy widening with a real duplicate")
  }

  test("symmetricDiff(a, a) is empty; diff directions partition the difference") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "v")
      assert(Relational.symmetricDiff(df, df).isEmpty)
    }
  }

  test("duplicateRows counts agree with groupBy arithmetic") {
    forAll(rowsGen) { rows =>
      val df = rows.toDF("k", "v")
      val dupTotal = Relational.duplicateRows(df)
        .agg(coalesce(sum(col("dup_count")), lit(0L))).head().getLong(0)
      val expected = rows.groupBy(identity).values.map(_.size.toLong)
        .filter(_ > 1).sum
      assert(dupTotal == expected)
    }
  }

  test("saltedAggregate equals direct aggregate for any grouping") {
    forAll(rowsGen) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("k", "v")
        val direct = df.groupBy(col("v")).agg(sum(col("k")).as("s"), count(lit(1)).as("n"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val salted = Skew.saltedAggregate(df, Seq(col("v")), buckets = 4,
          Seq(sum(col("k")).as("ps"), count(lit(1)).as("pn")),
          Seq(sum(col("ps")).as("s"), sum(col("pn")).as("n")))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(salted == direct)
      }
    }
  }

  test("jaccard is symmetric and within [0,1]") {
    val arrGen = Gen.listOf(Gen.oneOf("x", "y", "z", "w"))
    forAll(Gen.zip(arrGen, arrGen)) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val j1 = df.select(Dedup.jaccard(col("a"), col("b"))).head().getDouble(0)
      val j2 = df.select(Dedup.jaccard(col("b"), col("a"))).head().getDouble(0)
      assert(j1 == j2 && j1 >= 0.0 && j1 <= 1.0)
    }
  }

  test("joinAsOf: every match is at-or-before and is the latest such") {
    val eventsGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 100L)), // left times
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 100L))) // right times
    forAll(eventsGen) { case (lts, rts) =>
      val left = lts.distinct.map(t => (1L, t)).toDF("k", "lt")
      val right = rts.distinct.map(t => (1L, t, t * 10)).toDF("k", "rt", "payload")
      val out = AsOf.joinAsOf(left, right, "k", "lt", "rt", Seq("rt", "payload"))
        .collect()
      out.foreach { r =>
        val lt = r.getAs[Long]("lt")
        val matched = Option(r.getAs[java.lang.Long]("asof_rt")).map(_.toLong)
        val expected = rts.distinct.filter(_ <= lt).sorted.lastOption
        assert(matched == expected, s"lt=$lt")
      }
    }
  }

  test("applyScd2Dated invariants: one open version per key, contiguous closed chain") {
    import graft.pipeline.Pipeline
    val batchesGen = Gen.listOfN(3, Gen.nonEmptyListOf(Gen.chooseNum(0L, 5L)))
    forAll(batchesGen, n = 3) { batches =>
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      def ts(i: Int) = java.sql.Timestamp.valueOf(s"2024-0${i + 1}-01 00:00:00")
      var dim = Pipeline.scd2Init(
        Seq((0L, "seed")).toDF("id", "attr"), lit(t0))
      batches.zipWithIndex.foreach { case (keys, i) =>
        val incoming = keys.distinct.map(k => (k, s"v${i}_$k")).toDF("id", "attr")
        dim = Pipeline.applyScd2Dated(dim, incoming, Seq("id"), lit(ts(i + 1)))
      }
      val rows = dim.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String]("record_status"),
        r.getAs[java.sql.Timestamp]("effective_from"),
        r.getAs[java.sql.Timestamp]("effective_to")))
      rows.groupBy(_._1).foreach { case (id, versions) =>
        val open = versions.filter(_._2 == "1")
        assert(open.length == 1, s"key $id must have exactly one open version")
        assert(open.head._4 == null, s"open version of $id carries no end date")
        versions.filter(_._2 == "0").foreach { v =>
          assert(v._4 != null, s"closed version of $id must carry effective_to")
          assert(!v._3.after(v._4), s"closed range of $id must be ordered")
          // the version that replaced it starts exactly where it ended
          assert(versions.exists(n => n._3 == v._4),
            s"close of $id at ${v._4} must match a successor's effective_from")
        }
      }
    }
  }

  test("joinAsOf: carried columns all come from the single matched row (nulls included)") {
    val eventsGen = Gen.zip(
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 100L)),
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 100L)))
    forAll(eventsGen) { case (lts, rts) =>
      val left = lts.distinct.map(t => (1L, t)).toDF("k", "lt")
      // payload nulls on different residue classes — a per-column carry
      // would backfill them from OLDER rows whenever the matched row is null
      val right = rts.distinct.map(t => (1L, t,
        if (t % 2 == 0) None else Some(t * 10),
        if (t % 3 == 0) None else Some(t * 100))).toDF("k", "rt", "pa", "pb")
      val out = AsOf.joinAsOf(left, right, "k", "lt", "rt", Seq("rt", "pa", "pb"))
        .collect()
      out.foreach { r =>
        val lt = r.getAs[Long]("lt")
        val expectedRt = rts.distinct.filter(_ <= lt).sorted.lastOption
        assert(Option(r.getAs[java.lang.Long]("asof_rt")).map(_.toLong) == expectedRt)
        expectedRt.foreach { t =>
          val pa = Option(r.getAs[java.lang.Long]("asof_pa")).map(_.toLong)
          val pb = Option(r.getAs[java.lang.Long]("asof_pb")).map(_.toLong)
          assert(pa == (if (t % 2 == 0) None else Some(t * 10)), s"pa spliced at lt=$lt")
          assert(pb == (if (t % 3 == 0) None else Some(t * 100)), s"pb spliced at lt=$lt")
        }
      }
    }
  }

  test("chunkSpans: chunks tile the token sequence — full coverage, stride starts, truncated tail only") {
    import graft.functions.Text
    val textGen = Gen.chooseNum(1, 40).map(n => (1 to n).map(i => s"t$i").mkString(" "))
    forAll(Gen.zip(textGen, Gen.chooseNum(2, 6), Gen.chooseNum(1, 6)), n = 8) {
      case (text, size0, stride0) =>
        val (sz, st) = (size0 max stride0, stride0) // require stride <= size
        val n = text.split(" ").length
        val spans = Seq(text).toDF("text")
          .select(explode(Text.chunkSpans(col("text"), sz, st)).as("c"))
          .select(col("c.chunk_id"), col("c.start_tok"), col("c.chunk_len"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
        // contiguous ids, stride-spaced starts
        assert(spans.map(_._1) == spans.indices.map(_.toLong).toList)
        spans.foreach { case (id, start, len) =>
          assert(start == id * st)
          assert(len >= 1 && len <= sz)
          assert(start + len <= n)
        }
        // every token index falls inside at least one chunk
        val covered = spans.flatMap { case (_, s, l) => s until (s + l) }.toSet
        assert(covered == (0L until n.toLong).toSet, s"n=$n sz=$sz st=$st")
        // only the last chunk may truncate
        spans.dropRight(1).foreach { case (_, _, len) => assert(len == sz) }
    }
  }

  test("pq encode/adc: codes stay in their lanes, self-distance decreases with k") {
    import graft.functions.Pq
    val vecsGen = Gen.chooseNum(8, 24).map { n =>
      (0 until n).map(i => (i.toLong,
        Seq.tabulate(8)(d => ((i * 13 + d * 7) % 19).toFloat / 19f)))
    }
    forAll(vecsGen, n = 4) { vecs =>
      val df = vecs.toDF("id", "v")
      val kSmall = 2 min vecs.length
      val kBig = 8 min vecs.length
      val cbS = Pq.fit(df, col("id"), col("v"), m = 2, k = kSmall)
      val cbB = Pq.fit(df, col("id"), col("v"), m = 2, k = kBig)
      val codes = df.select(Pq.encode(col("v"), cbB).as("c")).collect().map(_.getLong(0))
      assert(codes.forall(c => c >= 0 && c < (1L << 8))) // 2 lanes × 4 bits
      // a richer codebook can never fit worse (it contains strictly more choices
      // only when sampled prefixes nest — they do: hash order is stable)
      val eS = Pq.quantizationError(df, col("v"), cbS)
      val eB = Pq.quantizationError(df, col("v"), cbB)
      assert(eB <= eS + 1e-12, s"k=$kBig mse=$eB vs k=$kSmall mse=$eS")
    }
  }

  test("sorted_set_jaccard ≡ builtin intersect/union on arbitrary string arrays") {
    import graft.plans.TextExpressions
    val arrGen = Gen.listOf(Gen.oneOf("aa", "ab", "ba", "bb", "c", "", "aaa"))
    forAll(Gen.zip(Gen.listOfN(8, arrGen), Gen.listOfN(8, arrGen)), n = 3) {
      case (as, bs) =>
        val df = as.zip(bs).toDF("a", "b")
        val both = df.select(
          TextExpressions.sorted_set_jaccard(
            array_sort(array_distinct(col("a"))),
            array_sort(array_distinct(col("b")))).as("native"),
          Dedup.jaccard(col("a"), col("b")).as("builtin")).collect()
        both.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
    }
  }

  test("sorted_set_intersect_size ≡ builtin array_intersect size on arbitrary string arrays") {
    import graft.plans.TextExpressions
    val arrGen = Gen.listOf(Gen.oneOf("aa", "ab", "ba", "bb", "c", "", "aaa"))
    forAll(Gen.zip(Gen.listOfN(8, arrGen), Gen.listOfN(8, arrGen)), n = 3) {
      case (as, bs) =>
        val df = as.zip(bs).toDF("a", "b")
        val both = df.select(
          TextExpressions.sorted_set_intersect_size(
            array_sort(array_distinct(col("a"))),
            array_sort(array_distinct(col("b")))).as("native"),
          size(array_intersect(array_distinct(col("a")),
            array_distinct(col("b")))).as("builtin")).collect()
        both.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
    }
  }

  private val textGen: Gen[String] =
    Gen.listOf(Gen.oneOf("the", "cat", "x1", "a@b.co", "10.0.0.1", "call",
      "555-0199", "wörd", "http://h.io/p")).map(_.mkString(" "))

  test("redactPii is idempotent and never lengthens PII-free text") {
    forAll(textGen, n = 8) { t =>
      val df = Seq(t).toDF("text")
      val once = df.select(graft.functions.Text.redactPii(col("text")))
        .head().getString(0)
      val twice = Seq(once).toDF("text")
        .select(graft.functions.Text.redactPii(col("text"))).head().getString(0)
      assert(twice == once, s"not idempotent on: $t")
      // every PII token was replaced: counts on the redacted text are zero
      val counts = Seq(once).toDF("text")
        .select(graft.functions.Text.piiCounts(col("text"))
          .map { case (n2, c) => c.as(n2) }: _*).head()
      assert((0 until 3).forall(counts.getLong(_) == 0L), s"residual PII in: $once")
    }
  }

  test("cdcChunkStats: chunks always tile the normalized text exactly") {
    forAll(textGen, n = 8) { t =>
      whenever(t.nonEmpty) {
        val df = Seq((1L, t)).toDF("id", "txt")
        val normLen = df
          .select(length(graft.functions.Text.normalized(col("txt"))))
          .head().getInt(0).toLong
        val row = Dedup.cdcChunkStats(df, col("id"), col("txt"),
          window = 4, avgChunk = 4).head()
        assert(row.getAs[Long]("total_chars") == normLen,
          s"chunks don't tile: $t")
        assert(row.getAs[Long]("n_chunks") >= 1L)
      }
    }
  }

  test("incrementalNew is append-stable: survivors never flip as the corpus grows") {
    // The q55/q83 discipline: once a batch document survives against a
    // corpus, re-running the SAME batch against any GROWN corpus may only
    // remove survivors whose fingerprint entered the corpus — it can never
    // admit a previously-rejected doc or change a keeper's identity.
    val batchGen = Gen.listOfN(8, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))
    val corpusGen = Gen.listOf(Gen.oneOf("aa", "bb", "xx", "yy"))
    val growthGen = Gen.listOf(Gen.oneOf("cc", "zz", "aa"))
    forAll(Gen.zip(batchGen, corpusGen, growthGen), n = 6) {
      case (batchTexts, corpusTexts, growth) =>
        val batch = batchTexts.zipWithIndex
          .map { case (t, i) => (100L + i, t) }.toDF("id", "txt")
        val corpus = corpusTexts.zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("id", "txt")
        val grown = (corpusTexts ++ growth).zipWithIndex
          .map { case (t, i) => (i.toLong, t) }.toDF("id", "txt")
        def survivors(c: org.apache.spark.sql.DataFrame): Map[String, Long] =
          Dedup.incrementalNew(c, batch, col("id"), col("txt"))
            .collect().map(r => r.getAs[Any]("fp").toString -> r.getAs[Long]("doc_id"))
            .toMap
        val before = survivors(corpus)
        val after = survivors(grown)
        // grown-corpus survivors are a SUBSET of the original survivors...
        assert(after.keySet.subsetOf(before.keySet),
          s"batch=$batchTexts corpus=$corpusTexts growth=$growth")
        // ...with identical keepers for every fingerprint that stayed
        after.foreach { case (fp, id) =>
          assert(before(fp) == id, s"keeper flipped for fp=$fp")
        }
        // and removals are exactly the fingerprints the growth introduced
        val grownFps = grown.select(graft.functions.Text.fingerprint(col("txt")))
          .collect().map(_.get(0).toString).toSet
        assert((before.keySet -- after.keySet).forall(grownFps.contains))
    }
  }

  test("boilerplateSummary: a line is boilerplate iff its doc-frequency clears minDocs") {
    forAll(Gen.listOfN(6, Gen.oneOf("hot line", "warm", "misc")), n = 6) { lines =>
      whenever(lines.nonEmpty) {
        val docs = lines.zipWithIndex
          .map { case (l, i) => (i.toLong, s"body $i\n$l") }.toDF("id", "txt")
        val out = Dedup.boilerplateSummary(docs, col("id"), col("txt"), minDocs = 3L)
          .collect()
        out.foreach(r => assert(r.getAs[Long]("n_lines") == 2L))
        // expected: each doc's shared line is boilerplate exactly when the
        // number of docs carrying that line is >= minDocs ("body i" never is)
        val freq = lines.groupBy(identity).view.mapValues(_.size).toMap
        val expected = lines.map(l => if (freq(l) >= 3) 1L else 0L).sum
        assert(out.map(_.getAs[Long]("n_boiler")).sum == expected,
          s"lines=$lines freq=$freq")
      }
    }
  }

  private val samplerCorpusGen: Gen[List[(Long, String, Long)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 500L),
      Gen.oneOf("en", "es", "fr", "de", "zh"), Gen.chooseNum(1L, 50L)))
      .map(_.distinctBy(_._1))

  test("two-phase samplers are bit-identical to the single-window form for any shard count") {
    import graft.functions.Sampling
    import org.apache.spark.sql.expressions.Window
    forAll(samplerCorpusGen, n = 6) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("id", "lang", "w")
        val hw = Window.partitionBy(col("lang"))
          .orderBy(Sampling.hashBucket(col("id"), 1 << 30), col("id"))
        val naiveRank = df.withColumn("sample_rank", row_number().over(hw))
          .filter(col("sample_rank") <= 3)
          .select("id", "sample_rank").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
        val naiveCum = df.withColumn("cum_tokens", sum(col("w")).over(hw))
          .filter(col("cum_tokens") <= when(col("lang") === "en", 60L)
            .when(col("lang") === "es", 25L).otherwise(0L))
          .select("id", "cum_tokens").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        for (shards <- Seq(1, 5, 64)) {
          val gotRank = Sampling.stratifiedSample(df, Seq(col("lang")), col("id"),
            perStratum = 3, shards = shards)
            .select("id", "sample_rank").collect()
            .map(r => (r.getLong(0), r.getInt(1))).toSet
          assert(gotRank == naiveRank, s"stratified shards=$shards rows=$rows")
          val gotCum = Sampling.tokenBudgetSample(df, col("lang"), col("id"),
            col("w"), Map("en" -> 60L, "es" -> 25L), shards = shards)
            .select("id", "cum_tokens").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(gotCum == naiveCum, s"tokenBudget shards=$shards rows=$rows")
        }
        val naiveBins = df.withColumn("bin",
          ntile(4).over(Window.partitionBy(col("lang")).orderBy(col("w"), col("id"))))
          .select("id", "bin").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toMap
        val gotBins = Sampling.quantileBins(df, col("lang"), col("w"), col("id"), 4)
          .select("id", "bin").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toMap
        assert(gotBins == naiveBins, s"quantileBins rows=$rows")
        val pw = Window.partitionBy(col("lang")).orderBy(
          (Sampling.hashBucket(col("id"), 1 << 30).cast("double") /
            col("w").cast("double")).asc, col("id"))
        val naivePps = df.withColumn("samp_rank", row_number().over(pw))
          .filter(col("samp_rank") <= 3)
          .select("id", "samp_rank").collect()
          .map(r => (r.getLong(0), r.getInt(1))).toSet
        val naiveShuffle = df.select(col("id"))
          .withColumn("epoch", explode(lit(Array(1, 2))))
          .withColumn("pos", row_number().over(Window.partitionBy(col("epoch"))
            .orderBy(Sampling.hashBucket(
              concat(col("epoch").cast("string"), lit("|"), col("id").cast("string")),
              1 << 30), col("id"))).cast("long"))
          .select("id", "epoch", "pos").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
        for (shards <- Seq(1, 5, 64)) {
          val gotPps = Sampling.sequentialPoissonSample(df, col("lang"),
            col("id"), col("w"), k = 3, shards = shards)
            .select("id", "samp_rank").collect()
            .map(r => (r.getLong(0), r.getInt(1))).toSet
          assert(gotPps == naivePps, s"seqPoisson shards=$shards rows=$rows")
          val gotShuffle = Sampling.epochShuffle(df.select(col("id")), col("id"),
            epochs = 2, shards = shards)
            .select("id", "epoch", "pos").collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
          assert(gotShuffle == naiveShuffle, s"epochShuffle shards=$shards rows=$rows")
        }
      }
    }
  }

  test("tokenBudgetSample: zero-budget strata are unconditionally empty, even for zero-token rows") {
    import graft.functions.Sampling
    // A zero-token document first in hash order used to satisfy
    // `cum_tokens (0) <= budget (0)` and leak into an excluded stratum;
    // the scan-local `budget > 0` prefilter closes that.
    val df = Seq((1L, "zh", 0L), (2L, "zh", 5L), (3L, "en", 0L), (4L, "en", 2L))
      .toDF("id", "lang", "w")
    val out = Sampling.tokenBudgetSample(df, col("lang"), col("id"), col("w"),
      Map("en" -> 10L))
    assert(out.filter(col("lang") === "zh").isEmpty)
    // positive-budget strata keep zero-token rows (they cost nothing)
    assert(out.filter(col("lang") === "en").count() == 2)
  }

  test("tokenBudgetSample is append-stable: growth can evict but never admit, and cum_tokens never shrinks") {
    import graft.functions.Sampling
    val growthGen = Gen.listOf(Gen.zip(Gen.chooseNum(501L, 900L),
      Gen.oneOf("en", "es"), Gen.chooseNum(1L, 50L))).map(_.distinctBy(_._1))
    forAll(Gen.zip(samplerCorpusGen, growthGen), n = 6) { case (base, growth) =>
      whenever(base.nonEmpty) {
        def admitted(rows: List[(Long, String, Long)]): Map[Long, Long] =
          Sampling.tokenBudgetSample(rows.toDF("id", "lang", "w"),
            col("lang"), col("id"), col("w"), Map("en" -> 60L, "es" -> 25L))
            .select("id", "cum_tokens").collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val before = admitted(base)
        val after = admitted(base ++ growth)
        val baseIds = base.map(_._1).toSet
        // no previously-rejected doc is ever admitted by growth...
        assert((after.keySet & baseIds).subsetOf(before.keySet),
          s"base=$base growth=$growth")
        // ...and a surviving doc's running total only grows (hash-order
        // inserts can push tokens ahead of it, never remove any)
        (after.keySet & before.keySet).foreach { id =>
          assert(after(id) >= before(id), s"cum shrank for id=$id")
        }
      }
    }
  }

  test("sequentialPoissonSample is append-stable: growth can evict but never admit") {
    import graft.functions.Sampling
    val growthGen = Gen.listOf(Gen.zip(Gen.chooseNum(501L, 900L),
      Gen.oneOf("en", "es"), Gen.chooseNum(1L, 50L))).map(_.distinctBy(_._1))
    forAll(Gen.zip(samplerCorpusGen, growthGen), n = 6) { case (base, growth) =>
      whenever(base.nonEmpty) {
        def kept(rows: List[(Long, String, Long)]): Set[Long] =
          Sampling.sequentialPoissonSample(rows.toDF("id", "lang", "w"),
            col("lang"), col("id"), col("w"), k = 3)
            .select("id").collect().map(_.getLong(0)).toSet
        val before = kept(base)
        val after = kept(base ++ growth)
        // priorities are pure functions of (id, w): new records only ADD
        // competition, so an original record admitted after growth must
        // have been admitted before
        assert((after & base.map(_._1).toSet).subsetOf(before),
          s"base=$base growth=$growth")
      }
    }
  }

  test("epochShuffle is order-stable under growth: surviving pairs never swap") {
    import graft.functions.Sampling
    val idsGen = Gen.listOf(Gen.chooseNum(0L, 500L)).map(_.distinct)
    val growGen = Gen.listOf(Gen.chooseNum(501L, 900L)).map(_.distinct)
    forAll(Gen.zip(idsGen, growGen), n = 6) { case (base, growth) =>
      whenever(base.size >= 2) {
        def order(ids: List[Long]): Map[Int, List[Long]] =
          Sampling.epochShuffle(ids.toDF("id"), col("id"), epochs = 2)
            .select("id", "epoch", "pos").collect()
            .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
            .groupBy(_._2).view
            .mapValues(_.sortBy(_._3).map(_._1).toList).toMap
        val before = order(base)
        val after = order(base ++ growth)
        // a record's seeded hash never changes, so growth shifts absolute
        // positions but never the relative order of existing records —
        // what makes a mid-epoch resume meaningful after an append
        for (e <- 1 to 2) {
          val baseSet = base.toSet
          assert(after(e).filter(baseSet) == before(e),
            s"epoch $e reordered: base=$base growth=$growth")
        }
      }
    }
  }

  test("KmvAggregator: sketch equals naive bottom-k distinct and is partitioning-invariant") {
    import graft.functions.Sketches
    val gen = for {
      n <- Gen.choose(0, 400)
      vals <- Gen.listOfN(n, Gen.choose(0L, 200L)) // heavy duplication
      k <- Gen.oneOf(4, 16, 64)
    } yield (vals, k)
    forAll(gen, n = 8) { case (vals, k) =>
      val expected = vals.distinct.sorted.take(k)
      val results = Seq(1, 3, 17).map { parts =>
        vals.toDF("h").repartition(parts)
          .agg(Sketches.kmvSketch(col("h"), k).as("sk"))
          .head().getSeq[Long](0).toList
      }
      results.foreach(r => assert(r == expected,
        s"k=$k n=${vals.length}: sketch $r != naive $expected"))
    }
  }

  test("shardedCumSum ≡ the naive global running sum, any distribution, both directions, any slice count") {
    val valsGen = Gen.nonEmptyListOf(Gen.chooseNum(-1000L, 100000L))
    forAll(valsGen) { vals =>
      val byVal = vals.groupBy(identity).toSeq
        .map { case (v, g) => (v, g.size.toLong) }
      val df = byVal.toDF("v", "k").withColumn("w2", col("v") * col("k"))
      for (asc <- Seq(true, false); slices <- Seq(1, 4, 256)) {
        val ord = if (asc) byVal.sortBy(_._1) else byVal.sortBy(-_._1)
        val naive = ord.scanLeft(("", 0L, 0L)) { case ((_, ck, cw), (v, k)) =>
          (v.toString, ck + k, cw + v * k)
        }.drop(1).map { case (v, ck, cw) => (v.toLong, ck, cw) }.toSet
        val got = Relational.shardedCumSum(df, "v", Seq("k", "w2"),
            ascending = asc, slices = slices)
          .selectExpr("v", "cum_k", "cum_w2")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == naive, s"asc=$asc slices=$slices: $got vs $naive")
      }
    }
  }

  test("shardedCumMax ≡ the naive global running max, both directions, any slice count") {
    val valsGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(-1000L, 100000L), Gen.chooseNum(-50L, 50L)))
    forAll(valsGen) { pairs =>
      val byVal = pairs.groupBy(_._1).toSeq
        .map { case (v, g) => (v, g.map(_._2).max) }
      val df = byVal.toDF("v", "m")
      for (asc <- Seq(true, false); slices <- Seq(1, 3, 256)) {
        val ord = if (asc) byVal.sortBy(_._1) else byVal.sortBy(-_._1)
        val naive = ord.scanLeft((0L, Long.MinValue)) { case ((_, cm), (v, m)) =>
          (v, math.max(cm, m))
        }.drop(1).toSet
        val got = Relational.shardedCumMax(df, "v", Seq("m"),
            ascending = asc, slices = slices)
          .selectExpr("v", "cum_m")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == naive, s"asc=$asc slices=$slices: $got vs $naive")
      }
    }
  }

  test("shardedCum* degenerate edges: empty input, single value, all-equal weights") {
    val empty = Seq.empty[(Long, Long)].toDF("v", "k")
    assert(Relational.shardedCumSum(empty, "v", Seq("k"), ascending = true).count() == 0)
    assert(Relational.shardedCumMax(empty, "v", Seq("k"), ascending = false).count() == 0)
    val one = Seq((42L, 7L)).toDF("v", "k")
    assert(Relational.shardedCumSum(one, "v", Seq("k"), ascending = true)
      .selectExpr("cum_k").head().getLong(0) == 7L)
    assert(Relational.shardedCumMax(one, "v", Seq("k"), ascending = false)
      .selectExpr("cum_k").head().getLong(0) == 7L)
    // every row the same value: one slice holds everything (width 1)
    val flat = Seq((5L, 1L), (5L, 2L)).toDF("v", "k")
      .groupBy(col("v")).agg(sum(col("k")).as("k"))
    assert(Relational.shardedCumSum(flat, "v", Seq("k"), ascending = true)
      .selectExpr("cum_k").head().getLong(0) == 3L)
  }

  test("kCore: peel fixpoint equals the brute-force iterated filter on random graphs") {
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 12L)))
    forAll(edgeGen) { raw =>
      val und = raw.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      whenever(und.nonEmpty) {
        for (k <- Seq(2, 3)) {
          var edges = und.toSet
          var done = false
          while (!done) {
            val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
              .groupBy(identity).map { case (n, g) => n -> g.size }
            val pruned = edges.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
            done = pruned == edges
            edges = pruned
          }
          val got = graft.functions.Graph
            .kCore(und.toDF("a", "b"), col("a"), col("b"), k, maxRounds = 20)
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          assert(got == edges, s"k=$k on ${und.length} edges")
        }
      }
    }
  }

  /** Batch CollectMetrics rows land on QueryExecutionListener
    * asynchronously; runs `body`, then waits for the named metric row
    * (the SimilaritySpec pattern).
    */
  private def withObservedMetric(name: String)(body: => Unit): org.apache.spark.sql.Row = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.observedMetrics.foreach { case (k, v) => seen.put(k, v) }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.containsKey(name) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val row = seen.get(name)
      assert(row != null, s"observed metric '$name' never arrived")
      row
    } finally spark.listenerManager.unregister(listener)
  }

  test("adversarial skew: AQE splits the hot-key join partition, and the salted " +
    "join matches the unsalted result on the same 50%-hot fixture") {
    // one key holds ~half the fact rows — the shape that melts a single
    // reducer at 100 TB. Documents the TWO defense layers: AQE's runtime
    // skew-split on the plain sort-merge join, and Skew.saltedJoin's
    // ahead-of-time salting (the q62 shape), which must agree exactly.
    val fact = ((0 until 50000).map(i => (0L, i.toDouble)) ++
      (0 until 50000).map(i => ((i % 200).toLong + 1L, i.toDouble)))
      .toDF("k", "v")
    val dim = (0L to 200L).map(k => (k, s"name_$k")).toDF("k", "nm")
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> scala.util.Try(conf.get(k)).toOption.flatMap(Option(_)))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // skew-activation probe: the BARE join (no same-key aggregate after
      // it — AQE declines to split when a downstream operator would reuse
      // the join's partitioning, which is exactly why q62-style shapes
      // ALSO need the ahead-of-time salting asserted below)
      val bare = fact.join(dim, Seq("k"))
      // execute THIS dataframe (count() builds its own plan tree, leaving
      // bare's adaptive plan unfinalized)
      assert(bare.collect().length == 100000)
      val finalPlan = bare.queryExecution.executedPlan.toString
      assert(finalPlan.toLowerCase.contains("skew"),
        s"AQE skew-split did not activate on the hot-key join:\n$finalPlan")
      // correctness under skew: salted == plain on the full agg shape
      val plainRows = fact.join(dim, Seq("k")).groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val salted = Skew.saltedJoin(fact, dim, "k", buckets = 8)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(salted == plainRows, "salted join must match the unsalted result")
      assert(plainRows.exists { case (k, n, _) => k == 0L && n == 50000L })
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("adversarial skew: the LSH bucket cap drops the degenerate mega-bucket " +
    "(metric fires) and keeps every pair outside it") {
    // 60 identical docs = one 50%-hot band bucket (pair expansion would be
    // quadratic); a 2-doc dup group + distinct fillers must be untouched.
    val mega = (0L until 60L).map(i => (i, "the same boilerplate text repeated " +
      "over and over across the whole mirror farm"))
    val pairB = Seq((100L, "a genuinely unique pair document about owls and rivers"),
      (101L, "a genuinely unique pair document about owls and rivers"))
    val fillers = (200L until 220L).map(i =>
      (i, s"distinct filler number $i with its own words ${i * 31} and ${i * 97}"))
    val docs = (mega ++ pairB ++ fillers).toDF("doc_id", "text")
    var capped = Set.empty[(Long, Long)]
    val m = withObservedMetric("graft.lsh") {
      capped = Dedup.minHashCandidates(docs, col("doc_id"), col("text"),
          maxBucketSize = 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(m.getAs[Long]("dropped_buckets") > 0L,
      s"the cap must report its drops: $m")
    assert(m.getAs[Int]("max_bucket_size") >= 60)
    val uncapped = Dedup.minHashCandidates(docs, col("doc_id"), col("text"),
        maxBucketSize = 100000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    assert(capped.contains((100L, 101L)),
      s"the small dup group must survive the cap: $capped")
    assert(!capped.exists { case (a, b) => a < 60L && b < 60L },
      "mega-bucket pairs must be dropped under the cap")
    assert(uncapped.count { case (a, b) => a < 60L && b < 60L } == 60 * 59 / 2,
      "uncapped reference keeps the full quadratic expansion")
    // the degradation contract: ONLY mega-bucket pairs were lost
    assert((uncapped -- capped).forall { case (a, b) => a < 60L && b < 60L },
      s"cap must lose only in-mega pairs: ${(uncapped -- capped).take(5)}")
  }

  /** Random events tables for the q234/q235 properties: (event_id,
    * user_id, event_type, ts-nanos) with unique arrival-ordered ids.
    * user ids may be NEGATIVE (exercises the sign-explicit shard);
    * timestamps stay non-negative (calendar arithmetic).
    */
  private val eventsGen: Gen[List[(Long, Long, String, Long)]] = for {
    n <- Gen.chooseNum(1, 60)
    rows <- Gen.listOfN(n, Gen.zip(
      Gen.chooseNum(-5L, 5L),
      Gen.oneOf("click", "error", "purchase", "signup", "view"),
      // spread over ~3 days with gaps straddling the 30-min session cut
      Gen.chooseNum(0L, 3L * 86400L * 1000000000L)))
  } yield rows.zipWithIndex.map { case ((u, t, ts), i) =>
    (i.toLong, u, t, ts / 1000 * 1000) } // micro-aligned like real data

  /** Scoped events fixture: writes the random corpus as parquet, runs the
    * check, and deletes the tree (SpecIo) so property iterations don't
    * accumulate fixtures in /tmp across gate runs.
    */
  private def withEvents[A](rows: List[(Long, Long, String, Long)])(
      check: String => A): A =
    SpecIo.withTempDir("prop_events") { dir =>
      rows.toDF("event_id", "user_id", "event_type", "ts")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      check(dir)
    }

  test("q234 grammar: first-match-wins alternation priority and the " +
    "browse_only remainder identity hold on random event corpora") {
    val grammar = Seq(
      "retry_convert" -> "S.*E.*P".r,
      "clean_convert" -> "S[^E]*P".r,
      "error_exit" -> "S[^P]*E[^P]*$".r,
      "nosignup_convert" -> "^[^S]*P".r)
    forAll(eventsGen, n = 4) { rows =>
      whenever(rows.nonEmpty) { withEvents(rows) { dir =>
        // reference: sessionize (30-min micro gap, (ts_us, id) order), walk
        // of first letters, classify by FIRST matching pattern in grammar
        // order, leftmost match length
        val sessions = rows.groupBy(_._2).toSeq.flatMap { case (_, g) =>
          val sorted = g.map(e => (e._4 / 1000, e._1, e._3)).sortBy(e => (e._1, e._2))
          val cuts = sorted.zip((Long.MinValue, 0L, "") +: sorted.init).map {
            case (cur, prev) => prev._1 == Long.MinValue || cur._1 - prev._1 > 1800000000L
          }
          val bySession = sorted.zip(cuts).foldLeft(List.empty[List[(Long, Long, String)]]) {
            case (acc, (e, newSess)) =>
              if (newSess || acc.isEmpty) List(e) :: acc
              else (e :: acc.head) :: acc.tail
          }.map(_.reverse).reverse
          bySession.map { es =>
            val walk = es.map(_._3.head.toUpper).mkString.take(512)
            (es.map(_._1).min / 86400000000L, walk)
          }
        }
        val ref = sessions.map { case (day, walk) =>
          val hit = grammar.find(_._2.findFirstIn(walk).isDefined)
          val name = hit.map(_._1).getOrElse("browse_only")
          val mlen = hit.flatMap(_._2.findFirstIn(walk)).map(_.length.toLong).getOrElse(0L)
          (day, name, mlen, walk.length.toLong)
        }
        val expect = ref.groupBy(r => (r._1, r._2)).map { case ((d, p), g) =>
          (d, p) -> ((g.size.toLong, g.map(_._3).sum, g.map(_._4).sum * 1000 / g.size))
        }
        val got = SparkEntry.queries("q234_journey_grammar")(spark, dir).collect()
          .map(r => (r.getLong(0), r.getString(1)) ->
            ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
        assert(got == expect, s"grammar rollup mismatch:\ngot    $got\nexpect $expect")
        // explicit remainder identity: browse_only = total - sum(matches)
        val perDayTotal = sessions.groupBy(_._1).view.mapValues(_.size.toLong)
        perDayTotal.foreach { case (day, total) =>
          val matched = grammar.map(g => got.getOrElse((day, g._1), (0L, 0L, 0L))._1).sum
          assert(got.getOrElse((day, "browse_only"), (0L, 0L, 0L))._1 == total - matched)
        }
      }}
    }
  }

  test("q235 watermark loss: curve is monotone non-increasing in delay, " +
    "lost <= n_pairs, and replays a direct reference (negative ids included)") {
    forAll(eventsGen, n = 4) { rows =>
      whenever(rows.nonEmpty) { withEvents(rows) { dir =>
        val out = SparkEntry.queries("q235_watermark_loss")(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .sortBy(_._1)
        // shape properties
        out.sliding(2).foreach {
          case Array(a, b) =>
            assert(a._2 >= b._2, s"n_late_events must not increase with delay: $out")
            assert(a._4 >= b._4, s"lost must not increase with delay: $out")
          case _ => ()
        }
        out.foreach { r =>
          assert(r._4 <= r._3, s"lost must be <= n_pairs: $r")
          assert(r._5 == r._4 * 1000000L / math.max(r._3, 1L), s"ppm identity: $r")
        }
        // direct reference with sign-explicit shards (shared EventRef)
        val late = EventRef.latenessByEvent(rows)
        val clicks = rows.filter(_._3 == "click")
        val purchases = rows.filter(_._3 == "purchase")
        val pairs = for {
          c <- clicks; p <- purchases
          if p._2 == c._2 && p._4 >= c._4 && p._4 <= c._4 + 3600000000000L
        } yield (late(c._1), late(p._1))
        Seq(0L, 60L, 600L, 3600L).foreach { d =>
          val dNs = d * 1000000000L
          val row = out.find(_._1 == d).get
          assert(row._2 == late.values.count(_ > dNs).toLong, s"late at $d: $row")
          assert(row._3 == pairs.size.toLong, s"pairs at $d: $row")
          assert(row._4 == pairs.count { case (cl, pl) => cl > dNs || pl > dNs }.toLong,
            s"lost at $d: $row")
        }
      }}
    }
  }

  // Zipfian corpora with planted exact/near duplicates: base docs draw from
  // a skewed vocabulary (hot words everywhere — the regime where prefix
  // filtering earns its keep), then a random subset gets an exact twin or a
  // one-token-added near twin so qualifying pairs actually exist.
  private val ppjoinCorpusGen: Gen[(List[(Long, Seq[String])], (Int, Int))] = for {
    vocab <- Gen.chooseNum(8, 30)
    nBase <- Gen.chooseNum(10, 40)
    t <- Gen.oneOf((13, 20), (1, 2), (4, 5), (9, 10))
    base <- Gen.listOfN(nBase, for {
      len <- Gen.chooseNum(2, 12)
      ws <- Gen.listOfN(len, Gen.frequency(
        (1 to vocab).map(k => (1 + vocab / k, Gen.const(s"w$k"))): _*))
    } yield ws.distinct)
    dupIdx <- Gen.someOf(base.indices)
    extra <- Gen.listOfN(base.size, Gen.chooseNum(1, vocab))
  } yield {
    val twins = dupIdx.toList.map { i =>
      if (i % 2 == 0) base(i) else (base(i) :+ s"w${extra(i)}").distinct
    }
    val docs = (base ++ twins).filter(_.nonEmpty)
      .zipWithIndex.map { case (ws, i) => (i.toLong, ws: Seq[String]) }
    (docs, t)
  }

  test("ppjoin is EXACT at any threshold: equals the naive all-pairs join on " +
    "random Zipfian corpora with planted near-duplicates") {
    forAll(ppjoinCorpusGen, n = 8) { case (docs, (tNum, tDen)) =>
      whenever(docs.size >= 2) {
        // production pipeline: same array_sort(array_distinct(...)) prep as q196
        val sets = docs.toDF("doc_id", "raw")
          .select(col("doc_id"), array_sort(array_distinct(col("raw"))).as("sh"))
        val got = Dedup.ppjoin(sets, tNum, tDen).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        // naive reference: every pair, exact set Jaccard, EXACT rational
        // threshold compare (inter·tDen ≥ union·tNum) — the contract ppjoin
        // guarantees even for thresholds like 1/3 that IEEE can't represent
        val byId = docs.map { case (id, ws) => id -> ws.toSet }.toMap
        val ids = docs.map(_._1)
        val expected = (for {
          a <- ids; b <- ids if a < b
          inter = (byId(a) & byId(b)).size
          union = (byId(a) | byId(b)).size
          if inter.toLong * tDen >= union.toLong * tNum
        } yield (a, b, inter.toDouble / union)).toSet
        // completeness (the prefix/size/positional prunes dropped nothing)
        // AND soundness (the verify admitted nothing extra), values exact
        assert(got == expected,
          s"t=$tNum/$tDen missing=${expected -- got} extra=${got -- expected}")
      }
    }
  }
}
