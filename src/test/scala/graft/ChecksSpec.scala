package graft

import graft.dq.Checks
import graft.model.ValidationResult
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("countMatch passes on equal counts, fails otherwise") {
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(4, 5, 6).toDF("x")
    assert(Checks.countMatch(a, b, "s", "STAGING").testResult == ValidationResult.PASSED)
    assert(Checks.countMatch(a, b.limit(2), "s", "STAGING").testResult == ValidationResult.FAILED)
  }

  test("dataMatch is order-insensitive and fails on content diff") {
    val a = Seq((1, "x"), (2, "y")).toDF("k", "v")
    val b = Seq((2, "y"), (1, "x")).toDF("k", "v")
    assert(Checks.dataMatch(a, b, "s", "3NF").testResult == ValidationResult.PASSED)
    val c = Seq((1, "x"), (2, "z")).toDF("k", "v")
    assert(Checks.dataMatch(a, c, "s", "3NF").testResult == ValidationResult.FAILED)
  }

  test("dataMatchHashed second fold is independent of the sum fold") {
    // The retired fold sum(h >> 1) obeys sum(h>>1) == (sum(h) - sum(h&1))/2
    // IDENTICALLY (h>>1 = (h - (h&1))/2 for every two's-complement long) —
    // beyond the first fold it carried only the parity count, so any
    // sum-colliding bag with matching parity slipped through. Demonstrate
    // the linear dependence on real data, and that the xxhash64 re-mix fold
    // does not satisfy it.
    val df = spark.range(0, 1000).toDF("k")
      .withColumn("h", xxhash64(col("k")))
    val r = df.agg(
      sum(col("h").cast("decimal(38,0)")).as("s"),
      sum(shiftright(col("h"), 1).cast("decimal(38,0)")).as("s_shift"),
      sum(col("h").bitwiseAND(lit(1L)).cast("decimal(38,0)")).as("s_parity"),
      sum(xxhash64(col("h")).cast("decimal(38,0)")).as("s_mix")).head()
    val (s, sShift, sParity, sMix) =
      (BigInt(r.getDecimal(0).toBigInteger), BigInt(r.getDecimal(1).toBigInteger),
        BigInt(r.getDecimal(2).toBigInteger), BigInt(r.getDecimal(3).toBigInteger))
    assert(sShift == (s - sParity) / 2, "old fold is a linear function of (sum, parity)")
    assert(sMix != (s - sParity) / 2, "re-mixed fold must not be that linear function")
  }

  test("dataMatchHashed bag semantics: reorder passes; duplicate or edit fails") {
    val a = Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v")
    val reordered = Seq((3, "z"), (1, "x"), (2, "y")).toDF("k", "v")
    assert(Checks.dataMatchHashed(a, reordered, "s", "3NF").testResult == ValidationResult.PASSED)
    val dup = a.unionAll(Seq((1, "x")).toDF("k", "v"))
    assert(Checks.dataMatchHashed(a, dup, "s", "3NF").testResult == ValidationResult.FAILED)
    val edited = Seq((1, "x"), (2, "y"), (3, "Z")).toDF("k", "v")
    assert(Checks.dataMatchHashed(a, edited, "s", "3NF").testResult == ValidationResult.FAILED)
  }

  test("duplicateCheck and nullCheck") {
    val clean = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val dup = Seq((1, "a"), (1, "a")).toDF("k", "v")
    assert(Checks.duplicateCheck(clean, "s", "DWDD").testResult == ValidationResult.PASSED)
    assert(Checks.duplicateCheck(dup, "s", "DWDD").testResult == ValidationResult.FAILED)
    val withNull = Seq((Some(1), Some("a")), (None, Some("b"))).toDF("k", "v")
    assert(Checks.nullCheck(withNull, "s", "DWDD", Seq("k")).testResult == ValidationResult.FAILED)
    assert(Checks.nullCheck(withNull, "s", "DWDD", Seq("v")).testResult == ValidationResult.PASSED)
  }

  test("offsetGaps flags broken seams only") {
    val ledger = Seq(
      ("t", 0, 1L, 0L, 100L), ("t", 0, 2L, 100L, 180L), ("t", 0, 3L, 185L, 200L),
      ("t", 1, 1L, 0L, 50L), ("t", 1, 2L, 50L, 75L)
    ).toDF("topicName", "partition", "jobRunId", "fromOffset", "untilOffset")
    val gaps = Checks.offsetGaps(ledger, col("topicName"), col("partition"),
      col("jobRunId"), col("fromOffset"), col("untilOffset")).collect()
    assert(gaps.length == 1)
    assert(gaps.head.getAs[Long]("jobRunId") == 3L)
  }

  test("offsetContinuity + offsetCountMatch on a typed ledger") {
    import graft.model.OffsetRange
    val ledger = Seq(
      OffsetRange("t", 0, 1L, 0L, 100L),
      OffsetRange("t", 0, 2L, 100L, 150L)).toDS().toDF()
    assert(Checks.offsetContinuity(ledger, "t").testResult == ValidationResult.PASSED)
    assert(Checks.offsetCountMatch(ledger, 150L, "t").testResult == ValidationResult.PASSED)
    assert(Checks.offsetCountMatch(ledger, 149L, "t").testResult == ValidationResult.FAILED)
  }

  test("standardStageChecks emits the four standard audit rows") {
    val a = Seq((1, "x")).toDF("k", "v")
    val results = Checks.standardStageChecks(spark, a, a, "src", "STAGING").collect()
    assert(results.length == 4)
    assert(results.map(_.testCase).toSet ==
      Set("count_match", "data_match", "duplicate_check", "null_check"))
    assert(results.forall(_.testResult == ValidationResult.PASSED))
  }

  test("standardStageChecks runs as one grouped aggregate: job count pinned") {
    SpecIo.withTempDir("checks-jobs") { dir =>
      Seq((1L, "x"), (2L, "y"), (2L, "y")).toDF("k", "v").write.parquet(s"$dir/a")
      Seq((2L, "y"), (1L, "x"), (3L, null)).toDF("k", "v").write.parquet(s"$dir/b")
      val (a, b) = (spark.read.parquet(s"$dir/a"), spark.read.parquet(s"$dir/b"))
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      org.apache.spark.TestBus.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
      try {
        val results = Checks.standardStageChecks(spark, a, b, "src", "STAGING").collect()
        org.apache.spark.TestBus.drain(spark.sparkContext)
        assert(results.map(_.testResult).toSeq ==
          Seq(ValidationResult.PASSED, ValidationResult.FAILED,
            ValidationResult.PASSED, ValidationResult.FAILED))
      } finally spark.sparkContext.removeSparkListener(listener)
      // Shuffle stage, global-fold stage, result; the four single checks
      // run one by one submit 13 jobs on these frames.
      assert(jobs.get == 3, s"jobs=${jobs.get}")
    }
  }

  test("dataMatchHashed: order-insensitive, bag semantics, detects diffs") {
    val a = Seq((1, "x"), (2, "y"), (2, "y")).toDF("k", "v")
    val b = Seq((2, "y"), (1, "x"), (2, "y")).toDF("k", "v")
    assert(Checks.dataMatchHashed(a, b, "s", "3NF").testResult == ValidationResult.PASSED)
    // bag semantics: dropping one duplicate changes the digest
    val c = Seq((1, "x"), (2, "y")).toDF("k", "v")
    assert(Checks.dataMatchHashed(a, c, "s", "3NF").testResult == ValidationResult.FAILED)
    // content diff detected
    val d = Seq((1, "x"), (2, "z"), (2, "y")).toDF("k", "v")
    assert(Checks.dataMatchHashed(a, d, "s", "3NF").testResult == ValidationResult.FAILED)
  }

  test("profile quantiles sketch per numeric column") {
    val df = (1 to 100).map(i => (i, i.toDouble * 2)).toDF("a", "b")
    val q = graft.dq.Profile.quantiles(df, Seq(0.5), relativeError = 0.01)
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(math.abs(q("a").head - 50.0) <= 2.0)
    assert(math.abs(q("b").head - 100.0) <= 4.0)
  }

  test("zscoreOutliers flags only far-from-group-mean values, per group") {
    // group a: 20 values at ~10 plus one at 1000; group b: tight around 50
    // with a spike that is only an outlier relative to b's own stddev
    val a = (1 to 20).map(i => ("a", i.toLong, 10.0 + (i % 3))) :+ (("a", 99L, 1000.0))
    val b = (1 to 20).map(i => ("b", 100L + i, 50.0 + (i % 2) * 0.02)) :+ (("b", 199L, 51.0))
    val df = (a ++ b).toDF("grp", "id", "v")
    val out = Checks.zscoreOutliers(df, col("grp"), col("v"), threshold = 3.0)
      .select(col("grp"), col("id"), col("z"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("a", 99L), ("b", 199L)))
    // z is derived from exact integer sums: recompute group a's z by hand
    val vc = a.map(x => math.round(x._3 * 100))
    val n = vc.length; val s = vc.sum.toDouble; val ss = vc.map(v => v * v).sum.toDouble
    val z = (100000.0 - s / n) / math.sqrt((ss - s * s / n) / n)
    val got = Checks.zscoreOutliers(df, col("grp"), col("v"), 3.0)
      .filter(col("id") === 99L).select(col("z")).head().getDouble(0)
    assert(got == z, s"exact z: got $got want $z")
  }

  test("releaseDiff classifies added/removed/changed/unchanged per rollup group") {
    import graft.functions.Text
    val prev = Seq((1L, "s1", "alpha"), (2L, "s1", "beta"),
      (3L, "s2", "gamma"), (4L, "s2", "delta")).toDF("id", "src", "text")
    val cur = Seq((1L, "s1", "alpha"), // unchanged
      (2L, "s1", "beta rev2"),         // changed
      (5L, "s2", "new doc")            // added; 3 and 4 removed
    ).toDF("id", "src", "text")
    val out = Checks.releaseDiff(prev, cur, col("id"),
        Text.fingerprint(col("text")), col("src"))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(
      "s1" -> ((0L, 0L, 1L, 1L)),
      "s2" -> ((1L, 2L, 0L, 0L))), out.toString)
  }

  test("zscoreOutliers: zero-variance and singleton groups flag nothing") {
    // sd = 0 makes z = 0/0 = NaN, and NaN sorts above every number — an
    // unguarded |z| > t would flag EVERY row of a constant group.
    val df = ((1 to 10).map(i => ("const", i.toLong, 42.0)) :+
      (("single", 99L, 7.0))).toDF("grp", "id", "v")
    val out = Checks.zscoreOutliers(df, col("grp"), col("v"), threshold = 3.0)
    assert(out.count() == 0L)
  }

  test("fkProfile: counts, skew multiple, orphans and dead dim keys on a known edge") {
    // fact keys: 1 x5 (hot), 2 x2, 3 x1, 7 x2 (orphan — not in dim), null (ignored)
    val fact = (Seq.fill(5)(1) ++ Seq(2, 2, 3, 7, 7)).map(k => (Option(k), "r"))
      .toDF("k", "payload")
      .unionAll(Seq((Option.empty[Int], "r")).toDF("k", "payload"))
    val dim = Seq(1, 2, 3, 9).toDF("dk")   // 9 is a dead dim key
    val r = Checks.fkProfile(fact, col("k"), dim, col("dk"), "f.k->d").collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getString(0) == "f.k->d")
    assert(row.getLong(1) == 10L, "null keys excluded from n_rows")
    assert(row.getLong(2) == 4L, "distinct non-null keys")
    assert(row.getLong(3) == 5L, "hottest key frequency")
    // mean freq = 10 DIV 4 = 2 -> hot key is 2.5x the mean = 2500000 ppm
    assert(row.getLong(4) == 2500000L, s"skew_ppm ${row.getLong(4)}")
    assert(row.getLong(5) == 2L, "orphan fact rows (key 7)")
    assert(row.getLong(6) == 1L, "dead dim keys (key 9)")
  }

  test("fkProfile: empty fact (or all-NULL keys) keeps the all-integer audit contract") {
    // every stat must come back 0, never NULL — the audit table's columns
    // are non-null integers and a NULL row breaks downstream rollups
    val fact = Seq((Option.empty[Int], "r")).toDF("k", "payload")
    val dim = Seq(1, 2).toDF("dk")
    val row = Checks.fkProfile(fact, col("k"), dim, col("dk"), "empty").collect().head
    assert(!row.anyNull, row.toString)
    assert(row.getLong(1) == 0L && row.getLong(2) == 0L &&
      row.getLong(3) == 0L && row.getLong(4) == 0L, row.toString)
    assert(row.getLong(5) == 0L, "no orphans")
    assert(row.getLong(6) == 2L, "every dim key unmatched")
  }
}
