package graft

import graft.pipeline.RunControl
import graft.sources.Bucketing
import org.scalatest.funsuite.AnyFunSuite

class RunControlBucketingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("run-control lifecycle: register → success → reprocess flag → latest") {
    SpecIo.withTempDir("graft_ctl") { scratch =>
      val path = scratch + "/control"
      RunControl.registerRun(spark, path, runId = 1L, jobId = 10L, targetObjectId = 7L)
      RunControl.markStatus(spark, path, 1L, status = 1)
      RunControl.registerRun(spark, path, runId = 2L, jobId = 10L, targetObjectId = 7L)
      RunControl.markStatus(spark, path, 2L, status = 1)
      RunControl.registerRun(spark, path, runId = 3L, jobId = 10L, targetObjectId = 7L)
      // run 3 still status 0 → not a candidate
      assert(RunControl.latestSuccessfulRun(spark, path, 10L).contains(2L))
      RunControl.flagReprocess(spark, path, 1L)
      val rep = RunControl.runsToReprocess(spark, path).collect()
      assert(rep.length == 1 && rep.head.getAs[Long]("jobRunId") == 1L)
      // other rows untouched by the in-place updates
      val all = spark.read.parquet(path)
      assert(all.count() == 3)
      assert(all.filter($"jobRunStatus" === 1).count() == 2)
    }
  }

  test("bucketed join on the bucket key plans without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_fact")
    spark.sql("DROP TABLE IF EXISTS b_dim")
    // the derby metastore is per-JVM but warehouse dirs persist across
    // forked runs — clear stale locations or saveAsTable refuses
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("b_fact", "b_dim").foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"spark-warehouse/$t"), true)
    }
    val fact = (1L to 1000L).map(i => (i % 50, s"p$i")).toDF("k", "payload")
    val other = (1L to 500L).map(i => (i % 50, i)).toDF("k", "v")
    Bucketing.writeBucketed(fact, "b_fact", "k", numBuckets = 8, sortCol = Some("k"))
    Bucketing.writeBucketed(other, "b_dim", "k", numBuckets = 8, sortCol = Some("k"))
    val joined = Bucketing.table(spark, "b_fact")
      .join(Bucketing.table(spark, "b_dim"), "k")
    assert(Bucketing.isShuffleFree(joined),
      s"expected no Exchange:\n${joined.queryExecution.sparkPlan}")
    // and the join result is correct
    assert(joined.count() == 1000L * 10) // each k has 20 fact × 10 dim rows / 50 keys
  }

  test("q174 over bucketed lineitem/orders: orderkey exchange gone, result " +
    "identical to the raw-parquet leg (the BucketedFactProbe contract)") {
    val dir = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS li_b174")
    spark.sql("DROP TABLE IF EXISTS ord_b174")
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    Seq("li_b174", "ord_b174").foreach { t =>
      fs.delete(new org.apache.hadoop.fs.Path(s"spark-warehouse/$t"), true)
    }
    Bucketing.writeBucketed(spark.read.parquet(s"$dir/lineitem.parquet"),
      "li_b174", "l_orderkey", numBuckets = 8, sortCol = Some("l_orderkey"))
    Bucketing.writeBucketed(spark.read.parquet(s"$dir/orders.parquet"),
      "ord_b174", "o_orderkey", numBuckets = 8, sortCol = Some("o_orderkey"))
    val bucketed = Queries.varianceBridgeFrom(
      spark.table("li_b174"), spark.table("ord_b174"),
      spark.read.parquet(s"$dir/part.parquet"))
    // the lineitem⋈orders leg neither exchanges nor sorts on orderkey —
    // the allocation behind the raw layout's measured 1 GB/core sf100 floor
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning(l_orderkey") &&
      !plan.contains("hashpartitioning(o_orderkey"), plan.take(3000))
    // value-identical to the raw-parquet builder (same logical query, so
    // the committed oracle hash is unchanged by construction)
    val raw = Queries.varianceBridge(spark, dir).collect().map(_.toSeq).toSeq
    val got = bucketed.orderBy($"brand").collect().map(_.toSeq).toSeq
    assert(got == raw && raw.nonEmpty)
  }

  test("Tables.load routes to a DECLARED bucketed layout: the unchanged " +
    "catalog builder plans orderkey-exchange-free and stays value-identical") {
    val src = "/root/testdata/sf0.001"
    SpecIo.withTempDir("graft_blayer") { scratch =>
      val tmp = scratch + "/sf"
      // a layer directory the test owns (testdata is read-only): stage the
      // three tables the query touches, raw
      Seq("lineitem", "orders", "part").foreach { t =>
        spark.read.parquet(s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
      }
      // the one-time ingest-side layout step, fact sides only
      Bucketing.writeLayout(spark, tmp, "lineitem", "l_orderkey",
        numBuckets = 8, sortCol = Some("l_orderkey"))
      Bucketing.writeLayout(spark, tmp, "orders", "o_orderkey",
        numBuckets = 8, sortCol = Some("o_orderkey"))
      // the UNCHANGED q174 builder over the routed loader — no query edits
      val routed = Queries.varianceBridge(spark, tmp)
      val plan = routed.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning(l_orderkey") &&
        !plan.contains("hashpartitioning(o_orderkey"),
        s"routed plan must not exchange on orderkey:\n${plan.take(3000)}")
      // the routing is visible in the scans: both fact sides read the
      // _bucketed layout; part (no layout) still reads raw — mixed layers
      // compose in one plan
      assert(plan.contains("_bucketed/lineitem") && plan.contains("_bucketed/orders"),
        s"fact scans must read the bucketed layout:\n${plan.take(3000)}")
      assert(plan.contains("part.parquet"), plan.take(3000))
      val got = routed.collect().map(_.toSeq).toSeq
      // raw leg via the A/B knob, same dir — proves the knob forces the
      // fallback AND pins value identity between the two layouts. (At this
      // toy sf the raw plan broadcasts orders, so the raw-vs-bucketed
      // difference is pinned on scan LOCATIONS, not on exchange shape —
      // the exchange-level pin lives in the sf100 probe artifact.)
      spark.conf.set("spark.graft.bucketed.disabled", "true")
      val raw = try Queries.varianceBridge(spark, tmp) finally
        spark.conf.unset("spark.graft.bucketed.disabled")
      val rawPlan = raw.queryExecution.executedPlan.toString
      assert(!rawPlan.contains("_bucketed"),
        "the disabled knob must fall back to the raw parquet scans")
      assert(got == raw.collect().map(_.toSeq).toSeq && got.nonEmpty)
    }
  }

  test("a REGENERATED raw table makes its declared layout stale: resolve " +
    "falls back to the raw read (never serves old rows) until re-declared") {
    val src = "/root/testdata/sf0.001"
    SpecIo.withTempDir("graft_blayer_stale") { scratch =>
      val tmp = scratch + "/sf"
      spark.read.parquet(s"$src/orders.parquet")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      Bucketing.writeLayout(spark, tmp, "orders", "o_orderkey",
        numBuckets = 4, sortCol = Some("o_orderkey"))
      val n0 = graft.sources.Tables.load(spark, tmp, "orders").count()
      assert(Bucketing.resolve(spark, tmp, "orders").isDefined)
      // regenerate the raw table with FEWER rows at the same path
      val half = spark.read.parquet(s"$src/orders.parquet")
        .filter($"o_orderkey" % 2 === 0)
      val halfCount = half.count()
      half.write.mode("overwrite").parquet(s"$tmp/orders.parquet.new")
      // (write to a sibling then swap, so the read above doesn't race)
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(s"$tmp/orders.parquet"), true)
      fsys.rename(new org.apache.hadoop.fs.Path(s"$tmp/orders.parquet.new"),
        new org.apache.hadoop.fs.Path(s"$tmp/orders.parquet"))
      // the memoized route must not outlive the regeneration in this test:
      // re-declaring (adopt/writeLayout) is the production path, and it
      // invalidates; here we simulate "another session discovers staleness"
      // by adopting with a DIFFERENT spec first? No — adoptLayout would
      // re-stamp. Instead writeLayout's invalidate is exercised by
      // re-declaring below; the fingerprint guard itself is exercised by a
      // fresh resolve after invalidation:
      Bucketing.writeLayout(spark, tmp, "orders", "o_orderkey",
        numBuckets = 4, sortCol = Some("o_orderkey")) // re-declare = fresh
      assert(graft.sources.Tables.load(spark, tmp, "orders").count() == halfCount)
      // now regenerate AGAIN without re-declaring: the layout is stale and
      // resolve must fall back to raw rather than serve the layout's rows
      spark.read.parquet(s"$src/orders.parquet")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet.new2")
      fsys.delete(new org.apache.hadoop.fs.Path(s"$tmp/orders.parquet"), true)
      fsys.rename(new org.apache.hadoop.fs.Path(s"$tmp/orders.parquet.new2"),
        new org.apache.hadoop.fs.Path(s"$tmp/orders.parquet"))
      Bucketing.invalidateForTest(tmp, "orders") // drop the memoized route
      assert(Bucketing.resolve(spark, tmp, "orders").isEmpty,
        "stale layout must not route")
      assert(graft.sources.Tables.load(spark, tmp, "orders").count() == n0,
        "fallback must serve the CURRENT raw rows")
    }
  }

  test("SECONDARY key-family layouts: a key-hinted load serves exactly " +
    "the matching family — the primary when it is keyed right, the " +
    "secondary for its family, RAW otherwise (never a wrong-key layout) " +
    "— and the staleness contract covers both layouts") {
    val src = "/root/testdata/sf0.001"
    SpecIo.withTempDir("graft_blayer2") { scratch =>
      val tmp = scratch + "/sf"
      spark.read.parquet(s"$src/lineitem.parquet")
        .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
      Bucketing.writeLayout(spark, tmp, "lineitem", "l_orderkey",
        numBuckets = 8, sortCol = Some("l_orderkey"))
      Bucketing.writeLayout(spark, tmp, "lineitem", "l_partkey",
        numBuckets = 8, sortCol = Some("l_partkey"), secondary = true)
      import org.apache.spark.sql.functions.{col, count, lit}
      def planOf(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString
      // scan locations read via inputFiles (the executed-plan STRING
      // truncates long paths mid-directory-name — r20 lesson)
      def scans(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.inputFiles.map(_.split("/").dropRight(1).mkString("/")).toSet
      // plain load keeps routing to the PRIMARY (r19 behavior unchanged)
      val plain = graft.sources.Tables.load(spark, tmp, "lineitem")
      assert(scans(plain).forall(_.endsWith("_bucketed/lineitem")), scans(plain))
      // partkey-hinted load routes the partkey family: the part-grain
      // aggregate plans with NO exchange over the secondary layout
      val hinted = graft.sources.Tables.load(spark, tmp, "lineitem", "l_partkey")
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
      assert(scans(hinted).forall(_.endsWith("lineitem__k_l_partkey")), scans(hinted))
      assert(!planOf(hinted).contains("hashpartitioning(l_partkey"),
        s"partkey aggregate must be exchange-free over the partkey family:\n" +
          planOf(hinted).take(2000))
      // a key with NO declared family reads RAW — a wrong-key layout
      // (bucket-key sort scatters other keys, measured 7x at sf100) is
      // worse than the raw generation order
      val rawHint = graft.sources.Tables.load(spark, tmp, "lineitem", "l_suppkey")
      assert(scans(rawHint).forall(_.endsWith("lineitem.parquet")), scans(rawHint))
      // an orderkey hint reuses the PRIMARY layout (no duplicate declared)
      val okHint = graft.sources.Tables.load(spark, tmp, "lineitem", "l_orderkey")
      assert(scans(okHint).forall(_.endsWith("_bucketed/lineitem")), scans(okHint))
      // all routes serve identical rows
      val n = spark.read.parquet(s"$tmp/lineitem.parquet").count()
      assert(plain.count() == n && rawHint.count() == n && okHint.count() == n)
      assert(hinted.agg(org.apache.spark.sql.functions.sum(col("n"))).head().getLong(0) == n)
      // staleness covers the SECONDARY too: regenerate the raw table and
      // the partkey-family hint falls back to raw (fresh rows, no layout)
      val half = spark.read.parquet(s"$tmp/lineitem.parquet")
        .filter(col("l_orderkey") % 2 === 0)
      val halfCount = half.count()
      half.write.mode("overwrite").parquet(s"$tmp/lineitem.parquet.new")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(s"$tmp/lineitem.parquet"), true)
      fsys.rename(new org.apache.hadoop.fs.Path(s"$tmp/lineitem.parquet.new"),
        new org.apache.hadoop.fs.Path(s"$tmp/lineitem.parquet"))
      Bucketing.invalidateForTest(tmp, "lineitem")
      assert(Bucketing.resolveForKey(spark, tmp, "lineitem", "l_partkey").isEmpty,
        "stale secondary layout must not route")
      assert(graft.sources.Tables.load(spark, tmp, "lineitem", "l_partkey")
        .count() == halfCount)
    }
  }

  test("adoptLayout REJECTS a mis-declared directory: wrong bucket count " +
    "or wrong key would plan exchange-free SMJs over wrongly-hashed files " +
    "(silently wrong joins), so adoption validates the files' hashes") {
    val src = "/root/testdata/sf0.001"
    SpecIo.withTempDir("graft_badopt") { scratch =>
      val tmp = scratch + "/sf"
      spark.read.parquet(s"$src/orders.parquet")
        .write.mode("overwrite").parquet(s"$tmp/orders.parquet")
      Bucketing.writeLayout(spark, tmp, "orders", "o_orderkey",
        numBuckets = 8, sortCol = Some("o_orderkey"))
      // wrong bucket count: files carry ids up to 7, declaring 4 must throw
      val e1 = intercept[IllegalArgumentException] {
        Bucketing.adoptLayout(spark, tmp, "orders", "o_orderkey", numBuckets = 4)
      }
      assert(e1.getMessage.contains("different"), e1.getMessage)
      // wrong key: the files are hashed on o_orderkey, claiming o_custkey
      // must fail the sampled per-file hash assertion
      val e2 = intercept[IllegalArgumentException] {
        Bucketing.adoptLayout(spark, tmp, "orders", "o_custkey", numBuckets = 8)
      }
      assert(e2.getMessage.contains("hash"), e2.getMessage)
      // the true declaration re-adopts cleanly and routes
      Bucketing.adoptLayout(spark, tmp, "orders", "o_orderkey", numBuckets = 8,
        sortCol = Some("o_orderkey"))
      assert(Bucketing.resolve(spark, tmp, "orders").isDefined)
    }
  }

  test("q149's raw-layer audit stays on the RAW files even when a layout " +
    "is declared (the loadRaw opt-out — non-bucket-key aggregates measured " +
    "7x slower over the re-sorted layout)") {
    val src = "/root/testdata/sf0.001"
    SpecIo.withTempDir("graft_blayer_raw") { scratch =>
      val tmp = scratch + "/sf"
      Seq("lineitem", "orders", "part", "supplier", "customer", "nation")
        .foreach { t =>
          spark.read.parquet(s"$src/$t.parquet")
            .write.mode("overwrite").parquet(s"$tmp/$t.parquet")
        }
      Bucketing.writeLayout(spark, tmp, "lineitem", "l_orderkey",
        numBuckets = 4, sortCol = Some("l_orderkey"))
      Bucketing.writeLayout(spark, tmp, "orders", "o_orderkey",
        numBuckets = 4, sortCol = Some("o_orderkey"))
      val plan = Queries.joinStats(spark, tmp).queryExecution.executedPlan.toString
      assert(!plan.contains("_bucketed"),
        s"the raw-layer audit must not read the bucketed layout:\n${plan.take(2000)}")
    }
  }

  test("a table WITHOUT a declared layout falls back to raw parquet " +
    "(negative control: no sidecar → no routing)") {
    val src = "/root/testdata/sf0.001"
    SpecIo.withTempDir("graft_blayer_neg") { scratch =>
      val tmp = scratch + "/sf"
      spark.read.parquet(s"$src/nation.parquet")
        .write.mode("overwrite").parquet(s"$tmp/nation.parquet")
      val df = graft.sources.Tables.load(spark, tmp, "nation")
      assert(df.count() == spark.read.parquet(s"$src/nation.parquet").count())
      assert(Bucketing.resolve(spark, tmp, "nation").isEmpty)
    }
  }
}
