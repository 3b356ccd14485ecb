package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed-table layouts for shuffle-free co-located fact⋈fact joins.
  *
  * The recurring fact⋈fact joins of the warehouse layers (staging↔3NF
  * reconciliation runs on every load, `fact_dim_merging.sh:181-250`'s
  * fact/dim merge layer) shuffle both sides on every execution unless the
  * tables are bucketed on the join key; writing both sides with the same
  * bucket count and key lets Spark's FileSourceStrategy plan a sort-merge
  * join with NO Exchange — at 100 TB that's the difference between
  * re-shuffling the fact table per validation run and reading it in place.
  * Measured at sf100 (bench_out/r19_q174_bucketed_floor.json): the
  * 600M⋈150M orderkey SMJ OOMs on raw parquet at 0.25 GB/core and runs
  * 54.1 s min-of-3 over this layout at the same heap, because the
  * exchange AND the per-bucket sort (the allocation walls) are gone.
  *
  * == The declared layout ==
  *
  * A scale-factor directory `dir` may carry a bucketed sibling
  * `${dir}_bucketed/<table>/` holding the bucketed parquet files plus a
  * `_bucket_spec.json` sidecar (bucketCol/sortCol/buckets + a FINGERPRINT
  * of the raw source files). [[writeLayout]] produces it (the one-time,
  * ingest-provisioned step); [[resolve]] routes a read to it by
  * re-declaring the files as an EXTERNAL clustered table in the session
  * catalog — Spark only trusts bucket metadata from a catalog table, the
  * files alone (bucket ids in their names) are not enough. [[Tables.load]]
  * calls [[resolve]] first, so EVERY catalog query picks up the
  * exchange-free plan with no query changes the moment the layout exists.
  * Set `spark.graft.bucketed.disabled=true` (session conf, or
  * `-Dspark.graft.bucketed.disabled=true` on a main's JVM) to force the
  * raw path — the A/B knob the probe artifacts are measured with.
  *
  * == When to declare one (measured trade-off) ==
  *
  * The layout wins where the plan joins or aggregates ON the bucket key
  * (q174 2.5×, q200 2.0×, q183 1.5× at sf10; q174 OOM→54 s at sf100) and
  * LOSES where a full-table aggregate runs on a NON-bucket key: sorting
  * by the bucket key scatters every other key, and the partial aggregate
  * loses the locality the raw generation order gave it — measured 7× at
  * sf100 for `groupBy(l_partkey)` over orderkey-bucketed lineitem
  * (bench_out/r19_bucket_scan_probe.json; neither the sorted-scan flag
  * nor autoBucketedScan changes it — the cost is in the FILES, not the
  * scan mode). Declare layouts for join-dominated facts; audits that
  * profile the raw layer across many keys read it explicitly via
  * [[Tables.loadRaw]] (q149).
  *
  * Routing is transparent to correctness because [[resolve]] VERIFIES the
  * sidecar's source fingerprint against the raw table's current files
  * (relative path, length, mtime — the [[graft.functions.Tfidf.cachedIndex]]
  * staleness contract): a regenerated raw table silently falls back to the
  * raw read (with a stderr warning) instead of serving the stale layout.
  * The decision is memoized per (dir, table) for the JVM's lifetime —
  * object-store deployments pay the listing once, not per query —
  * and invalidated by [[writeLayout]]/[[adoptLayout]].
  *
  * (Requires a metastore-backed table, hence `saveAsTable`/`CREATE TABLE`;
  * plain `.parquet()` paths cannot carry bucket metadata.)
  */
object Bucketing {

  /** The bucketed sibling of a scale-factor directory. */
  def layoutDir(dir: String): String = s"${dir.stripSuffix("/")}_bucketed"

  /** Location of a table's declared layout for a KEY FAMILY. The primary
    * family (None) keeps the bare `<table>` directory — r19's layouts and
    * their sidecars stay valid unchanged; a secondary family lives at
    * `<table>__k_<bucketCol>`, so one table can carry one layout per join
    * key it is routinely joined/aggregated on (the r19 counter-case:
    * part-grain queries over orderkey-bucketed lineitem measured 7×
    * slower than raw, because a layout sorted on its bucket key scatters
    * every other key — the fix is not "no layout", it's a SECOND layout
    * in the partkey family, chosen per query).
    */
  def layoutLoc(dir: String, name: String, keyFamily: Option[String]): String =
    keyFamily match {
      case None    => s"${layoutDir(dir)}/$name"
      case Some(k) => s"${layoutDir(dir)}/${name}__k_$k"
    }

  private def fs(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fingerprint of every file under `path` (relative path, length,
    * mtime) — the same staleness contract as Tfidf.cachedIndex: content
    * regenerated at the same path hashes differently.
    */
  def fingerprint(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val f = fs(spark, p)
    def ls(q: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(q).toSeq.sortBy(_.getPath.getName)
        .flatMap(s => if (s.isDirectory) ls(s.getPath) else Seq(s))
    val root = p.toUri.getPath
    val sig = ls(p)
      .map(s => s"${s.getPath.toUri.getPath.stripPrefix(root)}:${s.getLen}:${s.getModificationTime}")
      .mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** One-time ingest-side layout step: write `$srcDir/$name.parquet`
    * bucketed+sorted on `bucketCol` under `layoutDir(srcDir)/$name`, with
    * the `_bucket_spec.json` sidecar [[resolve]] routes on. Run it at
    * ingest provisioning (generous heap — the write IS the one
    * shuffle+sort the layout exists to amortize); every later read is
    * exchange-free AND sort-free.
    *
    * ONE FILE PER BUCKET is load-bearing: Spark trusts a bucketed table's
    * SORTED BY only when each bucket holds a single file — with multiple
    * writer tasks per bucket the reader keeps a per-task Sort of the
    * whole bucket, which at sf100 re-creates exactly the allocation wall
    * the layout exists to remove (measured r19: the multi-file layout's
    * probe OOMs at 0.25 GB/core inside `Sort → SMJ` where the single-file
    * layout streams). The `repartition(numBuckets, key)` below aligns
    * with the bucket-id hash (both are pmod(murmur3, n)), so each task
    * holds exactly one bucket and writes exactly one file.
    */
  def writeLayout(spark: SparkSession, srcDir: String, name: String,
                  bucketCol: String, numBuckets: Int,
                  sortCol: Option[String] = None,
                  secondary: Boolean = false): String = {
    val family = if (secondary) Some(bucketCol) else None
    val loc = layoutLoc(srcDir, name, family)
    val tmpTable = s"graft_layout_tmp_${name}_${family.getOrElse("primary")}"
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    val locPath = new org.apache.hadoop.fs.Path(loc)
    fs(spark, locPath).delete(locPath, true)
    // saveAsTable with an explicit path = EXTERNAL table: dropping the
    // scratch catalog entry below keeps the files, which (plus the
    // sidecar) ARE the durable layout — catalogs are per-session here.
    var w = spark.read.parquet(s"$srcDir/$name.parquet")
      .repartition(numBuckets, org.apache.spark.sql.functions.col(bucketCol))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .option("path", loc)
    sortCol.foreach(c => w = w.sortBy(c))
    w.format("parquet").saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE $tmpTable")
    // the single-file-per-bucket invariant the read-side sort-drop needs
    // (an EMPTY bucket writes no file — fine; a bucket with TWO files
    // would silently re-introduce the read-side sort)
    val bucketIds = fs(spark, locPath).listStatus(locPath)
      .map(_.getPath.getName).filter(_.startsWith("part-"))
      .map(n => n.substring(n.lastIndexOf('_')))
    require(bucketIds.length == bucketIds.distinct.length,
      s"bucketed layout must hold at most one file per bucket at $loc; " +
        s"duplicate bucket ids: ${bucketIds.diff(bucketIds.distinct).take(5).mkString(",")}")
    writeSpec(spark, loc, bucketCol, numBuckets, sortCol,
      fingerprint(spark, s"$srcDir/$name.parquet"))
    invalidate(spark, srcDir, name, bucketCol, numBuckets, sortCol, family)
    loc
  }

  /** ADOPT an existing bucketed directory (files already written with the
    * right bucket ids and one file per bucket — e.g. by a previous tool
    * run) into the declared layout: validates the one-file-per-bucket
    * invariant AND that the files' data actually hashes to their claimed
    * bucket ids before writing the sidecar stamped with the CURRENT raw
    * source's fingerprint.
    *
    * The hash check is load-bearing: a mis-declared adopt (wrong key or
    * wrong bucket count) would make Spark plan EXCHANGE-FREE sort-merge
    * joins over wrongly-hashed files — silently wrong join results on
    * every routed query, the worst possible failure mode. Validation is
    * (a) every parsed bucket id < numBuckets, and (b) per FILE, a sampled
    * row prefix asserts `pmod(hash(bucketCol), numBuckets)` — Spark's own
    * bucket-id expression (Murmur3, seed 42) — equals the id in the file
    * name. Adopt is a one-time ingest-side step, so the per-file
    * limit-reads (first row group only) are cheap relative to the risk.
    */
  def adoptLayout(spark: SparkSession, srcDir: String, name: String,
                  bucketCol: String, numBuckets: Int,
                  sortCol: Option[String] = None,
                  sampleRowsPerFile: Int = 1000,
                  secondary: Boolean = false): String = {
    val family = if (secondary) Some(bucketCol) else None
    val loc = layoutLoc(srcDir, name, family)
    val locPath = new org.apache.hadoop.fs.Path(loc)
    val files = fs(spark, locPath).listStatus(locPath)
      .map(_.getPath).filter(_.getName.startsWith("part-"))
    val idRe = "_(\\d{5})(?:\\.|$)".r
    val parsed = files.map { p =>
      val id = idRe.findFirstMatchIn(p.getName.substring(p.getName.lastIndexOf('_')))
        .map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(
          s"adoptLayout: no bucket id parseable from file name ${p.getName}"))
      (p, id)
    }
    val ids = parsed.map(_._2)
    require(ids.nonEmpty && ids.length == ids.distinct.length,
      s"adoptLayout requires one file per bucket at $loc")
    require(ids.max < numBuckets,
      s"adoptLayout: file bucket id ${ids.max} >= declared numBuckets " +
        s"$numBuckets at $loc — the directory was written with a different " +
        "bucket count; re-run writeLayout instead of adopting")
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    parsed.foreach { case (p, id) =>
      val bad = spark.read.parquet(p.toString)
        .limit(sampleRowsPerFile)
        .filter(pmod(hash(col(bucketCol)), lit(numBuckets)) =!= id)
        .head(1)
      require(bad.isEmpty,
        s"adoptLayout: rows in ${p.getName} do not hash to bucket $id " +
          s"under pmod(murmur3($bucketCol), $numBuckets) — the directory " +
          "was bucketed on a different key or count; adopting it would " +
          "produce silently wrong exchange-free joins. Re-run writeLayout.")
    }
    writeSpec(spark, loc, bucketCol, numBuckets, sortCol,
      fingerprint(spark, s"$srcDir/$name.parquet"))
    invalidate(spark, srcDir, name, bucketCol, numBuckets, sortCol, family)
    loc
  }

  private def writeSpec(spark: SparkSession, loc: String, bucketCol: String,
                        numBuckets: Int, sortCol: Option[String],
                        srcFingerprint: String): Unit = {
    val json = s"""{"bucketCol":"$bucketCol","buckets":$numBuckets""" +
      sortCol.map(c => s""","sortCol":"$c"""").getOrElse("") +
      s""","srcFingerprint":"$srcFingerprint"}"""
    val p = new org.apache.hadoop.fs.Path(loc, "_bucket_spec.json")
    val out = fs(spark, p).create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Catalog table name for a declared layout: keyed on location AND spec,
    * so a layout regenerated with a different bucket count/key gets a
    * fresh entry instead of silently reusing stale bucket metadata from a
    * persisted metastore.
    */
  private def tableName(loc: String, bucketCol: String, buckets: Int,
                        sortCol: Option[String], name: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$loc|$bucketCol|$buckets|${sortCol.getOrElse("")}"
        .getBytes("UTF-8")).map("%02x".format(_)).mkString.take(10)
    s"graft_b_${h}_$name"
  }

  /** Drop the session catalog entry and the memoized route for a layout —
    * called after a rewrite so no query keeps reading a stale/dangling
    * cached FileIndex of the old files.
    */
  private def invalidate(spark: SparkSession, srcDir: String, name: String,
                         bucketCol: String, buckets: Int,
                         sortCol: Option[String],
                         family: Option[String]): Unit = {
    val loc = layoutLoc(srcDir, name, family)
    spark.sql(s"DROP TABLE IF EXISTS " +
      tableName(loc, bucketCol, buckets, sortCol, name))
    routes.remove((srcDir.stripSuffix("/"), name, family.getOrElse(""))); ()
  }

  // Memoized routing decisions: (raw dir, table, key family) →
  // Some(catalog table, bucketCol) / None (no layout, or stale). One
  // listing+fingerprint per JVM per table per family, not per query;
  // writeLayout/adoptLayout invalidate their key. An OUT-OF-BAND raw
  // regeneration mid-JVM is therefore not re-checked until the layout is
  // re-declared — the same freshness window as Spark's own cached file
  // listings.
  private val routes = scala.collection.concurrent.TrieMap
    .empty[(String, String, String), Option[(String, String)]]

  /** Test hook: drop the memoized routes of a table (all families),
    * simulating a fresh session after an out-of-band raw regeneration
    * (production invalidates via [[writeLayout]]/[[adoptLayout]]).
    */
  private[graft] def invalidateForTest(dir: String, name: String): Unit = {
    routes.keys.filter(k => k._1 == dir.stripSuffix("/") && k._2 == name)
      .foreach(routes.remove); ()
  }

  private def disabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.bucketed.disabled").contains("true")

  private def serve(spark: SparkSession, route: Option[(String, String)]):
      Option[DataFrame] = route match {
    case Some((tbl, _)) =>
      // Spark ≥3.0 ignores a bucketed table's SORTED BY at read time
      // unless this (misleadingly-named) flag is on; with it, a scan
      // whose buckets each hold ONE file — writeLayout's enforced
      // invariant — reports sorted output and the downstream SMJ drops
      // its per-bucket Sort. Without it the reader re-sorts every
      // bucket in-task, which at sf100 is exactly the allocation wall
      // the layout exists to remove (measured r19: OOM at 0.25 GB/core
      // with the flag off, streams with it on). Re-assert per call:
      // conf is session state and the memo may outlive a session.
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      Some(spark.table(tbl))
    case None => None
  }

  private def route(spark: SparkSession, dir: String, name: String,
                    family: Option[String]): Option[(String, String)] =
    routes.getOrElseUpdate((dir.stripSuffix("/"), name, family.getOrElse("")),
      resolveUncached(spark, dir, name, family))

  /** Route a table read to its declared PRIMARY bucketed layout, if a
    * FRESH one exists: Some(bucketed DataFrame) when the sidecar +
    * _SUCCESS are present and the sidecar's source fingerprint still
    * matches the raw table; None → caller falls back to raw parquet
    * (always-correct fallback — a stale layout warns and falls back
    * rather than serving old rows).
    */
  def resolve(spark: SparkSession, dir: String, name: String): Option[DataFrame] = {
    if (disabled(spark)) return None
    serve(spark, route(spark, dir, name, None))
  }

  /** Route a table read for a query whose joins/aggregates run ON `key`:
    * serve a layout ONLY when its bucket column IS `key` — the primary
    * layout when it happens to be keyed right, else the `key`-family
    * secondary — and None otherwise, so the caller reads the RAW files.
    * Falling back to a wrong-key layout is never right: the r19 probe
    * measured a partkey aggregate 7× slower over orderkey-bucketed files
    * than over raw (the bucket-key sort scatters every other key), so a
    * key-hinted read prefers raw generation order over any mismatched
    * layout.
    */
  def resolveForKey(spark: SparkSession, dir: String, name: String,
                    key: String): Option[DataFrame] = {
    if (disabled(spark)) return None
    serve(spark,
      route(spark, dir, name, None).filter(_._2 == key)
        .orElse(route(spark, dir, name, Some(key))))
  }

  private def resolveUncached(spark: SparkSession, dir: String, name: String,
                              family: Option[String]): Option[(String, String)] = {
    val loc = layoutLoc(dir, name, family)
    val locPath = new org.apache.hadoop.fs.Path(loc)
    val f = fs(spark, locPath)
    val specPath = new org.apache.hadoop.fs.Path(locPath, "_bucket_spec.json")
    if (!f.exists(specPath) ||
        !f.exists(new org.apache.hadoop.fs.Path(locPath, "_SUCCESS"))) return None
    val spec = {
      val in = f.open(specPath)
      val buf = new java.io.ByteArrayOutputStream()
      try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      finally in.close()
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new String(buf.toByteArray, "UTF-8"))
    }
    val bucketCol = spec.get("bucketCol").asText()
    val buckets = spec.get("buckets").asInt()
    val sortCol = Option(spec.get("sortCol")).map(_.asText())
    // Staleness guard: the layout serves ONLY the raw files it was built
    // from. No fingerprint in the sidecar (pre-r19 layout) or a mismatch
    // (raw table regenerated since) → warn + raw fallback; re-run
    // writeLayout/adoptLayout to re-declare.
    val declared = Option(spec.get("srcFingerprint")).map(_.asText())
    val current = scala.util.Try(
      fingerprint(spark, s"$dir/$name.parquet")).toOption
    if (declared.isEmpty || current.isEmpty || declared != current) {
      System.err.println(s"WARN Bucketing: declared layout at $loc is " +
        s"STALE or unstamped vs $dir/$name.parquet " +
        s"(declared=${declared.getOrElse("-")} current=${current.getOrElse("-")}); " +
        "falling back to the raw read — re-run writeLayout/adoptLayout")
      return None
    }
    // a secondary layout's directory name CLAIMS its key family — a
    // sidecar disagreeing with it is a mis-assembled layout, never route
    if (family.exists(_ != bucketCol)) {
      System.err.println(s"WARN Bucketing: layout at $loc declares " +
        s"bucketCol=$bucketCol but its key-family directory claims " +
        s"${family.get}; not routing")
      return None
    }
    val tbl = tableName(loc, bucketCol, buckets, sortCol, name)
    if (!spark.catalog.tableExists(tbl)) {
      val ddl = spark.read.parquet(loc).schema.toDDL
      val sorted = sortCol.map(c => s"SORTED BY ($c)").getOrElse("")
      spark.sql(s"""CREATE TABLE IF NOT EXISTS $tbl ($ddl) USING parquet
        CLUSTERED BY ($bucketCol) $sorted INTO $buckets BUCKETS
        LOCATION '$loc'""")
    }
    Some((tbl, bucketCol))
  }

  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCol: Option[String] = None): Unit = {
    var w = df.write.mode(SaveMode.Overwrite).bucketBy(numBuckets, bucketCol)
    sortCol.foreach(c => w = w.sortBy(c))
    w.format("parquet").saveAsTable(table)
  }

  def table(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** True when the physical plan of `df` contains no shuffle exchange —
    * the assertion that bucketing actually removed the shuffle.
    */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.sparkPlan.toString.contains("Exchange")
}
