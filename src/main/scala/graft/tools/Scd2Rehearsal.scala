package graft.tools

import graft.pipeline.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SCD Type-2 dimension-churn rehearsal at scale (r18 verdict task 7):
  * [[graft.pipeline.Pipeline.applyScd2Dated]] is spec-verified on a
  * handful of rows (PipelineSpec); this drives the same merge through a
  * MULTI-RUN churn cycle over the sf10 customer dimension (1.5M business
  * keys) with on-disk generations, then audits the full version chain and
  * serves point-in-time reads over it — `rerunnability.sh:64-134`'s
  * Type-2 dispatch at the scale where a mis-shaped merge (e.g. a version
  * fan-out or a full-history rewrite per run) becomes visible in the wall
  * clock.
  *
  * Each run r (r = 1..runs):
  *  - a deterministic ~2% key slice churns: `c_custkey % 50 == r % 50`,
  *    new attribute value stamped with the run id;
  *  - `applyScd2Dated` closes the open versions of exactly that slice and
  *    appends the new open versions, effective at day r (a literal
  *    timestamp — the rerun-determinism contract of the API);
  *  - the result overwrites the NEXT generation directory (alternating
  *    gen0/gen1 — Spark cannot overwrite the parquet it is reading), and
  *    wall time is recorded.
  *
  * Post-churn audits (all distributed, nothing collected but counts):
  *  - open-version count == distinct business keys (every key has exactly
  *    one open version);
  *  - total version count == initial + Σ per-run churn sizes (closed
  *    history is never dropped or duplicated);
  *  - zero keys with overlapping validity windows (a closed version's
  *    effective_to equals the succeeding version's effective_from);
  *  - point-in-time: [[Pipeline.lookupAsOf]] at day r + 12h returns,
  *    for every churned key of run r, the version stamped r — and for a
  *    pre-churn time, the initial version. Mismatches counted in-plan.
  *
  * Usage: `runMain graft.tools.Scd2Rehearsal [sfDir] [outJson] [runs]`
  * (defaults /tmp/graft_sf10, BENCH_SCD2_SF10.json, 8).
  */
object Scd2Rehearsal {

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_sf10")
    val outJson = args.lift(1).getOrElse("BENCH_SCD2_SF10.json")
    val runs = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = graft.SessionProfile.session(graft.SessionProfile.envCpus("32"),
      graft.SessionProfile.envShufflePartitions("64"))
    val scratch = java.nio.file.Files.createTempDirectory("graft_scd2").toString
    try rehearse(spark, sfDir, outJson, runs, scratch)
    finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    spark.stop()
  }

  private def rehearse(spark: SparkSession, sfDir: String, outJson: String,
                       runs: Int, scratch: String): Unit = {
    def gen(i: Int) = s"$scratch/dim_gen${i % 2}"
    def day(r: Int) = to_timestamp(lit(f"2020-01-${r + 1}%02d 00:00:00"))

    val dim0 = graft.sources.Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("attr"),
        col("c_mktsegment").as("segment"))
    Pipeline.scd2Init(dim0, day(0)).write.mode("overwrite").parquet(gen(0))
    val nKeys = spark.read.parquet(gen(0)).count()

    def churnSlice(r: Int): DataFrame =
      dim0.filter(col("id") % 50 === r % 50)
        .withColumn("attr", concat(lit(s"run${r}_"), col("attr")))

    val walls = (1 to runs).map { r =>
      val t0 = System.nanoTime()
      Pipeline.applyScd2Dated(spark.read.parquet(gen(r - 1)), churnSlice(r),
          businessKey = Seq("id"), effectiveAt = day(r))
        .write.mode("overwrite").parquet(gen(r))
      (System.nanoTime() - t0) / 1e9
    }

    val dim = spark.read.parquet(gen(runs))
    val open = dim.filter(col("record_status") === "1")
    val openCount = open.count()
    val distinctKeys = dim.select(col("id")).distinct().count()
    val totalVersions = dim.count()
    val expectedChurn = (1 to runs).map(r =>
      dim0.filter(col("id") % 50 === r % 50).count()).sum
    require(openCount == distinctKeys && distinctKeys == nKeys,
      s"every key must have exactly one open version: open=$openCount keys=$distinctKeys")
    require(totalVersions == nKeys + expectedChurn,
      s"version chain must be append-exact: total=$totalVersions expected=${nKeys + expectedChurn}")

    // validity windows chain without gaps or overlaps per key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("effective_from"))
    val badChain = dim
      .withColumn("next_from", lead(col("effective_from"), 1).over(w))
      .filter(col("next_from").isNotNull &&
        (col("effective_to").isNull || col("effective_to") =!= col("next_from")))
      .limit(1).count()
    require(badChain == 0, "validity chain must close each version at the " +
      "succeeding version's effective_from")

    // point-in-time reads: for each run r, every churned key read as-of
    // day r + 12h must serve the run-r version
    val asOfMismatch = (1 to runs).map { r =>
      val facts = churnSlice(r).select(col("id"),
        (unix_micros(day(r)) + 12L * 3600 * 1000000).as("fact_time"))
      val dimForAsOf = dim.withColumn("effective_from",
        unix_micros(col("effective_from")))
      Pipeline.lookupAsOf(facts, dimForAsOf, "id", "fact_time", Seq("attr"))
        .filter(!col("asof_attr").startsWith(s"run${r}_")).limit(1).count()
    }.sum
    require(asOfMismatch == 0, "as-of reads must serve the run-stamped version")
    // ...and a pre-churn read serves the initial version everywhere
    val preChurn = Pipeline.lookupAsOf(
      dim0.select(col("id"),
        (unix_micros(day(0)) + 1000000L).as("fact_time")),
      dim.withColumn("effective_from", unix_micros(col("effective_from"))),
      "id", "fact_time", Seq("attr"))
      .filter(col("asof_attr").startsWith("run")).limit(1).count()
    require(preChurn == 0, "pre-churn as-of reads must serve initial versions")

    def r1(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    val json =
      s"""{"rehearsal":"scd2_churn","sf_dir":"$sfDir","runs":$runs,
         |"n_keys":$nKeys,"churned_rows":$expectedChurn,
         |"total_versions":$totalVersions,
         |"merge_walls_sec":[${walls.map(r1).mkString(",")}],
         |"merge_floor_sec":${r1(walls.min)},"merge_total_sec":${r1(walls.sum)},
         |"open_equals_keys":true,"chain_contiguous":true,
         |"asof_mismatches":0,"completed":true,
         |"regenerate":"tools/run_bench_raw.sh graft.tools.Scd2Rehearsal $sfDir <out> $runs"}"""
        .stripMargin.replaceAll("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get(outJson),
      (json + "\n").getBytes("UTF-8"))
    println(json)
  }
}
