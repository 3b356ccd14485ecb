package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Stage-boundary materialization primitives.
  *
  * The engine's iterative operators (connected components, k-core,
  * PageRank) and multi-consumer stage boundaries all need "compute this
  * frame ONCE, truncate lineage, let N consumers read it":
  *
  *  - [[Seam.mat]] — parquet write + read-back, for EXPENSIVE derived
  *    pipelines (LM scoring, tokenize+minhash, shingling) and CC's
  *    loop-invariant edge list. Files live under a per-call UUID dir
  *    registered with the filesystem's delete-on-exit hook.
  *  - [[Seam.cut]] — eager checkpoint (reliable under `checkpointDir`,
  *    local otherwise), for LOOP ROUNDS, whose lineage is cheap by
  *    construction (it reads the previous round's cut frame). Checkpoint
  *    files belong to the ContextCleaner.
  *  - [[Seam.cutCounted]] — [[Seam.cut]] with an `observe()` on the frame,
  *    so a loop's convergence metric rides the checkpoint job: one job per
  *    round under either checkpoint kind (MaterializeSpec).
  *
  * Why two mechanisms: the r20 interleaved A/Bs (OPTIMIZATION_r20.md) put
  * parquet ahead for expensive lineage and the checkpoint ahead for loop
  * rounds (sf0.1: q60 1.40 s vs 1.71 s, q199 2.8–3.5 s vs 3.9–4.1 s), on
  * the reading that a reliable eager checkpoint computed its frame twice.
  * MaterializeSpec now counts a reliable eager checkpoint of an observed
  * frame as one job, so the parquet side of that split is not measured
  * on the current code and may no longer pay.
  */
object Materialize {

  final class Seam(spark: SparkSession, checkpointDir: Option[String]) {
    private val runDir =
      s"${checkpointDir.getOrElse(sys.props("java.io.tmpdir"))}/" +
        s"graft-seam-${java.util.UUID.randomUUID().toString.take(12)}"
    private val hPath = new org.apache.hadoop.fs.Path(runDir)
    private val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.deleteOnExit(hPath)

    /** Materialize an EXPENSIVE-lineage frame once (parquet round-trip;
      * see class doc).
      */
    def mat(df: DataFrame, step: String): DataFrame = {
      val p = s"$runDir/$step"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

    /** Cut a LOOP-ROUND frame (cheap lineage — eager checkpoint; see
      * class doc).
      */
    def cut(df: DataFrame): DataFrame = {
      checkpointDir.foreach { dir =>
        val sc = spark.sparkContext
        if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
      }
      if (checkpointDir.isDefined) df.checkpoint(eager = true)
      else df.localCheckpoint(eager = true)
    }

    /** [[cut]] plus one aggregate metric riding the checkpoint job via
      * `observe`. `metric` must be a LONG aggregate over the frame.
      */
    def cutCounted(df: DataFrame, metric: Column): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val out = cut(df.observe(obs, metric.as("m")))
      (out, obs.get("m").asInstanceOf[Long])
    }
  }

  def seam(spark: SparkSession, checkpointDir: Option[String]): Seam =
    new Seam(spark, checkpointDir)

  /** Single-shot materialization of an expensive-lineage frame: compute
    * once, truncate lineage. Reliable when `checkpointDir` is shared
    * storage; tmpdir otherwise.
    */
  def once(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    seam(df.sparkSession, checkpointDir).mat(df, "m")
}
