package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** The engine's one stage cut: compute a frame once, truncate its
  * lineage, let N consumers (or the next loop round) read it.
  *
  * One eager checkpoint, one job, whose kind the frame's own session
  * decides (not the active one, so a cut on an [[Overlap.all]] pool
  * thread or in a sibling session keeps its session's kind): with
  * `spark.graft.checkpoint.dir` set ([[graft.SessionProfile]]'s
  * `checkpointDir`, the cluster configuration) a reliable
  * `checkpoint(eager = true)` under that dir, which survives a lost
  * executor; without it a `localCheckpoint`, the local-mode fast path.
  * Either kind evaluates each row once in a single Spark job
  * (MaterializeSpec), and the files belong to the ContextCleaner
  * (`spark.cleaner.referenceTracking.cleanCheckpoints`, which the profile
  * sets with the dir); [[graft.SessionProfile.stop]] deletes the
  * `<context-uuid>` tree the cleaner leaves behind.
  *
  * A cut is NOT free — the q182/q149 lesson: when every consumer takes
  * the SAME shuffle of the shared frame, runtime exchange reuse already
  * dedupes it and a cut only adds I/O. It pays when consumers need
  * different downstream exchanges (q179's per-metric re-aggregations) or
  * run concurrently (q85's flags, each racing stage would otherwise
  * derive the frame on its own). Cuts are added measured, not by default.
  */
object Materialize {

  /** Cut `df`: eager checkpoint under the session's checkpoint dir, local
    * when it has none.
    *
    * `setCheckpointDir` is context-global state, so it is only called when
    * the context has no checkpoint dir or points elsewhere: same-dir
    * concurrent callers don't race; sessions with DIFFERENT dirs still
    * contend (last set wins; both stay correct, files land in one dir).
    */
  def cut(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpoint.dir") match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (!sc.getCheckpointDir.exists(_.contains(dir))) sc.setCheckpointDir(dir)
        df.checkpoint(eager = true)
      case None => df.localCheckpoint(eager = true)
    }

  /** [[cut]] plus one aggregate metric riding the checkpoint job via
    * `observe`, so a loop's convergence count costs no job of its own.
    * `metric` must be a LONG aggregate over the frame.
    */
  def cutCounted(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val out = cut(df.observe(obs, metric.as("m")))
    (out, obs.get("m").asInstanceOf[Long])
  }
}
