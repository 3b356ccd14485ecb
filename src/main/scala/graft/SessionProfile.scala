package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built: every main (Bench, Verify,
  * Explain, the tools and rehearsals) and the shared test session take
  * their settings from [[conf]], so a session setting changes once for all
  * of them. Mains differ only in cores, shuffle partitions and whether
  * iterative operators get a reliable checkpoint dir; each keeps reading
  * its own env knobs ([[envCpus]], [[envShufflePartitions]]) with its own
  * defaults.
  */
object SessionProfile {

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def envCpus(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** `SPARK_GRAFT_SHUFFLE_PARTITIONS`, or `default` when unset. */
  def envShufflePartitions(default: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", default)

  /** The static setting that injects [[GraftExtensions]] into a context. */
  val extensions: (String, String) = "spark.sql.extensions" -> "graft.GraftExtensions"

  /** The profile's settings in the order they are applied.
    *
    *  - AQE starts from `shufflePartitions` and coalesces small stages back
    *    down, so scale runs raise only the initial partition count.
    *  - `nanosAsLong`: events.parquet may carry TIMESTAMP(NANOS), which
    *    Spark has no type for; it reads as epoch-nano longs (queries do
    *    integer `ts div n`).
    *  - [[GraftExtensions]] is a static setting of the context, so every
    *    session on it, `newSession()` siblings included, carries the native
    *    top-k operator and the graft SQL functions.
    *  - With `checkpointDir`, every [[graft.ops.Materialize.cut]] on the
    *    session is a reliable checkpoint there, the configuration a
    *    cluster runs, and the ContextCleaner deletes them once their
    *    frames are unreachable.
    */
  def conf(cores: String, shufflePartitions: String,
           checkpointDir: Option[String] = None): Seq[(String, String)] =
    Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> shufflePartitions,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      extensions) ++
      checkpointDir.toSeq.flatMap(dir => Seq(
        "spark.graft.checkpoint.dir" -> dir,
        "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true"))

  /** Build (or join) the session for [[conf]], at log level WARN with the
    * bounded-window warning silenced ([[Logs]]).
    */
  def session(cores: String, shufflePartitions: String,
              checkpointDir: Option[String] = None): SparkSession = {
    val spark = conf(cores, shufflePartitions, checkpointDir)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietBoundedWindowWarnings()
    spark
  }

  /** Stop `spark` and delete the `<context-uuid>` tree its reliable
    * checkpoints went under: the ContextCleaner removes checkpointed RDDs
    * but never that tree, so each session would leave one behind.
    */
  def stop(spark: SparkSession): Unit = {
    val tree = spark.sparkContext.getCheckpointDir.map(new org.apache.hadoop.fs.Path(_))
    val fs = tree.map(_.getFileSystem(spark.sparkContext.hadoopConfiguration))
    spark.stop()
    for (t <- tree; f <- fs) f.delete(t, true)
  }
}
