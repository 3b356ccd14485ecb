package e2ebench

import org.apache.spark.sql.SparkSession

/** What every workload gets from the harness. */
final case class Ctx(spark: SparkSession, trace: Trace, dataDir: String,
                     workDir: String, seed: Long, seconds: Int,
                     digests: Map[String, Expect]) {
  def traced: Boolean = trace.enabled
}

/** One metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

/** A finished timed window. `latencies` holds the successful ops only. */
final case class Outcome(attempted: Int, failed: Int, latencies: Seq[Double],
                         windowSeconds: Double, throughput: Double,
                         firstOpMs: Long, layers: Seq[Metric], diag: Seq[(String, String)])

trait Workload {
  /** Untimed: inputs and warm-up. */
  def setup(ctx: Ctx): Unit
  /** The timed window; ops are counted, never bounded by time. */
  def run(ctx: Ctx): Outcome
}

object Workload {
  def named(name: String): Workload = name match {
    case "pipeline_microbatch" => new PipelineWorkload
    case "catalog_operators" => new CatalogWorkload
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Bytes under a directory tree, 0 when it does not exist. */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  /** Drops what an op cached so it cannot weigh on the next one. */
  def evict(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Fisher–Yates with a seeded generator: the same seed, the same order. */
  def shuffled[T](xs: Array[T], seed: Long): Array[T] = {
    val a = xs.clone()
    val rnd = new java.util.SplittableRandom(seed)
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
