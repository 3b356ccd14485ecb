package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-operator profiling for one catalog query: executes the query
  * through the noop sink (guide §1.4 — every column of every row is
  * computed, nothing is written), then walks the EXECUTED plan (the AQE
  * final plan, not the pre-execution estimate) printing each operator
  * with Spark's own accumulated metrics — rows, per-operator time, shuffle
  * bytes, spill. This is the empirical per-operator view the optimization
  * loop needs where the UI is disabled.
  *
  * Usage: `runMain graft.tools.PlanMetrics <query> [sfDir] [reps]`
  * (bench-identical session: local[$SPARK_GRAFT_CPUS], 8g via launcher).
  */
object PlanMetrics {

  private def fmt(v: Long, unit: String): String = unit match {
    case "size" =>
      if (v >= (1L << 30)) f"${v / (1L << 30).toDouble}%.2fGiB"
      else if (v >= (1L << 20)) f"${v / (1L << 20).toDouble}%.1fMiB"
      else if (v >= (1L << 10)) f"${v / 1024.0}%.1fKiB"
      else s"${v}B"
    case "timing" => f"${v / 1e3}%.2fs"   // accumulated ms
    case "nsTiming" => f"${v / 1e9}%.2fs" // accumulated ns
    case _ => if (v >= 1000000) f"${v / 1e6}%.1fM" else if (v >= 1000) f"${v / 1e3}%.1fk" else v.toString
  }

  private def walk(p: SparkPlan, depth: Int, out: StringBuilder): Unit = {
    val interesting = p.metrics.toSeq
      .filter { case (_, m) => m.value > 0 }
      .sortBy(_._1)
      .map { case (name, m) => s"$name=${fmt(m.value, m.metricType)}" }
    val line = s"${"  " * depth}${p.nodeName}"
    out.append(f"$line%-58s ${interesting.mkString(" ")}\n")
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1, out)
      case q: QueryStageExec => walk(q.plan, depth + 1, out)
      case r: ReusedExchangeExec => walk(r.child, depth + 1, out)
      case _ => p.children.foreach(walk(_, depth + 1, out))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanMetrics <queryNamePrefix> [sfDir] [reps]")
    val only = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    val cpus = graft.SessionProfile.envCpus("32")
    val spark = graft.SessionProfile.session(cpus,
      graft.SessionProfile.envShufflePartitions(cpus),
      checkpointDir = Some(s"${sys.props("java.io.tmpdir")}/graft-ckpt-bench"))
    // The noop write runs its OWN QueryExecution (df.queryExecution is the
    // un-executed logical frame) — grab the executed one via listener.
    @volatile var lastExecuted: Option[SparkPlan] = None
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
          lastExecuted = Some(qe.executedPlan)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    val entries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.startsWith(only))
    require(entries.nonEmpty, s"no query matches '$only'")
    entries.foreach { case (name, fn) =>
      // Warm pass (JIT + page cache), untimed, then `reps` timed passes.
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      (1 to reps).foreach { i =>
        // Time construction + execution: iterative operators (CC, k-means,
        // PageRank) run eager lineage-cut rounds while the frame is BUILT.
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuilt = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t1 = System.nanoTime()
        println(f"== $name pass $i: ${(t1 - t0) / 1e9}%.3f s " +
          f"(build ${(tBuilt - t0) / 1e9}%.3f + noop ${(t1 - tBuilt) / 1e9}%.3f)")
        if (i < reps) {
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        }
      }
      // Listener events fire asynchronously — poll until delivered.
      val deadline = System.nanoTime() + 30e9.toLong
      while (lastExecuted.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
      val out = new StringBuilder
      lastExecuted.foreach(walk(_, 0, out))
      println(out.result())
    }
    graft.SessionProfile.stop(spark)
  }
}
