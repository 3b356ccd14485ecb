package graft.ops

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Structured driver-side concurrency: independent Spark branches (two CC
  * runs, two k-core peels, the index appends and stat writes) run from
  * driver threads so one branch's jobs back-fill the cores the other's
  * driver round-trips leave idle.
  *
  *  - Each call owns a private pool sized to its branch count, never a
  *    shared pool: a blocking wait on a shared pool deadlocks once a
  *    branch nests its own overlap. Pool threads start from the calling
  *    thread, so they inherit its active session and job tags, and a
  *    nested call's jobs carry the outer branch's tag as well.
  *  - Each branch runs under its own Spark job tag. On the first failure
  *    the siblings' jobs are cancelled by tag (repeatedly, until their
  *    threads end, so a job a sibling submits after the first cancel is
  *    caught too) and the failure is rethrown. No branch outlives the
  *    call, so a sibling in driver-only work is waited for.
  */
object Overlap {

  /** Run `branches` concurrently; results in branch order. */
  def all[A](spark: SparkSession)(branches: (() => A)*): Seq[A] = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString.take(8)
    val tags = branches.indices.map(i => s"graft-overlap-$id-$i")
    val pool = Executors.newFixedThreadPool(branches.size, (r: Runnable) => {
      val t = new Thread(r, s"graft-overlap-$id")
      t.setDaemon(true)
      t
    })
    val done = new ExecutorCompletionService[A](pool)
    try {
      val futures = branches.zip(tags).map { case (branch, tag) =>
        done.submit { () =>
          sc.addJobTag(tag)
          try branch() finally sc.removeJobTag(tag)
        }
      }
      try branches.indices.foreach(_ => done.take().get())
      catch {
        case e: ExecutionException =>
          pool.shutdown()
          tags.foreach(sc.cancelJobsWithTag)
          while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
            tags.foreach(sc.cancelJobsWithTag)
          throw e.getCause
      }
      futures.map(_.get())
    } finally pool.shutdownNow()
  }
}
