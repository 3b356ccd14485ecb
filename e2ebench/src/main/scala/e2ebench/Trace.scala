package e2ebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region. Spans nest op → layer call; Spark jobs are attached
  * to spans afterwards by [[Trace.attribute]]. `counts` holds quantities
  * recorded at the span's boundaries (bytes written, file-system ops).
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, startMs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** One Spark job as the listener saw it. `tag` is the span id the
  * submitting thread carried in its local properties, if any.
  */
final case class JobRec(id: Int, submitMs: Long, tag: Option[Int]) {
  var endMs: Long = submitMs
  var tasks: Int = 0
  var busyMs: Long = 0L
  var shuffleWriteBytes: Long = 0L
  var spillBytes: Long = 0L
}

/** Collects Spark jobs, stages and tasks for the traced run. */
final class JobListener extends SparkListener {
  private val jobsById = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.TagKey)))
      .map(_.toInt)
    jobsById(e.jobId) = JobRec(e.jobId, e.time, tag)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jobId <- stageToJob.get(e.stageId); j <- jobsById.get(jobId)) {
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.busyMs += m.executorRunTime
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobs: Seq[JobRec] = synchronized(jobsById.values.toVector)
}

/** Span recorder for the driver thread. With `enabled = false` it only runs
  * the bodies, so untraced runs carry no listener and no bookkeeping.
  */
final class Trace(sc: Option[SparkContext], val enabled: Boolean) {
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val listener = new JobListener
  if (enabled) sc.foreach(_.addSparkListener(listener))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  /** Adds `v` to a count on the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.counts(key) = s.counts.getOrElse(key, 0.0) + v)

  private def open(name: String): Span = {
    val s = Span(all.size, stack.headOption.map(_.id).getOrElse(-1), name,
      System.nanoTime(), System.currentTimeMillis())
    all += s
    stack = s :: stack
    setTag(Some(s.id))
    Trace.fsOps().foreach(v => s.counts("fs_ops") = -v)
    s
  }

  private def close(s: Span): Unit = {
    Trace.fsOps().foreach(v => s.counts("fs_ops") = s.counts("fs_ops") + v)
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.tail
    setTag(stack.headOption.map(_.id))
  }

  private def setTag(id: Option[Int]): Unit =
    sc.foreach(_.setLocalProperty(Trace.TagKey, id.map(_.toString).orNull))

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) sc.foreach(org.apache.spark.E2eBenchBus.drain)

  def spans: Seq[Span] = all.toVector
  def jobs: Seq[JobRec] = listener.jobs
}

object Trace {
  val TagKey = "e2ebench.span"

  /** File-system operations so far in this JVM: files Spark's file index
    * listed, plus the read operations Hadoop counts (the local FS counts
    * none; other file systems do).
    */
  def fsOps(): Option[Double] = scala.util.Try {
    import scala.jdk.CollectionConverters._
    val hadoop = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(s => (s.getReadOps + s.getLargeReadOps).toDouble).sum
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount + hadoop
  }.toOption

  /** The span a job belongs to: the span named by its tag when the job was
    * submitted inside that span's window, else the innermost span whose
    * window contains the submission time. Only one op is in flight at a
    * time, so the window identifies the op even for jobs submitted from
    * threads whose inherited tag is stale.
    */
  def attribute(job: JobRec, spans: Seq[Span]): Option[Span] = {
    def within(s: Span) = job.submitMs >= s.startMs && job.submitMs <= s.endMs
    val byTag = job.tag.flatMap(t => spans.find(_.id == t)).filter(within)
    byTag.orElse {
      val depth = spans.map(s => s.id -> s.parent).toMap
      def level(s: Span): Int = {
        var d = 0; var p = s.parent
        while (p >= 0) { d += 1; p = depth(p) }
        d
      }
      spans.filter(within).sortBy(s => (-level(s), -s.startNs)).headOption
    }
  }

  /** Jobs attributed to `root` or any span below it. */
  def jobsUnder(root: Span, spans: Seq[Span], jobs: Seq[JobRec]): Seq[JobRec] = {
    val byId = spans.map(s => s.id -> s).toMap
    def isUnder(s: Span): Boolean =
      s.id == root.id || (s.parent >= 0 && isUnder(byId(s.parent)))
    jobs.filter(j => attribute(j, spans).exists(isUnder))
  }

  /** Total length of the union of [start, end] intervals. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    val sorted = intervals.filter(i => i._2 > i._1).sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    sorted.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, cb.max(b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map(c => c._2 - c._1).getOrElse(0.0)
  }

  /** A span's duration minus the time its child spans cover, in seconds. */
  def selfSeconds(s: Span, spans: Seq[Span]): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (k.startNs.max(s.startNs).toDouble, k.endNs.min(s.endNs).toDouble))
    ((s.endNs - s.startNs) - covered(kids)) / 1e9
  }

  /** Seconds of the span with no Spark job of its own running. */
  def driverOnlySeconds(s: Span, jobs: Seq[JobRec]): Double = {
    val (a, b) = (s.startMs.toDouble, s.endMs.toDouble)
    val busy = covered(jobs.map(j => (j.submitMs.toDouble.max(a), j.endMs.toDouble.min(b))))
    (s.seconds - busy / 1000.0).max(0.0)
  }

  /** Spans and jobs as JSON, written out once at exit. */
  def toJson(spans: Seq[Span], jobs: Seq[JobRec]): String = {
    val sj = spans.map { s =>
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"s":${Json.num(s.seconds)},""" +
        s""""self_s":${Json.num(selfSeconds(s, spans))},"counts":{$counts}}"""
    }
    val jj = jobs.map { j =>
      s"""{"id":${j.id},"span":${attribute(j, spans).map(_.id).getOrElse(-1)},""" +
        s""""submit_ms":${j.submitMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
        s""""busy_ms":${j.busyMs},"shuffle_write_bytes":${j.shuffleWriteBytes},""" +
        s""""spill_bytes":${j.spillBytes}}"""
    }
    s"""{"spans":[${sj.mkString(",")}],"jobs":[${jj.mkString(",")}]}"""
  }
}
