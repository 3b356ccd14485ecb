package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (per-suite sessions would pay
  * ~5s JVM/context startup each).
  */
object TestSpark {
  lazy val spark: SparkSession = SessionProfile.session("4", "4")

  /** A sibling session over the shared context with `settings` on top of
    * [[spark]]'s: specs that change a session setting (AQE, the
    * `spark.graft.topk.*` rewrite, a reliable cut's checkpoint dir) build
    * their frames on it while [[spark]] keeps the profile's.
    */
  def sibling(settings: (String, String)*): SparkSession = {
    val s = spark.newSession()
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
}

/** Kafka-shaped test record (top-level: inner case classes break encoder
  * codegen and fall back to interpreted mode).
  */
case class KRec(topic: String, partition: Int, offset: Long, value: String)

/** The q235 reference semantics, spelled ONCE for every spec replay
  * (QueriesSpec on real data, PropertySpec on random corpora): the
  * sign-explicit 32-way shard and the per-shard strict-prefix-max
  * lateness fold. The Spark builder and the DuckDB oracle carry the same
  * expressions; keeping the two Scala replays on one helper means a
  * future shard/semantics change cannot desynchronize them silently.
  */
object EventRef {
  def shardOf(userId: Long): Long = ((userId % 32) + 32) % 32

  /** rows = (event_id, user_id, event_type, ts_ns); returns
    * event_id -> late_ns where lateness = (per-shard prefix max of ts
    * over strictly earlier arrivals) - ts, floored at 0.
    */
  def latenessByEvent(rows: Seq[(Long, Long, String, Long)]): Map[Long, Long] =
    rows.groupBy(e => shardOf(e._2)).toSeq.flatMap { case (_, g) =>
      g.sortBy(_._1).foldLeft((Long.MinValue, Vector.empty[(Long, Long)])) {
        case ((hw, acc), e) =>
          val l = if (hw == Long.MinValue || hw <= e._4) 0L else hw - e._4
          (math.max(hw, e._4), acc :+ ((e._1, l)))
      }._2
    }.toMap
}

/** Temp-dir scope for specs that write parquet fixtures: guarantees the
  * tree is deleted even on assertion failure (per-iteration property
  * fixtures otherwise accumulate in /tmp across every gate run).
  */
object SpecIo {
  def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString)
    finally {
      val s = java.nio.file.Files.walk(dir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally s.close()
    }
  }
}
