package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (per-suite sessions would pay
  * ~5s JVM/context startup each).
  */
object TestSpark {
  lazy val spark: SparkSession = SessionProfile.session("4", "4")

  /** A sibling session over the shared context carrying [[GraftExtensions]]
    * (extensions are per-session state), with `extra` settings on top of
    * the profile's. [[spark]] is forced FIRST and stays the active and
    * default session: a lazy plain session initialized while this one is
    * active would alias it via getOrCreate, silently giving the "plain"
    * session the extensions.
    */
  def extended(extra: (String, String)*): SparkSession = {
    val plain = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = (SessionProfile.conf("4", "4") ++ extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    SparkSession.setDefaultSession(plain)
    SparkSession.setActiveSession(plain)
    s
  }

  /** A sibling session over the shared context whose stage cuts are
    * reliable checkpoints under `dir`: a cut's kind comes from its frame's
    * session, so frames built on this one cut there while [[spark]] keeps
    * cutting locally.
    */
  def reliableCuts(dir: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.checkpoint.dir", dir)
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
