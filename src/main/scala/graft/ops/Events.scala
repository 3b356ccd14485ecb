package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators in their batch form. The streaming leg
  * (graft.streaming) runs the same logic under Structured Streaming; keeping
  * a batch twin makes each operator oracle-checkable with plain SQL (the
  * reference validates its streaming arrival data by re-querying it at rest —
  * `KafkaDemo.sh:300-360`).
  */
object Events {

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gap` (same unit as `tsCol`,
    * which is any monotone numeric time column — epoch seconds, micros,
    * nanos). Session seq = cumulative count of session starts. Single shuffle
    * on the user key; the cumulative sum stays within the same window
    * partition, so at scale this is one exchange + one sort per user
    * partition. Streaming twin: `session_window($"ts", gap)` aggregation.
    */
  def sessionize(events: DataFrame, userCol: Column, tsCol: Column,
                 idCol: Column, gap: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(tsCol, idCol)
    events
      .withColumn("prev_ts", lag(tsCol, 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull || tsCol - col("prev_ts") > gap, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("prev_ts", "new_session")
  }

  /** Tumbling-window aggregation, batch twin of the streaming
    * `groupBy(window($"ts", d))` aggregation. Window start is floored to the
    * duration — identical semantics to `window()` with no slide.
    */
  def tumbling(events: DataFrame, tsCol: Column, durationSeconds: Long,
               groupCols: Seq[Column], aggs: Seq[Column]): DataFrame = {
    val bucket = (floor(unix_timestamp(tsCol) / durationSeconds) * durationSeconds)
      .cast("timestamp").as("window_start")
    events.groupBy(bucket +: groupCols: _*).agg(aggs.head, aggs.tail: _*)
  }
}
