package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event sessionization (gap-based) over a user/timestamp stream —
  * the batch formulation: one shuffle on the user key, two window
  * passes (lag → flag, running sum → session id). The streaming
  * equivalent lives in graft.streaming (mapGroupsWithState).
  */
object Sessionize {

  /** Assign session ids over the `events` columns: a new session starts
    * when the gap since the previous event of the same `user_id`
    * exceeds `gapMinutes`. Ordering is pinned (ts, event_id) so results
    * are deterministic under ties.
    */
  def assign(events: DataFrame, gapMinutes: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prev = lag(col("ts"), 1).over(w)
    val newSession = when(prev.isNull ||
      col("ts") - prev > expr(s"INTERVAL $gapMinutes MINUTES"), 1).otherwise(0)
    events
      .withColumn("_new_s", newSession)
      .withColumn("session_id",
        sum(col("_new_s")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast(LongType))
      .drop("_new_s")
  }

  /** Session summaries: bounds, event count, value sum. */
  def summarize(events: DataFrame, gapMinutes: Int): DataFrame =
    assign(events, gapMinutes)
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
      .orderBy("user_id", "session_id")
}
