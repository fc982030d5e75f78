package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ordered-sequence (funnel) analysis over an event stream: how many
  * users reached step 1, then step 2 AFTER step 1, then step 3 AFTER
  * step 2 — the conversion query every event pipeline runs.
  *
  * Formulation: stage k's earliest-valid time is a filtered `min`
  * constrained to follow stage k-1's, so the computation folds left
  * over the step list — one user-keyed aggregation per stage, each with
  * map-side partial aggregation. The events table itself is re-read per
  * stage but always pre-filtered to the single step's event type before
  * the shuffle (filter + column pruning reach the scan), so each pass
  * moves only that step's rows, not the whole stream. For funnels over
  * many steps a single-shuffle collect-and-walk (sorted per-user list +
  * HOF fold) wins; for the typical 3-5 step funnel the per-stage
  * filtered shuffles are smaller in total.
  *
  * Input: the fixed `events` columns `user_id`, `event_type`, `ts` and
  * (for [[attribution]]) `event_id`.
  */
object Funnel {

  private val UserCol = "user_id"
  private val TypeCol = "event_type"
  private val TsCol = "ts"
  private val IdCol = "event_id"

  /** Per-user step-completion times: (user, t_1, ..., t_n) where t_k =
    * earliest `ts` of an event of type steps(k) at or after t_{k-1}
    * (null if the user never completed step k in order). With
    * `deadlineHours` set, each step must ALSO land within that many
    * hours of the previous step's time — the conversion-window variant
    * every product funnel actually runs (an unbounded funnel credits a
    * purchase a year after the click).
    */
  def stepTimes(events: DataFrame, steps: Seq[String],
                deadlineHours: Option[Int] = None): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    def stepRows(step: String) =
      events.filter(col(TypeCol) === step).select(col(UserCol), col(TsCol))
    val first = stepRows(steps.head)
      .groupBy(col(UserCol))
      .agg(min(col(TsCol)).as("t_1"))
    steps.zipWithIndex.tail.foldLeft(first) { case (acc, (step, i)) =>
      val groupCols = col(UserCol) +: (1 to i).map(j => col(s"t_$j"))
      val inWindow = deadlineHours.foldLeft(col(TsCol) >= col(s"t_$i")) {
        (c, d) => c && col(TsCol) <= col(s"t_$i") + expr(s"INTERVAL $d HOURS")
      }
      acc.join(stepRows(step), Seq(UserCol), "left")
        .groupBy(groupCols: _*)
        .agg(min(when(inWindow, col(TsCol))).as(s"t_${i + 1}"))
    }
  }

  /** Funnel counts: one row per step with the number of users whose
    * ordered path reached it. All step counts come from ONE global
    * aggregation over the step-times frame (count(t_k) ignores nulls),
    * then fan out to rows with an explode generator — a union of
    * per-step aggregates would re-plan the whole chain per branch.
    * Built from typed Columns, never interpolated SQL text, so step
    * names with quotes/backslashes pass through verbatim.
    */
  def counts(events: DataFrame, steps: Seq[String],
             deadlineHours: Option[Int] = None): DataFrame = {
    val times = stepTimes(events, steps, deadlineHours)
    val agg = times.agg(
      count(col("t_1")).as("n_1"),
      (2 to steps.length).map(i => count(col(s"t_$i")).as(s"n_$i")): _*)
    val rows = steps.zipWithIndex.map { case (step, i) =>
      struct(lit((i + 1).toLong).as("step"), lit(step).as("event_type"),
        col(s"n_${i + 1}").as("n_users"))
    }
    agg.select(explode(array(rows: _*)).as("s"))
      .select(col("s.step"), col("s.event_type"), col("s.n_users"))
  }

  /** Marketing-style touch attribution: every conversion event joined
    * to the user's touch events inside a lookback window, summarized to
    * (n_touches, first-touch id, last-touch id) per conversion — the
    * first/last-touch models an attribution report runs.
    *
    * First/last selection rides ONE min/max over a `struct(ts, id)` —
    * struct ordering is lexicographic, so min is the earliest touch
    * with ties to the SMALLER id and max the latest with ties to the
    * LARGER (by the id column's own ordering) — instead of a
    * per-conversion rank window. Ids pass through in their native type
    * (no cast, no key encoding). A conversion with no in-window touches
    * keeps its row from the left join: its single all-null-fields
    * struct is the group's only value, so first/last ids stay null and
    * `count(touch_id)` stays 0.
    *
    * Scale shape: both sides hash-partition on the user key (neither
    * side of a conversions×touches join is broadcastable at corpus
    * scale), the lookback predicate prunes pairs inside the join, and
    * the per-conversion summary is a map-side-combined min/max/count —
    * exchange volume is one row per surviving pair, never a
    * per-conversion candidate list in one task. A pathological
    * single-user hot key would salt by (user, day) — the q39 pattern.
    */
  def attribution(events: DataFrame, touchTypes: Seq[String],
                  convType: String, lookbackHours: Int): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    val p = events.filter(col(TypeCol) === convType)
      .select(col(IdCol).as("conv_id"), col(UserCol),
        col(TsCol).as("conv_ts"))
    val t = events.filter(col(TypeCol).isin(touchTypes: _*))
      .select(col(UserCol).as("_tu"), col(TsCol).as("_tts"),
        col(IdCol).as("_tid"))
    p.join(t,
        col("_tu") === col(UserCol) &&
          col("_tts") <= col("conv_ts") &&
          col("_tts") > col("conv_ts") - expr(s"INTERVAL $lookbackHours HOURS"),
        "left")
      .select(col("conv_id"), col(UserCol), col("conv_ts"), col("_tid"),
        struct(col("_tts"), col("_tid")).as("_k"))
      .groupBy("conv_id", UserCol, "conv_ts")
      .agg(count(col("_tid")).as("n_touches"),
        min(col("_k")).getField("_tid").as("first_touch_id"),
        max(col("_k")).getField("_tid").as("last_touch_id"))
      .orderBy("conv_id")
  }
}
