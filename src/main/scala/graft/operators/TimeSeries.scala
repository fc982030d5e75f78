package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** Time-series regularization (SURVEY.md §2c): a keyed rollup with
  * missing buckets becomes a dense, regular series — the step between
  * "aggregate what happened" and anything that consumes fixed-interval
  * input (monitoring charts, anomaly scoring, training windows).
  *
  * Scale posture: the GRID is rollup-sized, not event-sized — |buckets|
  * × |keys| rows built from two tiny aggregates (global bounds, distinct
  * keys). The key side broadcasts; the bucket frame is generated
  * DISTRIBUTED via chunked two-level sequence explosion, so fine-grain
  * frames (1-second steps over months) scale out instead of
  * materializing one giant array. The left join back to the rollup is
  * the only keyed shuffle and carries rollup rows. The forward fill is
  * one ordered window per key — state is a single value, and at cluster
  * scale each key's partition streams independently.
  */
object TimeSeries {

  /** Densify `rollup` onto the full [min, max] bucket grid per key.
    *
    * The bucket frame is generated DISTRIBUTED, in-plan: a first
    * `sequence` emits only every 4096th bucket (one coarse chunk-start
    * per 4096 buckets), those chunk rows are shuffled across the
    * cluster, and each chunk explodes its own sub-range — so the
    * largest single array is max(4096, n/4096) elements and a year at
    * 1-second grain (31M buckets) never materializes in one row (the
    * r5-verdict hardening item). The only driver-side action is the
    * distinct-key count that sizes the grid: up to [[MaxBroadcastKeys]]
    * (1M) keys broadcast, above it the grid is built as a distributed
    * cartesian with the keys repartitioned so each task pairs one
    * bucket chunk with ≤ 1M keys — per-user series at 100 TB never
    * ride a broadcast. The count re-executes the rollup's upstream
    * once; persist an expensive rollup first.
    *
    * @param rollup    one row per (bucket timestamp, key) — the output
    *                  of a windowed aggregation
    * @param tsCol     bucket timestamp column (regular spacing)
    * @param keyCol    series key column
    * @param step      bucket width as an ANSI interval, e.g.
    *                  `expr("INTERVAL '1' HOUR")` (must support `* int`)
    * @param zeroCols  count-like columns: missing buckets become 0
    * @param ffillCols gauge-like columns: missing buckets carry the last
    *                  observed value forward (null before the first
    *                  observation — there is nothing to carry)
    */
  def gapFill(rollup: DataFrame, tsCol: String, keyCol: String, step: Column,
              zeroCols: Seq[String], ffillCols: Seq[String]): DataFrame =
    gapFillGrid(rollup, tsCol, keyCol, step, zeroCols, ffillCols,
      MaxBroadcastKeys)

  /** Key count up to which [[gapFill]] broadcasts the key side. */
  private val MaxBroadcastKeys = 1000000L

  /** [[gapFill]] with the broadcast ceiling as an argument, so a spec
    * can drive the distributed-cartesian arm with a handful of keys.
    */
  private[graft] def gapFillGrid(rollup: DataFrame, tsCol: String,
                                 keyCol: String, step: Column,
                                 zeroCols: Seq[String], ffillCols: Seq[String],
                                 maxBroadcastKeys: Long): DataFrame = {
    val chunkSize = 4096
    val bounds = rollup.agg(min(col(tsCol)).as("_lo"), max(col(tsCol)).as("_hi"))
    val chunkStarts = bounds.select(
      explode(sequence(col("_lo"), col("_hi"), step * lit(chunkSize))).as("_cs"),
      col("_hi"))
    val buckets = chunkStarts
      .repartition(col("_cs"))
      .select(explode(sequence(col("_cs"),
        least(col("_cs") + step * lit(chunkSize - 1), col("_hi")),
        step)).as(tsCol))
    val keys = rollup.select(col(keyCol)).distinct()
    // grid = buckets × keys. The key side broadcasts ONLY below the
    // measured cardinality ceiling; per-user key sets (the 100 TB
    // silent-OOM shape a scaladoc assumption can't guard) fall through
    // to a distributed cartesian whose output volume IS the grid —
    // keys repartitioned so no task holds more than maxBroadcastKeys
    // of them. The count is the one driver-side action here: a
    // key-column-only distinct with map-side partials.
    val nKeys = keys.count()
    val grid =
      if (nKeys <= maxBroadcastKeys) buckets.crossJoin(broadcast(keys))
      else buckets.crossJoin(keys.repartition(
        ((nKeys + maxBroadcastKeys - 1) / maxBroadcastKeys).toInt))
    val joined = grid.join(rollup, Seq(tsCol, keyCol), "left")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val zeroed = zeroCols.foldLeft(joined) { (df, c) =>
      df.withColumn(c, coalesce(col(c), lit(0L)))
    }
    ffillCols.foldLeft(zeroed) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Single change-point scan (AMOC / binary-segmentation step) over an
    * INTEGER-valued regular series: for every split boundary s, the
    * scaled mean-shift statistic
    * |mean(x₁..s) − mean(xs+1..T)| · sqrt(nL·nR / n) — the CUSUM-style
    * score whose argmax is the most likely level shift (Hinkley 1970;
    * the first step of ruptures-style binary segmentation). Returns one
    * row per interior split: (t, n_left, n_right, mean_left,
    * mean_right, stat); callers take the top-1 (or recurse on the two
    * halves for multiple change points).
    *
    * Determinism: prefix sums of integer values are exact; each
    * mean/stat is the same short chain of individually-rounded IEEE
    * ops on identical integer-derived operands in any engine.
    *
    * Scale: the input is a ROLLUP (bounded by the bucket count, not
    * events), so the one ordered cumulative window here runs over
    * days/hours-sized data — the same bounded-window regime as the
    * ta22 rank. Totals ride a broadcast, never a second scan.
    */
  def meanShiftSplits(series: DataFrame, tCol: String,
                      xCol: String): DataFrame = {
    val s = series.select(col(tCol).cast(LongType).as("t"),
      col(xCol).cast(LongType).as("x"))
    val tot = s.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val w = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = s.select(col("t"),
        sum(col("x")).over(w).as("sl"),
        count(lit(1)).over(w).as("nl"))
      .crossJoin(broadcast(tot))
      .filter(col("nl") < col("n")) // interior splits only
    val nl = col("nl").cast(DoubleType)
    val nr = (col("n") - col("nl")).cast(DoubleType)
    val meanL = col("sl").cast(DoubleType) / nl
    val meanR = (col("sx") - col("sl")).cast(DoubleType) / nr
    pre.select(col("t"), col("nl").as("n_left"),
      (col("n") - col("nl")).as("n_right"),
      meanL.as("mean_left"), meanR.as("mean_right"),
      (abs(meanL - meanR) *
        sqrt((col("nl") * (col("n") - col("nl"))).cast(DoubleType) /
          col("n").cast(DoubleType))).as("stat"))
  }

  /** Lag-k autocorrelation (Pearson r over the (x_t, x_{t+k}) pairs)
    * for k = 1..maxLag over an INTEGER-valued regular series — the
    * seasonality probe run over rollup output (daily volumes, hourly
    * counts) before picking training windows or alert baselines.
    *
    * Returns (lag, n_pairs, acf), one row per lag with ≥ 2 pairs.
    *
    * Cross-engine determinism: the series is integer-valued and all
    * five moment sums (Σx, Σy, Σx², Σy², Σxy) stay in exact BIGINT, so
    * both Pearson numerator n·Σxy − Σx·Σy and the two variance terms
    * are exact integers for any rollup-sized series — the n·Σ(x·x) <
    * 2⁶³ bound this needs (≈ 10⁴ daily buckets × values to ~10⁶) is
    * ENFORCED by an in-plan guard (a DECIMAL side-aggregate +
    * raise_error: data-dependent, so it cannot be a plan-time
    * require); wider series should pre-scale or pre-aggregate. The
    * only floating point is one
    * division against sqrt(da)·sqrt(db) — three correctly-rounded IEEE
    * ops on identical operands, bit-identical on any engine.
    *
    * Scale shape: the input is a ROLLUP (one row per bucket — thousands
    * of rows for years of daily data, not event-sized), exploded maxLag
    * ways and equi-joined to itself on the shifted index; both sides
    * are aggregate-sized so the join broadcasts, and the final moment
    * aggregation is maxLag groups. Nothing here touches raw events.
    *
    * @param series one row per time index (pre-aggregated)
    * @param tCol   integer time index (e.g. epoch-day); must be unique
    * @param xCol   integer series value (a count or integer gauge)
    */
  def autocorrelation(series: DataFrame, tCol: String, xCol: String,
                      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val s = series.select(col(tCol).cast(LongType).as("t"),
      col(xCol).cast(LongType).as("x"))
    // the documented n·Σx² < 2⁶³ exactness bound is ENFORCED in-plan,
    // not left as a scaladoc contract: one extra aggregate over the
    // rollup-sized input computes Σx² in overflow-proof DECIMAL and a
    // broadcast 1-row guard raises before any silently-wrapped BIGINT
    // moment could leave the operator (a data-dependent bound no
    // plan-time require can check)
    val xd = col("x").cast(DecimalType(19, 0))
    val lim = lit(new java.math.BigDecimal("9223372036854775807"))
    val guard = s
      .agg(count(col("x")).cast(DecimalType(20, 0)).as("_n"),
        sum(xd * xd).as("_sxx2"))
      .select(
        // zero non-null values → sum() is NULL from ABSENCE, not
        // overflow — the empty/all-NULL series passes (and yields an
        // empty result downstream, as before the guard existed). With
        // _n > 0 a NULL sum or product means the DECIMAL itself
        // overflowed — even further past the bound → raise.
        when(col("_n") === 0, lit(true))
          .when(col("_sxx2").isNull.or((col("_n") * col("_sxx2")).isNull)
            .or(col("_n") * col("_sxx2") >= lim),
            raise_error(lit("autocorrelation: n·Σx² exceeds 2⁶³ — the " +
              "exact BIGINT moment sums would overflow; pre-scale or " +
              "pre-aggregate the series")).cast("boolean"))
          .otherwise(lit(true)).as("_ok"))
    val a = s.crossJoin(broadcast(guard)).filter(col("_ok")).drop("_ok")
      .select(col("t"), col("x").as("xa"),
        explode(sequence(lit(1), lit(maxLag))).as("lag0"))
      .select(col("t"), col("xa"), col("lag0").cast(LongType).as("lag"))
      .withColumn("t2", col("t") + col("lag"))
    val pairs = a.join(
      broadcast(s.select(col("t").as("t2"), col("x").as("xb"))), "t2")
    pairs.groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("xa")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("xa") * col("xa")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"),
        sum(col("xa") * col("xb")).as("sxy"))
      .filter(col("n_pairs") >= 2)
      .select(col("lag"), col("n_pairs"),
        ((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType) /
          (sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType)) *
            sqrt((col("n_pairs") * col("syy") - col("sy") * col("sy"))
              .cast(DoubleType)))).as("acf"))
      .orderBy("lag")
  }


  /** Periodic (seasonal) baseline + residuals over an INTEGER-valued
    * regular series: phase = t mod `period` (pure epoch-bucket
    * arithmetic — deliberately NOT a calendar dayofweek(), whose
    * numbering every engine picks differently), phase mean from exact
    * integer sums, residual = x − mean. The day-of-week traffic
    * baseline anomaly monitors subtract before thresholding.
    *
    * Determinism: each mean is one IEEE division of exact longs and
    * the residual one subtraction on identical operands. Scale: the
    * phase table is `period` rows and broadcasts back onto the rollup.
    */
  def seasonalBaseline(series: DataFrame, tCol: String, xCol: String,
                       period: Int): DataFrame = {
    require(period >= 1, s"period must be >= 1, got $period")
    val s = series.select(col(tCol).cast(LongType).as("t"),
      col(xCol).cast(LongType).as("x"),
      pmod(col(tCol).cast(LongType), lit(period)).as("phase"))
    val m = s.groupBy("phase")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .select(col("phase"),
        (col("sx").cast(DoubleType) / col("n").cast(DoubleType))
          .as("phase_mean"))
    s.join(broadcast(m), "phase")
      .select(col("t"), col("x"), col("phase"), col("phase_mean"),
        (col("x").cast(DoubleType) - col("phase_mean")).as("resid"))
  }

  /** Truncated exponentially-weighted moving average over an
    * INTEGER-valued regular series: for each bucket t,
    * `ewma(t) = Σ_{lag=0..12} w(lag)·x(t−lag) / Σ w(lag)` with
    * `w(lag) = 0.5^(lag+1)` (alpha = 0.5) — the streaming-friendly
    * smoother (trend lines, anomaly baselines) with the infinite tail
    * cut at lag 12 and the kept mass renormalized, so the result is a
    * proper weighted mean even in the warm-up region.
    *
    * Determinism: alpha is DYADIC, so every weight is an exact power of
    * two in IEEE pow AND in decimal, and the deepest one, 2^-13, is
    * the last that lands exactly on the DECIMAL(14,13) grid (a deeper
    * weight would ROUND differently per engine: Spark rounds the
    * shortest decimal string, DuckDB the exact binary).
    * Weight×integer products and both sums are then exact, and the
    * final division is one IEEE op on identical operands in any
    * engine — the same discipline as [[meanShiftSplits]].
    *
    * Scale: a bounded-lag self-join on the ROLLUP (|buckets|·13 rows),
    * never event-sized; the lag side broadcasts. No ordered window at
    * all, so no single-task ordering bottleneck.
    */
  def ewmaTruncated(series: DataFrame, tCol: String,
                    xCol: String): DataFrame = {
    val (maxLag, alpha) = (12, 0.5)
    val s = series.select(col(tCol).cast(LongType).as("t"),
      col(xCol).cast(LongType).as("x"))
    val a = s.select(col("t"), col("x"),
        explode(sequence(lit(0), lit(maxLag))).as("lag0"))
      .select(col("t"), col("x"), col("lag0").cast(LongType).as("lag"))
      .withColumn("tj", col("t") - col("lag"))
    val pairs = a.join(
      broadcast(s.select(col("t").as("tj"), col("x").as("xj"))), "tj")
    // w at (14,13) and xj at (10,0) keep the product at DECIMAL(25,13):
    // under Spark's cap-38 multiply rules a wider operand pair (e.g.
    // (20,13) × bigint-as-(20,0) → (41,13)) would silently TRUNCATE the
    // scale and break exactness
    pairs
      .withColumn("w",
        (lit(alpha) * pow(lit(1.0 - alpha), col("lag")))
          .cast(DecimalType(14, 13)))
      .groupBy("t", "x")
      .agg(sum(col("w") * col("xj").cast(DecimalType(10, 0))).as("num"),
        sum(col("w")).as("den"))
      .select(col("t"), col("x"),
        (col("num").cast(DoubleType) / col("den").cast(DoubleType))
          .as("ewma"))
  }

  /** Engagement stickiness: per day, DAU (distinct active users that
    * day), WAU (distinct users over the trailing 7 days) and the
    * DAU/WAU ratio — the "how habitual is usage" metric every product
    * analytics stack reports, and a distinct composition from ev14's
    * cohort matrix: a rolling DISTINCT count, which no window frame
    * can express directly.
    *
    * NULL users (anonymous/unattributed events) are EXCLUDED up front:
    * `count(*)` over the distinct pairs would count a NULL user toward
    * DAU while `count(DISTINCT u)` drops it from WAU — an asymmetry
    * that could push the ratio above 1.0. An unidentified event is not
    * a user in either numerator or denominator.
    *
    * Shape: the event stream first collapses to DISTINCT (user, day)
    * pairs — everything after is bounded by users×days, not events.
    * The trailing window is a range join of the day spine onto those
    * pairs (≤ 7 pairs-copies per day) + one count-distinct per day;
    * ratio = one IEEE division of exact longs.
    *
    * Scale: the dedup is the only event-volume shuffle; the spine join
    * broadcasts (days are rollup-sized) and each day's distinct-count
    * partial-aggregates map-side. Reads the `events` columns `user_id`
    * and `ts`.
    */
  def stickiness(events: DataFrame): DataFrame = {
    val ud = events
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("day"), col("user_id").as("u"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val spine = dau.select(col("day").as("d"))
    val wau = ud.join(broadcast(spine),
        col("day") <= col("d") && col("day") >= date_sub(col("d"), 6))
      .groupBy(col("d"))
      .agg(countDistinct(col("u")).as("wau"))
    dau.join(wau, col("day") === col("d"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast(DoubleType) / col("wau").cast(DoubleType))
          .as("stickiness"))
  }
}
