package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, IntegerType, LongType, ShortType}

import graft.functions.TopKAgg

/** Deterministic, engine-portable sampling for reproducible corpus
  * curation. `df.sample()` draws from a partition-seeded RNG — the
  * subset changes with partitioning, retries, and engine, which is
  * unacceptable when a training corpus must be re-derivable bit-for-bit
  * years later. Hash-gating on a STABLE KEY gives:
  *
  *  - reproducibility: membership is a pure function of the key,
  *  - engine portability: md5 hex is identical everywhere (the DuckDB
  *    oracle runs the same predicate verbatim),
  *  - consistency: the same key samples identically across tables,
  *    so a sampled `orders` still joins its sampled `lineitem`.
  *
  * Scale shape: a pure per-row filter fused into the scan — no shuffle,
  * no RNG state, trivially parallel at any scale.
  */
object Sampling {

  /** Keep rows whose md5(key) falls below `numerator/256` — fractions in
    * 1/256 steps via a 2-hex-digit prefix compare. md5 rather than
    * xxhash64 because the oracle side must compute the identical value.
    */
  def hashSample(key: Column, numerator: Int): Column = {
    require(numerator >= 0 && numerator <= 256, "numerator in [0, 256]")
    substring(md5(key.cast("string")), 1, 2) < lit(hexGate(numerator))
  }

  /** 2-hex-digit gate string; 256 (keep-all) needs a sentinel above any
    * hex pair — "100" would compare lexicographically BELOW "20".
    */
  private def hexGate(n: Int): String = if (n >= 256) "zz" else f"$n%02x"

  /** Unambiguous hash rendering of a possibly-NULL key: NULL is the
    * bare tag "n", every value "v"+value — a prefix discipline no key
    * string can alias (shared by [[kFoldAssign]] and
    * [[poissonReplicates]]; the sp10/sp11 oracles inline the identical
    * CASE expression).
    */
  private def seedableKey(keyCol: String): Column =
    when(col(keyCol).isNull, lit("n"))
      .otherwise(concat(lit("v"), col(keyCol).cast("string")))

  /** Stratified hash sampling: a different keep-fraction per stratum
    * value (e.g. downsample the dominant language, keep the rare ones
    * whole — the corpus-rebalancing step of every training-data
    * pipeline). Same md5 gate as [[hashSample]] so membership stays
    * reproducible and engine-portable; strata missing from `rates` get
    * `defaultNumerator`. Still a pure per-row filter fused into the
    * scan: the rate lookup compiles to a CASE chain, no join, no RNG.
    */
  def stratifiedHashSample(key: Column, stratum: Column,
                           rates: Map[String, Int],
                           defaultNumerator: Int = 0): Column = {
    (rates.toSeq.sortBy(_._1) :+ ("", defaultNumerator)).foreach { case (_, n) =>
      require(n >= 0 && n <= 256, "numerator in [0, 256]")
    }
    val numerator = rates.toSeq.sortBy(_._1).foldRight(
      lit(hexGate(defaultNumerator))) { case ((v, n), acc) =>
      when(stratum === v, lit(hexGate(n))).otherwise(acc)
    }
    substring(md5(key.cast("string")), 1, 2) < numerator
  }

  /** Temperature-based source rebalancing at α = 0.5: keep-rate per
    * stratum r = √(n_min/n) — the multilingual-mixing downsampling that
    * flattens a corpus toward uniform without discarding the smallest
    * strata (the smallest stratum keeps everything; a stratum 4× its
    * size keeps half). Rates are DERIVED FROM THE DATA in-plan (counts
    * → broadcast), unlike [[stratifiedHashSample]]'s caller-fixed map.
    *
    * α is fixed at 0.5 deliberately: √ is an IEEE-correctly-rounded
    * operation, so both engines compute the identical rate double and
    * the identical floor(256·r) gate; a general `pow(n, α)` is NOT
    * correctly rounded by libm and could flip the integer gate at a
    * boundary. Membership stays the same md5 hex-gate as [[hashSample]]
    * — reproducible, engine-portable, scan-fused but for one broadcast
    * join of |strata| rows.
    */
  def temperatureMixSample(df: DataFrame, stratumCol: String,
                           keyCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_n"))
    val minN = counts.agg(min(col("_n")).as("_nmin"))
    val gates = counts.crossJoin(broadcast(minN))
      .withColumn("_num", floor(lit(256.0) *
        sqrt(col("_nmin").cast("double") / col("_n").cast("double"))).cast("int"))
      .withColumn("_gate", when(col("_num") >= 256, lit("zz"))
        .otherwise(format_string("%02x", col("_num"))))
      .select(col(stratumCol), col("_gate"))
    df.join(broadcast(gates), stratumCol)
      .filter(substring(md5(col(keyCol).cast("string")), 1, 2) < col("_gate"))
      .drop("_gate")
  }

  /** Deterministic train/val/test assignment: the same md5 hex gate as
    * [[hashSample]], carved into three contiguous bands —
    * `[0, 245)` → "train", `[245, 250)` → "val", `[250, 256)` → "test"
    * (≈ 95.7/2.0/2.3%). Disjoint and exhaustive BY CONSTRUCTION
    * (one CASE over one hash of one stable key), reproducible on any
    * engine/partitioning/retry, and CONSISTENT across tables: a doc
    * lands in the same split wherever its key appears, so features
    * derived in another table can never leak across the boundary.
    * Scan-fused per-row expression — no shuffle, no RNG.
    */
  def assignSplit(key: Column): Column = {
    val h = substring(md5(key.cast("string")), 1, 2)
    when(h < lit(hexGate(245)), lit("train"))
      .when(h < lit(hexGate(250)), lit("val"))
      .otherwise(lit("test"))
  }

  /** Exactly-k-per-stratum sampling: rank rows within each stratum by
    * md5(key) (ties broken by the key itself — total order, so the
    * survivor set is unique) and keep the first `k`. The fraction
    * samplers above can't promise exact counts; this is the "give me
    * 10,000 eval docs per language, same ones every rerun, any engine"
    * shape.
    *
    * Scale shape: one keyed shuffle on the stratum + a per-stratum
    * window top-k (rank streams, no full sort of the table: only strata
    * columns shuffle ordering state). A stratum with fewer than k rows
    * survives whole.
    */
  def exactKPerStratum(df: DataFrame, stratumCol: String, keyCol: String,
                       k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= k)
      .drop("_rk")
  }

  /** Weight-proportional sampling WITHOUT replacement, deterministic
    * and engine-portable — "draw k docs, long documents proportionally
    * more often, same k docs every rerun on any engine". Sequential
    * Poisson sampling (Ohlsson 1998, the πps scheme production survey
    * samplers use): each row gets priority u/w where u is a
    * hash-uniform and w its weight; the k SMALLEST priorities win.
    * Heavier rows draw stochastically-smaller priorities, so inclusion
    * probability is ≈ proportional to weight.
    *
    * No float enters the selection: u is the first 10 hex digits of
    * md5(key) read as a 40-bit integer, and the priority is the EXACT
    * integer `(u * 1024) div w` — floor division computes the same
    * BIGINT in every engine (the /1024 fixed-point keeps resolution
    * under the division), and at < 2^50 it rides through the top-k's
    * double score losslessly (exact below 2^53). Ties (rare) break by
    * key, a total order.
    *
    * Scale shape: the priority is scan-fused per-row arithmetic; the
    * global k-smallest runs through the bounded [[TopKAgg]] partial
    * aggregate — each map partition exchanges at most k pairs, never a
    * corpus sort. The winners (k rows) broadcast back onto the table
    * to recover their attributes.
    *
    * Rows with w ≤ 0 are excluded (zero weight = zero inclusion mass);
    * weights are per-row positive integers (chars, tokens, bytes).
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    // keys ride through the bounded top-k aggregate as bigint; a lossy
    // cast (string, decimal) would null out and the aggregate would
    // silently skip every row (the Similarity.requireIntegralId guard)
    val kt = df.schema(keyCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(kt),
      s"keyCol '$keyCol' must be integral (byte/short/int/long): got $kt")
    val u40 = conv(substring(md5(col(keyCol).cast("string")), 1, 10), 16, 10)
      .cast(LongType)
    val winners = df.filter(col(weightCol) > 0)
      .select(col(keyCol), u40.as("_u"),
        col(weightCol).cast(LongType).as("_w"))
      // SQL `div` (IntegralDivide): exact BIGINT floor division on
      // positive operands in Spark and DuckDB alike
      .select(col(keyCol), expr("(_u * 1024) div _w").as("_prio"))
      .agg(TopKAgg.top_k(col("_prio").cast(DoubleType),
        col(keyCol).cast(LongType), k, ascending = true).as("_top"))
      .select(explode(col("_top")).as("_p"))
      .select(col("_p.id").as("_wkey"),
        col("_p.score").cast(LongType).as("skey"))
    df.join(broadcast(winners), col(keyCol).cast(LongType) === col("_wkey"))
      .drop("_wkey")
  }

  /** Neyman-optimal stratified allocation: split a total budget of `k`
    * draws across strata proportionally to `N_h · S_h` (stratum size ×
    * sample standard deviation of `valueCol`) — the survey-sampling
    * allocation that minimizes estimator variance for a fixed budget,
    * here the "spend eval budget where the docs vary most" step.
    * Returns one row per stratum with ≥ 2 members:
    * (stratum, n_h, alloc).
    *
    * Engine-portable by integerization: the variance numerator
    * `N·Σx² − (Σx)²` is exact BIGINT arithmetic on the integer value
    * column, S_h is one correctly-rounded division + sqrt, the weight
    * `N_h·S_h` quantizes to DECIMAL(28,6) (the ta14 pattern) and
    * scales to integer micro-units, and the final allocation is exact
    * integer floor division `(k·u_h) div Σu` — every engine computes
    * the identical split (floor allocations may sum to slightly
    * under k; the remainder is deliberately unassigned). BIGINT
    * bounds: u_h = N_h·S_h·10⁶ and the k·u_h product must both fit a
    * long, so N_h·S_h ≤ ~9·10¹²/k — at k=200 that is ~10⁷ rows × 10³
    * values (or 10⁶ × 10⁴) per stratum; both bounds are ENFORCED by
    * in-plan raise_error guards (DECIMAL side-sums — data-dependent,
    * so not plan-time requires). A 100 TB deployment that trips them
    * widens the moment sums and u_h to DECIMAL(38,0).
    *
    * Scale shape: one keyed aggregation over the table plus a
    * broadcast scalar — the allocation itself never shuffles data.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
                       k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val x = col(valueCol).cast(LongType)
    // the scaladoc BIGINT bounds are ENFORCED in-plan (data-dependent,
    // so no plan-time require can check them): a DECIMAL side-sum per
    // stratum proves n_h·Σx² < 2⁶³ (which bounds every BIGINT moment
    // product via Cauchy–Schwarz), and k·u_h is re-checked in DECIMAL
    // after integerization — both raise instead of silently wrapping
    val xd = x.cast(DecimalType(19, 0))
    val lim = lit(new java.math.BigDecimal("9223372036854775807"))
    val st = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_h"), sum(x).as("_sx"),
        sum(x * x).as("_sxx"), sum(xd * xd).as("_sxxd"),
        count(x).as("_nx"))
    val nd = col("n_h").cast(DecimalType(20, 0))
    val u = st.filter(col("n_h") >= 2)
      // a stratum with ZERO non-null values has _sxxd NULL from
      // absence, not overflow — it flows through (NULL variance, as
      // before the guard); with values present, a NULL sum/product is
      // a DECIMAL overflow — even further past the bound → raise
      .filter(when(col("_nx") === 0, lit(true))
        .when(col("_sxxd").isNull.or((nd * col("_sxxd")).isNull)
            .or(nd * col("_sxxd") >= lim),
          raise_error(lit("neymanAllocation: n_h·Σx² exceeds 2⁶³ — the " +
            "exact BIGINT variance moments would overflow; pre-scale the " +
            "value column or widen the moment sums to DECIMAL"))
            .cast("boolean"))
        .otherwise(lit(true)))
      .drop("_sxxd", "_nx")
      .withColumn("_sh", sqrt(
        (col("n_h") * col("_sxx") - col("_sx") * col("_sx")).cast(DoubleType) /
          (col("n_h") * (col("n_h") - 1)).cast(DoubleType)))
      .withColumn("_uh",
        ((col("n_h").cast(DoubleType) * col("_sh"))
          .cast(DecimalType(28, 6)) * lit(1000000)).cast(LongType))
      .filter(when(col("_uh").cast(DecimalType(20, 0)) * lit(k) >= lim,
        raise_error(lit("neymanAllocation: k·u_h exceeds 2⁶³ — the exact " +
          "integer allocation division would overflow; lower k or " +
          "pre-scale the value column")).cast("boolean"))
        .otherwise(lit(true)))
    val tot = u.agg(sum(col("_uh")).as("_ut"))
    u.crossJoin(broadcast(tot))
      .select(col(stratumCol), col("n_h"),
        expr(s"($k * _uh) div _ut").as("alloc"))
  }

  /** Draw each stratum's Neyman allocation with the same md5-ranked
    * exact-count draw as [[exactKPerStratum]] (per-stratum k instead of
    * a constant): reproducible, engine-portable, and capped at the
    * stratum size when the allocation over-asks. Returns the sampled
    * rows. The allocation table is broadcast — the only corpus pass is
    * the per-stratum rank window.
    */
  def neymanSample(df: DataFrame, stratumCol: String, keyCol: String,
                   valueCol: String, k: Int): DataFrame = {
    val alloc = neymanAllocation(df, stratumCol, valueCol, k)
      .select(col(stratumCol), col("alloc"))
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("_rk", row_number().over(w))
      .join(broadcast(alloc), stratumCol)
      .filter(col("_rk") <= col("alloc"))
      .drop("_rk", "alloc")
  }

  /** Fractional-epoch mixture weighting — the data-mixing step that
    * REPLICATES high-value sources instead of only downsampling the
    * rest ("2.3 epochs of reference text, 0.5 of web crawl"). A row of
    * stratum `s` with weight `(whole, fracNum)` emits `whole` copies,
    * plus one more when its md5 gate falls below `fracNum/256` — so the
    * stratum's multiplicity is `whole + fracNum/256` in expectation,
    * exact per key, and every copy carries an `epoch` tag
    * `0 .. copies-1` for downstream curriculum/shuffling use. The same
    * md5 gate as [[hashSample]] keeps the mixture a pure function of
    * the key: re-derivable bit-for-bit on any engine or partitioning,
    * and `(0, fracNum)` degrades to plain downsampling, so one operator
    * expresses a whole mixture spec. Strata missing from `weights`
    * pass through as one epoch.
    *
    * Scale shape: a scan-fused per-row CASE chain plus a bounded
    * explode (fan-out ≤ max whole + 1) — no shuffle, no RNG, no join;
    * output volume is the mixture size, which is the point.
    */
  def epochUpsample(df: DataFrame, stratumCol: String, keyCol: String,
                    weights: Map[String, (Int, Int)]): DataFrame = {
    weights.values.foreach { case (w, f) =>
      require(w >= 0 && f >= 0 && f <= 256,
        "whole epochs >= 0, fractional numerator in [0, 256]")
    }
    val sorted = weights.toSeq.sortBy(_._1)
    val whole = sorted.foldRight(lit(1)) { case ((v, (w, _)), acc) =>
      when(col(stratumCol) === v, lit(w)).otherwise(acc)
    }
    val fracGate = sorted.foldRight(lit(hexGate(0))) { case ((v, (_, f)), acc) =>
      when(col(stratumCol) === v, lit(hexGate(f))).otherwise(acc)
    }
    df.withColumn("_copies", whole +
        when(substring(md5(col(keyCol).cast("string")), 1, 2) < fracGate, 1)
          .otherwise(0))
      // sequence(0, -1) would step DOWNWARD, not empty — zero-copy rows
      // must leave before the explode
      .filter(col("_copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0), col("_copies") - 1)))
      .drop("_copies")
  }

  /** Stratified, leakage-safe k-fold cross-validation assignment:
    * fold = ⌊u·k / 2³²⌋ from a 32-bit md5 slice of the GROUP key (the
    * sp07 discipline — near-duplicate documents from one source can
    * never straddle folds, which is what makes CV scores honest on
    * web-scale corpora). Exact integer arithmetic — `(u·k) div 2³²` —
    * so the assignment replays bit-for-bit on any engine; the hash is
    * salted with the fixed seed "cv1" ([[seededHex8]]). Returns the
    * input plus a `fold` column in [0, k).
    *
    * Scale: a scan-fused per-row projection, zero shuffle, no RNG.
    */
  def kFoldAssign(df: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2, got $k")
    // a NULL group key is its own group (all NULL-key rows share a
    // fold) rather than propagating to a NULL fold outside [0, k) —
    // NULL-fold rows would silently vanish from every train AND
    // validation filter ([[seedableKey]]).
    val u = conv(seededHex8("cv1", groupCol), 16, 10).cast(LongType)
    df.withColumn("_u", u)
      // SQL `div`: exact BIGINT floor division on non-negative
      // operands in Spark and DuckDB alike (the sp08 idiom)
      .withColumn("fold", expr(s"(_u * $k) div 4294967296"))
      .drop("_u")
  }

  /** The first 8 hex digits of md5(seed digest ‖ [[seedableKey]]): the
    * one salted hash of [[kFoldAssign]] and [[poissonReplicates]]. The
    * seed is domain-separated through a fixed-width md5 digest prefix
    * (constant-folded), so seed "a_b"+key "c" and seed "a"+key "b_c" —
    * which a plain seed+"_"+key concat aliases — hash apart.
    */
  private[graft] def seededHex8(seed: String, keyCol: String): Column =
    substring(md5(concat(md5(lit(seed)), seedableKey(keyCol))), 1, 8)

  /** Cumulative Poisson(λ=1) CDF at k = 0..5, scaled to 32-bit hex
    * LITERALS (floor(P(X≤k)·2³²) rendered as 8 lowercase hex digits).
    * Hard-coded so replicate counts come from pure string compares —
    * neither engine ever evaluates `exp`, whose last-ulp could differ.
    */
  private val PoissonCdfHex: Seq[String] = Seq(
    "5e2d58d8", "bc5ab1b1", "eb715e1d", "fb239797", "ff1025f5", "ffd90f3b")

  /** Poisson(1) bootstrap replication — the resampling step of
    * distributed bagging/bootstrap-CI estimation: sampling n rows WITH
    * replacement from n is, per-row, Binomial(n, 1/n) → Poisson(1), so
    * each row independently draws a replicate count and explodes into
    * (row, rep 1..count); count 0 (≈ 36.8% of rows) drops the row.
    * The draw inverts the CDF on an md5 hex prefix of the key salted
    * with the fixed seed "bs1" ([[seededHex8]]) against
    * [[PoissonCdfHex]] — deterministic, partition-invariant,
    * engine-portable. Counts cap at 6
    * (P(X>6|λ=1) ≈ 8·10⁻⁵, the tail the 32-bit table resolves).
    *
    * Scale shape: a scan-fused narrow projection + generator — zero
    * shuffle, no RNG state, output volume ≈ input (E[count] = 1).
    */
  def poissonReplicates(df: DataFrame, keyCol: String): DataFrame = {
    val h = seededHex8("bs1", keyCol)
    val cnt = PoissonCdfHex.tail.zipWithIndex
      .foldLeft(when(h < lit(PoissonCdfHex.head), 0)) {
        case (acc, (t, i)) => acc.when(h < lit(t), i + 1)
      }
      .otherwise(lit(PoissonCdfHex.length))
    df.withColumn("_n", cnt)
      // sequence(1, 0) would step DOWNWARD, not empty (the
      // epochUpsample lesson) — zero-count rows leave first
      .filter(col("_n") > 0)
      .withColumn("rep", explode(sequence(lit(1), col("_n"))))
      .drop("_n")
  }
}
