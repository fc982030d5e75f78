package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality validation operators (the Deequ / dbt-test shape):
  * one-pass column profiling, declarative rule checks, and
  * referential-integrity reports. Violations are emitted as REPORT
  * ROWS, never exceptions — a 100 TB validation run is a plain query
  * whose output lands next to the data it describes.
  *
  * Scale posture: profile and rule checks are ONE aggregation pass
  * each — every metric is a column expression over the same scan, and
  * the per-column/per-rule output rows come from a single generator
  * over the one-row aggregate, not per-column scans. The exact
  * multi-column DISTINCT in [[profile]] plans as Spark's Expand-based
  * multi-distinct (rows × profiled columns before partial aggregation);
  * [[profileApprox]] is the wide-table escape — HLL sketches, same
  * report schema, no Expand. Referential checks are anti joins on the
  * key, broadcast when the parent is dimension-sized.
  *
  * Data-supplied names (profiled columns, rule names) are never spliced
  * into SQL text: column references are backtick-escaped, internal
  * aliases are positional, and report labels ride as string LITERALS —
  * a column named `a.b`, `it's` or `x```y` profiles fine.
  */
object Quality {

  /** Reference to a possibly-exotic data-supplied column name: dots,
    * spaces, quotes and backticks must reach the resolver as one name,
    * not be parsed as field access or break generated SQL.
    */
  private def qcol(name: String): Column =
    col(s"`${name.replace("`", "``")}`")

  private def profileWith(df: DataFrame, cols: Seq[String],
                          distinct: Column => Column): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(count(qcol(c)).as(s"_cnt_$i"),
        distinct(qcol(c)).as(s"_nd_$i"),
        min(qcol(c)).cast(StringType).as(s"_min_$i"),
        max(qcol(c)).cast(StringType).as(s"_max_$i"))
    }
    val one = df.agg(count(lit(1)).as("_n"), aggs: _*)
    val entries = array(cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column_name"), col(s"_cnt_$i").as("_non_null"),
        col(s"_nd_$i").as("n_distinct"), col(s"_min_$i").as("min_value"),
        col(s"_max_$i").as("max_value"))
    }: _*)
    one.select(col("_n"), inline(entries))
      .select(col("column_name"), col("_n").as("n_rows"),
        (col("_n") - col("_non_null")).as("n_nulls"),
        col("n_distinct"), col("min_value"), col("max_value"))
  }

  /** One-pass column profile: per column — row count, null count,
    * exact distinct count, min/max (rendered as strings so one report
    * schema covers every column type).
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, countDistinct(_))

  /** [[profile]] with `approx_count_distinct` (HLL++) in place of the
    * exact distinct: identical report schema, but the plan is one
    * narrow aggregation pass with NO multi-distinct Expand — profiling
    * a 500-column table costs one scan, not 500× the row stream, at a
    * 2% HLL relative standard deviation.
    */
  def profileApprox(df: DataFrame, cols: Seq[String]): DataFrame =
    profileWith(df, cols, approx_count_distinct(_, 0.02))

  /** Declarative rule check: each rule is (name, boolean column); a row
    * violates a rule when the predicate is false OR null (an
    * unevaluable constraint is a violation, not a pass). One
    * aggregation pass for all rules.
    */
  def checkRules(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "checkRules needs at least one rule")
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"_v_$i")
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val entries = array(rules.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(name).as("rule"), col(s"_v_$i").as("n_violations"))
    }: _*)
    one.select(inline(entries))
  }

  /** Schema + null-rate drift between two snapshots of "the same"
    * table — the first check a lake pipeline runs when yesterday's
    * partition meets today's (a column silently dropped, added,
    * retyped, or suddenly null-heavy breaks every consumer downstream
    * before any VALUE comparison would). One row per column of either
    * side: status (common / removed / added), both type strings, a
    * type_changed flag, and both null fractions.
    *
    * Scale shape: ONE narrow aggregation pass per side (count + per-
    * column non-null count — no distinct, no Expand), a metadata-only
    * type table from each schema, and a column-name full-outer join
    * over ≤ |columns| rows. Null fractions are exact count divisions —
    * identical IEEE doubles in any engine. An EMPTY snapshot reports
    * 0.0 null fractions (0/0 would be a NULL indistinguishable from
    * "column absent on that side" and would silently disarm any
    * null-rate alert on exactly the most broken snapshot); emptiness
    * itself is first-class via the per-side row counts.
    */
  def schemaDrift(base: DataFrame, next: DataFrame): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame = {
      val cols = df.columns.toSeq
      val aggs = cols.zipWithIndex.map { case (c, i) =>
        count(qcol(c)).as(s"_nn_$i")
      }
      val one = df.agg(count(lit(1)).as("_n"), aggs: _*)
      val entries = array(cols.zipWithIndex.map { case (c, i) =>
        struct(lit(c).as("column_name"),
          lit(df.schema(c).dataType.simpleString).as(s"${tag}_type"),
          col("_n").as(s"${tag}_rows"),
          when(col("_n") > 0,
            (col("_n") - col(s"_nn_$i")).cast(DoubleType) /
              col("_n").cast(DoubleType))
            .otherwise(lit(0.0)).as(s"${tag}_null_frac"))
      }: _*)
      one.select(inline(entries))
    }
    side(base, "base").join(side(next, "new"), Seq("column_name"), "full_outer")
      .select(col("column_name"),
        when(col("new_type").isNull, lit("removed"))
          .when(col("base_type").isNull, lit("added"))
          .otherwise(lit("common")).as("status"),
        col("base_type"), col("new_type"),
        when(col("base_type").isNotNull && col("new_type").isNotNull &&
          col("base_type") =!= col("new_type"), 1L).otherwise(0L)
          .as("type_changed"),
        col("base_rows"), col("new_rows"),
        col("base_null_frac"), col("new_null_frac"))
  }

  /** Cross-table aggregate reconciliation: does each parent's stored
    * total equal the sum of its children's measure? One report row per
    * relation — parents seen, exact matches, mismatches, child groups
    * with no parent, parents with no children, and the largest
    * absolute discrepancy. Sums fold in DECIMAL so "equal" is exact
    * arithmetic, not an IEEE tolerance; pass measures pre-cast to the
    * decimal type the reconciliation should run in.
    *
    * Orphan/childless classification keys on JOIN-SIDE PRESENCE
    * (marker columns carried through the full outer join), never on
    * measure nullness — a parent whose stored total is NULL still
    * counts as a present parent (it lands in neither matched nor
    * mismatched, since NULL compares unknown), and a group whose child
    * measures are all NULL is still a present child group, not
    * childless. Precondition: `parentKey` is unique in `parent` (the
    * stored-total side of a reconciliation is a keyed table by
    * definition); duplicate parent keys would be double-counted
    * verbatim.
    *
    * Scale shape: one map-side-combining keyed aggregation of the
    * child stream + one keyed full-outer join against the parent —
    * both shuffles carry (key, decimal) pairs, and the report is a
    * single-row aggregate. No broadcast assumption: parent and child
    * can both be fact-sized.
    */
  def reconcile(relation: String,
                child: DataFrame, childKey: String, childMeasure: Column,
                parent: DataFrame, parentKey: String,
                parentMeasure: Column): DataFrame = {
    val c = child.groupBy(qcol(childKey).as("_k"))
      .agg(sum(childMeasure).as("_c"))
      .withColumn("_cp", lit(1))
    val p = parent.select(qcol(parentKey).as("_k"), parentMeasure.as("_p"))
      .withColumn("_pp", lit(1))
    val both = col("_cp").isNotNull && col("_pp").isNotNull
    c.join(p, Seq("_k"), "full_outer")
      .agg(
        count(when(col("_pp").isNotNull, 1)).as("n_parents"),
        count(when(both && col("_c") === col("_p"), 1)).as("n_matched"),
        count(when(both && col("_c") =!= col("_p"), 1)).as("n_mismatched"),
        count(when(col("_pp").isNull, 1)).as("n_orphan_groups"),
        count(when(col("_cp").isNull, 1)).as("n_childless"),
        max(when(both, abs(col("_c") - col("_p"))))
          .cast(DoubleType).as("max_abs_diff"))
      .select(lit(relation).as("relation"), col("n_parents"),
        col("n_matched"), col("n_mismatched"), col("n_orphan_groups"),
        col("n_childless"), col("max_abs_diff"))
  }

  /** Referential-integrity report: child rows whose key has no match in
    * the parent (NULL child keys are orphans — a null FK fails the
    * constraint). Anti join on the key; broadcast-sized parents never
    * shuffle the child side.
    */
  def orphanReport(relation: String,
                   child: DataFrame, childKey: String,
                   parent: DataFrame, parentKey: String): DataFrame =
    child.select(qcol(childKey))
      .join(parent.select(qcol(parentKey).as(childKey)).distinct(),
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
      .select(lit(relation).as("relation"), col("n_orphans"))

  /** Distribution drift between two snapshots of the same measure —
    * the population-stability-index report that gates "did yesterday's
    * data shift under my model/pipeline?". Values bin by fixed width
    * (clamped to [0, nBins)), and each bin contributes the PSI term
    *
    *   (p_a − p_b) · ln(p_a / p_b),   p = (count + 1)/(n + nBins)
    *
    * (+1 Laplace smoothing: empty bins contribute a finite, exact term
    * instead of ±∞, and the report needs no epsilon knob). Output one
    * row per bin — counts plus the quantized term; Σ psi_term is the
    * PSI (> 0.2 is the conventional "major shift" line). A full bin
    * spine (`spark.range(nBins)`) keeps empty bins present, because
    * with smoothing an empty bin still carries signal.
    *
    * Cross-engine determinism: counts are exact integers, p-ratios are
    * single IEEE divisions of exact inputs in the same written shape as
    * the oracle, and the one libm ln quantizes to DECIMAL(18,6) per bin
    * (the ta08/ta14 pattern) — the report hash-matches.
    *
    * Scale shape: two scan-fused bin projections + two nBins-row
    * hash aggregations; totals ride in as broadcast single-row frames.
    * Nothing is ever wider than nBins rows after the count.
    */
  def distributionDrift(a: DataFrame, b: DataFrame, value: Column,
                        binWidth: Double, nBins: Int): DataFrame = {
    require(binWidth > 0 && nBins > 1, "need binWidth > 0 and nBins > 1")
    // NULL measures are outside the distribution: exclude them from the
    // bins AND the totals, or every bin's smoothed p deflates and the
    // PSI is biased whenever a snapshot carries NULLs.
    def bin(df: DataFrame): DataFrame = df.where(value.isNotNull).select(
      least(greatest(floor(value / lit(binWidth)), lit(0)),
        lit(nBins - 1)).cast(LongType).as("bin"))
    val ca = bin(a).groupBy("bin").agg(count(lit(1)).as("n_a"))
    val cb = bin(b).groupBy("bin").agg(count(lit(1)).as("n_b"))
    val na = a.agg(count(value).as("_na"))
    val nb = b.agg(count(value).as("_nb"))
    val spine = a.sparkSession.range(nBins).select(col("id").as("bin"))
    val pA = (col("n_a") + 1).cast(DoubleType) /
      (col("_na") + nBins).cast(DoubleType)
    val pB = (col("n_b") + 1).cast(DoubleType) /
      (col("_nb") + nBins).cast(DoubleType)
    spine.join(ca, Seq("bin"), "left").join(cb, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
      .select(col("bin"), col("n_a"), col("n_b"),
        ((pA - pB) * log(pA / pB)).cast(DecimalType(18, 6))
          .cast(DoubleType).as("psi_term"))
  }

  /** Functional-dependency check: for each claimed dependency
    * det → dep, report how badly the data violates it — the schema-
    * inference / silent-denormalization-drift probe (a Deequ
    * `Uniqueness`-cousin): a determinant value with more than one
    * distinct dependent value breaks the FD. Output one row per
    * claimed dependency: (determinant, dependent, n_keys,
    * n_violating_keys, max_fanout, holds).
    *
    * One aggregation pass per dependency over (det, dep) pairs —
    * group by det counting distinct dep (exact, key-grouped — never
    * Expand since each pass is single-distinct), then a bounded
    * per-dependency summary. Violation counts are exact integers.
    */
  def fdViolations(df: DataFrame,
                   deps: Seq[(String, String)]): DataFrame = {
    require(deps.nonEmpty, "need at least one dependency to check")
    deps.map { case (det, dep) =>
      df.select(qcol(det).as("_det"), qcol(dep).as("_dep"))
        .groupBy(col("_det"))
        .agg(countDistinct(col("_dep")).as("_fan"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("_fan") > 1, 1L).otherwise(0L))
            .as("n_violating_keys"),
          max(col("_fan")).as("max_fanout"))
        .select(lit(det).as("determinant"), lit(dep).as("dependent"),
          col("n_keys"), col("n_violating_keys"), col("max_fanout"),
          (col("n_violating_keys") === 0L).as("holds"))
    }.reduce(_ unionAll _)
  }

  /** Tukey IQR outlier fences per numeric column: q1/q3 by exact
    * continuous-interpolation percentile (`percentile` — rank p·(n−1),
    * linear interpolation, the same definition DuckDB's
    * `quantile_cont` computes), fences at q1 − 1.5·IQR / q3 + 1.5·IQR,
    * plus out-of-fence counts — the robust per-column outlier rule the
    * threshold-based dq02 range checks can't derive from data.
    *
    * Scale shape: TWO passes over the relation — percentiles are not
    * one-pass combinable exactly (that's what dq04's sketches trade
    * for) — but the fence table is columns-sized and broadcasts into
    * the counting pass; no row-level sort reaches the output.
    */
  def iqrFences(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "iqrFences needs at least one column")
    // backtick-quote the interpolated name (the fdViolations/qcol
    // discipline): a column named `order count` must not parse as SQL
    def qname(c: String): String = "`" + c.replace("`", "``") + "`"
    val fences = df.select(cols.map(c =>
      expr(s"percentile(${qname(c)}, array(0.25D, 0.75D))").as(s"_q_$c")): _*)
    val withF = df.select(cols.map(c => col(c)): _*)
      .crossJoin(broadcast(fences))
    val aggs = cols.flatMap { c =>
      val q1 = element_at(col(s"_q_$c"), 1)
      val q3 = element_at(col(s"_q_$c"), 2)
      val lo = q1 - (q3 - q1) * 1.5
      val hi = q3 + (q3 - q1) * 1.5
      Seq(sum(when(col(c) < lo, 1L).otherwise(0L)).as(s"_nb_$c"),
        sum(when(col(c) > hi, 1L).otherwise(0L)).as(s"_na_$c"),
        first(q1).as(s"_q1_$c"), first(q3).as(s"_q3_$c"))
    }
    val row = withF.agg(aggs.head, aggs.drop(1): _*)
    cols.map { c =>
      row.select(lit(c).as("col_name"),
        col(s"_q1_$c").as("q1"), col(s"_q3_$c").as("q3"),
        (col(s"_q3_$c") - col(s"_q1_$c")).as("iqr"),
        (col(s"_q1_$c") - (col(s"_q3_$c") - col(s"_q1_$c")) * 1.5)
          .as("fence_lo"),
        (col(s"_q3_$c") + (col(s"_q3_$c") - col(s"_q1_$c")) * 1.5)
          .as("fence_hi"),
        col(s"_nb_$c").as("n_below"), col(s"_na_$c").as("n_above"))
    }.reduce(_ unionAll _)
  }

  /** Order-invariant table fingerprint — the "data diff" primitive of
    * a migration/backfill validation: rows render canonically, hash
    * through md5, and fold into ADDITIVE statistics (count, checksum
    * sum, min/max hash), so two copies of a table compare WITHOUT
    * sorting either side — the only way to diff a 100 TB table cheaply,
    * and any single changed/dropped/duplicated row moves the checksum.
    *
    * Rendering contract: restrict `cols` to types whose string cast is
    * engine-canonical (integers, strings, dates) — a double renders
    * differently across engines. The render is UNAMBIGUOUS: each
    * field escapes backslash then the `|` delimiter before joining,
    * and NULL renders as the unescapable token `\N`, so
    * ("a|b","c") vs ("a","b|c") and NULL vs "" all fingerprint
    * differently. The per-row hash is a 40-bit slice of md5
    * (engine-portable, vs xxhash64), summed in DECIMAL(38,0) --
    * exact far past any realistic row count.
    *
    * Scale: one narrow render+hash pass fused into the scan, one
    * 4-value aggregation — no shuffle beyond the single partial-agg
    * exchange, no sort anywhere.
    */
  def tableFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "tableFingerprint needs at least one column")
    // unambiguous render: escape backslash then the delimiter per
    // field; NULL becomes the unescapable token \N (a literal "\N"
    // field escapes its backslash) -- ("a|b","c") vs ("a","b|c") and
    // NULL vs "" all hash differently
    def field(c: String): Column = coalesce(
      replace(replace(col(c).cast("string"), lit("\\"), lit("\\\\")),
        lit("|"), lit("\\|")),
      lit("\\N"))
    val rendered = concat_ws("|", cols.map(field): _*)
    val h = conv(substring(md5(rendered), 1, 10), 16, 10).cast(LongType)
    df.select(h.as("_h"))
      // DECIMAL(38,0) sum: a BIGINT sum of 40-bit slices would
      // overflow at ~2^23 rows -- far below real table sizes
      // checksum renders as the decimal's exact digit string: a
      // DECIMAL(38,0) column degrades to float in pandas-side readers
      // (the oracle comparator included), while the digit string is
      // exact and engine-portable at any magnitude
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        sum(col("_h").cast(DecimalType(38, 0))).cast(StringType)
          .as("checksum"),
        min(col("_h")).as("min_h"), max(col("_h")).as("max_h"))
  }
}
