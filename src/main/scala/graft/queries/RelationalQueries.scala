package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** The full relational operator surface (SURVEY.md §2b/§2c "Joins, aggs,
  * set ops, grouping sets..."), one named query per operator family, each
  * with a DuckDB oracle. The reference itself has none of these (its only
  * operators are scan→parse→project→sort→sink); they are the §2c
  * extension surface that makes this a query engine rather than a
  * converter.
  *
  * Scale notes are per-query: the plan shapes here (broadcast for dims,
  * partial aggregation, semi/anti instead of distinct-join, window
  * instead of self-join) are the ones that survive a 1000-executor /
  * 100 TB deployment.
  */
object RelationalQueries {

  /** Exact, order-independent money arithmetic: double → decimal(18,4). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 4))
  private def moneySum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Product operands use narrow decimals so the product precision stays
    * ≤ 38 in BOTH engines (Spark silently reduces scale past 38, DuckDB
    * keeps exact — that divergence would break the oracle hash).
    * `(12,4) * (7,4)` → exact everywhere.
    */
  private def decM(c: Column): Column = c.cast(DecimalType(12, 4))
  private def oneMinus(c: Column): Column =
    lit(1).cast(DecimalType(5, 4)) - c.cast(DecimalType(6, 4))
  /** The scale-8 product sum renders as a double through FLOOR-at-4dp
    * quantization: floor is identical in both engines (no rounding-mode
    * semantics, unlike a decimal re-scale, which is HALF_UP in Spark),
    * the scaled integer stays far under 2^53 at test scale so the
    * BIGINT→DOUBLE conversion is exact everywhere, and the final /1e4
    * is one correctly-rounded IEEE division. A direct double cast of
    * the scale-8 decimal diverged by 1 ulp at sf0.1 — DuckDB's
    * int128/10^8 path vs Spark's BigDecimal.doubleValue round
    * differently.
    */
  private def discSum(price: Column, disc: Column): Column =
    floor(sum(decM(price) * oneMinus(disc)) * 10000)
      .cast(LongType).cast(DoubleType) / 10000.0
  private val DiscSumSql =
    "(CAST(CAST(floor(sum(CAST(%s AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(5,4)) - CAST(%s AS DECIMAL(6,4)))) * 10000) AS BIGINT) AS DOUBLE) / 10000.0)"

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Register the TPC-H-ish tables as temp views for SQL-text queries
    * (the same SQL string runs verbatim in DuckDB — zero drift).
    */
  private def withViews(s: SparkSession, dir: String): Unit =
    Tables.all.filterNot(_ == "events").foreach { n =>
      t(s, dir, n).createOrReplaceTempView(n)
    }

  /** q42 body: persist both join sides bucketed + bucket-sorted on the
    * join key under the gate's [[PipelineQueries.gateWork]] tree
    * (writeBucketedAt clears each location first, so reruns overwrite
    * in place), then run the priority rollup over the co-located merge
    * join. 8 buckets ≈ sf0.01; at 100 TB the same layout uses
    * O(thousands) of buckets and is written ONCE, amortized over every
    * subsequent query on the key. The result stays lazy (PlanSpec
    * inspects its plan), so the tree outlives the call and is deleted
    * when the JVM exits.
    */
  private def bucketedPriorityRollup(s: SparkSession, dir: String): DataFrame = {
    val buckets = 8
    // Spark >= 3.0 hides bucket sort order from the planner by default
    // (a multi-file bucket is only partially sorted). writeBucketedAt
    // guarantees ONE file per bucket (repartition on the bucket hash),
    // which is exactly the regime where the legacy conf is sound — with
    // it on, the scans report their sortBy order and the merge join
    // plans with zero Sort nodes too. The conf lives on a CLONED
    // session (same SparkContext + catalog, independent conf): the
    // returned DataFrame is bound to the clone, so it is still set when
    // the caller plans this frame (planning happens at action time),
    // while the caller's own session never sees it — a later scan of a
    // genuinely multi-file-bucket table there must not claim a sort
    // order it lacks.
    val s2 = s.newSession()
    s2.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    val work = PipelineQueries.gateWork(s, "q42", dir)
    graft.operators.Bucketing.writeBucketedAt(
      t(s2, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
      "graft_q42_lineitem", "l_orderkey", buckets, s"$work/lineitem")
    graft.operators.Bucketing.writeBucketedAt(
      t(s2, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      "graft_q42_orders", "l_orderkey", buckets, s"$work/orders")
    val workP = new org.apache.hadoop.fs.Path(work)
    workP.getFileSystem(s.sparkContext.hadoopConfiguration).deleteOnExit(workP)
    s2.table("graft_q42_lineitem").hint("merge")
      .join(s2.table("graft_q42_orders"), "l_orderkey")
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).as("n_items"),
        discSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("priority")
  }

  private val baseDefs: Seq[QueryDef] = Seq(

    // ---- aggregation: hash agg with partial (map-side) combine; the
    // canonical pricing-summary scan+agg. 2 shuffle keys, tiny result.
    QueryDef("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  (CAST(CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * (CAST(1 AS DECIMAL(5,4)) - CAST(l_discount AS DECIMAL(6,4)))) * 10000) AS BIGINT) AS DOUBLE) / 10000.0) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_price,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast(TimestampNTZType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          discSum(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
          (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
          (moneySum(col("l_discount")) / count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // ---- filter + projection: predicate & column pushdown reach the
    // parquet scan (PushedFilters on l_shipdate/l_quantity; ReadSchema
    // of exactly 6 columns).
    QueryDef("q02_filter_pushdown",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast(TimestampNTZType)
          && col("l_shipdate") < lit("1997-01-01").cast(TimestampNTZType)
          && col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    },

    // ---- 3-way join + agg (TPC-H Q3 shape). customer is the small side
    // → broadcast hint; orders⋈lineitem shuffles on the join key once and
    // the groupBy reuses that partitioning.
    QueryDef("q03_shipping_priority",
      s"""SELECT o_orderkey,
        |  ${DiscSumSql.format("l_extendedprice", "l_discount")} AS revenue,
        |  o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-01-01").cast(TimestampNTZType))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-03-15").cast(TimestampNTZType))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(discSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .select(col("o_orderkey"), col("revenue"), col("o_orderdate"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // ---- broadcast dimension join: part is a dim table; explicit
    // broadcast() keeps the fact-table scan shuffle-free.
    QueryDef("q04_broadcast_dim",
      """SELECT p_brand,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },

    // ---- 6-way snowflake join (TPC-H Q5 shape): all dims broadcast,
    // single shuffle on the fact side for the final agg.
    QueryDef("q05_region_revenue",
      s"""SELECT n_name,
        |  ${DiscSumSql.format("l_extendedprice", "l_discount")} AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin) { (s, dir) =>
      val reg = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast(TimestampNTZType)
          && col("o_orderdate") < lit("1998-01-01").cast(TimestampNTZType))
      t(s, dir, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(t(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey")
            && col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(discSum(col("l_extendedprice"), col("l_discount")).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },

    // ---- semi join (EXISTS): no row multiplication, no distinct needed —
    // the shuffle carries only the join key.
    QueryDef("q06_semi_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- anti join (NOT EXISTS).
    // customers with no completed ('F') order — the build side is
    // FILTERED so the survivor set is non-empty at every SF (plain
    // "no orders at all" matched nobody in the testdata, leaving this
    // gate row trivially green on 0 rows — r5 verdict item).
    QueryDef("q07_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // ---- window top-k per group: one shuffle on the partition key; at
    // scale this replaces the self-join-then-filter anti-pattern.
    QueryDef("q08_window_topk",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) x
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast(LongType).as("rn"))  // DuckDB row_number → BIGINT
        .filter(col("rn") <= 3)
        .orderBy(col("o_custkey"), col("rn"))
    },

    // ---- running / frame window: cumulative sum + lag over a total
    // per-customer order (decimal running sum = exact, order-pinned).
    QueryDef("q09_window_running",
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  row_number() OVER w AS seq,
        |  lag(o_orderkey) OVER w AS prev_order,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
        |       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, seq""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          row_number().over(w).cast(LongType).as("seq"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          sum(dec(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("running_total"))
        .orderBy(col("o_custkey"), col("seq"))
    },

    // ---- rollup.
    QueryDef("q10_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    },

    // ---- cube.
    QueryDef("q11_cube",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    },

    // ---- distinct aggregation (expand-based multi-distinct).
    QueryDef("q12_distinct_agg",
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_returnflag) AS n_flags,
        |  count(*) AS n
        |FROM lineitem""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        count(lit(1)).as("n"))
    },

    // ---- set operations: UNION (distinct), INTERSECT, EXCEPT.
    QueryDef("q13_setops",
      """SELECT 'union' AS op, k FROM
        |  (SELECT c_nationkey AS k FROM customer UNION SELECT s_nationkey FROM supplier) a
        |UNION ALL
        |SELECT 'intersect' AS op, k FROM
        |  (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier) b
        |UNION ALL
        |SELECT 'except' AS op, k FROM
        |  (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier) c
        |ORDER BY op, k""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_nationkey").as("k"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
      c.union(su).distinct().select(lit("union").as("op"), col("k"))
        .unionAll(c.intersect(su).select(lit("intersect").as("op"), col("k")))
        .unionAll(c.except(su).select(lit("except").as("op"), col("k")))
        .orderBy(col("op"), col("k"))
    },

    // ---- global top-k: TakeOrderedAndProject, not a full sort — the
    // only plan that survives 100 TB for ORDER BY ... LIMIT.
    QueryDef("q14_topk_global",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 25""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
    },

    // ---- string function battery (all codegen'd built-ins).
    QueryDef("q15_string_fns",
      """SELECT p_partkey,
        |  upper(p_brand) AS ub, lower(p_type) AS lt,
        |  substring(p_name, 1, 8) AS pre, length(p_name) AS len,
        |  concat(p_brand, '#', p_type) AS ct,
        |  replace(p_name, ' ', '_') AS un,
        |  split_part(p_name, ' ', 1) AS w1,
        |  regexp_replace(p_name, '[aeiou]', '', 'g') AS rr
        |FROM part ORDER BY p_partkey LIMIT 100""".stripMargin) { (s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("ub"), lower(col("p_type")).as("lt"),
        substring(col("p_name"), 1, 8).as("pre"),
        length(col("p_name")).cast(LongType).as("len"),  // DuckDB length → BIGINT
        concat(col("p_brand"), lit("#"), col("p_type")).as("ct"),
        regexp_replace(col("p_name"), lit(" "), lit("_")).as("un"),
        split_part(col("p_name"), lit(" "), lit(1)).as("w1"),
        regexp_replace(col("p_name"), lit("[aeiou]"), lit("")).as("rr"))
        .orderBy("p_partkey").limit(100)
    },

    // ---- date/time function battery over TIMESTAMP_NTZ.
    QueryDef("q16_date_fns",
      """SELECT o_orderkey,
        |  year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
        |  quarter(o_orderdate) AS q,
        |  CAST(o_orderdate AS DATE) + 30 AS plus30,
        |  datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS since_epoch,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom
        |FROM orders ORDER BY o_orderkey LIMIT 100""".stripMargin) { (s, dir) =>
      // date-part ints are BIGINT in DuckDB — widen Spark's to match
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        month(col("o_orderdate")).cast(LongType).as("m"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("d"),
        quarter(col("o_orderdate")).cast(LongType).as("q"),
        date_add(col("o_orderdate").cast(DateType), 30).as("plus30"),
        datediff(col("o_orderdate").cast(DateType),
          lit("1995-01-01").cast(DateType)).cast(LongType).as("since_epoch"),
        last_day(col("o_orderdate").cast(DateType)).as("eom"))
        .orderBy("o_orderkey").limit(100)
    },

    // ---- LEFT OUTER join with null extension: customers keep a row
    // even with zero orders. Scale shape: orders is aggregated to one
    // row per custkey BEFORE the join (map-side-combinable agg), so the
    // outer join shuffles |custkeys| rows, not |orders| — the
    // join-then-aggregate formulation the oracle uses would explode the
    // shuffle at 100 TB. Results are identical.
    QueryDef("q17_left_outer_join",
      """WITH o AS (SELECT o_custkey, count(*) AS n_orders,
        |             sum(CAST(o_totalprice AS DECIMAL(18,4))) AS spent
        |           FROM orders GROUP BY o_custkey)
        |SELECT c_custkey,
        |  CAST(coalesce(n_orders, 0) AS BIGINT) AS n_orders,
        |  CAST(coalesce(spent, 0) AS DOUBLE) AS total_spent
        |FROM customer LEFT JOIN o ON o_custkey = c_custkey
        |ORDER BY c_custkey LIMIT 200""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), sum(dec(col("o_totalprice"))).as("spent"))
      t(s, dir, "customer")
        .join(o, col("o_custkey") === col("c_custkey"), "left")
        .select(col("c_custkey"),
          coalesce(col("n_orders"), lit(0L)).cast(LongType).as("n_orders"),
          coalesce(col("spent"), lit(0)).cast(DoubleType).as("total_spent"))
        .orderBy("c_custkey").limit(200)
    },

    // ---- FULL OUTER join: high-balance customer vs supplier counts per
    // nation; the thresholds are chosen so BOTH sides contribute
    // unmatched rows at sf0.01 (left-only and right-only nations), i.e.
    // both null-extension paths execute. Dims broadcast; the outer join
    // runs over two already-tiny aggregates.
    QueryDef("q18_full_outer_join",
      """WITH c AS (SELECT n_name, count(*) AS n_cust FROM customer
        |           JOIN nation ON c_nationkey = n_nationkey
        |           WHERE c_acctbal > 9900 GROUP BY n_name),
        | s AS (SELECT n_name, count(*) AS n_supp FROM supplier
        |           JOIN nation ON s_nationkey = n_nationkey
        |           WHERE s_acctbal > 9000 GROUP BY n_name)
        |SELECT coalesce(c.n_name, s.n_name) AS nation,
        |  CAST(coalesce(n_cust, 0) AS BIGINT) AS n_cust,
        |  CAST(coalesce(n_supp, 0) AS BIGINT) AS n_supp
        |FROM c FULL OUTER JOIN s ON c.n_name = s.n_name
        |ORDER BY nation""".stripMargin) { (s, dir) =>
      val nat = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val c = t(s, dir, "customer").filter(col("c_acctbal") > 9900)
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_cust"))
        .select(col("n_name").as("cn"), col("n_cust"))
      val su = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name")).agg(count(lit(1)).as("n_supp"))
        .select(col("n_name").as("sn"), col("n_supp"))
      c.join(su, col("cn") === col("sn"), "full")
        .select(coalesce(col("cn"), col("sn")).as("nation"),
          coalesce(col("n_cust"), lit(0L)).cast(LongType).as("n_cust"),
          coalesce(col("n_supp"), lit(0L)).cast(LongType).as("n_supp"))
        .orderBy("nation")
    },

    // ---- distribution window functions: ntile / percent_rank /
    // cume_dist / first_value / nth_value over one window definition.
    // All are exact small-integer ratios or row picks — engine-portable
    // bit-for-bit (unlike avg-style aggregates).
    QueryDef("q30_window_distribution",
      """SELECT o_custkey, o_orderkey,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(first_value(o_orderkey) OVER w AS BIGINT) AS first_ok,
        |  CAST(nth_value(o_orderkey, 2) OVER w AS BIGINT) AS second_ok
        |FROM orders
        |WHERE o_custkey < 40
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders").filter(col("o_custkey") < 40)
        .select(col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"),
          first_value(col("o_orderkey")).over(w).cast(LongType).as("first_ok"),
          nth_value(col("o_orderkey"), 2).over(w).cast(LongType).as("second_ok"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- math functions with EXACT cross-engine semantics: abs/floor/
    // ceil on IEEE doubles, sqrt (correctly rounded per IEEE-754), mod,
    // sign, greatest/least. Transcendentals (ln/exp/pow) are deliberately
    // absent — libm vs StrictMath differ in the last ulp and would break
    // the hash oracle.
    QueryDef("q31_math_fns",
      """SELECT l_orderkey, l_linenumber,
        |  abs(l_discount - 0.05) AS a,
        |  CAST(floor(l_extendedprice / 1000.0) AS DOUBLE) AS f,
        |  CAST(ceil(l_extendedprice / 1000.0) AS DOUBLE) AS c,
        |  sqrt(CAST(l_quantity AS DOUBLE)) AS s,
        |  CAST(l_orderkey % 7 AS BIGINT) AS m,
        |  CAST(sign(l_discount - 0.05) AS DOUBLE) AS sg,
        |  greatest(l_tax, l_discount) AS g,
        |  least(l_tax, l_discount) AS l
        |FROM lineitem WHERE l_orderkey < 300
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          abs(col("l_discount") - 0.05).as("a"),
          floor(col("l_extendedprice") / 1000.0).cast(DoubleType).as("f"),
          ceil(col("l_extendedprice") / 1000.0).cast(DoubleType).as("c"),
          sqrt(col("l_quantity").cast(DoubleType)).as("s"),
          (col("l_orderkey") % 7).cast(LongType).as("m"),
          signum(col("l_discount") - 0.05).cast(DoubleType).as("sg"),
          greatest(col("l_tax"), col("l_discount")).as("g"),
          least(col("l_tax"), col("l_discount")).as("l"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // ---- correlated EXISTS subquery via SQL text (same string runs in
    // DuckDB — Catalyst decorrelates to a semi join).
    sqlBoth("q19_exists_subquery",
      """SELECT o_orderkey, o_totalprice FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
        |ORDER BY o_orderkey LIMIT 100""".stripMargin),

    // ---- scalar subquery + HAVING.
    sqlBoth("q20_having_scalar_subquery",
      """SELECT c_nationkey,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS bal,
        |  count(*) AS n
        |FROM customer
        |GROUP BY c_nationkey
        |HAVING CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) >
        |  (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / count(*)
        |   FROM customer)
        |ORDER BY c_nationkey""".stripMargin),

    // ---- grouping sets.
    sqlBoth("q21_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ---- pivot (wide conditional agg). Spark leaves empty cells NULL;
    // DuckDB's FILTER count yields 0 — NULLIF aligns them (a count can
    // only be 0 when the cell is empty).
    QueryDef("q23_pivot",
      """SELECT o_orderpriority,
        |  CAST(NULLIF(count(*) FILTER (WHERE o_orderstatus = 'F'), 0) AS BIGINT) AS F,
        |  CAST(NULLIF(count(*) FILTER (WHERE o_orderstatus = 'O'), 0) AS BIGINT) AS O,
        |  CAST(NULLIF(count(*) FILTER (WHERE o_orderstatus = 'P'), 0) AS BIGINT) AS P
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .orderBy("o_orderpriority")
    },

    // ---- exact percentiles (interpolating; SortAggregate path).
    QueryDef("q24_percentiles",
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS p25,
        |  quantile_cont(l_quantity, 0.50) AS p50,
        |  quantile_cont(l_quantity, 0.75) AS p75,
        |  min(l_quantity) AS qmin, max(l_quantity) AS qmax
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          percentile(col("l_quantity"), lit(0.25)).as("p25"),
          percentile(col("l_quantity"), lit(0.50)).as("p50"),
          percentile(col("l_quantity"), lit(0.75)).as("p75"),
          min(col("l_quantity")).as("qmin"), max(col("l_quantity")).as("qmax"))
        .orderBy("l_returnflag")
    },

    // ---- array aggregation: collect_set + sort (emitted as a joined
    // string — portable across both engines' array renderings).
    QueryDef("q25_array_agg",
      """SELECT l_returnflag,
        |  array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
        |  count(DISTINCT l_linestatus) AS n_statuses
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          concat_ws(",", sort_array(collect_set(col("l_linestatus")))).as("statuses"),
          countDistinct(col("l_linestatus")).as("n_statuses"))
        .orderBy("l_returnflag")
    },

    // ---- conditional aggregation (pivot-by-hand; BIGINT-pinned).
    QueryDef("q22_conditional_agg",
      """SELECT o_orderpriority,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, dir) =>
      def flag(v: String) =
        sum(when(col("o_orderstatus") === v, 1).otherwise(0)).cast(LongType)
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(flag("F").as("n_f"), flag("O").as("n_o"), flag("P").as("n_p"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")
    })

  private val moreDefs: Seq[QueryDef] = Seq(
    // ---- non-equi (range/band) join: small band table broadcast, the
    // predicate evaluated in a BroadcastNestedLoopJoin — the only sane
    // physical shape for banded joins (never shuffle-sort a theta join).
    QueryDef("q26_range_join",
      """WITH bands(band, lo, hi) AS (VALUES
        |  ('small', 0.0, 10.0), ('medium', 10.0, 25.0), ('large', 25.0, 51.0))
        |SELECT band, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band ORDER BY band""".stripMargin) { (s, dir) =>
      import s.implicits._
      val bands = Seq(("small", 0.0, 10.0), ("medium", 10.0, 25.0),
        ("large", 25.0, 51.0)).toDF("band", "lo", "hi")
      t(s, dir, "lineitem")
        .join(broadcast(bands),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("qty"))
        .orderBy("band")
    },

    // ---- multiset set ops (ALL variants keep duplicates).
    QueryDef("q27_setops_all",
      """SELECT 'except_all' AS op, k FROM
        |  (SELECT c_nationkey AS k FROM customer EXCEPT ALL SELECT s_nationkey FROM supplier) a
        |UNION ALL
        |SELECT 'intersect_all' AS op, k FROM
        |  (SELECT c_nationkey AS k FROM customer INTERSECT ALL SELECT s_nationkey FROM supplier) b
        |ORDER BY op, k""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer").select(col("c_nationkey").as("k"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("k"))
      c.exceptAll(su).select(lit("except_all").as("op"), col("k"))
        .unionAll(c.intersectAll(su).select(lit("intersect_all").as("op"), col("k")))
        .orderBy(col("op"), col("k"))
    },

    // ---- higher-order array functions as a first-class query surface
    // (transform/filter/exists/aggregate over a constructed array).
    QueryDef("q28_higher_order_fns",
      """WITH t AS (SELECT o_orderkey,
        |  [o_orderkey % 7, o_orderkey % 5, o_orderkey % 3, o_orderkey % 11] AS xs
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(list_sum(list_transform(xs, x -> x * x)) AS BIGINT) AS sum_sq,
        |  CAST(len(list_filter(xs, x -> x % 2 = 0)) AS BIGINT) AS n_even,
        |  list_has_any(xs, [0]) AS has_zero,
        |  array_to_string(list_transform(xs, x -> CAST(x AS VARCHAR)), '-') AS joined
        |FROM t ORDER BY o_orderkey LIMIT 200""".stripMargin) { (s, dir) =>
      val xs = array(col("o_orderkey") % 7, col("o_orderkey") % 5,
        col("o_orderkey") % 3, col("o_orderkey") % 11)
      t(s, dir, "orders").select(col("o_orderkey"), xs.as("xs"))
        .select(
          col("o_orderkey"),
          aggregate(transform(col("xs"), x => x * x), lit(0L),
            (acc, x) => acc + x).as("sum_sq"),
          size(filter(col("xs"), x => x % 2 === 0))
            .cast(LongType).as("n_even"),
          exists(col("xs"), x => x === 0).as("has_zero"),
          array_join(transform(col("xs"),
            x => x.cast(StringType)), "-").as("joined"))
        .orderBy("o_orderkey").limit(200)
    },

    // ---- unpivot (wide → long): the inverse of q23's pivot, as a
    // native Expand node — each input row fans out to one row per
    // measure with NO shuffle and no UNION-of-scans (the oracle's
    // UNION ALL formulation IS the semantic definition, but would scan
    // the table once per measure; Expand scans once).
    QueryDef("q32_unpivot",
      """WITH b AS (SELECT l_orderkey, l_linenumber, l_quantity,
        |                  l_extendedprice, l_discount
        |           FROM lineitem WHERE l_orderkey < 300)
        |SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'discount' AS metric,
        |         CAST(l_discount AS DOUBLE) AS value FROM b
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'extendedprice',
        |         CAST(l_extendedprice AS DOUBLE) FROM b
        |  UNION ALL SELECT l_orderkey, l_linenumber, 'quantity',
        |         CAST(l_quantity AS DOUBLE) FROM b)
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem").filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast(DoubleType).as("quantity"),
          col("l_extendedprice").cast(DoubleType).as("extendedprice"),
          col("l_discount").cast(DoubleType).as("discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("discount"), col("extendedprice"), col("quantity")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")
    },

    // ---- map construction + manipulation (map_from_entries /
    // map_keys / map_values / element_at / map_filter /
    // transform_values). Maps can't be hash-compared across engines, so
    // every output is reduced to deterministic scalars; entry order is
    // pinned by sorting the entries array BEFORE map construction.
    QueryDef("q33_map_fns",
      """WITH base AS (SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |              FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag,
        |  array_to_string(list_sort(list(l_linestatus)), ',') AS keys,
        |  CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(coalesce(max(CASE WHEN l_linestatus = 'F' THEN cnt END), 0) AS BIGINT) AS f_cnt,
        |  coalesce(array_to_string(list_sort(list(l_linestatus) FILTER (WHERE cnt > 1000)), ','), '') AS big_keys,
        |  CAST(coalesce(max(CASE WHEN l_linestatus = 'O' THEN cnt END), 0) * 2 AS BIGINT) AS o_doubled
        |FROM base GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      val m = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("l_returnflag"))
        .agg(map_from_entries(sort_array(collect_list(
          struct(col("l_linestatus"), col("cnt"))))).as("m"))
      m.select(
          col("l_returnflag"),
          concat_ws(",", map_keys(col("m"))).as("keys"),
          aggregate(map_values(col("m")), lit(0L), (acc, v) => acc + v)
            .as("total"),
          coalesce(element_at(col("m"), "F"), lit(0L)).as("f_cnt"),
          concat_ws(",", map_keys(map_filter(col("m"),
            (_, v) => v > 1000))).as("big_keys"),
          coalesce(element_at(transform_values(col("m"),
            (_, v) => v * 2), "O"), lit(0L)).as("o_doubled"))
        .orderBy("l_returnflag")
    },

    // ---- bloom-filter join pruning: the explicit form of Spark's
    // runtime row-level filtering. A bloom built over the dim keys is
    // broadcast and applied BEFORE the shuffle — at 100 TB this prunes
    // the fact table at the scan side so only probable matches move;
    // the exact semi join afterwards removes the false positives, so
    // results are bit-identical to the plain semi join the oracle runs.
    QueryDef("q34_bloom_semi",
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      withViews(s, dir)
      // the bloom probe (scalar subquery, evaluated once) prunes the
      // fact scan; the IN semi join removes the false positives, so the
      // result equals the oracle's plain semi join exactly
      s.sql("""SELECT o_orderkey, o_custkey FROM orders
        |WHERE might_contain(
        |    (SELECT bloom_filter_agg(xxhash64(c_custkey), 10000L, 100000L)
        |     FROM customer WHERE c_mktsegment = 'BUILDING'),
        |    xxhash64(o_custkey))
        |  AND o_custkey IN
        |    (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin)
    },

    // Latest-wins upsert (SCD-1 merge): a derived delta batch (updated
    // prices for every 10th key + 50 brand-new keys) folded into the
    // orders snapshot via Merge.upsert — anti join survivors + union,
    // no window pass; the delta broadcasts so the snapshot never
    // shuffles. The full merged table is the gate output, so a row
    // mis-routed to the wrong side of the merge flips the hash.
    QueryDef("q35_merge_upsert",
      """WITH u AS (SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
        |                  'upd' AS src
        |           FROM orders WHERE o_orderkey % 10 = 0
        |           UNION ALL
        |           SELECT o_orderkey + 200000, o_totalprice, 'ins'
        |           FROM orders WHERE o_orderkey < 50),
        | b AS (SELECT o_orderkey, o_totalprice, 'base' AS src FROM orders)
        |SELECT * FROM (
        |  SELECT * FROM b WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
        |  UNION ALL SELECT * FROM u)
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val base = orders
        .select(col("o_orderkey"), col("o_totalprice"), lit("base").as("src"))
      val upd = orders.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_orderkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          lit("upd").as("src"))
      val ins = orders.filter(col("o_orderkey") < 50)
        .select((col("o_orderkey") + 200000).as("o_orderkey"),
          col("o_totalprice"), lit("ins").as("src"))
      graft.operators.Merge.upsert(base, upd.unionByName(ins), "o_orderkey")
        .orderBy("o_orderkey")
    },

    // Explicit skew-salting: the pathological-hot-key join spread over
    // `factor` tasks — the left side's key is extended with a
    // deterministic row-hash salt, the right side replicated per salt
    // value. The oracle is the PLAIN join aggregated identically:
    // salting must be a pure physical rewrite, invisible in results.
    // (AQE's skew splitting handles most cases at runtime; saltedJoin
    // is for the single-hot-key case it can't — see SCALE.md.)
    QueryDef("q39_salted_join",
      """SELECT o_orderstatus AS status, count(*) AS n_items,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      graft.operators.Skew.saltedJoin(li, ord, "l_orderkey", factor = 8)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_linenumber")).cast(LongType).as("sum_ln"))
        .orderBy("status")
    },

    // AQE-first skew handling — the AUTOMATIC path a 100 TB run
    // actually uses (SCALE.md prefers it; q39's manual salting is for
    // the single hot key bigger than an executor): the same hot-key
    // join planned as a sort-merge join (merge hint, no conf
    // mutation), with adaptive skew-join splitting left ON at its
    // session default. At runtime AQE splits any oversized shuffle
    // partition across extra tasks and replicates the matching build
    // side — a pure physical rewrite, invisible in results, so the
    // oracle is the identical plain join. PlanSpec drives a genuinely
    // skewed exchange through lowered thresholds and pins skew=true on
    // the join node.
    QueryDef("q41_aqe_skew_join",
      """SELECT o_orderstatus AS status, count(*) AS n_items,
        |  CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val ord = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      li.hint("merge").join(ord, "l_orderkey")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_linenumber")).cast(LongType).as("sum_ln"))
        .orderBy("status")
    },

    // Bucketed co-located join: both sides persisted bucketed AND
    // bucket-sorted on the join key (one file per bucket), then joined
    // with ZERO exchanges and ZERO sorts — at 100 TB the difference
    // between re-shuffling the fact table on every query and never
    // shuffling it again. The gate row materializes the layout fresh
    // each run (external tables under java.io.tmpdir so the driver's
    // warehouse stays untouched) and merge-hints the join so the plan
    // is the co-located SMJ at every SF — a broadcast would hide the
    // layout. The oracle is the identical plain join: bucketing must be
    // results-invisible. PlanSpec pins the plan shape: no Exchange and
    // no Sort anywhere below the join; the only shuffle left is the
    // 5-row priority rollup above it, which is the point of the demo.
    QueryDef("q42_bucketed_join",
      s"""SELECT o_orderpriority AS priority, count(*) AS n_items,
        |  ${DiscSumSql.format("l_extendedprice", "l_discount")} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      bucketedPriorityRollup(s, dir)
    },

    // The skew DIAGNOSTIC: top-k heavy-hitter keys with counts — what
    // you run (on a sample, at scale) to decide whether a join needs
    // q39's salting. Partial-agg top-k, never a full key sort.
    QueryDef("q40_skew_profile",
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1
        |ORDER BY n DESC, l_orderkey LIMIT 10""".stripMargin) { (s, dir) =>
      graft.operators.Skew.keySkewProfile(
        t(s, dir, "lineitem"), "l_orderkey", k = 10)
    },

    // Windowed DISTINCT count: distinct buyers per customer segment
    // over a trailing 30-day event-time frame — the rolling-reach
    // metric plain windowed counts can't express. Spark has no
    // DISTINCT window aggregate, so the implementation is
    // size(collect_set() OVER RANGE) — per-frame set state, same
    // semantics as DuckDB's native count(DISTINCT) OVER. The frame
    // orders on integer epoch days, so both engines bound the same
    // peers exactly.
    QueryDef("q36_windowed_distinct",
      """WITH o AS (SELECT o_orderkey, o_custkey, c_mktsegment,
        |             CAST(datediff('day', DATE '1995-01-01',
        |                  CAST(o_orderdate AS DATE)) AS BIGINT) AS d
        |           FROM orders JOIN customer ON o_custkey = c_custkey)
        |SELECT o_orderkey, c_mktsegment,
        |  CAST(count(DISTINCT o_custkey) OVER (PARTITION BY c_mktsegment ORDER BY d
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS buyers_30d
        |FROM o ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      // Scale-safe rolling distinct: the naive form — collect_set OVER
      // (PARTITION BY c_mktsegment RANGE 30 PRECEDING) — serializes each
      // segment's ENTIRE order history through one task holding a
      // per-frame set (~5 segments ⇒ 5 tasks at any SF). Rewrite as
      // transition indicators:
      //   1. dedup activity to (segment, custkey, day) — high-cardinality,
      //      fully parallel;
      //   2. per (segment, custkey), lag/lead find coverage ISLANDS: a
      //      customer counts toward day d iff some activity falls in
      //      [d-30, d], i.e. d lies in ∪[day_i, day_i+30]; gaps > 30
      //      days split islands. Island start ⇒ +1 at its first day,
      //      island end ⇒ −1 at (last day + 31);
      //   3. prefix-sum the ±1 events over the per-segment DAY SPINE —
      //      a window over segments × calendar-days rows (bounded by
      //      time, not data; broadcast-sized at any corpus scale);
      //   4. broadcast the spine back onto the order rows.
      // Identical results; the only per-segment serial step is step 3
      // over the tiny spine.
      val d = datediff(col("o_orderdate").cast(DateType),
        lit("1995-01-01").cast(DateType)).cast(LongType)
      val fact = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("o_custkey"),
          d.as("d"))
      val activity = fact.select("c_mktsegment", "o_custkey", "d").distinct()
      val perCust = Window.partitionBy("c_mktsegment", "o_custkey")
        .orderBy("d")
      val marked = activity
        .withColumn("prev", lag(col("d"), 1).over(perCust))
        .withColumn("next", lead(col("d"), 1).over(perCust))
      // one generate pass emits all three event kinds — island start
      // (+1 at first day), island end (−1 at last+31), and a delta-0
      // anchor at every activity day so the fact join below always
      // finds its day's running total. A single consumer of `marked`
      // keeps the whole ±1 derivation to ONE window pass over activity
      // (the three-branch union recomputed it three times).
      val spine = marked
        .select(col("c_mktsegment"), explode(array(
          when(col("prev").isNull || col("d") - col("prev") > 30,
            struct(col("d").as("ed"), lit(1L).as("delta"))),
          when(col("next").isNull || col("next") - col("d") > 30,
            struct((col("d") + 31).as("ed"), lit(-1L).as("delta"))),
          struct(col("d").as("ed"), lit(0L).as("delta")))).as("e"))
        .filter(col("e").isNotNull)
        .select(col("c_mktsegment"), col("e.ed").as("ed"),
          col("e.delta").as("delta"))
        .groupBy("c_mktsegment", "ed").agg(sum("delta").as("delta"))
      val cum = Window.partitionBy("c_mktsegment").orderBy("ed")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val counts = spine
        .select(col("c_mktsegment"), col("ed").as("d"),
          sum(col("delta")).over(cum).cast(LongType).as("buyers_30d"))
      fact.select("o_orderkey", "c_mktsegment", "d")
        .join(broadcast(counts), Seq("c_mktsegment", "d"))
        .select(col("o_orderkey"), col("c_mktsegment"), col("buyers_30d"))
        .orderBy("o_orderkey")
    },

    // Correlated LATERAL join: top-2 orders per customer by price — the
    // per-row-subquery shape (SQL:1999 LATERAL, Spark 4 native). One
    // SQL text runs verbatim in both engines; the tiebreak on
    // o_orderkey makes the top-2 a total order.
    sqlBoth("q37_lateral_topk",
      """SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, o.o_orderkey""".stripMargin),

    // Recursive CTE (Spark 4 WITH RECURSIVE): a data-driven month spine
    // from min to max order month, left-joined to per-month counts —
    // the recursive-generation shape ev09 builds with sequence() ranges,
    // here exercised through the SQL front end's recursion operator.
    // The upper bound rides ALONG the recursion as a column: a scalar
    // subquery in the step re-ran the max() aggregate scan on every one
    // of the ~80 iterations (measured 20 s at sf0.01 → 0.3 s hoisted).
    // Engine-specific interval syntax, identical results.
    QueryDef("q38_recursive_cte",
      """WITH RECURSIVE b AS (
        |  SELECT date_trunc('month', min(o_orderdate)) AS lo,
        |         date_trunc('month', max(o_orderdate)) AS hi FROM orders),
        | months(m, hi) AS (
        |  SELECT lo, hi FROM b
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi),
        | cnt AS (SELECT date_trunc('month', o_orderdate) AS m, count(*) AS n
        |         FROM orders GROUP BY 1)
        |SELECT CAST(months.m AS DATE) AS month,
        |  CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_orders
        |FROM months LEFT JOIN cnt USING (m) ORDER BY month""".stripMargin) { (s, dir) =>
      withViews(s, dir)
      s.sql("""WITH RECURSIVE b AS (
        |  SELECT date_trunc('MONTH', min(o_orderdate)) AS lo,
        |         date_trunc('MONTH', max(o_orderdate)) AS hi FROM orders),
        | months(m, hi) AS (
        |  SELECT lo, hi FROM b
        |  UNION ALL
        |  SELECT m + INTERVAL '1' MONTH, hi FROM months WHERE m < hi),
        | cnt AS (SELECT date_trunc('MONTH', o_orderdate) AS m, count(*) AS n
        |         FROM orders GROUP BY 1)
        |SELECT CAST(months.m AS DATE) AS month,
        |  CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_orders
        |FROM months LEFT JOIN cnt USING (m) ORDER BY month""".stripMargin)
    })

  /** A query whose Spark implementation IS the oracle SQL text, run
    * through `spark.sql` over temp views — exercises the SQL front end
    * (parser/analyzer) as a first-class API surface.
    */
  private def sqlBoth(name: String, sql: String): QueryDef =
    QueryDef(name, sql) { (s, dir) =>
      withViews(s, dir)
      s.sql(sql)
    }

  private val windowDefs: Seq[QueryDef] = Seq(
    // ---- RANGE window frame: peers by value distance (30 days), not
    // row count — the frame shape row-based windows can't express.
    QueryDef("q29_range_frame",
      """SELECT o_custkey, o_orderkey,
        |  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
        |  CAST(count(*) OVER (PARTITION BY o_custkey
        |                      ORDER BY datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |                      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_30d
        |FROM orders
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, dir) =>
      val d = datediff(col("o_orderdate").cast(DateType),
        lit("1995-01-01").cast(DateType)).cast(LongType)
      val w = Window.partitionBy(col("o_custkey")).orderBy(d)
        .rangeBetween(-30, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), d.as("d"),
          count(lit(1)).over(w).cast(LongType).as("n_last_30d"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // ---- Gaps-and-islands: runs of CONSECUTIVE active months per
    // customer (the retention-streak / sequence-segmentation shape).
    // The classic trick — month_index − row_number() is constant within
    // a consecutive run — turns run detection into a plain groupBy; no
    // self-join, no per-customer iteration. Output is the corpus-level
    // streak-length histogram.
    //
    // Scale: the only window partitions by o_custkey (high cardinality,
    // streams per key); everything else is keyed aggregation. Month
    // arithmetic is exact integers, so the histogram is
    // engine-portable with zero float surface.
    QueryDef("q43_gaps_islands",
      """WITH m AS (SELECT DISTINCT o_custkey,
        |    CAST(extract(year FROM CAST(o_orderdate AS DATE)) * 12 +
        |         extract(month FROM CAST(o_orderdate AS DATE)) AS BIGINT) AS m
        |  FROM orders),
        | g AS (SELECT o_custkey, m,
        |    m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
        |  FROM m),
        | isl AS (SELECT o_custkey, count(*) AS island_len
        |  FROM g GROUP BY o_custkey, grp)
        |SELECT CAST(island_len AS BIGINT) AS island_len,
        |  count(*) AS n_islands,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
        |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val mIdx = (year(col("o_orderdate").cast(DateType)) * 12 +
        month(col("o_orderdate").cast(DateType))).cast(LongType)
      val months = t(s, dir, "orders")
        .select(col("o_custkey"), mIdx.as("m")).distinct()
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("m"))
      months
        .withColumn("grp", col("m") - row_number().over(w))
        .groupBy(col("o_custkey"), col("grp"))
        .agg(count(lit(1)).as("island_len"))
        .groupBy(col("island_len"))
        .agg(count(lit(1)).as("n_islands"),
          countDistinct(col("o_custkey")).cast(LongType).as("n_customers"))
        .orderBy("island_len")
    },

    // Z-order (Morton) layout statistics: interleave the bits of
    // (l_partkey, l_suppkey) — the write-side clustering key a 100 TB
    // table would range-partition on so every parquet file covers a
    // bounded RECTANGLE in both dimensions and min/max stats prune
    // scans on either key (Delta/Iceberg ZORDER BY; Morton 1966). The
    // per-z-bucket envelopes returned here ARE the pruning stats: both
    // dims stay bounded per bucket, which a single-key sort cannot do.
    // The interleave is pure bitwise arithmetic (whole-stage codegen,
    // no UDF), generated once as SQL text (Layout.zSql) so DuckDB runs
    // the bit-identical expression.
    QueryDef("q44_zorder_layout",
      s"""WITH z AS (SELECT
        |    ${graft.operators.Layout.zSql("l_partkey", "l_suppkey", 16)}
        |      AS zval,
        |    l_partkey, l_suppkey FROM lineitem)
        |SELECT CAST(zval >> 16 AS BIGINT) AS zbucket,
        |  count(*) AS n_rows,
        |  CAST(min(l_partkey) AS BIGINT) AS p_min,
        |  CAST(max(l_partkey) AS BIGINT) AS p_max,
        |  CAST(min(l_suppkey) AS BIGINT) AS s_min,
        |  CAST(max(l_suppkey) AS BIGINT) AS s_max
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val z = graft.operators.Layout.zValue(
        col("l_partkey"), col("l_suppkey"), 16)
      t(s, dir, "lineitem")
        .select(shiftright(z, 16).as("zbucket"),
          col("l_partkey"), col("l_suppkey"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min("l_partkey").cast(LongType).as("p_min"),
          max("l_partkey").cast(LongType).as("p_max"),
          min("l_suppkey").cast(LongType).as("s_min"),
          max("l_suppkey").cast(LongType).as("s_max"))
        .orderBy("zbucket")
    },

    // IGNORE NULLS window carry-forward: prices sparsified to line 1 of
    // each order, then last_value IGNORE NULLS carries the most recent
    // observed price down each supplier's ship-date-ordered lines (the
    // SCD/gauge forward-fill idiom as a pure window op — ev09's gapFill
    // without the grid). Summarized per supplier: filled-row and
    // leading-null counts plus the exact-decimal sum of carried values.
    QueryDef("q45_ignore_nulls_window",
      """WITH b AS (SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
        |    CASE WHEN l_linenumber > 1 THEN NULL
        |         ELSE CAST(l_extendedprice AS DECIMAL(12,4)) END AS px
        |  FROM lineitem),
        | w AS (SELECT l_suppkey, px,
        |    last_value(px IGNORE NULLS) OVER (PARTITION BY l_suppkey
        |      ORDER BY l_shipdate, l_orderkey, l_linenumber
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carried
        |  FROM b)
        |SELECT l_suppkey,
        |  CAST(sum(CASE WHEN px IS NULL AND carried IS NOT NULL
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |  CAST(sum(CASE WHEN carried IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_leading_null,
        |  CAST(sum(carried) AS DOUBLE) AS carried_sum
        |FROM w GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
      val px = when(col("l_linenumber") > 1, lit(null))
        .otherwise(col("l_extendedprice").cast(DecimalType(12, 4)))
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"), px.as("px"))
        .withColumn("carried", last(col("px"), ignoreNulls = true).over(w))
        .groupBy(col("l_suppkey"))
        .agg(sum(when(col("px").isNull && col("carried").isNotNull, 1L)
            .otherwise(0L)).as("n_filled"),
          sum(when(col("carried").isNull, 1L).otherwise(0L))
            .as("n_leading_null"),
          sum(col("carried")).cast(DoubleType).as("carried_sum"))
        .orderBy("l_suppkey")
    },

    // TPC-H Q2 shape (min-cost supplier): correlated scalar-aggregate
    // subquery whose inner block repeats the outer's 4-way dim join —
    // the planner must decorrelate into a per-part min + self-join, not
    // re-run the subquery per row. Unit price is one IEEE division on
    // identical doubles; min/equality over those is order-independent.
    // (The reference schema has no partsupp table, so lineitem plays
    // the part-supplier cost source.)
    sqlBoth("q46_min_cost_supplier",
      """SELECT DISTINCT p.p_partkey, s.s_suppkey, s.s_name,
        |  l.l_extendedprice / l.l_quantity AS unit
        |FROM part p, lineitem l, supplier s, nation n, region r
        |WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
        |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'EUROPE' AND p.p_size <= 10
        |  AND l.l_extendedprice / l.l_quantity = (
        |    SELECT min(l2.l_extendedprice / l2.l_quantity)
        |    FROM lineitem l2, supplier s2, nation n2, region r2
        |    WHERE l2.l_partkey = p.p_partkey
        |      AND s2.s_suppkey = l2.l_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')
        |ORDER BY p.p_partkey, s.s_suppkey LIMIT 100""".stripMargin),

    // TPC-H Q21 shape (exclusively-late supplier): EXISTS proving the
    // order is multi-supplier AND a correlated NOT EXISTS (referencing
    // TWO outer tables) proving no OTHER supplier was late — the
    // semi+anti pair on the same correlation key that stresses subquery
    // decorrelation. "Late" = shipped > 60 days after the order date
    // (the schema carries no commit/receipt dates).
    sqlBoth("q47_late_exclusive_supplier",
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s, lineitem l1, orders o
        |WHERE o.o_orderkey = l1.l_orderkey AND l1.l_suppkey = s.s_suppkey
        |  AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND CAST(l3.l_shipdate AS DATE)
        |                          > CAST(o.o_orderdate AS DATE) + 60)
        |GROUP BY s.s_name ORDER BY numwait DESC, s.s_name LIMIT 20""".stripMargin),

    // TPC-H Q8 shape (market share): one nation's share of a region's
    // PROMO-part revenue per order year — the conditional-aggregate
    // ratio over a 7-table snowflake. Revenue stays exact DECIMAL
    // ((12,4)×(6,4) → (19,8), same product type in both engines)
    // through both sums; the share is one double division.
    sqlBoth("q48_market_share",
      """WITH sales AS (
        |  SELECT CAST(extract(year FROM CAST(o.o_orderdate AS DATE)) AS BIGINT) AS y,
        |    CAST(CAST(l.l_extendedprice AS DECIMAL(12,4))
        |         * (1.0000 - CAST(l.l_discount AS DECIMAL(6,4)))
        |         AS DECIMAL(19,8)) AS vol,
        |    n2.n_name AS supp_nation
        |  FROM lineitem l
        |  JOIN orders o ON o.o_orderkey = l.l_orderkey
        |  JOIN part p ON p.p_partkey = l.l_partkey
        |  JOIN customer c ON c.c_custkey = o.o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n1.n_regionkey
        |  JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        |  WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO')
        |SELECT y,
        |  CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol
        |                ELSE CAST(0 AS DECIMAL(19,8)) END) AS DOUBLE)
        |    / CAST(sum(vol) AS DOUBLE) AS mkt_share,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM sales GROUP BY y ORDER BY y""".stripMargin),

    // SCD-2 dimension-history build: collapse each customer's ordered
    // o_orderpriority observations into change runs, then emit validity
    // intervals [valid_from, valid_to) with an open current row — the
    // warehouse slowly-changing-dimension type-2 load as one pass of
    // keyed windows (lag to find run starts, lead over the survivors
    // for the interval end). Total order inside a customer is
    // (o_orderdate, o_orderkey), so same-day flips are deterministic.
    // Scale: both windows partition by customer — millions of
    // independent small partitions, no global ordering anywhere.
    QueryDef("q49_scd2",
      """WITH b AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
        |             o_orderkey, o_orderpriority AS prio FROM orders),
        | g AS (SELECT *, lag(prio) OVER
        |         (PARTITION BY o_custkey ORDER BY od, o_orderkey) AS pp
        |       FROM b),
        | runs AS (SELECT * FROM g WHERE pp IS NULL OR pp <> prio),
        | iv AS (SELECT o_custkey, prio, od AS valid_from, o_orderkey,
        |          lead(od) OVER (PARTITION BY o_custkey
        |                         ORDER BY od, o_orderkey) AS valid_to
        |        FROM runs)
        |SELECT o_custkey, prio AS priority, valid_from,
        |  coalesce(valid_to, DATE '9999-12-31') AS valid_to,
        |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_current
        |FROM iv ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("od"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate").cast(DateType).as("od"),
          col("o_orderkey"), col("o_orderpriority").as("prio"))
        .withColumn("pp", lag(col("prio"), 1).over(w))
        .filter(col("pp").isNull || col("pp") =!= col("prio"))
        .withColumn("vt", lead(col("od"), 1).over(w))
        // the open current row carries the classic 9999-12-31 end
        // sentinel, not NULL — engines disagree on null-date encodings
        .select(col("o_custkey"), col("prio").as("priority"),
          col("od").as("valid_from"),
          coalesce(col("vt"), to_date(lit("9999-12-31"))).as("valid_to"),
          when(col("vt").isNull, 1L).otherwise(0L).as("is_current"),
          col("o_orderkey"))
        .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))
        .drop("o_orderkey")
    })

  val defs: Seq[QueryDef] = baseDefs ++ moreDefs ++ windowDefs
}
