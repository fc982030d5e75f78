package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.{EtlQueries, PipelineQueries, QueryDef, RelationalQueries}

/** Driver contract — see SURVEY.md §7 + BASELINE.md.
  *
  * `queries` is the full operator inventory (SURVEY.md §2: relational
  * surface + §2c LLM-pipeline extensions), one named query per operator,
  * each paired in `oracleSql` with equivalent DuckDB SQL when
  * SQL-expressible.
  */
object SparkEntry {

  private val all: Seq[QueryDef] =
    RelationalQueries.defs ++ PipelineQueries.defs ++ EtlQueries.defs

  /** Flagship on sf0.001 (driver smoke-checks rows > 0): the log-rollup
    * shape the reference's Athena consumers run daily — traffic, volume
    * and error rate per day (SURVEY.md §7 "minimum slice") — over the
    * `events` stand-in stream.
    */
  def entry(spark: SparkSession): DataFrame =
    Tables.events(spark, "/root/testdata/sf0.001")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total_value"),
        (sum(when(col("event_type") === "error", 1).otherwise(0)).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("error_rate"))
      .orderBy("day")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(_.tuple).toMap

  /** DuckDB-runnable ANSI SQL oracle per query (omitted → the driver
    * records a weaker rows-only check). Only the `selected` queries'
    * oracles are built: some replay a gate's contract on the driver.
    */
  def oracleSql(selected: String => Boolean): Map[String, String] =
    all.filter(d => selected(d.name))
      .flatMap(d => d.oracle.map(sql => d.name -> sql)).toMap

  /** Gate rows allowed to return 0 rows at the gate SF. An empty result
    * hash-matches an empty oracle TRIVIALLY — proving nothing (the
    * dd10/q07 lesson from r5) — so Verify fails any unannotated empty.
    * Currently none: every gate row must produce rows.
    */
  def emptyByDesign: Set[String] = Set.empty
}
