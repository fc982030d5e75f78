package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: the Spark implementation plus (when SQL-expressible)
  * an equivalent ANSI SQL oracle the driver runs in DuckDB over the same
  * parquet tables (BASELINE.md t2 gate).
  *
  * Cross-engine determinism rules (SURVEY.md §7):
  *  - every multi-row result ends in an explicit ORDER BY with a total
  *    tiebreak; NULL placement is explicit (`NULLS FIRST`);
  *  - double sums go through `DECIMAL(18,4)` (exact, order-independent)
  *    and back to double only at the end; averages divide two identical
  *    doubles so both engines run the same IEEE op;
  *  - integer sums are cast to BIGINT in the oracle (DuckDB widens to
  *    HUGEINT, Spark to long);
  *  - timestamps stay TIMESTAMP_NTZ end-to-end (Spark writes plain
  *    TIMESTAMP as UTC-adjusted, which DuckDB reads as TIMESTAMPTZ and
  *    the hash compare would diverge).
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {
  def tuple: (String, (SparkSession, String) => DataFrame) = name -> run
}

object QueryDef {
  /** Shorthand for defs whose oracle exists. */
  def apply(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, run, Some(oracle))
}
