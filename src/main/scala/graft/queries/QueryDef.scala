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
  *
  * The oracle is built on first read, not with the def: some builders
  * replay a gate's contract on the driver (`Multimodal.nearDupOracleSql`
  * decodes and dHashes every planted image), and only `Verify` reads
  * oracles — Bench, Profile and the tools only run the queries.
  */
final class QueryDef private (
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    oracleSql: () => String) {
  lazy val oracle: Option[String] = Some(oracleSql())
  def tuple: (String, (SparkSession, String) => DataFrame) = name -> run
}

object QueryDef {
  def apply(name: String, oracle: => String)(
      run: (SparkSession, String) => DataFrame): QueryDef =
    new QueryDef(name, run, () => oracle)
}
