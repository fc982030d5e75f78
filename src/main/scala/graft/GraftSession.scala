package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Every entry point (Bench,
  * Verify, LogEtlMain, the tools, the test session) starts from
  * `builder()` and chains `.config` only for what really differs, so a
  * plan dump, a profile and a bench run plan under the same settings.
  *
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - session time zone UTC, UI off, log level WARN from context start;
  *   - GraftExtensions installed through `withExtensions`, which (unlike
  *     the static `spark.sql.extensions` conf) also reaches a second
  *     session built over an already-running SparkContext.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else 4 — BASELINE.md's driver contract. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "WARN")
      .withExtensions(new GraftExtensions)
}
