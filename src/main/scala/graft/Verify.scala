package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name substrings — local
    // iteration only (the driver always dumps the full surface); it
    // filters oracle_sql.json too, so `local_oracle_check.py <sf> <out>
    // --no-run` compares just that subset
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean = only.forall(_.exists(name.contains))
    val spark = GraftSession.builder().getOrCreate()
    new java.io.File(outDir).mkdirs()
    var emptyViolations = List.empty[String]
    var failures = List.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // row-count audit: a 0-row result hash-matches a 0-row oracle
        // TRIVIALLY (the dd10/q07 class of dead gate rows) — every gate
        // row must produce rows at the gate SF unless it is explicitly
        // annotated empty-by-design
        val n = spark.read.parquet(s"$outDir/$name").count()
        if (n == 0 && !SparkEntry.emptyByDesign.contains(name))
          emptyViolations ::= name
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures ::= name
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql(selected)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // a failed query leaves no parquet, which the compare would only see
    // as a missing row; both checks fail the run after every query ran
    val problems = Seq(
      failures -> s"queries failed at $sfDir",
      emptyViolations -> (s"gate rows returned 0 rows at $sfDir without an " +
        "emptyByDesign annotation (trivially-green hash-match)"),
    ).collect { case (names, what) if names.nonEmpty =>
      s"$what: ${names.sorted.mkString(", ")}" }
    if (problems.nonEmpty) sys.error(problems.mkString("[verify] ", "; ", ""))
  }
}
