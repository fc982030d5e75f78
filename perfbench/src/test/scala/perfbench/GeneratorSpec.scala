package perfbench

import java.nio.file.Files

import scala.sys.process._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LogEtl

/** The seeded S3-log generator (gen.py) against the program's parser: every
  * fact the generator's manifest states must be what LogEtl.parse makes of
  * the generated lines. Run with `sbt test` from this directory.
  */
class GeneratorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** (bucket, manifest fields) for a quiet and a busy bucket-day. */
  private def generate(root: String): Seq[Map[String, String]] = {
    val script =
      s"""import datetime, sys
         |sys.path.insert(0, ${"\"" + sys.props("user.dir") + "\""})
         |import gen
         |for b, files, lines in [("quiet-bucket", 300, 4000), ("busy-bucket", 1, 6000)]:
         |    m = gen.write_bucket_day(${"\"" + root + "\""}, b, datetime.date(2024, 7, 30), files, lines, 7)
         |    print("\\t".join(f"{k}={m[k]}" for k in ("bucket", "rows", "blank_lines",
         |        "malformed_lines", "sum_bytes_sent", "min_request_time", "max_request_time")))
         |""".stripMargin
    Seq("python3", "-c", script).!!.trim.split("\n").toSeq
      .map(_.split("\t").map(_.split("=", 2)).map(kv => kv(0) -> kv(1)).toMap)
  }

  test("generated lines parse with exactly the manifest's rows, dead letters and facts") {
    val root = Files.createTempDirectory("perfbench-gen").toString
    for (m <- generate(root)) {
      val parsed = LogEtl.parse(spark.read.text(s"$root/${m("bucket")}/2024/07/30"))
        .cache()
      val r = parsed.agg(
        count(lit(1)), count(col("error_line")), sum(col("bytes_sent")),
        date_format(min(col("request_time")), "yyyy-MM-dd HH:mm:ss"),
        date_format(max(col("request_time")), "yyyy-MM-dd HH:mm:ss")).head()
      assert(r.getLong(0) == m("rows").toLong, m)
      assert(r.getLong(1) == m("malformed_lines").toLong, m)
      assert(r.getLong(2) == m("sum_bytes_sent").toLong, m)
      assert(r.getString(3) == m("min_request_time"), m)
      assert(r.getString(4) == m("max_request_time"), m)
      // the FIXTURES.md cases the generator covers are all exercised
      assert(m("blank_lines").toLong > 0 && m("malformed_lines").toLong > 0, m)
      val good = parsed.filter(col("error_line").isNull)
      assert(good.filter(length(col("version_id")) > 1).isEmpty)
      assert(!good.filter(col("version_id").isNotNull).isEmpty)
      assert(!good.filter(col("referrer").isNull).isEmpty)
      assert(good.filter(col("referrer") === "\"-\"").isEmpty)
      assert(!good.filter(col("key").isNull).isEmpty)
      assert(!good.filter(col("bytes_sent").isNull).isEmpty)
      assert(!good.filter(col("user_agent").contains(" ")).isEmpty)
      parsed.unpersist()
    }
  }
}
