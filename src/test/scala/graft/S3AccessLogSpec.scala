package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sources.S3AccessLog

object SparkTestSession {
  /** One scratch root per test JVM, deleted when the JVM exits: every
    * spec's temp dirs (and the warehouse) live under it, so a run
    * leaves nothing behind in java.io.tmpdir.
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft-test")
    sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(root.toFile))
    root
  }

  /** A fresh directory under the per-JVM scratch root. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(scratchRoot, prefix)

  lazy val spark: SparkSession = GraftSession.builder(cpus = 4)
    .config("spark.sql.warehouse.dir", tempDir("graft-warehouse").toString)
    // the fault-injecting file system (FaultyFs), uncached so no
    // instance outlives a test's fault
    .config("spark.hadoop.fs.faulty.impl", classOf[FaultyFs].getName)
    .config("spark.hadoop.fs.faulty.impl.disable.cache", "true")
    .getOrCreate()
}

class S3AccessLogSpec extends AnyFunSuite {

  /** Deterministic ScalaCheck sampling (no scalatestplus in the offline
    * cache, so properties run as seeded sample sweeps).
    */
  def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // The one real sample line the reference ships (test_s3_server_access_logs.py:190).
  val RealLine: String =
    """2f72d68abcde93a1d8fd610f6b970dc1cabf1ddc49890eff97a5f24db329007e test-bucket [30/Jul/2024:13:08:44 +0000] 1.1.1.1 arn:aws:sts::123456789:assumed-role/TestRole/i-123456789abcdefgh BZCH9YMEC2WD3E4Z REST.HEAD.BUCKET - "HEAD / HTTP/1.1" 200 - - - 26 26 "-" "Hadoop 3.3.1, aws-sdk-java/1.12.189 Linux/5.15.0-1064-aws OpenJDK_64-Bit_Server_VM/25.382-b05 java/1.8.0_382 scala/2.12.14 vendor/Azul_Systems,_Inc. cfg/retry-mode/legacy" - ywUV+WX4hdG+LOGtBznXDFARyoT1wwLmHy9FrxRqfz25a86QIizV6v8bYK9/FCDpRYBzknx4/e4= SigV4 TLS_AES_128_GCM_SHA256 AuthHeader test-bucket.s3.amazonaws.com TLSv1.3 - -"""

  def parse(lines: Seq[String], fused: Boolean): DataFrame =
    S3AccessLog.parse(lines.toDF("value"), fused = fused)

  def firstRow(lines: Seq[String], fused: Boolean = true): Row =
    parse(lines, fused).head()

  test("real sample line parses cleanly (test_s3_server_access_logs.py:199-202)") {
    for (fused <- Seq(true, false)) {
      val r = firstRow(Seq(RealLine), fused)
      assert(r.getAs[String]("error_line") == null)
      assert(r.getAs[String]("s3_bucket") == "test-bucket")
      assert(r.getAs[String]("bucket_owner").startsWith("2f72d68a"))
      assert(r.getAs[String]("operation") == "REST.HEAD.BUCKET")
      assert(r.getAs[String]("key") == null)            // '-' → NULL
      assert(r.getAs[String]("request") == "\"HEAD / HTTP/1.1\"")
      assert(r.getAs[Int]("http_status") == 200)
      assert(r.isNullAt(r.fieldIndex("bytes_sent")))    // '-' → NULL
      assert(r.getAs[Long]("total_time") == 26L)
      assert(r.getAs[String]("referrer") == null)       // '"-"' → NULL
      assert(r.getAs[String]("user_agent").startsWith("\"Hadoop 3.3.1"))
      assert(r.getAs[String]("signature_version") == "SigV4")
      assert(r.getAs[String]("tls_version") == "TLSv1.3")
      assert(r.getAs[String]("access_point_arn") == null)
      assert(r.getAs[String]("acl_required") == null)
      // naive timestamp, +0000 offset dropped (test_...py:204-209)
      assert(r.getAs[java.sql.Timestamp]("request_time").toInstant ==
        java.time.Instant.parse("2024-07-30T13:08:44Z"))
    }
  }

  test("garbage line → all-NULL dead-letter row (s3_server_access_logs.py:164-193)") {
    for (fused <- Seq(true, false)) {
      val r = firstRow(Seq("content"), fused)
      assert(r.getAs[String]("error_line") == "content")
      S3AccessLog.OutputColumns.filterNot(_ == "error_line").foreach { c =>
        assert(r.isNullAt(r.fieldIndex(c)), s"expected NULL $c")
      }
    }
  }

  test("blank / whitespace-only lines are skipped (s3_server_access_logs.py:134-137)") {
    assert(parse(Seq("", "   ", "\t", RealLine), fused = true).count() == 1)
  }

  test("multi-char version_id dead-letters the line — reference quirk (s3_server_access_logs.py:30)") {
    // `(?P<version>\S)` matches exactly ONE char with a mandatory following
    // space, so any real (multi-char) version id makes the whole regex fail
    // → all-NULL dead-letter row. Verified against the reference regex in
    // CPython: search() returns None for a 39-char version token.
    val fields = RenderFixtures.baseFields.updated("version", "3HL4kqtJlcpXrof3vjVBH40Nr8X8gdRQBpUMLUo")
    val line = S3AccessLog.renderLine(fields)
    val r = firstRow(Seq(line))
    assert(r.getAs[String]("error_line") == line)
    assert(r.getAs[String]("s3_bucket") == null)
    // single-char version ids do parse
    val ok = firstRow(Seq(S3AccessLog.renderLine(RenderFixtures.baseFields.updated("version", "7"))))
    assert(ok.getAs[String]("version_id") == "7")
  }

  test("quoted sentinel only nulls referrer/user_agent; bare '-' passes through request") {
    val fields = RenderFixtures.baseFields
      .updated("request", "-")
      .updated("referrer", "\"-\"")
      .updated("useragent", "\"some agent\"")
    val r = firstRow(Seq(S3AccessLog.renderLine(fields)))
    assert(r.getAs[String]("request") == "-")      // NOT sentinel-decoded (s3.py:203)
    assert(r.getAs[String]("referrer") == null)
    assert(r.getAs[String]("user_agent") == "\"some agent\"")
  }

  test("matched line with garbage time → NULL request_time (divergence from reference crash)") {
    val fields = RenderFixtures.baseFields.updated("time", "[InvalidTimestamp]")
    val r = firstRow(Seq(S3AccessLog.renderLine(fields)))
    assert(r.getAs[String]("error_line") == null)  // line itself matched
    assert(r.isNullAt(r.fieldIndex("request_time")))
  }

  test("numeric casts: status int, bytes/size/times long (s3_server_access_logs.py:204-211)") {
    val fields = RenderFixtures.baseFields
      .updated("status", "404").updated("bytes", "123").updated("size", "9876543210")
      .updated("totaltime", "12").updated("turnaround", "7")
    val r = firstRow(Seq(S3AccessLog.renderLine(fields)))
    assert(r.getAs[Int]("http_status") == 404)
    assert(r.getAs[Long]("bytes_sent") == 123L)
    assert(r.getAs[Long]("object_size") == 9876543210L)
    assert(r.getAs[Long]("total_time") == 12L)
    assert(r.getAs[Long]("turn_around_time") == 7L)
  }

  test("output schema matches the reference's 27 columns with request_time at position 3") {
    val df = parse(Seq(RealLine), fused = true)
    assert(df.columns.toSeq == S3AccessLog.OutputColumns)
    val f = df.schema.fields.map(x => x.name -> x.dataType).toMap
    assert(f("request_time") == org.apache.spark.sql.types.TimestampType)
    assert(f("http_status") == org.apache.spark.sql.types.IntegerType)
    assert(f("bytes_sent") == org.apache.spark.sql.types.LongType)
  }

  test("fused expression path ≡ built-in regexp_extract path (property)") {
    val lines = samples(RenderFixtures.lineGen, 120)
    val a = parse(lines, fused = true).collect().toSeq
    val b = parse(lines, fused = false).collect().toSeq
    assert(a == b)
  }

  test("round-trip: render(fields) → parse → fields (property)") {
    val all = samples(RenderFixtures.fieldsGen, 60)
    val rows = parse(all.map(S3AccessLog.renderLine), fused = true).collect()
    assert(rows.length == all.length)
    all.zip(rows).foreach { case (fields, r) =>
      assert(r.getAs[String]("error_line") == null, fields)
      assert(r.getAs[String]("s3_bucket") == fields("bucket"))
      assert(r.getAs[String]("operation") == fields("operation"))
      if (fields("key") == "-") assert(r.getAs[String]("key") == null)
      else assert(r.getAs[String]("key") == fields("key"))
      if (fields("status") == "-") assert(r.isNullAt(r.fieldIndex("http_status")))
      else assert(r.getAs[Int]("http_status").toString == fields("status"))
    }
  }
}

/** Synthetic log-line fixtures (FIXTURES.md §A): the repo has no raw log
  * corpus, so tests render lines from field maps via the grammar inverse.
  */
object RenderFixtures {
  val baseFields: Map[String, String] = Map(
    "owner" -> "2f72d68abcde93a1d8fd610f6b970dc1cabf1ddc49890eff97a5f24db329007e",
    "bucket" -> "test-bucket",
    "time" -> "[30/Jul/2024:13:08:44 +0000]",
    "ip" -> "1.1.1.1",
    "requester" -> "arn:aws:sts::123456789:assumed-role/TestRole/i-123456789abcdefgh",
    "reqid" -> "BZCH9YMEC2WD3E4Z",
    "operation" -> "REST.HEAD.BUCKET",
    "key" -> "-",
    "request" -> "\"HEAD / HTTP/1.1\"",
    "status" -> "200",
    "error" -> "-",
    "bytes" -> "-",
    "size" -> "-",
    "totaltime" -> "26",
    "turnaround" -> "26",
    "referrer" -> "\"-\"",
    "useragent" -> "\"agent/1.0\"",
    "version" -> "-",
    "host_id" -> "ywUV+WX4hdG=",
    "signature_version" -> "SigV4",
    "cipher_suite" -> "TLS_AES_128_GCM_SHA256",
    "auth_type" -> "AuthHeader",
    "host_header" -> "test-bucket.s3.amazonaws.com",
    "tls_version" -> "TLSv1.3",
    "access_point_arn" -> "-",
    "acl_required" -> "-")

  private val token: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).map(_.take(24))
  private val dashOr: Gen[String] => Gen[String] =
    g => Gen.frequency(1 -> Gen.const("-"), 3 -> g)

  val fieldsGen: Gen[Map[String, String]] = for {
    bucket <- token
    op <- Gen.oneOf("REST.GET.OBJECT", "REST.PUT.OBJECT", "REST.HEAD.BUCKET")
    key <- dashOr(token.map(t => s"path/to/$t"))
    status <- Gen.oneOf("200", "204", "403", "404", "500", "-")
    bytes <- dashOr(Gen.chooseNum(0L, 1000000L).map(_.toString))
    day <- Gen.chooseNum(1, 28)
    hour <- Gen.chooseNum(0, 23)
    referrer <- Gen.oneOf("\"-\"", "\"http://example.com/\"", "-")
    ua <- Gen.oneOf("\"-\"", "\"agent/1.0\"")
  } yield baseFields ++ Map(
    "bucket" -> bucket, "operation" -> op, "key" -> key, "status" -> status,
    "bytes" -> bytes, "referrer" -> referrer, "useragent" -> ua,
    "time" -> f"[$day%02d/Jul/2024:$hour%02d:08:44 +0000]")

  val lineGen: Gen[String] = {
    val valid = fieldsGen.map(graft.sources.S3AccessLog.renderLine)
    Gen.frequency(
      8 -> valid,
      1 -> Gen.const("garbage line that will not match"),
      1 -> Gen.alphaNumStr,
      // adversarial shapes: the scanner must agree with java.util.regex
      // on every one of these (search semantics, separators, quoting)
      1 -> valid.map("JUNK-PREFIX " + _),          // match starts mid-line
      1 -> valid.map("inner" + _),                 // match starts mid-token
      1 -> valid.map(_ + " trailing junk after"),  // ignored tail
      1 -> valid.map(_.replaceFirst(" ", "  ")),   // double space separator
      1 -> valid.map(_.replaceFirst(" ", "\t")),   // tab separator
      1 -> valid.map(_.replace("\"HEAD / HTTP/1.1\"", "\"unclosed")),
      1 -> valid.map(_.replace("[30/Jul/2024:13:08:44 +0000]", "[no-close")),
      1 -> valid.map(_.replace("[30/Jul/2024:13:08:44 +0000]", "[]")),
      1 -> valid.map(_.replace(" - ywUV", " -- ywUV")))  // 2-char version
  }
}
