package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AlbAccessLog, VpcFlowLog}

/** Field-level specs for the VPC flow-log and ALB access-log parsers
  * (the converter families the reference README claims but never
  * ships) against sample lines in the documented AWS formats.
  */
class LogSourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("vpc: v2 line parses every field with correct types") {
    val line = "2 123456789010 eni-1235b8ca123456789 172.31.16.139 " +
      "172.31.16.21 20641 22 6 20 4249 1418530010 1418530070 ACCEPT OK"
    val r = VpcFlowLog.parse(Seq(line).toDF("value")).collect().head
    assert(r.getAs[Int]("version") == 2)
    assert(r.getAs[String]("account_id") == "123456789010")
    assert(r.getAs[String]("interface_id") == "eni-1235b8ca123456789")
    assert(r.getAs[String]("srcaddr") == "172.31.16.139")
    assert(r.getAs[Int]("srcport") == 20641)
    assert(r.getAs[Int]("dstport") == 22)
    assert(r.getAs[Int]("protocol") == 6)
    assert(r.getAs[Long]("packets") == 20L)
    assert(r.getAs[Long]("bytes") == 4249L)
    assert(r.getAs[java.time.LocalDateTime]("start_ts").toString
      == "2014-12-14T04:06:50")
    assert(r.getAs[String]("action") == "ACCEPT")
    assert(r.getAs[String]("log_status") == "OK")
    assert(r.getAs[String]("error_line") == null)
  }

  test("vpc: NODATA record nulls the dash fields, keeps metadata") {
    val line = "2 123456789010 eni-1235b8ca123456789 - - - - - - - " +
      "1431280876 1431280934 - NODATA"
    val r = VpcFlowLog.parse(Seq(line).toDF("value")).collect().head
    assert(r.getAs[String]("srcaddr") == null)
    assert(r.isNullAt(r.fieldIndex("srcport")))
    assert(r.isNullAt(r.fieldIndex("bytes")))
    assert(r.getAs[String]("action") == null)
    assert(r.getAs[String]("log_status") == "NODATA")
    assert(r.getAs[String]("error_line") == null)
  }

  test("vpc: garbage line dead-letters with all fields null") {
    val r = VpcFlowLog.parse(Seq("not a flow log").toDF("value"))
      .collect().head
    assert((0 until r.length - 1).forall(r.isNullAt))
    assert(r.getAs[String]("error_line") == "not a flow log")
  }

  test("alb: documented sample line parses fields, quotes, ports, times") {
    val line = "http 2018-07-02T22:23:00.186641Z app/my-loadbalancer/50dc6c495c0c9188 " +
      "192.168.131.39:2817 10.0.0.1:80 0.000 0.001 0.000 200 200 34 366 " +
      "\"GET http://www.example.com:80/ HTTP/1.1\" \"curl/7.46.0\" - - " +
      "arn:aws:elasticloadbalancing:us-east-2:123456789012:targetgroup/my-targets/73e2d6bc24d8a067 " +
      "\"Root=1-58337262-36d228ad5d99923122bbe354\" \"-\" \"-\" 0 " +
      "2018-07-02T22:22:48.364000Z \"forward\" \"-\" \"-\" \"10.0.0.1:80\" \"200\" \"-\" \"-\""
    val r = AlbAccessLog.parse(Seq(line).toDF("value")).collect().head
    assert(r.getAs[String]("request_type") == "http")
    assert(r.getAs[java.time.LocalDateTime]("time").toString
      == "2018-07-02T22:23:00.186641")
    assert(r.getAs[String]("elb") == "app/my-loadbalancer/50dc6c495c0c9188")
    assert(r.getAs[String]("client_addr") == "192.168.131.39")
    assert(r.getAs[Int]("client_port") == 2817)
    assert(r.getAs[String]("target_addr") == "10.0.0.1")
    assert(r.getAs[Int]("target_port") == 80)
    assert(r.getAs[Double]("request_processing_time") == 0.000)
    assert(r.getAs[Int]("elb_status_code") == 200)
    assert(r.getAs[Long]("received_bytes") == 34L)
    assert(r.getAs[Long]("sent_bytes") == 366L)
    assert(r.getAs[String]("request") == "GET http://www.example.com:80/ HTTP/1.1")
    assert(r.getAs[String]("user_agent") == "curl/7.46.0")
    assert(r.getAs[String]("ssl_cipher") == null)
    assert(r.getAs[String]("trace_id") == "Root=1-58337262-36d228ad5d99923122bbe354")
    assert(r.getAs[String]("domain_name") == null)
    assert(r.getAs[Int]("matched_rule_priority") == 0)
    assert(r.getAs[java.time.LocalDateTime]("request_creation_time").toString
      == "2018-07-02T22:22:48.364")
    // trailing fields (newer ALB revisions), typed + sentinel-stripped
    assert(r.getAs[String]("actions_executed") == "forward")
    assert(r.getAs[String]("redirect_url") == null)
    assert(r.getAs[String]("target_port_list") == "10.0.0.1:80")
    assert(r.getAs[String]("target_status_code_list") == "200")
    assert(r.getAs[String]("classification") == null)
    // this 29-token line predates conn_trace_id → tolerant null
    assert(r.getAs[String]("conn_trace_id") == null)
    assert(r.getAs[String]("error_line") == null)
  }

  test("alb: tolerant reader — a 22-field line parses with null trailing fields") {
    val line = "http 2018-07-02T22:23:00.186641Z app/lb/1 10.0.0.9:55 10.0.0.1:80 " +
      "0.000 0.001 0.000 200 200 34 366 \"GET http://e/ HTTP/1.1\" \"ua\" - - " +
      "arn:tg \"Root=1-x\" \"-\" \"-\" 0 2018-07-02T22:22:48.364000Z"
    val r = AlbAccessLog.parse(Seq(line).toDF("value")).collect().head
    assert(r.getAs[String]("elb") == "app/lb/1")
    assert(r.getAs[String]("error_line") == null, "old-revision line must not dead-letter")
    Seq("actions_executed", "redirect_url", "error_reason", "target_port_list",
      "target_status_code_list", "classification", "classification_reason",
      "conn_trace_id").foreach { f =>
      assert(r.isNullAt(r.fieldIndex(f)), s"$f should be null on a 22-field line")
    }
  }

  test("alb: https line with quoted '-' sentinels and -1 times") {
    val line = "https 2018-07-02T22:23:00.186641Z app/lb/1 10.0.0.2:57834 - " +
      "-1 -1 -1 503 - 117 507 \"GET https://h:443/ HTTP/1.1\" \"-\" " +
      "ECDHE-RSA-AES128-GCM-SHA256 TLSv1.2 arn:aws:elb:tg/1 " +
      "\"Root=1-x\" \"h.example.com\" \"arn:cert\" -1 2018-07-02T22:22:48.364000Z " +
      "\"waf,forward\" \"-\" \"-\""
    val r = AlbAccessLog.parse(Seq(line).toDF("value")).collect().head
    assert(r.getAs[String]("request_type") == "https")
    assert(r.getAs[String]("target_addr") == null)
    assert(r.isNullAt(r.fieldIndex("target_port")))
    assert(r.getAs[Double]("request_processing_time") == -1.0)
    assert(r.getAs[Int]("elb_status_code") == 503)
    assert(r.isNullAt(r.fieldIndex("target_status_code")))
    assert(r.getAs[String]("user_agent") == null)
    assert(r.getAs[String]("ssl_cipher") == "ECDHE-RSA-AES128-GCM-SHA256")
    assert(r.getAs[String]("ssl_protocol") == "TLSv1.2")
    assert(r.getAs[String]("domain_name") == "h.example.com")
    assert(r.getAs[Int]("matched_rule_priority") == -1)
    assert(r.getAs[String]("actions_executed") == "waf,forward")
    assert(r.getAs[String]("error_reason") == null)
    assert(r.isNullAt(r.fieldIndex("target_port_list")), "absent trailing field")
    assert(r.getAs[String]("error_line") == null)
  }

  test("cloudfront: documented sample line parses typed fields, trailing included") {
    val line = Seq("2019-12-04", "21:02:31", "LAX1", "392", "192.0.2.100", "GET",
      "d111111abcdef8.cloudfront.net", "/index.html", "200", "-", "Mozilla%2F5.0",
      "-", "-", "Hit", "SOX4xwn4XV6Q4rgb7XiVGOHms==", "d111111abcdef8.cloudfront.net",
      "https", "23", "0.001", "-", "TLSv1.2", "ECDHE-RSA-AES128-GCM-SHA256", "Hit",
      "HTTP/2.0", "-", "-", "11040", "0.001", "Hit", "text/html", "78", "-", "-")
      .mkString("\t")
    val r = graft.sources.CloudFrontLog.parse(Seq(line).toDF("value")).collect().head
    assert(r.getAs[java.time.LocalDateTime]("ts").toString == "2019-12-04T21:02:31")
    assert(r.getAs[String]("x_edge_location") == "LAX1")
    assert(r.getAs[Long]("sc_bytes") == 392L)
    assert(r.getAs[Int]("sc_status") == 200)
    assert(r.getAs[String]("cs_referer") == null)
    assert(r.getAs[String]("cs_user_agent") == "Mozilla%2F5.0")
    assert(r.getAs[Double]("time_taken") == 0.001)
    assert(r.getAs[Int]("c_port") == 11040)
    assert(r.getAs[Double]("time_to_first_byte") == 0.001)
    assert(r.getAs[Long]("sc_content_len") == 78L)
    assert(r.isNullAt(r.fieldIndex("sc_range_start")))
    assert(r.getAs[String]("error_line") == null)
  }

  test("cloudfront: comments drop, 26-field classic lines parse, short lines dead-letter") {
    val classic = (Seq("2019-12-04", "21:02:31", "LAX1", "392", "192.0.2.100", "GET",
      "h", "/", "200", "-", "UA", "-", "-", "Miss", "R==", "h", "https", "23",
      "0.001", "-", "TLSv1.2", "C", "Miss", "HTTP/1.1", "-", "-")).mkString("\t")
    val df = Seq("#Version: 1.0", "#Fields: date time ...", classic, "too\tshort")
      .toDF("value")
    val rows = graft.sources.CloudFrontLog.parse(df).collect()
    assert(rows.length == 2, "comment lines must drop, not dead-letter")
    val good = rows.find(_.getAs[String]("error_line") == null).get
    assert(good.getAs[String]("x_edge_result_type") == "Miss")
    assert(good.isNullAt(good.fieldIndex("c_port")), "trailing field null on classic line")
    val bad = rows.find(_.getAs[String]("error_line") != null).get
    assert(bad.getAs[String]("error_line") == "too\tshort")
  }

  test("quote_tokenize ≡ regexp_extract_all on adversarial token soup") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val chunk = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(8)),
      Gen.const("\""), Gen.const("-"), Gen.const(" "), Gen.const("  "),
      Gen.const("\tx"), Gen.const("\"a b\""), Gen.const("\"unclosed"),
      Gen.const("mid\"quote"), Gen.const("\"\""), Gen.const("a\"b\"c"))
    val lineGen = Gen.listOfN(12, chunk).map(_.mkString)
    val pattern = java.util.regex.Pattern.compile("\"[^\"]*\"|\\S+")
    (0 until 300).foreach { i =>
      val line = lineGen(Gen.Parameters.default, Seed(42L + i)).get
      val m = pattern.matcher(line)
      val expected = Iterator.continually(m).takeWhile(_.find())
        .map(_.group()).toList
      val got = graft.functions.QuoteTokenize
        .tokenize(org.apache.spark.unsafe.types.UTF8String.fromString(line))
        .toArray[org.apache.spark.unsafe.types.UTF8String](
          org.apache.spark.sql.types.StringType)
        .map(_.toString).toList
      assert(got == expected, s"line <$line>: $got vs $expected")
    }
  }

  test("alb parse: fused tokenizer ≡ regexp path on the sample lines") {
    val lines = Seq(
      "http 2018-07-02T22:23:00.186641Z app/lb/1 10.0.0.9:55 10.0.0.1:80 " +
        "0.000 0.001 0.000 200 200 34 366 \"GET http://e/ HTTP/1.1\" \"ua x\" - - " +
        "arn:tg \"Root=1-x\" \"-\" \"-\" 0 2018-07-02T22:22:48.364000Z " +
        "\"forward\" \"-\" \"-\"",
      "garbage line", "").toDF("value")
    val a = AlbAccessLog.parse(lines, fused = true).collect().toSeq
    val b = AlbAccessLog.parse(lines, fused = false).collect().toSeq
    assert(a == b)
  }

  test("alb parse: the regexp reference path compiles under whole-stage codegen") {
    // lines from a range scan, not a local relation, so the projection
    // runs in a codegen stage; with fallback off, a stage that Janino
    // rejects fails the collect instead of logging and interpreting
    import org.apache.spark.sql.functions.{col, format_string}
    val lines = spark.range(4).select(format_string(
      "http 2018-07-02T22:23:00.186641Z app/lb/1 10.0.0.9:%d 10.0.0.1:80 " +
        "0.000 0.001 0.000 200 200 34 366 \"GET http://e/ HTTP/1.1\" " +
        "\"ua x\" - - arn:tg \"Root=1-x\" \"-\" \"-\" 0 " +
        "2018-07-02T22:22:48.364000Z \"forward\" \"-\" \"-\"",
      col("id")).as("value"))
    val key = "spark.sql.codegen.fallback"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val reference =
      try AlbAccessLog.parse(lines, fused = false).collect().toSeq
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(reference.map(_.getAs[Int]("client_port")) == (0 until 4))
    assert(reference == AlbAccessLog.parse(lines).collect().toSeq)
  }

  test("alb: short line dead-letters") {
    val r = AlbAccessLog.parse(Seq("http too short").toDF("value"))
      .collect().head
    assert((0 until r.length - 1).forall(r.isNullAt))
    assert(r.getAs[String]("error_line") == "http too short")
  }
}
