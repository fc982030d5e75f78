package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.S3AccessLog

/** The log-ETL path as an oracle-checked, benchmarked query: render one
  * synthetic S3 access-log line per lineitem row (deterministic field
  * mapping), parse it back through the REAL fused parser, and aggregate
  * parsed fields. The DuckDB oracle computes the identical aggregate
  * straight from lineitem — any parser field swap, sentinel slip, cast
  * or timestamp bug breaks the hash match over ~600k lines at sf0.1.
  * This is the scale test the reference never had (its compact() was
  * untested, test_s3_server_access_logs.py:553-588).
  */
object EtlQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef("etl01_log_roundtrip",
      """SELECT concat('bkt', CAST(l_suppkey % 10 AS VARCHAR)) AS s3_bucket,
        |  count(*) AS n_requests,
        |  CAST(sum(l_orderkey % 100000) AS BIGINT) AS total_bytes,
        |  min(l_shipdate) AS first_request,
        |  CAST(max(200 + (l_linenumber % 5)) AS INTEGER) AS max_status
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      // spread BEFORE the render: the testdata parquet is one row group
      // → one scan task, which would serialize the render+parse of every
      // line onto a single core. Shuffling 5 narrow lineitem columns is
      // ~100× cheaper than single-threading the parse.
      val li = Tables.spread(Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_linenumber", "l_partkey"),
        "l_orderkey", "l_linenumber")
      val lines = li.select(format_string(
        "owner%d bkt%d [%s +0000] 10.0.0.1 arn:aws:iam::1:r REQ%d " +
          "REST.GET.OBJECT key/%d \"GET /k HTTP/1.1\" %d - %d 1024 5 4 " +
          "\"-\" \"agent/1.0\" - host= SigV4 TLS_AES_128_GCM_SHA256 " +
          "AuthHeader h.example.com TLSv1.3 - -",
        col("l_orderkey"),
        col("l_suppkey") % 10,
        date_format(col("l_shipdate"), "dd/MMM/yyyy:HH:mm:ss"),
        col("l_orderkey") * 10 + col("l_linenumber"),
        col("l_partkey"),
        lit(200) + (col("l_linenumber") % 5),
        col("l_orderkey") % 100000).as("value"))
      // rendered lines are never blank — dropBlanks=false keeps the
      // render out of a pushed-down scan filter (it would otherwise run
      // twice per row, single-task, upstream of the spread)
      S3AccessLog.parse(lines, dropBlanks = false)
        .groupBy(col("s3_bucket"))
        .agg(
          count(lit(1)).as("n_requests"),
          sum(col("bytes_sent")).as("total_bytes"),
          min(col("request_time")).cast(TimestampNTZType).as("first_request"),
          max(col("http_status")).as("max_status"))
        .orderBy("s3_bucket")
    },

    // VPC flow-log roundtrip: render one v2 flow record per lineitem
    // row, parse through VpcFlowLog, aggregate typed fields. Oracle
    // computes the same aggregate straight from lineitem — any token
    // swap, sentinel slip, or epoch-conversion bug breaks the hash.
    QueryDef("etl02_vpc_roundtrip",
      """SELECT concat('eni-', CAST(l_suppkey % 8 AS VARCHAR)) AS interface_id,
        |  count(*) AS n_flows,
        |  CAST(sum(l_orderkey % 65536) AS BIGINT) AS total_bytes,
        |  CAST(sum(l_linenumber) AS BIGINT) AS total_packets,
        |  CAST(sum(CASE WHEN l_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reject,
        |  min(CAST(epoch(CAST(l_shipdate AS TIMESTAMP)) AS BIGINT)) AS first_start
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.spread(Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_linenumber", "l_partkey"),
        "l_orderkey", "l_linenumber")
      val lines = li.select(format_string(
        "2 123456789012 eni-%d 10.0.0.%d 10.1.0.%d %d %d 6 %d %d %d %d %s OK",
        col("l_suppkey") % 8,
        col("l_partkey") % 250,
        col("l_orderkey") % 250,
        lit(1024) + (col("l_orderkey") % 60000),
        lit(443),
        col("l_linenumber"),
        col("l_orderkey") % 65536,
        unix_timestamp(col("l_shipdate")),
        unix_timestamp(col("l_shipdate")) + 60,
        when(col("l_orderkey") % 4 === 0, "REJECT").otherwise("ACCEPT"))
        .as("value"))
      graft.sources.VpcFlowLog.parse(lines)
        .groupBy(col("interface_id"))
        .agg(
          count(lit(1)).as("n_flows"),
          sum(col("bytes")).as("total_bytes"),
          sum(col("packets")).as("total_packets"),
          sum(when(col("action") === "REJECT", 1L).otherwise(0L)).as("n_reject"),
          min(unix_timestamp(col("start_ts"))).as("first_start"))
        .orderBy("interface_id")
    },

    // ALB access-log roundtrip: quoted-field tokenization, addr:port
    // splitting, ISO-8601-micros timestamps — aggregated per synthetic
    // load balancer and hash-checked against lineitem directly.
    QueryDef("etl03_alb_roundtrip",
      """SELECT concat('app/lb', CAST(l_suppkey % 5 AS VARCHAR), '/x') AS elb,
        |  count(*) AS n_requests,
        |  CAST(sum(l_orderkey % 100000) AS BIGINT) AS total_sent,
        |  CAST(max(200 + (l_linenumber % 5)) AS INTEGER) AS max_status,
        |  CAST(min(l_partkey % 30000) AS INTEGER) AS min_client_port,
        |  min(CAST(l_shipdate AS TIMESTAMP)) AS first_request,
        |  CAST(sum(CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_waf
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.spread(Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_linenumber", "l_partkey"),
        "l_orderkey", "l_linenumber")
      val iso = date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'")
      val lines = li.select(format_string(
        "http %s app/lb%d/x 10.0.0.1:%d 10.1.0.1:80 0.001 0.002 0.000 " +
          "%d 200 321 %d \"GET http://h:80/p?q=%d HTTP/1.1\" \"agent 1.0\" " +
          "- - arn:aws:elasticloadbalancing:r:1:targetgroup/tg/1 " +
          "\"Root=1-abc-%d\" \"h.example.com\" \"-\" 0 %s \"%s\" \"-\" \"-\"",
        iso,
        col("l_suppkey") % 5,
        col("l_partkey") % 30000,
        lit(200) + (col("l_linenumber") % 5),
        col("l_orderkey") % 100000,
        col("l_partkey"),
        col("l_orderkey"),
        iso,
        // a TRAILING field (ALB revision ≥ actions_executed) carrying
        // data — the oracle recomputes the same predicate from lineitem,
        // so dropping or mis-indexing the trailing reads breaks the hash
        when(col("l_orderkey") % 3 === 0, "waf,forward")
          .otherwise("forward")).as("value"))
      graft.sources.AlbAccessLog.parse(lines)
        .groupBy(col("elb"))
        .agg(
          count(lit(1)).as("n_requests"),
          sum(col("sent_bytes")).as("total_sent"),
          max(col("elb_status_code")).as("max_status"),
          min(col("client_port")).as("min_client_port"),
          min(col("time")).as("first_request"),
          sum(when(col("actions_executed") === "waf,forward", 1L)
            .otherwise(0L)).as("n_waf"))
        .orderBy("elb")
    },

    // CloudFront roundtrip: render one W3C tab-separated record per
    // lineitem row (with the structural #Version/#Fields headers mixed
    // in via a separate literal frame), parse through CloudFrontLog,
    // aggregate typed fields including a TRAILING one (c_port) and a
    // decimal-summed double (time_to_first_byte). The oracle recomputes
    // everything straight from lineitem.
    QueryDef("etl04_cloudfront_roundtrip",
      """SELECT concat('EDGE', CAST(l_suppkey % 6 AS VARCHAR)) AS x_edge_location,
        |  count(*) AS n_requests,
        |  CAST(sum(l_orderkey % 100000) AS BIGINT) AS total_bytes,
        |  CAST(sum(CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_miss,
        |  CAST(max(200 + (l_linenumber % 5)) AS INTEGER) AS max_status,
        |  min(CAST(l_shipdate AS TIMESTAMP)) AS first_ts,
        |  CAST(sum(CAST(CAST(l_orderkey % 100 AS DOUBLE) / 1000.0 AS DECIMAL(18,4))) AS DOUBLE) AS sum_ttfb,
        |  CAST(max(10000 + l_partkey % 50000) AS INTEGER) AS max_port
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val li = Tables.spread(Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_linenumber", "l_partkey"),
        "l_orderkey", "l_linenumber")
      // explode(array(...)) is a deliberate pushdown BARRIER: parse()'s
      // comment-drop filter is deterministic, and without the Generate
      // Catalyst pushes it below the spread exchange with the render
      // substituted in — the 32-arg format_string then runs inside the
      // SINGLE scan task (testdata is one row group) and again after the
      // exchange (measured: 2.2 s serialized scan task vs 0.6 s spread).
      // Predicates on generator output cannot sink below the Generate.
      val lines = li.select(explode(array(format_string(
        "%s\t00:00:00\tEDGE%d\t%d\t10.0.0.%d\tGET\td1.cf.net\t/k/%d\t%d\t-\t" +
          "Mozilla%%2F5.0\t-\t-\t%s\tREQ%d\thost.example.com\thttps\t%d\t" +
          "0.002\t-\tTLSv1.3\tC\tHit\tHTTP/2.0\t-\t-\t%d\t0.0%s\tHit\t" +
          "text/html\t512\t-\t-",
        date_format(col("l_shipdate"), "yyyy-MM-dd"),
        col("l_suppkey") % 6,
        col("l_orderkey") % 100000,
        col("l_partkey") % 250,
        col("l_partkey"),
        lit(200) + (col("l_linenumber") % 5),
        when(col("l_orderkey") % 3 === 0, "Miss").otherwise("Hit"),
        col("l_orderkey") * 10 + col("l_linenumber"),
        col("l_linenumber") * 10,
        lit(10000) + col("l_partkey") % 50000,
        // k in [0,100) → "0.0" + 2-digit k IS the %.3f rendering of
        // k/1000, without a java.util.Formatter float path per row
        lpad((col("l_orderkey") % 100).cast(StringType), 2, "0")))).as("value"))
      // every real CloudFront file opens with structural comments — mix
      // them in so the parser's comment-drop path is exercised in-gate
      val headers = Tables.load(s, dir, "region").limit(1).select(
        explode(array(lit("#Version: 1.0"),
          lit("#Fields: date time x-edge-location sc-bytes c-ip"))).as("value"))
      graft.sources.CloudFrontLog.parse(headers.unionAll(lines))
        .groupBy(col("x_edge_location"))
        .agg(
          count(lit(1)).as("n_requests"),
          sum(col("sc_bytes")).as("total_bytes"),
          sum(when(col("x_edge_result_type") === "Miss", 1L).otherwise(0L))
            .as("n_miss"),
          max(col("sc_status")).as("max_status"),
          min(col("ts")).as("first_ts"),
          sum(col("time_to_first_byte").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sum_ttfb"),
          max(col("c_port")).as("max_port"))
        .orderBy("x_edge_location")
    },

    // E3 DDL ROUND-TRIP: the Athena DDL (LogTable.ddl) is not just a
    // string — the gate writes a real compacted table at the engine's
    // layout, then BOTH engines read it back through the DDL's own
    // partition-projection contract: Spark expands the emitted
    // `storage.location.template` per date; the DuckDB oracle (playing
    // the Athena consumer) globs the same template shape over the same
    // files. A layout drift between destPath and the DDL template, an
    // oracle-unreadable parquet encoding, or a column-type desync all
    // hash-mismatch. (Absolute /tmp path: oracle SQL runs driver-side
    // after Verify wrote the files.)
    QueryDef("etl05_ddl_roundtrip",
      """SELECT s3_bucket, count(*) AS n_requests,
        |  CAST(sum(bytes_sent) AS BIGINT) AS total_bytes,
        |  CAST(max(http_status) AS INTEGER) AS max_status,
        |  CAST(count(DISTINCT "key") AS BIGINT) AS n_keys
        |FROM read_parquet('/tmp/graft_e3_layout/bkt0/*/*/*/*.parquet')
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import java.time.LocalDate
      import java.time.format.DateTimeFormatter
      import graft.operators.LogEtl
      import graft.sources.LogTable
      val root = "/tmp/graft_e3_layout"
      val bucket = "bkt0"
      val dates = Seq(LocalDate.of(2024, 7, 30), LocalDate.of(2024, 7, 31))
      for ((d, di) <- dates.zipWithIndex) {
        val lines = Tables.spread(s.range(500).toDF("i"), "i")
          .select(format_string(
            "owner9 bkt0 [%s +0000] 10.0.0.1 arn:aws:iam::1:r R%d " +
              "REST.GET.OBJECT key/%d/%d \"GET /k HTTP/1.1\" %d - %d 1024 " +
              "5 4 \"-\" \"agent/1.0\" - host= SigV4 TLS_AES_128_GCM_SHA256 " +
              "AuthHeader h.example.com TLSv1.3 - -",
            lit(DateTimeFormatter.ofPattern("dd/MMM/yyyy:HH:mm:ss",
              java.util.Locale.US).format(d.atStartOfDay())),
            col("i") + di * 1000, lit(di), col("i"),
            lit(200) + (col("i") % 5), (col("i") * 7 + di) % 1000).as("value"))
        LogEtl.write(LogEtl.parse(lines),
          LogEtl.destPath(root, bucket, d, hiveLayout = false),
          numOutputFiles = 2)
      }
      // read back STRICTLY through the DDL contract — parse the emitted
      // storage.location.template out of the CREATE TABLE text and
      // expand it with projection.date.format, exactly as Athena would
      val ddl = LogTable.ddl("access_logs", s"$root/$bucket")
      val tmpl = ddl.linesIterator
        .find(_.contains("storage.location.template")).get
        .split(" = ")(1).trim.stripPrefix("\"").stripSuffix("\"")
      val fmtLine = ddl.linesIterator
        .find(_.contains("projection.date.format")).get
        .split(" = ")(1).trim.stripPrefix("\"").stripSuffix("\",").stripSuffix("\"")
      val dfmt = DateTimeFormatter.ofPattern(fmtLine)
      val paths = dates.map(d => tmpl.replace("${date}", dfmt.format(d)))
      s.read.parquet(paths: _*)
        .groupBy(col("s3_bucket"))
        .agg(count(lit(1)).as("n_requests"),
          sum(col("bytes_sent")).as("total_bytes"),
          max(col("http_status")).as("max_status"),
          countDistinct(col("key")).as("n_keys"))
        .orderBy("s3_bucket")
    })
}
