package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.Locale

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LogEtl, LogEtlMain}
import graft.sources.S3AccessLog

class LogEtlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def tmpDir(): String = SparkTestSession.tempDir("graft-etl").toString

  val lines: Seq[String] = {
    val fieldSets = (0 until 200).map { i =>
      RenderFixtures.baseFields
        .updated("reqid", f"REQ$i%05d")
        .updated("time", f"[${1 + i % 28}%02d/Jul/2024:${i % 24}%02d:08:44 +0000]")
        .updated("bytes", (i * 37L).toString)
    }
    fieldSets.map(S3AccessLog.renderLine) ++ Seq("garbage", "", "  ")
  }

  test("compact: text in → snappy parquet out, n files, 27-col schema") {
    val in = tmpDir(); val out = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
      lines.mkString("\n").getBytes)
    LogEtl.compact(spark, in, out, numOutputFiles = 3)
    val parquets = parquetFiles(out)
    // at most n: a scan with fewer splits than n writes one file per split
    assert(parquets.length == math.min(3, spark.read.text(in).rdd.getNumPartitions))
    assert(parquets.forall(_.getName.contains("snappy")))
    val back = spark.read.parquet(out)
    assert(back.columns.toSeq == S3AccessLog.OutputColumns)
    assert(back.count() == 201)  // 200 parsed + 1 dead-letter; blanks skipped
    assert(back.filter($"error_line".isNotNull).count() == 1)
  }

  test("compact --format vpc/alb: family registry drives parse + sort column") {
    val vpcIn = tmpDir(); val vpcOut = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$vpcIn/flows.txt"),
      (0 until 50).map(i =>
        s"2 123456789012 eni-$i 10.0.0.1 10.0.0.2 100$i 443 6 5 2048 " +
          s"${1418530000 + i} ${1418530060 + i} ACCEPT OK").mkString("\n").getBytes)
    LogEtl.compact(spark, vpcIn, vpcOut, numOutputFiles = 2, format = "vpc")
    val vpc = spark.read.parquet(vpcOut)
    assert(vpc.columns.toSeq ==
      graft.sources.VpcFlowLog.FieldNames :+ "error_line")
    assert(vpc.count() == 50 && vpc.filter($"bytes" === 2048L).count() == 50)

    val albIn = tmpDir(); val albOut = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$albIn/reqs.txt"),
      (0 until 50).map(i =>
        f"http 2018-07-02T22:23:${i % 60}%02d.000000Z app/lb/1 10.0.0.9:5$i%d 10.0.0.1:80 " +
          "0.000 0.001 0.000 200 200 34 366 \"GET http://e/ HTTP/1.1\" \"ua\" - - " +
          "arn:tg \"Root=1-x\" \"-\" \"-\" 0 2018-07-02T22:22:48.364000Z " +
          "\"forward\" \"-\" \"-\"").mkString("\n").getBytes)
    LogEtl.compact(spark, albIn, albOut, numOutputFiles = 2, format = "alb")
    val alb = spark.read.parquet(albOut)
    assert(alb.count() == 50)
    assert(alb.filter($"elb" === "app/lb/1").count() == 50)
    assert(alb.filter($"error_line".isNotNull).count() == 0)

    val cfIn = tmpDir(); val cfOut = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$cfIn/cf.txt"),
      ("#Version: 1.0" +: "#Fields: date time x-edge-location" +:
        (0 until 50).map(i =>
          Seq(f"2019-12-04\t21:02:${i % 60}%02d", "LAX1", s"${300 + i}",
            "192.0.2.1", "GET", "h", "/", "200", "-", "UA", "-", "-", "Hit",
            "R==", "h", "https", "23", "0.001", "-", "TLSv1.2", "C", "Hit",
            "HTTP/2.0", "-", "-").mkString("\t"))).mkString("\n").getBytes)
    LogEtl.compact(spark, cfIn, cfOut, numOutputFiles = 2, format = "cloudfront")
    val cf = spark.read.parquet(cfOut)
    assert(cf.count() == 50, "headers must drop, data rows survive compact")
    assert(cf.filter($"error_line".isNotNull).count() == 0)
    assert(cf.filter($"x_edge_location" === "LAX1").count() == 50)
  }

  test("compact: a scan with more splits than n writes exactly n files") {
    val in = tmpDir(); val out = tmpDir()
    Files.write(Paths.get(s"$in/part0.txt"), lines.mkString("\n").getBytes)
    // 16 KB splits: the one ~60 KB file scans as four at any local[N]
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "16384")
    try {
      assert(spark.read.text(in).rdd.getNumPartitions > 3)
      LogEtl.compact(spark, in, out, numOutputFiles = 3)
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(parquetFiles(out).length == 3)
    assert(spark.read.parquet(out).count() == 201)
  }

  test("output is sorted by request_time within each partition (s3.py:457-458)") {
    val in = tmpDir(); val out = tmpDir()
    // three input files scan as two or more splits: two files to check
    scala.util.Random.shuffle(lines).grouped(lines.size / 3 + 1).zipWithIndex
      .foreach { case (part, k) =>
        Files.write(Paths.get(s"$in/part$k.txt"), part.mkString("\n").getBytes)
      }
    LogEtl.compact(spark, in, out, numOutputFiles = 2)
    assert(parquetFiles(out).length == 2)
    // each output file is one former partition — check per-file monotonicity
    val violations = spark.read.parquet(out)
      .select(input_file_name().as("f"), $"request_time")
      .filter($"request_time".isNotNull)
      .withColumn("prev", lag($"request_time", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"f")
          .orderBy(monotonically_increasing_id())))
      .filter($"prev" > $"request_time")
      .count()
    assert(violations == 0)
  }

  test("overwrite keeps re-runs idempotent (s3_server_access_logs.py:459)") {
    val in = tmpDir(); val out = tmpDir()
    Files.write(java.nio.file.Paths.get(s"$in/part0.txt"),
      lines.mkString("\n").getBytes)
    LogEtl.compact(spark, in, out)
    LogEtl.compact(spark, in, out)
    assert(spark.read.parquet(out).count() == 201)
  }

  test("destPath: raw vs hive layout (s3_server_access_logs.py:445-454)") {
    val d = java.time.LocalDate.of(2024, 7, 3)
    assert(LogEtl.destPath("/x", "b", d, hiveLayout = false) == "/x/b/2024/07/03")
    assert(LogEtl.destPath("/x", "b", d, hiveLayout = true) ==
      "/x/b/year=2024/month=07/day=03")
  }

  /** Raw logs for `<root>/<bucket>/yyyy/MM/dd/`, spread over three files
    * (plus one dead-letter line each) so each unit's scan has three splits.
    */
  def writeDay(root: String, bucket: String, day: LocalDate, n: Int): Unit = {
    val dir = Paths.get(root, bucket,
      DateTimeFormatter.ofPattern("yyyy/MM/dd").format(day))
    Files.createDirectories(dir)
    val stamp = DateTimeFormatter.ofPattern("dd/MMM/yyyy", Locale.ENGLISH).format(day)
    val rows = (0 until n).map(i => S3AccessLog.renderLine(RenderFixtures.baseFields
      .updated("bucket", bucket)
      .updated("reqid", s"$bucket-$day-$i")
      .updated("time", f"[$stamp:${i * 7 % 24}%02d:${i % 60}%02d:08 +0000]")))
    rows.grouped(n / 3).zipWithIndex.foreach { case (part, k) =>
      Files.write(dir.resolve(s"f$k.log"), (part :+ "garbage").mkString("\n").getBytes)
    }
  }

  def dayRows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq

  def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)

  val days: Seq[LocalDate] = Seq(LocalDate.of(2024, 7, 30),
    LocalDate.of(2024, 7, 31), LocalDate.of(2024, 8, 1))

  test("runBackfill: concurrent units equal per-unit compact, missing day skipped") {
    val in = tmpDir(); val viaBackfill = tmpDir(); val viaCompact = tmpDir()
    val buckets = Seq("b1", "b2")
    for (b <- buckets; d <- days if !(b == "b2" && d == days(1)))
      writeDay(in, b, d, 90 + 30 * days.indexOf(d))
    LogEtl.runBackfill(spark, in, viaBackfill, buckets, days.head, days.last,
      numOutputFiles = 3)
    for (b <- buckets; d <- days) {
      val raw = DateTimeFormatter.ofPattern("yyyy/MM/dd").format(d)
      LogEtl.compact(spark, s"$in/$b/$raw",
        LogEtl.destPath(viaCompact, b, d, hiveLayout = false), numOutputFiles = 3)
    }
    assert(!Files.exists(Paths.get(
      LogEtl.destPath(viaBackfill, "b2", days(1), hiveLayout = false))),
      "a day without input writes nothing")
    for (b <- buckets; d <- days if !(b == "b2" && d == days(1))) {
      val got = LogEtl.destPath(viaBackfill, b, d, hiveLayout = false)
      val want = LogEtl.destPath(viaCompact, b, d, hiveLayout = false)
      assert(parquetFiles(got).length == 3 && parquetFiles(want).length == 3)
      val (g, w) = (spark.read.parquet(got), spark.read.parquet(want))
      assert(g.count() == 90 + 30 * days.indexOf(d) + 3)
      assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty, s"$b $d rows")
      for (f <- parquetFiles(got)) {
        val times = spark.read.parquet(f.getPath).select("request_time")
          .collect().flatMap(r => Option(r.getTimestamp(0))).toSeq
        assert(times == times.sortBy(_.getTime), s"$f not sorted on request_time")
      }
    }
  }

  test("runBackfill: one failed unit throws, the others keep their output, no pool thread survives") {
    val in = tmpDir(); val out = tmpDir()
    val buckets = Seq("b1", "b2")
    for (b <- buckets; d <- days.tail) writeDay(in, b, d, 60)
    LogEtl.runBackfill(spark, in, out, buckets, days(1), days(2), numOutputFiles = 2)
    val failing = LogEtl.destPath(out, "b2", days(2), hiveLayout = false)
    val before = (dayRows(failing), parquetFiles(failing).map(_.getName))
    // the re-run's (b2, 2024-08-01) unit fails in its write tasks
    FaultyFs.failNth("create", "/b2/2024/08/\\.01\\.next/.*part-")
    intercept[Exception] {
      LogEtl.runBackfill(spark, in, FaultyFs.uri(out), buckets, days(1), days(2),
        numOutputFiles = 2)
    }
    assert(!FaultyFs.reset(), "the fault never fired")
    for ((b, d) <- Seq("b1" -> days(1), "b2" -> days(1), "b1" -> days(2)))
      assert(spark.read.parquet(
        LogEtl.destPath(out, b, d, hiveLayout = false)).count() == 63)
    assert((dayRows(failing), parquetFiles(failing).map(_.getName)) == before,
      "the failed unit lost its previous output")
    val alive = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .filter(t => t.isAlive && t.getName.startsWith("log-etl-backfill"))
    assert(alive.isEmpty, alive.map(_.getName).mkString(", "))
  }

  test("a re-run that fails in its write tasks keeps the previous day: same rows, same files") {
    val in = tmpDir(); val out = tmpDir()
    writeDay(in, "b1", days.head, 60)
    val raw = s"$in/b1/2024/07/30"
    val day = LogEtl.destPath(out, "b1", days.head, hiveLayout = false)
    LogEtl.compact(spark, raw, day, numOutputFiles = 2)
    val before = (dayRows(day), parquetFiles(day).map(_.getName))
    assert(before._1.size == 63)
    // the first part-file create under the day, wherever the write puts it
    FaultyFs.failNth("create", "/2024/07/\\.?30[^/]*/.*part-")
    intercept[Exception] {
      LogEtl.compact(spark, raw, FaultyFs.uri(day), numOutputFiles = 2)
    }
    assert(!FaultyFs.reset(), "the fault never fired")
    assert((dayRows(day), parquetFiles(day).map(_.getName)) == before)
  }

  test("runBackfill and --buckets reject blank or duplicate bucket names") {
    val in = tmpDir(); val out = tmpDir()
    writeDay(in, "a", days.head, 30)
    for (bad <- Seq(Seq("a", ""), Seq("a", "a"), Seq(" ")))
      intercept[IllegalArgumentException] {
        LogEtl.runBackfill(spark, in, out, bad, days.head, days.head)
      }
    assert(new java.io.File(out).list().isEmpty, "rejected before any unit ran")
    assert(LogEtlMain.parseBuckets("a,b") == Seq("a", "b"))
    for (bad <- Seq("a,,b", "a,b,", ",a", "a,b,a"))
      intercept[IllegalArgumentException](LogEtlMain.parseBuckets(bad))
  }
}
