package graft

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{LogEtl, Skew}
import graft.sources.{LogTable, S3AccessLog}

class SkewAndLogTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("saltedJoin produces exactly the rows of a plain inner join") {
    // heavily skewed left side: 90% of rows share key 1
    val left = spark.range(2000)
      .select(when($"id" < 1800, 1L).otherwise($"id").as("k"), $"id".as("v"))
    val right = Seq((1L, "hot"), (1900L, "cold"), (3L, "unused"))
      .toDF("k", "name")
    val expected = left.join(right, "k")
      .select("k", "v", "name").collect().toSet
    val salted = Skew.saltedJoin(left, right, "k", factor = 8)
      .select("k", "v", "name").collect().toSet
    assert(salted == expected)
    assert(salted.count(_.getLong(0) == 1L) == 1800)
  }

  test("saltedJoin handles map columns, dotted names, and a _salt column") {
    // left carries: a MapType column (unhashable by xxhash64), a column
    // named with a dot (breaks bare col()), and a pre-existing "_salt"
    // column that the generated salt name must not collide with.
    val left = spark.range(100)
      .select(($"id" % 5).as("k"), $"id".as("v"),
        map(lit("a"), $"id").as("props"),
        ($"id" * 2).as("dotted.name"),
        lit(99).as("_salt"))
    val right = Seq((0L, "x"), (1L, "y"), (4L, "z")).toDF("k", "name")
      .withColumn("_salt", lit(-1))
    val expected = left.join(right, "k")
      .select($"k", $"v", $"name").collect().toSet
    val salted = Skew.saltedJoin(left, right, "k", factor = 4)
      .select($"k", $"v", $"name").collect().toSet
    assert(salted == expected)
    // the user's own _salt columns survive untouched
    val out = Skew.saltedJoin(left, right, "k", factor = 4)
    assert(out.columns.count(_ == "_salt") == 2)
  }

  test("keySkewProfile surfaces the hot key first") {
    val df = spark.range(1000)
      .select(when($"id" < 900, 7L).otherwise($"id").as("k"))
    val top = Skew.keySkewProfile(df, "k", 3).collect()
    assert(top.head.getLong(0) == 7L && top.head.getLong(1) == 900L)
  }

  test("LogTable.read prunes to exactly the requested date dirs") {
    val inRoot = SparkTestSession.tempDir("graft-lt-in").toString
    val outRoot = SparkTestSession.tempDir("graft-lt-out").toString
    // three days of logs, one bucket
    for (day <- Seq(1, 2, 3)) {
      val dir = s"$inRoot/b1/2024/07/0$day"
      Files.createDirectories(java.nio.file.Paths.get(dir))
      val lines = (0 until 50).map { i =>
        S3AccessLog.renderLine(RenderFixtures.baseFields
          .updated("time", f"[0$day/Jul/2024:${i % 24}%02d:00:00 +0000]")
          .updated("reqid", s"D$day-R$i"))
      }
      Files.write(java.nio.file.Paths.get(s"$dir/f.log"),
        lines.mkString("\n").getBytes)
    }
    LogEtl.runBackfill(spark, inRoot, outRoot, Seq("b1"),
      LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 3), numOutputFiles = 1)
    // read only days 2-3 → day-1 rows must be absent
    val df = LogTable.read(spark, outRoot, "b1",
      LocalDate.of(2024, 7, 2), LocalDate.of(2024, 7, 3))
    assert(df.count() == 100)
    assert(df.filter(to_date($"request_time") === "2024-07-01").count() == 0)
    // range including a missing day (July 4) still works
    val df2 = LogTable.read(spark, outRoot, "b1",
      LocalDate.of(2024, 7, 3), LocalDate.of(2024, 7, 6))
    assert(df2.count() == 50)
    // fully absent range refuses loudly
    intercept[IllegalArgumentException] {
      LogTable.read(spark, outRoot, "b1",
        LocalDate.of(2025, 1, 1), LocalDate.of(2025, 1, 2))
    }
  }

  test("LogTable.read refuses a day missing mid-publish, still skips a plain missing day") {
    val inRoot = SparkTestSession.tempDir("graft-lt-in").toString
    val outRoot = SparkTestSession.tempDir("graft-lt-out").toString
    for (day <- Seq(1, 2, 4)) {
      val dir = s"$inRoot/b1/2024/07/0$day"
      Files.createDirectories(java.nio.file.Paths.get(dir))
      Files.write(java.nio.file.Paths.get(s"$dir/f.log"), (0 until 20).map(i =>
        S3AccessLog.renderLine(RenderFixtures.baseFields
          .updated("time", f"[0$day/Jul/2024:${i % 24}%02d:00:00 +0000]")
          .updated("reqid", s"D$day-R$i"))).mkString("\n").getBytes)
    }
    LogEtl.runBackfill(spark, inRoot, outRoot, Seq("b1"),
      LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 4), numOutputFiles = 1)
    // a re-run of July 2 dies between moving the old day aside and
    // renaming the new one in: the day is missing, its publish pending
    val day2 = LogEtl.destPath(outRoot, "b1", LocalDate.of(2024, 7, 2), hiveLayout = false)
    FaultyFs.failNth("rename", "/\\.02\\.next -> ")
    intercept[java.io.IOException] {
      LogEtl.compact(spark, s"$inRoot/b1/2024/07/02", FaultyFs.uri(day2), numOutputFiles = 1)
    }
    assert(!FaultyFs.reset(), "the fault never fired")
    val e = intercept[IllegalArgumentException] {
      LogTable.read(spark, outRoot, "b1", LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 4))
    }
    assert(e.getMessage.contains("2024-07-02") &&
      e.getMessage.contains("re-run its compaction"), e.getMessage)
    // July 3 never had output: skipped as before
    assert(LogTable.read(spark, outRoot, "b1",
      LocalDate.of(2024, 7, 3), LocalDate.of(2024, 7, 4)).count() == 20)
    LogEtl.compact(spark, s"$inRoot/b1/2024/07/02", day2, numOutputFiles = 1)
    assert(LogTable.read(spark, outRoot, "b1",
      LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 4)).count() == 60)
  }

  /** Raw logs of bucket b1 for the given days of July 2024, 30 lines each. */
  def julyLogs(days: Seq[Int]): String = {
    val inRoot = SparkTestSession.tempDir("graft-lt-in").toString
    for (day <- days) {
      val dir = Paths.get(f"$inRoot/b1/2024/07/$day%02d")
      Files.createDirectories(dir)
      Files.write(dir.resolve("f.log"), (0 until 30).map(i =>
        S3AccessLog.renderLine(RenderFixtures.baseFields
          .updated("time", f"[$day%02d/Jul/2024:${i % 24}%02d:00:00 +0000]")
          .updated("reqid", s"D$day-R$i"))).mkString("\n").getBytes)
    }
    inRoot
  }

  val (july1, july2) = (LocalDate.of(2024, 7, 1), LocalDate.of(2024, 7, 2))

  test("LogTable.read runs no Spark job before the first action, in either layout") {
    val in = julyLogs(Seq(1, 2))
    val sc = spark.sparkContext
    for (hive <- Seq(false, true)) {
      val out = SparkTestSession.tempDir("graft-lt-out").toString
      LogEtl.runBackfill(spark, in, out, Seq("b1"), july1, july2,
        numOutputFiles = 2, hiveLayout = hive)
      bridge.drainListeners(sc)
      val jobs = new AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      val df =
        try LogTable.read(spark, out, "b1", july1, july2, hiveLayout = hive)
        finally { bridge.drainListeners(sc); sc.removeSparkListener(listener) }
      assert(jobs.get == 0, s"hiveLayout = $hive")
      // the DDL's schema, no year/month/day from the Hive directories
      assert(df.schema == LogTable.outputSchema, s"hiveLayout = $hive")
      assert(df.count() == 60)
    }
  }

  test("a Hive-layout table reads back the same rows as the raw layout") {
    val in = julyLogs(Seq(1, 2))
    def rows(hive: Boolean): Seq[String] = {
      val out = SparkTestSession.tempDir("graft-lt-out").toString
      LogEtl.runBackfill(spark, in, out, Seq("b1"), july1, july2,
        numOutputFiles = 2, hiveLayout = hive)
      LogTable.read(spark, out, "b1", july1, july2, hiveLayout = hive)
        .collect().map(_.toString).sorted.toSeq
    }
    val raw = rows(hive = false)
    assert(raw.size == 60)
    assert(rows(hive = true) == raw)
  }

  test("LogTable.ddl emits the published Athena contract from the schema") {
    val ddl = LogTable.ddl("logs-example",
      "s3://dest/processed/acct/us-east-1/logs-example/")
    // column block string-for-string: the AWS server-access-log field
    // list, types per the compacted parquet (reference contract
    // example_sql/athena_create_table.sql:2-29)
    val expectedCols = Seq(
      "bucket_owner" -> "string", "s3_bucket" -> "string",
      "request_time" -> "timestamp", "remote_ip" -> "string",
      "requester" -> "string", "request_id" -> "string",
      "operation" -> "string", "key" -> "string", "request" -> "string",
      "http_status" -> "int", "error_code" -> "string",
      "bytes_sent" -> "bigint", "object_size" -> "bigint",
      "total_time" -> "bigint", "turn_around_time" -> "bigint",
      "referrer" -> "string", "user_agent" -> "string",
      "version_id" -> "string", "host_id" -> "string",
      "signature_version" -> "string", "cipher_suite" -> "string",
      "authentication_type" -> "string", "host_header" -> "string",
      "tls_version" -> "string", "access_point_arn" -> "string",
      "acl_required" -> "string", "error_line" -> "string")
    expectedCols.foreach { case (name, tpe) =>
      assert(ddl.contains(s"`$name` $tpe COMMENT ''"), s"$name $tpe")
    }
    // column ORDER matches the parquet column order exactly
    val emitted = ddl.linesIterator
      .filter(_.trim.startsWith("`")).map(_.trim.split(" ")(0)).toSeq
    assert(emitted == expectedCols.map { case (n, _) => s"`$n`" })
    // partition projection block
    assert(ddl.contains("PARTITIONED BY (\n    date string\n)"))
    assert(ddl.contains("\"projection.enabled\" = \"true\""))
    assert(ddl.contains("\"projection.date.format\" = \"yyyy/MM/dd\""))
    assert(ddl.contains("\"projection.date.range\" = \"2020/01/01,NOW\""))
    // trailing slash normalized; template appends ${date}/
    assert(ddl.contains(
      "LOCATION\n  's3://dest/processed/acct/us-east-1/logs-example'"))
    assert(ddl.contains("\"storage.location.template\" = " +
      "\"s3://dest/processed/acct/us-east-1/logs-example/${date}/\""))
    assert(ddl.contains(
      "'org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe'"))
  }
}
