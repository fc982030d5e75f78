package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingJobs
import graft.streaming.SessionEvent

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("hourly rollup finalizes windows as the watermark advances") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamingJobs.hourlyRollup(df)
      .writeStream.outputMode("append")
      .format("memory").queryName("rollup_out")
      .start()
    in.addData(
      (ts("2024-01-01 10:05:00"), "click", 1.5),
      (ts("2024-01-01 10:45:00"), "click", 2.5),
      (ts("2024-01-01 10:50:00"), "view", 1.0))
    q.processAllAvailable()
    // advance watermark far past hour 10
    in.addData((ts("2024-01-01 13:00:00"), "click", 9.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("rollup_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L, 4.0)), rows)
    assert(rows.contains(("2024-01-01 10:00:00.0", "view", 1L, 1.0)), rows)
  }

  test("windowedTopK: k-slot state ranks across micro-batches, ties break by id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String, Double)]
    val df = in.toDF().toDF("ts", "event_id", "event_type", "value")
    val q = StreamingJobs.windowedTopK(df, k = 2)
      .writeStream.outputMode("append")
      .format("memory").queryName("topk_out")
      .start()
    // two micro-batches land in the SAME window: the second batch's 9.0
    // must displace the first batch's 3.0 via a state-buffer merge
    in.addData(
      (ts("2024-01-01 10:05:00"), 1L, "click", 3.0),
      (ts("2024-01-01 10:10:00"), 2L, "click", 7.0))
    q.processAllAvailable()
    in.addData(
      (ts("2024-01-01 10:20:00"), 3L, "click", 9.0),
      (ts("2024-01-01 10:25:00"), 5L, "view", 4.0),
      (ts("2024-01-01 10:26:00"), 4L, "view", 4.0)) // tie → lower id first
    q.processAllAvailable()
    in.addData((ts("2024-01-01 13:00:00"), 9L, "click", 0.1)) // close hour 10
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("topk_out").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(rows == Set(
      ("click", 1L, 3L, 9.0), ("click", 2L, 2L, 7.0),
      ("view", 1L, 4L, 4.0), ("view", 2L, 5L, 4.0)), rows)
  }

  test("late data behind the watermark is dropped, in-horizon late data lands") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamingJobs.hourlyRollup(df)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out")
      .start()
    in.addData((ts("2024-01-01 12:10:00"), "click", 1.0))
    q.processAllAvailable()
    // watermark now 11:10 — hour-10 windows are closed, hour-11 still open
    in.addData(
      (ts("2024-01-01 10:15:00"), "click", 100.0), // behind watermark: dropped
      (ts("2024-01-01 11:50:00"), "click", 2.0))   // in horizon: lands
    // push the watermark far ahead so every surviving window finalizes
    in.addData((ts("2024-01-01 15:00:00"), "click", 0.5))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("late_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(2), r.getDouble(3)))
      .toSet
    assert(!rows.exists(_._1.startsWith("2024-01-01 10:")),
      s"late hour-10 event should have been dropped: $rows")
    assert(rows.contains(("2024-01-01 11:00:00.0", 1L, 2.0)), rows)
    assert(rows.contains(("2024-01-01 12:00:00.0", 1L, 1.0)), rows)
  }

  test("dedupStream drops in-horizon duplicates, evicts expired state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, String)]
    val df = in.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingJobs.dedupStream(df, "ts", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L, "alpha"),
      (ts("2024-01-01 10:01:00"), 2L, "alpha"),   // dup within horizon
      (ts("2024-01-01 10:02:00"), 3L, "beta"))
    q.processAllAvailable()
    // advance watermark past alpha's horizon, then re-send alpha: the
    // expired hash must have left the state store → alpha emits again
    in.addData((ts("2024-01-01 12:30:00"), 4L, "gamma"))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 12:31:00"), 5L, "alpha"))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out").collect().map(_.getLong(1)).toSet
    assert(ids == Set(1L, 3L, 4L, 5L), ids)
  }

  test("RocksDB state store runs the stateful jobs with identical results") {
    // cluster state story: heap (HDFSBackedStateStore) is the default,
    // but 100 TB session/dedup state outgrows executor heaps — RocksDB
    // spills to local disk with the same semantics. Prove the provider
    // swap is behavior-neutral on the gate's own stateful query.
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val onHeap = SparkEntry.queries("st02_stream_sessions")(spark, sf).collect()
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = SparkEntry.queries("st02_stream_sessions")(spark, sf).collect()
      assert(rocks.length == onHeap.length && rocks.sameElements(onHeap),
        "RocksDB state store changed stateful-session results")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join matches purchases to prior clicks only within the lag") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Long, String)]
    val df = in.toDF().toDF("ts", "event_id", "user_id", "event_type")
    val q = StreamingJobs.clickToPurchase(df)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 100L, 7L, "click"),
      (ts("2024-01-01 10:10:00"), 200L, 7L, "purchase"),  // +10m → match
      (ts("2024-01-01 11:10:00"), 201L, 7L, "purchase"),  // +70m → too late
      (ts("2024-01-01 10:05:00"), 202L, 8L, "purchase"),  // other user
      (ts("2024-01-01 09:50:00"), 203L, 7L, "purchase"))  // BEFORE click
    q.processAllAvailable()
    // push watermark so joinable buffers flush
    in.addData((ts("2024-01-01 13:00:00"), 999L, 9L, "click"))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("ssj_out").collect()
      .map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(pairs == Set((100L, 200L)), pairs)
  }

  test("left-outer stream-stream join emits unconverted clicks after the lag horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long, Long, String)]
    val df = in.toDF().toDF("ts", "event_id", "user_id", "event_type")
    val q = StreamingJobs.clickToPurchaseOuter(df)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssoj_out")
      .start()
    in.addData(
      (ts("2024-01-01 10:00:00"), 100L, 7L, "click"),     // converts
      (ts("2024-01-01 10:10:00"), 200L, 7L, "purchase"),  // its match
      (ts("2024-01-01 10:02:00"), 101L, 8L, "click"))     // never converts
    q.processAllAvailable()
    // before the horizon passes, the unconverted click must NOT have
    // emitted a null row (a match could still arrive)
    val early = spark.table("ssoj_out").collect()
      .map(r => (r.getLong(1), Option(r.get(3)))).toSet
    assert(early == Set((100L, Some(200L))), early)
    // advance the watermark past click_ts + lag on BOTH sides (the
    // global watermark is the min across inputs, so a click-only
    // sentinel leaves the purchase side pinning it at the epoch); the
    // eviction that emits outer rows then runs on the NEXT trigger
    in.addData(
      (ts("2024-01-01 12:00:00"), 999L, 9L, "click"),
      (ts("2024-01-01 12:00:00"), 899L, 9L, "purchase"))
    q.processAllAvailable()
    in.addData((ts("2024-01-01 12:01:00"), 998L, 9L, "click"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("ssoj_out").collect()
      .map(r => (r.getLong(1), Option(r.get(3)))).toSet
    // 101 flushes as unmatched; the sentinel pair (999, 899) matches
    // inner-style; 998's horizon never passes, so it stays buffered
    assert(all == Set((100L, Some(200L)), (101L, None), (999L, Some(899L))),
      all)
  }

  test("streamCompact: raw log files stream into date-partitioned parquet") {
    val work = SparkTestSession.tempDir("graft-sc").toString
    val in = s"$work/in"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def lines(day: Int, n: Int): String = (0 until n).map { i =>
      graft.sources.S3AccessLog.renderLine(RenderFixtures.baseFields
        .updated("time", f"[$day%02d/Jul/2024:10:00:00 +0000]")
        .updated("reqid", s"D$day-$i"))
    }.mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.log"),
      (lines(1, 40) + "\ngarbage").getBytes)
    val q = StreamingJobs.streamCompact(spark, in, s"$work/out", s"$work/ckpt")
    q.processAllAvailable()
    // second file arrives: picked up incrementally
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.log"),
      lines(2, 25).getBytes)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$work/out")
    assert(out.count() == 66)  // 65 parsed + 1 dead letter
    val byDate = out.groupBy("log_date").count().collect()
      .map(r => Option(r.getDate(0)).map(_.toString).orNull -> r.getLong(1)).toMap
    assert(byDate("2024-07-01") == 40L)
    assert(byDate("2024-07-02") == 25L)
    assert(byDate(null) == 1L)  // dead letter has no request_time
  }

  test("streamCompact output is time-sorted within each file (O13 on the continuous path)") {
    // the reference's downstream value prop is time-sorted row groups
    // for reader pruning (converters/s3-server-access-log/README.md:7);
    // the batch path pins this in LogEtlSpec — the continuous path must
    // not silently lose it
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val work = SparkTestSession.tempDir("graft-scsort").toString
    val in = s"$work/in"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val rnd = new scala.util.Random(4211)
    val lines = rnd.shuffle((0 until 120).map { i =>
      graft.sources.S3AccessLog.renderLine(RenderFixtures.baseFields
        .updated("time",
          f"[${1 + i % 2}%02d/Jul/2024:${i % 24}%02d:${i % 60}%02d:${(i * 7) % 60}%02d +0000]")
        .updated("reqid", s"S-$i"))
    }.toVector)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.log"),
      (lines.take(70) :+ "garbage").mkString("\n").getBytes)
    val q = StreamingJobs.streamCompact(spark, in, s"$work/out", s"$work/ckpt")
    q.processAllAvailable()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.log"),
      lines.drop(70).mkString("\n").getBytes)
    q.processAllAvailable()
    q.stop()
    val out = spark.read.parquet(s"$work/out")
    assert(out.count() == 121) // 120 parsed + 1 dead letter
    val violations = out
      .select(input_file_name().as("f"), $"request_time")
      .filter($"request_time".isNotNull)
      .withColumn("prev", lag($"request_time", 1).over(
        org.apache.spark.sql.expressions.Window.partitionBy($"f")
          .orderBy(monotonically_increasing_id())))
      .filter($"prev" > $"request_time")
      .count()
    assert(violations == 0,
      "streamed parquet files are not time-sorted within files")
  }

  test("streamCompact restart: resume from checkpoint is exactly-once and equals the batch run") {
    // The streaming analog of the batch job's overwrite-idempotence
    // (reference s3.py:459 / backfill s3.py:361-368): kill the stream,
    // land more input while it is down, restart from the SAME
    // checkpoint — already-committed files must not reprocess, the new
    // file must land exactly once, and the final table must equal a
    // one-shot batch run over the same input.
    val work = SparkTestSession.tempDir("graft-scr").toString
    val in = s"$work/in"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def lines(day: Int, n: Int): String = (0 until n).map { i =>
      graft.sources.S3AccessLog.renderLine(RenderFixtures.baseFields
        .updated("time", f"[$day%02d/Jul/2024:10:00:00 +0000]")
        .updated("reqid", s"R$day-$i"))
    }.mkString("\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.log"),
      lines(1, 40).getBytes)
    val q1 = StreamingJobs.streamCompact(spark, in, s"$work/out", s"$work/ckpt")
    q1.processAllAvailable()
    q1.stop() // crash/kill: the query is down ...
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/b.log"),
      lines(2, 25).getBytes) // ... while new input lands
    val q2 = StreamingJobs.streamCompact(spark, in, s"$work/out", s"$work/ckpt")
    q2.processAllAvailable()
    q2.stop()

    val streamed = spark.read.parquet(s"$work/out")
    assert(streamed.count() == 65,
      s"expected 65 rows exactly-once, got ${streamed.count()}") // no a.log replay
    val cols = streamed.columns.sorted.map(org.apache.spark.sql.functions.col)
    val batch = graft.sources.S3AccessLog.parse(spark.read.text(in))
      .withColumn("log_date",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("request_time")))
    assert(streamed.select(cols: _*).exceptAll(batch.select(cols: _*)).isEmpty &&
      batch.select(cols: _*).exceptAll(streamed.select(cols: _*)).isEmpty,
      "restarted stream output diverges from the batch run")
  }

  test("cdcUpsertStream: maintained table is independent of micro-batch grouping and order") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10L),
      (2L, ts("2024-01-01 11:00:00"), 10L),
      (3L, ts("2024-01-01 09:00:00"), 10L), // older than event 2
      (4L, ts("2024-01-01 10:30:00"), 20L))
    def run(batches: Seq[Seq[(Long, Timestamp, Long)]]): Set[(Long, Long, Long)] = {
      val work = SparkTestSession.tempDir("graft-cdc").toString
      val in = MemoryStream[(Long, Timestamp, Long)]
      val (q, table) = StreamingJobs.cdcUpsertQuery(
        in.toDF().toDF("event_id", "ts", "user_id"), work)
      // drive batch boundaries by hand: one addData + wait per batch
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      table().selectExpr("user_id", "_m.event_id", "n_updates")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val expected = Set((10L, 2L, 3L), (20L, 4L, 1L))
    // grouping A: chronological; grouping B: newest first, straggler last —
    // the straggler must NOT displace user 10's newer event
    assert(run(Seq(Seq(events(0)), Seq(events(1), events(3)), Seq(events(2)))) == expected)
    assert(run(Seq(Seq(events(1)), Seq(events(2), events(0), events(3)))) == expected)
  }

  test("CDC restart: resume from checkpoint continues the fold from durable committed state") {
    // The failure model the operator exists for: kill the stream, land
    // updates during the outage, restart against the SAME checkpoint and
    // workDir. The merge state lives in the commit log, so the resumed
    // query folds ON TOP of the committed generations; the final table
    // must equal a one-shot batch computation over all updates.
    import spark.implicits._
    val work = SparkTestSession.tempDir("graft-cdcr").toString
    val in = s"$work/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val all = Seq(
      (1L, ts("2024-01-01 10:00:00"), 10L),
      (2L, ts("2024-01-01 11:00:00"), 10L),
      (3L, ts("2024-01-01 12:00:00"), 20L),
      (4L, ts("2024-01-01 09:00:00"), 10L), // lands AFTER the kill, older ts
      (5L, ts("2024-01-01 13:00:00"), 20L),
      (6L, ts("2024-01-01 14:00:00"), 30L))
    def land(phase: Int, rows: Seq[(Long, Timestamp, Long)]): Unit =
      rows.toDF("event_id", "ts", "user_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$in/p$phase")
    val sch = all.take(1).toDF("event_id", "ts", "user_id").schema
    def stream() = spark.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(s"$in/p*")
    land(0, all.take(3))
    val (q1, _) = StreamingJobs.cdcUpsertQuery(stream(), work)
    try q1.processAllAvailable() finally q1.stop() // killed
    land(1, all.drop(3)) // updates land during the outage
    val table = StreamingJobs.cdcUpsertStream(stream(), work)
    val got = table.selectExpr("user_id", "_m.event_id", "n_updates")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 2L, 3L), (20L, 5L, 2L), (30L, 6L, 1L)), got)
  }

  test("CDC retried batch is a no-op: replays never double-count n_updates") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("graft-cdcretry").toString
    val b0 = Seq((1L, ts("2024-01-01 10:00:00"), 10L),
      (2L, ts("2024-01-01 11:00:00"), 20L)).toDF("event_id", "ts", "user_id")
    val b1 = Seq((3L, ts("2024-01-01 12:00:00"), 10L))
      .toDF("event_id", "ts", "user_id")
    def snap(): Set[(Long, Long, Long)] =
      StreamingJobs.cdcTable(spark, work)
        .selectExpr("user_id", "_m.event_id", "n_updates")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    StreamingJobs.cdcApplyBatch(b0, 0L, work)
    val after0 = snap()
    StreamingJobs.cdcApplyBatch(b0, 0L, work) // crash-replay of batch 0
    assert(snap() == after0, "replayed batch 0 changed the table")
    StreamingJobs.cdcApplyBatch(b1, 1L, work)
    val after1 = snap()
    assert(after1 == Set((10L, 3L, 2L), (20L, 2L, 1L)), after1)
    StreamingJobs.cdcApplyBatch(b1, 1L, work) // retry of batch 1
    assert(snap() == after1, "retried batch 1 double-counted")
  }

  test("CDC schema evolution: nullable widening merges, retype is refused, maintenance keeps the schema") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("graft-cdcevo").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 0: legacy shape
    StreamingJobs.cdcApplyBatch(
      Seq((1L, ts("2024-01-01 10:00:00"), 10L),
        (2L, ts("2024-01-01 11:00:00"), 20L))
        .toDF("event_id", "ts", "user_id"), 0L, work)
    // batch 1 ADDS amount (bigint): widening — user 10's last update
    // now carries it, user 20's stays NULL
    StreamingJobs.cdcApplyBatch(
      Seq((3L, ts("2024-01-01 12:00:00"), 10L, 42L))
        .toDF("event_id", "ts", "user_id", "amount"), 1L, work)
    val snap1 = StreamingJobs.cdcTable(spark, work)
      .selectExpr("user_id", "_m.event_id", "_m.amount", "n_updates")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).toSet
    assert(snap1 == Set((10L, 3L, 42L, 2L), (20L, 2L, -1L, 1L)), snap1)
    // batch 2 OMITS the committed column: merges, column survives
    // (latest-wins: user 20's last update has no amount → still NULL)
    StreamingJobs.cdcApplyBatch(
      Seq((4L, ts("2024-01-01 13:00:00"), 20L))
        .toDF("event_id", "ts", "user_id"), 2L, work)
    val snap2 = StreamingJobs.cdcTable(spark, work)
      .selectExpr("user_id", "_m.amount", "n_updates")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
    assert(snap2 == Set((10L, 42L, 2L), (20L, -1L, 2L)), snap2)
    // a RETYPED column is refused with the column named
    val ex = intercept[IllegalArgumentException] {
      StreamingJobs.cdcApplyBatch(
        Seq((5L, ts("2024-01-01 14:00:00"), 10L, "not-a-number"))
          .toDF("event_id", "ts", "user_id", "amount"), 3L, work)
    }
    assert(ex.getMessage.contains("amount") &&
      ex.getMessage.contains("retyped") || ex.getMessage.contains("BIGINT"),
      ex.getMessage)
    // the refused batch committed NOTHING — the table is unchanged
    val snap3 = StreamingJobs.cdcTable(spark, work)
      .selectExpr("user_id", "_m.amount", "n_updates")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSet
    assert(snap3 == snap2, "a refused batch mutated the table")
    // a maintenance rewrite (deletion revision) CARRIES the committed
    // schema forward — without it the next merge would lose the guard
    StreamingJobs.cdcDeleteKeys(spark, work, Seq(20L).toDF("user_id"))
    val sch = StreamingJobs.cdcReadSchema(spark, work)
    assert(sch.exists(_.fieldNames.contains("amount")),
      s"maintenance rewrite dropped the committed schema: $sch")
    // and the guard still fires post-maintenance
    val ex2 = intercept[IllegalArgumentException] {
      StreamingJobs.cdcApplyBatch(
        Seq((6L, ts("2024-01-01 15:00:00"), 10L, "nope"))
          .toDF("event_id", "ts", "user_id", "amount"), 4L, work)
    }
    assert(ex2.getMessage.contains("amount"), ex2.getMessage)
  }

  test("CDC merge rewrites only touched buckets; untouched bucket files stay byte-identical") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("graft-cdcbkt").toString
    val b0 = (1L to 64L).map(i => (i, ts("2024-01-01 10:00:00"), i))
      .toDF("event_id", "ts", "user_id")
    StreamingJobs.cdcApplyBatch(b0, 0L, work)
    val Some((_, _, map0)) = StreamingJobs.cdcReadCommit(spark, work)
    assert(map0.size == 8, s"64 uniform keys should touch all 8 buckets: $map0")
    // second batch touches exactly ONE key → one bucket
    val b1 = Seq((100L, ts("2024-01-01 11:00:00"), 7L))
      .toDF("event_id", "ts", "user_id")
    val touchedBucket = spark.range(1)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.xxhash64(
          org.apache.spark.sql.functions.lit(7L)),
        org.apache.spark.sql.functions.lit(8L)))
      .collect()(0).getLong(0).toInt
    def filesOf(path: String): Map[String, (Long, Long)] = {
      val p = java.nio.file.Paths.get(path.stripPrefix("file:"))
      val s = java.nio.file.Files.list(p)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(f => f.getFileName.toString ->
          (java.nio.file.Files.size(f),
            java.nio.file.Files.getLastModifiedTime(f).toMillis))
        .toMap
      finally s.close()
    }
    val untouchedBefore = (map0 - touchedBucket).map { case (b, p) => b -> filesOf(p) }
    StreamingJobs.cdcApplyBatch(b1, 1L, work)
    val Some((_, _, map1)) = StreamingJobs.cdcReadCommit(spark, work)
    // untouched buckets: same generation paths, same files, same bytes
    assert((map1 - touchedBucket) == (map0 - touchedBucket),
      s"untouched buckets were rewritten:\nbefore=$map0\nafter=$map1")
    untouchedBefore.foreach { case (b, before) =>
      assert(filesOf(map1(b)) == before, s"bucket $b files changed") }
    // the touched bucket moved to the new generation
    assert(map1(touchedBucket) != map0(touchedBucket))
    assert(map1(touchedBucket).contains("gen1"))
    // and the merge is still correct
    val u7 = StreamingJobs.cdcTable(spark, work)
      .selectExpr("user_id", "_m.event_id", "n_updates")
      .filter($"user_id" === 7L).collect()
    assert(u7.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((100L, 2L)))
  }

  test("CDC merge is batch-grouping invariant on randomized groupings") {
    // fixed-seed random partitions of one event set into micro-batches:
    // every grouping must fold to the identical maintained table (the
    // commutative/associative-merge claim, exercised beyond the two
    // hand-picked groupings above)
    import spark.implicits._
    val rnd = new scala.util.Random(9317)
    val events = (1L to 40L).map { i =>
      (i, ts(f"2024-01-01 ${10 + rnd.nextInt(10)}%d:${rnd.nextInt(60)}%02d:00"),
        (rnd.nextInt(6) + 1).toLong)
    }
    def run(grouping: Seq[Seq[(Long, Timestamp, Long)]]): Set[(Long, Long, Long)] = {
      val work = SparkTestSession.tempDir("graft-cdcperm").toString
      grouping.zipWithIndex.foreach { case (batch, i) =>
        StreamingJobs.cdcApplyBatch(
          batch.toDF("event_id", "ts", "user_id"), i.toLong, work)
      }
      StreamingJobs.cdcTable(spark, work)
        .selectExpr("user_id", "_m.event_id", "n_updates")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val baseline = run(Seq(events)) // one batch = the batch-SQL answer
    (1 to 3).foreach { trial =>
      val shuffled = rnd.shuffle(events)
      val cuts = (Seq(0, shuffled.size) ++ Seq.fill(3)(rnd.nextInt(shuffled.size)))
        .distinct.sorted
      val grouping = cuts.zip(cuts.tail).map { case (a, b) => shuffled.slice(a, b) }
        .filter(_.nonEmpty)
      assert(run(grouping) == baseline,
        s"trial $trial: grouping ${grouping.map(_.size)} diverged")
    }
  }

  test("CDC storage is bounded: displaced partitions and old commits are GC'd") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("graft-cdcgc").toString
    def one(eventId: Long, h: Int) =
      Seq((eventId, ts(f"2024-01-01 1$h%d:00:00"), 7L))
        .toDF("event_id", "ts", "user_id")
    val b0 = (1L to 64L).map(i => (i, ts("2024-01-01 09:00:00"), i))
      .toDF("event_id", "ts", "user_id")
    StreamingJobs.cdcApplyBatch(b0, 0L, work)
    StreamingJobs.cdcApplyBatch(one(100L, 0), 1L, work)
    StreamingJobs.cdcApplyBatch(one(101L, 1), 2L, work)
    def ls(p: String): Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      // drop Hadoop local-FS .crc sidecars — deleted with their file,
      // but not part of the commit-log contract
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSet
      finally s.close()
    }
    // commit log keeps exactly the two newest commits
    assert(ls(s"$work/_commits") == Set("c1", "c2"), ls(s"$work/_commits"))
    // gen1's only bucket was displaced by gen2 → partition AND dir gone
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/gen1")))
    // gen0 keeps the 7 still-referenced buckets (user 7's was displaced)
    assert(ls(s"$work/gen0").count(_.startsWith("_bucket=")) == 7,
      ls(s"$work/gen0"))
    // and the maintained table is intact: user 7 folded across all 3 batches
    val u7 = StreamingJobs.cdcTable(spark, work)
      .selectExpr("user_id", "_m.event_id", "n_updates")
      .filter($"user_id" === 7L).collect()
    assert(u7.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((101L, 3L)))
    // replaying a committed batch after GC stays a no-op
    StreamingJobs.cdcApplyBatch(one(100L, 0), 1L, work)
    assert(ls(s"$work/_commits") == Set("c1", "c2"))
  }

  test("CDC crash between commit rename and GC: the replayed no-op reclaims the garbage") {
    // the remaining crash window: the process dies AFTER the c<N>
    // rename made the batch durable but BEFORE cdcGc ran. The commit
    // log then holds three commits and the displaced partitions of the
    // oldest are still on disk. A restart replays batch N as a no-op —
    // which must run GC and reclaim exactly that garbage
    // (StreamingJobs.cdcApplyBatch's replay branch).
    import spark.implicits._
    val work = SparkTestSession.tempDir("graft-cdccw").toString
    def one(eventId: Long, h: Int) =
      Seq((eventId, ts(f"2024-01-01 1$h%d:00:00"), 7L))
        .toDF("event_id", "ts", "user_id")
    val b0 = (1L to 64L).map(i => (i, ts("2024-01-01 09:00:00"), i))
      .toDF("event_id", "ts", "user_id")
    StreamingJobs.cdcApplyBatch(b0, 0L, work)
    StreamingJobs.cdcApplyBatch(one(100L, 0), 1L, work)
    // batch 2: merge + commit rename succeed, then the process "dies"
    // before GC — the seam split out of cdcApplyBatch for this window
    assert(StreamingJobs.cdcMergeAndCommit(one(101L, 1), 2L, work))
    def ls(p: String): Set[String] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSet
      finally s.close()
    }
    // crash-window state: three commits, gen1's displaced bucket alive
    assert(ls(s"$work/_commits") == Set("c0", "c1", "c2"), ls(s"$work/_commits"))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/gen1")))
    // restart: the checkpoint replays batch 2 → no-op merge + GC
    StreamingJobs.cdcApplyBatch(one(101L, 1), 2L, work)
    assert(ls(s"$work/_commits") == Set("c1", "c2"), ls(s"$work/_commits"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$work/gen1")),
      "displaced gen1 partition survived the replayed no-op's GC")
    // and the maintained table folded all three batches
    val u7 = StreamingJobs.cdcTable(spark, work)
      .selectExpr("user_id", "_m.event_id", "n_updates")
      .filter($"user_id" === 7L).collect()
    assert(u7.map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((101L, 3L)))
  }

  test("cdcTable before any commit fails with a clear error, not a missing-path read") {
    val work = SparkTestSession.tempDir("graft-cdcempty").toString
    val e = intercept[IllegalStateException] {
      StreamingJobs.cdcTable(spark, work)
    }
    assert(e.getMessage.contains("no committed CDC generation"), e.getMessage)
  }

  test("CDC deletion: tombstoned keys leave table AND storage; stream and replays continue past the revision") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("cdc-delete").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def table() = StreamingJobs.cdcTable(spark, work)
      .select($"user_id", $"_m.event_id".as("last"), $"n_updates")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    StreamingJobs.cdcApplyBatch(
      Seq((1L, t(1), 10L), (2L, t(2), 20L), (3L, t(3), 30L))
        .toDF("event_id", "ts", "user_id"), 0L, work)
    val b1 = Seq((4L, t(4), 10L), (5L, t(5), 40L))
      .toDF("event_id", "ts", "user_id")
    StreamingJobs.cdcApplyBatch(b1, 1L, work)
    assert(table() == Map(10L -> (4L, 2L), 20L -> (2L, 1L),
      30L -> (3L, 1L), 40L -> (5L, 1L)))
    StreamingJobs.cdcDeleteKeys(spark, work, Seq(10L, 30L).toDF("user_id"))
    // the view drops the keys, survivors keep their update history
    assert(table() == Map(20L -> (2L, 1L), 40L -> (5L, 1L)), table().toString)
    // STORAGE drops them too (the GC deletes displaced partitions):
    // every surviving parquet row under the work tree is a survivor
    val leaked = spark.read.parquet(
        StreamingJobs.cdcReadCommit(spark, work).get._3.values.toSeq ++ {
          // plus anything an incomplete GC might have left behind
          val root = new java.io.File(work)
          root.listFiles().filter(_.getName.startsWith("gen"))
            .flatMap(_.listFiles()).filter(_.getName.startsWith("_bucket="))
            .map(_.toString)
        }.distinct: _*)
      .filter($"user_id".isin(10L, 30L)).count()
    assert(leaked == 0, s"$leaked tombstoned rows still on disk")
    // the stream continues: a later batch re-inserts a deleted key
    // FRESH (deletion erased its history, so the count restarts)
    StreamingJobs.cdcApplyBatch(Seq((6L, t(6), 10L))
      .toDF("event_id", "ts", "user_id"), 2L, work)
    assert(table() == Map(10L -> (6L, 1L), 20L -> (2L, 1L),
      40L -> (5L, 1L)), table().toString)
    // a replayed pre-delete batch still no-ops against the revision
    StreamingJobs.cdcApplyBatch(b1, 1L, work)
    assert(table() == Map(10L -> (6L, 1L), 20L -> (2L, 1L),
      40L -> (5L, 1L)), "replayed batch disturbed the revised table")
  }

  test("CDC retention: stale keys age out of table AND storage; reactivated keys restart; replays no-op") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    val work = SparkTestSession.tempDir("cdc-retain").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    def table() = StreamingJobs.cdcTable(spark, work)
      .select($"user_id", $"_m.event_id".as("last"), $"n_updates")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    StreamingJobs.cdcApplyBatch(
      Seq((1L, t(1), 10L), (2L, t(2), 20L), (3L, t(3), 30L))
        .toDF("event_id", "ts", "user_id"), 0L, work)
    val b1 = Seq((4L, t(10), 10L), (5L, t(12), 40L))
      .toDF("event_id", "ts", "user_id")
    StreamingJobs.cdcApplyBatch(b1, 1L, work)
    // horizon 00:05 — users 20 and 30 last updated before it age out;
    // 10's history (2 updates, one pre-horizon) survives INTACT: the
    // window keys on the row's last update, not on per-update pruning.
    // lit(Timestamp) rides the SAME JVM-default frame as the t() data
    // instants — a session-tz string literal here would shift the
    // horizon against the data on any non-UTC host (the cdcRetention
    // doc's frame warning, exercised)
    StreamingJobs.cdcRetention(spark, work, lit(t(5)))
    assert(table() == Map(10L -> (4L, 2L), 40L -> (5L, 1L)),
      table().toString)
    // aged-out rows leave STORAGE (the GC deletes displaced partitions)
    val leaked = spark.read.parquet(
        StreamingJobs.cdcReadCommit(spark, work).get._3.values.toSeq ++ {
          val root = new java.io.File(work)
          root.listFiles().filter(_.getName.startsWith("gen"))
            .flatMap(_.listFiles()).filter(_.getName.startsWith("_bucket="))
            .map(_.toString)
        }.distinct: _*)
      .filter($"user_id".isin(20L, 30L)).count()
    assert(leaked == 0, s"$leaked aged-out rows still on disk")
    // an aged-out key that becomes active again re-enters FRESH (its
    // update count restarts — retention erased its history)
    StreamingJobs.cdcApplyBatch(Seq((6L, t(20), 20L))
      .toDF("event_id", "ts", "user_id"), 2L, work)
    assert(table() == Map(10L -> (4L, 2L), 20L -> (6L, 1L),
      40L -> (5L, 1L)), table().toString)
    // a replayed pre-retention batch still no-ops against the revision
    StreamingJobs.cdcApplyBatch(b1, 1L, work)
    assert(table() == Map(10L -> (4L, 2L), 20L -> (6L, 1L),
      40L -> (5L, 1L)), "replayed batch disturbed the revised table")
    // maintenance COMPOSES: two at-rest ops without an intervening
    // batch land as successive revisions of the same batch (c2r1 then
    // c2r2), never touching the stream's id space
    StreamingJobs.cdcDeleteKeys(spark, work, Seq(40L).toDF("user_id"))
    assert(table() == Map(10L -> (4L, 2L), 20L -> (6L, 1L)),
      table().toString)
    StreamingJobs.cdcRetention(spark, work, lit(t(15)))
    assert(table() == Map(20L -> (6L, 1L)), table().toString)
  }

  test("CDC deletion: deleting every key is legit state — cdcTable fails with semantics, the next batch recreates") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("cdc-delall").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    StreamingJobs.cdcApplyBatch(Seq((1L, t(1), 10L))
      .toDF("event_id", "ts", "user_id"), 0L, work)
    StreamingJobs.cdcDeleteKeys(spark, work, Seq(10L).toDF("user_id"))
    val e = intercept[IllegalStateException] {
      StreamingJobs.cdcTable(spark, work)
    }
    assert(e.getMessage.contains("EMPTY"), e.getMessage)
    StreamingJobs.cdcApplyBatch(Seq((2L, t(2), 20L))
      .toDF("event_id", "ts", "user_id"), 1L, work)
    val rows = StreamingJobs.cdcTable(spark, work)
      .select($"user_id", $"n_updates").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows == Map(20L -> 1L), rows.toString)
    // tombstones that don't cast to the key type must RAISE, never
    // silently delete nothing (the requireIntegralId discipline)
    val bad = intercept[Exception] {
      StreamingJobs.cdcDeleteKeys(spark, work,
        Seq("not-an-id").toDF("user_id"))
    }
    assert(bad.getMessage.contains("cdcDeleteKeys") ||
      Option(bad.getCause).exists(_.getMessage.contains("cdcDeleteKeys")),
      s"lossy tombstone cast did not raise: ${bad.getMessage}")
  }

  test("near-dup screen: retried batch replays identically and never sees its own signatures") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val work = SparkTestSession.tempDir("st10-retry").toString
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"),
      (4L, "one two three four five")).toDF("doc_id", "text")
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"), // re-crawl of 2
      (3L, "something else entirely here now")).toDF("doc_id", "text")
    def verdicts(id: Long) = spark.read
      .parquet(s"$work/verdicts/batch=$id").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    StreamingJobs.screenBatch(b0, 0L, work, 4)
    StreamingJobs.screenBatch(b1, 1L, work, 4)
    val first = verdicts(1L)
    assert(first == Seq((1L, false), (3L, true)), first.toString)
    // RETRY batch 1 with its own signature write already on disk: the
    // registry read prunes batch < batchId, so the replay must neither
    // self-flag doc 3 (whose own signature is sitting in
    // registry/batch=1) nor change any verdict
    StreamingJobs.screenBatch(b1, 1L, work, 4)
    assert(verdicts(1L) == first, "retried batch changed its verdicts")
    // batch 2 sees BOTH earlier batches' survivors: a re-crawl of the
    // batch-1 survivor is now flagged too
    val b2 = Seq((5L, "something else entirely here now")).toDF("doc_id", "text")
    StreamingJobs.screenBatch(b2, 2L, work, 4)
    assert(verdicts(2L) == Seq((5L, false)), verdicts(2L).toString)
    // flagged docs never entered the registry (read the banded table's
    // files directly: bands copies per doc, same id set)
    val reg = spark.read.parquet(s"$work/registry").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(reg == Set(2L, 4L, 3L), reg.toString)
    // and the registry table is the BUCKETED layout (the screen's
    // zero-exchange contract rides on it)
    val tbl = StreamingJobs.registryTable(work)
    val bucketSpec = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bucketSpec.get("Num Buckets").contains("4"), bucketSpec.toString)
    assert(bucketSpec.get("Bucket Columns").exists(c =>
      c.contains("band") && c.contains("bucket")), bucketSpec.toString)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("vector delta stream: appends accumulate, replays overwrite, and the log serves mid-lifecycle") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val work = SparkTestSession.tempDir("st11-delta").toString
    val base = (1 to 64).map(_.toFloat).toArray
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingJobs.vectorDeltaStream(
      in.toDF().toDF("vec_id", "embedding"), work)
    in.addData((100L, base))
    q.processAllAvailable()
    // searchable the moment the batch lands
    assert(StreamingJobs.deltaLog(spark, work).count() == 1)
    in.addData((101L, base.map(-_)))
    q.processAllAvailable()
    q.stop()
    assert(StreamingJobs.deltaLog(spark, work).count() == 2)
    // a replayed batch OVERWRITES its own output — the log never
    // double-counts an append (the disjointness contract's guard)
    Seq((101L, base.map(-_))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/delta/batch=1")
    assert(StreamingJobs.deltaLog(spark, work).count() == 2)
    // mid-lifecycle serve: a stale index over unrelated vectors + the
    // streamed log — the appended exact clone of the query must win
    // rank 1 through the delta arm (it is not in the index at all)
    val corpus = (1 to 20).map { i =>
      (i * 2L, Array.tabulate(64)(j => if (j == i % 64) 1.0f else 0.1f))
    }.toDF("vec_id", "embedding")
    val query = Seq((999L, base)).toDF("vec_id", "embedding")
    val served = graft.operators.Similarity.ivfSearchWithDelta(query,
      graft.operators.Similarity.ivfBuild(corpus),
      StreamingJobs.deltaLog(spark, work), 3)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(served.head == (100L, 1L),
      s"streamed clone not served at rank 1: ${served.toSeq}")
  }

  test("delta-log deletion: only touched batches rewritten, emptied batch stays readable, markers and uncommitted batches fail loud") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val work = SparkTestSession.tempDir("st14-del").toString
    val v = Array.tabulate(8)(_.toFloat + 1f)
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingJobs.vectorDeltaStream(
      in.toDF().toDF("vec_id", "embedding"), work)
    in.addData((1L, v), (2L, v.map(-_)))
    q.processAllAvailable()
    in.addData((3L, v.map(_ * 2)), (4L, v.map(_ + 1)))
    q.processAllAvailable()
    q.stop()
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(b: Long) = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$work/delta/batch=$b"))
      .map(st => (st.getPath.getName, st.getModificationTime)).toSet
    val b0Before = files(0)
    // ids 3 and 4 are ALL of batch 1: the fully-tombstoned-batch path
    val touched = StreamingJobs.deltaLogDeleteIds(spark, work,
      Seq(3L, 4L).toDF("vec_id"))
    assert(touched == Seq(1L), touched.toString)
    // the untouched batch keeps its files byte-for-byte (same names,
    // same mtimes — it was never rewritten)
    assert(files(0) == b0Before, "untouched batch 0 was rewritten")
    // the emptied batch keeps a schema-bearing directory: the log
    // stays readable and serves exactly the survivors
    assert(StreamingJobs.deltaLog(spark, work)
      .select("vec_id").as[Long].collect().toSet == Set(1L, 2L))
    // a tombstone set hitting nothing is a no-op (no dir rewritten)
    assert(StreamingJobs.deltaLogDeleteIds(spark, work,
      Seq(99L).toDF("vec_id")).isEmpty)
    // an UNCOMMITTED touched batch refuses: a resumed stream would
    // replay it and its whole-dir overwrite resurrects the deleted rows
    Seq((7L, v)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/delta/batch=9")
    val e1 = intercept[IllegalArgumentException] {
      StreamingJobs.deltaLogDeleteIds(spark, work, Seq(7L).toDF("vec_id"))
    }
    assert(e1.getMessage.contains("has not committed"), e1.getMessage)
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/delta/batch=9"), true)
    // a deletion that dies between moving batch 0 aside and renaming
    // its rewrite in blocks the read path, naming the batch, and the
    // next deletion settles it before doing its own work
    FaultyFs.failNth("rename", "/\\.batch=0\\.next -> ")
    intercept[java.io.IOException] {
      StreamingJobs.deltaLogDeleteIds(spark, FaultyFs.uri(work),
        Seq(1L).toDF("vec_id"))
    }
    assert(!FaultyFs.reset(), "the fault never fired")
    val e2 = intercept[IllegalArgumentException] {
      StreamingJobs.deltaLog(spark, work)
    }
    assert(e2.getMessage.contains("batch=0"), e2.getMessage)
    assert(StreamingJobs.deltaLogDeleteIds(spark, work,
      Seq(99L).toDF("vec_id")).isEmpty)
    assert(StreamingJobs.deltaLog(spark, work)
      .select("vec_id").as[Long].collect().toSet == Set(2L))
    // a deletion that dies in its write tasks, before its commit
    // marker, leaves the batch as it was: the read path serves it
    // without touching the staged leftovers, which the next
    // maintenance entry clears
    val delta = new org.apache.hadoop.fs.Path(s"$work/delta")
    FaultyFs.failNth("create", "/\\.batch=0\\.next/.*part-")
    intercept[Exception] {
      StreamingJobs.deltaLogDeleteIds(spark, FaultyFs.uri(work),
        Seq(2L).toDF("vec_id"))
    }
    assert(!FaultyFs.reset(), "the fault never fired")
    assert(StreamingJobs.deltaLog(spark, work).count() == 1)
    assert(graft.io.Publish.leftovers(fs, delta).nonEmpty,
      "read path mutated the staged leftovers")
    assert(StreamingJobs.deltaLogDeleteIds(spark, work,
      Seq(99L).toDF("vec_id")).isEmpty)
    assert(graft.io.Publish.leftovers(fs, delta).isEmpty,
      "maintenance entry left the staged leftovers")
  }

  test("delta-log absorption: index swap + log GC equals the in-memory absorb, rerun no-ops, leftovers refuse") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val work = SparkTestSession.tempDir("st15-abs").toString
    val corpus = (1 to 20).map(i =>
        (i.toLong, Array.tabulate(8)(j => (i * (j + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.ivfBuild(corpus, nlist = 4)
      .save(s"$work/idx")
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingJobs.vectorDeltaStream(
      in.toDF().toDF("vec_id", "embedding"), work)
    in.addData((100L, Array.tabulate(8)(_.toFloat + 0.5f)))
    q.processAllAvailable()
    in.addData((101L, Array.tabulate(8)(j => -(j + 1).toFloat)))
    q.processAllAvailable()
    q.stop()
    val queries = corpus.filter("vec_id <= 3")
    // a sibling artifact (the drift baseline) must survive the swap —
    // it describes the BUILD's expectation and absorb never retrains
    graft.operators.Similarity.ivfSaveStats(
      graft.operators.Similarity.ivfLoad(spark, s"$work/idx"),
      s"$work/idx")
    val statsBefore = graft.operators.Similarity
      .ivfLoadStats(spark, s"$work/idx").collect().toSet
    // the in-memory reference, COLLECTED before the swap mutates the
    // on-disk index its lazy plan reads from
    val ref = graft.operators.Similarity.ivfSearch(queries,
        graft.operators.Similarity.ivfAbsorbDelta(
          graft.operators.Similarity.ivfLoad(spark, s"$work/idx"),
          StreamingJobs.deltaLog(spark, work)),
        3, nprobe = 4).collect().toSeq
    val absorbed = StreamingJobs.ivfAbsorbLog(spark, s"$work/idx", work)
    assert(absorbed == Seq(0L, 1L), absorbed.toString)
    val fs = new org.apache.hadoop.fs.Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // log emptied DOWN TO the zero-row schema-bearing placeholder: the
    // serve path (deltaLog) stays readable between absorb and the next
    // append, and the placeholder rides the highest absorbed batch id
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$work/delta"))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName).toSeq
    assert(dirs == Seq("batch=1"), dirs.toString)
    assert(StreamingJobs.deltaLog(spark, work).isEmpty)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$work/idx/_absorbed_batches")))
    // the drift baseline carried over, byte-identical
    assert(graft.operators.Similarity
      .ivfLoadStats(spark, s"$work/idx").collect().toSet == statsBefore)
    // serve parity: the swapped on-disk index is the in-memory absorb,
    // row-for-row at full probe
    val onDisk = graft.operators.Similarity.ivfSearch(queries,
        graft.operators.Similarity.ivfLoad(spark, s"$work/idx"),
        3, nprobe = 4).collect().toSeq
    assert(onDisk == ref, s"on-disk=$onDisk vs in-memory=$ref")
    // a second absorb over the emptied log is a no-op
    assert(StreamingJobs.ivfAbsorbLog(spark, s"$work/idx", work).isEmpty)
    // an absorb that dies between moving the old index aside and
    // renaming the new one in: the log refuses reads while its batches
    // are parked, and the next absorb finishes the swap on its own
    Seq((103L, Array.tabulate(8)(j => (j * 3).toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/delta/batch=2")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"$work/ckpt/commits/2"))
    FaultyFs.failNth("rename", "/\\.idx\\.next -> ")
    intercept[java.io.IOException] {
      StreamingJobs.ivfAbsorbLog(spark, FaultyFs.uri(s"$work/idx"),
        FaultyFs.uri(work))
    }
    assert(!FaultyFs.reset(), "the fault never fired")
    val e2 = intercept[IllegalArgumentException] {
      StreamingJobs.deltaLog(spark, work)
    }
    assert(e2.getMessage.contains("delta_absorbed"), e2.getMessage)
    assert(StreamingJobs.ivfAbsorbLog(spark, s"$work/idx", work).isEmpty)
    assert(StreamingJobs.deltaLog(spark, work).isEmpty)
    assert(graft.operators.Similarity.ivfLoad(spark, s"$work/idx").cells
      .filter($"cid" === 103L).count() == 1, "the settled swap lost vector 103")
    assert(graft.operators.Similarity
      .ivfLoadStats(spark, s"$work/idx").collect().toSet == statsBefore)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/delta_absorbed")))
    // an UNCOMMITTED newest batch refuses the absorb (a resumed stream
    // would replay it and re-append rows the index now holds)
    Seq((102L, Array.tabulate(8)(_.toFloat)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$work/delta/batch=9")
    val e3 = intercept[IllegalArgumentException] {
      StreamingJobs.ivfAbsorbLog(spark, s"$work/idx", work)
    }
    assert(e3.getMessage.contains("not committed"), e3.getMessage)
  }

  test("delta-log absorption, IVF-PQ family: swap equals the in-memory absorb and GCs the log") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val work = SparkTestSession.tempDir("st16-abs").toString
    val corpus = (1 to 24).map(i =>
        (i.toLong, Array.tabulate(8)(j => (i * (j + 1)).toFloat)))
      .toDF("vec_id", "embedding")
    graft.operators.Similarity.ivfPqBuild(corpus, nlist = 4)
      .save(s"$work/idx")
    val in = MemoryStream[(Long, Array[Float])]
    val q = StreamingJobs.vectorDeltaStream(
      in.toDF().toDF("vec_id", "embedding"), work)
    in.addData((100L, Array.tabulate(8)(_.toFloat + 0.5f)),
      (101L, Array.tabulate(8)(j => -(j + 1).toFloat)))
    q.processAllAvailable()
    q.stop()
    val queries = corpus.filter("vec_id <= 3")
    // the grown corpus is PINNED before the GC empties the log (the
    // lazy union would otherwise re-read deleted batch directories)
    val grown = corpus.unionByName(StreamingJobs.deltaLog(spark, work))
      .localCheckpoint()
    // in-memory reference, collected before the swap (lazy plans read
    // the on-disk index)
    val ref = graft.operators.Similarity.ivfPqSearch(queries,
        graft.operators.Similarity.ivfPqAbsorbDelta(
          graft.operators.Similarity.ivfPqLoad(spark, s"$work/idx"),
          StreamingJobs.deltaLog(spark, work)),
        grown, 3, nprobe = 4).collect().toSeq
    val absorbed = StreamingJobs.ivfPqAbsorbLog(spark, s"$work/idx", work)
    assert(absorbed == Seq(0L), absorbed.toString)
    // zero data rows behind the readable placeholder (the st15 shape)
    assert(StreamingJobs.deltaLog(spark, work).isEmpty)
    val onDisk = graft.operators.Similarity.ivfPqSearch(queries,
        graft.operators.Similarity.ivfPqLoad(spark, s"$work/idx"),
        grown, 3, nprobe = 4).collect().toSeq
    assert(onDisk == ref, s"on-disk=$onDisk vs in-memory=$ref")
    assert(StreamingJobs.ivfPqAbsorbLog(spark, s"$work/idx", work).isEmpty)
  }

  test("near-dup screen: catalog loss (app restart) re-registers the surviving registry — never wipes it") {
    // the r18 review finding: an APPLICATION restart kills the
    // in-memory catalog but not the work tree; the resumed stream must
    // re-register the table on its surviving location — treating
    // catalog loss as registry loss would silently pass every
    // duplicate of the pre-restart corpus and delete the history
    import spark.implicits._
    val work = SparkTestSession.tempDir("st10-catloss").toString
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    StreamingJobs.screenBatch(b0, 0L, work, 4)
    val tbl = StreamingJobs.registryTable(work)
    spark.sql(s"DROP TABLE $tbl") // the app restart
    val b1 = Seq((1L, "alpha beta gamma delta epsilon"), // re-crawl of 2
      (3L, "fresh new content right here")).toDF("doc_id", "text")
    StreamingJobs.screenBatch(b1, 1L, work, 4)
    val v = spark.read.parquet(s"$work/verdicts/batch=1").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(v == Seq((1L, false), (3L, true)),
      s"post-restart batch lost the pre-restart registry: $v")
    // the pre-restart survivor is still in the registry, joined by the
    // batch-1 survivor
    val reg = spark.read.parquet(s"$work/registry").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(reg == Set(2L, 3L), reg.toString)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("registry compaction: one partition, verdicts preserved, an interrupted swap settles on the next screen") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("st10-compact").toString
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"),
      (4L, "one two three four five")).toDF("doc_id", "text")
    val b1 = Seq((3L, "something else entirely here now")).toDF("doc_id", "text")
    StreamingJobs.screenBatch(b0, 0L, work, 4)
    StreamingJobs.screenBatch(b1, 1L, work, 4)
    StreamingJobs.compactRegistry(spark, work)
    // every batch partition folded into ONE keyed by the max batch id
    val parts = new java.io.File(s"$work/registry").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(parts == Seq("batch=1"), parts.toString)
    val reg = spark.read.parquet(s"$work/registry").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(reg == Set(2L, 3L, 4L), reg.toString)
    // screening continues over the compacted registry: re-crawls of
    // BOTH pre-compaction batches still flag, novel text passes
    val b2 = Seq((11L, "alpha beta gamma delta epsilon"),
      (13L, "something else entirely here now"),
      (15L, "genuinely novel text right here")).toDF("doc_id", "text")
    StreamingJobs.screenBatch(b2, 2L, work, 4)
    val v = spark.read.parquet(s"$work/verdicts/batch=2").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(v == Seq((11L, false), (13L, false), (15L, true)), v.toString)
    // replay safety: with a streaming checkpoint present, compaction
    // must REFUSE while the registry's max batch is uncommitted (a
    // resumed stream would replay it and wipe the folded history) and
    // proceed once the commit exists
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$work/ckpt/commits"))
    val eC = intercept[IllegalArgumentException] {
      StreamingJobs.compactRegistry(spark, work)
    }
    assert(eC.getMessage.contains("not committed"), eC.getMessage)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(s"$work/ckpt/commits/2"))
    StreamingJobs.compactRegistry(spark, work) // committed → allowed
    // a compaction that dies between moving the registry aside and
    // renaming the folded one in leaves no registry dir; the next
    // screen settles the swap before reading, so it screens against
    // the whole history (every b2 doc now has a registry match)
    FaultyFs.failNth("rename", "/\\.registry\\.next -> ")
    intercept[java.io.IOException] {
      StreamingJobs.compactRegistry(spark, FaultyFs.uri(work))
    }
    assert(!FaultyFs.reset(), "the fault never fired")
    assert(!new java.io.File(s"$work/registry").exists())
    StreamingJobs.screenBatch(b2, 3L, work, 4)
    val v3 = spark.read.parquet(s"$work/verdicts/batch=3").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(v3 == Seq((11L, false), (13L, false), (15L, false)), v3.toString)
    assert(new java.io.File(work).list()
      .forall(!_.matches("\\.registry\\.(next|prev|commit)")))
    spark.sql(s"DROP TABLE IF EXISTS ${StreamingJobs.registryTable(work)}")
    spark.sql("DROP TABLE IF EXISTS " +
      StreamingJobs.registryTable(FaultyFs.uri(work)))
  }

  test("registry deletion: tombstoned signatures stop flagging, layout and history survive") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("st10-delete").toString
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"),
      (4L, "one two three four five")).toDF("doc_id", "text")
    val b1 = Seq((3L, "something else entirely here now")).toDF("doc_id", "text")
    StreamingJobs.screenBatch(b0, 0L, work, 4)
    StreamingJobs.screenBatch(b1, 1L, work, 4)
    // right-to-be-forgotten: doc 2 is un-indexed; docs 3 and 4 stay
    StreamingJobs.deleteFromRegistry(spark, work, Seq(2L).toDF("doc_id"))
    val reg = spark.read.parquet(s"$work/registry").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(reg == Set(3L, 4L), reg.toString)
    // the fold doubles as a compaction: one partition, max folded key
    val parts = new java.io.File(s"$work/registry").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSeq
    assert(parts == Seq("batch=1"), parts.toString)
    // a re-crawl of the DELETED doc passes (its only match is gone);
    // re-crawls of the surviving docs still flag
    val b2 = Seq((31L, "alpha beta gamma delta epsilon"),
      (33L, "one two three four five"),
      (35L, "something else entirely here now")).toDF("doc_id", "text")
    StreamingJobs.screenBatch(b2, 2L, work, 4)
    val v = spark.read.parquet(s"$work/verdicts/batch=2").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(v == Seq((31L, true), (33L, false), (35L, false)), v.toString)
    // the bucketed layout survived the fold (zero-exchange contract)
    val tbl = StreamingJobs.registryTable(work)
    val bucketSpec = spark.sql(s"DESCRIBE TABLE EXTENDED $tbl").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(bucketSpec.get("Num Buckets").contains("4"), bucketSpec.toString)
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("registry deletion: deleting every id leaves a live empty registry the screen keeps using") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("st10-delall").toString
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    StreamingJobs.screenBatch(b0, 0L, work, 4)
    StreamingJobs.deleteFromRegistry(spark, work, Seq(2L).toDF("doc_id"))
    // a re-crawl of the wiped corpus passes and re-enters the registry
    val b1 = Seq((11L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    StreamingJobs.screenBatch(b1, 1L, work, 4)
    val v = spark.read.parquet(s"$work/verdicts/batch=1")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(v == Seq((11L, true)), v.toString)
    val reg = spark.read.parquet(s"$work/registry").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(reg == Set(11L), reg.toString)
    spark.sql(s"DROP TABLE IF EXISTS ${StreamingJobs.registryTable(work)}")
  }

  test("registry retention: rows age out by ingest batch, surviving a prior fold's re-keying") {
    import spark.implicits._
    val work = SparkTestSession.tempDir("st10-retain").toString
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val b1 = Seq((4L, "one two three four five")).toDF("doc_id", "text")
    StreamingJobs.screenBatch(b0, 0L, work, 4)
    StreamingJobs.screenBatch(b1, 1L, work, 4)
    // a PLAIN fold first: re-keys both rows' partition to batch=1 —
    // retention must key on ingest_batch (data column), which the fold
    // preserves, never on the re-keyed partition
    StreamingJobs.compactRegistry(spark, work)
    StreamingJobs.compactRegistry(spark, work, retainIngestSince = 1L)
    val reg = spark.read.parquet(s"$work/registry").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(reg == Set(4L), s"ingest-0 row survived the horizon: $reg")
    // aged-out content passes; in-window content still flags
    val b2 = Seq((11L, "alpha beta gamma delta epsilon"),
      (13L, "one two three four five")).toDF("doc_id", "text")
    StreamingJobs.screenBatch(b2, 2L, work, 4)
    val v = spark.read.parquet(s"$work/verdicts/batch=2").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(v == Seq((11L, true), (13L, false)), v.toString)
    spark.sql(s"DROP TABLE IF EXISTS ${StreamingJobs.registryTable(work)}")
  }

  test("online compaction: partitions stay bounded, verdicts and registry match the uncompacted screen") {
    import spark.implicits._
    val b = Seq(
      Seq((2L, "alpha beta gamma delta epsilon"),
        (4L, "one two three four five")),
      Seq((3L, "something else entirely here now")),
      Seq((11L, "alpha beta gamma delta epsilon"), // re-crawl of 2
        (15L, "genuinely novel text right here")),
      Seq((21L, "one two three four five"), // re-crawl of 4
        (23L, "later fresh content arrives here")),
      // re-crawl of 15 — a POST-fold survivor: folding must carry it
      Seq((31L, "genuinely novel text right here"),
        (33L, "closing unique words finish line"))
    ).map(_.toDF("doc_id", "text"))
    val plain = SparkTestSession.tempDir("st12-plain").toString
    val onl = SparkTestSession.tempDir("st12-online").toString
    b.zipWithIndex.foreach { case (df, i) =>
      StreamingJobs.screenBatch(df, i.toLong, plain, 4)
      StreamingJobs.screenBatch(df, i.toLong, onl, 4, compactEvery = 1)
    }
    def verdicts(w: String) = spark.read.parquet(s"$w/verdicts")
      .selectExpr("CAST(batch AS LONG) AS batch", "doc_id", "keep")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(verdicts(onl) == verdicts(plain),
      s"compaction changed verdicts: ${verdicts(onl).diff(verdicts(plain))}")
    // the expected flags really happened (not just agreement on wrong)
    val flagged = verdicts(onl).filter(!_._3).map(_._2)
    assert(flagged == Set(11L, 21L, 31L), flagged.toString)
    def parts(w: String) = new java.io.File(s"$w/registry").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    assert(parts(plain).size == 5, parts(plain).toString)
    assert(parts(onl) == Seq("batch=3", "batch=4"), parts(onl).toString)
    def reg(w: String) = spark.read.parquet(s"$w/registry")
      .select("doc_id", "band", "bucket")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(reg(onl) == reg(plain),
      "folding lost or duplicated registry signatures")
    Seq(plain, onl).foreach(w =>
      spark.sql(s"DROP TABLE IF EXISTS ${StreamingJobs.registryTable(w)}"))
  }

  test("online compaction: compactEvery = 0 disables the fold; the default is self-engaging") {
    // the twoLevelAuto discipline: ON by default (the 100 TB-safe
    // path), 0 is the explicit opt-out — partitions then accrue one
    // per batch exactly as the pre-online layout did
    import spark.implicits._
    assert(StreamingJobs.compactEveryDefault > 0,
      "online compaction must be self-engaging by default")
    val work = SparkTestSession.tempDir("st12-off").toString
    val b = Seq(
      Seq((2L, "alpha beta gamma delta epsilon")),
      Seq((3L, "something else entirely here now")),
      Seq((5L, "genuinely novel text right here"))
    ).map(_.toDF("doc_id", "text"))
    b.zipWithIndex.foreach { case (df, i) =>
      StreamingJobs.screenBatch(df, i.toLong, work, 4, compactEvery = 0)
    }
    val parts = new java.io.File(s"$work/registry").listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).sorted.toSeq
    assert(parts == Seq("batch=0", "batch=1", "batch=2"), parts.toString)
    spark.sql(s"DROP TABLE IF EXISTS ${StreamingJobs.registryTable(work)}")
  }

  test("online compaction: replaying the batch that folded reproduces its verdicts") {
    // crash AFTER batch 2's writes but BEFORE its checkpoint commit:
    // the replay re-enters maybeCompactInStream with batch=2's own
    // (uncommitted) partition on disk — it must be dropped before the
    // partition count, never folded under a committed key
    import spark.implicits._
    val work = SparkTestSession.tempDir("st12-replay").toString
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"),
      (4L, "one two three four five")).toDF("doc_id", "text")
    val b1 = Seq((3L, "something else entirely here now")).toDF("doc_id", "text")
    val b2 = Seq((11L, "alpha beta gamma delta epsilon"),
      (15L, "genuinely novel text right here")).toDF("doc_id", "text")
    def run(df: org.apache.spark.sql.DataFrame, id: Long) =
      StreamingJobs.screenBatch(df, id, work, 4, compactEvery = 1)
    run(b0, 0L); run(b1, 1L); run(b2, 2L) // batch 2 folds {0,1} -> {1}
    val first = spark.read.parquet(s"$work/verdicts/batch=2")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    val regFirst = spark.read.parquet(s"$work/registry").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    run(b2, 2L) // the replay
    val again = spark.read.parquet(s"$work/verdicts/batch=2")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
    assert(again == first, s"replay diverged: $again vs $first")
    val regAgain = spark.read.parquet(s"$work/registry").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(regAgain == regFirst, s"replay corrupted registry: $regAgain")
    assert(again == Set((11L, false), (15L, true)), again.toString)
    spark.sql(s"DROP TABLE IF EXISTS ${StreamingJobs.registryTable(work)}")
  }

  test("near-dup screen: restart under a different MinHash config fails loudly") {
    // the ADVICE r17 scenario: a registry built under numHashes=16
    // re-screened with numHashes=32 would band into different buckets
    // and simply never collide — duplicates passing unflagged with
    // zero errors. The persisted params file must reject it: a
    // registry from a numHashes=16 build is staged by rewriting it
    import spark.implicits._
    val work = SparkTestSession.tempDir("st10-params").toString
    val b0 = Seq((2L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    StreamingJobs.screenBatch(b0, 0L, work, 4)
    val params = new org.apache.hadoop.fs.Path(s"$work/registry_params")
    val fs = params.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val built = graft.io.TextFiles.readParams(fs, params)
    assert(built.get("numHashes").contains("32"), built.toString)
    graft.io.TextFiles.writeParams(fs, params,
      (built + ("numHashes" -> "16")).toSeq)
    val e = intercept[IllegalArgumentException] {
      StreamingJobs.screenBatch(b0, 1L, work, 4)
    }
    assert(e.getMessage.contains("numHashes=16"), e.getMessage)
    spark.sql(s"DROP TABLE IF EXISTS ${StreamingJobs.registryTable(work)}")
  }

  test("stateful sessionization closes sessions on gap and on timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[SessionEvent]
    val q = StreamingJobs.sessionize(in.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .start()
    // user 1: two events 10 min apart (one session), then a 2h gap event
    in.addData(
      SessionEvent(1L, ts("2024-01-01 09:00:00"), 1.0),
      SessionEvent(1L, ts("2024-01-01 09:10:00"), 2.0))
    q.processAllAvailable()
    in.addData(SessionEvent(1L, ts("2024-01-01 11:30:00"), 5.0))
    q.processAllAvailable()
    // push watermark far ahead so the open session times out
    in.addData(SessionEvent(2L, ts("2024-01-01 23:00:00"), 0.5))
    q.processAllAvailable()
    in.addData(SessionEvent(2L, ts("2024-01-02 12:00:00"), 0.5))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
        r.getLong(3), r.getDouble(4))).toSet
    assert(rows.contains((1L, "2024-01-01 09:00:00.0", "2024-01-01 09:10:00.0", 2L, 3.0)), rows)
    assert(rows.contains((1L, "2024-01-01 11:30:00.0", "2024-01-01 11:30:00.0", 1L, 5.0)), rows)
  }
}
