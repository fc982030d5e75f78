package graft.tools

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.streaming.{SessionEvent, StreamingJobs}

/** End-to-end demo/driver for the non-query surfaces: structured
  * streaming over a real file source and the multimodal binary pipeline.
  *
  * Usage: runMain graft.tools.PipelineDemo [sfDir] [workDir]
  *
  * Without `workDir` the demo works in a fresh temp dir and deletes it
  * when the JVM exits; a given `workDir` is left in place.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = args.lift(1).getOrElse {
      val tmp = java.nio.file.Files.createTempDirectory("graft-demo").toFile
      sys.addShutdownHook(org.apache.hadoop.fs.FileUtil.fullyDelete(tmp))
      tmp.toString
    }
    val spark = graft.GraftSession.builder().getOrCreate()
    import spark.implicits._

    // ---- streaming: stream the events table from disk, sessionize ----
    val batch = graft.Tables.events(spark, sfDir)
      .select($"user_id", $"ts".cast("timestamp").as("ts"), $"value")
    batch.write.mode("overwrite").parquet(s"$work/events-in")
    val stream = spark.readStream
      .schema(batch.schema)
      .parquet(s"$work/events-in")
      .as[SessionEvent]
    val q = StreamingJobs.sessionize(stream, gapMinutes = 30)
      .writeStream.outputMode("append")
      .format("parquet").option("path", s"$work/sessions-out")
      .option("checkpointLocation", s"$work/ckpt")
      .start()
    q.processAllAvailable()
    q.stop()
    val closed = spark.read.parquet(s"$work/sessions-out")
    println(s"[demo] streaming closed sessions: ${closed.count()}")
    closed.orderBy(desc("n_events")).show(5, truncate = false)

    // ---- multimodal: synthesize -> parquet -> features + plans ----
    Multimodal.syntheticAssets(spark, 300).write
      .mode("overwrite").parquet(s"$work/assets")
    val assets = spark.read.parquet(s"$work/assets")
    val feats = Multimodal.extractFeatures(
      assets.as[graft.multimodal.MediaAsset], dim = 64)
    println(s"[demo] features: ${feats.count()} " +
      s"dims=${feats.head().feature.length}")
    println(s"[demo] resize plans: ${Multimodal.resizePlan(assets, 320).count()}")
    println(s"[demo] sampled frames: " +
      s"${Multimodal.sampleFrames(assets, 30, 5).count()}")

    // ---- log table: compact raw logs via ETL, read back date-pruned ----
    val d = java.time.LocalDate.of(2024, 7, 30)
    val rawDir = s"$work/rawlogs/b1/2024/07/30"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(rawDir))
    val sample = (0 until 1000).map(i => graft.sources.S3AccessLog.renderLine(
      Map("owner" -> s"o$i", "bucket" -> "b1",
        "time" -> f"[30/Jul/2024:${i % 24}%02d:00:00 +0000]", "ip" -> "1.1.1.1",
        "requester" -> "r", "reqid" -> s"R$i", "operation" -> "REST.GET.OBJECT",
        "key" -> s"k/$i", "request" -> "\"GET /k HTTP/1.1\"", "status" -> "200",
        "error" -> "-", "bytes" -> s"${i * 7}", "size" -> "-", "totaltime" -> "5",
        "turnaround" -> "4", "referrer" -> "\"-\"", "useragent" -> "\"a/1\"",
        "version" -> "-", "host_id" -> "h=", "signature_version" -> "SigV4",
        "cipher_suite" -> "c", "auth_type" -> "AuthHeader", "host_header" -> "hh",
        "tls_version" -> "TLSv1.3", "access_point_arn" -> "-",
        "acl_required" -> "-")))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$rawDir/f.log"),
      sample.mkString("\n").getBytes)
    graft.operators.LogEtl.runBackfill(spark, s"$work/rawlogs",
      s"$work/compacted", Seq("b1"), d, d, numOutputFiles = 2)
    val table = graft.sources.LogTable.read(spark, s"$work/compacted", "b1", d, d)
    println(s"[demo] log table date-pruned read: ${table.count()} rows, " +
      s"${table.select("s3_bucket").distinct().count()} bucket")
    spark.stop()
  }
}
