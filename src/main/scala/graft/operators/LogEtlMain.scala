package graft.operators

import java.time.LocalDate

/** CLI entry point mirroring the reference's argument surface
  * (s3_server_access_logs.py:469-534) re-targeted at filesystem paths:
  *
  *   --input-root        root dir of raw logs laid out <root>/<bucket>/yyyy/MM/dd/
  *   --dest-root         output root (the reference's destination bucket+prefix)
  *   --buckets           comma-separated logged-bucket folder names
  *                       (replaces the reference's S3 folder listing, O1)
  *   --lookback-days     default 1 — run-date = today minus lookback
  *                       (s3_server_access_logs.py:294)
  *   --start-date        yyyy-MM-dd; runs a FORWARD backfill loop from
  *                       start-date through today minus lookback-days
  *                       (s3_server_access_logs.py:361-368)
  *   --end-date          engine extension: override the backfill terminus
  *                       for historical replays
  *   --num-output-files  default 10: at most n files per (bucket, day),
  *                       fewer when a day's scan has fewer splits
  *                       (s3_server_access_logs.py:507-511)
  *   --hive-formatted-folders  year=/month=/day= layout
  *                       (s3_server_access_logs.py:445-454)
  *   --format            engine extension: s3 (default) | vpc | alb | cloudfront —
  *                       the converter families the reference README
  *                       names (README.md:11); see LogEtl.Formats
  *
  * Dropped relative to the reference: AWS account/region/credential args
  * (driver-side boto3 plumbing, out of engine scope — SURVEY.md §2 O17).
  */
object LogEtlMain {
  /** Flags that may appear bare, argparse store_true style
    * (s3_server_access_logs.py:526-530) — a value is optional.
    */
  private val BoolFlags = Set("hive-formatted-folders")

  /** Option parsing that, unlike a pairwise `sliding(2,2)`, survives a
    * bare boolean flag anywhere in the arg list and rejects malformed
    * input loudly instead of silently mis-pairing everything after it.
    */
  private[operators] def parseOpts(args: Seq[String]): Map[String, String] = {
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case k :: tail if k.startsWith("--") =>
          val key = k.drop(2)
          tail match {
            case v :: t2 if !v.startsWith("--") => go(t2, acc + (key -> v))
            case _ if BoolFlags(key)            => go(tail, acc + (key -> "true"))
            case _ => sys.error(s"flag --$key requires a value")
          }
        case other :: _ => sys.error(s"unexpected argument: $other")
      }
    go(args.toList, Map.empty)
  }

  /** `--buckets a,b`: a blank or repeated name (`a,,b`, `a,b,`, `a,a`)
    * is rejected here rather than read as `<root>//yyyy/MM/dd`.
    */
  private[graft] def parseBuckets(arg: String): Seq[String] = {
    val buckets = arg.split(",", -1).toSeq
    LogEtl.requireBucketNames(buckets)
    buckets
  }

  def main(args: Array[String]): Unit = {
    val opts = parseOpts(args.toSeq)
    def req(k: String): String = opts.getOrElse(k,
      sys.error(s"missing required --$k (got: ${opts.keys.mkString(", ")})"))

    val inputRoot = req("input-root")
    val destRoot = req("dest-root")
    val buckets = parseBuckets(req("buckets"))
    val lookbackDays = opts.getOrElse("lookback-days", "1").toInt
    val numOutputFiles = opts.getOrElse("num-output-files", "10").toInt
    val hive = opts.getOrElse("hive-formatted-folders", "false").toBoolean
    val format = opts.getOrElse("format", "s3")
    require(LogEtl.Formats.contains(format),
      s"unknown --format '$format' (know: ${LogEtl.Formats.keys.mkString(", ")})")
    // reference semantics (s3_server_access_logs.py:361-368): with
    // --start-date, backfill FORWARD from start-date through
    // today - lookback-days; otherwise a single run at that terminus.
    // --end-date (engine extension, not in the reference) overrides the
    // terminus for historical replays.
    val lookbackDate = LocalDate.now().minusDays(lookbackDays.toLong)
    val startDate = opts.get("start-date").map(LocalDate.parse)
      .getOrElse(lookbackDate)
    val endDateOverride = opts.get("end-date").map(LocalDate.parse)

    // the reference's commit settings (s3_server_access_logs.py:59-68)
    // and its deployment override of the local master
    val spark = graft.GraftSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("s3_server_side_log_compacter")
      .config("spark.speculation", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
      .getOrCreate()
    try {
      val t0 = System.nanoTime()
      val endDate = endDateOverride.getOrElse(lookbackDate)
      LogEtl.runBackfill(spark, inputRoot, destRoot, buckets,
        startDate, endDate, numOutputFiles, hive, format)
      println(f"compaction finished in ${(System.nanoTime() - t0) / 1e9}%.1f sec")
    } finally spark.stop()
  }
}
