package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All reads go through the native parquet file source so Catalyst gets
  * column pruning + predicate pushdown + split planning for free — the
  * opposite of the reference's driver-side listing + opaque flatMap scan
  * (s3_server_access_logs.py:86-141,395-400), which defeats all three.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Give a CPU-bound pipeline enough input partitions to feed every
    * core. Parquet can only split at row-group boundaries, and the
    * driver's testdata is ONE single-row-group file per table — so a
    * scan (and everything pipelined into it: projection, parse, partial
    * aggregation) otherwise runs as a single task no matter how many
    * cores the session has. At production scale inputs carry thousands
    * of row groups and this is a no-op: we only add the exchange when
    * fewer splits than the cluster has slots can carry rows, so
    * well-split inputs never pay an extra shuffle.
    *
    * Call this on SCAN DataFrames only: with AQE enabled, `.rdd` on a
    * plan that already contains exchanges can force query-stage
    * execution just to count partitions. A bare file scan has no
    * exchange, so the partition count here is pure planning.
    */
  def spread(df: DataFrame, keys: String*): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (rowSplits(df, slots) >= slots) df
    else if (keys.nonEmpty)
      // hash exchange on the given (well-distributed) keys: unlike the
      // keyless round-robin overload, the map side needs NO pre-exchange
      // sort (sortBeforeRepartition applies only to round-robin, where
      // output placement would otherwise depend on retry-unstable input
      // order) — measured 2-13s of single-task sort CPU saved at sf0.1.
      df.repartition(slots, keys.map(org.apache.spark.sql.functions.col): _*)
    else df.repartition(slots)
  }

  /** How many of the scan's splits can carry rows. A parquet split reads
    * only the row groups whose midpoint falls inside it, so a large file
    * with one row group, planned as many splits, still runs on one core:
    * the partition count is capped by the row-group count. Footers are
    * read only when a parquet scan has fewer files than `slots` and
    * at least `slots` partitions — the only case the cap can change the
    * answer.
    */
  private def rowSplits(df: DataFrame, slots: Int): Int = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val parts = df.rdd.getNumPartitions
    val parquetFiles = df.queryExecution.analyzed.collectLeaves() match {
      case Seq(l: LogicalRelation) => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] =>
          r.location.inputFiles.toSeq
        case _ => Nil
      }
      case _ => Nil
    }
    if (parts < slots || parquetFiles.isEmpty || parquetFiles.length >= slots) parts
    else {
      val conf = df.sparkSession.sparkContext.hadoopConfiguration
      val rowGroups = parquetFiles.map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try reader.getRowGroups.size finally reader.close()
      }.sum
      math.min(parts, rowGroups)
    }
  }

  /** `events.ts` has shipped in two physical layouts across testdata
    * generations: nanosecond-precision parquet (which Spark 4 refuses
    * outright — PARQUET_TYPE_ILLEGAL — so it's read as a raw long via
    * the legacy conf and truncated ns → µs exactly like DuckDB's
    * reader), and plain `timestamp[us]` (which Spark reads natively).
    * Adapt on the loaded type and surface TIMESTAMP_NTZ either way so
    * downstream results hash-match the DuckDB oracle.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    prepareEventsRead(spark)
    deriveTs(load(spark, sfDir, "events"))
  }

  /** The same events table as an UNBOUNDED source (file-stream scan of
    * the identical parquet), with the identical ns→µs truncation — so a
    * streaming job over it is oracle-comparable row-for-row with the
    * batch plans. Two streaming-specific differences: the file source
    * needs an explicit schema (with the nanos-as-long conf the raw `ts`
    * arrives as LONG), and `ts` stays plain TIMESTAMP because Spark
    * refuses watermarks on TIMESTAMP_NTZ
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — the UTC guard makes the
    * wall clock identical, and consumers cast window bounds back to NTZ
    * at the output boundary.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    prepareEventsRead(spark)
    // probe the physical layout once via the batch reader (planning
    // only — no job runs): ns-as-long arrives as LONG, µs as a
    // timestamp type. The stream schema mirrors whichever is on disk.
    val tsOnDisk = load(spark, sfDir, "events").schema("ts").dataType
    val rawTs = tsOnDisk match {
      case LongType => LongType
      // declare LTZ (not NTZ): Spark refuses watermarks on NTZ
      // (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); the µs payload is
      // identical and the UTC guard makes the wall clock identical
      case TimestampType | TimestampNTZType => TimestampType
      // any other on-disk type (a future testdata generation writing
      // string/int32 ts) must fail HERE with a clear message, not later
      // as a confusing per-batch parquet schema mismatch
      case other => throw new IllegalStateException(
        s"events.ts has unsupported physical type $other on disk at " +
          s"$sfDir — expected int64 (ns) or a parquet timestamp")
    }
    val raw = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", rawTs),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // two FileStreamSource quirks of streaming a single FILE: the path
    // must be a GLOB (for a non-glob path the source force-injects
    // basePath = the path itself into the per-batch read, which fails
    // "Option 'basePath' must be a directory"), and the real basePath
    // must then be supplied explicitly
    val src = spark.readStream.schema(raw).option("basePath", sfDir)
      .parquet(s"$sfDir/events.parque[t]")
    if (rawTs == LongType)
      src.withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000")))
    else src
  }

  private def deriveTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000"))
          .cast(TimestampNTZType))
      case TimestampNTZType => df
      case _ => df.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast(TimestampNTZType))
    }
  }

  private def prepareEventsRead(spark: SparkSession): Unit = {
    // The micros→NTZ cast in deriveTs renders the instant's wall clock
    // in the SESSION timezone; every graft entry point pins UTC, and a
    // non-UTC session would silently shift values vs the DuckDB oracle —
    // fail loudly here instead. Accept any UTC-equivalent zone id (UTC,
    // Etc/UTC, GMT, +00:00, Z) by normalizing to a fixed offset first.
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val isUtc =
      try java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).normalized() ==
        java.time.ZoneOffset.UTC
      catch { case _: java.time.DateTimeException => false }
    require(isUtc,
      s"graft requires a UTC session timezone (events NTZ derivation), got '$tz'")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }
}
