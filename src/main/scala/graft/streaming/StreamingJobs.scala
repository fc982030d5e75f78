package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.io.{Publish, TextFiles}
import graft.operators.Similarity.VecId

/** Structured Streaming counterparts of the batch operators: the same
  * event-stream semantics (hourly rollups, gap sessionization) expressed
  * over an unbounded source with watermarks for late data.
  *
  * The reference has no streaming path — its "stream" is a daily cron
  * re-invocation with backfill replay (deploy/template.yaml:114-130,
  * s3_server_access_logs.py:361-368). This module is the §2c/§7
  * extension: `readStream` → transform → `writeStream`, with event-time
  * state instead of re-runs.
  *
  * Scale posture: both jobs are keyed-state streaming aggregations whose
  * state is hash-partitioned by group key across executors; watermarks
  * bound state size (windows expire, sessions time out). No driver-side
  * state.
  */
case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
case class SessionAgg(user_id: Long, session_start: Timestamp,
                      session_end: Timestamp, n_events: Long, sum_value: Double)
case class SState(start: Long, end: Long, n: Long, total: Double)

object StreamingJobs {
  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Default online-compaction cadence for the near-dup screen: ON by
    * default (the twoLevelAuto discipline — the 100 TB-safe path is
    * the default, not a flag), folding once the registry accrues more
    * than this many batch partitions. 64 keeps partition listings and
    * per-bucket file counts trivially bounded while amortizing the
    * registry rewrite to 1/64 of batches; pass `compactEvery = 0` to
    * disable (at-rest [[compactRegistry]] remains available).
    */
  val compactEveryDefault: Int = 64

  /** Event-time lateness every watermarked `events` job tolerates
    * ([[hourlyRollup]], [[slidingRollup]], [[windowedTopK]],
    * [[dedupStream]]); a row later than this behind the newest event
    * may be dropped.
    */
  private val EventsWatermark = "1 hour"

  /** Tumbling-window rollup with watermark: counts + value sums per
    * (1-hour window, event_type); windows finalize (append-mode emit)
    * once the watermark passes their end.
    */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", EventsWatermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("v"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("v"))

  /** [[hourlyRollup]]'s sliding twin: 1-hour windows every 15 minutes —
    * each event feeds four overlapping windows, the freshness/latency
    * trade monitoring rollups actually run. Same watermark-bounded
    * keyed state; window count (not event count) bounds state size.
    */
  def slidingRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", EventsWatermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("total_value"))

  /** Streaming windowed top-k: the k highest-`value` events per
    * (1-hour window, event_type), ranked through the SAME bounded
    * [[graft.functions.TopKAgg]] partial aggregate the batch
    * similarity stack uses — per-key state is the k-slot insertion
    * buffer (a `TypedImperativeAggregate`, so the state store holds
    * the serialized buffer and micro-batches merge partials), never
    * the window's full event list. Append-mode emit on watermark
    * close, like [[hourlyRollup]]. Null scores are skipped by the
    * aggregate (malformed rows can't occupy a slot); callers who need
    * them loud should assert upstream.
    */
  def windowedTopK(events: DataFrame, k: Int): DataFrame =
    events
      .filter(col("value").isNotNull)
      .withWatermark("ts", EventsWatermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(graft.functions.TopKAgg.top_k(col("value"), col("event_id"),
        k, ascending = false).as("_tk"))
      .select(col("window.start").as("wstart"), col("event_type"),
        posexplode(col("_tk")))
      .select(col("wstart"), col("event_type"),
        (col("pos") + 1).cast(LongType).as("rank"),
        col("col.id").as("event_id"), col("col.score").as("value"))

  /** The reference's compact pipeline as a CONTINUOUS job: tail raw log
    * text landing under `inputRoot`, parse with the fused parser, write
    * date-partitioned snappy parquet exactly-once (checkpointed file
    * sink). Replaces the daily-cron + backfill-replay model
    * (deploy/template.yaml:114-130) with arrival-time processing.
    *
    * The batch job's partition-local time sort (O13, s3.py:457-458 →
    * LogEtl.write) is reproduced per micro-batch, so the continuous
    * path keeps the reference's row-group-pruning property — readers
    * skip row groups on `request_time` min/max — instead of silently
    * losing it. A streaming plan rejects Sort nodes
    * (UnsupportedOperationChecker), so the sort runs as a
    * per-partition in-memory sort inside `mapPartitions`: the working
    * set is one micro-batch partition, the same rows the batch job's
    * sortWithinPartitions buffers per task, bounded by the trigger.
    * NULL request_time (dead letters) sorts first, like the batch
    * sort's NULLS FIRST. The file sink's own partition-column
    * clustering pass is stable, so per-file monotonicity survives the
    * `log_date` dynamic partitioning (pinned by StreamingSpec).
    */
  def streamCompact(spark: org.apache.spark.sql.SparkSession,
                    inputRoot: String, dest: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val parsed = graft.sources.S3AccessLog.parse(
      spark.readStream.text(inputRoot))
      .withColumn("log_date", to_date(col("request_time")))
    val schema = parsed.schema
    val tIdx = schema.fieldIndex("request_time")
    // NOTE: it.toArray buffers the whole partition in memory (no spill,
    // unlike SortExec — batch `sortWithinPartitions` can't express a
    // per-micro-batch partition-local sort on a stream). Bounded in
    // practice by the file-stream source's per-batch split size
    // (maxPartitionBytes, default 128 MB of text per task); a deployment
    // raising maxFilesPerTrigger × file size past executor heap must
    // lower one of them.
    val sorted = parsed.mapPartitions { it =>
      it.toArray.sortBy { r =>
        if (r.isNullAt(tIdx)) Long.MinValue
        else {
          val t = r.getTimestamp(tIdx)
          t.getTime / 1000 * 1000000L + t.getNanos / 1000 // event-time µs
        }
      }.iterator
    }(org.apache.spark.sql.Encoders.row(schema))
    sorted
      .writeStream
      .format("parquet")
      .option("path", dest)
      .option("checkpointLocation", checkpoint)
      .option("compression", "snappy")
      .partitionBy("log_date")
      .start()
  }

  /** CDC-style streaming upsert through `foreachBatch` — the sink API
    * for maintaining a keyed TABLE from a stream, which no row-append
    * sink can express. Each micro-batch folds into the target with a
    * versioned latest-wins merge (last event per key by (ts, event_id))
    * plus an additive update count; both combines are commutative and
    * associative, so the maintained table is independent of micro-batch
    * boundaries and arrival order.
    *
    * Durability is the point of the design, not a footnote:
    *
    *  - ALL merge state lives in storage, none in driver memory. Each
    *    committed batch appends a tiny commit file under
    *    `workDir/_commits/` (write-temp, then atomic rename to a name
    *    that never pre-exists) recording the batchId and, per key
    *    bucket, the generation directory holding that bucket's current
    *    rows. A restart from checkpoint re-reads the last commit and
    *    resumes the fold exactly where the previous process stopped —
    *    the reference's idempotent-rerun discipline (s3.py:459,
    *    backfill s3.py:361-368) applied to a continuously maintained
    *    table.
    *  - A RETRIED or REPLAYED micro-batch (same batchId after a crash
    *    or checkpoint restart) sees `batchId <= committed` and no-ops,
    *    so the additive `n_updates` never double-counts. A batch that
    *    crashed mid-write left a generation directory but no commit
    *    file; its replay overwrites that directory and commits once.
    *  - The per-batch merge cost is bounded by the batch, not the
    *    table: keys hash into [[CdcBuckets]] = 8 fixed buckets
    *    (`pmod(xxhash64(user_id), 8)`), the fold reads ONLY the
    *    buckets the batch touches and writes ONLY those buckets into
    *    the new generation; untouched buckets keep their files from
    *    older generations, referenced as-is by the new commit. A batch
    *    touching one key rewrites 1/8 of the table, not all of
    *    it.
    *  - Storage is BOUNDED: after each commit the log keeps the two
    *    newest commit files and deletes displaced bucket partitions
    *    (and emptied generation dirs), so steady-state footprint is
    *    ~one live table plus one batch of margin — never one
    *    generation per batch forever.
    *
    * Rename-as-commit is atomic on HDFS/local/ABFS; an S3 deployment
    * substitutes a conditional-put pointer exactly as Spark's own file
    * sink commit protocol does — the log layout is unchanged.
    */
  private[graft] def cdcFold(prev: Option[DataFrame],
                             batch: DataFrame): DataFrame = {
    // payload columns (everything beyond the key and the ordering
    // pair) ride INSIDE the _m struct, so latest-wins extends to them
    // for free: struct max orders by (ts, event_id) first — unique per
    // event by contract — and the winner's payload comes along. Names
    // sort so the struct shape is deterministic across batches; a side
    // missing a field (an older generation, or a batch from before a
    // widening) carries NULL there — the schema-evolution contract
    // cdcMergeAndCommit enforces at the type level.
    val keyCols = Set("user_id", "ts", "event_id")
    val bType = batch.schema.fields
      .filterNot(f => keyCols(f.name)).map(f => f.name -> f.dataType).toMap
    val pType = prev.map(_.schema("_m").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fields
        .filterNot(f => Set("ts", "event_id")(f.name))
        .map(f => f.name -> f.dataType).toMap)
      .getOrElse(Map.empty)
    val pay = (bType.keySet ++ pType.keySet).toSeq.sorted
    def typ(n: String) = bType.getOrElse(n, pType(n))
    val bs = batch.groupBy(col("user_id"))
      .agg(max(struct(col("ts") +: col("event_id") +: pay.map(n =>
        if (bType.contains(n)) col(n)
        else lit(null).cast(typ(n)).as(n)): _*)).as("_m"),
        count(lit(1)).as("n_updates"))
    prev.fold(bs) { t =>
      val tn = t.select(col("user_id"),
        struct(col("_m.ts").as("ts") +: col("_m.event_id").as("event_id") +:
          pay.map(n =>
            if (pType.contains(n)) col(s"_m.`$n`").as(n)
            else lit(null).cast(typ(n)).as(n)): _*).as("_m"),
        col("n_updates"))
      tn.unionByName(bs)
        .groupBy(col("user_id"))
        .agg(max(col("_m")).as("_m"),
          sum(col("n_updates")).as("n_updates"))
    }
  }

  /** The ONE bucket-routing expression of the CDC table. The merge,
    * deletion, and retention paths MUST bucket identically — any drift
    * silently routes keys to buckets maintenance never rewrites while
    * the view keeps serving them — so the expression exists exactly
    * once.
    */
  private def cdcBucketOf(buckets: Int): Column =
    pmod(xxhash64(col("user_id")), lit(buckets.toLong))

  private def cdcFs(spark: org.apache.spark.sql.SparkSession,
                    workDir: String): FileSystem =
    new Path(workDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Commit log keys, newest first. A key is (batchId, rev): rev 0 is
    * the stream's own merge commit for that batch (file `c{N}`), rev
    * ≥ 1 an AT-REST maintenance rewrite of the same batch's state
    * (file `c{N}r{R}`, written by [[cdcDeleteKeys]]). Revisions keep
    * maintenance out of the stream's batch-id space: the replay check
    * compares batch ids only, so a resumed stream's batch N+1 is never
    * swallowed by a maintenance commit at (N, 1), while a replayed
    * batch ≤ N still no-ops against it.
    */
  private def cdcCommitKeys(fs: FileSystem, workDir: String): Seq[(Long, Long)] = {
    val dir = new Path(s"$workDir/_commits")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("c") && !n.endsWith(".tmp"))
      .flatMap { n =>
        n.drop(1).split("r", 2) match {
          case Array(b)    => b.toLongOption.map(_ -> 0L)
          case Array(b, r) => for { bb <- b.toLongOption
                                    rr <- r.toLongOption } yield (bb, rr)
          case _           => None
        }
      }
      .toSeq.sorted(Ordering[(Long, Long)].reverse)
  }

  private def cdcCommitName(key: (Long, Long)): String =
    if (key._2 == 0L) s"c${key._1}" else s"c${key._1}r${key._2}"

  /** Parsed commit: bucket count, the table's cumulative SOURCE schema
    * (the union of every merged batch's fields, committed next to the
    * bucket count so an incompatible batch is refused BEFORE it
    * corrupts the fold — absent only in a commit predating the schema
    * line), and the bucket → generation-partition map.
    */
  private def cdcParseCommit(fs: FileSystem, workDir: String,
                             key: (Long, Long))
      : (Int, Option[org.apache.spark.sql.types.StructType],
         Map[Int, String]) = {
    val in = fs.open(new Path(s"$workDir/_commits/${cdcCommitName(key)}"))
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = body.linesIterator.filter(_.nonEmpty).toSeq
    val schema = lines.tail.collectFirst {
      case l if l.startsWith("schema\t") =>
        org.apache.spark.sql.types.DataType.fromJson(l.drop(7))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
    }
    (lines.head.toInt, schema,
      lines.tail.filterNot(_.startsWith("schema\t")).map { l =>
        val Array(b, p) = l.split("\t", 2); b.toInt -> p
      }.toMap)
  }

  /** One serializer for both commit writers (merge and maintenance
    * rewrite): bucket count, then the schema line, then the map — the
    * rewrite paths must CARRY the schema forward or a post-maintenance
    * batch would lose the evolution guard.
    */
  private def cdcCommitBody(buckets: Int,
                            schema: Option[org.apache.spark.sql.types.StructType],
                            map: Map[Int, String]): Array[Byte] =
    (buckets.toString +:
      (schema.map(s => s"schema\t${s.json}").toSeq ++
        map.toSeq.sortBy(_._1).map { case (b, p) => s"$b\t$p" }))
      .mkString("\n").getBytes("UTF-8")

  /** Last committed CDC state under `workDir`: (batchId, buckets,
    * bucket → generation-partition path). None before the first commit.
    */
  private[graft] def cdcReadCommit(spark: org.apache.spark.sql.SparkSession,
                                   workDir: String)
      : Option[(Long, Int, Map[Int, String])] = {
    val fs = cdcFs(spark, workDir)
    cdcCommitKeys(fs, workDir).headOption.map { latest =>
      val (b, _, m) = cdcParseCommit(fs, workDir, latest)
      (latest._1, b, m)
    }
  }

  /** The committed cumulative source schema (None before the first
    * commit) — the read-side handle of the evolution contract, for
    * callers that must know which columns the maintained table carries
    * without scanning it.
    */
  private[graft] def cdcReadSchema(spark: org.apache.spark.sql.SparkSession,
                                   workDir: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val fs = cdcFs(spark, workDir)
    cdcCommitKeys(fs, workDir).headOption
      .flatMap(k => cdcParseCommit(fs, workDir, k)._2)
  }

  /** Bounded storage: the log keeps exactly the TWO newest commit files
    * (latest + its predecessor, the crash-safety margin), deletes
    * bucket-partition dirs the predecessor referenced but the latest no
    * longer does (they were displaced by the newest merge), and prunes
    * generation dirs emptied by that. Runs after EVERY batch entry —
    * including replayed no-ops — so a crash between commit and cleanup
    * leaves garbage for at most one batch. Without this, a long-running
    * stream accumulates one commit file and one generation per batch
    * forever.
    */
  private def cdcGc(fs: FileSystem, workDir: String): Unit = {
    val ids = cdcCommitKeys(fs, workDir)
    if (ids.size < 2) return
    ids.drop(2).foreach { old =>
      fs.delete(new Path(s"$workDir/_commits/${cdcCommitName(old)}"), false)
      () }
    val keep = cdcParseCommit(fs, workDir, ids(0))._3.values.toSet
    val displaced = cdcParseCommit(fs, workDir, ids(1))._3.values
      .filterNot(keep).toSeq.distinct
    displaced.foreach { p =>
      val path = new Path(p)
      fs.delete(path, true)
      // a generation whose last _bucket= partition is gone is dead —
      // only write markers (_SUCCESS, .crc sidecars) remain
      val gen = path.getParent
      if (fs.exists(gen) && !fs.listStatus(gen)
        .exists(_.getPath.getName.startsWith("_bucket="))) {
        fs.delete(gen, true); () }
    }
  }

  /** The maintained CDC table: the union of every bucket's current
    * generation partition. Fails with a clear message (rather than a
    * missing-path read) when no batch has ever committed.
    */
  def cdcTable(spark: org.apache.spark.sql.SparkSession,
               workDir: String): DataFrame = {
    val paths = cdcReadCommit(spark, workDir)
      .getOrElse(throw new IllegalStateException(
        s"no committed CDC generation under $workDir"))
      ._3.values.toSeq.distinct.sorted
    // an EMPTY committed map is legitimate state (cdcDeleteKeys can
    // tombstone every key) — but with zero data files there is no
    // schema to read; fail with the semantics, not a parquet
    // inference error. The next merged batch recreates the table.
    if (paths.isEmpty) throw new IllegalStateException(
      s"CDC table under $workDir is EMPTY — every key was deleted; " +
        "the next merged batch recreates it")
    // generations written before a schema widening carry a narrower _m
    // struct — merge so older rows surface the new fields as NULL (the
    // evolution contract's read side)
    spark.read.option("mergeSchema", "true").parquet(paths: _*)
  }

  /** One micro-batch of the CDC merge, commit included; a no-op when
    * `batchId` was already committed (retry/replay idempotence). The
    * ≤`buckets`-row `collect` of touched bucket ids is METADATA-sized —
    * bounded by the constructor constant, never by the data — and is
    * what lets the fold read/write only the touched slice of the table.
    */
  private[graft] def cdcApplyBatch(batch: DataFrame, batchId: Long,
                                   workDir: String): Unit =
    // cleanup runs whenever a commit for this batch is durable — fresh
    // merge OR replayed no-op (the original attempt may have crashed in
    // the window between the commit rename and its GC, leaving the
    // displaced partitions and a third commit file for the replay to
    // reclaim). Only an empty batch, which commits nothing, skips GC.
    if (cdcMergeAndCommit(batch, batchId, workDir))
      cdcGc(cdcFs(batch.sparkSession, workDir), workDir)

  /** The merge + commit WITHOUT the trailing cleanup — split from
    * [[cdcApplyBatch]] so the crash window between the commit rename
    * and [[cdcGc]] is testable. Returns true when a commit for
    * `batchId` is durable after the call (freshly written, or already
    * present from a prior attempt), false for an empty batch.
    */
  private[graft] def cdcMergeAndCommit(batch: DataFrame, batchId: Long,
                                       workDir: String): Boolean = {
    val buckets = CdcBuckets
    import org.apache.spark.sql.types.{StructField, StructType}
    val s = batch.sparkSession
    val fs0 = cdcFs(s, workDir)
    val committed = cdcCommitKeys(fs0, workDir).headOption.map { k =>
      val (b, sch, m) = cdcParseCommit(fs0, workDir, k)
      (k._1, b, sch, m)
    }
    committed.foreach { case (_, b, _, _) =>
      require(b == buckets,
        s"CDC table at $workDir was committed with $b buckets, got $buckets") }
    if (committed.exists(_._1 >= batchId)) {
      // replayed batch: the merge is already durable
      return true
    }
    val prevMap = committed.map(_._4).getOrElse(Map.empty[Int, String])

    // ---- schema-evolution contract ------------------------------------
    // The commit log pins the cumulative SOURCE schema next to the
    // bucket count. A batch may ADD columns (nullable widening: older
    // generations and structurally-poorer batches carry NULL there) or
    // OMIT committed ones (they merge as NULLs, latest-wins keeps older
    // values); a batch that RETYPES a committed column is refused with
    // the column named — silently merging it would corrupt the fold
    // (struct max across incomparable types) or, worse, cast-mangle
    // history. Structural columns are the merge keys and cannot evolve.
    Seq("user_id", "ts", "event_id").foreach(c =>
      require(batch.columns.contains(c),
        s"CDC batch $batchId is missing structural column '$c' " +
          s"(required: user_id, ts, event_id)"))
    Seq("_m", "n_updates", "_bucket").foreach(c =>
      require(!batch.columns.contains(c),
        s"CDC batch $batchId carries reserved column name '$c'"))
    val committedFields = committed.flatMap(_._3)
      .map(_.fields.toSeq).getOrElse(Seq.empty)
    committedFields.foreach { f =>
      if (batch.columns.contains(f.name)) {
        val bt = batch.schema(f.name).dataType
        require(bt == f.dataType,
          s"CDC table at $workDir committed column '${f.name}' as " +
            s"${f.dataType.sql}; batch $batchId arrives with ${bt.sql}. " +
            "A retyped column cannot merge — migrate to a new table " +
            "(or cast the source) instead.")
      }
    }
    // payload columns ride inside the fold's max(struct(ts, event_id,
    // payload…)) — a non-orderable payload type (map, …) would blow up
    // DEEP in the fold with an error naming neither the column nor
    // this contract; refuse it here, by name, like a retype
    batch.schema.fields
      .filterNot(f => Set("user_id", "ts", "event_id")(f.name))
      .foreach(f => require(
        org.apache.spark.sql.catalyst.expressions.RowOrdering
          .isOrderable(f.dataType),
        s"CDC batch $batchId payload column '${f.name}' has " +
          s"non-orderable type ${f.dataType.sql}: latest-wins merges " +
          "payloads through max(struct(...)), which requires an " +
          "orderable type. Encode the column (e.g. to_json a map) " +
          "before the CDC sink."))
    val newFields = batch.schema.fields
      .filterNot(f => committedFields.exists(_.name == f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true)).toSeq
    if (committedFields.nonEmpty && newFields.nonEmpty)
      logger.warn(s"graft cdcMergeAndCommit: batch $batchId WIDENS the " +
        s"CDC table at $workDir with new column(s) " +
        newFields.map(f => s"'${f.name}' ${f.dataType.sql}").mkString(", ") +
        " — older keys carry NULL there until their next update.")
    val unionFields =
      committedFields.map(f => StructField(f.name, f.dataType,
        nullable = true)) ++ newFields
    // normalize to the cumulative schema so every generation written
    // from here on carries every committed column
    val normBatch = unionFields.foldLeft(batch)((df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType)))
    // --------------------------------------------------------------------

    val bucketOf = cdcBucketOf(buckets)
    val touched = normBatch.select(bucketOf.cast(IntegerType).as("_b"))
      .distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return false // empty batch: nothing to merge or commit
    val prev = touched.flatMap(prevMap.get).distinct.sorted match {
      case Array() => None
      // mergeSchema: touched buckets may span generations written
      // before and after a widening
      case paths   => Some(s.read.option("mergeSchema", "true")
        .parquet(paths.toIndexedSeq: _*))
    }
    val genDir = s"$workDir/gen$batchId"
    cdcFold(prev, normBatch)
      .withColumn("_bucket", bucketOf)
      .write.mode("overwrite").partitionBy("_bucket").parquet(genDir)

    val newMap = prevMap ++ touched.map(b => b -> s"$genDir/_bucket=$b")
    val fs = cdcFs(s, workDir)
    fs.mkdirs(new Path(s"$workDir/_commits"))
    val tmp = new Path(s"$workDir/_commits/.c$batchId.tmp")
    val out = fs.create(tmp, true)
    try out.write(cdcCommitBody(buckets, Some(StructType(unionFields)),
      newMap))
    finally out.close()
    val commit = new Path(s"$workDir/_commits/c$batchId")
    if (!fs.rename(tmp, commit)) {
      // the rename can only lose to a commit that already exists for
      // this batchId — under the single-writer contract that is a
      // duplicate attempt of THIS batch (zombie task / speculative
      // retry), whose commit is authoritative. Adopt it and drop our
      // orphaned temp file instead of leaving it behind.
      require(fs.exists(commit),
        s"could not commit CDC batch $batchId at $commit")
      fs.delete(tmp, false)
      ()
    }
    true
  }

  /** Delete keys from the maintained CDC table — the right-to-be-
    * forgotten arm of the st08 lifecycle, completing the
    * delete-everywhere story (signature registry:
    * [[deleteFromRegistry]]; vector indexes:
    * `Similarity.ivfDeleteIds`/`ivfPqDeleteIds`; keyed CDC state:
    * here). `keys`' FIRST column is the tombstone set (cast to the
    * table's own key type — the cast must precede the bucket hash,
    * xxhash64 is type-sensitive); only the buckets actually holding a
    * tombstoned key are read, anti-joined, and rewritten into a new
    * generation — per-delete cost is O(touched buckets), never
    * O(table), the same bound the merge path holds.
    *
    * The rewrite commits as a REVISION of the latest batch
    * (`c{N}r{R}`, see [[cdcCommitKeys]]): maintenance never occupies
    * the stream's batch-id space, so a resumed stream's next batch
    * N+1 is not swallowed and a replayed batch ≤ N still no-ops. The
    * following [[cdcGc]] deletes the displaced pre-delete bucket
    * partitions, so the tombstoned rows leave STORAGE, not just the
    * view — deletion a regulator would recognize. Run it AT REST
    * (same single-writer contract as the registry folds: the commit
    * log has one owner; a delete racing a live merge could lose its
    * revision to the merge's newer commit).
    */
  def cdcDeleteKeys(spark: org.apache.spark.sql.SparkSession,
                    workDir: String, keys: DataFrame): Unit =
    cdcRewriteCommit(spark, workDir, "cdcDeleteKeys")(
      { (buckets, map) =>
        val idType = spark.read.parquet(map.values.head)
          .schema("user_id").dataType
        val kCol = keys.columns.head
        val tomb = keys.select(graft.operators.Similarity.castTombstone(
          col(kCol), idType, "cdcDeleteKeys").as("user_id")).distinct()
        // metadata-sized: ≤ buckets rows, the cdcApplyBatch discipline
        val touched = tomb.select(
            cdcBucketOf(buckets)
              .cast(IntegerType).as("_b"))
          .distinct().collect().map(_.getInt(0)).toSeq
        (touched, df => df.join(broadcast(tomb), Seq("user_id"), "left_anti"))
      })

  /** Age keys out of the maintained CDC table by LAST-UPDATE time —
    * the TTL arm of the st08 lifecycle, the dd23 retention discipline
    * applied to the keyed store: every bucket is rewritten keeping
    * only keys whose latest merged update (`_m.ts`) satisfies
    * `_m.ts >= retainSince`, committed as a REVISION of the latest
    * batch (the [[cdcDeleteKeys]] pattern — maintenance never occupies
    * the stream's batch-id space, replayed batches still no-op) and
    * the displaced pre-retention partitions GC'd, so aged-out rows
    * leave STORAGE. An inactive key needs no tombstone bookkeeping:
    * its own last-update time is the provenance that ages it out, and
    * a key that becomes active again after aging out simply re-enters
    * through the next merge like a never-seen one (its update count
    * restarts — the table answers "state within the retention window",
    * not all-time history).
    *
    * `retainSince` is a Column so the caller controls the timestamp
    * semantics (e.g. `to_timestamp(lit("2024-01-10 00:00:00"))` rides
    * the session time zone; a java.sql.Timestamp literal would ride
    * the JVM default). A key whose merged `_m.ts` is NULL is KEPT, not
    * aged out: `NULL >= horizon` is never true, so a bare filter would
    * silently delete exactly the rows whose provenance is missing —
    * retention must never be the place where a malformed timestamp
    * turns into a silent deletion. Current merge sources always carry
    * a non-null ts, so the branch is latent; it exists because this is
    * public API.
    *
    * Unlike deletion — O(touched buckets) by nature — retention is a
    * FULL-TABLE fold (any bucket may hold stale keys), the same
    * honest O(store) cost as the registry's retention fold, amortized
    * the same way: run it on the maintenance cadence, never per
    * batch. Same at-rest/single-writer contract as cdcDeleteKeys.
    */
  def cdcRetention(spark: org.apache.spark.sql.SparkSession,
                   workDir: String, retainSince: Column): Unit =
    cdcRewriteCommit(spark, workDir, "cdcRetention")(
      (_, map) => (map.keys.toSeq, df => df.filter(
        col("_m.ts").isNull || col("_m.ts") >= retainSince)))

  /** The ONE bucket-rewrite + revision-commit core behind
    * [[cdcDeleteKeys]] and [[cdcRetention]]: `pick(buckets, map)`
    * returns the bucket ids to rewrite and the row-level transform;
    * the rewrite lands as generation `gen{N}r{R}`, buckets emptied by
    * the transform leave the commit map entirely (absent bucket = no
    * rows; a later merge touching one starts fresh, exactly like a
    * never-written one), the revision commit renames in atomically,
    * and [[cdcGc]] removes the displaced pre-rewrite partitions so
    * rows leave storage, not just the view.
    */
  private def cdcRewriteCommit(spark: org.apache.spark.sql.SparkSession,
                               workDir: String, what: String)
                              (pick: (Int, Map[Int, String]) =>
                                (Seq[Int], DataFrame => DataFrame)): Unit = {
    val fs = cdcFs(spark, workDir)
    val commits = cdcCommitKeys(fs, workDir)
    require(commits.nonEmpty, s"no committed CDC generation under $workDir")
    val latest = commits.head
    val (buckets, schema, map) = cdcParseCommit(fs, workDir, latest)
    if (map.isEmpty) return
    val (picked, transform) = pick(buckets, map)
    val touched = picked.filter(map.contains).distinct.sorted
    if (touched.isEmpty) return
    val bucketOf = cdcBucketOf(buckets)
    val genDir = s"$workDir/gen${latest._1}r${latest._2 + 1}"
    transform(
        spark.read.option("mergeSchema", "true")
          .parquet(touched.map(map).distinct.sorted.toIndexedSeq: _*))
      .withColumn("_bucket", bucketOf)
      .write.mode("overwrite").partitionBy("_bucket").parquet(genDir)
    val rewritten = touched.map(b => b -> s"$genDir/_bucket=$b")
      .filter { case (_, p) => fs.exists(new Path(p)) }
    val newMap = (map -- touched) ++ rewritten
    val commit = new Path(
      s"$workDir/_commits/${cdcCommitName((latest._1, latest._2 + 1))}")
    val tmp = new Path(s"$workDir/_commits/.${commit.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(cdcCommitBody(buckets, schema, newMap))
    finally out.close()
    if (!fs.rename(tmp, commit))
      sys.error(s"$what: could not commit $commit — the table " +
        "is unchanged (the previous commit remains authoritative)")
    cdcGc(fs, workDir)
  }

  /** [[cdcUpsertStream]] with the query lifecycle in the caller's hands
    * (tests drive batch boundaries by hand): returns the running query
    * and a thunk reading the current maintained table from storage.
    *
    * Concurrency contract (same as Spark's own file-sink commit log):
    *
    *  - SINGLE WRITER per `workDir` — one streaming query owns the
    *    commit log, exactly what the paired `checkpointLocation` under
    *    the same `workDir` already enforces for a well-behaved
    *    deployment. Two INDEPENDENT queries (separate checkpoints)
    *    pointed at one workDir would race generations with different
    *    contents; the rename-loses fallback only tolerates duplicate
    *    attempts of the SAME batch.
    *  - BOUNDED READER LAG — GC keeps the two newest commits, so a
    *    concurrent [[cdcTable]] reader may lag the writer by at most
    *    one committed batch before the paths it resolved can be
    *    deleted under it. Readers needing older snapshots must copy
    *    them out, not rely on the log.
    */
  def cdcUpsertQuery(updates: DataFrame, workDir: String)
      : (org.apache.spark.sql.streaming.StreamingQuery, () => DataFrame) = {
    val spark = updates.sparkSession
    val q = updates.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cdcApplyBatch(batch, batchId, workDir)
      }
      .option("checkpointLocation", s"$workDir/ckpt")
      .start()
    (q, () => cdcTable(spark, workDir))
  }

  def cdcUpsertStream(updates: DataFrame, workDir: String): DataFrame = {
    val (q, table) = cdcUpsertQuery(updates, workDir)
    try q.processAllAvailable() finally q.stop()
    table()
  }

  /** Key buckets of every CDC table; a table committed with another
    * count is refused at its next merge.
    */
  private val CdcBuckets = 8

  /** Streaming NEAR-dup ingestion screen — the
    * [[graft.operators.Dedup.incrementalNearDup]] registry lifecycle
    * run as a Structured Streaming job over the fixed `(doc_id, text)`
    * document columns and Dedup's MINHASH SHAPE: each micro-batch of
    * documents is screened against the MinHash signature registry built by all
    * PRIOR batches, its verdicts land under `workDir/verdicts/batch=N`,
    * and the batch's SURVIVORS' signatures append to the registry
    * (`workDir/registry/batch=N`) so every later batch sees them. The
    * streaming crawl-ingestion gate: a re-crawl of anything already
    * accepted — in any earlier batch — is flagged before it enters the
    * corpus.
    *
    * Exactly-once without a transactional store: both per-batch writes
    * are idempotent under the batch-id key (the verdict write
    * overwrites its path; the registry append first deletes this
    * batch's partition directory and refreshes the table), and the
    * registry read PRUNES to `batch < batchId` (a partition filter), so
    * a retry of batch N never sees its own partial signature output —
    * re-running N reproduces identical verdicts.
    *
    * Registry layout: PRE-BANDED rows (id, band, bucket, sig) in an
    * external parquet table partitioned by ingest batch and BUCKETED BY
    * (band, bucket) — the q42 zero-exchange machinery applied to the
    * join a crawl pipeline runs most often. Each micro-batch's
    * candidate join therefore co-locates on the registry's bucket
    * layout with no registry-side exchange (the r17b rehearsal measured
    * the re-band-per-batch alternative at a 207 MB registry shuffle PER
    * BATCH at 100×; PlanSpec pins the exchange-free shape, the r18
    * rehearsal the flat per-batch shuffle). Durability keys on the
    * FILESYSTEM, not the catalog: the registry's build params
    * (shingleN, numHashes, bands, regBuckets, idCol) persist in a params
    * file next to the data and are verified on every batch — a registry
    * built under a different MinHash shape fails loudly instead of
    * silently never colliding — and a resumed
    * APPLICATION (fresh in-memory catalog, surviving work tree)
    * re-registers the table on its existing location instead of
    * treating catalog loss as registry loss.
    */
  def nearDupScreenStream(docs: DataFrame, workDir: String,
                          compactEvery: Int = compactEveryDefault)
    : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.outputMode("append")
      .option("checkpointLocation", s"$workDir/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        screenBatch(batch, batchId, workDir, StreamRegBuckets, compactEvery)
      }.start()

  /** Registry buckets of [[nearDupScreenStream]]. */
  private val StreamRegBuckets = 32

  /** Deterministic catalog name for `workDir`'s registry table: stable
    * across query restarts over the same work tree (the table must be
    * found again), distinct across work trees sharing one session.
    */
  private[graft] def registryTable(workDir: String): String =
    "graft_neardup_reg_" + java.security.MessageDigest.getInstance("MD5")
      .digest(workDir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** Commit a small key=value file via write-tmp + rename (atomic on
    * HDFS, close enough locally): the registry's build params must
    * survive APPLICATION restarts — catalog entries die with an
    * in-memory-catalog app, the filesystem doesn't.
    */
  private def writeParamsFile(fs: FileSystem, p: Path,
                              params: Seq[(String, String)]): Unit = {
    val tmp = new Path(p.getParent, p.getName + ".tmp")
    TextFiles.writeParams(fs, tmp, params)
    fs.delete(p, false)
    if (!fs.rename(tmp, p)) sys.error(s"could not commit params file $p")
  }

  /** Re-create the catalog entry for a surviving registry data
    * directory — the application-restart path: the parquet (and the
    * params file) outlive the app, the in-memory catalog doesn't, so a
    * resumed stream must RE-REGISTER the table on its existing
    * location (bucket spec and all) and recover its partitions — never
    * treat catalog loss as registry loss.
    */
  private def registerRegistry(spark: org.apache.spark.sql.SparkSession,
                               table: String, path: String, idCol: String,
                               idType: String, buckets: Int): Unit = {
    // ingest_batch is a DATA column (the batch that first wrote the
    // row), distinct from the `batch` PARTITION key (re-keyed to the
    // fold id by compaction): retention folds age rows out by
    // ingest_batch, which survives every fold untouched. A registry
    // from the pre-ingest_batch era reads NULL here — the retention
    // filter coalesces to the partition key, which for never-folded
    // legacy rows IS the ingest batch and for folded ones is an upper
    // bound (conservative: keeps too long, never drops early).
    spark.sql(
      s"""CREATE TABLE $table (`$idCol` $idType, band INT, bucket BIGINT,
         |sig ARRAY<BIGINT>, ingest_batch BIGINT, batch BIGINT) USING parquet
         |PARTITIONED BY (batch)
         |CLUSTERED BY (band, bucket) SORTED BY (band, bucket)
         |INTO $buckets BUCKETS LOCATION '$path'""".stripMargin)
    // partition metadata is NOT inferred from the location — without
    // this the re-registered table reads zero rows, silently
    spark.catalog.recoverPartitions(table)
  }

  /** One micro-batch of [[nearDupScreenStream]] over the `(doc_id,
    * text)` columns of `batch`, against the registry under `workDir`
    * bucketed into `regBuckets`.
    */
  private[graft] def screenBatch(batch: DataFrame, batchId: Long,
                                 workDir: String, regBuckets: Int,
                                 compactEvery: Int = compactEveryDefault): Unit = {
    import graft.operators.Dedup
    val (idCol, textCol) = ("doc_id", "text")
    val spark = batch.sparkSession
    val regDir = s"$workDir/registry"
    val regTable = registryTable(workDir)
    val fs = new Path(regDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the id column is part of the config contract too: re-registering
    // a surviving registry under a RENAMED id column would declare a
    // column the parquet lacks — by-name resolution reads NULL ids,
    // dup_of nulls out, and every duplicate passes silently
    val params = Seq("shingleN" -> Dedup.ShingleN.toString,
      "numHashes" -> Dedup.NumHashes.toString, "bands" -> Dedup.Bands.toString,
      "regBuckets" -> regBuckets.toString, "idCol" -> idCol)
    val paramsPath = new Path(s"$workDir/registry_params")
    // the DATA DIRECTORY is the registry's source of truth: the
    // catalog entry and this session die with the application, the
    // parquet and the params file don't — so liveness keys on the
    // filesystem, and a live registry whose catalog entry is gone gets
    // RE-REGISTERED, never wiped
    // the screen is a registry WRITER, so it settles an interrupted
    // [[compactRegistry]] swap itself; a finished swap changed the
    // partitions under the catalog entry, which re-registers below
    if (Publish.recover(fs, new Path(regDir)))
      spark.sql(s"DROP TABLE IF EXISTS $regTable")
    val live = fs.exists(new Path(regDir))
    if (live) {
      // param contract (persisted at create, NEXT TO THE DATA): a
      // registry built under a different MinHash shape would band into
      // different buckets and simply never collide — duplicates passing
      // unflagged with zero errors — so fail loudly instead
      require(fs.exists(paramsPath),
        s"near-dup registry $regDir has no params file $paramsPath — " +
          "refusing to guess its MinHash config. If the registry was " +
          "built by THIS layout (pre-banded, bucketed, params-file " +
          "contract), recreate the params file " +
          "(k=v lines: shingleN/numHashes/bands/regBuckets/idCol); a " +
          "registry from the pre-banded era stores raw (id, sig) rows " +
          "and must be re-banded into this layout regardless — " +
          "writeBandedRegistry over its signatures, then write the " +
          "params file")
      val stored = TextFiles.readParams(fs, paramsPath)
      params.foreach { case (k, v) =>
        val got = stored.getOrElse(k, "<absent>")
        require(got == v,
          s"near-dup registry $regDir was built with $k=$got but this " +
            s"screen runs with $k=$v — mismatched MinHash configs " +
            "never collide (duplicates would pass unflagged); rebuild " +
            "the registry under the screen's shape")
      }
      if (!spark.catalog.tableExists(regTable))
        // declare the id column AS THE DATA HAS IT (one leaf-file
        // read) — the params check above already proved the caller's
        // idCol matches the registry's; an empty-but-live registry
        // (no data files yet) falls back to the caller's own schema,
        // which created it in the first place
        registryIdField(spark, fs, regDir) match {
          case Some(f) =>
            registerRegistry(spark, regTable, regDir, f.name,
              f.dataType.sql, regBuckets)
          case None =>
            registerRegistry(spark, regTable, regDir, idCol,
              batch.schema(idCol).dataType.sql, regBuckets)
        }
    }
    // online maintenance point: with the params verified and the table
    // registered, and BEFORE this batch reads the registry, fold the
    // accrued batch partitions when they pass the cadence — see
    // [[maybeCompactInStream]] for why this spot (and only this spot)
    // satisfies compactRegistry's at-rest contract mid-stream
    if (live && compactEvery > 0)
      maybeCompactInStream(spark, fs, workDir, regDir, regTable, batchId,
        compactEvery)
    // ONE shingle → MinHash → band pass per micro-batch (r20
    // optimization): the banded batch rows feed BOTH the screen join
    // and the survivors' registry append, so they are computed once
    // and pinned — the previous two-entry-point shape re-ran the whole
    // signature pipeline for the append (a second full batch pass
    // every micro-batch, at any scale). Signatures are value-
    // deterministic, so reusing the screened rows for the append is
    // byte-identical to re-deriving them from the survivors.
    val batchBanded = Dedup.bandedSignatures(Dedup.minHashSignatures(
        Dedup.shingles(batch, idCol, textCol, Dedup.ShingleN), idCol), idCol)
      .localCheckpoint()
    val verdicts =
      if (live) {
        // batch < batchId is a PARTITION filter: a retry of this batch
        // never reads its own (possibly partial) signature write. The
        // bucketed table scan keeps the registry side of the candidate
        // join exchange-free (PlanSpec pins the shape).
        val reg = spark.table(regTable).filter(col("batch") < batchId)
          .select(col(idCol), col("band"), col("bucket"), col("sig"))
        Dedup.incrementalNearDupPreBanded(batch, batchBanded, reg, idCol)
      } else {
        import spark.implicits._
        Dedup.incrementalNearDupPreBanded(batch, batchBanded,
          Seq.empty[(Long, Int, Long, Array[Long])]
            .toDF(idCol, "band", "bucket", "sig"), idCol)
      }
    verdicts.write.mode("overwrite")
      .parquet(s"$workDir/verdicts/batch=$batchId")
    // survivors' signatures append to the registry PRE-BANDED in the
    // bucketed layout every later batch joins against; the pre-write
    // repartition on the bucket key writes one file per (batch, bucket)
    val banded = batchBanded.join(
      spark.read.parquet(s"$workDir/verdicts/batch=$batchId")
        .filter(col("keep")).select(col(idCol)), Seq(idCol))
      .withColumn("ingest_batch", lit(batchId))
      .withColumn("batch", lit(batchId))
      .repartition(regBuckets, col("band"), col("bucket"))
    if (!live) {
      // fresh work tree: a catalog entry with this name can only be a
      // stale leftover pointing at a deleted location — drop it. The
      // params file commits BEFORE the data (a crash in between leaves
      // params-without-data, which the next attempt overwrites — the
      // reverse order would leave data guarded by nothing).
      spark.sql(s"DROP TABLE IF EXISTS $regTable")
      writeParamsFile(fs, paramsPath, params)
      banded.write.mode("overwrite")
        .option("path", regDir)
        .partitionBy("batch")
        .bucketBy(regBuckets, "band", "bucket")
        .sortBy("band", "bucket")
        .format("parquet")
        .saveAsTable(regTable)
    } else {
      // retry hygiene on the WRITE side: clear this batch's partition
      // directory and refresh the file index, then re-append — the
      // append is idempotent under the batch-id key
      val part = new Path(s"$regDir/batch=$batchId")
      if (fs.exists(part)) {
        fs.delete(part, true)
        spark.sql(s"REFRESH TABLE $regTable")
      }
      banded.write.mode("append")
        .partitionBy("batch")
        .bucketBy(regBuckets, "band", "bucket")
        .sortBy("band", "bucket")
        .format("parquet")
        .saveAsTable(regTable)
    }
  }

  /** ONLINE registry compaction — [[compactRegistry]] run from inside
    * the screen's own foreachBatch loop, where its at-rest contract
    * holds BY CONSTRUCTION instead of by operator discipline. The
    * commit-log reasoning (the st08 pattern, applied to the streaming
    * engine's own log rather than a bespoke one):
    *
    *  - SINGLE WRITER: foreachBatch is the only thing that ever
    *    touches the registry, and it is here, compacting — there is no
    *    concurrent batch to race.
    *  - EVERYTHING FOLDED IS COMMITTED: batch N's foreachBatch runs
    *    only after batch N−1's checkpoint commit, so every partition
    *    with batch < batchId is durable and will never be replayed;
    *    compactRegistry's own commits/ check then passes naturally.
    *    The one partition that may exist UNCOMMITTED is batch=batchId
    *    itself — a crashed earlier attempt of THIS batch — which is
    *    deleted first (the same retry hygiene the append side applies;
    *    folding it under a committed key would instead trip the commit
    *    check and wedge the stream).
    *  - REPLAY AFTER COMPACTION IS IDENTICAL: a replayed batch N reads
    *    `batch < N`, and compaction re-keys rows to max folded id
    *    (< N) without changing their content — same registry view,
    *    same verdicts; its retry hygiene deletes only batch=N, never
    *    the compacted partition.
    *
    * A crash MID-compaction needs no intervention either: the fold
    * publishes through [[graft.io.Publish]], and the resumed stream's
    * next batch settles the interrupted swap before it reads the
    * registry.
    *
    * Cost gate: one partition-directory listing per batch (pure
    * namenode metadata), the rewrite itself exactly once per
    * `compactEvery` batches in steady state (the trigger is
    * `nParts > compactEvery`, so the folded partition plus
    * compactEvery fresh appends arm the next fold); the registry
    * holds at most `compactEvery + 1` partitions, so listing and
    * per-bucket file counts stay O(compactEvery) forever instead of
    * O(stream age).
    */
  private def maybeCompactInStream(spark: org.apache.spark.sql.SparkSession,
                                   fs: FileSystem, workDir: String,
                                   regDir: String, regTable: String,
                                   batchId: Long, compactEvery: Int): Unit = {
    // a leftover partition for THIS batch is the only possibly-
    // uncommitted state — drop it before counting or folding
    val own = new Path(s"$regDir/batch=$batchId")
    if (fs.exists(own)) {
      fs.delete(own, true)
      spark.sql(s"REFRESH TABLE $regTable")
    }
    // STRICTLY greater: the folded partition itself counts toward
    // nParts, so `>=` would re-fold after only compactEvery−1 appends
    // (at compactEvery=2, EVERY batch — a full registry rewrite per
    // micro-batch, exactly the quadratic cost the cadence exists to
    // amortize). With `>`, a fold leaves 1 partition, compactEvery
    // appends grow it to compactEvery+1, and the next batch folds:
    // one rewrite per compactEvery batches, bound compactEvery+1.
    val nParts = fs.listStatus(new Path(regDir))
      .count(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
    if (nParts > compactEvery) {
      // the fold changes no verdicts, but it is a registry-sized
      // rewrite inside this batch's latency — same signal discipline
      // as the two-level auto-engage: learn it from the log, not from
      // a latency spike graph
      logger.warn(s"graft nearDupScreen: ONLINE registry compaction " +
        s"engaged at batch $batchId ($nParts partitions > " +
        s"compactEvery=$compactEvery): folding into one partition. " +
        "Tune the cadence with nearDupScreenStream(compactEvery = N); " +
        "0 disables (use at-rest compactRegistry instead).")
      compactRegistry(spark, workDir)
    }
  }

  /** Compact the near-dup signature registry's batch partitions into
    * ONE — out-of-band maintenance for a long-running screen: the
    * registry accrues a partition (and ≥1 file per bucket) per
    * micro-batch, so partition listing and per-bucket file counts grow
    * with BATCH COUNT while content grows only with survivors; a year
    * of 5-minute batches is ~100k partitions of mostly-tiny files.
    * Rewrites every row into a single partition keyed by the highest
    * compacted batch id — `batch < N` pruning sees exactly the same
    * survivor set afterwards — with one file per bucket, published over
    * the registry through [[graft.io.Publish]] (never in place: the
    * registry stays readable until the swap, and the next fold or
    * screen settles a crash before touching it).
    *
    * CONTRACT: everything folded must be COMMITTED. Two callers
    * satisfy it: [[maybeCompactInStream]] (the ONLINE arm — inside
    * foreachBatch, where batch ordering makes it hold by construction;
    * enable with `nearDupScreenStream(compactEvery = N)`), and
    * out-of-band maintenance run AT REST — stream stopped, no batch
    * mid-retry. A
    * replayed batch whose own signatures were folded into the
    * compacted partition (batch id = maxBatch ≥ its own) would read
    * them back and self-flag — or, worse, its retry hygiene would
    * delete the compacted partition, wiping the folded history. "At
    * rest" is not operator-observable (a stream can stop AFTER a
    * batch's writes but BEFORE its checkpoint commit), so when the
    * work tree carries a streaming checkpoint this function VERIFIES
    * it: the registry's max batch must be committed in `ckpt/commits/`
    * — a committed batch is never replayed, so everything folded in is
    * replay-safe. Same posture as any table maintenance job
    * (OPTIMIZE/VACUUM), with the contract enforced instead of assumed.
    */
  def compactRegistry(spark: org.apache.spark.sql.SparkSession,
                      workDir: String): Unit =
    foldRegistry(spark, workDir, "compactRegistry", (df, _) => df)

  /** [[compactRegistry]] with a RETENTION WINDOW — the TTL arm of the
    * registry lifecycle: during the fold it already performs, rows
    * whose `ingest_batch` (the batch that first wrote them — a data
    * column that survives every fold untouched, unlike the `batch`
    * partition key the fold re-keys) is below `retainIngestSince` are
    * dropped. A crawl pipeline screening against "the last N days of
    * signatures" calls this on the at-rest cadence with the horizon
    * batch id; docs whose only match has aged out stop being flagged
    * deterministically at the fold — no tombstone bookkeeping, the age
    * IS the row's own provenance. Same at-rest/commit contract, same
    * publish, same bucketed layout as the plain fold.
    * Pre-ingest_batch-era rows (NULL) fall back to their partition key
    * — exact for never-folded rows, conservative after a legacy fold.
    */
  def compactRegistry(spark: org.apache.spark.sql.SparkSession,
                      workDir: String, retainIngestSince: Long): Unit =
    foldRegistry(spark, workDir,
      s"compactRegistry(retainIngestSince=$retainIngestSince)",
      (df, _) => df.filter(
        coalesce(col("ingest_batch"), col("batch")) >= lit(retainIngestSince)))

  /** Delete signatures from the near-dup registry by document id — the
    * right-to-be-forgotten / license-revocation arm: fold the banded
    * registry MINUS the tombstoned ids through the same publish as
    * [[compactRegistry]], preserving the
    * bucketed (band, bucket) layout, the params contract, and the
    * zero-registry-exchange screen plan. After the fold a screen no
    * longer flags batch docs whose only match was a deleted registry
    * doc, and the superseded data directory is REMOVED at swap end (the
    * deleted signatures do not linger in a trash dir).
    *
    * `tombstones`' FIRST column is the id set (cast to the registry's
    * own id type); it is broadcast — the tombstone side is metadata-
    * sized by nature (a deletion request list, never a corpus), and the
    * broadcast keeps the registry side's scan exchange-free so the fold
    * pays exactly its rewrite, which doubles as a compaction (the
    * surviving rows land in ONE partition). Same at-rest/committed
    * contract as the plain fold: run it with the stream stopped (or let
    * a future online arm call it from inside foreachBatch).
    */
  def deleteFromRegistry(spark: org.apache.spark.sql.SparkSession,
                         workDir: String, tombstones: DataFrame): Unit = {
    val tCol = tombstones.columns.head
    foldRegistry(spark, workDir, "deleteFromRegistry",
      (df, idName) => df.join(
        broadcast(tombstones
          .select(graft.operators.Similarity.castTombstone(col(tCol),
            df.schema(idName).dataType, "deleteFromRegistry").as(idName))
          .distinct()),
        Seq(idName), "left_anti"))
  }

  /** The ONE fold core behind [[compactRegistry]] (both arms) and
    * [[deleteFromRegistry]]: rewrite the registry's batch partitions
    * into a single partition keyed by the highest folded batch id,
    * with `transform` (given the table and its id column name) applied
    * to the rows on the way — identity for plain compaction, a
    * retention filter, or a tombstone anti-join. The at-rest/committed
    * CONTRACT, the commit-log verification and the publish live exactly
    * once here.
    */
  private def foldRegistry(spark: org.apache.spark.sql.SparkSession,
                           workDir: String, what: String,
                           transform: (DataFrame, String) => DataFrame): Unit = {
    val regDir = s"$workDir/registry"
    val regTable = registryTable(workDir)
    val fs = new Path(regDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (Publish.recover(fs, new Path(regDir)))
      spark.sql(s"DROP TABLE IF EXISTS $regTable")
    require(fs.exists(new Path(regDir)), s"no registry at $regDir")
    val params = TextFiles.readParams(fs, new Path(s"$workDir/registry_params"))
    val regBuckets = params("regBuckets").toInt
    // id column name/type come from the data itself (first column of
    // the banded layout) — the one place they are always right. Read
    // from ONE leaf file: a full spark.read.parquet(regDir) listing
    // over the very many-partition directory this function exists to
    // fix would double its dominant metadata cost.
    val idField = registryIdField(spark, fs, regDir).getOrElse {
      // zero data files: nothing to compact (an all-duplicate or
      // all-short first batch leaves a live but empty registry)
      return
    }
    val (idColName, idType) = (idField.name, idField.dataType.sql)
    if (!spark.catalog.tableExists(regTable))
      registerRegistry(spark, regTable, regDir, idColName, idType,
        regBuckets)
    val maxRow = spark.table(regTable).agg(max(col("batch"))).head()
    if (maxRow.isNullAt(0)) return // registered but empty — no-op
    val maxBatch = maxRow.getLong(0)
    // replay-safety check (see CONTRACT): with a streaming checkpoint
    // present, the max folded batch must be COMMITTED — an uncommitted
    // batch will be replayed on resume, and its retry hygiene would
    // delete the compacted partition it now lives in
    if (fs.exists(new Path(s"$workDir/ckpt")))
      require(fs.exists(new Path(s"$workDir/ckpt/commits/$maxBatch")),
        s"registry holds batch $maxBatch but the stream checkpoint has " +
          "not committed it — a resumed stream would replay that batch " +
          "and wipe the compacted history; resume the stream to let the " +
          "commit land (or discard ckpt/ to start a fresh query) before " +
          "compacting")
    val cTable = regTable + "_c"
    Publish.replace(fs, new Path(regDir)) { next =>
      spark.sql(s"DROP TABLE IF EXISTS $cTable")
      // transform sees the table WITH its partition key (retention
      // reads it as the legacy ingest fallback); the fold then re-keys
      // every surviving row to the highest folded batch id
      transform(spark.table(regTable), idColName).drop("batch")
        .withColumn("batch", lit(maxBatch))
        .repartition(regBuckets, col("band"), col("bucket"))
        .write.mode("overwrite")
        .option("path", next.toString)
        .partitionBy("batch")
        .bucketBy(regBuckets, "band", "bucket")
        .sortBy("band", "bucket")
        .format("parquet")
        .saveAsTable(cTable)
      spark.sql(s"DROP TABLE IF EXISTS $cTable")
    }
    // the swap changed the partitions under the catalog entry
    spark.sql(s"DROP TABLE IF EXISTS $regTable")
    registerRegistry(spark, regTable, regDir, idColName, idType, regBuckets)
  }

  /** The id field (name + type) of a banded registry, read from ONE
    * leaf parquet file — never a full-directory listing. None when the
    * registry holds no data files yet.
    */
  private def registryIdField(spark: org.apache.spark.sql.SparkSession,
                              fs: FileSystem, regDir: String)
    : Option[org.apache.spark.sql.types.StructField] = {
    val leaf = fs.listStatus(new Path(regDir)).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .flatMap(d => fs.listStatus(d.getPath).iterator
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-")))
      .take(1).toSeq.headOption
    leaf.map(f =>
      spark.read.parquet(f.getPath.toString).schema.fields.head)
  }

  /** Streaming arm of the stale-vector-index + delta serving lifecycle
    * (the sim20/sim25 contracts): micro-batches of newly arrived
    * vectors append to a batch-keyed delta log that
    * [[graft.operators.Similarity.ivfSearchWithDelta]] serves against
    * the stale snapshot MID-STREAM (the delta arm scores appended rows
    * exactly, so a vector is searchable the moment its batch lands),
    * and [[ivfAbsorbLog]] / [[ivfPqAbsorbLog]] fold it into the
    * persisted index on the rebuild cadence, emptying the log;
    * [[deltaLogDeleteIds]] is the log's right-to-be-forgotten arm.
    * The log and every job over it use the fixed vector schema
    * `(vec_id, embedding)` documented on [[graft.operators.Similarity]].
    *
    * Exactly-once under retries, the st10 pattern: each batch's write
    * is overwrite-idempotent under its batch id, so a replayed batch
    * replaces its own (possibly partial) output and the log never
    * double-counts an append — a duplicated delta row would violate
    * ivfSearchWithDelta's disjointness contract and hold two result
    * slots.
    */
  def vectorDeltaStream(vectors: DataFrame, workDir: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream.outputMode("append")
      .option("checkpointLocation", s"$workDir/ckpt")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite")
          .parquet(s"$workDir/delta/batch=$batchId")
      }.start()

  /** The append log [[vectorDeltaStream]] maintains, as the one frame
    * `ivfSearchWithDelta` / `ivfAbsorbDelta` take: every vector landed
    * by any batch so far (batch key dropped — the log is a set of
    * appended rows; per-batch lineage lives in the directory layout).
    *
    * Refuses to read while a maintenance entry is interrupted — a
    * batch's [[deltaLogDeleteIds]] rewrite past its commit marker, or
    * an [[ivfAbsorbLog]] / [[ivfPqAbsorbLog]] whose batches sit under
    * `delta_absorbed`: rows are mid-move then, and a read would
    * silently serve a log that resurrects deleted vectors or drops
    * absorbed-but-not-yet-indexed ones. A read never settles anything
    * itself (it may be racing the writer); the next maintenance entry
    * over the work tree does.
    */
  def deltaLog(spark: org.apache.spark.sql.SparkSession,
               workDir: String): DataFrame = {
    val p = new Path(s"$workDir/delta")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stuck = Publish.leftovers(fs, p).filter(Publish.pending(fs, _)) ++
      Some(new Path(s"$workDir/delta_absorbed")).filter(fs.exists)
    require(stuck.isEmpty, s"deltaLog: interrupted maintenance left " +
      s"${stuck.mkString(", ")} mid-move; the next deltaLogDeleteIds, " +
      "ivfAbsorbLog or ivfPqAbsorbLog over this work tree settles it")
    spark.read.parquet(p.toString).drop("batch")
  }

  /** Settle what an interrupted maintenance entry left in the delta
    * log, before the next one reads it: each batch's interrupted
    * rewrite finishes or rolls back ([[Publish.recover]]), and an
    * interrupted absorb's parked batches are dropped when the live
    * index lists them in its `_absorbed_batches` manifest (its swap
    * happened) or moved back to delta/ when it does not.
    */
  private def settleDelta(spark: org.apache.spark.sql.SparkSession,
                          workDir: String): Unit = {
    val deltaDir = new Path(s"$workDir/delta")
    val fs = deltaDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Publish.leftovers(fs, deltaDir).foreach(Publish.recover(fs, _))
    // an absorb parks the batches it folds here until its index swap
    // is done; `_index` inside names that index
    val parked = new Path(s"$workDir/delta_absorbed")
    if (!fs.exists(parked)) return
    val record = new Path(parked, "_index")
    val indexed: Set[String] = if (!fs.exists(record)) Set.empty else {
      val index = new Path(TextFiles.read(fs, record))
      val ifs = index.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Publish.recover(ifs, index)
      val manifest = new Path(index, "_absorbed_batches")
      if (!ifs.exists(manifest)) Set.empty
      else TextFiles.read(ifs, manifest).linesIterator.map("batch=" + _).toSet
    }
    fs.listStatus(parked).map(_.getPath)
      .filter(b => b.getName.startsWith("batch=") && !indexed(b.getName))
      .foreach { b =>
        val back = new Path(deltaDir, b.getName)
        // the zero-row placeholder the absorb wrote may hold this id
        if (fs.exists(back) && !fs.delete(back, true))
          throw new java.io.IOException(s"could not delete $back")
        if (!fs.rename(b, back))
          throw new java.io.IOException(s"could not move $b back to $back")
      }
    if (!fs.delete(parked, true))
      throw new java.io.IOException(s"could not delete $parked")
  }

  /** Delete vectors from the streaming append log by id — the
    * right-to-be-forgotten arm of the st11 delta-log lifecycle,
    * closing the one hole the delete-everywhere story (registry
    * [[deleteFromRegistry]], vector indexes `Similarity.ivfDeleteIds`/
    * `ivfPqDeleteIds`, keyed CDC state [[cdcDeleteKeys]]) left open:
    * deleting an id from the PERSISTED index does nothing to a copy of
    * it still sitting in the not-yet-absorbed log, and
    * `ivfSearchWithDelta`'s delta arm scores every log row EXACTLY —
    * the deleted vector would keep coming back with recall 1.0. Delete
    * from the index and the log on the same cadence.
    *
    * Rewrites ONLY the batch directories that actually hold a
    * tombstoned id (one metadata-sized pass finds them — ≤ one row per
    * log batch, the [[cdcDeleteKeys]] bound), each published over its
    * batch through [[graft.io.Publish]]: never in place, so a crash
    * leaves each batch old or new — [[deltaLog]] refuses while one is
    * mid-swap and the next maintenance entry settles it — never a
    * silently half-deleted batch. Untouched batch directories keep
    * their files byte-for-byte; a fully-tombstoned batch keeps a
    * zero-row schema-bearing directory so the log stays readable.
    * Returns the rewritten batch ids.
    *
    * At-rest contract, the [[deleteFromRegistry]] rationale: deletion
    * requests arrive out-of-band (a compliance queue, not the vector
    * stream), so run with the stream stopped. With a checkpoint
    * present every TOUCHED batch must be committed — a resumed stream
    * replays an uncommitted batch and its whole-directory retry
    * overwrite would resurrect exactly the rows this function deleted.
    *
    * `tombstones`' first column holds the ids; they match the log's
    * fixed `vec_id` column (see [[vectorDeltaStream]]).
    */
  def deltaLogDeleteIds(spark: org.apache.spark.sql.SparkSession,
                        workDir: String, tombstones: DataFrame): Seq[Long] = {
    val deltaDir = s"$workDir/delta"
    val fs = new Path(deltaDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    settleDelta(spark, workDir)
    // an absent log, or one with zero batch directories (everything
    // absorbed), holds nothing to delete — and a parquet read over the
    // empty directory could not even infer a schema
    if (!fs.exists(new Path(deltaDir)) ||
        !fs.listStatus(new Path(deltaDir)).exists(st =>
          st.isDirectory && st.getPath.getName.startsWith("batch=")))
      return Nil
    val log = spark.read.parquet(deltaDir) // carries the batch key
    val tCol = tombstones.columns.head
    val tomb = tombstones.select(graft.operators.Similarity
        .castTombstone(col(tCol), log.schema(VecId).dataType,
          "deltaLogDeleteIds").as(VecId))
      .distinct()
    // metadata-sized driver set: ≤ one row per log batch (the
    // cdcDeleteKeys discipline), never the log rows themselves
    val touched = log.join(broadcast(tomb), Seq(VecId))
      .select(col("batch").cast(LongType)).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (touched.isEmpty) return Nil
    if (fs.exists(new Path(s"$workDir/ckpt"))) touched.foreach { b =>
      require(fs.exists(new Path(s"$workDir/ckpt/commits/$b")),
        s"delta batch $b holds tombstoned ids but the stream " +
          "checkpoint has not committed it — a resumed stream would " +
          "replay the batch and resurrect the deleted rows; resume " +
          "the stream to let the commit land (or discard ckpt/ to " +
          "start a fresh query) before deleting")
    }
    touched.foreach { b =>
      val live = s"$deltaDir/batch=$b"
      Publish.replace(fs, new Path(live)) { next =>
        deltaBatchSurvivors(spark, live, tomb).write.parquet(next.toString)
      }
    }
    touched
  }

  /** The per-batch rewrite frame of [[deltaLogDeleteIds]] — one batch
    * directory minus the broadcast tombstone set. Factored out so
    * PlanSpec pins the OPERATOR's plan (BroadcastHashJoin LeftAnti,
    * never a shuffle of the batch side — the sim27/sim28 contract on
    * the log's rewrite path).
    */
  private[graft] def deltaBatchSurvivors(
      spark: org.apache.spark.sql.SparkSession, batchDir: String,
      tomb: DataFrame): DataFrame =
    spark.read.parquet(batchDir)
      .join(broadcast(tomb), Seq(VecId), "left_anti")

  /** Fold the persisted delta log into the persisted [[graft.operators.
    * Similarity.IvfIndex]] at `indexPath` and GC the absorbed batch
    * directories — `ivfAbsorbDelta` run against the ON-DISK artifacts,
    * turning the st11 contract's prose ("absorb empties the log") into
    * an operator, exactly as dd21 did for the registry's "compact
    * eventually". One bounded pass over the DELTA (the quantizer never
    * retrains, the indexed corpus is never re-read), then a publish
    * of the new index over the old one and removal of the absorbed
    * `delta/batch=N` directories, so the log's remaining
    * bytes are exactly the rows the index does NOT yet hold — the
    * disjointness invariant `ivfSearchWithDelta` serves by. Returns
    * the absorbed batch ids (empty when the log held nothing). The log
    * rows carry the fixed `(vec_id, embedding)` schema (see
    * [[vectorDeltaStream]]).
    */
  def ivfAbsorbLog(spark: org.apache.spark.sql.SparkSession,
                   indexPath: String, workDir: String): Seq[Long] =
    absorbLogCore(spark, indexPath, workDir, "ivfAbsorbLog") {
      (delta, staging) =>
        graft.operators.Similarity.ivfAbsorbDelta(
            graft.operators.Similarity.ivfLoad(spark, indexPath), delta)
          .stage(staging)
    }

  /** [[ivfAbsorbLog]] on the production architecture: the log's rows
    * assign to the persisted coarse quantizer, their residuals encode
    * against the persisted codebook, and the integer codes append —
    * then the same index-directory swap and log GC. The caller's
    * re-rank corpus must include the absorbed rows afterwards (they
    * are indexed now; the raw-vector side lives outside the index by
    * the IvfPqIndex contract).
    */
  def ivfPqAbsorbLog(spark: org.apache.spark.sql.SparkSession,
                     indexPath: String, workDir: String): Seq[Long] =
    absorbLogCore(spark, indexPath, workDir, "ivfPqAbsorbLog") {
      (delta, staging) =>
        graft.operators.Similarity.ivfPqAbsorbDelta(
            graft.operators.Similarity.ivfPqLoad(spark, indexPath), delta)
          .stage(staging)
    }

  /** The ONE absorb-and-GC core behind [[ivfAbsorbLog]] and
    * [[ivfPqAbsorbLog]] — `absorbTo` reads the live index itself and
    * writes the absorbed one to the staging path it is given through
    * the index's own `stage` (the writer inside `save`'s publish, so
    * no publish nests in this one); the committed check, the publish,
    * and the log GC live exactly once here (the foldRegistry shape).
    *
    * Crash safety: the new index, with its `_absorbed_batches`
    * manifest inside, is staged by [[graft.io.Publish]]; still inside
    * the stage the absorbed batches move from delta/ to
    * `delta_absorbed` (which records the index path) and the
    * placeholder below lands. [[deltaLog]] refuses while
    * `delta_absorbed` exists, and the next maintenance entry settles it
    * from the live index's manifest: interrupted before the commit
    * marker, the old index stays and the batches go back to delta/;
    * from the marker on, the swap finishes and the batches go.
    *
    * The emptied log keeps one zero-row schema-bearing placeholder
    * directory (keyed by the highest absorbed batch id), so
    * [[deltaLog]] — and every serve composed over it — stays readable
    * between an absorb and the next append; a later absorb treats a
    * placeholder-only log as a no-op (zero rows fold nothing).
    *
    * At-rest/committed contract as [[deleteFromRegistry]]: stream
    * stopped, and with a checkpoint present the newest absorbed batch
    * must be committed (a replayed batch would re-append rows the
    * index now holds, breaking the disjointness contract).
    */
  private def absorbLogCore(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String, workDir: String,
                            what: String)
                           (absorbTo: (DataFrame, String) => Unit)
    : Seq[Long] = {
    val deltaDir = s"$workDir/delta"
    val fs = new Path(deltaDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    settleDelta(spark, workDir)
    val index = new Path(indexPath)
    val ifs = index.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(ifs.exists(index), s"no index at $indexPath")
    if (!fs.exists(new Path(deltaDir))) return Nil // no log yet: no-op
    val batches = fs.listStatus(new Path(deltaDir)).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .toSeq.sorted
    if (batches.isEmpty) return Nil
    // committed check on the NEWEST absorbed batch only: the engine
    // commits in batch order, so its commit implies every older one's
    if (fs.exists(new Path(s"$workDir/ckpt")))
      require(fs.exists(new Path(s"$workDir/ckpt/commits/${batches.max}")),
        s"delta batch ${batches.max} is not committed in the stream " +
          "checkpoint — a resumed stream would replay it and re-append " +
          "rows the absorbed index already holds; resume the stream to " +
          "let the commit land (or discard ckpt/) before absorbing")
    val delta = spark.read.parquet(
      batches.map(b => s"$deltaDir/batch=$b"): _*)
    // a log holding only the zero-row placeholder a previous absorb
    // left (or fully-tombstoned batches) has nothing to fold — a
    // rewrite of the whole index for zero rows would be all cost and
    // no state change. One limit-1 read, never a full delta pass.
    if (delta.isEmpty) return Nil
    val parked = new Path(s"$workDir/delta_absorbed")
    Publish.replace(ifs, index) { staging =>
      absorbTo(delta, staging.toString)
      // the manifest rides INSIDE the new index: it is what settles
      // an interrupted absorb (see settleDelta)
      TextFiles.write(ifs, new Path(staging, "_absorbed_batches"),
        batches.mkString("\n"))
      // sibling artifacts the save functions don't know about (e.g.
      // the cellstats drift baseline, which must KEEP describing the
      // BUILD's expectation — ivfDriftCheck prices drift against the
      // build, not against the absorbed state) carry over
      ifs.listStatus(index).map(_.getPath)
        .filterNot(a => ifs.exists(new Path(staging, a.getName)))
        .foreach(a => require(org.apache.hadoop.fs.FileUtil.copy(ifs, a, ifs,
          new Path(staging, a.getName), false, ifs.getConf),
          s"$what: could not carry $a into the new index"))
      TextFiles.write(fs, new Path(parked, "_index"), index.toString)
      batches.foreach { b =>
        if (!fs.rename(new Path(s"$deltaDir/batch=$b"),
            new Path(parked, s"batch=$b")))
          throw new java.io.IOException(
            s"$what: could not move $deltaDir/batch=$b to $parked")
      }
      // the zero-row schema-bearing placeholder (keyed by the highest
      // absorbed batch — committed, so a resumed stream never collides
      // with it) keeps deltaLog readable between an absorb and the
      // next append, exactly the guarantee the delete path's
      // fully-tombstoned rewrite provides. Built from the schema,
      // never the (already-moved) batch paths.
      spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), delta.schema)
        .write.mode("overwrite")
        .parquet(s"$deltaDir/batch=${batches.max}")
    }
    if (!fs.delete(parked, true))
      throw new java.io.IOException(s"$what: could not delete $parked")
    batches
  }

  /** Streaming exact dedup over a content hash: each distinct payload is
    * emitted once; duplicate arrivals within the watermark horizon are
    * dropped, and the hash leaves the state store once the watermark
    * passes it (bounded state — a plain `dropDuplicates` would pin every
    * hash ever seen). The 32-byte hash, not the document, is what sits
    * in state and what the equality check shuffles on — same shape as
    * the batch [[graft.operators.Dedup.byContentHash]].
    */
  def dedupStream(docs: DataFrame, tsCol: String,
                  contentCol: String): DataFrame =
    docs
      .withColumn("_h", sha2(col(contentCol), 256))
      .withWatermark(tsCol, EventsWatermark)
      .dropDuplicatesWithinWatermark("_h")
      .drop("_h")

  /** Stream-stream interval join: each click matched to the same user's
    * purchases landing within 30 minutes ([[MaxLagMinutes]]) AFTER it.
    * Both sides carry 30-minute watermarks and the join condition
    * bounds event-time distance in both directions, so each side's
    * buffered state is evictable — the only stream-stream join shape
    * that runs with finite state.
    */
  def clickToPurchase(events: DataFrame): DataFrame =
    clickPurchaseJoin(events, "inner")

  /** [[clickToPurchase]] as a LEFT OUTER stream-stream join — the
    * conversion-funnel variant that also emits every click that did
    * NOT convert, with null purchase columns. Matches emit as they
    * arrive (inner behavior); an unmatched click's null row emits only
    * once the watermark passes `click_ts + 30 minutes` — before that the
    * engine cannot know a match isn't still coming, which is why the
    * outer emission is inherently watermark-delayed (and why a gate
    * over a finite file stream can't pin it: the final clicks' outer
    * rows stay buffered forever without a further batch; the spec
    * drives the watermark explicitly instead).
    *
    * State is the same bounded two-sided buffer as the inner join —
    * rows older than watermark + lag are evicted, so state is
    * O(arrival rate × lag), never O(stream).
    */
  def clickToPurchaseOuter(events: DataFrame): DataFrame =
    clickPurchaseJoin(events, "leftOuter")

  /** Click-to-purchase window of [[clickToPurchase]], also each side's
    * watermark.
    */
  private val MaxLagMinutes = 30

  /** The one body of [[clickToPurchase]] / [[clickToPurchaseOuter]]:
    * watermarked click and purchase sides joined on user within the
    * `[click_ts, click_ts + MaxLagMinutes]` window under `joinType`.
    */
  private def clickPurchaseJoin(events: DataFrame,
                                joinType: String): DataFrame = {
    val watermark = s"$MaxLagMinutes minutes"
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") +
          expr(s"INTERVAL $MaxLagMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("click_id"), col("click_ts"),
        col("purchase_id"), col("purchase_ts"))
  }

  /** Stateful gap sessionization: per-user session state in the state
    * store, closed sessions emitted when a gap arrives in-stream or the
    * event-time timeout fires (watermark passed last event + gap).
    * Mirrors the batch `Sessionize.summarize` semantics. Events may
    * arrive up to 10 minutes late (the watermark).
    *
    * State tracks MICROSECONDS (the event-time precision Spark encodes),
    * not `Timestamp.getTime` milliseconds — ms truncation would silently
    * shift session bounds on µs-precision data and break agreement with
    * the batch formulation. Only the state-store timeout (a ms API)
    * rounds, and it rounds UP so a timeout can never fire before
    * `end + gap`.
    */
  def sessionize(events: Dataset[SessionEvent],
                 gapMinutes: Int): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L

    def micros(t: Timestamp): Long =
      t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def fromMicros(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def close(userId: Long, s: SState): SessionAgg =
      SessionAgg(userId, fromMicros(s.start), fromMicros(s.end), s.n, s.total)

    def fn(userId: Long, it: Iterator[SessionEvent],
           state: GroupState[SState]): Iterator[SessionAgg] = {
      if (state.hasTimedOut) {
        val out = state.getOption.map(close(userId, _)).iterator
        state.remove()
        out
      } else {
        val evs = it.toSeq.sortBy(e => micros(e.ts))
        var cur = state.getOption
        val closed = Seq.newBuilder[SessionAgg]
        evs.foreach { e =>
          val t = micros(e.ts)
          cur match {
            case Some(s) if t - s.end > gapUs =>
              closed += close(userId, s)
              cur = Some(SState(t, t, 1, e.value))
            case Some(s) =>
              cur = Some(SState(s.start, math.max(s.end, t), s.n + 1, s.total + e.value))
            case None =>
              cur = Some(SState(t, t, 1, e.value))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // ceil to ms: firing 1 ms late is harmless, 1 ms early would
          // close a session the batch semantics keep open
          state.setTimeoutTimestamp((s.end + gapUs + 999) / 1000)
        }
        closed.result().iterator
      }
    }

    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }
}
