package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Bucketed tables: pre-shuffled storage layout for repeated co-located
  * joins/aggregations. Writing both sides of a hot join bucketed (and
  * sorted) by the join key means every subsequent join runs with ZERO
  * exchanges — at 100 TB the difference between re-shuffling the fact
  * table on every query and never shuffling it again.
  *
  * (The reference has no table catalog at all — its idea of layout is
  * path templating. This is the engine-side generalization.)
  */
object Bucketing {

  /** Persist `df` as a bucketed, bucket-sorted EXTERNAL parquet table
    * rooted at `path` — never in the session's default warehouse
    * directory (the gate's Verify runs with whatever cwd the driver
    * chose).
    *
    * The pre-write `repartition` on the bucket key uses the SAME hash
    * (pmod(murmur3, n)) as bucket assignment, so every task holds
    * exactly one bucket and writes exactly one file — the invariant
    * that makes `spark.sql.legacy.bucketedTableScan.outputOrdering`
    * safe to enable (a multi-file bucket is only partially sorted, and
    * claiming order over it would corrupt merge joins). Reads see each
    * bucket already globally sorted, so downstream merge joins skip the
    * per-partition re-sort too.
    */
  def writeBucketedAt(df: DataFrame, table: String, bucketCol: String,
                      numBuckets: Int, path: String): Unit =
    writeBucketedAt(df, table, Seq(bucketCol), numBuckets, path)

  /** Multi-column variant: bucket (and bucket-sort) on a composite key —
    * e.g. the near-dup signature registry's (band, bucket) join key.
    * Joins keyed on ALL bucket columns read the table with zero
    * exchanges, exactly like the single-column form.
    */
  def writeBucketedAt(df: DataFrame, table: String, bucketCols: Seq[String],
                      numBuckets: Int, path: String): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    // DROP on an external table removes only metadata; Spark >= 3.2
    // refuses CTAS into a non-empty location, so a rerun against the
    // same path would throw. Clear the location first.
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    df.repartition(numBuckets, bucketCols.map(df.col): _*)
      .write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Maintenance-rewrite variant of [[writeBucketedAt]] for a frame
    * that is ALREADY one-partition-per-bucket — a bucketed scan of a
    * same-(cols, count) table narrowly transformed (filter, broadcast
    * anti-join): skips the pre-write repartition, because the exchange
    * writeBucketedAt needs to ESTABLISH the layout from arbitrary
    * input would here re-shuffle table-sized data that already holds
    * it. Spark's bucketed write does not demand a distribution — it
    * hashes rows into bucket files per task — so a task holding
    * exactly one bucket's rows writes exactly one file, preserving
    * the one-file-per-bucket invariant without any exchange (the
    * registry-deletion receipt: SCALE.md r20, 0.0 MB at every
    * decade). Caller contract: `df` derives from a scan bucketed by
    * the SAME `bucketCols` into the SAME `numBuckets` via narrow
    * transforms only — a frame that does not satisfy it still writes
    * correctly (the layout math is per-row), but multi-file buckets
    * forfeit the one-file sorted-scan invariant. `path` must not exist
    * yet: it is the staging path of a [[graft.io.Publish]] replace.
    */
  def rewriteBucketedAt(df: DataFrame, table: String,
                        bucketCols: Seq[String], numBuckets: Int,
                        path: String): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    df.sparkSession.sql(s"DROP TABLE IF EXISTS $table")
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .option("path", path)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
  }

  /** Re-register an EXTERNAL bucketed table over data that already
    * sits at `path` (after a maintenance publish moved it there):
    * plain DDL, no data touched. The bucket spec must match how the
    * files were written or reads would trust a layout that is not
    * there.
    */
  def registerBucketedAt(spark: SparkSession, table: String,
                         schemaDdl: String, bucketCols: Seq[String],
                         numBuckets: Int, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(
      s"""CREATE TABLE $table ($schemaDdl) USING PARQUET
         |CLUSTERED BY (${bucketCols.mkString(", ")})
         |SORTED BY (${bucketCols.mkString(", ")})
         |INTO $numBuckets BUCKETS
         |LOCATION '$path'""".stripMargin)
  }
}
