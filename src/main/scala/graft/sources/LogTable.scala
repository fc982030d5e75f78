package graft.sources

import java.time.LocalDate

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.io.Publish
import graft.operators.LogEtl

/** Reader for the compacted log table — the engine-side replacement for
  * the reference's Athena external table with date partition projection
  * (example_sql/athena_create_table.sql:30-47, SURVEY.md §3 E3).
  *
  * The output layout is directory-per-date (`<root>/<bucket>/yyyy/MM/dd`
  * or Hive `year=/month=/day=`). Partition "projection" here means the
  * date range is expanded to concrete paths driver-side and only those
  * directories are ever listed/scanned — no full-table listing, which at
  * 100 TB (thousands of date dirs × buckets) is the difference between
  * a metadata lookup and an hour of S3 LIST calls.
  */
object LogTable {

  /** Expand the date range to existing per-day directories (missing days
    * are skipped — sparse history is normal for backfilled tables). A
    * missing day whose compaction was interrupted mid-publish refuses
    * instead: skipping it would silently drop a day that has output.
    */
  def dayPaths(spark: SparkSession, destRoot: String, bucketName: String,
               from: LocalDate, to: LocalDate,
               hiveLayout: Boolean = false): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Iterator.iterate(from)(_.plusDays(1))
      .takeWhile(!_.isAfter(to))
      .flatMap { d =>
        val p = new Path(LogEtl.destPath(destRoot, bucketName, d, hiveLayout))
        val fs = p.getFileSystem(conf)
        val present = fs.exists(p)
        require(present || !Publish.pending(fs, p), s"day $d of $bucketName " +
          s"is missing at $p mid-publish; re-run its compaction")
        if (present) Some(p.toString) else None
      }
      .toSeq
  }

  /** Read a date range of the compacted table: scans exactly the pruned
    * day directories, nothing else. The frame carries [[outputSchema]],
    * the schema [[ddl]] publishes, so building it opens no Parquet footer
    * and runs no Spark job, and a Hive-layout day adds no
    * `year`/`month`/`day` column.
    */
  def read(spark: SparkSession, destRoot: String, bucketName: String,
           from: LocalDate, to: LocalDate,
           hiveLayout: Boolean = false): DataFrame = {
    val paths = dayPaths(spark, destRoot, bucketName, from, to, hiveLayout)
    require(paths.nonEmpty,
      s"no compacted data for $bucketName in [$from, $to] under $destRoot")
    spark.read.schema(outputSchema).parquet(paths: _*)
  }

  private def hiveType(dt: DataType): String = dt match {
    case StringType    => "string"
    case IntegerType   => "int"
    case LongType      => "bigint"
    case TimestampType => "timestamp"
    case DoubleType    => "double"
    case BooleanType   => "boolean"
    case other => sys.error(s"no Hive DDL mapping for $other")
  }

  /** The compacted table's schema: the raw parse schema with the string
    * timestamp replaced by the parsed `request_time` timestamp at the
    * same position (S3AccessLog.OutputColumns order).
    */
  def outputSchema: StructType = StructType(
    S3AccessLog.RawSchema.fields.toSeq
      .updated(2, StructField("request_time", TimestampType)))

  /** Emit the consumer-side Athena DDL for the compacted table —
    * CREATE EXTERNAL TABLE with date partition projection, mirroring the
    * reference's published contract
    * (example_sql/athena_create_table.sql:2-47) but generated from the
    * engine's actual output schema, so a schema change can never desync
    * the table definition from the files.
    *
    * Partition projection (`projection.date.*`) is what lets Athena skip
    * `MSCK REPAIR` metadata scans: partitions resolve from the date range
    * template driver-side — the same pruning contract `dayPaths`
    * implements engine-side.
    */
  def ddl(tableName: String, location: String,
          projectionStart: String = "2020/01/01"): String = {
    val loc = location.stripSuffix("/")
    val cols = outputSchema.fields
      .map(f => s"  `${f.name}` ${hiveType(f.dataType)} COMMENT ''")
      .mkString(",\n")
    s"""CREATE EXTERNAL TABLE `$tableName`(
       |$cols)
       |PARTITIONED BY (
       |    date string
       |)
       |ROW FORMAT SERDE
       |  'org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe'
       |STORED AS INPUTFORMAT
       |  'org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat'
       |OUTPUTFORMAT
       |  'org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat'
       |LOCATION
       |  '$loc'
       |TBLPROPERTIES (
       |  "projection.enabled" = "true",
       |  "projection.date.type" = "date",
       |  "projection.date.range" = "$projectionStart,NOW",
       |  "projection.date.format" = "yyyy/MM/dd",
       |  "storage.location.template" = "$loc/$${date}/"
       |)""".stripMargin
  }
}
