package graft.sources

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro container-file sink/source built DIRECTLY on avro-core — the
  * engine's answer to the long-open "spark-avro is not on this
  * classpath" gap (`SinksSpec` documented it for two rounds; the
  * external module resolves nothing here, but avro-core and
  * avro-mapred ship with Spark itself as internal deps, reference
  * surface `/opt/spark/jars/avro-1.12.1.jar`). Covers the scalar
  * column types the engine's tables use — boolean/int/long/float/
  * double/string/binary/date/timestamp/decimal, each nullable — with
  * Avro logical types (`date`, `timestamp-micros`, `decimal`) so any
  * standard Avro reader sees typed values, not raw primitives.
  *
  * Scale shape: the WRITE is one `foreachPartition` pass — every
  * partition streams its rows through a `DataFileWriter` straight to
  * `part-NNNNN.avro` under the target directory, no driver
  * collection, no shuffle; the READ parallelizes the file list and
  * each task streams its file through `FsInput` (splittable-enough at
  * one-file-per-task granularity; a 100 TB deployment sizes files via
  * `df.coalesce(n)` before the write, the LogEtl discipline).
  *
  * Deliberate scope notes: the writer commits files directly (no
  * temporary-directory rename protocol — a failed job can leave
  * partial part files; re-running overwrites them), and task-side
  * filesystem access uses the path's own scheme with default Hadoop
  * configuration (file:/ and hdfs:// work as-is; object stores
  * needing credentials inject them via core-site.xml). Both match the
  * reference converter's overwrite-idempotent posture rather than a
  * transactional committer.
  */
object AvroFiles {

  /** Write `df` as Avro container files, one per partition.
    *
    * Each task attempt streams to an ATTEMPT-UNIQUE temp name
    * (`part-NNNNN.avro.<attemptId>.tmp`) and renames into place only
    * after its writer closes cleanly — so a speculative or retried
    * attempt can never interleave bytes with the original into one
    * corrupt container (two attempts each produce a complete file;
    * whichever rename lands last wins, and the loser's rename — dest
    * already present — just drops its own temp). Orphaned temps from
    * killed attempts are swept by the next overwrite.
    */
  def write(df: DataFrame, path: String,
            compression: String = "snappy"): Unit = {
    val sparkSchema = df.schema
    val avroSchemaJson = toAvroSchema(sparkSchema).toString
    val codec = compression
    val dir = new Path(path)
    val fs = dir.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // overwrite-idempotent like the parquet sink: a re-run with FEWER
    // partitions must not leave stale higher-numbered part files for
    // read() to silently merge in; stale .tmp orphans go with them
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.endsWith(".avro") || p.getName.endsWith(".tmp"))
      .foreach(p => fs.delete(p, false))
    df.foreachPartition { (rows: Iterator[Row]) =>
      val tc = TaskContext.get()
      val pid = tc.partitionId()
      val schema = new Schema.Parser().parse(avroSchemaJson)
      val file = new Path(path, f"part-$pid%05d.avro")
      val tmp = new Path(path, f"part-$pid%05d.avro.${tc.taskAttemptId()}%d.tmp")
      val tfs = tmp.getFileSystem(new Configuration())
      val out = tfs.create(tmp, true)
      val writer = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      writer.setCodec(CodecFactory.fromString(codec))
      writer.create(schema, out)
      var ok = false
      try {
        rows.foreach(r => writer.append(toRecord(r, sparkSchema, schema)))
        ok = true
      } finally {
        var closed = false
        try { writer.close(); closed = true }
        catch {
          // an append already failed: let ITS exception propagate —
          // a secondary close failure on the doomed stream would mask
          // the root cause
          case e: Throwable => if (ok) throw e
        }
        if (ok && closed) {
          // ANY-attempt-wins commit: each attempt renames its own
          // complete, identical container into place, so whichever
          // rename lands (LAST wins on RawLocalFileSystem, whose
          // rename delegates to POSIX File.renameTo and atomically
          // replaces an existing destination; HDFS rename instead
          // refuses one and the loser's temp is dropped below) the
          // destination is never a partial file, and there is no
          // window in which a killed attempt leaves the partition
          // with NO file (the delete-then-rename shape had one). A
          // lost rename with NO committed file is a real filesystem
          // error and must fail the task, not silently discard the
          // partition. Do NOT build on first-wins semantics here —
          // they do not hold on local FS.
          if (!tfs.rename(tmp, file)) {
            tfs.delete(tmp, false)
            if (!tfs.exists(file))
              sys.error(s"could not commit $tmp -> $file and no " +
                "sibling attempt committed it")
          }
        } else tfs.delete(tmp, false)
      }
    }
  }

  /** Read a directory of Avro container files back as a DataFrame.
    * The schema comes from the first file (all parts share one — the
    * write contract above); each task streams one file.
    *
    * `columns` (optional) selects a READER-SCHEMA projection: the
    * requested subset, in the requested order, is resolved against
    * each file's writer schema by Avro's own schema resolution —
    * skipped fields are never materialized into records (Avro's
    * ResolvingDecoder skips them in the decode stream), which is what
    * a consumer reading 2 of 40 columns off a wide interchange file
    * actually wants. Nil keeps the full file schema.
    */
  def read(spark: SparkSession, path: String,
           columns: Seq[String] = Nil): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    val fs = dir.getFileSystem(conf)
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".avro")).map(_.toString).sorted
    require(files.nonEmpty, s"no .avro files under $path")
    val first = new DataFileReader[GenericRecord](
      new FsInput(new Path(files.head), conf),
      new GenericDatumReader[GenericRecord]())
    val fileSchema = try first.getSchema finally first.close()
    val avroSchema =
      if (columns.isEmpty) fileSchema else project(fileSchema, columns)
    val sparkSchema = toSparkSchema(avroSchema)
    val avroJson = avroSchema.toString
    val rowRdd = spark.sparkContext
      .parallelize(files.toIndexedSeq, files.length)
      .flatMap { f =>
        val schema = new Schema.Parser().parse(avroJson)
        // (writer = null, reader = projected): DataFileReader supplies
        // each file's writer schema from its own header; the reader
        // schema stays the projection, so resolution — not this code —
        // drops and reorders fields
        val reader = new DataFileReader[GenericRecord](
          new FsInput(new Path(f), new Configuration()),
          new GenericDatumReader[GenericRecord](null, schema))
        // the stream must close on EVERY task exit — limit(), a
        // downstream exception, or a kill stop pulling before the
        // iterator drains, and an eager-close-on-exhaustion alone
        // would leak the file handle
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; reader.close() }
        Option(TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        new Iterator[Row] {
          def hasNext: Boolean =
            !closed && { val h = reader.hasNext; if (!h) closeOnce(); h }
          def next(): Row = toRow(reader.next(), schema)
        }
      }
    spark.createDataFrame(rowRdd, sparkSchema)
  }

  /** Reader-schema projection: the requested fields of `full`, in
    * request order, under the SAME record name/namespace (Avro schema
    * resolution matches records by full name — a renamed projection
    * would fail to resolve against the file's writer schema).
    */
  private[graft] def project(full: Schema, columns: Seq[String]): Schema = {
    val byName = full.getFields.asScala.map(f => f.name() -> f).toMap
    val missing = columns.filterNot(byName.contains)
    require(missing.isEmpty,
      s"columns not in the file schema: ${missing.mkString(", ")} " +
        s"(file has: ${full.getFields.asScala.map(_.name()).mkString(", ")})")
    require(columns.distinct.size == columns.size,
      s"duplicate columns requested: $columns")
    val fields = columns.map { c =>
      val f = byName(c)
      new Schema.Field(f.name(), f.schema(), f.doc(), f.defaultVal())
    }
    Schema.createRecord(full.getName, full.getDoc, full.getNamespace, false,
      fields.asJava)
  }

  // ---- schema mapping ---------------------------------------------------

  private[graft] def toAvroSchema(st: StructType): Schema = {
    val fields = st.fields.map { f =>
      val base = f.dataType match {
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
        case LongType => Schema.create(Schema.Type.LONG)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case StringType => Schema.create(Schema.Type.STRING)
        case BinaryType => Schema.create(Schema.Type.BYTES)
        case DateType =>
          LogicalTypes.date().addToSchema(Schema.create(Schema.Type.INT))
        case TimestampType => LogicalTypes.timestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
        case TimestampNTZType => LogicalTypes.localTimestampMicros()
          .addToSchema(Schema.create(Schema.Type.LONG))
        case d: DecimalType => LogicalTypes.decimal(d.precision, d.scale)
          .addToSchema(Schema.create(Schema.Type.BYTES))
        case other => throw new IllegalArgumentException(
          s"AvroFiles does not map ${other.typeName} (column ${f.name}); " +
            "project it to a supported scalar type first")
      }
      val sch = if (f.nullable)
        Schema.createUnion(Schema.create(Schema.Type.NULL), base)
      else base
      new Schema.Field(f.name, sch, null, null)
    }
    Schema.createRecord("graft_row", null, "graft.avro", false,
      fields.toIndexedSeq.asJava)
  }

  private[graft] def toSparkSchema(s: Schema): StructType =
    StructType(s.getFields.asScala.map { f =>
      val (base, nullable) = unwrap(f.schema())
      StructField(f.name(), toSparkType(base), nullable)
    }.toArray)

  private def unwrap(s: Schema): (Schema, Boolean) =
    if (s.getType == Schema.Type.UNION) {
      val nn = s.getTypes.asScala.filter(_.getType != Schema.Type.NULL)
      require(nn.size == 1, s"only [null, T] unions are supported: $s")
      (nn.head, true)
    } else (s, false)

  private def toSparkType(s: Schema): DataType = s.getLogicalType match {
    case _: LogicalTypes.Date => DateType
    case _: LogicalTypes.TimestampMicros => TimestampType
    case _: LogicalTypes.LocalTimestampMicros => TimestampNTZType
    case d: LogicalTypes.Decimal => DecimalType(d.getPrecision, d.getScale)
    case _ => s.getType match {
      case Schema.Type.BOOLEAN => BooleanType
      case Schema.Type.INT => IntegerType
      case Schema.Type.LONG => LongType
      case Schema.Type.FLOAT => FloatType
      case Schema.Type.DOUBLE => DoubleType
      case Schema.Type.STRING => StringType
      case Schema.Type.BYTES => BinaryType
      case other => throw new IllegalArgumentException(
        s"AvroFiles does not map Avro type $other")
    }
  }

  // ---- value mapping ----------------------------------------------------

  private def toRecord(row: Row, st: StructType,
                       avro: Schema): GenericRecord = {
    val rec = new GenericData.Record(avro)
    var i = 0
    while (i < st.length) {
      val v = if (row.isNullAt(i)) null else st.fields(i).dataType match {
        case ShortType => row.getShort(i).toInt
        case ByteType => row.getByte(i).toInt
        case DateType => row.getDate(i).toLocalDate.toEpochDay.toInt
        case TimestampType =>
          // Timestamp invariant: getTime = seconds·1000 + nanos/10⁶,
          // so rebuild micros from the integral-seconds floor plus the
          // full nano field (floorDiv keeps pre-epoch values exact)
          val t = row.getTimestamp(i)
          Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
        case TimestampNTZType =>
          val t = row.getAs[java.time.LocalDateTime](i)
          t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
            t.getNano / 1000
        case BinaryType => ByteBuffer.wrap(row.getAs[Array[Byte]](i))
        case _: DecimalType =>
          ByteBuffer.wrap(row.getDecimal(i).unscaledValue().toByteArray)
        case _ => row.get(i)
      }
      rec.put(i, v)
      i += 1
    }
    rec
  }

  private def toRow(rec: GenericRecord, schema: Schema): Row = {
    val vals = schema.getFields.asScala.map { f =>
      val (base, _) = unwrap(f.schema())
      val v = rec.get(f.pos())
      if (v == null) null
      else base.getLogicalType match {
        case _: LogicalTypes.Date =>
          java.sql.Date.valueOf(
            java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
        case _: LogicalTypes.TimestampMicros =>
          val micros = v.asInstanceOf[Long]
          val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
          ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
          ts
        case _: LogicalTypes.LocalTimestampMicros =>
          val micros = v.asInstanceOf[Long]
          java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(micros, 1000000L),
            (Math.floorMod(micros, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
        case d: LogicalTypes.Decimal =>
          val bb = v.asInstanceOf[ByteBuffer]
          val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
          new java.math.BigDecimal(new java.math.BigInteger(bytes), d.getScale)
        case _ => base.getType match {
          case Schema.Type.STRING => v.toString
          case Schema.Type.BYTES =>
            val bb = v.asInstanceOf[ByteBuffer]
            val bytes = new Array[Byte](bb.remaining()); bb.duplicate().get(bytes)
            bytes
          case _ => v
        }
      }
    }
    Row.fromSeq(vals.toIndexedSeq)
  }
}
