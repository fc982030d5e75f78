package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-format sink/source roundtrips beyond the primary parquet path:
  * CSV (with header + explicit schema read-back), JSON lines, and ORC
  * must all carry a typed slice losslessly. Exact-typed columns only —
  * text formats can't round-trip binary doubles textually, so doubles
  * go through an explicit decimal cast, the same discipline the oracle
  * queries use.
  *
  * Avro: `spark.read.format("avro")` lives in the external spark-avro
  * module, which is not on this classpath and the build resolves no
  * new dependencies — so the engine ships its OWN container-file
  * sink/source ([[graft.sources.AvroFiles]]) on avro-core (Spark's
  * internal serialization dep, /opt/spark/jars/avro-1.12.1.jar),
  * round-tripped here including the logical types (date,
  * timestamp-micros, decimal) and verified against an INDEPENDENT
  * avro-core stream reader, not just its own read path.
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def slice() =
    Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(12,2)").as("qty"),
        col("l_returnflag"), col("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber")
      .limit(500)

  private def fingerprint(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("l_orderkey", "l_linenumber")
      .collect().map(_.mkString("|")).toSeq

  test("csv roundtrip: header + schema read-back is lossless") {
    val dir = SparkTestSession.tempDir("graft-csv").toString
    val d = slice()
    d.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").schema(d.schema).csv(dir)
    assert(fingerprint(back) == fingerprint(d))
  }

  test("json-lines roundtrip with schema is lossless") {
    val dir = SparkTestSession.tempDir("graft-json").toString
    val d = slice()
    d.write.mode("overwrite").json(dir)
    val back = spark.read.schema(d.schema).json(dir)
    assert(fingerprint(back) == fingerprint(d))
  }

  test("orc roundtrip preserves types without a schema hint") {
    val dir = SparkTestSession.tempDir("graft-orc").toString
    val d = slice()
    d.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assert(back.schema == d.schema)
    assert(fingerprint(back) == fingerprint(d))
  }

  test("avro roundtrip: types + logical types survive, independent reader agrees") {
    import graft.sources.AvroFiles
    val dir = SparkTestSession.tempDir("graft-avro").toString
    // widen the slice so every supported family is exercised:
    // long/int/decimal/string/date from the slice, plus timestamp,
    // double, boolean, binary, and a NULL-bearing column
    val d = slice()
      .withColumn("ts", to_timestamp(col("l_shipdate")))
      .withColumn("ratio", col("l_orderkey").cast("double") / 7.0)
      .withColumn("flag", col("l_linenumber") % 2 === 0)
      .withColumn("blob", encode(col("l_returnflag"), "UTF-8"))
      .withColumn("maybe",
        when(col("l_linenumber") % 3 === 0, col("l_orderkey")))
      .repartition(3)
    AvroFiles.write(d, dir)
    val back = AvroFiles.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      d.schema.map(f => (f.name, f.dataType)), back.schema.treeString)
    def fp(x: org.apache.spark.sql.DataFrame) = x
      .orderBy("l_orderkey", "l_linenumber")
      .collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq.toString
        case v => String.valueOf(v)
      }.mkString("|")).toSeq
    assert(fp(back) == fp(d))
    // INDEPENDENT read-back: a plain avro-core stream reader (no graft
    // code) must see the same row count and a typed decimal column
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro"))
    assert(files.length == 3, files.length.toString)
    var n = 0
    files.foreach { f =>
      val r = new org.apache.avro.file.DataFileReader[
          org.apache.avro.generic.GenericRecord](
        f, new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try {
        val qty = r.getSchema.getField("qty").schema()
        val dec = qty.getTypes.get(1).getLogicalType
          .asInstanceOf[org.apache.avro.LogicalTypes.Decimal]
        assert(dec.getPrecision == 12 && dec.getScale == 2)
        while (r.hasNext) { r.next(); n += 1 }
      } finally r.close()
    }
    assert(n == 500, n.toString)
    // overwrite-idempotence: re-writing the same dir with FEWER
    // partitions must not leave a stale part-00002 for read() to merge
    AvroFiles.write(d.limit(100).repartition(2), dir)
    assert(AvroFiles.read(spark, dir).count() == 100)
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".avro")) == 2)
    // partial consumption must not break the read (handles close via
    // the task-completion listener, not only on exhaustion)
    assert(AvroFiles.read(spark, dir).limit(7).collect().length == 7)
    // no attempt-temp residue: the commit renames every part into place
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".tmp")) == 0)
  }

  test("avro reader-schema projection: subset + reorder via Avro resolution") {
    import graft.sources.AvroFiles
    val dir = SparkTestSession.tempDir("graft-avro-proj").toString
    // a deliberately widened file: 10 columns, read back only 2
    val d = slice()
      .withColumn("ts", to_timestamp(col("l_shipdate")))
      .withColumn("ratio", col("l_orderkey").cast("double") / 7.0)
      .withColumn("flag", col("l_linenumber") % 2 === 0)
      .withColumn("blob", encode(col("l_returnflag"), "UTF-8"))
      .withColumn("maybe",
        when(col("l_linenumber") % 3 === 0, col("l_orderkey")))
      .repartition(2)
    assert(d.schema.length == 10, d.schema.treeString)
    AvroFiles.write(d, dir)
    // subset in NON-file order: resolution must reorder, not just drop
    val back = AvroFiles.read(spark, dir, Seq("qty", "l_orderkey"))
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      Seq("qty", "l_orderkey").map(c =>
        (c, d.schema(c).dataType)), back.schema.treeString)
    def fp(x: org.apache.spark.sql.DataFrame) = x
      .orderBy("l_orderkey", "qty").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSeq
    assert(fp(back) == fp(d.select("qty", "l_orderkey")))
    // unknown column fails loudly, listing what the file has
    val err = intercept[IllegalArgumentException] {
      AvroFiles.read(spark, dir, Seq("qty", "nope"))
    }
    assert(err.getMessage.contains("nope"), err.getMessage)
  }

  test("schema evolution: mergeSchema unions old and new parquet generations") {
    // the lake reality: a column added mid-stream — old files lack it,
    // new files carry it; one mergeSchema read serves both generations
    // with NULLs where history has no value
    val dir = SparkTestSession.tempDir("graft-evo").toString
    val d = slice()
    d.write.mode("overwrite").parquet(s"$dir/day=1")
    d.withColumn("quality_score",
        (col("l_orderkey") % 100).cast("double") / 100.0)
      .write.mode("overwrite").parquet(s"$dir/day=2")
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(back.schema.fieldNames.contains("quality_score"))
    assert(back.count() == 1000)
    val byDay = back.groupBy("day")
      .agg(org.apache.spark.sql.functions.count("quality_score").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byDay == Map(1 -> 0L, 2 -> 500L), byDay.toString) // old gen reads as NULL
  }
}
