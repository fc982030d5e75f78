package graft.tools

import org.apache.spark.sql.functions._

/** Microbenchmark: fused single-pass parse expression vs the 26×
  * RegExpExtract built-in formulation, over synthetic lines rendered
  * from lineitem.
  *
  * Usage: runMain graft.tools.ParseBench [sfDir] [reps]
  */
object ParseBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = graft.GraftSession.builder().getOrCreate()

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val lines = li.select(format_string(
      "owner%d bkt%d [%s +0000] 10.0.0.1 arn:aws:iam::1:r REQ%d " +
        "REST.GET.OBJECT key/%d \"GET /k HTTP/1.1\" %d - %d 1024 5 4 " +
        "\"-\" \"agent/1.0\" - host= SigV4 TLS_AES_128_GCM_SHA256 " +
        "AuthHeader h.example.com TLSv1.3 - -",
      col("l_orderkey"), col("l_suppkey") % 10,
      date_format(col("l_shipdate"), "dd/MMM/yyyy:HH:mm:ss"),
      col("l_orderkey") * 10 + col("l_linenumber"), col("l_partkey"),
      lit(200) + (col("l_linenumber") % 5), col("l_orderkey") % 100000)
      .as("value"))
    lines.write.mode("overwrite").parquet("/tmp/graft-parsebench-lines")
    val stored = spark.read.parquet("/tmp/graft-parsebench-lines")
    val n = stored.count()

    for (fused <- Seq(true, false); r <- 1 to reps) {
      val t0 = System.nanoTime()
      val parsed = graft.sources.S3AccessLog.parse(stored, fused = fused)
      // force full materialization of every parsed column
      val cnt = parsed.filter(col("error_line").isNull)
        .agg(sum(col("bytes_sent")), max(col("request_time")),
          count(col("user_agent"))).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[parsebench] fused=$fused run$r: $dt%.2f s (${n / dt / 1e3}%.0f k lines/s)")
    }
    spark.stop()
  }
}
