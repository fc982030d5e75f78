package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.KernelTable.{Input, Row}

/** The timing side of [[KernelTable]]: each row's compiled kernel
  * against its twin on synthetic arrays of length 8, 64, 256 and 1024
  * (a fixed-shape row, `gateLen` 0, once), noop sink, 10 alternating
  * pairs per length.
  *
  * Usage: sbt "Test/runMain graft.KernelBench [name,name…]" — the
  * optional name substrings select rows. Session cores come from
  * `SPARK_GRAFT_CPUS` (else 4), like every other entry point.
  *
  * Inputs are generated once per (row, length), written under a per-run
  * temp dir (each input deleted after its row, the dir on exit), read
  * back and cached, so a timed run is a cached scan plus the expression.
  * The first sizing puts about 2^21 element operations (`Row.work`) in
  * the input; a warm-up pair then rescales the row count so the faster
  * side takes ≥ ~120 ms and the slower ≤ ~1.5 s.
  *
  * Prints one markdown row per (kernel, length): medians and quartiles
  * of both sides in ms, kernel rows/s, the kernel's win count, and
  * whether it PAYS there — wins ≥ 9 of 10 pairs AND the twin's median
  * exceeds the kernel's by more than the twin's interquartile range. The
  * verdict that counts is the one at the row's gate length (marked *).
  */
object KernelBench {
  val Lengths: Seq[Int] = Seq(8, 64, 256, 1024)
  val Pairs = 10
  private val ElementBudget = 1L << 21
  private val TargetMs = 120.0
  private val MaxMs = 1500.0
  private val MaxElements = 1L << 22

  final case class Stats(ms: Seq[Double]) {
    private val s = ms.sorted
    def q(p: Double): Double = {
      val h = (s.size - 1) * p
      val lo = h.floor.toInt
      s(lo) + (h - lo) * (s(h.ceil.toInt) - s(lo))
    }
    def median: Double = q(0.5)
    def iqr: Double = q(0.75) - q(0.25)
    def show: String = f"$median%.1f (${q(0.25)}%.1f-${q(0.75)}%.1f)"
  }

  /** wins ≥ 9 of 10 and the median gap beats the twin's IQR. */
  def pays(kernel: Stats, twin: Stats, wins: Int): Boolean =
    wins * 10 >= 9 * kernel.ms.size && twin.median - kernel.median > twin.iqr

  def main(args: Array[String]): Unit = {
    val only = args.headOption.map(_.split(",").toSeq)
    val spark = GraftSession.builder().getOrCreate()
    val tmp = java.nio.file.Files.createTempDirectory("graft-kernelbench")
    try {
      println(s"[kernelbench] ${java.time.LocalDate.now()} host cores " +
        s"${Runtime.getRuntime.availableProcessors()}, session " +
        s"local[${GraftSession.cpus}], Spark ${spark.version}, Java " +
        s"${System.getProperty("java.version")}, $Pairs alternating pairs, noop sink")
      println("| kernel | twin | L | rows | kernel ms p50 (q1-q3) | twin ms p50 (q1-q3) " +
        "| kernel rows/s | wins | pays |")
      println("|---|---|---|---|---|---|---|---|---|")
      for (r <- KernelTable.rows if only.forall(_.exists(r.name.contains));
           len <- if (r.gateLen == 0) Seq(0) else Lengths) {
        println(measure(spark, tmp, r, len))
        Console.flush()
      }
    } finally {
      org.apache.hadoop.fs.FileUtil.fullyDelete(tmp.toFile)
      spark.stop()
    }
  }

  private def timeMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  private def measure(spark: SparkSession, tmp: java.nio.file.Path, r: Row,
                      len: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory(tmp, s"${r.input}-$len-")
    val perRow = math.max(1L, r.work(len))
    var rows = math.max(8L, ElementBudget / perRow)
    var in = load(spark, dir, r.input, rows, len)
    def pair(): (Double, Double) = (timeMs(r.kernelRun(in)), timeMs(r.twinRun(in)))
    pair()
    val (k0, t0) = pair()
    val f = math.min(TargetMs / math.min(k0, t0), MaxMs / math.max(k0, t0))
    if (f > 1.5 || f < 0.67) {
      val cap = if (len > 0) MaxElements / len else MaxElements
      rows = math.max(8L, math.min((rows * f).toLong, cap))
      in.unpersist()
      in = load(spark, dir, r.input, rows, len)
      pair()
    }
    val times = (0 until Pairs).map { p =>
      if (p % 2 == 0) pair()
      else { val t = timeMs(r.twinRun(in)); (timeMs(r.kernelRun(in)), t) }
    }
    in.unpersist()
    org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
    val (k, t) = (Stats(times.map(_._1)), Stats(times.map(_._2)))
    val wins = times.count { case (a, b) => a < b }
    val lenCell = if (len == 0) "line" else if (len == r.gateLen) s"$len*" else s"$len"
    f"| ${r.name} | ${r.twin} | $lenCell | $rows | ${k.show} | ${t.show} | " +
      f"${rows / (k.median / 1e3)}%.3g | $wins/$Pairs | " +
      s"${if (pays(k, t, wins)) "yes" else "no"} |"
  }

  /** The row's input at `rows` × length `len`, materialized under `dir`
    * and cached.
    */
  private def load(spark: SparkSession, dir: java.nio.file.Path, input: Input,
                   rows: Long, len: Int): DataFrame = {
    val path = dir.resolve(s"rows-$rows").toString
    generate(spark, input, rows, len).write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path).cache()
    df.count()
    df
  }

  private def generate(spark: SparkSession, input: Input, rows: Long,
                       len: Int): DataFrame = {
    val base = spark.range(0, rows, 1, GraftSession.cpus * 2)
    def h(i: Column, salt: Int): Column = xxhash64(col("id"), i, lit(salt))
    def arr(n: Int)(f: Column => Column): Column =
      transform(sequence(lit(0), lit(n - 1)), f)
    def dbl(i: Column, salt: Int): Column =
      (pmod(h(i, salt), lit(2000000L)) - 1000000L).cast(DoubleType) / 1000.0
    def tok(i: Column): Column =
      concat(lit("w"), pmod(h(i, 1), lit(500L)).cast(StringType))
    input match {
      case Input.Pair =>
        base.select(arr(len)(dbl(_, 1)).as("a"), arr(len)(dbl(_, 2)).as("b"))
      case Input.Codes8 =>
        base.select(arr(len)(i => pmod(h(i, 1), lit(255L)) - 127L).as("a"),
          arr(len)(i => pmod(h(i, 2), lit(255L)) - 127L).as("b"))
      case Input.Words =>
        base.select(arr(len)(h(_, 1)).as("a"), arr(len)(h(_, 2)).as("b"))
      case Input.Sigs =>
        base.select(arr(len)(i => pmod(h(i, 1), lit(4L))).as("a"),
          arr(len)(i => when(pmod(h(i, 3), lit(2L)) === 0, pmod(h(i, 1), lit(4L)))
            .otherwise(pmod(h(i, 2), lit(4L)))).as("b"))
      case Input.Vec => base.select(arr(len)(dbl(_, 1).cast(FloatType)).as("v"))
      case Input.Toks => base.select(arr(len)(tok).as("t"))
      case Input.Sorted => base.select(array_sort(arr(len)(tok)).as("t"))
      case Input.Ids => base.select(arr(len)(i => pmod(h(i, 1), lit(1000000L))).as("ids"))
      case Input.Hashes => base.select(arr(len)(h(_, 1)).as("hs"))
      case Input.Codebook =>
        base.select(
          arr(len)(c => struct(c.cast(LongType).as("_code"),
            arr(4)(d => dbl(c * 4 + d, 1)).as("cvec"))).as("codes"),
          arr(4)(dbl(_, 2)).as("v"))
      case Input.S3Lines =>
        base.select(format_string(
          "owner%d bkt%d [%s +0000] 10.0.0.1 arn:aws:iam::1:r REQ%d " +
            "REST.GET.OBJECT key/%d \"GET /k HTTP/1.1\" %d - %d 1024 5 4 " +
            "\"-\" \"agent/1.0\" - host= SigV4 TLS_AES_128_GCM_SHA256 " +
            "AuthHeader h.example.com TLSv1.3 - -",
          col("id") % 1000, col("id") % 10,
          date_format(timestamp_seconds(lit(1722297600L) + col("id") % 86400),
            "dd/MMM/yyyy:HH:mm:ss"),
          col("id"), col("id") % 100000, lit(200) + col("id") % 5,
          col("id") % 100000).as("value"))
      case Input.AlbLines =>
        // the 25-token ALB sample line, cut or padded to `len` tokens
        // (every fourth pad token quoted)
        val sample = Seq("http", "2018-07-02T22:23:00.186641Z", "app/lb/1",
          "10.0.0.9:%d", "10.0.0.1:80", "0.000", "0.001", "0.000", "200", "200",
          "34", "366", "\"GET http://e/ HTTP/1.1\"", "\"ua x\"", "-", "-",
          "arn:tg", "\"Root=1-x\"", "\"-\"", "\"-\"", "0",
          "2018-07-02T22:22:48.364000Z", "\"forward\"", "\"-\"", "\"-\"")
        val toks = (sample ++ (sample.size until len).map(i =>
          if (i % 4 == 0) s"\"q $i\"" else s"t$i")).take(len)
        base.select(format_string(toks.mkString(" "), col("id") % 65536).as("value"))
    }
  }
}
