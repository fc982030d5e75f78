package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.LogEtl
import graft.sources.LogTable

/** One benchmark run in one JVM: set up a session several times, then time
  * the workload's operation in a closed loop with one client for the given
  * number of seconds. With --trace the loop attaches the tracer to every
  * other pair of operations instead. Writes raw measurements and everything
  * the correctness checks need to --out; run.py turns them into metrics.
  *
  * Only the program's public functions are timed: LogEtl.runBackfill,
  * LogEtl.parse, LogTable.read and, in the traced etl_compact run, the
  * pipeline operators in [[Gates]].
  */
object Harness {

  val Buckets = Seq("quiet-bucket", "busy-bucket")
  val QueryClasses = Seq("day_rollup", "hour_window", "request_lookup",
    "week_range", "dead_letter")
  private val dayFmt = DateTimeFormatter.ofPattern("yyyy/MM/dd")

  final case class Args(workload: String, input: String, work: String,
                        seconds: Double, trace: Boolean, out: String) {
    val cpus: Int = Runtime.getRuntime.availableProcessors
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val a = Args(m("workload"), m("input"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("out"))
    val out = new Json
    run(a, out)
    Files.write(Paths.get(a.out), out.render.getBytes(StandardCharsets.UTF_8))
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // LogEtlMain's commit settings: both workloads compact logs
      .config("spark.speculation", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def now(): Long = System.nanoTime()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Single-thread spin-probe times: the host's core speed around the
    * measured window. They are taken just before and just after the
    * window, each time after half a second of idle, so that work the
    * program leaves running between operations does not slow them.
    */
  val probeMs = mutable.ArrayBuffer.empty[Double]

  def probe(): Unit = {
    Thread.sleep(500)
    (0 until 5).foreach(_ => probeMs += Calib.single())
  }

  /** Closed loop: run `op` back to back until `seconds` have passed (at
    * least `minOps` times); returns each operation's seconds.
    */
  def loop(seconds: Double, minOps: Int)(op: Int => Unit): Seq[Double] = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val t0 = now()
    var i = 0
    while (i < minOps || secs(t0) < seconds) {
      val t = now(); op(i); lat += secs(t); i += 1
    }
    lat.toSeq
  }

  /** Of each kind of operation, occurrences 1 and 2 of every 4 are traced
    * (A B B A), so that traced and untraced operations of every kind share
    * the window and its drift.
    */
  def tracedOp(n: Int): Boolean = n % 4 == 1 || n % 4 == 2

  def run(a: Args, out: Json): Unit = {
    val calibPre = Calib.both(a.cpus)
    val w: Workload = a.workload match {
      case "etl_compact" => new EtlCompact(a)
      case "log_query" => new LogQuery(a)
      case other => sys.error(s"unknown workload $other")
    }
    var spark: SparkSession = null
    var tracer: Option[Tracer] = None
    val setups = (0 until w.setups).map { i =>
      if (spark != null) stop(spark)
      val t0 = now()
      spark = session(a)
      val start = secs(t0)
      // the last set-up of a traced run is traced, so that work done in
      // set-up (the compaction log_query reads) gets per-layer numbers
      if (a.trace && i == w.setups - 1) tracer = Some(new Tracer(spark).attach())
      val t1 = now()
      w.setUp(spark, tracer)
      Seq(start + secs(t1), start, secs(t1))
    }
    out.arr("setup_s", setups.map(_(0)))
    out.arr("session_start_s", setups.map(_(1)))
    out.arr("session_warmup_s", setups.map(_(2)))
    tracer.foreach { t => w.reportSetup(t, out); t.detach() }
    out.arr("settle_s", w.settle(spark))

    probe()
    tracer match {
      case None =>
        out.arr("op_s", loop(a.seconds, w.minOps)(i => w.op(spark, i, None)))
      case Some(t) =>
        val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
        val on = mutable.ArrayBuffer.empty[Boolean]
        val lat = loop(a.seconds, w.minOps.max(4)) { i =>
          val k = w.kind(i)
          on += tracedOp(seen(k)); seen(k) += 1
          if (on.last) { t.attach(); try w.op(spark, i, Some(t)) finally t.detach() }
          else w.op(spark, i, None)
        }
        val (traced, plain) = lat.zip(on).partition(_._2)
        out.arr("op_s", plain.map(_._1))
        out.arr("traced_op_s", traced.map(_._1))
    }
    probe()
    tracer.foreach { t => t.attach(); w.report(spark, t, out); t.detach() }
    w.check(spark, out)
    val calibPost = Calib.both(a.cpus)
    out.arr("calib_ms", Seq(calibPre._1, calibPost._1))
    out.arr("calib_par_ms", Seq(calibPre._2, calibPost._2))
    out.arr("probe_ms", probeMs.toSeq)
    out.num("peak_rss_mb", Calib.peakRssMb())
    stop(spark)
  }

  trait Workload {
    /** set-ups per run; the first is the cold JVM's */
    def setups: Int
    /** operations in the measured window, however long they take */
    def minOps: Int
    def setUp(spark: SparkSession, tracer: Option[Tracer]): Unit
    /** Untimed operations between the last set-up and the window, so that
      * the window sees the program at its steady speed; their seconds.
      */
    def settle(spark: SparkSession): Seq[Double] = Nil
    /** The timed operation: the i-th of the window. */
    def op(spark: SparkSession, i: Int, tracer: Option[Tracer]): Unit
    /** The i-th operation's kind, which the tracer samples evenly. */
    def kind(i: Int): String = ""
    def reportSetup(t: Tracer, out: Json): Unit = ()
    def report(spark: SparkSession, t: Tracer, out: Json): Unit
    def check(spark: SparkSession, out: Json): Unit
  }

  private def traced[T](t: Option[Tracer], name: String)(body: => T): T =
    t match {
      case Some(tr) => tr.span(name)(body)._1
      case None => body
    }

  private def days(from: LocalDate, n: Int): Seq[LocalDate] =
    (0 until n).map(i => from.plusDays(i.toLong))

  private def spansNamed(t: Tracer, prefix: String) =
    t.all.filter(_.name.startsWith(prefix))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-operation means of the write-layer counters over compaction spans. */
  private def writeCounters(t: Tracer, spans: Seq[Span], out: Json): Unit = {
    val n = spans.size.max(1).toDouble
    def per(k: String) = spans.map(s => t.total(s, k)).sum / n
    out.num("logetl.jobs", per("jobs"))
    out.num("logetl.shuffle_write_bytes", per("shuffle_write_bytes"))
    out.num("logetl.spill_bytes", per("spill_bytes"))
    out.num("logetl.gc_s", per("gc_s"))
    out.num("logetl.records_written", per("output_records"))
  }

  /** The paper's job: one backfill over 2 days x {quiet, busy} buckets. */
  final class EtlCompact(a: Args) extends Workload {
    val dayList = days(LocalDate.parse("2024-07-29"), 2)
    val dest = s"${a.work}/etl-out"
    val warm = s"${a.work}/etl-warm"
    val setups = 3
    val minOps = 3

    def backfill(spark: SparkSession, to: String, ds: Seq[LocalDate] = dayList): Unit =
      LogEtl.runBackfill(spark, a.input, to, Buckets, ds.head, ds.last, 10)

    /** Warm up on the first full-size input day, into a directory of its own. */
    def setUp(spark: SparkSession, tracer: Option[Tracer]): Unit =
      backfill(spark, warm, dayList.take(1))

    /** In a fresh session the JIT needs about five full backfills to
      * settle (one measured series: 6.5, 5.4, 4.6, 4.1, 3.8, 3.7, 3.6 s).
      * After the set-ups, four untimed ones bring the window's backfills
      * to within a few percent of steady.
      */
    override def settle(spark: SparkSession): Seq[Double] =
      (0 until 4).map { _ => val t = now(); backfill(spark, warm); secs(t) }

    def op(spark: SparkSession, i: Int, tracer: Option[Tracer]): Unit =
      traced(tracer, "op:backfill")(backfill(spark, dest))

    def report(spark: SparkSession, t: Tracer, out: Json): Unit = {
      // self-time split: scan alone, then scan + parse into a noop sink;
      // the full compaction's remainder is the write layer's
      for (b <- Buckets; d <- dayList) {
        val path = s"${a.input}/$b/${dayFmt.format(d)}"
        t.span(s"scan:$b") {
          spark.read.text(path).write.format("noop").mode("overwrite").save()
        }
        t.span(s"parse:$b") {
          LogEtl.parse(spark.read.text(path))
            .write.format("noop").mode("overwrite").save()
        }
      }
      val ops = spansNamed(t, "op:")
      val scan = spansNamed(t, "scan:")
      val parse = spansNamed(t, "parse:")
      def sum(ss: Seq[Span], k: String) = ss.map(t.total(_, k)).sum
      def wall(ss: Seq[Span]) = ss.map(_.wallS).sum
      val opWall = median(ops.map(_.wallS))
      out.num("sources.scan_s", wall(scan))
      out.num("sources.scan_tasks", sum(scan, "tasks"))
      out.num("sources.files_read", sum(scan, "files_read"))
      out.num("sources.bytes_read", sum(scan, "input_bytes"))
      out.num("sources.scan_driver_gap_s", scan.map(t.driverGapS).sum)
      out.num("sources.parse_self_s", wall(parse) - wall(scan))
      out.num("sources.parse_cpu_s", sum(parse, "cpu_s") - sum(scan, "cpu_s"))
      out.num("sources.lines_per_cpu_s",
        sum(parse, "input_records") / sum(parse, "cpu_s").max(1e-9))
      for (b <- Buckets; k = b.stripSuffix("-bucket")) {
        val sb = scan.filter(_.name == s"scan:$b")
        val pb = parse.filter(_.name == s"parse:$b")
        out.num(s"sources.$k.scan_s", wall(sb))
        out.num(s"sources.$k.parse_self_s", wall(pb) - wall(sb))
      }
      out.num("logetl.write_self_s", opWall - wall(parse))
      out.num("logetl.op_driver_gap_s", median(ops.map(t.driverGapS)))
      writeCounters(t, ops, out)
      Gates.run(spark, t, s"${a.input}/gates", a.work, out)
    }

    def check(spark: SparkSession, out: Json): Unit =
      out.obj("schema_ok", schemaOk(spark, dest, dayList))
  }

  /** For each compacted bucket-day: does its schema equal LogTable.outputSchema? */
  private def schemaOk(spark: SparkSession, dest: String,
                       ds: Seq[LocalDate]): Map[String, Any] =
    (for (b <- Buckets; d <- ds;
          p = LogEtl.destPath(dest, b, d, hiveLayout = false)
          if Files.exists(Paths.get(p))) yield {
      val got = spark.read.parquet(p).schema.fields.map(f => (f.name, f.dataType))
      s"$b/$d" -> (got.toSeq ==
        LogTable.outputSchema.fields.toSeq.map(f => (f.name, f.dataType)))
    }).toMap

  /** Athena-style consumer: seeded queries through LogTable.read against a
    * week x 2 buckets that set-up compacts with the code under test.
    */
  final class LogQuery(a: Args) extends Workload {
    val week = days(LocalDate.parse("2024-07-22"), 7)
    val dest = s"${a.work}/table"
    /** The client's query sequence: a header line of names, then one
      * query's parameters per line (gen.py writes it).
      */
    val queries: Seq[Map[String, String]] = {
      val lines = scala.io.Source.fromFile(s"${a.input}/queries.tsv").getLines().toSeq
      val names = lines.head.split("\t").toSeq
      lines.tail.map(l => names.zip(l.split("\t", -1)).toMap)
    }
    val results = mutable.ArrayBuffer.empty[(Int, Seq[Seq[Any]])]
    val tracedRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    // a set-up compacts the whole table (~30 s cold, ~8 s warm), so one
    // warm set-up follows the cold one
    val setups = 2
    val minOps = 1

    def setUp(spark: SparkSession, tracer: Option[Tracer]): Unit = {
      traced(tracer, "compact:week")(
        LogEtl.runBackfill(spark, a.input, dest, Buckets, week.head, week.last, 10))
      // warm every query class once
      QueryClasses.foreach(c => query(spark, queries.find(_("class") == c).get))
    }

    override def reportSetup(t: Tracer, out: Json): Unit =
      writeCounters(t, spansNamed(t, "compact:"), out)

    def query(spark: SparkSession, q: Map[String, String]): Seq[Seq[Any]] = {
      val b = q("bucket")
      val d = LocalDate.parse(q("day"))
      def day = LogTable.read(spark, dest, b, d, d)
      val df: DataFrame = q("class") match {
        case "day_rollup" => day
          .groupBy("operation", "http_status")
          .agg(count(lit(1)).as("n"), sum("bytes_sent").as("bytes"))
          .orderBy(col("operation").asc_nulls_first, col("http_status").asc_nulls_first)
        case "hour_window" =>
          val from = to_timestamp(lit(s"${q("day")} ${q("hour")}:00:00"))
          day.filter(col("request_time") >= from &&
              col("request_time") < from + expr("INTERVAL 1 HOUR") &&
              col("key").isNotNull)
            .groupBy("key")
            .agg(sum("bytes_sent").as("bytes"), count(lit(1)).as("n"))
            .orderBy(col("bytes").desc_nulls_last, col("key"))
            .limit(10)
        case "request_lookup" => day
          .filter(col("request_id") === q("request_id"))
          .select("request_id", "request_time", "operation", "key",
            "http_status", "bytes_sent")
          .orderBy("request_time", "operation", "key")
        case "week_range" =>
          LogTable.read(spark, dest, b, d, d.plusDays(6))
            .groupBy(to_date(col("request_time")).as("day"))
            .agg(count(lit(1)).as("n"), sum("bytes_sent").as("bytes"),
              count(col("error_line")).as("dead"))
            .orderBy(col("day").asc_nulls_first)
        case "dead_letter" => day
          .filter(col("error_line").isNotNull)
          .select("error_line")
          .orderBy("error_line")
      }
      df.collect().toSeq.map(_.toSeq)
    }

    override def kind(i: Int): String = queries(i % queries.size)("class")

    def op(spark: SparkSession, i: Int, tracer: Option[Tracer]): Unit = {
      val q = queries(i % queries.size)
      val rows = traced(tracer, s"q:${q("class")}")(query(spark, q))
      results += ((i % queries.size, rows))
      if (tracer.nonEmpty) tracedRows(q("class")) += rows.size
    }

    def report(spark: SparkSession, t: Tracer, out: Json): Unit = {
      val qs = spansNamed(t, "q:")
      for (c <- QueryClasses) {
        val cs = qs.filter(_.name == s"q:$c")
        out.num(s"logtable.$c.p50_ms", median(cs.map(_.wallS * 1e3)))
        // how well pruning works: records the scans read per result row
        out.num(s"logtable.$c.records_read_per_row_returned",
          cs.map(t.total(_, "input_records")).sum / tracedRows(c).max(1L))
      }
      out.num("logtable.driver_gap_frac",
        qs.map(t.driverGapS).sum / qs.map(_.wallS).sum.max(1e-9))
    }

    def check(spark: SparkSession, out: Json): Unit = {
      out.obj("schema_ok", schemaOk(spark, dest, week))
      val sb = new StringBuilder
      results.foreach { case (i, rows) => sb ++= s"$i\t${Json.rows(rows)}\n" }
      Files.write(Paths.get(s"${a.work}/query_results.tsv"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }
}

/** Bench's spin probe: a fixed pure-CPU loop, single thread and one per
  * core, timed before and after each run to identify noisy windows.
  */
object Calib {
  private def spin(): Long = {
    var h = 0x9e3779b97f4a7c15L; var i = 0
    while (i < 20000000) {
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 29; i += 1
    }
    h
  }

  def single(): Double = {
    val t0 = System.nanoTime()
    if (spin() == 42L) println("")
    (System.nanoTime() - t0) / 1e6
  }

  def both(cpus: Int): (Double, Double) = {
    val single = this.single()
    val t1 = System.nanoTime()
    val ts = (0 until cpus).map { _ =>
      val t = new Thread(() => { if (spin() == 42L) println("") }); t.start(); t
    }
    ts.foreach(_.join())
    (single, (System.nanoTime() - t1) / 1e6)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON writer for the harness's output file. */
final class Json {
  private val parts = mutable.ArrayBuffer.empty[String]
  private def q(s: String) = Json.quote(s)
  def num(k: String, v: Double): Unit = parts += s"${q(k)}:${Json.num(v)}"
  def arr(k: String, vs: Seq[Double]): Unit =
    parts += s"${q(k)}:${vs.map(Json.num).mkString("[", ",", "]")}"
  def obj(k: String, m: Map[String, Any]): Unit =
    parts += s"${q(k)}:${m.toSeq.sortBy(_._1).map { case (kk, v) =>
      s"${q(kk)}:${Json.value(v)}" }.mkString("{", ",", "}")}"
  def render: String = parts.mkString("{", ",\n", "}\n")
}

object Json {
  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case t: java.sql.Timestamp => quote(tsFmt.format(t.toInstant))
    case d: java.sql.Date => quote(d.toLocalDate.toString)
    case s: String => quote(s)
    case other => quote(other.toString)
  }

  def rows(rs: Seq[Seq[Any]]): String =
    rs.map(_.map(value).mkString("[", ",", "]")).mkString("[", ",", "]")
}
