package graft.tools

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.io.Publish

/** The scale ladder: time any list of gates on N× replicas of a testdata
  * directory, one rung per factor, and write those replicas.
  *
  * A replica is itself a valid sf directory (one parquet file per table,
  * the source's schema), so every gate, `Verify` and
  * `local_oracle_check.py` run on it unchanged. Replica k of N:
  *  - dimension tables (region, nation, customer, supplier, part) are
  *    copied once, byte for byte;
  *  - every fact-table key is offset densely by k·(max+1) of its key
  *    domain, and a foreign key into a replicated table moves with it
  *    (`l_orderkey` follows `o_orderkey`); keys into dimensions stay;
  *  - `documents.text` prefixes every word with "k#" (k ≥ 1), so replicas
  *    share no shingles while each keeps the original's duplicate
  *    structure; `n_chars` is recomputed as `length(text)`;
  *  - each table is cast back to the source's schema and published
  *    through [[Publish.replace]], so a killed write leaves no table
  *    that a later run would take for a finished one. A table already
  *    published is reused.
  *
  * Spark refuses nanosecond parquet timestamps unless the legacy
  * nanos-as-long read is on (see `Tables.events`), so such a source
  * fails the write instead of being narrowed to microseconds.
  *
  * Per gate and rung the runner prints one markdown row: wall, rows
  * (`count()`, as Bench times), jobs, the share of wall outside every
  * job (driver gap, [[Profile.busyMs]]) and shuffle-write MB. Every gate
  * runs once untimed on the first rung first. The session's cores are
  * `SPARK_GRAFT_CPUS` (see [[GraftSession]]). A gate that fails is
  * printed with its error, the ladder goes on, and the run fails at the
  * end naming every failed (gate, rung).
  *
  * Usage: runMain graft.tools.Ladder <sfDir> <factors> [workDir [gates]]
  *   factors  comma-separated, e.g. 1,10 (1 is sfDir itself)
  *   workDir  where replicas go (default java.io.tmpdir/graft-ladder)
  *   gates    Verify's comma-separated name-substring filter; omitted,
  *            the replicas are written and their paths printed
  */
object Ladder {

  /** Copied once into every replica. */
  val Dimensions: Set[String] = Set("region", "nation", "customer", "supplier", "part")

  /** Fact-table key columns by key domain; all columns of one domain get
    * the same per-replica offset.
    */
  private val KeyDomains: Seq[Seq[(String, String)]] = Seq(
    Seq("orders" -> "o_orderkey", "lineitem" -> "l_orderkey"),
    Seq("events" -> "event_id"),
    Seq("documents" -> "doc_id"),
    Seq("embeddings" -> "vec_id"))

  /** The directory of the `factor`× replica of `sfDir` under `workDir`,
    * written (or completed) if needed; factor 1 is `sfDir` itself.
    */
  def replica(spark: SparkSession, sfDir: String, factor: Int, workDir: String): String = {
    require(factor >= 1, s"replica factor must be >= 1, got $factor")
    if (factor == 1) return sfDir
    val dir = new Path(workDir, s"${new Path(sfDir).getName}x$factor")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val spans = KeyDomains.flatMap { domain =>
      val span = domain.map { case (t, c) =>
        Tables.load(spark, sfDir, t).agg(max(col(c))).head().getLong(0) + 1
      }.max
      domain.map { case (_, c) => c -> span }
    }.toMap
    for (table <- Tables.all) {
      val target = new Path(dir, s"$table.parquet")
      Publish.recover(fs, target)
      if (!fs.exists(target)) Publish.replace(fs, target) { next =>
        if (Dimensions(table)) {
          val src = new Path(sfDir, s"$table.parquet")
          if (!FileUtil.copy(src.getFileSystem(fs.getConf), src, fs, next, false, fs.getConf))
            sys.error(s"could not copy $src to $next")
        } else writeOneFile(fs, replicated(spark, sfDir, table, factor, spans), next)
      }
    }
    dir.toString
  }

  /** `factor` copies of a fact table, keys offset and text prefixed per
    * replica, in the source's column order and types.
    */
  private def replicated(spark: SparkSession, sfDir: String, table: String,
                         factor: Int, spans: Map[String, Long]): DataFrame = {
    val src = Tables.load(spark, sfDir, table)
    (0 until factor).map { k =>
      val text = if (k == 0) col("text") else regexp_replace(col("text"), "(\\S+)", s"$k#$$1")
      src.select(src.schema.fields.toSeq.map { f =>
        val v = f.name match {
          case key if spans.contains(key) => col(key) + lit(k * spans(key))
          case "text" if table == "documents" => text
          case "n_chars" if table == "documents" => length(text)
          case other => col(other)
        }
        v.cast(f.dataType).as(f.name)
      }: _*)
    }.reduce(_ unionAll _)
  }

  /** Write `df` as the single parquet file `out`, through a hidden
    * `.parts` directory next to it.
    */
  private def writeOneFile(fs: FileSystem, df: DataFrame, out: Path): Unit = {
    val parts = new Path(out.getParent, s"${out.getName}.parts")
    df.coalesce(1).write.mode("overwrite").parquet(parts.toString)
    val files = fs.listStatus(parts).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    require(files.length == 1, s"expected one parquet file under $parts, found ${files.length}")
    if (!fs.rename(files.head, out)) sys.error(s"could not rename ${files.head} to $out")
    fs.delete(parts, true)
  }

  /** One timed run: (rows, wall s, jobs, driver-gap share, shuffle MB). */
  private def timed(rec: Profile.Recorder)(run: => Long): (Long, Double, Int, Double, Double) = {
    rec.reset()
    val t0 = System.nanoTime()
    val n = run
    val wallMs = (System.nanoTime() - t0) / 1e6
    val jobs = rec.jobs
    val gap = if (wallMs <= 0) 0.0 else math.max(0.0, 1 - Profile.busyMs(jobs) / wallMs)
    (n, wallMs / 1e3, jobs.size, gap, rec.stages.map(_.shuffleWriteBytes).sum / 1e6)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && args.length <= 4,
      "usage: Ladder <sfDir> <factors> [workDir [gates]]")
    val sfDir = args(0)
    val factors = args(1).split(",").toSeq.map(_.trim.toInt)
    val workDir = args.lift(2).getOrElse(
      new java.io.File(System.getProperty("java.io.tmpdir"), "graft-ladder").getPath)
    val only = args.lift(3).map(_.split(",").toSeq)
    val spark = GraftSession.builder().getOrCreate()
    val rungs = factors.map(f => f -> replica(spark, sfDir, f, workDir))
    rungs.foreach { case (f, dir) => println(s"[ladder] x$f = $dir") }
    val gates = only.toSeq.flatMap(names => SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => names.exists(name.contains) })
    require(only.isEmpty || gates.nonEmpty, s"no gate matches ${args(3)}")
    val rec = Profile.Recorder.attach(spark.sparkContext)
    val cpus = GraftSession.cpus
    var failures = List.empty[String]
    def attempt(gate: String, f: Int)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        println(s"[ladder] $gate x$f c$cpus FAILED: ${e.getMessage}")
        failures ::= s"$gate x$f"
      }
    for ((name, fn) <- gates) attempt(name, rungs.head._1)(fn(spark, rungs.head._2).count())
    if (gates.nonEmpty)
      println("[ladder] | gate | rung | cpus | wall s | rows | jobs | driver gap | shuffle MB |")
    for ((name, fn) <- gates; (f, dir) <- rungs) attempt(name, f) {
      val (n, wall, jobs, gap, mb) = timed(rec)(fn(spark, dir).count())
      println(f"[ladder] | $name | x$f | c$cpus | $wall%.2f | $n | $jobs | ${gap * 100}%.0f%% | $mb%.1f |")
    }
    spark.stop()
    if (failures.nonEmpty)
      sys.error(s"[ladder] failed at $sfDir: ${failures.reverse.distinct.mkString(", ")}")
  }
}
