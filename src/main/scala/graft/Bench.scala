package graft

/** Driver-run benchmark: times every SparkEntry query at the configured
  * scale factor, one JSON line on stdout (BASELINE.md bench gate).
  * Queries run in sorted name order after an untimed warm-up query so
  * JVM/codegen/first-scan costs don't land on an arbitrary query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus).getOrCreate()
    // untimed warm-up of every query at the two smaller SFs:
    // janino-compiles each plan's codegen stages, primes the parquet
    // reader, and pushes hot helper methods (the line scanner) past the
    // C2 JIT threshold, so the timed runs measure steady-state execution.
    // a query's localCheckpoint/cache blocks must not outlive its
    // measurement: the iterative gates (graph rounds, BPE rounds, the
    // sim12 kNN reuse) pin blocks that would otherwise ACCUMULATE
    // across 185 queries × 2 warm-ups × 2 sweeps and squeeze the
    // unified memory every later query executes in — measured as a
    // growing in-session inflation concentrated on the families that
    // run last (r15: mm × ~4-5 in-bench vs flat in isolation)
    // blocking: the removal must COMPLETE in the inter-query gap —
    // async unpersist would push the eviction work into the next
    // query's timed window, the exact interference this exists to cut
    def dropBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    val warmDirs = sys.env.get("SPARK_GRAFT_WARMUP") match {
      case Some("none") => Nil
      case Some("small") => Seq("/root/testdata/sf0.001")
      case _ => Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    }
    for (warmDir <- warmDirs;
         (_, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try fn(spark, warmDir).count() catch { case _: Throwable => }
      dropBlocks()
    }
    // a crashing query must not masquerade as a fast one: its elapsed
    // time still counts toward the total AND it is named in "failed"
    // (with the error class) so the run is visibly broken.
    //
    // each query is timed in TWO full passes and the per-query min
    // reported: roughly 1 in 7 executions on this JVM hits a transient
    // deopt-to-interpreter mode (identical work burns 10-15x the CPU,
    // recovering shortly after — measured with graft.tools.Profile; not
    // GC, safepoints, or code-cache size) and the mode can span several
    // consecutive executions, so the two attempts are a full query-sweep
    // apart rather than back-to-back. min-of-passes reports steady-state
    // throughput instead of JIT roulette.
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
    def sweep(): Seq[(String, Double, Option[String])] = ordered.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val err = try { fn(spark, sfDir).count(); None }
                catch { case e: Throwable => Some(e.getClass.getSimpleName) }
      val elapsed = (System.nanoTime() - t0) / 1e9
      dropBlocks() // outside the timed window: hygiene, not query cost
      (name, elapsed, err)
    }
    // calibration probe for the ~1-in-7 JVM slow-mode (BENCH_NOTES.md):
    // a fixed pure-CPU mixing loop that takes ~40ms under C2 and many ×
    // that when the JVM is in its deopt/interpreter mode. Timed before
    // and after the sweeps and reported in the JSON, so an inflated run
    // is IDENTIFIABLE from its own artifact instead of looking like a
    // regression. (The mode spans whole runs, so min-of-passes can't
    // mask it; detection is the honest remedy.)
    def spin(): Long = {
      var h = 0x9e3779b97f4a7c15L; var i = 0
      while (i < 20000000) {
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 29; i += 1
      }
      h
    }
    def calibMs(): Double = {
      val t0 = System.nanoTime()
      if (spin() == 42L) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e6
    }
    // the parallel twin distinguishes the two observed noise modes: JVM
    // deopt inflates BOTH numbers; external host contention leaves the
    // single-thread loop healthy while the all-cores wall time (which is
    // what 32-thread query stages experience) inflates. Healthy: both
    // ≈ the single-thread figure.
    def calibParMs(): Double = {
      val t0 = System.nanoTime()
      val ts = (0 until cpus).map { _ =>
        val t = new Thread(() => { if (spin() == 42L) println("") })
        t.start(); t
      }
      ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e6
    }
    val (calibPre, calibParPre) = (calibMs(), calibParMs())
    val (p1, p2) = (sweep(), sweep())
    val (calibPost, calibParPost) = (calibMs(), calibParMs())
    val results = p1.zip(p2).map { case ((name, t1, e1), (_, t2, e2)) =>
      (name, math.min(t1, t2), e1.orElse(e2))
    }
    // the full per-query dict goes to ./bench_out.json (227 query names
    // alone are ~3.9 KB) and is printed once before spark.stop(); the
    // process's last stdout line is a compact totals-only summary, small
    // enough for a reader that keeps only the tail of the output
    def r3(v: Double): String =
      java.math.BigDecimal.valueOf(v)
        .setScale(3, java.math.RoundingMode.HALF_UP).toPlainString
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, Some(e)) => s""""$k":"$e"""" }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.map(_._2).sum else 0.0
    val calib = s""""calib_ms":[${r3(calibPre)},${r3(calibPost)}],"calib_par_ms":[${r3(calibParPre)},${r3(calibParPost)}],"sf":"$sfDir"}"""
    val json = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qs,"failed":$failed,$calib"""
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_out.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    spark.stop()
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n":${results.size},"failed":${results.count(_._3.isDefined)},$calib""")
  }
}
