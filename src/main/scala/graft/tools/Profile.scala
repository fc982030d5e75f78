package graft.tools

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.graft.bridge

import graft.{GraftSession, SparkEntry}

/** Per-query profile of one SparkEntry query: after the bench's warm-up
  * (every query at sf0.001 and sf0.01), time N runs and print for each
  * its wall and row count, its jobs, stages and tasks, the wall spent
  * inside jobs against the driver gaps between them (planning,
  * checkpoint bookkeeping, AQE re-optimization), and its executor
  * task-time sum; then the last run's stages by task time, each with
  * its longest task and the `graft.` frames that submitted it.
  *
  *   --runs N       profiled runs (default 3), followed by one summary
  *                  line: median, IQR and min of wall, inJob and
  *                  driverGap over the N runs
  *   --after a,b    run these queries once first, to see what in-session
  *                  state (cached blocks, checkpoints, codegen cache)
  *                  they leave costs the profiled query
  *   --explain      print the final adaptive plan after the runs, in
  *                  `explain("formatted")` form (operator tree, then
  *                  each operator's details)
  *
  * Usage: runMain graft.tools.Profile <query> [sfDir] [--runs N] [--after a,b] [--explain]
  */
object Profile {

  /** Stages listed for the last run, by task time. */
  val TopStages = 30

  /** One completed stage attempt. `taskMs` is the executor run-time sum. */
  final case class Stage(id: Int, tasks: Int, taskMs: Long, maxTaskMs: Long,
                         shuffleWriteBytes: Long, name: String, site: String)

  /** Job spans and completed stages since the last `reset()`. Listener
    * events arrive asynchronously; both readers drain the bus first, so
    * everything the caller's finished actions caused is included.
    */
  final class Recorder private (sc: SparkContext) extends SparkListener {
    private val jobStarts = mutable.Map[Int, Long]()
    private val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
    private val maxTask = mutable.Map[(Int, Int), Long]()
    private val done = mutable.ArrayBuffer[Stage]()

    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobStarts(j.jobId) = j.time }

    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(j.jobId).foreach(t0 => jobSpans += (t0 -> j.time))
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val k = (t.stageId, t.stageAttemptId)
      maxTask(k) = math.max(maxTask.getOrElse(k, 0L), t.taskInfo.duration)
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val i = s.stageInfo
      val m = Option(i.taskMetrics)
      // the stage name of anything inside a foreachBatch or an AQE
      // re-plan is an opaque call site; the graft frames of the
      // submission stack name the operator
      val site = i.details.linesIterator
        .filter(l => l.contains("graft.") && !l.contains("graft.tools."))
        .take(3).map(_.trim).mkString(" <- ")
      done += Stage(i.stageId, i.numTasks, m.fold(0L)(_.executorRunTime),
        maxTask.remove((i.stageId, i.attemptNumber())).getOrElse(0L),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten), i.name, site)
    }

    def reset(): Unit = {
      bridge.drainListeners(sc)
      synchronized { jobStarts.clear(); jobSpans.clear(); maxTask.clear(); done.clear() }
    }

    /** (submitted, completed) epoch ms of every finished job. */
    def jobs: Seq[(Long, Long)] = { bridge.drainListeners(sc); synchronized(jobSpans.toSeq) }

    def stages: Seq[Stage] = { bridge.drainListeners(sc); synchronized(done.toSeq) }
  }

  object Recorder {
    def attach(sc: SparkContext): Recorder = {
      val r = new Recorder(sc)
      sc.addSparkListener(r)
      r
    }
  }

  /** Wall time covered by at least one job: the length of the union of
    * the spans, so overlapping and nested jobs count once. The rest of
    * a run's wall is driver gap.
    */
  def busyMs(spans: Seq[(Long, Long)]): Long =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((busy, cursor), (s, e)) =>
        if (e <= cursor) (busy, cursor) else (busy + e - math.max(s, cursor), e)
    }._1

  /** (median, interquartile range, min) of `xs`; quartiles interpolate
    * linearly between order statistics (numpy's default).
    */
  def spread(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "spread of no values")
    val s = xs.sorted.toIndexedSeq
    def q(p: Double): Double = {
      val x = p * (s.size - 1)
      val i = x.toInt
      if (i + 1 < s.size) s(i) + (x - i) * (s(i + 1) - s(i)) else s(i)
    }
    (q(0.5), q(0.75) - q(0.25), s.head)
  }

  def main(args: Array[String]): Unit = {
    var pos = Vector.empty[String]
    var runs = 3
    var after = Seq.empty[String]
    var explain = false
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--runs" => runs = it.next().toInt
      case "--after" => after = it.next().split(",").toSeq
      case "--explain" => explain = true
      case f if f.startsWith("--") => sys.error(s"unknown flag $f")
      case p => pos :+= p
    }
    require(pos.nonEmpty && pos.size <= 2,
      "usage: Profile <query> [sfDir] [--runs N] [--after a,b] [--explain]")
    val name = pos(0)
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    def query(q: String) = SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
    val fn = query(name)
    after.foreach(query)

    val spark = GraftSession.builder().getOrCreate()
    val rec = Recorder.attach(spark.sparkContext)
    def timed(f: => Long): (Long, Double) = {
      val t0 = System.nanoTime()
      val n = f
      (n, (System.nanoTime() - t0) / 1e9)
    }
    for (warmDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01"))
      fn(spark, warmDir).count()
    after.foreach { a =>
      val (n, wall) = timed(query(a)(spark, sfDir).count())
      println(f"[profile] after $a: wall=$wall%.2fs rows=$n")
    }
    val samples = (1 to runs).map { i =>
      rec.reset()
      val (n, wall) = timed(fn(spark, sfDir).count())
      val jobs = rec.jobs
      val stages = rec.stages
      val inJob = busyMs(jobs) / 1e3
      println(f"[profile] $name run$i: wall=$wall%.2fs rows=$n jobs=${jobs.size} " +
        f"stages=${stages.size} tasks=${stages.map(_.tasks).sum} " +
        f"inJob=$inJob%.2fs driverGap=${wall - inJob}%.2fs " +
        f"taskTime=${stages.map(_.taskMs).sum / 1e3}%.2fs")
      (wall, inJob, wall - inJob)
    }
    if (samples.nonEmpty) {
      def line(xs: Seq[Double]) = {
        val (med, iqr, lo) = spread(xs)
        f"median=$med%.2fs iqr=$iqr%.2fs min=$lo%.2fs"
      }
      println(s"[profile] $name summary: runs=$runs " +
        s"wall ${line(samples.map(_._1))} inJob ${line(samples.map(_._2))} " +
        s"driverGap ${line(samples.map(_._3))}")
    }
    rec.stages.sortBy(-_.taskMs).take(TopStages).foreach { s =>
      println(f"[profile]   stage ${s.id}%4d ${s.taskMs}%8d ms ${s.tasks}%4d tasks " +
        f"max ${s.maxTaskMs}%6d ms  ${s.name.take(60)} | ${s.site}")
    }
    if (explain) {
      // collect() runs this Dataset's own plan, so AQE finalizes it
      val df = fn(spark, sfDir)
      df.collect()
      println(df.queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
