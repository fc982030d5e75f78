package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer, as the benchmark saw it from outside. */
final class Span(val id: Int, val parent: Option[Span], val name: String,
                 val startMs: Long) {
  var endMs: Long = -1L
  /** counters charged to this span itself (children keep their own) */
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** [start, end] of every job started while this span was innermost */
  val jobs: mutable.ArrayBuffer[Array[Long]] = mutable.ArrayBuffer.empty
  def wallS: Double = (endMs - startMs) / 1e3
}

/** Outside-in tracer: one SparkListener + QueryExecutionListener pair,
  * registered by the benchmark, never by the program. The benchmark opens
  * a span around each call into a layer; every Spark event is charged to
  * the innermost span open when the event is processed. The bus is drained
  * at each span boundary, so with one client thread that attribution is
  * exact. Spans stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var current: Option[Span] = None
  private val jobInterval = mutable.Map.empty[Int, Array[Long]]
  private val sc = spark.sparkContext

  /** Start receiving events; the untraced operations run detached. */
  def attach(): Tracer = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  private def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  def span[T](name: String)(body: => T): (T, Span) = {
    drain()
    val s = synchronized {
      val s = new Span(spans.size, current, name, System.currentTimeMillis())
      spans += s; current = Some(s); s
    }
    try (body, s) finally {
      drain()
      synchronized { s.endMs = System.currentTimeMillis(); current = s.parent }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  private def charge(key: String, v: Double): Unit = synchronized {
    current.foreach(s => s.counts(key) += v)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    current.foreach { s =>
      val iv = Array(e.time, -1L)
      s.jobs += iv; s.counts("jobs") += 1
      jobInterval(e.jobId) = iv
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInterval.remove(e.jobId).foreach(_(1) = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) synchronized {
      current.foreach { s =>
        val c = s.counts
        c("stages") += 1
        c("tasks") += e.stageInfo.numTasks
        c("run_s") += m.executorRunTime / 1e3
        c("cpu_s") += m.executorCpuTime / 1e9
        c("gc_s") += m.jvmGCTime / 1e3
        c("input_bytes") += m.inputMetrics.bytesRead
        c("input_records") += m.inputMetrics.recordsRead
        c("output_bytes") += m.outputMetrics.bytesWritten
        c("output_records") += m.outputMetrics.recordsWritten
        c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (e.blockUpdatedInfo.blockId.isRDD &&
        e.blockUpdatedInfo.storageLevel.isValid) charge("blocks_pinned", 1)

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    charge("queries", 1)
    charge("files_read", scans(qe.executedPlan)
      .flatMap(_.metrics.get("numFiles")).map(_.value).sum.toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = charge("query_failures", 1)

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    val here = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
    here ++ (p.children ++ inner ++ p.subqueries).flatMap(scans)
  }

  /** The span and all spans nested in it. */
  def subtree(s: Span): Seq[Span] = {
    val kids = all.filter(_.parent.exists(_ eq s))
    s +: kids.flatMap(subtree)
  }

  /** Sum of a counter over a span and its descendants. */
  def total(s: Span, key: String): Double = subtree(s).map(_.counts(key)).sum

  /** Span wall time not covered by any of its (or its children's) jobs:
    * planning, listing, result handling and other driver-side work.
    */
  def driverGapS(s: Span): Double = {
    val ivs = subtree(s).flatMap(_.jobs)
      .map(iv => (math.max(iv(0), s.startMs),
        math.min(if (iv(1) < 0) s.endMs else iv(1), s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    ((s.endMs - s.startMs) - covered) / 1e3
  }
}
