package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The ONE lineage-truncation policy shared by every iterative
  * operator in the engine (PageRank / personalized PR / k-core /
  * label-prop, k-center seeding, BPE training, connected components).
  * Iterative BSP loops grow their plan by one join + agg per round;
  * truncating lineage each round keeps round N planning O(1) work
  * instead of O(N).
  *
  * The mode is read from the SparkContext's own checkpoint directory
  * when a truncator is constructed — configured once per session, like
  * every other Spark setting, never per call:
  *   - no directory (the local default): `localCheckpoint` — no
  *     distributed write, but blocks are executor-local and NOT
  *     fault-tolerant; on a real cluster one lost executor
  *     mid-iteration kills the job.
  *   - a directory (the cluster posture: `spark.checkpoint.dir`, which
  *     the SparkContext installs at start-up): reliable `checkpoint()`
  *     — every round is recoverable from HDFS/S3 at the cost of one
  *     distributed write per round. For the engine's longest-running
  *     jobs (multi-hour PageRank over a 100 TB-derived graph) this is
  *     the only safe setting. The frame is persisted around the eager
  *     checkpoint so the plan computes ONCE (Dataset.checkpoint's
  *     count() action and the subsequent ReliableCheckpointRDD write
  *     job would otherwise each run it), and [[Truncator.rolling]]
  *     deletes round N−1's checkpoint files once round N has
  *     materialized, so a multi-hour loop holds O(1) checkpoint
  *     copies on disk instead of O(rounds).
  *
  * The truncator never writes the context's checkpoint directory.
  * Rolling cleanup is safe under concurrency: each
  * [[Truncator.rolling]] chain attributes a round's files from the
  * checkpointed RDD itself (`RDD.getCheckpointFile`), so concurrent
  * chains — even three on one dir, as [[Graph.hits]] runs — can never
  * capture or delete another chain's live round.
  */
private[graft] object Checkpointing {

  /** Per-invocation truncation handle for one iterative loop. Call
    * once per operator invocation (the mode is fixed at construction
    * — see above), then apply to each frame: `cp(df)` for frames that
    * live for the WHOLE loop (edge tables, node tables),
    * `cp.rolling(df)` for per-round frames that supersede the previous
    * round's.
    */
  def truncator(spark: SparkSession): Truncator = new Truncator(spark)

  private[graft] final class Truncator(spark: SparkSession)
      extends (DataFrame => DataFrame) {
    private val reliableDir = spark.sparkContext.getCheckpointDir

    // the frame the latest rolling() call returned — the round the
    // next rolling() call supersedes and releases
    private var lastRound: Option[DataFrame] = None

    /** Truncate lineage; in reliable mode the files persist until the
      * caller (or a later [[rolling]] round) removes them.
      */
    def apply(df: DataFrame): DataFrame =
      if (reliableDir.isDefined) {
        // persist so the eager count() and the checkpoint WRITE job
        // share one computation of the plan instead of two
        df.persist(StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint()
        finally df.unpersist()
      } else df.localCheckpoint()

    /** Truncate a PER-ROUND frame: after this round's checkpoint has
      * fully materialized, the previous rolling round's storage is
      * released — reliable mode deletes its checkpoint files (the
      * GraphFrames-CC discipline — Spark only cleans reliable
      * checkpoints itself under
      * `spark.cleaner.referenceTracking.cleanCheckpoints`, and then
      * only on driver GC, which a tight loop cannot wait for), local
      * mode unpersists its blocks (symmetric: a long loop otherwise
      * holds O(rounds) block sets on the executors). The LAST round is
      * never released here — the returned frame reads it; it is the
      * caller's output to keep or clean.
      *
      * A round's storage is attributed EXACTLY, from the checkpointed
      * RDD inside the returned frame's plan (`RDD.getCheckpointFile` /
      * the block RDD itself) — never by diffing the shared checkpoint
      * directory, which would capture files a concurrently-rolling
      * chain wrote in the same window and later delete that chain's
      * live round.
      */
    def rolling(df: DataFrame): DataFrame = {
      val out = apply(df) // eager: fully materialized when this returns
      lastRound.foreach(release)
      lastRound = Some(out)
      out
    }

    /** Release a frame previously truncated by THIS handle, once the
      * caller is done with it — the explicit-double-buffer variant of
      * [[rolling]] for loops whose convergence check must read round
      * N−1 AFTER round N has materialized (rolling would release N−1
      * the moment N lands, and a locally-checkpointed frame cannot be
      * recomputed once its blocks are gone). Same exact storage
      * attribution as rolling; never call it on the frame you are
      * about to return.
      */
    def release(df: DataFrame): Unit =
      if (reliableDir.isEmpty)
        blockRdds(df).foreach(_.unpersist(blocking = false))
      else {
        val fs = fileSystem()
        checkpointFiles(df).foreach(p => fs.delete(p, true))
      }

    private def fileSystem() =
      new Path(reliableDir.get)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)

    /** The checkpointed RDDs a just-truncated frame actually reads:
      * `Dataset.checkpoint`/`localCheckpoint` wrap the materialized
      * internal RDD in a leaf [[LogicalRDD]], so the frame's analyzed
      * plan names its storage exactly.
      */
    private def blockRdds(df: DataFrame): Seq[RDD[InternalRow]] =
      df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }

    /** The rdd-N checkpoint directories backing a just-checkpointed
      * frame (reliable mode) — exact attribution, see [[rolling]].
      */
    private def checkpointFiles(df: DataFrame): Set[Path] =
      blockRdds(df).flatMap(_.getCheckpointFile).map(new Path(_)).toSet
  }
}
