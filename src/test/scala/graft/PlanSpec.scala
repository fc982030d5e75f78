package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions — the 100 TB design gate (SURVEY.md §4 /
  * builder contract): filters and projections must reach the parquet
  * scan, dim joins must broadcast, top-k must not globally sort, and
  * shuffle counts must stay bounded. These pin the plan SHAPE so a
  * regression (lost pushdown, broadcast falling back to SMJ+shuffle)
  * fails CI even while results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  def optimized(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  def countExchanges(name: String): Int =
    optimized(name).queryExecution.executedPlan.collect {
      case e: Exchange => e
    }.size

  /** The executed plans of the `localCheckpoint` actions `body` runs,
    * in order. An iterative operator's per-round shape lives in its
    * round's truncation job — the frame it returns only reads the
    * checkpoint — so per-round plan pins read these.
    */
  def truncationPlans(body: => Any): Seq[String] =
    executedPlans(body).collect {
      case ("localCheckpoint", p) => p.toString
    }

  /** Every action `body` runs, in order: its name and executed plan. */
  def executedPlans(body: => Any): Seq[(String, SparkPlan)] = {
    val plans = scala.collection.mutable.ArrayBuffer.empty[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution,
                    durationNs: Long): Unit =
        plans.synchronized(plans += funcName -> qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution,
                    exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      bridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq)
  }

  test("sim12: the corpus-probes-corpus pair stage keeps pinned parallelism") {
    // the r20 root-cause of the five BENCH_NOTES "sim12 transient"
    // observations: the pair-scoring join's shuffled bytes are tiny
    // while its OUTPUT explodes ×(cell width) in CPU, so AQE's
    // byte-based planning either coalesced the stage to ONE task or
    // broadcast-flipped the join and coalesced the other side —
    // 4.3 ↔ 10.4 s run-to-run on identical code. pinProbeParallelism
    // (opt-in, passed by every corpus-probes-corpus caller) pins the
    // probe side with a repartition-by-number (AQE never rewrites it)
    // and a SHUFFLE_HASH hint (no broadcast flip, no sort); this pin
    // keeps both markers in the executed plan.
    import org.apache.spark.sql.functions._
    val e = Tables.spread(Tables.load(spark, sf, "embeddings"), "vec_id")
    val knn = graft.operators.Similarity.ivfTopK(e, e, 3,
      nlist = 16, nprobe = 6, pinProbeParallelism = true)
    knn.collect()
    val plan = knn.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("REPARTITION_BY_NUM"), plan)
    // the cell join itself rides the hinted shuffle-hash on the
    // centroid key (the interior broadcast-of-one-row cross joins of
    // ivfBuild's seed pick are unrelated and fine)
    assert(plan.linesIterator.exists(l =>
      l.contains("ShuffledHashJoin [centroid_id")), plan)
  }

  test("ivfTopK default (per-query serving) does NOT carry the parallelism pin") {
    // the flip side of the sim12 pin, guarding the regression the r20
    // review caught: with an nq-sized query side the probe set must
    // stay broadcastable (pinning it would force a corpus-sided
    // exchange on every serve call — wrong at scale even though
    // invisible at gate SFs). Default path: no repartition-by-number,
    // no shuffle-hash demand — the tiny probe side broadcasts.
    import org.apache.spark.sql.functions._
    val e = Tables.spread(Tables.load(spark, sf, "embeddings"), "vec_id")
    val q = e.filter(col("vec_id") < 10)
    val serve = graft.operators.Similarity.ivfTopK(q, e, 3,
      nlist = 16, nprobe = 6)
    serve.collect()
    val plan = serve.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // (Tables.spread's vec_id exchanges are REPARTITION_BY_NUM too —
    // the pin we must NOT see is the one on the centroid join key)
    assert(!plan.linesIterator.exists(l =>
      l.contains("REPARTITION_BY_NUM") && l.contains("centroid_id")), plan)
    assert(!plan.linesIterator.exists(l =>
      l.contains("ShuffledHashJoin [centroid_id")), plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("centroid_id")), plan)
  }

  test("cu01: the curation tail composes in one bounded-exchange plan") {
    // the composition contract of the cu01 gate: after the (by-design
    // iterative) clustering stage, the remaining stages — survivor
    // anti-join → decontamination → split filter → packing — must hand
    // off inside ONE plan with a bounded exchange count, not re-shuffle
    // the corpus between stages. The pin counts physical Exchanges on
    // the executed plan; growth here means a stage boundary started
    // paying a shuffle it didn't before.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = Tables.spread(Tables.load(spark, sf, "documents"), "doc_id")
      .select("doc_id", "text")
    val losers = Seq(4L, 8L).toDF("doc_id") // stand-in for the CC output
    val surv = d.join(losers, Seq("doc_id"), "left_anti")
    val candidates = surv.filter(col("doc_id") % 50 =!= 0)
    val hits = graft.operators.Dedup.contaminationHits(candidates,
      d.filter(col("doc_id") % 50 === 0), "doc_id", "text")
    val train = candidates
      .join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("split",
        graft.operators.Sampling.assignSplit(col("doc_id")))
      .filter(col("split") === "train")
      .select("doc_id", "text")
    val packed = graft.operators.TextAnalysis.packSequences(
      train, "doc_id", "text", seqLen = 512L)
    packed.collect()
    val plan = packed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // SHUFFLE exchanges only: broadcasts move dictionary-sized sides
    // and ReusedExchange is a cache hit, neither is a stage-boundary
    // re-shuffle. Measured composition today: 7 — two for the
    // 5-shingle contamination join (shingle-keyed, batch-sized), one
    // groupBy per hit aggregation, the survivor anti-join's build, and
    // ta19's three-stage prefix sum (_pid partial, range repartition,
    // and its #partitions-row SinglePartition offset window — the ta19
    // PlanSpec test pins that the per-doc cumsums stay _pid-local).
    val exchanges = plan.linesIterator.count(l =>
      l.contains("Exchange ") && !l.contains("BroadcastExchange") &&
        !l.contains("ReusedExchange"))
    assert(exchanges <= 8,
      s"curation tail grew to $exchanges shuffle exchanges:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("index deletion: tombstone anti-joins broadcast — the corpus side is never shuffled") {
    // the sim27/sim28 scale contract: a deletion request list is
    // metadata-sized, so the cells/codes side must stream through a
    // BroadcastHashJoin LeftAnti — an SMJ here would shuffle the
    // corpus-sized table once per deletion batch
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val e = Tables.load(spark, sf, "embeddings")
    val tomb = Seq(1L, 2L, 3L).toDF("vec_id")
    val deleted = graft.operators.Similarity.ivfDeleteIds(
      graft.operators.Similarity.ivfBuild(e), tomb)
    val p = deleted.cells.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val pqDeleted = graft.operators.Similarity.ivfPqDeleteIds(
      graft.operators.Similarity.ivfPqBuild(e), tomb)
    val pp = pqDeleted.codes.queryExecution.executedPlan.toString
    assert(pp.contains("BroadcastHashJoin") && pp.contains("LeftAnti"), pp)
    assert(!pp.contains("SortMergeJoin"), pp)
  }

  test("delta-log deletion: the per-batch rewrite anti-joins broadcast — the batch side is never shuffled") {
    // the st14 scale contract, same shape as the index deletes above:
    // the tombstone list is metadata-sized and the batch directory is
    // delta-sized, so the rewrite must stream the batch through a
    // BroadcastHashJoin LeftAnti (an SMJ would shuffle every touched
    // batch once per deletion request)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = SparkTestSession.tempDir("plan-st14").toString
    Tables.load(spark, sf, "embeddings").limit(50)
      .write.mode("overwrite").parquet(s"$dir/batch=0")
    val tomb = Seq(1L, 2L).toDF("vec_id")
    val p = graft.streaming.StreamingJobs
      .deltaBatchSurvivors(spark, s"$dir/batch=0", tomb)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q02: predicate and column pushdown reach the parquet scan") {
    val plan = planOf("q02_filter_pushdown")
    assert(plan.contains("PushedFilters: ["), plan)
    assert(plan.contains("l_shipdate"), plan)
    // scan must read only the 6 referenced columns, not all 11
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("l_returnflag"), readSchema)
    assert(!readSchema.contains("l_tax"), readSchema)
  }

  test("q03/q04/q05: dimension joins broadcast (no shuffle of the fact side for dims)") {
    for (q <- Seq("q03_shipping_priority", "q04_broadcast_dim", "q05_region_revenue")) {
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q missing broadcast:\n$plan")
    }
  }

  test("q14: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val plan = planOf("q14_topk_global")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("SortExec"), plan)
  }

  test("q06/q07: EXISTS/NOT EXISTS plan as semi/anti hash joins") {
    assert(planOf("q06_semi_join").contains("LeftSemi"), planOf("q06_semi_join"))
    assert(planOf("q07_anti_join").contains("LeftAnti"), planOf("q07_anti_join"))
  }

  test("q01: aggregation runs partial (map-side) before the shuffle") {
    val plan = planOf("q01_pricing_summary")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("whole-stage codegen covers the scan→agg pipeline of q01") {
    val df = optimized("q01_pricing_summary")
    df.collect()  // finalize the adaptive plan so codegen stages render
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"no codegen stages:\n$plan")
  }

  test("shuffle budget: single-agg queries shuffle at most twice (agg + order)") {
    // sp05 included: split assignment must stay a scan-fused expression,
    // never a join or extra exchange
    for (q <- Seq("q01_pricing_summary", "q04_broadcast_dim", "ta03_lang_stats",
      "sp05_split_assign")) {
      val n = countExchanges(q)
      assert(n <= 2, s"$q has $n exchanges")
    }
  }

  test("sim02 HOF cosine: query side broadcasts, no shuffle of candidates before scoring") {
    val plan = planOf("sim02_cosine_topk_hof")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("sim02: exact top-k collapses map-side (partial top_k agg), no per-query rank window") {
    val plan = planOf("sim02_cosine_topk_hof")
    // the old shape shipped all N candidate scores to one task per
    // query via row_number over Window.partitionBy(qid)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k") ||
      plan.linesIterator.exists(l =>
        l.contains("top_k") && l.contains("Partial")), plan)
  }

  test("q17/q18: outer joins broadcast their small side, keep outer semantics") {
    val p17 = planOf("q17_left_outer_join")
    assert(p17.contains("LeftOuter"), p17)
    assert(p17.contains("TakeOrderedAndProject"), p17)
    val p18 = planOf("q18_full_outer_join")
    assert(p18.contains("FullOuter"), p18)
    assert(p18.contains("BroadcastHashJoin"), p18)
  }

  test("dd06: near-dup candidates come from a block join, never all-pairs") {
    val p = planOf("dd06_embedding_neardup")
    assert(!p.contains("CartesianProduct"), p)
    // the candidate self-join must be an equi-join on the block key —
    // the corpus never nested-loops with itself
    assert(p.linesIterator.exists(l =>
      l.contains("Join [bk#") || (l.contains("Join") && l.contains("[bk#"))), p)
    // nested-loop joins may appear ONLY as the Cross attach of the
    // 1-row broadcast corpus-stats frame (n + per-dim sums for the
    // centered sketch), never between row-scaled sides
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach { l =>
      assert(l.contains("Cross"), s"non-stats nested loop join:\n$l") }
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("etl01: the render+parse pipeline spreads across the cluster, render not in scan filter") {
    val p = planOf("etl01_log_roundtrip")
    // spread: an exchange below the parse (REPARTITION_BY_COL on testdata's
    // single-row-group scans); render must not leak into a scan DataFilter
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
    assert(!scanLine.contains("format_string"), scanLine)
    assert(p.contains("parse_s3_access_log"), p)
  }

  test("LogEtl.compact: the write runs in the scan's stage — no shuffle exchange") {
    val in = SparkTestSession.tempDir("graft-plan-etl").toString
    for (k <- 0 until 4)
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/f$k.log"),
        (0 until 20).map(i => graft.sources.S3AccessLog.renderLine(
          RenderFixtures.baseFields.updated("reqid", s"R$k-$i")))
          .mkString("\n").getBytes)
    val out = SparkTestSession.tempDir("graft-plan-etl").toString + "/day"
    // descends into adaptive plans and their query stages
    val aqe = new AdaptiveSparkPlanHelper {}
    val writes = executedPlans(graft.operators.LogEtl.compact(spark, in, out,
        numOutputFiles = 2))
      .map(_._2).filter(aqe.find(_)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    assert(writes.size == 1, writes.mkString("\n"))
    val shuffles = aqe.collect(writes.head) { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, writes.head.toString)
  }

  test("q32: unpivot plans as a single-scan Expand, not union-of-scans") {
    val p = planOf("q32_unpivot")
    assert(p.contains("Expand"), p)
    assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,300)"), p)
  }

  test("ev07: funnel reuses the step-1 exchange instead of re-shuffling per stage") {
    val df = optimized("ev07_funnel")
    df.collect()  // finalize adaptive plan so reuse nodes render
    val p = df.queryExecution.executedPlan.toString
    // per-step scans push the event_type filter down
    assert(p.contains("EqualTo(event_type,view)"), p)
    // counts come from ONE aggregation fanned out by a generator — the
    // plan must not contain a Union of three independent chains
    assert(!p.contains("Union"), p)
    assert(p.contains("Generate"), p)
  }

  test("etl02/etl03: one text-render scan each, parse stays out of scan filters") {
    for (q <- Seq("etl02_vpc_roundtrip", "etl03_alb_roundtrip")) {
      val p = planOf(q)
      assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, s"$q:\n$p")
      val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).get
      assert(!scanLine.contains("format_string"), s"$q: $scanLine")
    }
  }

  test("dd09: registry dedup plans an anti join, not a distinct+outer-join") {
    val p = planOf("dd09_incremental_dedup")
    assert(p.contains("LeftAnti"), p)
  }

  test("dd11: decontamination joins corpus shingles against a BROADCAST holdout") {
    val p = planOf("dd11_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"corpus shingles should not shuffle for the join:\n$p")
  }

  test("ta11: repetition stats stay scan-fused — zero exchanges before the sort") {
    // per-row array math only; the single exchange is the final orderBy
    assert(countExchanges("ta11_repetition") <= 1,
      planOf("ta11_repetition"))
  }

  test("sp03: exact-k sampling shuffles once on the stratum (plus output sort)") {
    assert(countExchanges("sp03_exact_k_sample") <= 2,
      planOf("sp03_exact_k_sample"))
  }

  test("dd10: typo candidates join on the block key, never all-pairs") {
    val plan = planOf("dd10_typo_pairs")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ta13/sim05: chunking and quantization stay scan-fused — zero exchanges before the sort") {
    // per-row explode / per-element array math only
    for (q <- Seq("ta13_chunking", "sim05_int8_quant")) {
      assert(countExchanges(q) <= 1, s"$q:\n${planOf(q)}")
    }
  }

  test("km01: seed centroids broadcast; the vector side never all-pairs shuffles") {
    val plan = planOf("km01_kmeans_assign")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the k candidate rows per vector must collapse map-side before the
    // keyed exchange
    assert(plan.contains("partial_min") || plan.contains("partial"), plan)
  }

  test("ev12: group stats broadcast back — the event stream itself never shuffles") {
    val plan = planOf("ev12_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ta18: BM25 top-k is TakeOrdered; corpus stats broadcast, no corpus-wide window") {
    val plan = planOf("ta18_bm25")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // df/N/Σdl frames ride in as broadcasts, never a shuffled join
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    // the only Window is the rank over the already-limited k rows: it
    // must sit ABOVE TakeOrderedAndProject in the plan text (window
    // input = k rows, not the corpus)
    val wIdx = plan.indexOf("Window")
    val tIdx = plan.indexOf("TakeOrderedAndProject")
    assert(wIdx >= 0 && tIdx > wIdx, plan)
  }

  test("dd15: SemDeDup pair join is a hash equi-join on the cluster id, never cartesian") {
    val plan = planOf("dd15_semdedup")
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop joins are the broadcast single-row corpus
    // stat frames (seed/count scalars), never the member×member pair join
    val pairJoinIsEqui = plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin")
    assert(pairJoinIsEqui, plan)
  }

  test("mm04: media near-dup candidates equi-join on the hash band, never all-pairs") {
    val p = planOf("mm04_media_neardup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the pair join must key on (band, band-value) — hash-partitioned,
    // block-bounded, the only shape that survives a 100 TB image corpus
    assert(p.linesIterator.exists(l =>
      l.contains("Join") && l.contains("band#") && l.contains("bv#")), p)
    // the pair collapse is a combining aggregation, not a distinct over
    // the joined width
    assert(p.contains("partial_min"), p)
  }

  test("ta19: packing cumsum windows partition by _pid; only the partition-offset window is global") {
    // the two-level distributed prefix sum: per-doc running totals must
    // window WITHIN a range partition (_pid in the partition spec), and
    // the only unpartitioned window allowed is the one over the
    // ≤numPartitions-row _ptot aggregate — a corpus-wide single-task
    // cumsum over doc rows is the failure mode this pins out
    val plan = planOf("ta19_sequence_packing")
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty, plan)
    winLines.foreach { l =>
      if (l.contains("sum(n_tokens"))
        assert(l.contains("], [_pid#"), s"corpus-wide doc window:\n$l")
      else assert(l.contains("_ptot"), s"unexpected global window:\n$l")
    }
  }

  test("sp08: weighted sample selects via partial top_k, never a window or corpus sort") {
    val plan = planOf("sp08_weighted_sample")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k") ||
      plan.linesIterator.exists(l =>
        l.contains("top_k") && l.contains("partial")), plan)
    // winners (k rows) broadcast back onto the table for attributes
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("km03: silhouette has no window — the k-distance collapse is an aggregation") {
    val plan = planOf("km03_silhouette")
    assert(!plan.contains("Window"), plan)
    // the per-vector sorted (dist, cluster) pair list is an
    // ObjectHashAggregate whose buffer is bounded by k, combining
    // map-side before the vec_id exchange
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("ta20: rank windows partition by _pid; only the partition-count frame is global") {
    // same two-level prefix-sum contract as ta19: a corpus-wide
    // single-task row_number over doc scores is the pinned-out failure
    val plan = planOf("ta20_perplexity_buckets")
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty, plan)
    winLines.foreach { l =>
      if (l.contains("row_number"))
        assert(l.contains("_pid#"), s"corpus-wide rank window:\n$l")
      else assert(l.contains("_pn"), s"unexpected global window:\n$l")
    }
  }

  test("q43: island windows partition by customer — no corpus-wide window") {
    val plan = planOf("q43_gaps_islands")
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty, plan)
    winLines.foreach { l =>
      assert(l.contains("o_custkey#"), s"window not keyed by customer:\n$l")
    }
  }

  test("sim08: MMR stays window-free — shortlist and greedy argmaxes are bounded top_k aggs") {
    val plan = planOf("sim08_mmr")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k") ||
      plan.linesIterator.exists(l =>
        l.contains("top_k") && l.contains("partial")), plan)
  }

  test("gr01: pagerank top-20 is TakeOrdered; contributions combine partial, no window") {
    val plan = planOf("gr01_pagerank")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    // the per-iteration shape is truncated out of the final plan by the
    // checkpoint — pin it on the single iteration's truncation job (the
    // last localCheckpoint): the contribution sum must combine map-side
    // before the dst exchange
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val iterPlan = truncationPlans(graft.operators.Graph
      .pageRank(edges, iterations = 1)).last
    assert(iterPlan.contains("partial_sum"), iterPlan)
    assert(!iterPlan.contains("Window"), iterPlan)
  }

  test("gr08: classic pagerank — dangling sum broadcasts, contributions combine partial") {
    val plan = planOf("gr08_pagerank_dangling")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    // the single iteration's truncation job: the dangling scalar must
    // ride a broadcast (never a shuffle), contributions partial-combine,
    // and nothing joins cartesian
    import spark.implicits._
    val edges = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("src", "dst")
    val iterPlan = truncationPlans(graft.operators.Graph
      .pageRankClassic(edges, iterations = 1)).last
    assert(iterPlan.contains("partial_sum"), iterPlan)
    assert(iterPlan.contains("BroadcastNestedLoopJoin") ||
      iterPlan.contains("BroadcastExchange"), iterPlan)
    assert(!iterPlan.contains("CartesianProduct"), iterPlan)
    assert(!iterPlan.contains("Window"), iterPlan)
  }

  test("ta26: LID profile joins are broadcasts; the only window ranks per-doc grams") {
    val plan = planOf("ta26_langid_multi")
    // the 6-row language table and 120-row profile table must never
    // shuffle the corpus side
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // every window partitions by the document id — no global window
    plan.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("_id#"), l)
    }
  }

  test("sp09: the only corpus window is the per-stratum rank; allocation broadcasts") {
    val plan = planOf("sp09_neyman_alloc")
    val winLines = plan.linesIterator
      .filter(_.contains("windowspecdefinition")).toVector
    assert(winLines.nonEmpty, plan)
    winLines.foreach { l =>
      assert(l.contains("lang#"), s"window not keyed by stratum:\n$l")
    }
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q35/q37: merge plans an anti join; lateral top-k never cartesians") {
    val merge = planOf("q35_merge_upsert")
    assert(merge.contains("LeftAnti"), merge)
    val lat = planOf("q37_lateral_topk")
    assert(!lat.contains("CartesianProduct"), lat)
  }

  test("log parser fused path keeps one regex pass (no RegExpExtract chain)") {
    import org.apache.spark.sql.functions._
    // non-foldable input so the optimizer can't constant-fold the parse
    val lines = spark.range(3)
      .select(concat(lit("line-"), col("id")).as("value"))
    val fusedPlan = graft.sources.S3AccessLog.parse(lines, fused = true)
      .queryExecution.optimizedPlan.toString
    assert(fusedPlan.contains("parse_s3_access_log"), fusedPlan)
    // the 26-group pattern must appear 0 times (fused) vs 26+ (built-in);
    // the tiny per-row bracket-token extract for the timestamp is fine
    val bigPattern = """(\S+) (\S+) (\["""
    assert(!fusedPlan.contains(bigPattern), fusedPlan)
    val builtinPlan = graft.sources.S3AccessLog.parse(lines, fused = false)
      .queryExecution.optimizedPlan.toString
    assert(builtinPlan.sliding(bigPattern.length).count(_ == bigPattern) >= 26,
      builtinPlan.take(2000))
  }

  test("sim06: PQ encode collapses codes map-side; zero windows anywhere in the plan") {
    val plan = planOf("sim06_ann_pq")
    // the argmin over the codebook must be a partial min aggregation,
    // not a row_number window shipping the N·m·codes distance explosion
    assert(plan.contains("partial_min"), plan)
    // r12 TopKAgg rewrite: every rank/shortlist stage is the bounded
    // partial top_k aggregate — a reintroduced per-query row_number
    // window (shipping all N candidate scores to one task per query)
    // must fail here, not at 100 TB
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k"), plan)
  }

  test("sim07: IVF-PQ keeps both argmins map-side and scans candidates once per stage") {
    val plan = planOf("sim07_ann_ivfpq")
    // both argmins (cell pick, encode) are per-row folds over broadcast
    // arrays — never a struct-min SortAggregate (the r16 lesson). The
    // old partial_min pin keyed on the codebook-seed aggregation, which
    // r18's checkpoint-the-codebook-before-encode change rightly hides
    // behind a materialized scan (the encode no longer re-derives it).
    assert(!plan.contains("SortAggregate"), plan)
    // r12 TopKAgg rewrite pin — see sim06
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k"), plan)
    // cells + codebook broadcast; candidates never nested-loop with
    // anything bigger than those broadcast-tiny frames
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim01/sim03/sim04: rank stages are bounded partial top_k aggs, never windows") {
    // pin for the r12/r13 rewrites: the exact-decimal baseline (sim01),
    // LSH bucket ranking (sim03) and IVF probe + candidate ranking
    // (sim04) exchange ≤ k pairs per query × map partition via TopKAgg
    // — the pre-r12 row_number window shipped all N candidate scores to
    // one task per query
    for (q <- Seq("sim01_cosine_exact", "sim03_ann_lsh", "sim04_ann_ivf")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"), s"$q reintroduced a window:\n$plan")
      assert(plan.contains("partial_top_k"), s"$q lost the partial top_k agg:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q:\n$plan")
    }
  }

  test("sim11: both rank stages are bounded top_k aggs; query sides broadcast") {
    // int8 two-stage retrieval: the int-dot shortlist AND the exact
    // re-rank each collapse via the partial TopKAgg buffer — a rank
    // window in either stage would ship all N candidate scores (stage
    // 1) or all shortlist scores (stage 2) to one task per query
    val plan = planOf("sim11_int8_rerank")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("sim13: two-level assignment ranks via bounded top_k aggs at every tier") {
    // leader pick, group-restricted centroid pick, and the final
    // neighbor rank all collapse through partial TopKAgg — a window at
    // any tier would ship a corpus-linear row set to one task per
    // vector. Leaders/groups/centroids ride broadcasts only.
    val plan = planOf("sim13_ivf_two_level")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("sim14: RRF fuses two bounded shortlists — no cartesian, bounded window") {
    // both retrieval arms must rank through bounded shapes (TopKAgg on
    // the dense arm; BM25's window runs over its already-limited k
    // rows), and the fusion join is over two ≤ shortlist-k frames —
    // nothing corpus-sized may reach the fusion stage
    val plan = planOf("sim14_hybrid_rrf")
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only windows allowed are the rank presentations over
    // k-limited frames (BM25's top-k and the fusion's final rank);
    // both limits must collapse to TakeOrderedAndProject — corpus-wide
    // sort-then-limit would show a global Sort instead
    val lines = plan.linesIterator.toSeq
    assert(lines.count(_.contains("Window")) <= 2, plan)
    assert(lines.exists(_.contains("TakeOrderedAndProject")), plan)
  }

  test("sim15: metrics ride bounded shortlists; the truth join broadcasts the query side") {
    // the shortlist is a bounded top_k agg (sim01 shape); the
    // label-match truth join must broadcast the 10-row query side, and
    // the metric math is per-qid aggregation — no corpus-sized window,
    // no cartesian
    val plan = planOf("sim15_retrieval_metrics")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("ta25: the curation cascade is one zero-shuffle narrow pass") {
    // all four filter signals are per-row array math — the whole
    // cascade must stay scan-fused: no join, no aggregation, no
    // window; the only exchange is the presentation sort
    val plan = planOf("ta25_curation")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Aggregate"), plan)
    assert(countExchanges("ta25_curation") <= 1, plan)
  }

  test("sp11/dq09: fold assignment and fingerprints stay scan-fused — no join, no window") {
    for (q <- Seq("sp11_kfold", "dq09_table_fingerprint")) {
      val plan = planOf(q)
      assert(!plan.contains("Window"), s"$q:\n$plan")
      assert(!plan.contains("Join"), s"$q:\n$plan")
    }
    // the per-doc fold table needs no aggregation at all
    assert(countExchanges("sp11_kfold") <= 1, planOf("sp11_kfold"))
  }

  test("ev22: rolling distinct count joins the broadcast day spine, no window") {
    val plan = planOf("ev22_stickiness")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("km05: the Lloyd loop stays window-free and sort-free — argmins are per-row folds") {
    // both rounds' nearest-centroid picks are codegen'd folds over ONE
    // broadcast seed-array row: a rank-window assignment would ship
    // N·k scored rows per round, and the pre-r16 crossJoin+min(struct)
    // shape planned as SortAggregate, which SORTED the N·k expansion
    // in every map task (the measured 100× disk-spill wall)
    val plan = planOf("km05_lloyd_rounds")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("km01/km03/dd15: seed assignment is a zero-expansion fold — no SortAggregate anywhere") {
    // the shared assignToSeeds/silhouette path: no struct-buffer
    // aggregate (SortAggregate) may appear — the argmin/best-2 run
    // in-register over the broadcast seed array
    for (q <- Seq("km01_kmeans_assign", "km03_silhouette", "dd15_semdedup")) {
      val plan = planOf(q)
      assert(!plan.contains("SortAggregate"), s"$q:\n$plan")
      assert(!plan.contains("Window"), s"$q:\n$plan")
    }
  }

  test("dd18: two-level SemDeDup keeps the dd15 shape — cell-blocked equi-join, fold assignment") {
    // the big-corpus config must inherit every dd15 plan guarantee:
    // the τ-join keys on the cluster id (never all-pairs), and both
    // assignment levels are per-row folds over broadcast group rows —
    // no struct-buffer SortAggregate, no rank window
    val plan = planOf("dd18_semdedup_twolevel")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    val pairJoinIsEqui = plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin")
    assert(pairJoinIsEqui, plan)
  }

  test("sim17: two-level IVF-PQ stays fold-assigned and window-free") {
    // candidate cell pick = per-row best-2-groups fold over ONE
    // broadcast nested-group row; every bounded top-k is TopKAgg —
    // nothing may plan as a rank window, a struct-buffer
    // SortAggregate, or an unbroadcast cartesian
    val plan = planOf("sim17_ivfpq_two_level")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("sim18: the metadata predicate reaches the candidate parquet scan") {
    // pre-filter vector search is only the right design if the filter
    // PRUNES THE SCAN: at 100 TB the label In-filter must appear in
    // PushedFilters on the embeddings read (the engine reads ~30% of
    // the corpus), and the rank must stay a bounded top_k agg — a
    // post-scan Filter over a full read would silently degrade to the
    // score-everything shape sim19 exists to bound
    val plan = planOf("sim18_filtered_search")
    assert(plan.contains("PushedFilters: [In(label"), plan)
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim19: post-filter re-rank stays bounded — no window, no cartesian") {
    // the over-fetched shortlist is ≤ fetch·nq rows by construction;
    // the predicate join and the final top-5 re-rank must ride that
    // bounded frame (TopKAgg partial), never a rank window or an
    // unbroadcast cartesian over the corpus
    val plan = planOf("sim19_postfilter_ann")
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim23: binary-quant shortlist and re-rank stay bounded and window-free") {
    // the hamming scan streams packed codes against the broadcast
    // query side into a bounded TopKAgg; raw vectors are read only
    // below the shortlist join; no rank window, no SortAggregate
    val plan = planOf("sim23_binary_quant")
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("dd19: incremental near-dup joins banded buckets — no cartesian, bounded best-match") {
    // candidates must meet in an equi-join on (band, bucket) — never
    // an all-pairs shape — and the per-doc best registry match is the
    // bounded top-1 TopKAgg, not a rank window or a struct-min
    // SortAggregate
    val plan = planOf("dd19_incremental_neardup")
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortAggregate"), plan)
  }

  test("sim21: served IVF-PQ stays fold-assigned, window-free, bounded") {
    // the served path must keep every fused-plan property: integer
    // codes meet broadcast ADC tables in an equi-join, both argmins
    // are per-row folds (no struct-min SortAggregate), every top-k is
    // a bounded TopKAgg — loading from parquet must not reintroduce
    // any expansion shape. Inspect the OPERATOR plan (the gate row
    // localCheckpoints its 1-row verdict, which hides the subtree
    // behind a LogicalRDD scan).
    import spark.implicits._
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val d = SparkTestSession.tempDir("ivfpq-plan").toString
    graft.operators.Similarity.ivfPqBuild(e).save(d)
    val plan = graft.operators.Similarity
      .ivfPqSearch(q, graft.operators.Similarity.ivfPqLoad(spark, d), e, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim20: stale-index + delta fusion merges in ONE bounded top-k") {
    // both arms emit (qid, cid, sim) pair streams; the merge must be
    // the single TopKAgg presenter (partials bounded by k on each
    // side), never a rank window over the union — and the only
    // non-equi join allowed is the broadcast of the 10-row query side
    // against the small delta (cosineTopK's own shape)
    val plan = planOf("sim20_ivf_stale_delta")
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("sim12: corpus-wide kNN graph never broadcasts the query side") {
    // queries = the whole corpus: both sides must assign to cells
    // map-side (broadcast centroids only) and meet in an equi-join on
    // centroid id; rank stages are bounded top_k aggs. Inspect the
    // OPERATOR plan directly — the gate row checkpoints the graph
    // (it feeds two output branches), which would hide the subtree
    // behind a LogicalRDD scan.
    val e = Tables.spread(
      Tables.load(spark, sf, "embeddings"), "vec_id")
    val plan = graft.operators.Similarity
      .ivfTopK(e, e, 3, nlist = 16, nprobe = 6, pinProbeParallelism = true)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_top_k"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop joins are the broadcast-tiny centroid
    // attaches; the corpus-to-corpus meeting must be a hash equi-join
    // on the centroid key
    assert(plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("centroid_id")), plan)
  }

  test("ev20: first/last-touch collapse map-side — no per-conversion window") {
    // the encoded-key min/max must partial-aggregate before the
    // exchange; a rank-window formulation would ship every conversion's
    // full touch list to one task
    val plan = planOf("ev20_attribution")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_min"), plan)
    assert(plan.contains("partial_max"), plan)
  }

  test("sp10: bootstrap replication is a scan-fused generator — no join, no shuffle but the sort") {
    val plan = planOf("sp10_poisson_bootstrap")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Generate"), plan)
    assert(countExchanges("sp10_poisson_bootstrap") <= 1, plan)
  }

  test("etl04: the render never sinks into a filter below the spread exchange") {
    // parse()'s comment-drop predicate is deterministic; without the
    // Generate barrier Catalyst pushes it below the exchange with the
    // 32-arg format_string substituted in — rendering every line twice
    // and serializing one render onto the single scan task (measured
    // 2.2 s vs 0.6 s spread at sf0.1)
    val plan = planOf("etl04_cloudfront_roundtrip")
    val rendersInFilters = plan.linesIterator
      .filter(_.contains("Filter"))
      .count(_.contains("format_string"))
    assert(rendersInFilters == 0, plan)
  }

  test("q39: salted join replicates the right side per salt and joins on (key, salt)") {
    val plan = planOf("q39_salted_join")
    assert(plan.contains("Generate explode"), plan)
    assert(plan.contains("__graft_salt"), plan)
    // the salt must be part of the join keys, not a post-join filter
    val joinLine = plan.linesIterator.find(_.contains("Join")).get
    assert(joinLine.contains("__graft_salt"), joinLine)
  }

  test("q41: AQE splits a genuinely skewed exchange (skew=true on the join node)") {
    // the gate row proves result-invariance; this pin proves the
    // MECHANISM — with thresholds lowered to test scale and one hot
    // key, adaptive execution must mark the sort-merge join skew=true
    // and fan the oversized partition across extra tasks. No agg after
    // the join: OptimizeSkewedJoin declines when splitting would add a
    // downstream shuffle (that case needs forceOptimizeSkewedJoin).
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32768",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val hot = spark.range(200000).select(lit(1L).as("k"), col("id").as("v"))
      val rest = spark.range(2000)
        .select((col("id") % 97 + 2).as("k"), col("id").as("v"))
      val right = spark.range(100).select(col("id").as("k"), col("id").as("w"))
      val df = hot.unionAll(rest).hint("merge").join(right, "k")
      df.collect() // finalize the adaptive plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not split the hot key:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("q36: rolling distinct has no per-segment window over the fact table") {
    val df = optimized("q36_windowed_distinct")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the old shape held a per-frame set in ~5 segment-partition tasks
    assert(!plan.contains("collect_set"), plan)
    // per-customer islands parallelize: a window keyed by BOTH segment
    // and custkey must exist…
    val windowLines = plan.linesIterator.filter(_.contains("Window")).toVector
    assert(windowLines.exists(l =>
      l.contains("c_mktsegment") && l.contains("o_custkey")), plan)
    // …and any segment-only window may run only above an aggregation
    // (the bounded day spine), never over raw fact rows: the spine
    // window's child must be the spine HashAggregate exchange
    val segOnly = windowLines.filter(l =>
      l.contains("c_mktsegment") && !l.contains("o_custkey"))
    assert(segOnly.forall(_.contains("delta")), plan)
  }

  test("q42: bucketed layout — no Exchange and no Sort anywhere below the join") {
    val df = optimized("q42_bucketed_join")
    df.collect() // finalize the adaptive plan
    // the adaptive toString renders Final AND Initial plans — the
    // Initial copy still shows the pre-AQE shape, cut it off
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val lines = plan.linesIterator.toVector
    val j = lines.indexWhere(_.contains("SortMergeJoin"))
    assert(j >= 0, plan)
    // below the join: only the bucketed scans — the layout already
    // partitioned AND sorted both sides, so the only shuffles in the
    // whole query are the 5-row priority rollup above the join
    val below = lines.drop(j + 1)
    assert(!below.exists(_.contains("Exchange")), plan)
    assert(!below.exists(_.contains("Sort [")), plan)
    assert(plan.contains("Bucketed: true"), plan)
  }

  test("dd12: sharded span postings — bounded buffers, one tokenize pass, no window") {
    val df = optimized("dd12_dup_spans")
    df.collect() // finalize adaptive plan so reuse nodes render
    val plan = df.queryExecution.executedPlan.toString
    // the postings aggregation must key on shard alongside span, so the
    // heaviest boilerplate span spreads over ceil(n_docs/maxPostings)
    // buffers instead of concentrating in one task's collect_list
    assert("""ObjectHashAggregate\(keys=\[span#\d+, n_docs#\d+L, shard#\d+L\]""".r
      .findFirstIn(plan).isDefined, plan)
    // a row_number/rank formulation would put each span in one window
    // partition — the exact failure mode the shard key avoids
    assert(!plan.contains("Window"), plan)
    // the span-hash exchange feeds both the doc count and the postings
    // build: ONE tokenize+explode pass, reused, never recomputed
    // (count inside the finalized adaptive plan only — the rendered
    // "Initial Plan" section shows pre-reuse duplicates by design)
    assert(plan.contains("ReusedExchange"), plan)
    val finalSection = plan.substring(0, plan.indexOf("== Initial Plan =="))
    assert(finalSection.linesIterator.count(_.contains("Generate explode")) == 1,
      plan)
  }

  test("q38: recursion bound rides as a column — no per-iteration rescan of orders") {
    // The hoist regression (measured 20 s vs 0.3 s at sf0.01) is a scalar
    // subquery in the recursion step, re-running the max() aggregate scan
    // on every one of the ~80 iterations. Pinned: recursion compiles to a
    // UnionLoop, NO subquery anywhere in the plan, and orders is scanned
    // exactly twice (bounds anchor + per-month counts).
    val plan = planOf("q38_recursive_cte")
    assert(plan.contains("UnionLoop"), plan)
    assert(!plan.toLowerCase.contains("subquery"), plan)
    val scans = plan.linesIterator.count(l =>
      l.contains("FileScan parquet") || l.contains(" Relation ["))
    assert(scans == 2, s"expected 2 orders scans, saw $scans:\n$plan")
  }

  test("dd13: cluster resolution argmax collapses map-side — no window over members") {
    val plan = planOf("dd13_cluster_dedup")
    // survivor = max(struct(quality, -id)) per cluster: a combining
    // aggregation, never a row_number window concentrating each
    // cluster's members in one partition
    assert(plan.contains("partial_max"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("dq04: approx profile is one narrow aggregation pass — no multi-distinct Expand") {
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_linenumber")
    val li = Tables.load(spark, sf, "lineitem")
    val apx = graft.operators.Quality.profileApprox(li, cols)
      .queryExecution.executedPlan.toString
    // HLL sketches aggregate in one pass over the scan: no Expand, one scan
    assert(!apx.contains("Expand"), apx)
    assert(apx.linesIterator.count(_.contains("FileScan parquet")) == 1, apx)
    // the contrast that motivates it: the exact profile on the same
    // columns multiplies the row stream by an Expand before aggregating
    val exact = graft.operators.Quality.profile(li, cols)
      .queryExecution.executedPlan.toString
    assert(exact.contains("Expand"), exact)
  }

  test("ta16: sharded index groups on (tok, shard) — heavy term never in one buffer, no window") {
    val df = optimized("ta16_sharded_index")
    df.collect() // finalize adaptive plan so reuse nodes render
    val plan = df.queryExecution.executedPlan.toString
    // the collect_list aggregation must key on shard alongside tok, so
    // the widest term's postings spread over ceil(df/maxPostings) buffers
    assert("""ObjectHashAggregate\(keys=\[tok#\d+, df#\d+L, shard#\d+L\]""".r
      .findFirstIn(plan).isDefined, plan)
    // a row_number/rank formulation would concentrate each term in one
    // window partition — the exact failure mode the shard key avoids
    assert(!plan.contains("Window"), plan)
    // the (doc_id, tok) distinct exchange feeds both the df count and the
    // postings build — one tokenize pass, not two
    assert(plan.contains("ReusedExchange"), plan)
  }

  test("sim09: τ filter fuses into the broadcast scan-join — no aggregation, no window, no post-join shuffle but the presentation sort") {
    val plan = planOf("sim09_range_search")
    // range search must never rank or aggregate: output volume is the
    // match count, with the τ comparison evaluated map-side inside the
    // join stage itself
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("HashAggregate"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // the τ predicate lives in the join condition (fused, not a
    // separate post-join filter stage)
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains(">= 0.3")), plan)
    // only the ORDER BY's range partitioning touches the joined stream
    assert(plan.linesIterator.count(l =>
      l.contains("Exchange rangepartitioning")) >= 1, plan)
  }

  test("gr03: triangle enumeration is all equi-joins — no cartesian, no window") {
    val plan = planOf("gr03_triangles")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    // wedge closure is a two-key equi-join against the oriented edges
    assert(plan.contains("partial_count"), plan)
  }

  test("ta21: PMI top-30 is TakeOrdered over broadcast-joined counts — no window, no full sort") {
    val plan = planOf("ta21_pmi_collocations")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    // unigram-count joins broadcast (vocabulary-sized, not corpus-sized)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q44: z-order stats are one map-side-combined agg; interleave stays in codegen") {
    val plan = planOf("q44_zorder_layout")
    assert(!plan.contains("Window"), plan)
    // the interleave is pure bitwise projection — the only exchanges
    // are the bucket agg and the presentation sort (string-counted:
    // AQE wraps the tree, so Exchange nodes hide from plan.collect)
    assert(plan.linesIterator.count(_.contains("+- Exchange ")) == 2, plan)
    assert(plan.contains("partial_min") && plan.contains("partial_max"), plan)
  }

  test("ev16: autocorr joins the rollup-sized series broadcast, no window, exact-long moments") {
    val plan = planOf("ev16_autocorr")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // all five moment sums combine map-side
    assert(plan.contains("partial_sum((xa"), plan)
  }

  test("ta22: the only window ranks the 1000 TakeOrdered rows, never the vocabulary") {
    val plan = planOf("ta22_zipf_fit")
    assert(plan.contains("TakeOrderedAndProject(limit=1000"), plan)
    assert(plan.linesIterator.count(_.contains("Window [row_number()")) == 1,
      plan)
    // moments combine map-side over the 1000-row quantized projection
    assert(plan.contains("partial_sum((x#"), plan)
  }

  test("gr04: clustering coefficient stays equi-join only — no cartesian, no window") {
    val plan = planOf("gr04_clustering_coeff")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("gr06: label-prop argmax is a partial max(struct), never a per-node window") {
    // the ORACLE ranks votes with a row_number window; the engine must
    // collapse (count desc, label asc) map-side — a window here would
    // ship every node's full vote list to one task per round
    val plan = planOf("gr06_label_prop")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the per-round shape is truncated out of the gate plan by the
    // checkpoint (the gr01 pattern) — pin it on the single round's
    // truncation job: the vote argmax must combine map-side
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val roundPlan = truncationPlans(graft.operators.Graph
      .labelPropagation(edges, rounds = 1)).last
    assert(roundPlan.contains("partial_max"), roundPlan)
    assert(!roundPlan.contains("Window"), roundPlan)
  }

  test("ev18: truncated EWMA is a broadcast lag-join — no ordered window at all") {
    val plan = planOf("ev18_ewma")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("ta23: entropy totals broadcast back onto the term table, no window, map-side combine") {
    val plan = planOf("ta23_entropy")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("ev19/dq08: seasonal baseline and IQR fences broadcast their tiny tables, no window") {
    val p19 = planOf("ev19_seasonal")
    assert(!p19.contains("Window"), p19)
    assert(p19.contains("BroadcastHashJoin"), p19)
    val p08 = planOf("dq08_iqr_fences")
    assert(!p08.contains("Window"), p08)
    // the 1-row fence aggregate rides a broadcast nested-loop into the
    // counting pass — never a shuffle of the fact table against it
    assert(p08.contains("BroadcastNestedLoopJoin"), p08)
    assert(!p08.contains("CartesianProduct"), p08)
  }

  test("ta24: BPE round = word-local pair math + 1-row TakeOrdered winner broadcast, no window") {
    // per-round shape on a single round's truncation jobs (the gr01
    // pattern): the winner is a TakeOrdered over the (a,b) aggregate
    // and rides a broadcast back onto the word-type table; the rewrite
    // fold is a narrow projection — no window, no position self-join
    import spark.implicits._
    val docs = Seq((1L, "banana band bans")).toDF("doc_id", "text")
    // truncations in order: the word-type table, then round 1's winner
    // and its rewrite (the rewrite fold's correctness is pinned
    // behaviorally in CurationOpsSpec)
    val plans = truncationPlans(graft.operators.TextAnalysis
      .bpeMerges(docs, "text", rounds = 1))
    assert(plans.size == 3, plans.mkString("\n"))
    val Seq(winner, rewrite) = plans.drop(1)
    assert(winner.contains("TakeOrderedAndProject"), winner)
    for (plan <- Seq(winner, rewrite)) {
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("sim10: random projection is a pure narrow pass — one Exchange (the sort), no join, no window") {
    val plan = planOf("sim10_rand_proj")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
    // exactly 2 exchanges: the fixture's spread repartition + the
    // presentation sort — the projection itself shuffles nothing
    // (string-counted: AQE hides Exchange nodes from plan.collect)
    assert(plan.linesIterator.count(_.contains("+- Exchange ")) == 2, plan)
  }

  test("q46/q47: correlated subqueries decorrelate to aggregate+join / semi+anti") {
    // Q2 shape: the scalar min subquery must become a per-part
    // aggregation joined back — one extra scan, never a per-row rerun
    // (no CartesianProduct, no uncorrelated-subquery broadcast loop)
    val p46 = planOf("q46_min_cost_supplier")
    assert(!p46.contains("CartesianProduct"), p46)
    assert(p46.contains("partial_min"), p46)
    // Q21 shape: EXISTS → LeftSemi, NOT EXISTS → LeftAnti, both as
    // hash joins on the correlation key
    val p47 = planOf("q47_late_exclusive_supplier")
    assert(p47.contains("LeftSemi"), p47)
    assert(p47.contains("LeftAnti"), p47)
    assert(!p47.contains("CartesianProduct"), p47)
  }

  test("dd20: pre-banded registry joins exchange-free on the bucket layout") {
    // the point of writeBandedRegistry: the corpus-proportional
    // registry side must never re-shuffle per screen — only the small
    // batch side exchanges into the (band, bucket) layout. Broadcast is
    // disabled so the sort-merge path (the at-scale shape, where the
    // batch outgrows the broadcast threshold) is what gets pinned.
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val d = SparkTestSession.tempDir("nd-reg-plan").toString
    try {
      val docs = Tables.load(spark, sf, "documents")
      val reg = docs.filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(col("doc_id") % 2 === 1).select("doc_id", "text")
      graft.operators.Dedup.writeBandedRegistry(
        graft.operators.Dedup.minHashSignatures(
          graft.operators.Dedup.shingles(reg, "doc_id", "text", 3),
          "doc_id"),
        "doc_id", "graft_plan_nd_reg", s"$d/reg",
        numBuckets = 8)
      val screened = graft.operators.Dedup.incrementalNearDupBanded(batch,
        spark.table("graft_plan_nd_reg")
          .select("doc_id", "band", "bucket", "sig"),
        "doc_id", "text")
      screened.collect() // finalize the adaptive plan
      val plan = screened.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      // the registry scan rides its bucket layout…
      assert(plan.contains("Bucketed: true"), plan)
      // …and exactly ONE exchange keys on the (band, bucket) candidate
      // join — the batch side; a second would be the per-screen
      // registry re-shuffle this layout exists to kill (207 MB/batch
      // at the r17b 100× rehearsal)
      assert(plan.linesIterator.count(
        _.contains("Exchange hashpartitioning(band")) == 1, plan)
      // and the screen keeps dd19's bounded, window-free verify shape
      assert(plan.contains("partial_top_k"), plan)
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("SortAggregate"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_plan_nd_reg")
    }
  }

  test("mm07: pre-banded hamming registry joins exchange-free on the bucket layout") {
    // the dd20 contract for the MEDIA registry: the hash registry —
    // 16 bytes per asset, corpus-proportional — must never re-shuffle
    // per crawl screen; only the batch side exchanges into the
    // (band, bv) layout. Broadcast disabled to pin the at-scale SMJ
    // shape, same as dd20's pin.
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val d = SparkTestSession.tempDir("hm-reg-plan").toString
    try {
      // synthetic 64-bit hashes — the screen is hash-space-only, so the
      // plan pin needs no media decode
      val reg = spark.range(4000L).select(col("id").as("asset_id"),
        xxhash64(col("id")).as("dhash"))
      // batch = 1-bit-flipped registry hashes: every row matches at
      // dist 1, so AQE's empty-relation propagation can't collapse the
      // candidate join away and the pinned plan is the real screen
      val batch = spark.range(400L).select((col("id") + 4000L).as("asset_id"),
        xxhash64(col("id")).bitwiseXOR(lit(1L)).as("dhash"))
      graft.operators.Dedup.writeHammingRegistry(reg, "asset_id", "dhash",
        "graft_plan_hm_reg", s"$d/reg", numBuckets = 8)
      val screened = graft.operators.Dedup.incrementalHammingDup(batch,
        spark.table("graft_plan_hm_reg"), "asset_id", "dhash")
      screened.collect() // finalize the adaptive plan
      val plan = screened.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"), plan)
      // exactly ONE exchange keys on the (band, bv) candidate join —
      // the batch side; a second would be the per-screen registry
      // re-shuffle the persisted layout exists to kill
      assert(plan.linesIterator.count(
        _.contains("Exchange hashpartitioning(band")) == 1, plan)
      assert(plan.contains("partial_top_k"), plan)
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("CartesianProduct"), plan)
      assert(!plan.contains("SortAggregate"), plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_plan_hm_reg")
    }
  }

  test("mm08: media registry deletion is exchange-free and the rewritten table still serves bucketed") {
    // the delete arm's scale claim (SCALE.md r20): tombstones
    // broadcast onto the registry scan, the anti-join is narrow, and
    // rewriteBucketedAt adds no layout-establishing repartition — so
    // the survivors frame plans with NO data exchange of any kind
    // (the broadcast of the bounded tombstone list is the one
    // exchange, and it is the point). Then the END state: the
    // rewritten, re-registered table must serve the mm07 screen with
    // the same single batch-side exchange — deletion must not cost
    // the layout.
    import org.apache.spark.sql.functions._
    val d = SparkTestSession.tempDir("hm-del-plan").toString
    try {
      val reg = spark.range(4000L).select(col("id").as("asset_id"),
        xxhash64(col("id")).as("dhash"))
      graft.operators.Dedup.writeHammingRegistry(reg, "asset_id", "dhash",
        "graft_plan_hm_del", s"$d/reg", numBuckets = 8)
      val tomb = spark.range(0, 4000, 2).select(col("id").as("asset_id"))
      val survivors = spark.table("graft_plan_hm_del").join(
        broadcast(tomb), Seq("asset_id"), "left_anti")
      survivors.collect()
      val plan = survivors.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"), plan)
      assert(!plan.contains("Exchange rangepartitioning"), plan)
      graft.operators.Dedup.deleteFromHammingRegistry(spark,
        "graft_plan_hm_del", s"$d/reg", tomb, numBuckets = 8)
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        // batch = 1-bit flips of SURVIVOR hashes (odd ids) — every row
        // matches, so the candidate join cannot collapse away
        val batch = spark.range(1, 4000, 2)
          .select((col("id") + 4000L).as("asset_id"),
            xxhash64(col("id")).bitwiseXOR(lit(1L)).as("dhash"))
        val screened = graft.operators.Dedup.incrementalHammingDup(batch,
          spark.table("graft_plan_hm_del"), "asset_id", "dhash")
        screened.collect()
        val sp = screened.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        assert(sp.contains("Bucketed: true"), sp)
        assert(sp.linesIterator.count(
          _.contains("Exchange hashpartitioning(band")) == 1, sp)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_plan_hm_del")
    }
  }

  test("dd09: exact-hash registry anti-joins exchange-free under the bucketed layout") {
    // the same zero-exchange contract for the EXACT incremental
    // registry (incremental()'s scaladoc names it): persisted bucketed
    // on the content hash, the daily anti-join exchanges only the
    // batch side — and the survivor window reuses that partitioning,
    // so the whole screen is ONE batch-sized shuffle
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val d = SparkTestSession.tempDir("h-reg-plan").toString
    try {
      val docs = Tables.load(spark, sf, "documents")
      val reg = docs.filter(col("doc_id") % 2 === 0)
        .select(sha2(col("text"), 256).as("h"))
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text")
      graft.operators.Bucketing.writeBucketedAt(reg, "graft_plan_h_reg",
        "h", 8, s"$d/reg")
      val inc = graft.operators.Dedup.incremental(batch,
        spark.table("graft_plan_h_reg"), "text", col("doc_id"))
      inc.collect() // finalize the adaptive plan
      val plan = inc.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("Bucketed: true"), plan)
      assert(plan.contains("LeftAnti"), plan)
      assert(plan.linesIterator.count(
        _.contains("Exchange hashpartitioning")) == 1, plan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_plan_h_reg")
    }
  }
}
