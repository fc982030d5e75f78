package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.apache.spark.sql.graft.bridge
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Property tests for connected components: against a driver-side
  * union-find reference (sharing no code with the distributed
  * operator), edge lists must label identically in each of the
  * operator's three arms, reached by graph SHAPE at its fixed BSP
  * budget: shallow graphs converge in the BSP rounds, random-id paths
  * longer than the budget contract onto their partial labels, and
  * monotone-id chains skip the contraction. Random edge lists hit the
  * shapes the example-based specs can't enumerate: components
  * converging at exactly the budget boundary, multi-component mixes of
  * blobs and threads, duplicate and self-loop edges, negative ids
  * (min-label must not assume non-negative).
  */
class CCPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import CCPropSpec.{reference, Run}

  private val edgeGen: Gen[(Long, Long)] = for {
    // small id space so transitive merges and duplicate edges are
    // common; negatives so min-label can't assume non-negative ids
    a <- Gen.choose(-25L, 25L)
    b <- Gen.choose(-25L, 25L)
  } yield (a, b)

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  /** Star forest over shuffled ids, one extra edge joining the first
    * two stars at most: diameter ≤ 3, so the BSP rounds detect the
    * fixpoint inside the budget (at its last round for diameter 3).
    */
  private def shallow(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((-30L to 30L).toVector)
    ids.grouped(2 + rnd.nextInt(6)).toSeq.flatMap { g =>
      g.tail.map(x => if (rnd.nextBoolean()) (g.head, x) else (x, g.head))
    } ++ Seq((ids(0), ids(0)), (ids(1), ids(2)), (ids(2), ids(1)))
  }

  /** A path over the shuffled ids 1..n. Far longer than the BSP
    * budget, window minima merge most labels, so the contraction pays.
    */
  private def randomPath(seed: Long, n: Int): Seq[(Long, Long)] = {
    val ids = new scala.util.Random(seed).shuffle((1L to n.toLong).toVector)
    ids.sliding(2).map(p => (p(0), p(1))).toSeq
  }

  /** A path whose ids ascend along it: label(i) = i − k after k rounds,
    * the classes stay singletons, and the contraction is skipped.
    */
  private def monotoneChain(from: Long, n: Int): Seq[(Long, Long)] =
    (from until from + n - 1).map(i => (i, i + 1))

  private def run(edges: Seq[(Long, Long)]): Run =
    CCPropSpec.run(spark, edges)

  private def check(name: String, edges: Seq[(Long, Long)], r: Run): Unit = {
    val expected = reference(edges)
    assert(r.labels == expected,
      s"$name: ${r.labels.toSet.diff(expected.toSet)} vs " +
        s"${expected.toSet.diff(r.labels.toSet)}")
  }

  test("hybrid equals union-find on random graphs at every BSP budget") {
    // the BSP budget is fixed, so "every budget" is reached by shape:
    // graphs that settle at each round the budget grants, and graphs
    // past it that escape into either star arm
    for (trial <- 0 until 8) {
      val m = sample(Gen.choose(1, 60), 4100L + trial)
      val edges = (0 until m).map(i =>
        sample(edgeGen, 4200L + trial * 1000 + i))
      check(s"random trial $trial (m=$m)", edges, run(edges))
    }
    // a self-loop settles in round 1; on a path whose ids ascend the
    // minimum's label walks all d edges, so the fixpoint is detected in
    // round d + 1: d = 1..3 settles in rounds 2..4 — the last round of
    // the budget — and d = 4..6 needs every round and then escapes
    val bySettleRound = (Seq(Seq((9L, 9L))) ++
        (1 to 3).map(d => monotoneChain(-2L, d + 1))).zipWithIndex
      .map { case (edges, k) =>
        val r = run(edges)
        check(s"settles in BSP round ${k + 1}", edges, r)
        assert(!r.skipped, s"settles in BSP round ${k + 1}: skipped")
        r.jobs
      }
    val pastBudget = (4 to 6).map { d =>
      val edges = monotoneChain(-2L, d + 1)
      val r = run(edges)
      check(s"ascending path of $d edges", edges, r)
      r.jobs
    }
    val converged = (0 until 3).map { t =>
      val edges = shallow(4300L + t)
      val r = run(edges)
      check(s"shallow $t", edges, r)
      assert(!r.skipped, s"shallow $t skipped the contraction")
      r.jobs
    }
    val contracted = Seq(12, 20, 45).map { n =>
      val edges = randomPath(4400L + n, n)
      val r = run(edges)
      check(s"random-id path of $n", edges, r)
      assert(!r.skipped, s"random-id path of $n skipped the contraction")
      r.jobs
    }
    val skipped = Seq((-3L, 20), (500L, 60)).map { case (from, n) =>
      val edges = monotoneChain(from, n)
      val r = run(edges)
      check(s"monotone chain of $n", edges, r)
      assert(r.skipped, s"monotone chain of $n contracted")
      r.jobs
    }
    // the converged arm stops after the BSP rounds; both escape arms
    // run all of them, then the shrinkage check and the star rounds
    val settled = bySettleRound ++ converged
    val escaped = pastBudget ++ contracted ++ skipped
    assert(settled.max < escaped.min,
      s"jobs: by settle round $bySettleRound, converged $converged, " +
        s"past budget $pastBudget, contracted $contracted, " +
        s"skipped $skipped")
  }

  test("star contraction equals union-find on random graphs") {
    // each random edge list is tied by one edge to a path far past the
    // BSP budget, so star contraction labels the random structure:
    // even trials hang it on a 200-node monotone chain (merges ≤ 55 of
    // ≥ 200 nodes, shrinkage < 0.3: star runs on the ORIGINAL edges),
    // odd trials on a 45-node random-id path (the contraction pays:
    // star runs on the contracted graph)
    for (trial <- 0 until 4) {
      val m = sample(Gen.choose(1, 60), 5100L + trial)
      val random = (0 until m).map(i =>
        sample(edgeGen, 5200L + trial * 1000 + i))
      val path =
        if (trial % 2 == 0) monotoneChain(1000L, 200)
        else randomPath(5300L + trial, 45).map { case (a, b) =>
          (a + 1000L, b + 1000L)
        }
      val edges = random ++ path :+ (random.head._1, path.head._1)
      val r = run(edges)
      check(s"trial $trial (m=$m)", edges, r)
      assert(r.skipped == (trial % 2 == 0),
        s"trial $trial (m=$m): skipped = ${r.skipped}")
    }
  }

  test("observe() metrics arrive on an eager localCheckpoint()") {
    // the CC loops read each round's edge count from the checkpoint
    // job's observed metrics instead of a count() job; the wait is
    // bounded so a regression fails here instead of hanging like obs.get
    val obs = Observation("cc-round")
    val cp = (1 to 1000).toDF("x").filter(col("x") % 3 === 0)
      .observe(obs, count(lit(1)).as("n"),
        count(when(col("x") > 900, lit(1))).as("big"))
      .localCheckpoint()
    val got = Await.result(obs.future, 30.seconds)
    assert(got.getAs[Long]("n") == cp.count() && got.getAs[Long]("n") == 333L)
    assert(got.getAs[Long]("big") == 33L)
  }
}

object CCPropSpec {

  /** One operator run: its labels, the Spark jobs it started, and
    * whether it logged the contraction-skip WARN line.
    */
  final case class Run(labels: Map[Long, Long], jobs: Int,
                       skipped: Boolean)

  /** Runs [[Dedup.connectedComponents]] on `edges`, counting the Spark
    * jobs it starts and watching its logger for the contraction-skip
    * WARN line — which arm ran, read from what the operator emits.
    */
  def run(spark: SparkSession, edges: Seq[(Long, Long)]): Run = {
    import spark.implicits._
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val warned = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("cc-arm", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warned.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(Dedup.getClass.getName)
      .asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    bridge.drainListeners(sc)
    sc.addSparkListener(listener)
    val labels =
      try Dedup.connectedComponents(edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally {
        bridge.drainListeners(sc)
        sc.removeSparkListener(listener)
        logger.removeAppender(appender)
        appender.stop()
      }
    Run(labels, jobs.get(),
      warned.asScala.exists(_.contains("contraction SKIPPED")))
  }

  /** Union-find with min-id representative — the reference every
    * connected-components spec compares the operator against.
    */
  def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      // min id wins the root, matching the engine's cluster contract
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    edges.foreach { case (a, b) => find(a); find(b); union(a, b) }
    parent.keys.map(k => k -> find(k)).toMap ++
      edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
  }

  /** Min-label propagation on the driver, run to its fixpoint with no
    * round budget — the BSP reference, independent of both the
    * operator and [[reference]].
    */
  def bspReference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
    var labels = nbrs.keys.map(n => n -> n).toMap
    var changed = true
    while (changed) {
      val next = labels.map { case (n, l) =>
        n -> (l +: nbrs(n).map(labels)).min
      }
      changed = next != labels
      labels = next
    }
    labels
  }
}
