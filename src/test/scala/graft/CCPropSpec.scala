package graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{col, count, lit, when}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Property tests for connected components: against a driver-side
  * union-find reference (a THIRD implementation, sharing no code with
  * either distributed path), random edge lists must label identically
  * under the hybrid at every BSP budget — including budgets that force
  * the star escape mid-convergence — and under pure star contraction.
  * Random graphs hit the shapes the example-based specs can't
  * enumerate: components converging at exactly the budget boundary,
  * multi-component mixes of blobs and threads, duplicate and
  * self-loop edges, negative ids (min-label must not assume
  * non-negative).
  */
class CCPropSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Union-find with min-id representative — the reference. */
  private def reference(edges: Seq[(Long, Long)]): Map[Long, Long] = {
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

  private val edgeGen: Gen[(Long, Long)] = for {
    // small id space so transitive merges and duplicate edges are
    // common; negatives so min-label can't assume non-negative ids
    a <- Gen.choose(-25L, 25L)
    b <- Gen.choose(-25L, 25L)
  } yield (a, b)

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default, Seed(seed)).get

  test("hybrid equals union-find on random graphs at every BSP budget") {
    for (trial <- 0 until 8) {
      val m = sample(Gen.choose(1, 60), 4100L + trial)
      val edges = (0 until m).map(i =>
        sample(edgeGen, 4200L + trial * 1000 + i))
      val bspRounds = 1 + trial % 4 // budgets 1..4 across trials
      val expected = reference(edges)
      val got = Dedup.connectedComponentsHybrid(
          edges.toDF("src", "dst"), bspRounds = bspRounds, maxIter = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected,
        s"trial $trial (bspRounds=$bspRounds, m=$m): " +
          s"${got.toSet.diff(expected.toSet)} vs " +
          s"${expected.toSet.diff(got.toSet)}")
    }
  }

  test("star contraction equals union-find on random graphs") {
    for (trial <- 0 until 4) {
      val m = sample(Gen.choose(1, 60), 5100L + trial)
      val edges = (0 until m).map(i =>
        sample(edgeGen, 5200L + trial * 1000 + i))
      val expected = reference(edges)
      val got = Dedup.connectedComponents(
          edges.toDF("src", "dst"), maxIter = 30)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (m=$m)")
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
