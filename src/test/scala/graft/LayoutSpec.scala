package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Layout

/** Z-order layout: interleave correctness against a bit-twiddling
  * reference, and the property the operator exists for — a z-clustered
  * layout bounds BOTH dimensions per output file (tight min/max pruning
  * stats), where a single-key sort leaves the second dimension
  * unbounded.
  */
class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Reference Morton interleave (classic magic-number spread). */
  private def mortonRef(a: Long, b: Long, bits: Int): Long = {
    def spread(v: Long): Long =
      (0 until bits).foldLeft(0L)((acc, i) => acc | ((v & (1L << i)) << i))
    spread(a & ((1L << bits) - 1)) | (spread(b & ((1L << bits) - 1)) << 1)
  }

  test("zValue matches the reference interleave over a sample grid") {
    val rows = for (a <- 0L until 64L by 7L; b <- 0L until 64L by 5L)
      yield (a, b)
    val got = rows.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zValue(col("a"), col("b"), 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((a, b) <- rows)
      assert(got((a, b)) == mortonRef(a, b, 16),
        s"interleave mismatch at ($a,$b)")
    // masking: values past `bits` bits are dropped, not wrapped oddly
    val big = Seq((70000L, 3L)).toDF("a", "b")
      .select(Layout.zValue(col("a"), col("b"), 16)).head().getLong(0)
    assert(big == mortonRef(70000L & 0xFFFF, 3L, 16))
  }

  test("z-clustered files bound both dims; single-key sort does not") {
    // 64×64 uniform grid → 16 files. Perfect z-chunks of 256 points are
    // 16×16 blocks (range 15 per dim); sampled range boundaries may
    // straddle a block seam, so assert a 2-block envelope. The
    // single-key layout pins dim a but leaves b spanning the full 0..63.
    val grid = (for (a <- 0 until 64; b <- 0 until 64) yield (a, b))
      .toDF("a", "b").repartition(8)
    val zEnv = Layout.fileEnvelopes(
      Layout.zorder(grid, "a", "b", numFiles = 16), "a", "b")
      .collect()
    assert(zEnv.length == 16)
    for (r <- zEnv) {
      val (aMin, aMax) = (r.getAs[Int]("a_min"), r.getAs[Int]("a_max"))
      val (bMin, bMax) = (r.getAs[Int]("b_min"), r.getAs[Int]("b_max"))
      assert(aMax - aMin <= 32, s"file ${r.get(0)}: a range ${aMax - aMin}")
      assert(bMax - bMin <= 32, s"file ${r.get(0)}: b range ${bMax - bMin}")
    }
    val aEnv = Layout.fileEnvelopes(
      grid.repartitionByRange(16, col("a")).sortWithinPartitions("a"),
      "a", "b").collect()
    assert(aEnv.exists(r =>
      r.getAs[Int]("b_max") - r.getAs[Int]("b_min") == 63),
      "single-key layout should leave b unbounded in at least one file")
    // the pruning consequence: a point-range predicate on b alone
    // intersects every single-key file but only a minority of z-files
    def hitsB(env: Array[org.apache.spark.sql.Row], lo: Int, hi: Int) =
      env.count(r => r.getAs[Int]("b_min") <= hi && r.getAs[Int]("b_max") >= lo)
    assert(hitsB(aEnv, 10, 13) == 16)
    assert(hitsB(zEnv, 10, 13) <= 8,
      "z layout should skip at least half the files for a narrow b range")
  }
}
