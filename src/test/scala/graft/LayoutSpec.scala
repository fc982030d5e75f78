package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Layout

/** Z-order interleave correctness against a bit-twiddling reference. */
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
}
