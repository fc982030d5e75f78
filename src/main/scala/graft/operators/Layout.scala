package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-layout operators for scan pruning at scale (SURVEY.md §2c
  * extension surface): Z-order (Morton) multi-dimensional clustering.
  *
  * Why it matters at 100 TB: parquet readers skip row groups / files
  * whose column min/max stats exclude a predicate, but a table sorted
  * by ONE key only prunes on that key. Interleaving the bits of two
  * keys and range-partitioning by the interleaved value lays every
  * file out as a small RECTANGLE in (a, b) space, so min/max stats on
  * BOTH columns stay tight and point/range predicates on EITHER
  * dimension skip most files (the Delta/Iceberg `ZORDER BY` idea,
  * from Morton 1966). The z-value itself is ~2·bits bitwise ops in
  * whole-stage codegen — no UDF, no shuffle beyond the final
  * range-exchange that any sorted write needs anyway.
  */
object Layout {

  /** Morton/Z-order interleave of two dimension columns, each clamped
    * to its low `bits` bits (bit i of `a` → bit 2i, bit i of `b` →
    * bit 2i+1). Pure bitwise expression — codegen-friendly, exactly
    * reproducible in any engine with `&`/`|`/`<<` (see [[zSql]]).
    * Negative inputs are masked like any other value; callers who need
    * sign order preserved should bias to non-negative first.
    */
  def zValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val mask = (1L << bits) - 1
    val am = a.cast(LongType).bitwiseAND(lit(mask))
    val bm = b.cast(LongType).bitwiseAND(lit(mask))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(am.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(bm.bitwiseAND(lit(1L << i)), i + 1))
    }
  }

  /** The identical interleave as ANSI SQL over expression strings —
    * the DuckDB oracle runs this text so both engines compute the same
    * bit-exact integer.
    */
  def zSql(a: String, b: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")
    val mask = (1L << bits) - 1
    val am = s"(CAST($a AS BIGINT) & $mask)"
    val bm = s"(CAST($b AS BIGINT) & $mask)"
    val terms = (0 until bits).flatMap { i =>
      Seq(s"(($am & ${1L << i}) << $i)", s"(($bm & ${1L << i}) << ${i + 1})")
    }
    terms.mkString("(", " | ", ")")
  }

  /** Cluster `df` into `numFiles` z-ordered output partitions on
    * (aCol, bCol): range-partition by the interleaved value (the low 16
    * bits of each dimension), then sort
    * within each partition — each output file covers a contiguous
    * z-range, i.e. a bounded rectangle stack in (a, b). One range
    * exchange (sampled boundaries), no global sort barrier; this is
    * the write-side layout step before a parquet sink.
    */
  def zorder(df: DataFrame, aCol: String, bCol: String,
             numFiles: Int): DataFrame = {
    val z = zValue(col(aCol), col(bCol), 16).as("__z")
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Per-file (per-partition) min/max envelope of both dimensions
    * under a given layout — the exact statistics a parquet reader
    * prunes with. Used by specs and ops reports to quantify skipping:
    * the fraction of files whose [min,max] envelope intersects a
    * predicate IS the fraction of files scanned.
    */
  def fileEnvelopes(df: DataFrame, aCol: String, bCol: String): DataFrame =
    df.select(spark_partition_id().as("file"), col(aCol).as("a"), col(bCol).as("b"))
      .groupBy("file")
      .agg(min("a").as("a_min"), max("a").as("a_max"),
        min("b").as("b_min"), max("b").as("b_max"),
        count(lit(1)).as("rows"))
}
