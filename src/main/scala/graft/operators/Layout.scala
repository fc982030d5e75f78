package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Z-order (Morton) interleave of two dimensions (SURVEY.md §2c
  * extension surface), as a Column and as the identical SQL text.
  *
  * Why it matters at 100 TB: parquet readers skip row groups / files
  * whose column min/max stats exclude a predicate, but a table sorted
  * by ONE key only prunes on that key. Sorting by the interleaved bits
  * of two keys lays every file out as a small RECTANGLE in (a, b)
  * space, so min/max stats on BOTH columns stay tight and point/range
  * predicates on EITHER dimension skip most files (the Delta/Iceberg
  * `ZORDER BY` idea, from Morton 1966). The z-value itself is ~2·bits
  * bitwise ops in whole-stage codegen — no UDF. q44 buckets lineitem
  * by its high bits, and `GraftExtensions` registers it as the
  * `z_value` SQL function.
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
}
