package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.VecKernels._

/** The kernel table: every compiled [[graft.functions.VecKernels]]
  * factory next to its TWIN — the cheapest formulation Spark already has
  * for the same values (a codegen'd built-in where one exists, else the
  * interpreted higher-order-function fold the kernel replaced).
  *
  * Two readers, one definition:
  *   - VecKernelsSpec pins each kernel to the `Twins` def of the same
  *     name on adversarial inputs (nulls, mismatched lengths, empties);
  *   - KernelBench times kernel vs twin on synthetic arrays through the
  *     `rows` below.
  *
  * A VecKernels factory without a row here fails VecKernelsSpec.
  */
object KernelTable {

  object Twins {
    private val Dec30 = DecimalType(30, 12)

    /** ≡ x.cast(double).cast(DECIMAL(12,6)) per element through the
      * codegen'd array Casts the operators use; the decimal twins fold
      * over it.
      */
    def dec6(c: Column): Column = graft.operators.Similarity.dec6(c)

    private def decFold(xs: Column): Column =
      aggregate(xs, lit(0).cast(Dec30), (acc, v) => (acc + v).cast(Dec30))

    def dotD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (p, q) => p * q), lit(0.0), (acc, v) => acc + v)

    def sqDistD(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0),
        (acc, v) => acc + v)

    def subD(a: Column, b: Column): Column = zip_with(a, b, (x, y) => x - y)

    /** The exact decimal dot over two DECIMAL(12,6) arrays. */
    def dotDec(da: Column, db: Column): Column =
      decFold(zip_with(da, db, (p, q) => p * q))

    def sqDistDec(da: Column, db: Column): Column =
      decFold(zip_with(da, db, (x, y) => (x - y) * (x - y)))

    def dotL(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (p, q) => p * q), lit(0L), (acc, v) => acc + v)

    def wordNgramsAll(w: Column, n: Int): Column =
      transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n))))

    def wordNgrams(w: Column, n: Int): Column = array_distinct(wordNgramsAll(w, n))

    def idPairs(ids: Column): Column =
      flatten(transform(ids, a =>
        transform(filter(ids, b => b > a), b => struct(a.as("da"), b.as("db")))))

    /** Dedup's centered-sketch projection of plane `j`: the double
      * multiply–xorshift ±1 sign per position, (22,6) decimal fold.
      */
    private def hyperplaneProj(d: Column, j: Column): Column = {
      def sign(p: Column): Column = {
        val idx = (j * 4096 + p + 1).cast(LongType)
        val h1 = pmod(idx * 2654435761L, lit(2147483648L))
        val h2 = h1.bitwiseXOR(call_function("shiftright", h1, lit(16)))
        val h3 = pmod(h2 * 1597334677L, lit(2147483648L))
        val h4 = h3.bitwiseXOR(call_function("shiftright", h3, lit(16)))
        when(pmod(h4, lit(2)) === 0, 1).otherwise(-1)
      }
      aggregate(
        zip_with(d, sequence(lit(0), size(d) - 1), (x, p) =>
          (x * sign(p)).cast(DecimalType(22, 6))),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(22, 6)),
        (a, t) => (a + t).cast(DecimalType(22, 6)))
    }

    def hplaneProjs(v: Column, bits: Int): Column =
      transform(sequence(lit(0), lit(bits - 1)), j => hyperplaneProj(dec6(v), j))

    def maxRun(sorted: Column): Column = {
      def run(acc: Column, x: Column): Column =
        when(x === acc.getField("prev"), acc.getField("run") + 1).otherwise(lit(1L))
      aggregate(sorted,
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => struct(x.as("prev"), run(acc, x).as("run"),
          greatest(acc.getField("best"), run(acc, x)).as("best")),
        acc => acc.getField("best"))
    }

    /** md5 of every k-word gram, empty below k tokens. */
    def winnowGrams(t: Column, k: Int): Column =
      when(size(t) >= k,
        transform(sequence(lit(0), size(t) - k),
          i => md5(concat_ws(" ", slice(t, i + 1, lit(k))))))
        .otherwise(array().cast(ArrayType(StringType)))

    /** The window-min + distinct step over the grams of one row — the
      * grams are bound once per row (the lambda argument), as the
      * pre-kernel operator computed them in their own projection.
      * Defined for rows WITH grams (the operator filtered the rest).
      */
    def winnowFps(t: Column, k: Int, w: Int): Column =
      element_at(transform(array(winnowGrams(t, k)), g =>
        array_distinct(transform(
          sequence(lit(0), greatest(size(g) - w, lit(0))),
          j => array_min(slice(g, j + 1, lit(w)))))), 1)

    def simHashVote(hs: Column): Column =
      aggregate(sequence(lit(0), lit(63)), lit(0L),
        (acc, b) => acc + when(
          aggregate(hs, lit(0),
            (v, h) => v + when(call_function("shiftright", h, b)
              .bitwiseAND(1) === 1, 1).otherwise(-1)) > 0,
          call_function("shiftleft", lit(1L), b)).otherwise(0L))
        .cast(LongType)

    def sigAgree(a: Column, b: Column): Column =
      size(filter(zip_with(a, b, (x, y) => x === y), v => v))

    /** Similarity.lshTables' per-table xxhash64 hyperplane signatures. */
    def lshSigs(v: Column, bits: Int, tables: Int): Column = {
      def sig(t: Column): Column =
        (0 until bits).map { j =>
          val proj = aggregate(
            zip_with(v, sequence(lit(0), size(v) - 1), (x, p) =>
              x.cast(DoubleType) *
                when(pmod(xxhash64(t * bits + j, p), lit(2)) === 0, 1.0)
                  .otherwise(-1.0)),
            lit(0.0), (acc, e) => acc + e)
          when(proj > 0, call_function("shiftleft", lit(1L), lit(j))).otherwise(0L)
        }.reduce(_ + _)
      transform(sequence(lit(0), lit(tables - 1)), sig(_))
    }

    def hammingDist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseXOR(y)).cast(LongType)),
        lit(0L), (acc, e) => acc + e)

    def binaryCode(v: Column): Column =
      transform(sequence(lit(0), ((size(v) - 1) / 64).cast(IntegerType)), w =>
        aggregate(sequence(lit(0), lit(63)), lit(0L), (acc, j) => {
          val idx = w * 64 + j + 1
          acc + when(idx <= size(v) && element_at(v, idx).cast(DoubleType) > 0.0,
            call_function("shiftleft", lit(1L), j)).otherwise(0L)
        }))

    def bigramHeads(t: Column): Column =
      when(size(t) >= 2, transform(sequence(lit(0), size(t) - 2), i =>
        struct(concat_ws(" ", slice(t, i + 1, lit(2))).as("bg"),
          element_at(t, i + 1).as("w1"))))
        .otherwise(array().cast(ArrayType(StructType(Seq(
          StructField("bg", StringType), StructField("w1", StringType))))))

    def bigramPairs(t: Column): Column = {
      val pair = ArrayType(StructType(Seq(
        StructField("w1", StringType), StructField("w2", StringType))))
      when(size(t) >= 2, arrays_zip(slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1)).cast(pair))
        .otherwise(array().cast(pair))
    }

    def nearestCodeL2(codes: Column, v: Column): Column =
      aggregate(codes,
        struct(lit(null).cast(DoubleType).as("_d"), lit(null).cast(LongType).as("_c")),
        (acc, s) => {
          val d = sqDistD(v, s.getField("cvec"))
          when(acc.getField("_c").isNull || d < acc.getField("_d"),
            struct(d.as("_d"), s.getField("_code").cast(LongType).as("_c")))
            .otherwise(acc)
        }).getField("_c")
  }

  /** The synthetic columns a row reads; KernelBench builds each at array
    * length L.
    *   - Pair: a, b — array<double> in (−1000, 1000)
    *   - Codes8: a, b — array<bigint> int8 codes in [−127, 127]
    *   - Words: a, b — array<bigint>, full 64-bit random
    *   - Sigs: a, b — array<bigint> in [0, 4), about half the positions agree
    *   - Vec: v — array<float> (the stored embedding type)
    *   - Toks / Sorted: t — array<string> over a 500-word vocabulary
    *     (Sorted: array_sort'ed)
    *   - Ids: ids — array<bigint> posting list
    *   - Hashes: hs — array<bigint> token hashes
    *   - Codebook: codes — L × struct<_code, cvec: 4 doubles>, v — 4 doubles
    *   - S3Lines / AlbLines: value — raw access-log lines
    */
  sealed trait Input
  object Input {
    case object Pair extends Input
    case object Codes8 extends Input
    case object Words extends Input
    case object Sigs extends Input
    case object Vec extends Input
    case object Toks extends Input
    case object Sorted extends Input
    case object Ids extends Input
    case object Hashes extends Input
    case object Codebook extends Input
    case object S3Lines extends Input
    case object AlbLines extends Input
  }

  /** One table row. `work(L)` estimates the element operations per input
    * row at length L; KernelBench sizes its inputs by it. `gateLen` is
    * the benched length nearest to what the row's gates feed it; 0 marks
    * a fixed-shape input benched once.
    */
  final case class Row(name: String, twin: String, input: Input, gateLen: Int,
                       work: Int => Long, kernelRun: DataFrame => DataFrame,
                       twinRun: DataFrame => DataFrame)

  private def sel(c: Column): DataFrame => DataFrame = _.select(c.as("out"))

  private def row(name: String, twin: String, input: Input, gateLen: Int,
                  work: Int => Long, kernel: Column, twinCol: Column): Row =
    Row(name, twin, input, gateLen, work, sel(kernel), sel(twinCol))

  // gate lengths: embeddings are 64 floats; documents have a median of
  // 56 tokens; minhash signatures 32 hashes; PQ sub-codebooks 32 codes;
  // a 64-dim binary code is one word; most shingle postings are short
  private val a = col("a"); private val b = col("b"); private val v = col("v")
  private val t = col("t")
  private val lin: Int => Long = l => l.toLong
  private val LshBits = 4; private val LshTables = 16; private val SketchBits = 8
  private val ShingleN = 3; private val SpanN = 8
  private val WinK = 3; private val WinW = 4

  /** Built on each call: kernels capture session conf (ANSI) when built. */
  def rows: Seq[Row] = {
    import Twins._
    Seq(
      row("vec_dot_d", "aggregate(zip_with)", Input.Pair, 64, lin,
        vec_dot_d(a, b), dotD(a, b)),
      row("vec_sqdist_d", "aggregate(zip_with)", Input.Pair, 64, lin,
        vec_sqdist_d(a, b), sqDistD(a, b)),
      row("vec_sub_d", "zip_with", Input.Pair, 64, lin,
        vec_sub_d(a, b), subD(a, b)),
      row("vec_dot_dec", "aggregate(zip_with) over cast", Input.Pair, 64, lin,
        vec_dot_dec(a, b), dotDec(dec6(a), dec6(b))),
      row("vec_sqdist_dec", "aggregate(zip_with) over cast", Input.Pair, 64, lin,
        vec_sqdist_dec(a, b), sqDistDec(dec6(a), dec6(b))),
      row("vec_dot_l", "aggregate(zip_with)", Input.Codes8, 64, lin,
        vec_dot_l(a, b), dotL(a, b)),
      row("word_ngrams", "array_distinct(transform)", Input.Toks, 64,
        l => l.toLong * ShingleN, word_ngrams(t, ShingleN), wordNgrams(t, ShingleN)),
      row("id_pairs", "flatten(transform(filter))", Input.Ids, 8,
        l => l.toLong * l, id_pairs(col("ids")), idPairs(col("ids"))),
      row("hplane_projs", "transform(aggregate(zip_with))", Input.Vec, 64,
        l => l.toLong * SketchBits, hplane_projs(v, SketchBits),
        hplaneProjs(v, SketchBits)),
      row("max_run", "aggregate", Input.Sorted, 64, lin, max_run(t), maxRun(t)),
      row("winnow_fps", "transform(array_min(slice))", Input.Toks, 64,
        l => l.toLong * (WinK + WinW), winnow_fps(t, WinK, WinW),
        winnowFps(t, WinK, WinW)),
      row("simhash_vote", "aggregate(aggregate)", Input.Hashes, 64,
        l => l.toLong * 64, simhash_vote(col("hs")), simHashVote(col("hs"))),
      row("sig_agree", "size(filter(zip_with))", Input.Sigs, 64, lin,
        sig_agree(a, b), sigAgree(a, b)),
      row("lsh_sigs", "transform(aggregate(zip_with))", Input.Vec, 64,
        l => l.toLong * LshBits * LshTables, lsh_sigs(v, LshBits, LshTables),
        lshSigs(v, LshBits, LshTables)),
      row("hamming_dist", "aggregate(zip_with)", Input.Words, 8, lin,
        hamming_dist(a, b), hammingDist(a, b)),
      row("binary_code", "transform(aggregate)", Input.Vec, 64, lin,
        binary_code(v), binaryCode(v)),
      row("word_ngrams_all", "transform", Input.Toks, 64,
        l => l.toLong * SpanN, word_ngrams_all(t, SpanN), wordNgramsAll(t, SpanN)),
      row("bigram_heads", "transform", Input.Toks, 64, lin,
        bigram_heads(t), bigramHeads(t)),
      row("bigram_pairs", "arrays_zip(slice, slice)", Input.Toks, 64, lin,
        bigram_pairs(t), bigramPairs(t)),
      row("nearest_code_l2", "aggregate(zip_with)", Input.Codebook, 64,
        l => l.toLong * 4, nearest_code_l2(col("codes"), v),
        nearestCodeL2(col("codes"), v)),
      // the two line scanners (not VecKernels factories): each parser's
      // fused path against its own built-in regex path
      Row("s3_parse (ParseS3AccessLog)", "26x regexp_extract", Input.S3Lines,
        0, _ => 26L, graft.sources.S3AccessLog.parse(_, fused = true),
        graft.sources.S3AccessLog.parse(_, fused = false)),
      Row("alb_parse (QuoteTokenize)", "regexp_extract_all", Input.AlbLines, 64,
        lin, graft.sources.AlbAccessLog.parse(_, fused = true),
        graft.sources.AlbAccessLog.parse(_, fused = false)))
  }
}
