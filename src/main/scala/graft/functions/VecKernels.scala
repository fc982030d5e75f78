package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._

/** Compiled per-row vector kernels — bit-identical replacements for the
  * interpreted higher-order-function folds on the similarity/dedup hot
  * paths.
  *
  * WHY: Spark's array HOFs (`zip_with`, `aggregate`, `transform`) are
  * CodegenFallback — every ELEMENT evaluation walks an expression tree
  * with virtual calls and boxed lambda variables. Each kernel here
  * evaluates the SAME fold as straight-line JVM code over the unsafe
  * ArrayData and emits a static helper call under whole-stage codegen
  * (the [[ParseS3AccessLogExpr]] pattern), so the surrounding stage
  * stays fused. Every factory has a row in the test-scope kernel table
  * (`graft.KernelTable`: its twin = the cheapest equivalent formulation,
  * a codegen'd built-in where Spark has one) and stays only while it
  * pays against that twin at its gate length: ≥ 9 of 10 alternating
  * pairs won AND a median gap wider than the twin's IQR
  * (`sbt "Test/runMain graft.KernelBench"`, BENCH_NOTES.md "Kernel
  * table"). Kernels that lost to a built-in were deleted.
  *
  * EQUIVALENCE CONTRACT (pinned by VecKernelsSpec against each
  * kernel's KernelTable twin): every kernel reproduces its twin
  * exactly —
  *   - identical IEEE operation ORDER (sequential left fold, same ops),
  *   - identical decimal promotion/rounding (products exact, per-step
  *     accumulator cast with overflow→null, the cosineExact analysis),
  *   - identical null semantics (length mismatch or null element
  *     poisons the fold exactly where the HOF's null would),
  * so swapping a call site can never change a result byte.
  */
object VecKernels {

  // ---------- Column factories ----------

  /** ≡ aggregate(zip_with(a, b, (p,q) => p*q), lit(0.0), _+_) — IEEE
    * double dot product in array order; null on length mismatch or any
    * null element (the zip_with-pads-null / null-poisons-sum HOF
    * semantics). Accepts float or double elements (float reads widen
    * exactly, as x.cast(double) does).
    */
  def vec_dot_d(a: Column, b: Column): Column =
    bridge.column(VecDotD(bridge.expression(a), bridge.expression(b)))

  /** ≡ aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), lit(0.0), _+_). */
  def vec_sqdist_d(a: Column, b: Column): Column =
    bridge.column(VecSqDistD(bridge.expression(a), bridge.expression(b)))

  /** ≡ zip_with(a, b, (x, y) => x - y) over double arrays (same length
    * by caller contract; mismatched tails yield null elements exactly
    * like zip_with's padding).
    */
  def vec_sub_d(a: Column, b: Column): Column =
    bridge.column(VecSubD(bridge.expression(a), bridge.expression(b)))

  /** ≡ aggregate(zip_with(decA, decB, _*_), lit(0).cast(DEC(30,12)),
    *     (acc, v) => (acc + v).cast(DEC(30,12)))
    * where decX = transform(x, e => e.cast(double).cast(DEC(12,6))) when
    * the input carries float/double elements, or the already-cast
    * DECIMAL(12,6) array itself — the exact-decimal dot shared by
    * cosineExact / scoredPairs(exact) / mmr / int8 re-rank. Products are
    * exact DECIMAL(25,12); each accumulator step's cast to (30,12) is
    * value-lossless below 1e18 and nulls on overflow, exactly like the
    * HOF chain.
    */
  def vec_dot_dec(a: Column, b: Column): Column =
    bridge.column(VecDotDec(bridge.expression(a), bridge.expression(b)))

  /** ≡ aggregate(zip_with(decA, decB, (a,b) => (a-b)*(a-b)),
    *     lit(0).cast(DEC(30,12)), (acc, v) => (acc + v).cast(DEC(30,12)))
    * — [[graft.operators.Clustering]]'s exact squared euclidean: per
    * position (a−b) is DECIMAL(13,6) exact, squared (27,12) exact,
    * accumulator steps exact with the (31,12)→(30,12) cast's
    * overflow-null/throw. Input element handling as [[vec_dot_dec]].
    */
  def vec_sqdist_dec(a: Column, b: Column): Column =
    bridge.column(VecSqDistDec(bridge.expression(a), bridge.expression(b)))

  /** ≡ aggregate(zip_with(a, b, _*_), lit(0L), _+_) over long arrays
    * (int8 codes): Java long wrap-around semantics, same as Spark's
    * non-ANSI Multiply/Add on bigint.
    */
  def vec_dot_l(a: Column, b: Column): Column =
    bridge.column(VecDotL(bridge.expression(a), bridge.expression(b)))

  /** ≡ [[graft.operators.Dedup.shingles]]' array step:
    * array_distinct(transform(sequence(0, len-n),
    *   i => concat_ws(" ", slice(words, i+1, n)))) — the distinct word
    * n-grams of a words array (first-occurrence order, binary string
    * equality, concat_ws's null-skipping join). The HOF chain walks
    * ~n interpreted nodes per emitted gram; this builds them in one
    * compiled pass. Caller contract (pinned by the existing filter):
    * size(words) >= n.
    */
  def word_ngrams(words: Column, n: Int): Column =
    bridge.column(WordNgrams(bridge.expression(words), n))

  /** ≡ [[graft.operators.Dedup]]'s posting-pair emission:
    * flatten(transform(ids, a => transform(filter(ids, b => b > a),
    *   b => struct(a AS da, b AS db)))) over a bigint id array — all
    * ordered pairs (a, b) with b > a, in the HOF's exact emission
    * order, null ids contributing/matching nothing (null predicate ⇒
    * dropped).
    */
  def id_pairs(ids: Column): Column =
    bridge.column(IdPairs(bridge.expression(ids)))

  /** ≡ [[graft.operators.Dedup]]'s per-plane centered-sketch
    * projections: for j in 0..bits-1,
    * aggregate(zip_with(decArr, sequence(0, len-1), (x, p) =>
    *   (x · hyperplaneSign(j, p)).cast(DEC(22,6))), 0, (a,t) =>
    *   (a+t).cast(DEC(22,6))) — the double multiply–xorshift ±1 sign
    * over (j·4096 + p + 1), exact ±x decimal sums, per-step (22,6)
    * overflow (ANSI throw / legacy null), null elements poisoning
    * plane j to null. Returns the array of `bits` projections.
    */
  def hplane_projs(decArr: Column, bits: Int): Column =
    bridge.column(HplaneProjs(bridge.expression(decArr), bits))

  /** ≡ [[graft.operators.TextAnalysis.repetitionStats]]' top-token
    * fold over a SORTED string array:
    * aggregate(sorted, ("", 0L, 0L), (acc, x) => (x,
    *   if (x == prev) run+1 else 1, greatest(best, run')), _.best) —
    * the longest equal-run = max token multiplicity.
    */
  def max_run(sorted: Column): Column =
    bridge.column(MaxRun(bridge.expression(sorted)))

  /** ≡ [[graft.operators.TextAnalysis.winnow]]'s fused gram+window
    * pipeline over the token array: grams = md5(concat_ws(" ",
    * slice(toks, i+1, k))) for i in 0..len−k (empty when len < k);
    * fingerprints = array_distinct(transform(sequence(0,
    * greatest(len(grams)−w, 0)), j => array_min(slice(grams, j+1, w))))
    * — identical md5 hex, identical binary-min and first-occurrence
    * distinct. Returns the fingerprint array (empty when no grams —
    * the caller's size-filter semantics).
    */
  def winnow_fps(toks: Column, k: Int, w: Int): Column =
    bridge.column(WinnowFps(bridge.expression(toks), k, w))

  /** ≡ the [[graft.operators.Dedup.simHash]] 64-bit majority vote:
    * for b in 0..63: acc + (Σ_h (((h >> b) & 1) == 1 ? 1 : -1) > 0
    * ? 1L << b : 0), null hash elements voting -1 (the when/otherwise
    * null semantics).
    */
  def simhash_vote(hs: Column): Column =
    bridge.column(SimHashVote(bridge.expression(hs)))

  /** ≡ size(filter(zip_with(a, b, (x,y) => x === y), v => v)) over
    * bigint signature arrays: count of positions where both sides are
    * non-null and equal; -1 when either array is null (legacy
    * size(null) semantics the screen relies on).
    */
  def sig_agree(a: Column, b: Column): Column =
    bridge.column(SigAgree(bridge.expression(a), bridge.expression(b)))

  /** ≡ [[graft.operators.Similarity.lshTables]]' per-table signature
    * derivation: for table t in 0..tables-1, bit j in 0..bits-1,
    * proj(t,j) = Σ_p v_p · (pmod(xxhash64(t·bits + j, p), 2) = 0 ?
    * 1.0 : -1.0) (IEEE, ascending p), sig_t = Σ_j (proj > 0 ?
    * 1L << j : 0). Returns the array<long> of per-table signatures
    * (null/absent elements zero the affected planes exactly like the
    * when/otherwise chain). The xxhash64 chain is evaluated via the
    * same XXH64 primitive Spark's expression uses (seed 42, ints
    * hashed in sequence) — values identical, but hashed once per
    * (plane, position) in compiled code instead of per element of an
    * interpreted zip_with.
    */
  def lsh_sigs(vec: Column, bits: Int, tables: Int): Column =
    bridge.column(LshSigs(bridge.expression(vec), bits, tables))

  /** ≡ [[graft.operators.Similarity.bqSearch]]'s hamming fold:
    * aggregate(zip_with(a, b, (x,y) => bit_count(x xor y).cast(long)),
    *   lit(0L), _+_) over two bigint code arrays — null on length
    * mismatch (zip_with pads null, bit_count(null) poisons the sum) or
    * any null element, exactly the HOF chain. Each word adds ≤ 64 so
    * the bigint sum cannot overflow regardless of ANSI mode.
    */
  def hamming_dist(a: Column, b: Column): Column =
    bridge.column(HammingDist(bridge.expression(a), bridge.expression(b)))

  /** ≡ [[graft.operators.Similarity.binaryCodes]]' packing chain:
    * transform(sequence(0, int((size(v)-1)/64)), w =>
    *   aggregate(sequence(0, 63), 0L, (acc, j) =>
    *     acc + when(w·64+j+1 <= size(v) && v[w·64+j+1] cast double > 0,
    *       shiftleft(1L, j)).otherwise(0L)))
    * — one sign bit per dimension packed little-endian within each
    * 64-dim word; a null element's `null > 0` comparison is null, so
    * the when falls to otherwise(0): bit 0, exactly the HOF. An empty
    * vector packs to the single word [0] (the (0-1)/64 = 0 truncation
    * both Spark's double-divide-then-int-cast and Java's int division
    * produce). Null vector → null (transform over null).
    */
  def binary_code(vec: Column): Column =
    bridge.column(BinaryCode(bridge.expression(vec)))

  /** ≡ [[word_ngrams]] WITHOUT the distinct: transform(sequence(0,
    * len-n), i => concat_ws(" ", slice(words, i+1, n))) — ALL word
    * n-grams in position order (the posexplode'd dupSpanRegions shape,
    * where gram POSITIONS matter). Same concat_ws null-skipping join;
    * caller contract size(words) >= n (pinned by the existing filter).
    */
  def word_ngrams_all(words: Column, n: Int): Column =
    bridge.column(WordNgramsAll(bridge.expression(words), n))

  /** ≡ [[graft.operators.TextAnalysis.bigramLogProb]]'s bigram step:
    * when(size(toks) >= 2, transform(sequence(0, size-2), i =>
    *   struct(concat_ws(" ", slice(toks, i+1, 2)) AS bg,
    *          element_at(toks, i+1) AS w1))).otherwise(array())
    * — (bigram text, head token) per position. The when/otherwise
    * yields an EMPTY array both for short docs and for a null toks
    * (size(null) ≥ 2 is null → otherwise), replicated exactly: this
    * expression is never null.
    */
  def bigram_heads(toks: Column): Column =
    bridge.column(BigramHeads(bridge.expression(toks)))

  /** ≡ [[graft.operators.TextAnalysis.pmiCollocations]]'s bigram step:
    * when(size(toks) >= 2, transform(sequence(0, size-2), i =>
    *   struct(element_at(toks, i+1) AS w1, element_at(toks, i+2) AS
    *   w2))).otherwise(array()) — adjacent token pairs. Same
    * empty-not-null contract as [[bigram_heads]].
    */
  def bigram_pairs(toks: Column): Column =
    bridge.column(BigramPairs(bridge.expression(toks)))

  /** ≡ [[graft.operators.Similarity]]'s `nearestCodeL2` fold: argmin
    * code over an array<struct<_code, cvec array<double>>> (ascending
    * code order by caller contract) under IEEE squared L2 against `v`,
    * strict < keeping the earliest (lowest) code; a null first distance
    * captures its code exactly like the when-chain's null-or semantics.
    */
  def nearest_code_l2(codes: Column, v: Column): Column =
    bridge.column(NearestCodeL2K(bridge.expression(codes), bridge.expression(v)))

  // ---------- shared element readers ----------

  /** Read element i of a float/double array as double (float widens
    * exactly — the x.cast(DoubleType) HOF step); null → NaN sentinel is
    * NOT used: callers check isNullAt first.
    */
  @inline private def elemD(arr: ArrayData, et: DataType, i: Int): Double =
    et match {
      case DoubleType => arr.getDouble(i)
      case FloatType => arr.getFloat(i).toDouble
      case LongType => arr.getLong(i).toDouble
      case IntegerType => arr.getInt(i).toDouble
      case ShortType => arr.getShort(i).toDouble
      case ByteType => arr.getByte(i).toDouble
      case d: DecimalType => arr.getDecimal(i, d.precision, d.scale).toDouble
      case other => throw new IllegalStateException(
        s"VecKernels: unsupported array element type $other")
    }

  private val AccCap = new java.math.BigDecimal(java.math.BigInteger.TEN.pow(30), 12)

  /** element i as exact DECIMAL(12,6) java value — the
    * x.cast(double).cast(DECIMAL(12,6)) chain: BigDecimal.valueOf
    * (shortest decimal string, the km05-pinned semantics) + HALF_UP to
    * scale 6. Overflow (>12 digits) follows the session's cast
    * semantics: ANSI (the Spark 4 default every graft session runs
    * under) throws, legacy mode nulls.
    */
  @inline private def elemDec6(arr: ArrayData, et: DataType, i: Int,
                               ansi: Boolean): java.math.BigDecimal =
    et match {
      case d: DecimalType if d.precision == 12 && d.scale == 6 =>
        val dec = arr.getDecimal(i, 12, 6)
        if (dec == null) null else dec.toJavaBigDecimal
      case DoubleType | FloatType | LongType | IntegerType | ShortType | ByteType =>
        val d = elemD(arr, et, i)
        // Cast's non-finite handling (r20 advisory): BigDecimal.valueOf
        // would throw NumberFormatException in BOTH modes, where the
        // replaced cast(double).cast(DECIMAL(12,6)) throws only under
        // ANSI and yields null under legacy
        if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) {
          if (ansi) throw new ArithmeticException(
            s"$d cannot be represented as Decimal(12, 6) (non-finite " +
              "element cast under ANSI)")
          return null
        }
        val v = java.math.BigDecimal.valueOf(d)
          .setScale(6, java.math.RoundingMode.HALF_UP)
        if (v.precision > 12) {
          if (ansi) throw new ArithmeticException(
            s"$v cannot be represented as Decimal(12, 6) (vec_dot_dec " +
              "element cast overflow under ANSI)")
          null
        } else v
      case other => throw new IllegalStateException(
        s"VecKernels: unsupported decimal-dot element type $other")
    }

  // ---------- row-level helpers (called from eval AND codegen) ----------

  /** null ⇔ length mismatch or any null element (HOF poisoning). */
  def dotD(a: ArrayData, b: ArrayData, etA: DataType,
           etB: DataType): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += elemD(a, etA, i) * elemD(b, etB, i)
      i += 1
    }
    acc
  }

  def sqDistD(a: ArrayData, b: ArrayData, etA: DataType,
              etB: DataType): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = elemD(a, etA, i) - elemD(b, etB, i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** zip_with(a, b, (x, y) => x - y): length = max; a missing/null side
    * yields a null element.
    */
  def subD(a: ArrayData, b: ArrayData, etA: DataType,
           etB: DataType): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i >= na || i >= nb || a.isNullAt(i) || b.isNullAt(i)) null
        else java.lang.Double.valueOf(elemD(a, etA, i) - elemD(b, etB, i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Exact decimal dot; see [[vec_dot_dec]]. Result is the Spark
    * Decimal(30,12), null on poisoned fold or accumulator overflow
    * (≥ 1e18 — the (31,12)→(30,12) per-step cast's null, after which
    * the HOF chain stays null).
    */
  def dotDec(a: ArrayData, b: ArrayData, etA: DataType,
             etB: DataType, ansi: Boolean): Decimal = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = java.math.BigDecimal.ZERO.setScale(12)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elemDec6(a, etA, i, ansi)
      val y = elemDec6(b, etB, i, ansi)
      if (x == null || y == null) return null
      acc = acc.add(x.multiply(y)) // exact: (12,6)×(12,6)=(25,12); +(30,12) exact
      if (acc.abs.compareTo(AccCap) >= 0) { // (31,12)→(30,12) cast overflow
        if (ansi) throw new ArithmeticException(
          s"$acc cannot be represented as Decimal(30, 12) (vec_dot_dec " +
            "accumulator overflow under ANSI)")
        return null
      }
      i += 1
    }
    Decimal(acc, 30, 12)
  }

  def sqDistDec(a: ArrayData, b: ArrayData, etA: DataType,
                etB: DataType, ansi: Boolean): Decimal = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = java.math.BigDecimal.ZERO.setScale(12)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elemDec6(a, etA, i, ansi)
      val y = elemDec6(b, etB, i, ansi)
      if (x == null || y == null) return null
      val d = x.subtract(y) // exact (13,6)
      acc = acc.add(d.multiply(d)) // exact (27,12); +(30,12) exact
      if (acc.abs.compareTo(AccCap) >= 0) { // (31,12)→(30,12) cast overflow
        if (ansi) throw new ArithmeticException(
          s"$acc cannot be represented as Decimal(30, 12) (vec_sqdist_dec " +
            "accumulator overflow under ANSI)")
        return null
      }
      i += 1
    }
    Decimal(acc, 30, 12)
  }

  def dotL(a: ArrayData, b: ArrayData, ansi: Boolean): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      if (ansi) acc = Math.addExact(acc, Math.multiplyExact(a.getLong(i), b.getLong(i)))
      else acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  def wordNgrams(words: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val len = words.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i <= len - n) {
      // concat_ws(" ", slice(words, i+1, n)): null elements SKIPPED
      val parts = new Array[UTF8String](n)
      var j = 0
      var k = 0
      while (j < n) {
        if (!words.isNullAt(i + j)) {
          parts(k) = words.getUTF8String(i + j)
          k += 1
        }
        j += 1
      }
      out.add(UTF8String.concatWs(sep,
        (if (k == n) parts else java.util.Arrays.copyOf(parts, k)).toSeq: _*))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[Any]])
  }

  def idPairs(ids: ArrayData): ArrayData = {
    val n = ids.numElements()
    val vals = new Array[Long](n)
    val nul = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      if (ids.isNullAt(i)) nul(i) = true else vals(i) = ids.getLong(i)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i < n) {
      if (!nul(i)) {
        val a = vals(i)
        var j = 0
        while (j < n) {
          // filter(ids, b => b > a): null b ⇒ null predicate ⇒ dropped
          if (!nul(j) && vals(j) > a) {
            val row = new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(2)
            row.setLong(0, a)
            row.setLong(1, vals(j))
            out += row
          }
          j += 1
        }
      }
      // a null `a` emits an empty inner array (b > null ⇒ null ⇒ dropped)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  private val Dec22Cap = new java.math.BigDecimal(
    java.math.BigInteger.TEN.pow(22), 6)

  def hplaneProjs(arr: ArrayData, et: DataType, bits: Int,
                  ansi: Boolean): ArrayData = {
    val n = arr.numElements()
    // decimal(12,6) element values; null ⇒ the plane folds to null
    val xs = new Array[java.math.BigDecimal](n)
    var i = 0
    while (i < n) {
      xs(i) = if (arr.isNullAt(i)) null else elemDec6(arr, et, i, ansi)
      i += 1
    }
    val out = new Array[Any](bits)
    // an EMPTY vector folds to null on every plane in the HOF form:
    // sequence(0, size-1) = sequence(0, -1) = [0, -1] (descending), so
    // zip_with pads the empty value side with nulls and the fold
    // poisons — replicate (callers filter size >= bits, so this is
    // edge-case fidelity, not a live path)
    if (n == 0) {
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    var j = 0
    while (j < bits) {
      var acc = java.math.BigDecimal.ZERO.setScale(6)
      var poisoned = false
      var p = 0
      while (p < n && !poisoned) {
        if (xs(p) == null) poisoned = true
        else {
          // hyperplaneSign(j, p): two multiply–xorshift rounds mod 2^31
          val idx = j.toLong * 4096L + p + 1
          val h1 = Math.floorMod(idx * 2654435761L, 2147483648L)
          val h2 = h1 ^ (h1 >> 16)
          val h3 = Math.floorMod(h2 * 1597334677L, 2147483648L)
          val h4 = h3 ^ (h3 >> 16)
          val term = if (Math.floorMod(h4, 2L) == 0L) xs(p) else xs(p).negate()
          acc = acc.add(term)
          if (acc.abs.compareTo(Dec22Cap) >= 0) {
            if (ansi) throw new ArithmeticException(
              s"$acc cannot be represented as Decimal(22, 6) " +
                "(hplane_projs accumulator overflow under ANSI)")
            poisoned = true
          }
        }
        p += 1
      }
      out(j) = if (poisoned) null else Decimal(acc, 22, 6)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def maxRun(sorted: ArrayData): Long = {
    import org.apache.spark.unsafe.types.UTF8String
    val n = sorted.numElements()
    var prev: UTF8String = UTF8String.fromString("")
    var run = 0L
    var best = 0L
    var i = 0
    while (i < n) {
      // tokens from split() are never null; a null would make the HOF's
      // x === prev null → otherwise(1), replicated here
      val x = if (sorted.isNullAt(i)) null else sorted.getUTF8String(i)
      run = if (x != null && x.equals(prev)) run + 1 else 1L
      if (run > best) best = run
      prev = if (x == null) UTF8String.fromString("") else x
      i += 1
    }
    best
  }

  def winnowFps(toks: ArrayData, k: Int, w: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val len = toks.numElements()
    val nGrams = if (len >= k) len - k + 1 else 0
    val grams = new Array[UTF8String](nGrams)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < nGrams) {
      val parts = new Array[UTF8String](k)
      var j = 0
      var c = 0
      while (j < k) { // concat_ws skips nulls (split never emits them)
        if (!toks.isNullAt(i + j)) { parts(c) = toks.getUTF8String(i + j); c += 1 }
        j += 1
      }
      val gram = UTF8String.concatWs(sep,
        (if (c == k) parts else java.util.Arrays.copyOf(parts, c)).toSeq: _*)
      grams(i) = UTF8String.fromString(
        org.apache.commons.codec.digest.DigestUtils.md5Hex(gram.getBytes))
      i += 1
    }
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (nGrams > 0) {
      val last = math.max(nGrams - w, 0)
      var j = 0
      while (j <= last) {
        var m = grams(j)
        var t = j + 1
        val end = math.min(j + w, nGrams)
        while (t < end) {
          if (grams(t).compareTo(m) < 0) m = grams(t)
          t += 1
        }
        out.add(m)
        j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray.asInstanceOf[Array[Any]])
  }

  def simHashVote(hs: ArrayData): Long = {
    val n = hs.numElements()
    var sig = 0L
    var b = 0
    while (b < 64) {
      var v = 0
      var i = 0
      while (i < n) {
        // null hash → when(null === 1, 1).otherwise(-1) → -1
        if (!hs.isNullAt(i) && ((hs.getLong(i) >> b) & 1L) == 1L) v += 1
        else v -= 1
        i += 1
      }
      if (v > 0) sig += (1L << b)
      b += 1
    }
    sig
  }

  def sigAgree(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        c += 1
      i += 1
    }
    c
  }

  def lshSigs(vec: ArrayData, et: DataType, bits: Int, tables: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val out = new Array[Any](tables)
    val n = if (vec == null) 0 else vec.numElements()
    // null vector / empty vector / any null element → every projection
    // folds to null → every plane contributes 0 (when(null > 0) →
    // otherwise) → all-zero signatures, exactly the HOF chain's output
    var poisoned = vec == null || n == 0
    if (!poisoned) {
      var i = 0
      while (i < n && !poisoned) {
        if (vec.isNullAt(i)) poisoned = true
        i += 1
      }
    }
    if (poisoned) {
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], java.lang.Long.valueOf(0L))
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    val xs = new Array[Double](n)
    var i = 0
    while (i < n) { xs(i) = elemD(vec, et, i); i += 1 }
    var t = 0
    while (t < tables) {
      var sig = 0L
      var j = 0
      while (j < bits) {
        val plane = t * bits + j
        var proj = 0.0
        var p = 0
        while (p < n) {
          // xxhash64(plane: int, p: int) — seed 42, ints hashed in order
          var h = XXH64.hashInt(plane, 42L)
          h = XXH64.hashInt(p, h)
          val s = if (((h % 2) + 2) % 2 == 0) 1.0 else -1.0
          proj += xs(p) * s
          p += 1
        }
        if (proj > 0) sig += (1L << j)
        j += 1
      }
      out(t) = sig
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Argmin over array<struct<_code, cvec>>; see [[nearest_code_l2]].
    * Returns null only when the codes array is empty (the fold's
    * initial null accumulator).
    */
  def nearestCodeL2(codes: ArrayData, v: ArrayData,
                    etCode: DataType, etCv: DataType,
                    etV: DataType): java.lang.Long = {
    val m = codes.numElements()
    var bestCode: java.lang.Long = null
    var bestD: java.lang.Double = null
    var i = 0
    while (i < m) {
      // a null struct element behaves as (code null, cvec null) — the
      // HOF fold's field reads on a null struct are null (r20 advisory;
      // not reachable from collect_list-built inputs, but the
      // expression accepts any array<struct>)
      val s = if (codes.isNullAt(i)) null else codes.getStruct(i, 2)
      val code: java.lang.Long =
        if (s == null || s.isNullAt(0)) null
        else etCode match {
          case LongType => s.getLong(0)
          case IntegerType => s.getInt(0).toLong
          case other => throw new IllegalStateException(
            s"nearest_code_l2: unsupported code type $other")
        }
      val cvec = if (s == null || s.isNullAt(1)) null else s.getArray(1)
      val d: java.lang.Double =
        if (cvec == null) null else sqDistD(v, cvec, etV, etCv)
      // when(acc._c.isNull || d < acc._d, struct(d, code)).otherwise(acc):
      // true || null → true (first element always captured, even with a
      // null distance); afterwards only a non-null strict < replaces
      if (bestCode == null || (d != null && bestD != null && d < bestD)) {
        bestCode = code
        bestD = d
      }
      i += 1
    }
    bestCode
  }

  def hammingDist(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    acc
  }

  def binaryCode(vec: ArrayData, et: DataType): ArrayData = {
    val n = vec.numElements()
    // (n-1)/64 truncates toward zero in Java exactly like the HOF's
    // double-divide-then-int-cast, so n = 0 also yields one word
    val nWords = (n - 1) / 64 + 1
    val out = new Array[Any](nWords)
    var w = 0
    while (w < nWords) {
      var code = 0L
      var j = 0
      while (j < 64) {
        val i = w * 64 + j
        // null element: `null > 0` is null → when falls to otherwise(0)
        if (i < n && !vec.isNullAt(i) && elemD(vec, et, i) > 0.0)
          code |= (1L << j)
        j += 1
      }
      out(w) = code
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def wordNgramsAll(words: ArrayData, n: Int): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val len = words.numElements()
    val m = if (len >= n) len - n + 1 else 0
    val out = new Array[Any](m)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      // concat_ws(" ", slice(words, i+1, n)): null elements SKIPPED
      val parts = new Array[UTF8String](n)
      var j = 0
      var k = 0
      while (j < n) {
        if (!words.isNullAt(i + j)) {
          parts(k) = words.getUTF8String(i + j)
          k += 1
        }
        j += 1
      }
      out(i) = UTF8String.concatWs(sep,
        (if (k == n) parts else java.util.Arrays.copyOf(parts, k)).toSeq: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Shared bigram emitter: one struct per adjacent-token position,
    * fields per `withBg` — (bg, w1) for [[bigram_heads]], (w1, w2) for
    * [[bigram_pairs]]. A null or < 2-token array emits EMPTY (the
    * when/otherwise contract).
    */
  def bigrams(toks: ArrayData, withBg: Boolean): ArrayData = {
    import org.apache.spark.unsafe.types.UTF8String
    val len = if (toks == null) 0 else toks.numElements()
    val m = if (len >= 2) len - 1 else 0
    val out = new Array[Any](m)
    val sep = UTF8String.fromString(" ")
    var i = 0
    while (i < m) {
      val a = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val b = if (toks.isNullAt(i + 1)) null else toks.getUTF8String(i + 1)
      val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(2)
      if (withBg) {
        // concat_ws skips null parts
        val bg =
          if (a != null && b != null) UTF8String.concatWs(sep, a, b)
          else if (a != null) a
          else if (b != null) b
          else UTF8String.EMPTY_UTF8
        row.update(0, bg)
        row.update(1, a)
      } else {
        row.update(0, a)
        row.update(1, b)
      }
      out(i) = row
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

// ---------- expression nodes ----------

private[functions] trait VecBinaryKernel extends BinaryExpression {
  override def nullable: Boolean = true
  protected def helperCall: String
  protected def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType
  protected def helperObj: String = VecKernels.getClass.getName + ".MODULE$"
}

case class VecDotD(left: Expression, right: Expression)
    extends VecBinaryKernel {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two numeric arrays, got " +
            s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemType(left), elemType(right))
  protected def helperCall: String = "dotD"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etA = ctx.addReferenceObj("etA", elemType(left))
    val etB = ctx.addReferenceObj("etB", elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("res")
      s"""
         |java.lang.Double $tmp = $helperObj.$helperCall($a, $b, $etA, $etB);
         |${ev.isNull} = $tmp == null;
         |${ev.value} = ${ev.isNull} ? -1.0 : $tmp.doubleValue();
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : VecDotD = copy(left = l, right = r)
  override def prettyName: String = "vec_dot_d"
}

case class VecSqDistD(left: Expression, right: Expression)
    extends VecBinaryKernel {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two numeric arrays, got " +
            s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.sqDistD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemType(left), elemType(right))
  protected def helperCall: String = "sqDistD"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etA = ctx.addReferenceObj("etA", elemType(left))
    val etB = ctx.addReferenceObj("etB", elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("res")
      s"""
         |java.lang.Double $tmp = $helperObj.$helperCall($a, $b, $etA, $etB);
         |${ev.isNull} = $tmp == null;
         |${ev.value} = ${ev.isNull} ? -1.0 : $tmp.doubleValue();
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : VecSqDistD = copy(left = l, right = r)
  override def prettyName: String = "vec_sqdist_d"
}

case class VecSubD(left: Expression, right: Expression)
    extends VecBinaryKernel {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two numeric arrays, got " +
            s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.subD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemType(left), elemType(right))
  protected def helperCall: String = "subD"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etA = ctx.addReferenceObj("etA", elemType(left))
    val etB = ctx.addReferenceObj("etB", elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $helperObj.$helperCall($a, $b, $etA, $etB);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : VecSubD = copy(left = l, right = r)
  override def prettyName: String = "vec_sub_d"
}

case class VecDotDec(left: Expression, right: Expression,
    ansi: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends VecBinaryKernel {
  override def dataType: DataType = DecimalType(30, 12)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs two numeric arrays, got " +
            s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  }
  // `ansi` is a CONSTRUCTOR parameter (defaulted from SQLConf at
  // construction, the Cast.evalMode precedent — r20 advisory): part of
  // case-class equality/canonicalization and the plan string, so two
  // instances built under different conf values never compare equal
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dotDec(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemType(left), elemType(right), ansi)
  protected def helperCall: String = "dotDec"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etA = ctx.addReferenceObj("etA", elemType(left))
    val etB = ctx.addReferenceObj("etB", elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = $helperObj.$helperCall($a, $b, $etA, $etB, $ansi);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : VecDotDec = copy(left = l, right = r)
  override def prettyName: String = "vec_dot_dec"
}

case class VecSqDistDec(left: Expression, right: Expression,
    ansi: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends VecBinaryKernel {
  override def dataType: DataType = DecimalType(30, 12)
  override def checkInputDataTypes(): TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(_: NumericType, _), ArrayType(_: NumericType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two numeric arrays, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.sqDistDec(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemType(left), elemType(right), ansi)
  protected def helperCall: String = "sqDistDec"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etA = ctx.addReferenceObj("etA", elemType(left))
    val etB = ctx.addReferenceObj("etB", elemType(right))
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |${ev.value} = $helperObj.$helperCall($a, $b, $etA, $etB, $ansi);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : VecSqDistDec = copy(left = l, right = r)
  override def prettyName: String = "vec_sqdist_dec"
}

case class VecDotL(left: Expression, right: Expression,
    ansi: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends VecBinaryKernel {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two bigint arrays, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.dotL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], ansi)
  protected def helperCall: String = "dotL"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("res")
      s"""
         |java.lang.Long $tmp = $helperObj.$helperCall($a, $b, $ansi);
         |${ev.isNull} = $tmp == null;
         |${ev.value} = ${ev.isNull} ? -1L : $tmp.longValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : VecDotL = copy(left = l, right = r)
  override def prettyName: String = "vec_dot_l"
}

case class HplaneProjs(child: Expression, bits: Int,
    ansi: Boolean = org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
    extends UnaryExpression {
  require(bits >= 1, s"hplane_projs needs bits >= 1, got $bits")
  override def dataType: DataType =
    ArrayType(DecimalType(22, 6), containsNull = true)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a numeric array, got ${other.sql}")
    }
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(arr: Any): Any =
    VecKernels.hplaneProjs(arr.asInstanceOf[ArrayData], elemType, bits, ansi)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    val et = ctx.addReferenceObj("et", elemType)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.hplaneProjs($c, $et, $bits, $ansi);")
  }
  override protected def withNewChildInternal(newChild: Expression): HplaneProjs =
    copy(child = newChild)
  override def prettyName: String = "hplane_projs"
}

case class MaxRun(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string array, got ${other.sql}")
    }
  override def nullSafeEval(sorted: Any): Any =
    VecKernels.maxRun(sorted.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.maxRun($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): MaxRun =
    copy(child = newChild)
  override def prettyName: String = "max_run"
}

case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, s"winnow_fps needs k, w >= 1, got $k/$w")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string array, got ${other.sql}")
    }
  override def nullSafeEval(toks: Any): Any =
    VecKernels.winnowFps(toks.asInstanceOf[ArrayData], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.winnowFps($c, $k, $w);")
  }
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
  override def prettyName: String = "winnow_fps"
}

case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"word_ngrams needs n >= 1, got $n")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string array, got ${other.sql}")
    }
  override def nullSafeEval(words: Any): Any =
    VecKernels.wordNgrams(words.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.wordNgrams($c, $n);")
  }
  override protected def withNewChildInternal(newChild: Expression): WordNgrams =
    copy(child = newChild)
  override def prettyName: String = "word_ngrams"
}

case class IdPairs(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("da", LongType, nullable = true),
    StructField("db", LongType, nullable = true))), containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a bigint array, got ${other.sql}")
    }
  override def nullSafeEval(ids: Any): Any =
    VecKernels.idPairs(ids.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.idPairs($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): IdPairs =
    copy(child = newChild)
  override def prettyName: String = "id_pairs"
}

case class SimHashVote(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a bigint array, got ${other.sql}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(hs: Any): Any =
    VecKernels.simHashVote(hs.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.simHashVote($c);")
  }
  override protected def withNewChildInternal(newChild: Expression): SimHashVote =
    copy(child = newChild)
  override def prettyName: String = "simhash_vote"
}

case class SigAgree(left: Expression, right: Expression,
    legacySizeOfNull: Boolean =
      org.apache.spark.sql.internal.SQLConf.get.legacySizeOfNull)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two bigint arrays, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  override def dataType: DataType = IntegerType
  // size(null) follows the session's Size semantics: -1 under the
  // legacy conf, NULL under ANSI (the Spark 4 default) — a constructor
  // parameter captured at construction, like the Size expression's own
  // conf read but visible to equality/canonicalization (r20 advisory)
  override def nullable: Boolean = !legacySizeOfNull
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    if (a == null || b == null) { if (legacySizeOfNull) -1 else null }
    else VecKernels.sigAgree(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    val la = left.genCode(ctx)
    val lb = right.genCode(ctx)
    val isNull = ctx.freshName("sigAgreeNull")
    ev.copy(
      code = code"""
         |${la.code}
         |${lb.code}
         |boolean $isNull = false;
         |int ${ev.value} = -1;
         |if (!${la.isNull} && !${lb.isNull}) {
         |  ${ev.value} = $helper.sigAgree(${la.value}, ${lb.value});
         |} else {
         |  $isNull = ${!legacySizeOfNull};
         |}
       """.stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode
        .isNullVariable(isNull))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : SigAgree = copy(left = l, right = r)
  override def prettyName: String = "sig_agree"
}

case class LshSigs(child: Expression, bits: Int, tables: Int)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 63 && tables >= 1,
    s"lsh_sigs needs 1 <= bits <= 63 and tables >= 1, got $bits/$tables")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // the HOF chain folds a NULL vector to all-zero signatures, never null
  override def nullable: Boolean = false
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: NumericType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs a numeric array, got ${other.sql}")
    }
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    VecKernels.lshSigs(
      if (v == null) null else v.asInstanceOf[ArrayData],
      elemType, bits, tables)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    val et = ctx.addReferenceObj("et", elemType)
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
         |${c.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  $helper.lshSigs(${c.isNull} ? null : ${c.value}, $et, $bits, $tables);
       """.stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): LshSigs =
    copy(child = newChild)
  override def prettyName: String = "lsh_sigs"
}

case class NearestCodeL2K(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  private def codesStruct: StructType = left.dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(s: StructType, _), ArrayType(_: NumericType, _))
          if s.length == 2 && s(1).dataType.isInstanceOf[ArrayType] =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs (array<struct<code, vec>>, numeric array), " +
            s"got ${left.dataType.sql} / ${right.dataType.sql}")
    }
  override def nullSafeEval(codes: Any, v: Any): Any = {
    val s = codesStruct
    VecKernels.nearestCodeL2(codes.asInstanceOf[ArrayData],
      v.asInstanceOf[ArrayData], s(0).dataType,
      s(1).dataType.asInstanceOf[ArrayType].elementType,
      right.dataType.asInstanceOf[ArrayType].elementType)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    val s = codesStruct
    val etCode = ctx.addReferenceObj("etCode", s(0).dataType)
    val etCv = ctx.addReferenceObj("etCv",
      s(1).dataType.asInstanceOf[ArrayType].elementType)
    val etV = ctx.addReferenceObj("etV",
      right.dataType.asInstanceOf[ArrayType].elementType)
    nullSafeCodeGen(ctx, ev, (codes, v) => {
      val tmp = ctx.freshName("res")
      s"""
         |java.lang.Long $tmp = $helper.nearestCodeL2($codes, $v, $etCode, $etCv, $etV);
         |${ev.isNull} = $tmp == null;
         |${ev.value} = ${ev.isNull} ? -1L : $tmp.longValue();
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : NearestCodeL2K = copy(left = l, right = r)
  override def prettyName: String = "nearest_code_l2"
}

case class HammingDist(left: Expression, right: Expression)
    extends VecBinaryKernel {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs two bigint arrays, got " +
          s"${left.dataType.sql} / ${right.dataType.sql}")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.hammingDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  protected def helperCall: String = "hammingDist"
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("res")
      s"""
         |java.lang.Long $tmp = $helperObj.$helperCall($a, $b);
         |${ev.isNull} = $tmp == null;
         |${ev.value} = ${ev.isNull} ? -1L : $tmp.longValue();
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
    : HammingDist = copy(left = l, right = r)
  override def prettyName: String = "hamming_dist"
}

case class BinaryCode(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a numeric array, got ${other.sql}")
    }
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(vec: Any): Any =
    VecKernels.binaryCode(vec.asInstanceOf[ArrayData], elemType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    val et = ctx.addReferenceObj("et", elemType)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.binaryCode($c, $et);")
  }
  override protected def withNewChildInternal(newChild: Expression): BinaryCode =
    copy(child = newChild)
  override def prettyName: String = "binary_code"
}

case class WordNgramsAll(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"word_ngrams_all needs n >= 1, got $n")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string array, got ${other.sql}")
    }
  override def nullSafeEval(words: Any): Any =
    VecKernels.wordNgramsAll(words.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $helper.wordNgramsAll($c, $n);")
  }
  override protected def withNewChildInternal(newChild: Expression): WordNgramsAll =
    copy(child = newChild)
  override def prettyName: String = "word_ngrams_all"
}

/** Shared shape of the two bigram emitters: never null (the HOF
  * when/otherwise folds a null or short toks array to EMPTY).
  */
private[functions] trait BigramKernel extends UnaryExpression {
  protected def withBg: Boolean
  protected def fieldNames: (String, String)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField(fieldNames._1, StringType, nullable = true),
    StructField(fieldNames._2, StringType, nullable = true))),
    containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs a string array, got ${other.sql}")
    }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    VecKernels.bigrams(
      if (v == null) null else v.asInstanceOf[ArrayData], withBg)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = VecKernels.getClass.getName + ".MODULE$"
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
         |${c.code}
         |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
         |  $helper.bigrams(${c.isNull} ? null : ${c.value}, $withBg);
       """.stripMargin,
      isNull = FalseLiteral)
  }
}

case class BigramHeads(child: Expression) extends BigramKernel {
  protected def withBg: Boolean = true
  protected def fieldNames: (String, String) = ("bg", "w1")
  override protected def withNewChildInternal(newChild: Expression): BigramHeads =
    copy(child = newChild)
  override def prettyName: String = "bigram_heads"
}

case class BigramPairs(child: Expression) extends BigramKernel {
  protected def withBg: Boolean = false
  protected def fieldNames: (String, String) = ("w1", "w2")
  override protected def withNewChildInternal(newChild: Expression): BigramPairs =
    copy(child = newChild)
  override def prettyName: String = "bigram_pairs"
}
