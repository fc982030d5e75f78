package graft.operators

import graft.functions.TopKAgg
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Vector-similarity operators over an `array<float>` embedding column
  * (SURVEY.md §2c): brute-force cosine top-k as the verifiable baseline,
  * LSH bucketing as the scale path.
  *
  * Scale posture: brute-force is O(|Q|·|C|) — fine for a bounded query
  * set against a broadcastable candidate block, wrong for all-pairs at
  * 100 TB. The LSH variant buckets vectors by random-hyperplane sign
  * signatures so candidate generation is a hash-partitioned equi-join.
  * Every per-query/per-vector top-k in this object goes through the
  * bounded [[graft.functions.TopKAgg]] partial aggregate — never a
  * per-group `row_number` window, whose exchange grows with corpus
  * size — so no top-k stage here ships more than k pairs per
  * (group × map partition).
  *
  * INPUT SCHEMA: every vector operator here, and the vector operators
  * of [[Clustering]], [[Dedup]] and the streaming vector-log jobs, reads
  * one fixed input schema, `(vec_id integral, embedding
  * array<float|double>)` — the columns [[VecId]] and [[Embedding]]. No
  * operator takes a column name; a caller whose frame names them
  * otherwise re-aliases it first.
  *
  * ID CONTRACT: `vec_id` must be an integral numeric column — ids ride
  * through the bounded top-k aggregate as `bigint`, and output
  * `qid`/`cid` are `bigint`. A non-numeric id would cast to null and
  * those rows would be silently dropped; [[requireIntegralId]] rejects
  * that at plan time instead.
  *
  * INDEX CONTRACT: a built [[IvfIndex]] / [[IvfPqIndex]] carries the
  * decisions of its build — the declared `nlist`, the two-level
  * assignment rule, and for IVF-PQ the subvector count `m` and codebook
  * size — and every consumer (search, absorb, drift check, stats,
  * maintain, the streaming absorb) reads them from the index; none
  * takes them as a parameter. An index directory holds one parquet table per frame
  * plus the `_build` record (`key=value` lines, read back without a
  * Spark job); a directory without the record is refused. `save` is
  * one [[graft.io.Publish.replace]] of the whole directory, and the
  * stats savers publish `cellstats` the same way, so a crash leaves
  * the old artifact or the new one, never a mix.
  */
object Similarity {

  /** The id column of every vector input (see ID CONTRACT). */
  val VecId = "vec_id"

  /** The vector column of every vector input. */
  val Embedding = "embedding"

  /** A vector column as array<double>: the built-in array Cast, per
    * element exactly x.cast(double). A compiled widening kernel did not
    * beat it (BENCH_NOTES.md "Kernel table").
    */
  private[graft] def dbl(c: Column): Column = c.cast(ArrayType(DoubleType))

  /** The stored-decimal projection every exact path folds over: per
    * element x.cast(double).cast(DECIMAL(12,6)) through the built-in
    * array Casts (HALF_UP at scale 6, ANSI overflow throws, null elements
    * pass through). A compiled kernel did not beat it either.
    */
  private[graft] def dec6(c: Column): Column =
    c.cast(ArrayType(DoubleType)).cast(ArrayType(DecimalType(12, 6)))

  /** Fails fast (at plan time) when `idCol` is not an integral type —
    * ids ride through the bounded top-k aggregate as `bigint`, and a
    * lossy cast (string, float, decimal) would cast to null and
    * silently drop rows instead of erroring.
    */
  private[operators] def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"idCol '$idCol' must be integral (byte/short/int/long): ids ride " +
        s"through the bounded top-k aggregate as bigint; got $dt")
  }

  private def requireIntegralIds(queries: DataFrame,
                                 candidates: DataFrame): Unit = {
    requireIntegralId(queries, VecId)
    requireIntegralId(candidates, VecId)
  }

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cell or cluster count at which assignment goes two-level by
    * itself: safely above every gate's nlist/k = 16, safely below the
    * measured exact-assign walls (497 s at nlist = 1600, 718 s at
    * k = 1600 — SCALE.md). nlist and k scale with the corpus in the
    * IVF and SemDeDup regimes, so the count IS the quadratic-wall
    * signal, and a 100 TB run must not depend on the caller knowing a
    * flag exists.
    */
  private[operators] val TwoLevelAuto = 512

  /** The ONE two-level decision behind every IVF, IVF-PQ and SemDeDup
    * build: the explicit flag, or `n` cells at or past
    * [[TwoLevelAuto]]. IVF builds pass the SURVIVING quantizer size
    * (hash-picked cells can leave fewer than the declared nlist) and
    * record the result in the index, so absorb, drift check and stats
    * assign a given index by the build's rule (INDEX CONTRACT).
    * `n` is evaluated only when `atMost` — an upper bound
    * known without a job, the declared nlist at build — reaches the
    * threshold, so small builds run no count. An auto-engaged switch
    * logs one WARN: it changes results (approximate assignment,
    * ~0.06–0.10 measured recall drop vs exact at the rehearsal
    * scales), and a caller crossing the threshold should learn that
    * from the log, not from silently different output.
    */
  private[operators] def decideTwoLevel(site: String,
                                        twoLevelAssign: Boolean,
                                        n: => Long,
                                        atMost: Long = Long.MaxValue): Boolean =
    twoLevelAssign || atMost >= TwoLevelAuto && {
      val cells = n
      val auto = cells >= TwoLevelAuto
      if (auto) logger.warn(s"graft $site: two-level assignment " +
        s"AUTO-ENGAGED ($cells >= $TwoLevelAuto): assignment is " +
        "approximate (~0.06-0.10 measured recall cost vs exact) and " +
        "kills the quadratic exact-assign wall. Pass twoLevelAssign = " +
        "true to acknowledge; exact assignment is not offered at this size.")
      auto
    }

  /** One-pass cosine similarity between two float/double arrays —
    * served by the compiled [[graft.functions.VecKernels.vec_dot_d]]
    * kernel (r20: the HOF zip_with/aggregate fold is CodegenFallback,
    * interpreted per ELEMENT; the kernel folds the identical IEEE sum
    * in compiled code, bit-identical incl. the float→double widening
    * the old dbl() transform performed — VecKernelsSpec pins it).
    */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VecKernels.vec_dot_d
    vec_dot_d(a, b) / (sqrt(vec_dot_d(a, a)) * sqrt(vec_dot_d(b, b)))
  }

  /** Exact-decimal cosine: same one-pass higher-order-function shape as
    * [[cosine]] (no explode, no position join) but every product is a
    * DECIMAL(12,6)×DECIMAL(12,6) and the fold accumulates DECIMAL(38,12)
    * — exact and summation-order-independent, so the resulting doubles
    * are bit-identical to the sim01 posexplode/groupBy formulation AND to
    * a DuckDB `sum(decimal)` over `unnest` — which is what upgrades the
    * HOF fast path from a rows-only check to a full hash-match oracle.
    */
  def cosineExact(a: Column, b: Column): Column = {
    // the exact fold now runs in the compiled
    // [[graft.functions.VecKernels.vec_dot_dec]] kernel (r20): per
    // element cast(double)→DECIMAL(12,6) HALF_UP, exact (25,12)
    // products, per-step (30,12) accumulator cast — the accumulator
    // must be SMALL enough that each fold step's add stays inside
    // DECIMAL's 38-digit budget ((30,12)+(25,12) → (31,12), exact; a
    // (38,12) accumulator would push the add to (39,12), which Spark
    // silently re-scales to (38,11), ROUNDING every step — measured
    // ~4e-11 drift, enough to break hash-match). VecKernelsSpec pins
    // the kernel to the original HOF chain bit for bit.
    import graft.functions.VecKernels.vec_dot_dec
    vec_dot_dec(a, b).cast(DoubleType) /
      sqrt(vec_dot_dec(a, a).cast(DoubleType) *
        vec_dot_dec(b, b).cast(DoubleType))
  }

  /** Brute-force cosine top-k: every vector of `queries` scored against
    * every vector of `candidates` (self-pairs excluded), window top-k
    * per query. `queries` is broadcast — the fact side never shuffles.
    * `exact = true` scores with the [[cosineExact]] decimal formulation
    * (cross-engine deterministic) instead of IEEE-double [[cosine]].
    *
    * Norms are precomputed ONCE PER VECTOR on each side before the
    * join — scoring per pair then folds one dot, not three (measured 3×
    * on the exact path at sf0.1: 4.0 → 1.4 s). The assembled expression
    * is kept identical to [[cosine]]/[[cosineExact]] term for term
    * (IEEE: dot/(√aa·√bb); exact: dot/√(aa·bb) on the decimal-cast
    * doubles), so results stay bit-identical to the per-pair form.
    */
  def cosineTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                 exact: Boolean = false): DataFrame = {
    // top-k via the bounded TopKAgg buffer, NOT a per-query row_number
    // window: the window shape ships all N candidate scores to one task
    // per query; the agg partial-aggregates map-side, so the exchange
    // carries ≤ k pairs per (query × partition) — bounded by k at any
    // corpus size. Ties (score, then cid asc) identical to the window's
    // orderBy(sim.desc, cid), so output rows are unchanged.
    scoredPairs(queries, candidates, exact)
      .groupBy("qid")
      .agg(TopKAgg.top_k(col("sim"), col("cid"), k, ascending = false)
        .as("_tk"))
      .select(col("qid"), posexplode(col("_tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("sim"),
        (col("pos") + 1).cast(LongType).as("rank"))
      .orderBy("qid", "rank")
  }

  /** All (query, candidate) cosine scores as (qid, cid, sim) — the
    * shared scoring stage of [[cosineTopK]] and [[cosineRange]]. The
    * query side broadcasts; per-pair scoring folds ONE dot against the
    * precomputed per-vector norms, with the expression assembled
    * identically to [[cosine]]/[[cosineExact]] term for term so results
    * stay bit-identical to the per-pair forms.
    */
  private def scoredPairs(queries: DataFrame, candidates: DataFrame,
                          exact: Boolean): DataFrame = {
    requireIntegralIds(queries, candidates)
    import graft.functions.VecKernels.{vec_dot_d, vec_dot_dec}

    def side(df: DataFrame, id: String, v: String, n: String): DataFrame =
      if (exact)
        df.select(col(VecId).cast(LongType).as(id), dec6(col(Embedding)).as(v))
          .withColumn(n, vec_dot_dec(col(v), col(v)).cast(DoubleType))
      else
        df.select(col(VecId).cast(LongType).as(id), dbl(col(Embedding)).as(v))
          .withColumn(n, sqrt(vec_dot_d(col(v), col(v))))

    val q = side(queries, "qid", "qv", "qn")
    val c = side(candidates, "cid", "cv", "cn")
    val score =
      if (exact) vec_dot_dec(col("qv"), col("cv")).cast(DoubleType) /
        sqrt(col("qn") * col("cn"))
      else vec_dot_d(col("qv"), col("cv")) / (col("qn") * col("cn"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid").cast(LongType).as("cid"),
        score.as("sim"))
  }

  /** Range search: every candidate within cosine similarity ≥ `tau` of
    * each query — the "all neighbors in a radius" retrieval mode vector
    * stores expose alongside top-k (and the primitive τ-dedup builds
    * on). Returns (qid, cid, sim), UNORDERED: unlike top-k there is no
    * rank semantics, so no ordering is imposed — callers sort when they
    * need a stable presentation.
    *
    * Scale shape: strictly better than top-k — the query side
    * broadcasts, scoring is a narrow per-pair projection, and the τ
    * filter runs map-side INSIDE the scan-join stage, so the operator
    * has ZERO shuffles: output volume is the match count, never N, and
    * no aggregation state exists at all. With `exact = true` the
    * decimal-exact scores make the τ comparison engine-portable
    * (bit-identical doubles ⇒ identical ≥ decisions in any engine).
    */
  def cosineRange(queries: DataFrame, candidates: DataFrame, tau: Double,
                  exact: Boolean = false): DataFrame =
    scoredPairs(queries, candidates, exact)
      .filter(col("sim") >= tau)

  /** Diversity-aware re-ranking: greedy Maximal Marginal Relevance
    * (Carbonell & Goldstein 1998) over a relevance shortlist — pick the
    * most relevant candidate first, then repeatedly the one maximizing
    * `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)`, so each selection trades
    * relevance against redundancy with what's already picked. The
    * retrieval-diversification step of RAG context assembly and
    * dedup-aware few-shot example selection. Output:
    * (qid, sel_rank 1..k, cid, mmr) where `mmr` is the selection-time
    * score (relevance itself for the first pick).
    *
    * Cross-engine exactness: relevance and pair similarities are the
    * [[cosineTopK]] exact-decimal cosines (bit-identical doubles in any
    * engine); λ = 0.5 is a power of two, so each greedy score is two
    * exact halvings and one IEEE subtraction — no quantization needed,
    * and argmax ties break by candidate id. The DuckDB oracle unrolls
    * the same greedy loop.
    *
    * Scale shape: everything after the shortlist operates on Q×s rows
    * (s = `shortlist`, a constant) — the O(s²) pair-similarity join and
    * the k greedy argmaxes (bounded TopKAgg, k = 1) never touch the
    * corpus again. The corpus-facing stage is exactly [[cosineTopK]]'s
    * bounded-exchange top-s (or any ANN shortlist fed in its place).
    */
  def mmrTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              shortlist: Int): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need 1 <= k <= shortlist, got k=$k shortlist=$shortlist")
    requireIntegralIds(queries, candidates)
    import graft.functions.VecKernels.vec_dot_dec

    val rel = cosineTopK(queries, candidates, shortlist, exact = true)
    val cside = candidates
      .select(col(VecId).cast(LongType).as("cid"), dec6(col(Embedding)).as("cv"))
      .withColumn("cn", vec_dot_dec(col("cv"), col("cv")).cast(DoubleType))
    // shortlist members with vectors: Q×s rows — broadcastable at any
    // corpus size, so the pair join below never shuffles the corpus
    val sv = rel.select(col("qid"), col("cid"), col("sim").as("rel"))
      .join(cside, "cid")
    val pairs = sv.select(col("qid"), col("cid"), col("cv"), col("cn"))
      .join(sv.select(col("qid").as("_q"), col("cid").as("_sid"),
        col("cv").as("_sv"), col("cn").as("_sn")),
        col("qid") === col("_q") && col("cid") =!= col("_sid"))
      .select(col("qid"), col("cid"), col("_sid"),
        (vec_dot_dec(col("cv"), col("_sv")).cast(DoubleType) /
          sqrt(col("cn") * col("_sn"))).as("psim"))

    var selected = rel.filter(col("rank") === 1)
      .select(col("qid"), lit(1L).as("sel_rank"), col("cid"),
        col("sim").as("mmr"))
    var remaining = rel.filter(col("rank") > 1)
      .select(col("qid"), col("cid"), col("sim").as("rel"))
    for (t <- 2 to k) {
      val selIds = selected.select(col("qid").as("_q2"), col("cid").as("_c2"))
      val msim = pairs
        .join(selIds, col("qid") === col("_q2") && col("_sid") === col("_c2"),
          "leftsemi")
        .groupBy("qid", "cid").agg(max(col("psim")).as("_ms"))
      val winner = remaining.join(msim, Seq("qid", "cid"))
        .select(col("qid"), col("cid"),
          (lit(0.5) * col("rel") - lit(0.5) * col("_ms")).as("_score"))
        .groupBy("qid")
        .agg(TopKAgg.top_k(col("_score"), col("cid"), 1, ascending = false)
          .as("_w"))
        .select(col("qid"), explode(col("_w")).as("_p"))
        .select(col("qid"), lit(t.toLong).as("sel_rank"),
          col("_p.id").as("cid"), col("_p.score").as("mmr"))
      selected = selected.unionByName(winner)
      remaining = remaining.join(
        winner.select(col("qid").as("_q3"), col("cid").as("_c3")),
        col("qid") === col("_q3") && col("cid") === col("_c3"), "left_anti")
    }
    selected.orderBy("qid", "sel_rank")
  }

  /** Brute-force exact L2 top-k — the ground truth [[pqTopK]] is gated
    * against. Same broadcast shape as [[cosineTopK]]: queries broadcast,
    * candidates never shuffle; the squared-distance fold runs in array
    * order (deterministic IEEE).
    */
  def l2TopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    requireIntegralIds(queries, candidates)
    import graft.functions.VecKernels.vec_sqdist_d
    val q = queries.select(col(VecId).cast(LongType).as("qid"),
      dbl(col(Embedding)).as("qv"))
    val c = candidates.select(col(VecId).as("cid"), dbl(col(Embedding)).as("cv"))
    // bounded map-side top-k (see cosineTopK): ascending — smallest
    // distance first; ties by cid match the window's orderBy(dist, cid)
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid").cast(LongType).as("cid"),
        vec_sqdist_d(col("qv"), col("cv")).as("dist"))
      .groupBy("qid")
      .agg(TopKAgg.top_k(col("dist"), col("cid"), k, ascending = true)
        .as("_tk"))
      .select(col("qid"), posexplode(col("_tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("dist"),
        (col("pos") + 1).cast(LongType).as("rank"))
      .orderBy("qid", "rank")
  }

  /** (pos, subvector) rows for the `m` PQ subspaces of `v`. Sub `s`
    * covers elements [s·⌊dim/m⌋, (s+1)·⌊dim/m⌋) — slice is 1-based —
    * and the LAST subspace also takes the `dim % m` remainder, so every
    * component participates in codebooks and ADC scoring when `m` does
    * not divide the dimension (integer division alone would silently
    * truncate the tail and degrade recall with no error).
    */
  private def subSplitExplode(v: Column, m: Int): Column = {
    val subDim = (size(v) / lit(m)).cast(IntegerType)
    val rem = (size(v) % lit(m)).cast(IntegerType)
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      s => slice(v, s * subDim + 1,
        when(s === lit(m - 1), subDim + rem).otherwise(subDim))))
  }

  /** Per-`sub` codebook rows (sub, _code, cvec) folded into ONE array
    * row per subspace, code-ascending — the input shape for
    * [[nearestCodeL2]]'s per-row argmin. The km01/dd15 lesson applied
    * to the PQ family: the previous crossJoin/join + min(struct)
    * aggregation planned as SortAggregate (struct buffers can't hash-
    * aggregate), which SORTED the N·m·codes expansion inside every map
    * task — the same disk-spill wall assignToSeeds hit at the 100×
    * rehearsal — and exchanged N·m rows for the groupBy. The fold
    * evaluates the same distances as straight-line expression code:
    * zero expansion, zero sort, zero exchange.
    */
  private def subCodeArrays(cb: DataFrame): DataFrame =
    cb.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("_code"), col("cvec"))))
        .as("_codes"))

  /** Per-row argmin code over a `_codes` array under IEEE squared-L2.
    * Codes iterate ascending with strict `<`, so equal distances keep
    * the lowest code — identical to min(struct(_d, _code)). Served by
    * the compiled [[graft.functions.VecKernels.nearest_code_l2]] kernel
    * (r20) — the interpreted struct-array when-fold cost ~codes×dim
    * expression-tree walks per row; VecKernelsSpec pins the kernel to
    * the original fold's exact semantics (strict <, null-distance
    * first-capture, empty → null).
    */
  private def nearestCodeL2(v: Column): Column =
    graft.functions.VecKernels.nearest_code_l2(col("_codes"), v)

  /** Product-quantization ANN — the compression half of the IVF-PQ
    * architecture every 100 TB vector store runs. Vectors split into
    * `m` subvectors; each subspace is quantized to one of `codes`
    * codebook centroids (codebook seeded deterministically from corpus
    * vectors by hash bucket, the same in-plan discipline as
    * [[ivfTopK]]'s coarse quantizer — no driver-side training loop).
    * A stored vector is then [[PqM]] = 16 small codes from a
    * [[PqCodes]] = 32-entry codebook per subspace (5-bit codes = 10
    * bytes vs 256 bytes of floats, a 26× cut — the compression that
    * makes exabyte indexes fit in RAM). The subspace count is the
    * accuracy lever (measured on the 64-d gate corpus: m=8 → 0.78
    * recall, m=16 → 0.92–1.00 across SFs at a 100-candidate
    * shortlist); the shortlist ([[PqShortlist]]) trades re-rank cost
    * for recall.
    *
    * Search is the production two-stage shape:
    *  1. ADC (asymmetric distance computation): the query precomputes
    *     an (m × codes) distance table — broadcast-tiny — and every
    *     candidate is scored by summing table entries for its codes,
    *     touching ONLY the codes, never the vectors.
    *  2. The top [[PqShortlist]] ADC candidates re-rank with exact L2.
    *
    * Per-subspace ADC distances are summed as DECIMAL, so the shortlist
    * is summation-order-independent (the one groupBy-sum of doubles a
    * hash aggregation would otherwise make nondeterministic); every
    * other fold runs in array order. The exact decimal sum is compared
    * at DOUBLE resolution inside the top-k buffer — two distinct
    * decimals that round to the same double tie-break by cid, so
    * shortlist membership can diverge from a pure decimal order at
    * pathological near-ties (bounded by the exact re-rank; still
    * deterministic run-to-run and across partitionings). Scale shape: encoding is a narrow
    * broadcast pass over the corpus (codes × m distance evals per
    * vector); ADC scoring shuffles (cid, sub, code) triples only;
    * vectors rejoin by id for the shortlist re-rank (queries broadcast).
    *
    * The codebooks stay hash-seeded. An in-plan Lloyd refinement of
    * them was measured and deleted (BENCH_NOTES.md, "PQ codebook
    * refinement measured" under round 9): one pass moved top-5 recall
    * only 1.00→1.00 at sf0.01 and 0.92→0.94 at sf0.1, at two extra
    * corpus passes per iteration.
    */
  def pqTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val (m, codes, shortlist) = (PqM, PqCodes, PqShortlist)
    require(shortlist >= k, s"need k <= $shortlist, got $k")
    requireIntegralIds(queries, candidates)
    import graft.functions.VecKernels.vec_sqdist_d
    def l2(a: Column, b: Column) = vec_sqdist_d(a, b)
    def subSplit(v: Column): Column = subSplitExplode(v, m)

    val cand =
      candidates.select(col(VecId).as("cid"), dbl(col(Embedding)).as("cv"))
    val q = queries.select(col(VecId).cast(LongType).as("qid"),
      dbl(col(Embedding)).as("qv"))

    // deterministic per-subspace codebook from real corpus vectors
    val seedIds = candidates
      .groupBy(pmod(xxhash64(col(VecId)), lit(codes)).as("_code"))
      .agg(min(col(VecId)).as("_sid"))
    val cents = candidates
      .join(broadcast(seedIds), col(VecId) === col("_sid"))
      .select(col("_code"), subSplit(dbl(col(Embedding))))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "cvec")

    // encode: per (vector, subspace) the argmin-distance code as a
    // per-row fold over the broadcast per-subspace code array
    // (nearestCodeL2) — zero expansion, zero sort, zero exchange; ties
    // (_d, _code) identical to the min(struct) and window shapes it
    // replaces (the r16 SortAggregate lesson: struct-buffer aggregates
    // sort their expanded input inside every map task)
    val encoded = cand.select(col("cid"), subSplit(col("cv")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "sv")
      .join(broadcast(subCodeArrays(cents)), "sub")
      .select(col("cid"), col("sub"), nearestCodeL2(col("sv")).as("_code"))

    // ADC distance table: (qid, sub, code) → exact subspace distance,
    // DECIMAL so the per-candidate sum is order-independent
    val adc = q.select(col("qid"), subSplit(col("qv")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "qsv")
      .join(broadcast(cents), "sub")
      .select(col("qid"), col("sub"), col("_code"),
        l2(col("qsv"), col("cvec")).cast(DecimalType(28, 12)).as("_d"))

    // shortlist via the bounded TopKAgg buffer, NOT a per-query
    // row_number window: the window shape ships ALL N ADC-scored
    // candidates to one task per query — per-query exchange bytes grow
    // with corpus size. The agg partial-aggregates map-side, so the
    // exchange carries ≤ shortlist pairs per (query × partition). The
    // exact DECIMAL sum casts to double only for the top-k comparison;
    // ties (adc_dist, then cid asc) match the window's orderBy.
    // CAVEAT: distinct decimal distances that collide at double
    // resolution tie-break by cid, so shortlist MEMBERSHIP can differ
    // from a decimal-ordered rank at pathological near-ties (the ADC
    // sum itself stays summation-order-independent, and the exact
    // re-rank below bounds the effect to recall, never to ordering of
    // the final k). Still deterministic run-to-run.
    val short = encoded.join(broadcast(adc), Seq("sub", "_code"))
      .groupBy(col("qid"), col("cid")).agg(sum(col("_d")).as("adc_dist"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("adc_dist").cast(DoubleType),
        col("cid").cast(LongType), shortlist, ascending = true).as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_e"))
      .select(col("qid"), col("_e.id").as("cid"))

    // exact re-rank of the shortlist — same bounded-aggregate shape
    // (≤ shortlist rows per query feed it, but zero windows keeps the
    // whole plan in the bounded-exchange regime PlanSpec pins)
    short
      .join(broadcast(q), "qid").join(cand, "cid")
      .select(col("qid"), col("cid").cast(LongType).as("cid"),
        l2(col("qv"), col("cv")).as("dist"))
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("dist"), col("cid"), k, ascending = true)
        .as("_tk"))
      .select(col("qid"), posexplode(col("_tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("dist"),
        (col("pos") + 1).cast(LongType).as("rank"))
      .orderBy("qid", "rank")
  }

  /** Subvectors per PQ-coded vector ([[pqTopK]], [[ivfPqBuild]]). */
  private val PqM = 16

  /** Entries of a PQ codebook per subspace. */
  private val PqCodes = 32

  /** ADC candidates per query that re-rank with exact L2. */
  private val PqShortlist = 100

  /** IVF-PQ — the composed architecture production vector stores ship:
    * an IVF coarse quantizer prunes the corpus to `nprobe` of `nlist`
    * cells, and product quantization encodes each vector's RESIDUAL
    * (v − its cell centroid) in [[PqM]] subspaces × [[PqCodes]]
    * codebook entries. Residual encoding is what makes the composition better
    * than either half alone: residuals concentrate near the origin, so
    * one shared codebook (trained on all residuals, the standard
    * choice) spends its codes on a tighter distribution than raw
    * vectors would.
    *
    * Search: queries pick their `nprobe` nearest cells, build one ADC
    * table per probed cell from the query's residual w.r.t. THAT
    * cell's centroid, score only the probed cells' candidates over
    * their codes, and exact-re-rank the [[PqShortlist]]. All codebooks and
    * tables are broadcast-tiny; both argmins collapse map-side
    * (min(struct), never a per-candidate window); candidate vectors are
    * read exactly twice (encode + re-rank) at any corpus size.
    * The residual codebook stays hash-seeded: an in-plan Lloyd
    * refinement of it was measured and deleted — on this
    * structure-free corpus one pass LOWERED recall 0.92→0.86 at sf0.1
    * (BENCH_NOTES.md, "PQ codebook refinement measured").
    *
    * `twoLevelAssign` is the corpus-scaled-nlist switch for the
    * CANDIDATE-side cell assignment (the N·nlist term — quadratic once
    * nlist ∝ N; measured 869 s exact vs 179 s two-level at the 100×
    * rehearsal, SCALE.md r17): cells group under √nlist leaders and
    * each candidate scans only its top-2 leader groups
    * ([[ivfPqCellsTwoLevel]]). Approximate for boundary candidates,
    * exactly like `ivfTopK(twoLevelAssign = true)`; it engages by
    * itself once the build keeps [[TwoLevelAuto]] cells, and gates
    * keep the exact path.
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 8,
                twoLevelAssign: Boolean = false): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist && PqShortlist >= k,
      s"need 1 <= nprobe <= nlist and k <= $PqShortlist")
    ivfPqSearch(queries, ivfPqBuild(candidates, nlist, twoLevelAssign),
      candidates, k, nprobe, PqShortlist)
  }

  /** A built IVF-PQ index — three plain relational tables, the
    * persistable state of the production architecture: `coarse` is the
    * cell quantizer (cell, cellv array<double>), `codebook` the shared
    * residual PQ codebook (sub, _code, cvec array<double> — codes × m
    * rows, kilobytes at any corpus size), and `codes` the coded corpus
    * (cid, cell, sub, _code — m rows per vector, INTEGERS ONLY). The
    * codes table is the memory-bounded serving asset: m bytes-ish per
    * vector instead of the raw doubles; the raw corpus is NOT part of
    * the index — the exact re-rank stage reads it from wherever it
    * already lives (the corpus parquet), exactly like a production
    * store keeps codes hot and fetches full vectors only for the
    * shortlist. `nlist` (as declared, not the surviving cell count),
    * `m`, `codebookSize` and `twoLevel` are the build's decisions,
    * carried per the INDEX CONTRACT; [[save]] publishes the
    * tables and the record, [[Similarity.ivfPqLoad]] reads them back,
    * and any engine can inspect them.
    */
  final case class IvfPqIndex(coarse: DataFrame, codebook: DataFrame,
                              codes: DataFrame, nlist: Int, m: Int,
                              codebookSize: Int, twoLevel: Boolean) {
    def save(path: String): Unit = publishDir(coarse.sparkSession, path)(stage)

    /** Write the tables and the build record into the fresh `dir`. */
    private[graft] def stage(dir: String): Unit =
      stageIndex(dir, Seq("coarse" -> coarse, "codebook" -> codebook,
        "codes" -> codes), Seq("nlist" -> nlist.toString, "m" -> m.toString,
        "codebookSize" -> codebookSize.toString,
        "twoLevel" -> twoLevel.toString))
  }

  def ivfPqLoad(spark: org.apache.spark.sql.SparkSession,
                path: String): IvfPqIndex = {
    val build = loadRecord(spark, path)
    IvfPqIndex(spark.read.parquet(s"$path/coarse"),
      spark.read.parquet(s"$path/codebook"),
      spark.read.parquet(s"$path/codes"), build("nlist").toInt,
      build("m").toInt, build("codebookSize").toInt,
      build("twoLevel").toBoolean)
  }

  /** The build record inside every saved index directory. */
  private val BuildRecord = "_build"

  private def stageIndex(dir: String, tables: Seq[(String, DataFrame)],
                         record: Seq[(String, String)]): Unit = {
    tables.foreach { case (name, df) => df.write.parquet(s"$dir/$name") }
    val p = new org.apache.hadoop.fs.Path(dir, BuildRecord)
    graft.io.TextFiles.writeParams(fsOf(tables.head._2.sparkSession, p),
      p, record)
  }

  private def publishDir(spark: org.apache.spark.sql.SparkSession,
                         path: String)(stage: String => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    graft.io.Publish.replace(fsOf(spark, p), p)(next => stage(next.toString))
  }

  private def loadRecord(spark: org.apache.spark.sql.SparkSession,
                         path: String): String => String = {
    val p = new org.apache.hadoop.fs.Path(path, BuildRecord)
    val fs = fsOf(spark, p)
    require(fs.exists(p), s"$path holds no $BuildRecord record: not an " +
      "index directory written by IvfIndex.save / IvfPqIndex.save")
    val record = graft.io.TextFiles.readParams(fs, p)
    key => record.getOrElse(key, sys.error(s"$p lacks '$key'"))
  }

  private def fsOf(spark: org.apache.spark.sql.SparkSession,
                   p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Build the [[IvfPqIndex]]: coarse cells hash-seeded in-plan,
    * candidates assigned per-row (exact fold, or the two-level
    * leader-group fold at [[TwoLevelAuto]] surviving cells or under
    * `twoLevelAssign` — see [[ivfPqTopK]]), residuals split into
    * [[PqM]] subvectors and encoded against one shared
    * [[PqCodes]]-entry codebook.
    * O(1) corpus passes regardless of how the index is consumed: the
    * coarse quantizer and the codebook are localCheckpoint-materialized
    * at build (both broadcast-tiny), so [[IvfPqIndex.save]]'s three
    * writes and every serve re-derive nothing corpus-sized.
    */
  def ivfPqBuild(candidates: DataFrame, nlist: Int = 16,
                 twoLevelAssign: Boolean = false): IvfPqIndex = {
    val (m, codes) = (PqM, PqCodes)
    requireIntegralId(candidates, VecId)
    def subSplit(v: Column): Column = subSplitExplode(v, m)

    val cand =
      candidates.select(col(VecId).as("cid"), dbl(col(Embedding)).as("cv"))

    // coarse cells: nlist corpus vectors picked in-plan by hash bucket,
    // ALWAYS materialized (the ivfBuild centroid precedent): coarse is
    // referenced by the assignment, the probe side, the leader / group
    // derivations and — via save() — its own write; lazy, each
    // reference re-runs the corpus hash-pick join (the measured r15
    // ivfBuild trap)
    val coarse = candidates
      .join(broadcast(candidates
        .groupBy(pmod(xxhash64(col(VecId)), lit(nlist)).as("cell"))
        .agg(min(col(VecId)).as("_sid"))), col(VecId) === col("_sid"))
      .select(col("cell"), dbl(col(Embedding)).as("cellv"))
      .localCheckpoint()

    // assign candidates to their nearest cell via the per-row fold
    // (cells renamed to the shared (_code, cvec) shape; no expansion,
    // no SortAggregate — the r16 lesson); residual = cv − cellv.
    // twoLevelAssign is the corpus-scaled-nlist switch: the exact fold
    // scores N·nlist pairs — quadratic in N once nlist grows with the
    // corpus (the measured 497 s ivfTopK wall, SCALE.md) — so the
    // big-corpus path groups cells under √nlist leaders and each
    // CANDIDATE scans only its top-2 leader groups
    // ([[ivfPqCellsTwoLevel]]). The query-side probe stays exact: its
    // cost is nq·nlist, and nq is serving-bounded, not corpus-bounded
    // (a corpus-as-queries caller should use ivfTopK's two-level probe).
    // The rule keys on the SURVIVING cell count and rides in the index,
    // so absorb, drift check and stats assign later rows alike.
    val twoLevel = decideTwoLevel("ivfPqBuild", twoLevelAssign,
      coarse.count(), atMost = nlist)
    val assigned = ivfPqAssignResiduals(cand, coarse, twoLevel)

    // one shared PQ codebook over residuals, seeded by hash bucket
    val seedIds = candidates
      .groupBy(pmod(xxhash64(col(VecId), lit(7)), lit(codes)).as("_code"))
      .agg(min(col(VecId)).as("_pid"))
    val cents = assigned
      .join(broadcast(seedIds), col("cid") === col("_pid"))
      .select(col("_code"), subSplit(col("rv")))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "cvec")

    // cents is codes×m rows — checkpointing costs one corpus pass and
    // makes the encode, the codes write, and every served ADC build
    // free of the codebook re-derivation (the encode reads the
    // CHECKPOINTED frame, not the live chain)
    val cb = cents.localCheckpoint()
    IvfPqIndex(coarse, cb, ivfPqEncode(assigned, cb, m, None), nlist, m,
      codes, twoLevel)
  }

  /** Serve top-`k` L2 neighbors against a built [[IvfPqIndex]]:
    * queries pick their `nprobe` nearest cells, build one ADC table per
    * probed cell from the query's residual w.r.t. THAT cell's centroid,
    * score only the probed cells' candidates over their integer codes,
    * and exact-re-rank the `shortlist` against `rerank` — the raw
    * corpus table (vec_id, embedding), which is NOT part of the index (a
    * production store keeps codes hot and fetches full vectors only
    * for the ≤ shortlist·nq re-rank rows). All quantizer artifacts are
    * broadcast-tiny; both argmins collapse map-side.
    *
    * The subvector count comes from the index (INDEX CONTRACT). The
    * same STALENESS CONTRACT as [[ivfSearch]] applies: the index is a
    * snapshot; rows appended to the corpus after [[ivfPqBuild]] are
    * invisible until a rebuild.
    */
  def ivfPqSearch(queries: DataFrame, index: IvfPqIndex, rerank: DataFrame,
                  k: Int, nprobe: Int = 8,
                  shortlist: Int = PqShortlist): DataFrame =
    ivfPqServe(queries, index, rerank, None, k, nprobe, shortlist)

  /** [[ivfPqSearch]] against a STALE [[IvfPqIndex]] plus the unindexed
    * `delta` — the same union mitigation [[ivfSearchWithDelta]] ships
    * for plain IVF, placed where the PQ pipeline makes it free: every
    * delta candidate joins the ADC shortlist straight into the EXACT
    * L2 re-rank stage (which scores raw vectors anyway), so the delta
    * arm needs no codes, no cells, and no separate scoring pass — the
    * fused re-rank ranks stale-shortlist and appended rows on the one
    * exact metric. Same disjointness contract as ivfSearchWithDelta:
    * `delta` is the append log since the last [[ivfPqBuild]], never a
    * general union; when it stops being small, rebuild.
    */
  def ivfPqSearchWithDelta(queries: DataFrame, index: IvfPqIndex,
                           rerank: DataFrame, delta: DataFrame, k: Int,
                           nprobe: Int = 8,
                           shortlist: Int = PqShortlist): DataFrame =
    ivfPqServe(queries, index, rerank, Some(delta), k, nprobe, shortlist)

  /** Fold the append log back INTO a built [[IvfPqIndex]] —
    * [[ivfAbsorbDelta]]'s contract on the production architecture:
    * delta rows assign to the EXISTING coarse quantizer's cells (one
    * bounded pass over the delta; exact fold, or the two-level fold
    * by the build's rule), their residuals encode against the
    * EXISTING codebook, and the integer codes append to the codes
    * table. Neither quantizer retrains, the indexed corpus is never
    * re-read, and the absorbed index serves through [[ivfPqSearch]]
    * with the delta arm retired. The re-rank corpus passed to search
    * must then include the absorbed rows (they are indexed now — the
    * raw-vector side lives wherever the corpus lives, per the
    * IvfPqIndex contract).
    *
    * Same disjointness contract and absorb-vs-rebuild trade as
    * [[ivfAbsorbDelta]]: absorbed rows get probe-path + ADC recall
    * instead of the delta arm's exact scoring, and quantizer drift
    * after many absorptions still means rebuild. An index whose `m`
    * does not match its codebook raises in-plan via the encode's width
    * guard.
    */
  def ivfPqAbsorbDelta(index: IvfPqIndex, delta: DataFrame): IvfPqIndex = {
    requireIntegralId(delta, VecId)
    val cand = delta.select(col(VecId).as("cid"), dbl(col(Embedding)).as("cv"))
    val encoded = ivfPqEncode(
      ivfPqAssignResiduals(cand, index.coarse, index.twoLevel),
      index.codebook, index.m, Some("ivfPqAbsorbDelta"))
    index.copy(codes = index.codes.unionByName(encoded))
  }

  private def ivfPqServe(queries: DataFrame, index: IvfPqIndex,
                         rerank: DataFrame, delta: Option[DataFrame],
                         k: Int, nprobe: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, "need shortlist >= k")
    requireIntegralId(queries, VecId)
    import graft.functions.VecKernels.{vec_sqdist_d, vec_sub_d}
    def l2(a: Column, b: Column) = vec_sqdist_d(a, b)

    val coarse = index.coarse
    val cents = index.codebook
    val encoded = index.codes
    // the re-rank vector source: the indexed corpus, plus the appended
    // tail when serving a stale index — disjoint by contract, so the
    // union never double-scores a candidate
    val cand0 = rerank.select(col(VecId).as("cid"), dbl(col(Embedding)).as("cv"))
    val cand = delta.fold(cand0)(d => cand0.unionByName(
      d.select(col(VecId).as("cid"), dbl(col(Embedding)).as("cv"))))
    val q = queries.select(col(VecId).cast(LongType).as("qid"),
      dbl(col(Embedding)).as("qv"))

    // probe: per query the nprobe nearest cells. Only nlist rows per
    // query, but the bounded TopKAgg keeps even this stage map-side
    // (no per-query window anywhere in the plan — PlanSpec pins it);
    // probed cells re-join broadcast(coarse) to recover the centroid
    // vector for the query residual.
    val probes = q.crossJoin(broadcast(coarse))
      .select(col("qid"), col("cell"), l2(col("qv"), col("cellv")).as("_d"))
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("_d"), col("cell").cast(LongType), nprobe,
        ascending = true).as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_e"))
      .select(col("qid"), col("_e.id").as("cell"))
      .join(broadcast(q), "qid")
      .join(broadcast(coarse), "cell")
      .select(col("qid"), col("cell"),
        vec_sub_d(col("qv"), col("cellv")).as("qrv"))

    // per-(query, probed cell) ADC table against the shared codebook
    val adc = probes.select(col("qid"), col("cell"),
        subSplitExplode(col("qrv"), index.m))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "qsv")
      .join(broadcast(cents), "sub")
      // in-plan guard, zero extra jobs: an index whose recorded m does
      // not match the codebook read from disk slices query residuals
      // into subvectors of a different width than the codebook's —
      // without this check the zip_with yields nulls and the shortlist
      // goes silently wrong/empty
      .select(col("qid"), col("cell"), col("sub"), col("_code"),
        when(size(col("qsv")) =!= size(col("cvec")),
          raise_error(concat(lit("ivfPqSearch: subvector width "),
            size(col("qsv")).cast(StringType),
            lit(" != codebook width "),
            size(col("cvec")).cast(StringType),
            lit(" — the index's m does not match its codebook"))))
          .otherwise(l2(col("qsv"), col("cvec")))
          .cast(DecimalType(28, 12)).as("_d"))

    // bounded map-side shortlist + re-rank (see pqTopK): exchange bytes
    // per query bounded by shortlist/k, never the probed candidate count
    // (≈ nprobe/nlist of the corpus — still linear in N through one
    // task per query under the old window shape)
    val short = encoded.join(broadcast(adc), Seq("cell", "sub", "_code"))
      .groupBy(col("qid"), col("cid")).agg(sum(col("_d")).as("adc_dist"))
      .filter(col("qid") =!= col("cid"))
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("adc_dist").cast(DoubleType),
        col("cid").cast(LongType), shortlist, ascending = true).as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_e"))
      .select(col("qid"), col("_e.id").as("cid"))

    // delta arm: EVERY appended candidate enters every query's re-rank
    // set (the tail is small by contract — it rides the broadcast of
    // the nq-bounded query-id side), where the exact L2 ranks it
    // against the stale shortlist on the one shared metric. The
    // (qid, cid) distinct is cheap hardening over the bounded set: a
    // delta id that ALSO exists in the indexed corpus (disjointness-
    // contract violation) would otherwise enter via both arms and hold
    // two result slots; the distinct collapses the pair so the
    // violation costs a double-scored candidate at most once — the
    // contract (and the sim20/sim22 gates' construction) remains the
    // real defense against duplicate SCORING rows in `cand`.
    val rerankSet = delta.fold(short)(d => short.unionByName(
      broadcast(q.select(col("qid")))
        .crossJoin(d.select(col(VecId).cast(LongType).as("cid")))
        .filter(col("qid") =!= col("cid")))
      .distinct())

    // the re-rank set is ≤ shortlist·nq (+ nq·|delta|) rows — BROADCAST
    // it into the corpus-sized raw-vector scan (the bqSearch lesson:
    // unhinted, the planner shuffles the corpus at scale)
    cand.join(broadcast(rerankSet), "cid").join(broadcast(q), "qid")
      .select(col("qid"), col("cid").cast(LongType).as("cid"),
        l2(col("qv"), col("cv")).as("dist"))
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("dist"), col("cid"), k, ascending = true)
        .as("_tk"))
      .select(col("qid"), posexplode(col("_tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("dist"),
        (col("pos") + 1).cast(LongType).as("rank"))
      .orderBy("qid", "rank")
  }

  /** `tables` independent `bits`-bit signatures per vector (table t uses
    * hyperplanes seeded t*bits+j, so no plane is shared). One signature
    * of b bits has collision probability p^b for per-bit agreement p —
    * hopeless for moderate-cosine neighbors (p=⅔, b=8 ⇒ 4%); L
    * independent tables lift it to 1−(1−p^b)^L (b=4, L=8 ⇒ ~83%), the
    * standard recall lever for hyperplane LSH. Output one row per
    * (vector, table): (id, vec, table, bucket).
    */
  def lshTables(df: DataFrame, bits: Int, tables: Int): DataFrame =
    // compiled kernel (r20): the HOF formulation evaluated
    // xxhash64(t·bits + j, p) inside an interpreted zip_with — dim ×
    // bits × tables hash + branch expression-tree walks per ROW (4096
    // at the gate defaults on 64-dim vectors). lsh_sigs derives the
    // identical per-table signatures (same hash chain, same IEEE
    // projection order, same null-folds-to-zero planes — VecKernelsSpec
    // pins it) in one compiled pass; posexplode(pos → table) keeps the
    // output schema byte-identical.
    df.select(col(VecId), col(Embedding),
      posexplode(
        graft.functions.VecKernels.lsh_sigs(col(Embedding), bits, tables)))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")

  /** The one LSH shape every build and search uses: 4 bits × 16
    * tables (the recall tuning on [[annTopK]]).
    */
  private val LshBits = 4
  private val LshTableCount = 16

  /** The PERSISTABLE LSH index asset — the sim16 build/serve split for
    * the hyperplane-LSH family: (vec_id, table, bucket), one 24-byte
    * row per (vector, table) — raw vectors deliberately NOT included
    * (the re-rank side lives with the corpus, the IvfPqIndex
    * contract). Because the hyperplanes are derived from
    * (table·bits + j) hashes rather than a stored projection matrix,
    * the asset needs NO quantizer artifact: a query batch re-derives
    * the identical planes from the one fixed shape. Same staleness
    * contract as every persisted index here; append-absorb is EXACT
    * like [[bqAbsorbDelta]] (the encoder is stateless — new rows band
    * through the same definition and append).
    */
  def lshBuild(df: DataFrame): DataFrame = {
    requireIntegralId(df, VecId)
    lshTables(df, LshBits, LshTableCount)
      .select(col(VecId).cast(LongType).as(VecId), col("table"),
        col("bucket"))
  }

  /** Serve top-k against a PRE-BUILT [[lshBuild]] table (typically
    * persisted parquet): the query batch derives its own signatures
    * (same shape ⇒ same hyperplanes), candidates meet in the
    * (table, bucket) equi-join against the persisted layout — the
    * corpus-sized signature derivation never runs — and the exact
    * cosine + bounded top-k scores only the colliding candidates
    * against `rerank` (the raw corpus handle). EQUIVALENCE (sim35
    * pins it): [[annTopK]] is this search over a fresh [[lshBuild]] —
    * the signatures are value-deterministic, so persistence changes
    * where they are read from, never what they are.
    */
  def lshSearch(queries: DataFrame, index: DataFrame, rerank: DataFrame,
                k: Int): DataFrame = {
    requireIntegralIds(queries, rerank)
    val qb = lshTables(queries, LshBits, LshTableCount)
      .select(col(VecId).cast(LongType).as("qid"), col("table"),
        col("bucket"))
    val cb = index.select(col(VecId).as("cid"), col("table"), col("bucket"))
    val pairs = qb.join(cb, Seq("table", "bucket"))
      .filter(col("qid") =!= col("cid"))
      .select("qid", "cid").distinct()
    val qv = queries.select(col(VecId).cast(LongType).as("qid"),
      col(Embedding).as("qv"))
    val cv = rerank.select(col(VecId).as("cid"), col(Embedding).as("cv"))
    // bounded map-side top-k (see cosineTopK): the LSH candidate set per
    // query is ≈ tables/2^bits of the corpus on a structure-free corpus
    // — linear in N — so the old per-query rank window shipped a
    // linear-in-N row set to one task per query; the aggregate's
    // exchange carries ≤ k pairs per (query × partition)
    presentTopK(pairs.join(broadcast(qv), "qid").join(cv, "cid")
      .select(col("qid"), col("cid").cast(LongType).as("cid"),
        cosine(col("qv"), col("cv")).as("sim")), k)
  }

  /** IVF-style ANN: a coarse quantizer of `nlist` centroids — real
    * corpus vectors picked by hash, in-plan — every vector assigned to
    * its nearest centroid (broadcast centroids, partition-local
    * argmin), queries probed against their `nprobe` nearest centroid
    * lists only.
    *
    * The centroids stay hash-picked. A spherical k-means refinement of
    * them was measured and deleted: on this near-uniform synthetic
    * corpus it balanced the lists (23–45 members vs the seeds' skew)
    * but LOWERED recall at every nprobe (sf0.01, top-5: 0.84→0.62
    * @nprobe=4, 0.92→0.78 @nprobe=8), because with no real cluster
    * structure the skewed Voronoi cells around actual corpus vectors
    * track neighbor geometry better than shrunken-norm means — the
    * recall lever here is `nprobe`, not Lloyd (BENCH_NOTES.md round 6).
    *
    * Scale shape: assignment is a narrow broadcast pass; the probe join
    * is a hash-partitioned equi-join on centroid id — candidate count
    * per query ≈ nprobe/nlist of the corpus instead of all of it.
    *
    * `twoLevelAssign` switches build and probe to the leader-group
    * assignment ([[ivfBuild]]); it engages by itself once the build
    * keeps [[TwoLevelAuto]] centroids (the measured 497 s exact-assign
    * wall at nlist=1600, SCALE.md).
    *
    * `pinProbeParallelism`: pass TRUE when `queries` IS the corpus
    * (the kNN-graph build, sim12's shape) — the pair-scoring stage is
    * then CPU-dense with kilobyte-sized shuffle stats, exactly what
    * AQE's byte-based coalescing misjudges into a one-task stage. The
    * pin keeps the probe-side exchange at the full session
    * shuffle-partition count instead of letting AQE coalesce it by
    * BYTES: the cell join's output explodes ×(cell width) in CPU while
    * its shuffled input stays kilobytes — with a corpus-sized query
    * side AQE folded the whole pair-scoring stage into ONE task
    * (measured r20, sim12 at sf0.1: a 7–11 s single-task stage vs 3
    * tasks on the runs where the size estimate landed differently —
    * the five BENCH_NOTES "sim12 transient" observations were this
    * plan flip, not JVM noise). The pin is an explicit
    * repartition-by-number on the join key, which AQE never rewrites.
    * Leave FALSE (default) for nq-sized query sides: there the probe
    * set should stay broadcastable and AQE keeps its freedom — pinning
    * a tiny probe side would force a corpus-sided exchange the
    * broadcast plan never pays.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 8,
              twoLevelAssign: Boolean = false,
              pinProbeParallelism: Boolean = false): DataFrame = {
    requireIntegralIds(queries, candidates)
    val index = ivfBuild(candidates, nlist, twoLevelAssign)
    val g = math.max(1, math.round(math.sqrt(nlist.toDouble)).toInt)
    // AVERAGE-capacity sanity bound, not a guarantee: leader groups
    // are hash-picked and nearest-leader regrouping makes them uneven,
    // so a query near this bound can still see fewer than nprobe cells
    // (it probes what its scanned groups hold — graceful, top_k just
    // returns fewer). The require only rejects configurations that
    // cannot work even with perfectly even groups. It is also checked
    // against the DECLARED nlist: execution derives g via gOf() from
    // the centroids that actually survive build (hash-bucket
    // collisions can leave fewer), so treat this as an approximate
    // config check, not a bound on the executed geometry.
    if (index.twoLevel) require(nprobe <= LeaderGroups * (nlist / g),
      s"two-level probes see ~$LeaderGroups*(nlist/g) cells on average: " +
        s"nprobe=$nprobe > $LeaderGroups*${nlist / g}")
    presentTopK(ivfPairs(queries, index, nprobe, pinProbeParallelism), k)
  }

  /** A built IVF index: `centroids` is the coarse quantizer
    * (centroid_id, cvec array<double>, cnorm), `cells` the cell-keyed
    * corpus (cid, cv array<double>, cn, centroid_id) — vectors stored
    * cell-ordered, the layout a production vector store serves from —
    * and `nlist` (as declared; hash-picked cells can collide, so fewer
    * may survive) and `twoLevel` the build's decisions (INDEX
    * CONTRACT).
    * Both frames are plain relational tables: [[save]] publishes them
    * with the record, [[Similarity.ivfLoad]] reads them back, and any
    * engine can inspect them.
    */
  final case class IvfIndex(centroids: DataFrame, cells: DataFrame,
                            nlist: Int, twoLevel: Boolean) {
    def save(path: String): Unit =
      publishDir(centroids.sparkSession, path)(stage)

    /** Write the tables and the build record into the fresh `dir`. */
    private[graft] def stage(dir: String): Unit =
      stageIndex(dir, Seq("centroids" -> centroids, "cells" -> cells),
        Seq("nlist" -> nlist.toString, "twoLevel" -> twoLevel.toString))
  }

  /** Load an [[IvfIndex]] persisted by `IvfIndex.save`. */
  def ivfLoad(spark: org.apache.spark.sql.SparkSession,
              path: String): IvfIndex = {
    val build = loadRecord(spark, path)
    IvfIndex(spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/cells"), build("nlist").toInt,
      build("twoLevel").toBoolean)
  }

  // ---- IVF internals (shared by build and search) -----------------------

  /** Leader groups a two-level QUERY probe scans: below √nlist at every
    * nlist the gates use, so query-side pruning is genuinely exercised
    * (sim13 pins recall at this value).
    */
  private val LeaderGroups = 3

  /** Leader groups a two-level CANDIDATE scans before picking its one
    * cell. One group loses boundary candidates to every probe — the
    * structural 0.80 recall ceiling measured in r15; two restore the
    * exact cell for them (0.80 → 0.84 at the rehearsal config, BENCH_NOTES
    * "Round 16: two-level IVF recall").
    */
  private val CandidateGroups = 2

  private def ivfDot(x: Column, y: Column): Column =
    graft.functions.VecKernels.vec_dot_d(x, y)
  private def ivfWithNorm(df: DataFrame,
                          id: String, v: String, n: String): DataFrame =
    df.select(col(VecId).cast(LongType).as(id), dbl(col(Embedding)).as(v))
      .withColumn(n, sqrt(ivfDot(col(v), col(v))))

  // norms precomputed ONCE per vector; per-pair work is a single dot.
  // The nearest-centroid pick is a bounded TopKAgg — the nlist
  // dimension collapses map-side BEFORE the exchange (the old
  // row_number window shipped N·nlist scored rows through a shuffle
  // keyed on the vector id); ties (_dist, centroid_id asc) identical.
  private def ivfAssign(df: DataFrame, centroids: DataFrame, topN: Int,
                        id: String, v: String, nn: String): DataFrame =
    ivfWithNorm(df, id, v, nn)
      .crossJoin(broadcast(centroids))
      .select(col(id), col(v), col(nn),
        (lit(1.0) - ivfDot(col(v), col("cvec")) / (col(nn) * col("cnorm")))
          .as("_dist"),
        col("centroid_id"))
      .groupBy(col(id))
      .agg(TopKAgg.top_k(col("_dist"), col("centroid_id").cast(LongType),
        topN, ascending = true).as("_tk"),
        first(col(v)).as(v), first(col(nn)).as(nn))
      .select(col(id), col(v), col(nn), explode(col("_tk")).as("_e"))
      .select(col(id), col(v), col(nn), col("_e.id").as("centroid_id"))

  // leaders: hash-picked centroids; every centroid mapped to its
  // nearest leader once (nlist·g pairs — negligible at any scale).
  // Derivation is cheap ONLY against materialized centroids — both
  // callers pass the build's localCheckpointed frame (or a parquet
  // scan after ivfLoad), never the live centroid chain, which would
  // re-scan the corpus per reference (measured 47 s vs 14 s at 10×
  // before materialization, BENCH_NOTES r15).
  private def ivfLeaders(centroids: DataFrame, g: Int): DataFrame =
    centroids
      .groupBy(pmod(xxhash64(col("centroid_id")), lit(g)).as("_lb"))
      .agg(min(col("centroid_id")).as("_lid"))
      .join(centroids, col("_lid") === col("centroid_id"))
      .select(col("_lid"), col("cvec").as("lvec"), col("cnorm").as("lnorm"))

  private def ivfGrouped(centroids: DataFrame,
                         leaders: DataFrame): DataFrame = {
    val m = centroids.crossJoin(broadcast(leaders))
      .select(col("centroid_id"),
        struct((lit(1.0) - ivfDot(col("cvec"), col("lvec")) /
          (col("cnorm") * col("lnorm"))).as("_d"), col("_lid")).as("_dl"))
      .groupBy(col("centroid_id"))
      .agg(min(col("_dl")).getField("_lid").as("leader_id"))
    centroids.join(m, "centroid_id")
  }

  private def ivfAssign2(df: DataFrame, leaders: DataFrame,
                         grouped: DataFrame, topN: Int, scanGroups: Int,
                         id: String, v: String, nn: String): DataFrame =
    ivfWithNorm(df, id, v, nn)
      .crossJoin(broadcast(leaders))
      .select(col(id), col(v), col(nn),
        (lit(1.0) - ivfDot(col(v), col("lvec")) / (col(nn) * col("lnorm")))
          .as("_ld"), col("_lid"))
      .groupBy(col(id))
      .agg(TopKAgg.top_k(col("_ld"), col("_lid").cast(LongType), scanGroups,
        ascending = true).as("_lt"),
        first(col(v)).as(v), first(col(nn)).as(nn))
      .select(col(id), col(v), col(nn), explode(col("_lt")).as("_le"))
      .select(col(id), col(v), col(nn), col("_le.id").as("leader_id"))
      .join(broadcast(grouped), "leader_id")
      .select(col(id), col(v), col(nn),
        (lit(1.0) - ivfDot(col(v), col("cvec")) / (col(nn) * col("cnorm")))
          .as("_dist"), col("centroid_id"))
      .groupBy(col(id))
      .agg(TopKAgg.top_k(col("_dist"), col("centroid_id").cast(LongType),
        topN, ascending = true).as("_tk"),
        first(col(v)).as(v), first(col(nn)).as(nn))
      .select(col(id), col(v), col(nn), explode(col("_tk")).as("_e"))
      .select(col(id), col(v), col(nn), col("_e.id").as("centroid_id"))

  /** Each vector of `df` to ONE cell of the materialized `centroids`:
    * exact, or two-level through [[CandidateGroups]] leader groups —
    * the one candidate-side rule [[ivfBuild]], [[ivfAbsorbDelta]] and
    * [[ivfDriftCheck]] share, so built and later rows land alike. g
    * derives from the ACTUAL surviving centroid count, exactly as
    * ivfSearch re-derives it: build and search MUST group leaders
    * identically, including after a save/load round-trip.
    */
  private def ivfAssignCells(df: DataFrame, centroids: DataFrame,
                             twoLevel: Boolean): DataFrame =
    if (twoLevel) {
      val leaders = ivfLeaders(centroids, gOf(centroids))
      ivfAssign2(df, leaders, ivfGrouped(centroids, leaders), 1,
        CandidateGroups, "cid", "cv", "cn")
    } else ivfAssign(df, centroids, 1, "cid", "cv", "cn")

  /** Exact L2 cell pick for the IVF-PQ family: per-row argmin fold
    * over the ONE broadcast cell array — zero expansion, zero
    * exchange, zero sort (the km01/dd15 fold shape). Shared by
    * [[ivfPqBuild]]'s assignment and [[ivfPqAbsorbDelta]]'s
    * re-assignment of the append log. `coarse` must be materialized
    * by the caller.
    */
  private def ivfPqCellsExact(cand: DataFrame, coarse: DataFrame): DataFrame = {
    val cellArr = coarse
      .select(col("cell").as("_code"), col("cellv").as("cvec"))
      .agg(array_sort(collect_list(struct(col("_code"), col("cvec"))))
        .as("_codes"))
    cand.crossJoin(broadcast(cellArr))
      .select(col("cid"), col("cv"), nearestCodeL2(col("cv")).as("cell"))
  }

  /** Coarse-assign `cand` (cid, cv) to `coarse`'s cells and attach the
    * residual rv = cv − cellv — the ONE assignment definition shared by
    * [[ivfPqBuild]] and [[ivfPqAbsorbDelta]]: built and absorbed rows
    * must land in identical cells with identical residual math, or
    * served probes against an absorbed index go silently wrong.
    */
  private def ivfPqAssignResiduals(cand: DataFrame, coarse: DataFrame,
                                   twoLevel: Boolean): DataFrame = {
    val cellPick =
      if (twoLevel) ivfPqCellsTwoLevel(cand, coarse)
      else ivfPqCellsExact(cand, coarse)
    cellPick.join(broadcast(coarse), "cell")
      .select(col("cid"), col("cell"),
        graft.functions.VecKernels.vec_sub_d(col("cv"), col("cellv")).as("rv"))
  }

  /** Encode assigned residuals (cid, cell, rv) against `codebook` via
    * the per-row argmin fold — the ONE encode definition shared by
    * build and absorb (same discipline as the assignment above).
    * `guardSite` (set by absorb) arms a per-row width raise_error: a
    * delta of the wrong dimensionality, or a wrong caller `m`, slices
    * residual subvectors that mismatch the codebook and must fail
    * loudly, never silently mis-encode. Build passes None — it derives
    * both sides from the same corpus, so the guard would only cost.
    */
  private def ivfPqEncode(assigned: DataFrame, codebook: DataFrame, m: Int,
                          guardSite: Option[String]): DataFrame = {
    val subs = assigned
      .select(col("cid"), col("cell"), subSplitExplode(col("rv"), m))
      .withColumnRenamed("pos", "sub").withColumnRenamed("col", "sv")
      .join(broadcast(subCodeArrays(codebook)), "sub")
    val subCol = guardSite.fold(col("sub")) { site =>
      when(size(col("sv")) =!= size(element_at(col("_codes"), 1)
          .getField("cvec")),
        raise_error(concat(lit(s"$site: residual subvector width "),
          size(col("sv")).cast(StringType),
          lit(" != codebook width "),
          size(element_at(col("_codes"), 1).getField("cvec"))
            .cast(StringType),
          lit(" — delta dimensionality / m must match the built index"))))
        .otherwise(col("sub"))
    }
    subs.select(col("cid"), col("cell"), subCol.as("sub"),
      nearestCodeL2(col("sv")).as("_code"))
  }

  /** Two-level L2 cell pick for [[ivfPqTopK]]'s candidate-side coarse
    * assignment — the sim13 leader trick carried into the L2/double
    * regime IVF-PQ runs in (its quantizer, residuals, ADC and re-rank
    * are all L2; reusing the cosine-metric [[ivfAssign2]] here would
    * assign candidates by one geometry and probe them by another).
    * The nlist cells group under g = √nlist hash-picked LEADER cells;
    * each candidate folds over the g leaders, spills into its TOP-2
    * leader groups (the sim13 candidate-side lesson: one group loses
    * boundary candidates permanently — the structural 0.80 recall
    * ceiling), and argmins over only those groups' cells —
    * g + 2·(nlist/g) distances per candidate instead of nlist.
    *
    * Pure per-row folds over ONE broadcast nested-group row: zero
    * expansion, zero exchange, zero sort on the corpus pass (the
    * [[Clustering.assignToSeedsTwoLevel]] shape, doubles instead of
    * decimals — IVF-PQ has no cross-engine-exactness contract on its
    * assignment, and double L2 is ~an order of magnitude cheaper than
    * decimal per fold step). Deterministic: hash-picked leaders,
    * strict-< folds over ascending arrays, ties to the lower id.
    * `coarse` must be materialized by the caller (it is referenced
    * from the leader, group AND membership derivations).
    */
  private def ivfPqCellsTwoLevel(cand: DataFrame,
                                 coarse: DataFrame): DataFrame = {
    def l2d(a: Column, b: Column): Column =
      graft.functions.VecKernels.vec_sqdist_d(a, b)
    // g from the ACTUAL surviving cell count (hash-bucket collisions
    // can leave < nlist) — one count over nlist checkpointed rows
    val g = math.max(1, math.round(math.sqrt(coarse.count().toDouble)).toInt)
    val leaders = coarse
      .groupBy(pmod(xxhash64(col("cell")), lit(g)).as("_lb"))
      .agg(min(col("cell")).as("_lid"))
      .join(coarse, col("_lid") === col("cell"))
      .select(col("_lid"), col("cellv").as("lvec"))
    val la = leaders
      .agg(array_sort(collect_list(struct(col("_lid"), col("lvec"))))
        .as("_lds"))
    // every cell to its nearest leader (nlist·g pairs — negligible),
    // then ONE broadcast row of (_lid, lvec, member cells) groups,
    // member arrays cell-ascending, _lid-ascending
    val cellLeader = coarse.crossJoin(broadcast(la))
      .select(col("cell"), col("cellv"),
        aggregate(col("_lds"),
          struct(lit(null).cast(DoubleType).as("_d"),
            lit(null).cast(LongType).as("_c")),
          (acc, s) => {
            val d = l2d(col("cellv"), s.getField("lvec"))
            when(acc.getField("_d").isNull || d < acc.getField("_d"),
              struct(d.as("_d"), s.getField("_lid").as("_c")))
              .otherwise(acc)
          }).getField("_c").as("_lid"))
    val groups = cellLeader
      .groupBy(col("_lid"))
      .agg(array_sort(collect_list(struct(col("cell").as("_code"),
        col("cellv").as("cvec")))).as("cells"))
      .join(leaders, "_lid")
      .agg(array_sort(collect_list(struct(col("_lid"), col("lvec"),
        col("cells")))).as("_groups"))
    val cellsType = ArrayType(StructType(Seq(
      StructField("_code", LongType),
      StructField("cvec", ArrayType(DoubleType)))))
    val nullG = struct(lit(null).cast(DoubleType).as("_d"),
      lit(null).cast(cellsType).as("cells"))
    val best2 = aggregate(col("_groups"), struct(nullG.as("a"), nullG.as("b")),
      (acc, grp) => {
        val d = l2d(col("cv"), grp.getField("lvec"))
        val c0 = struct(d.as("_d"), grp.getField("cells").as("cells"))
        val a0 = acc.getField("a")
        val b0 = acc.getField("b")
        when(a0.getField("cells").isNull, struct(c0.as("a"), b0.as("b")))
          .when(d < a0.getField("_d"), struct(c0.as("a"), a0.as("b")))
          .when(b0.getField("cells").isNull || d < b0.getField("_d"),
            struct(a0.as("a"), c0.as("b")))
          .otherwise(acc)
      })
    val scan = concat(col("_b2")("a")("cells"),
      coalesce(col("_b2")("b")("cells"), array().cast(cellsType)))
    val pick = aggregate(scan,
      struct(lit(null).cast(DoubleType).as("_d"),
        lit(null).cast(LongType).as("_c")),
      (acc, s) => {
        val d = l2d(col("cv"), s.getField("cvec"))
        when(acc.getField("_d").isNull || d < acc.getField("_d"),
          struct(d.as("_d"), s.getField("_code").as("_c")))
          .otherwise(acc)
      }).getField("_c")
    cand.crossJoin(broadcast(groups))
      .withColumn("_b2", best2)
      .select(col("cid"), col("cv"), pick.as("cell"))
  }

  /** Build the IVF index once — the production split: [[ivfBuild]]
    * runs the expensive corpus passes (quantizer training + cell
    * assignment), [[IvfIndex.save]] persists the result, and any
    * number of [[ivfSearch]] calls serve queries against it without
    * touching the corpus again.
    *
    * Two-level coarse quantization (the FAISS-style answer to the
    * measured 100× ceiling — see BENCH_NOTES r15): brute-force
    * assignment scores N·nlist pairs, and with nlist scaled to the
    * corpus (the linear-probe-join regime) that term is quadratic in
    * N. Grouping the nlist centroids under √nlist hash-picked LEADER
    * centroids cuts assignment to N·(√nlist + nlist/√nlist·scanned):
    * each vector picks its nearest leader(s), then scans only those
    * leaders' centroid groups. Candidates scan [[CandidateGroups]] = 2
    * groups before picking their ONE cell: with a single
    * group, a candidate whose true nearest centroid lives in a
    * different leader group is permanently lost to every probe — the
    * structural 0.80 recall ceiling measured in r15 (BENCH_NOTES.md,
    * "Round 16: two-level IVF recall": more query-side probes could
    * not recover it). Spilling candidate assignment to the top-2
    * leader groups doubles the candidate scan term (still O(√nlist)
    * per vector) and restores the exact
    * cell for the boundary candidates (0.80 → 0.84 at the rehearsal
    * config; the residual gap vs exact-assign 0.86 is query-side
    * group visibility — BENCH_NOTES r16).
    *
    * The centroid table is localCheckpoint-materialized in BOTH
    * modes: leaders/groups derive from it here AND in [[ivfSearch]],
    * and the live centroid chain re-scans the corpus per reference
    * (the measured r15 trap).
    *
    * The two-level path also engages by itself once [[TwoLevelAuto]]
    * centroids survive the hash pick (nlist ∝ N ⇒ the exact candidate
    * assignment is quadratic) — the surviving count, not the declared
    * nlist. The index records the decision, so [[ivfSearch]],
    * [[ivfAbsorbDelta]] and [[ivfDriftCheck]] treat later rows by the
    * rule the build used.
    */
  def ivfBuild(candidates: DataFrame, nlist: Int = 16,
               twoLevelAssign: Boolean = false): IvfIndex = {
    requireIntegralId(candidates, VecId)
    // seed centroids picked ENTIRELY in-plan: min id per
    // pmod(xxhash64(id), nlist) hash bucket — ≤ nlist well-spread ids
    // with no driver-side action (an earlier candidates.count() here cost
    // a full extra pass over the corpus before the real job)
    val centroidIds = candidates
      .groupBy(pmod(xxhash64(col(VecId)), lit(nlist)).as("_b"))
      .agg(min(col(VecId)).as("_cid"))
      .select(col("_cid"))
    val seeds = candidates
      .join(broadcast(centroidIds), col(VecId) === col("_cid"))
      .select(col("_cid").as("centroid_id"), dbl(col(Embedding)).as("cvec"))
    // the centroid table is ALWAYS localCheckpoint-materialized: the
    // live chain re-scans the corpus per reference (seeds are a
    // corpus groupBy + join), and the index is referenced from the
    // build's assignment, from ivfSearch's probe side, and — in
    // two-level mode — from the leader/group derivations on BOTH
    // sides, which then read nlist materialized rows, never ~5 corpus
    // re-scans (the measured r15 trap).
    val centroids = seeds
      .withColumn("cnorm", sqrt(ivfDot(col("cvec"), col("cvec"))))
      .localCheckpoint()
    val twoLevel = decideTwoLevel("ivfBuild", twoLevelAssign,
      centroids.count(), atMost = nlist)
    IvfIndex(centroids, ivfAssignCells(candidates, centroids, twoLevel),
      nlist, twoLevel)
  }

  /** Serve top-`k` against a built [[IvfIndex]] — queries assign to
    * their `nprobe` nearest centroids (exact over the index's
    * quantizer, or two-level through [[LeaderGroups]] leader groups
    * when the index was built two-level) and meet the cell-keyed corpus in
    * a hash equi-join on centroid id. The final top-k runs through the
    * same bounded aggregate as the assignment: the exchange carries
    * ≤ k pairs per (query × partition), never the ≈ nprobe/nlist·N
    * probed candidates the window shape serialized onto one task.
    *
    * After [[ivfLoad]] both index frames are parquet scans, so the
    * leader/group derivation (two-level mode) costs nlist-row work —
    * the corpus is never touched again.
    *
    * STALENESS CONTRACT: the index is a SNAPSHOT of the corpus at
    * build time. A vector appended to the source table after
    * [[ivfBuild]] is invisible to every ivfSearch against the
    * persisted index — there is no incremental maintenance path. A
    * pipeline that appends must either REBUILD (periodic, the
    * production norm — the build is one linear corpus pass) or serve
    * the delta separately and UNION the shortlists (search the stale
    * index + brute-force the small unindexed tail, then keep the
    * overall top-k — rank fusion is unnecessary because both sides
    * score the same metric; shipped as [[ivfSearchWithDelta]], gated
    * by sim20). Serving a grown corpus against a stale
    * index silently degrades recall with zero errors, which is why
    * this is a documented contract and a pinned spec
    * (PipelineSpec "IVF index staleness"), not just behavior.
    */
  def ivfSearch(queries: DataFrame, index: IvfIndex, k: Int,
                nprobe: Int = 8): DataFrame =
    presentTopK(ivfPairs(queries, index, nprobe), k)

  /** Serve top-`k` against a STALE [[IvfIndex]] plus the unindexed
    * `delta` — the union mitigation the staleness contract above
    * names: probe the persisted snapshot as usual, brute-force the
    * small appended tail, and keep the overall top-k from the merged
    * pair stream. No rank fusion is needed because both arms score
    * the identical double cosine (dot / (‖q‖·‖c‖), norms via the same
    * sqrt-of-self-dot), so scores are directly comparable — the merge
    * is one bounded TopKAgg over both arms' ≤ k-per-partition partial
    * buffers, never a second shuffle of either corpus.
    *
    * CONTRACT: `delta` must be DISJOINT from the indexed corpus (it is
    * the rows appended after [[ivfBuild]]). A vector present in both
    * would score twice and occupy two shortlist slots — this is the
    * caller's append log, not a general union. The delta arm is EXACT
    * (every delta candidate scored), so recall over the delta slice is
    * 1.0 and overall recall is bounded below by the stale index's
    * recall on the indexed slice — appending data can only ever help.
    *
    * Scale shape: the delta is small by construction (it is what has
    * arrived since the last periodic rebuild) and rides the broadcast
    * query side exactly like [[cosineTopK]]; when the delta stops
    * being small, that IS the rebuild signal.
    */
  def ivfSearchWithDelta(queries: DataFrame, index: IvfIndex,
                         delta: DataFrame, k: Int,
                         nprobe: Int = 8): DataFrame = {
    val indexed = ivfPairs(queries, index, nprobe)
    val fresh = scoredPairs(queries, delta, exact = false)
    presentTopK(indexed.unionByName(fresh), k)
  }

  /** Fold the append log back INTO a built [[IvfIndex]] — the delta
    * REABSORPTION step that closes the serving lifecycle
    * [[ivfSearchWithDelta]] opens ("a growing delta IS the rebuild
    * signal" — but a full rebuild re-clusters and re-reads the whole
    * corpus; absorption doesn't): delta rows are assigned to the
    * EXISTING quantizer's cells in one bounded pass over the DELTA
    * (the same per-row argmin fold the build uses — the indexed corpus
    * is never re-read and the quantizer is never re-trained) and
    * appended to the cell table. Saving the absorbed index rewrites
    * the cells compacted; serving it sees the absorbed rows through
    * the normal probe path, so the per-query exact delta arm retires
    * until the next append.
    *
    * CONTRACT: same disjointness as [[ivfSearchWithDelta]] — `delta`
    * is the append log, so its ids must not already be in the index (a
    * row in both would hold two cell slots and score twice). Absorption
    * is NOT a rebuild: cell centroids keep their built positions, so
    * after many absorptions the quantizer drifts from the grown data
    * distribution — absorbed rows are exactly as findable as built
    * rows (probe-path recall, vs the delta arm's exact 1.0), and a
    * delta that stops being small relative to the built corpus still
    * means REBUILD. Absorb on the serving cadence, rebuild on the
    * drift cadence.
    *
    * EQUIVALENCE (the gate's oracle): with every cell probed
    * (nprobe ≥ surviving cells), [[ivfSearch]] over the absorbed index
    * scores exactly the rows ivfSearchWithDelta scores, on the same
    * double cosine — row-for-row identical output. At bounded nprobe
    * the two differ only in the delta slice's recall (probe-path vs
    * exact), which is the absorb-vs-delta-arm trade by construction.
    */
  def ivfAbsorbDelta(index: IvfIndex, delta: DataFrame): IvfIndex = {
    requireIntegralId(delta, VecId)
    index.copy(cells = index.cells.unionByName(
      ivfAssignCells(delta, index.centroids, index.twoLevel)))
  }

  /** Per-cell assignment-quality statistics of a built [[IvfIndex]] —
    * the THIRD index artifact (alongside centroids and cells) that
    * turns sim20/sim22's prose contract ("a growing delta IS the
    * rebuild signal") into a MEASURED one: (centroid_id, n, mean_dist)
    * where mean_dist is the mean cosine distance of the cell's built
    * members to their centroid, computed in ONE bounded pass over the
    * cell table — run it at build/save time (when the corpus pass is
    * amortized) and persist with [[ivfSaveStats]]; [[ivfDriftCheck]]
    * then prices any later delta against it without ever re-reading
    * the indexed corpus. The mean rides an exact decimal sum (the
    * SparkEntry discipline), so the artifact is bit-deterministic
    * across partitionings.
    */
  def ivfCellStats(index: IvfIndex): DataFrame =
    index.cells
      .join(broadcast(index.centroids), "centroid_id")
      .select(col("centroid_id"),
        (lit(1.0) - ivfDot(col("cv"), col("cvec")) /
          (col("cn") * col("cnorm"))).as("_d"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n"),
        (sum(col("_d").cast(DecimalType(30, 12))) / count(lit(1)))
          .cast(DoubleType).as("mean_dist"))

  /** Publish [[ivfCellStats]] as `cellstats` inside the index directory
    * (one pass over the cells, amortized into the build/save cadence).
    */
  def ivfSaveStats(index: IvfIndex, path: String): Unit =
    saveStats(ivfCellStats(index), path)

  private def saveStats(stats: DataFrame, path: String): Unit =
    publishDir(stats.sparkSession, s"$path/cellstats")(stats.write.parquet)

  /** Load the stats artifact persisted by [[ivfSaveStats]]. */
  def ivfLoadStats(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    spark.read.parquet(s"$path/cellstats")

  /** The drift report [[ivfDriftCheck]] computes. Two complementary
    * signals, either of which trips `drifted`:
    *  - FIT: deltaMeanDist > [[FitTrip]] × expectedMeanDist — the
    *    delta's vectors sit farther from their assigned centroids than
    *    the built members of those same cells did (no division: a zero
    *    expectation with a zero delta mean is NOT drift). Catches a
    *    delta the quantizer can no longer REPRESENT.
    *  - SHIFT: cellShift (total-variation distance between the
    *    delta's and the build's cell-occupancy distributions, ∈ [0,1])
    *    > [[ShiftTrip]]. Catches a delta that still FITS but lands
    *    somewhere else entirely — on a near-isotropic corpus any new
    *    direction scores ordinary distances (best-of-nlist cosine is
    *    distribution-free there), so a single-domain delta that would
    *    skew one cell to half the index announces itself ONLY through
    *    occupancy; this is also the precursor of the hot-cell join
    *    skew the serving path would pay.
    */
  final case class IvfDriftReport(nDelta: Long, pricedRows: Long,
                                  deltaMeanDist: Double,
                                  expectedMeanDist: Double,
                                  cellShift: Double,
                                  drifted: Boolean)

  /** Drift trip points, from the measured margins (BENCH_NOTES.md, "r19
    * drift-signal margins"): an un-drifted corpus slice reads fit ratio
    * ≈ 1.00 ± 0.01 and shift ≈ sampling noise (~0.15 at 71 rows × 16
    * cells), while a planted off-distribution delta concentrates its
    * mass (shift ≳ 0.8) long before the cosine fit ratio moves past
    * ~1.16 on an isotropic corpus — so fit trips at 1.5 (half again
    * worse than build, the anisotropic-regime signal) and shift at 0.5
    * (>2.5× sampling noise, far under the planted reading).
    */
  private val FitTrip = 1.5
  private val ShiftTrip = 0.5

  /** Measure quantizer DRIFT of an append log against a built index —
    * the signal that decides absorb-vs-rebuild, which absorption
    * (sim25/sim26) deliberately cannot: after many absorptions the
    * quantizer silently degrades (absorbed rows ride cells trained on
    * an old distribution) with zero errors and slowly sinking recall.
    * ONE bounded pass over the DELTA: each delta row assigns to its
    * nearest cell exactly as the build would (the same per-row argmin
    * fold) and folds into a per-cell (count, distance-sum) frame —
    * quantizer-sized — from which both report signals derive: the fit
    * ratio prices delta rows against the BUILD's per-cell means
    * ([[ivfCellStats]], weighted by where the delta actually lands, so
    * a delta legitimately concentrated in wide cells is priced against
    * those cells), and the occupancy shift compares cell-share
    * distributions. Delta rows landing in cells with no built members
    * carry no fit expectation and are excluded from the means
    * (`pricedRows` reports how many were priced) but DO count toward
    * the shift — landing where the build put nothing is shift by
    * definition. The indexed corpus is never re-read.
    *
    * Trips at [[FitTrip]] and [[ShiftTrip]]. WARN-logs like every
    * self-engaging switch; the caller reacts by REBUILDING
    * instead of absorbing. This is an ACTION (one job over the delta),
    * sized to the absorb cadence it gates.
    */
  def ivfDriftCheck(stats: DataFrame, index: IvfIndex,
                    delta: DataFrame): IvfDriftReport = {
    requireIntegralId(delta, VecId)
    val centroids = index.centroids
    // the delta must be assigned the way the BUILD assigned its cells,
    // or the report compares incompatible rules: a two-level-built
    // index placed its rows through the leader-group fold, so an
    // exact-assigned delta would land differently on an
    // IN-distribution delta, inflating cellShift and biasing the fit
    // low. The build's rule doubles as the cost switch — the exact
    // map-side fold is O(nlist) per row, the two-level arm O(√nlist).
    val scored =
      if (index.twoLevel) {
        // the build's own leader-group fold (identical cell
        // placement), distance recovered via one broadcast join on the
        // picked cell; the groupBy exchange inside the fold carries the
        // delta once, the price of assignment parity in the big-nlist
        // regime
        ivfAssignCells(delta, centroids, twoLevel = true)
          .join(broadcast(centroids), "centroid_id")
          .select(col("centroid_id"),
            (lit(1.0) - ivfDot(col("cv"), col("cvec")) /
              (col("cn") * col("cnorm"))).as("_d"))
      } else {
        // exact arm: a MAP-SIDE per-row argmin fold over one broadcast
        // sorted centroid array (the km01/dd15 fold shape — array
        // sorted by centroid_id asc + strict-< fold ⇒ lowest id wins
        // ties, ivfAssign's TopKAgg semantics exactly), emitting
        // (cell, distance) in place. ivfAssign's groupBy(id) would
        // instead EXCHANGE every delta vector (measured 8.4 MB at a
        // 20k-row delta, r19life — delta-sized at 100 TB); here the
        // only exchange is the quantizer-sized per-cell partial agg.
        val cn = centroids
          .agg(array_sort(collect_list(struct(col("centroid_id"),
            col("cvec"), col("cnorm")))).as("_cs"))
        delta
          .select(col(VecId),
            dbl(col(Embedding)).as("_v"))
          .withColumn("_n", sqrt(ivfDot(col("_v"), col("_v"))))
          .crossJoin(broadcast(cn))
          .select(aggregate(col("_cs"),
            struct(lit(null).cast(DoubleType).as("_d"), lit(-1L).as("_c")),
            (acc, s) => {
              val d = lit(1.0) - ivfDot(col("_v"), s.getField("cvec")) /
                (col("_n") * s.getField("cnorm"))
              when(acc.getField("_d").isNull || d < acc.getField("_d"),
                struct(d.as("_d"),
                  s.getField("centroid_id").cast(LongType).as("_c")))
                .otherwise(acc)
            }).as("_best"))
          .select(col("_best._c").as("centroid_id"), col("_best._d").as("_d"))
      }
    // single consumer (driftReport's mix join, itself checkpointed) —
    // the delta pass materializes exactly once there, so a second
    // checkpoint here bought nothing but one extra job (r21)
    val perCell = scored
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("_dn"),
        sum(col("_d").cast(DecimalType(30, 12))).as("_ds"))
    driftReport(perCell, stats, "centroid_id", "ivfDriftCheck",
      "ivfBuild over the grown corpus")
  }

  /** [[ivfCellStats]] on the production architecture — the per-cell
    * stats of an [[IvfPqIndex]]'s COARSE quantizer. Unlike the plain
    * IVF case the index alone cannot yield them (the codes table is
    * quantized — residual magnitudes are not recoverable from it), so
    * the stats compute from the raw `corpus` in ONE bounded pass at
    * build/save time, when the corpus pass is amortized: assign every
    * row to its cell with the build's own fold (two-level past the
    * auto threshold) and fold the per-cell mean SQUARED-L2 residual —
    * the same metric the ADC/serve path ranks by. Persist with
    * [[ivfPqSaveStats]]; [[ivfLoadStats]] reads it back (the artifact
    * layout is family-agnostic).
    */
  def ivfPqCellStats(index: IvfPqIndex, corpus: DataFrame): DataFrame = {
    requireIntegralId(corpus, VecId)
    pqPerCellResiduals(corpus, index.coarse, index.twoLevel)
      .select(col("cell"), col("_cnt").as("n"),
        (col("_sum") / col("_cnt")).cast(DoubleType).as("mean_dist"))
  }

  /** The ONE residual-squared per-cell fold behind [[ivfPqCellStats]]
    * (the build-time expectation) and [[ivfPqDriftCheck]] (the delta
    * pricing): both sides MUST aggregate the identical metric through
    * the identical assignment, or the fit ratio compares apples to
    * oranges — the `ivfPqAssignResiduals` one-definition discipline
    * extended to the statistic computed on top of it.
    */
  private def pqPerCellResiduals(df: DataFrame, coarse: DataFrame,
                                 twoLevel: Boolean): DataFrame = {
    ivfPqAssignResiduals(
      df.select(col(VecId).as("cid"), dbl(col(Embedding)).as("cv")),
      coarse, twoLevel)
      .select(col("cell"),
        // Σ v·v over one array ≡ vec_dot_d(rv, rv): same products, same
        // IEEE order, same null poisoning — the compiled-kernel swap
        graft.functions.VecKernels.vec_dot_d(col("rv"), col("rv")).as("_d"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("_cnt"),
        sum(col("_d").cast(DecimalType(30, 12))).as("_sum"))
  }

  /** Publish [[ivfPqCellStats]] as `cellstats` inside the index
    * directory — the fourth IVF-PQ artifact (coarse, codebook, codes,
    * cellstats).
    */
  def ivfPqSaveStats(index: IvfPqIndex, corpus: DataFrame, path: String): Unit =
    saveStats(ivfPqCellStats(index, corpus), path)

  /** [[ivfDriftCheck]] for the IVF-PQ family: price a delta against
    * the coarse quantizer's build-time stats ([[ivfPqCellStats]]) in
    * one bounded delta pass — same two signals (squared-L2 residual
    * FIT ratio, cell-occupancy SHIFT), same thresholds, same
    * WARN-and-rebuild contract. The codebook never enters: drift is a
    * property of the coarse partition; a quantizer whose cells no
    * longer fit the data mis-buckets rows before any code is read.
    */
  def ivfPqDriftCheck(stats: DataFrame, index: IvfPqIndex,
                      delta: DataFrame): IvfDriftReport = {
    requireIntegralId(delta, VecId)
    // single consumer — materializes once inside driftReport's mix
    // checkpoint; no second pin needed (r21)
    val perCell = pqPerCellResiduals(delta, index.coarse, index.twoLevel)
      .select(col("cell"), col("_cnt").as("_dn"), col("_sum").as("_ds"))
    driftReport(perCell, stats, "cell", "ivfPqDriftCheck",
      "ivfPqBuild over the grown corpus")
  }

  /** The ONE drift-report core behind [[ivfDriftCheck]] and
    * [[ivfPqDriftCheck]]: fold a per-cell delta frame (keyCol, _dn,
    * _ds — ONE delta pass, checkpointed by the caller) against build
    * stats (keyCol, n, mean_dist) into the fit and shift signals.
    * Everything here is quantizer-sized.
    */
  private def driftReport(perCell: DataFrame, stats: DataFrame,
                          keyCol: String, site: String,
                          rebuildHint: String): IvfDriftReport = {
    val mix = perCell.join(
      stats.select(col(keyCol), col("n").as("_bn"), col("mean_dist")),
      Seq(keyCol), "full_outer")
      .select(coalesce(col("_dn"), lit(0L)).as("_dn"), col("_ds"),
        coalesce(col("_bn"), lit(0L)).as("_bn"), col("mean_dist"))
      .localCheckpoint() // quantizer-sized; the one agg below reads it
    // ONE driver action (r21; was two sequential aggs): the totals ride
    // a 1-row broadcast back across the quantizer-sized mix so the
    // occupancy-shift sum computes in the same job; the driver reads
    // everything from a single row. Same arithmetic, same guards.
    val tot = mix.agg(sum(col("_dn")).as("_dTot"), sum(col("_bn")).as("_bTot"),
      sum(when(col("mean_dist").isNotNull, col("_dn"))).as("_priced"),
      sum(when(col("mean_dist").isNotNull, col("_ds"))).as("_dsT"),
      sum(when(col("mean_dist").isNotNull,
        col("mean_dist").cast(DecimalType(30, 12)) * col("_dn"))).as("_esT"))
    val tots = mix.crossJoin(broadcast(tot))
      .agg(max(col("_dTot")).as("dTot"), max(col("_bTot")).as("bTot"),
        max(col("_priced")).as("priced"), max(col("_dsT")).as("ds"),
        max(col("_esT")).as("es"),
        // zero-total guard INSIDE the expression: ANSI (the session
        // default) throws on division by zero, and the old code never
        // ran this agg when a total was 0 — CaseWhen evaluates only
        // the taken branch, so the division never executes there
        sum(when(col("_dTot") === 0 || col("_bTot") === 0, lit(0.0))
          .otherwise(abs(col("_dn").cast(DoubleType) / col("_dTot") -
            col("_bn").cast(DoubleType) / col("_bTot")))).as("_shiftSum"))
      .head()
    val dTot = tots.getLong(0)
    val bTot = tots.getLong(1)
    val priced = if (tots.isNullAt(2)) 0L else tots.getLong(2)
    val (dm, em) =
      if (priced == 0) (0.0, 0.0)
      else (tots.getDecimal(3).doubleValue() / priced,
        tots.getDecimal(4).doubleValue() / priced)
    val shift =
      if (dTot == 0 || bTot == 0) 0.0
      else tots.getDouble(5) / 2.0
    val fitTrip = priced > 0 && dm > FitTrip * em
    val shiftTrip = dTot > 0 && shift > ShiftTrip
    if (fitTrip || shiftTrip)
      logger.warn(f"graft $site: quantizer DRIFT detected — " +
        f"fit ratio ${if (em > 0) dm / em else Double.NaN}%.4f " +
        f"(trip > $FitTrip%.2f: $fitTrip) over $priced%d priced " +
        f"rows, cell-occupancy shift $shift%.4f (trip > " +
        f"$ShiftTrip%.2f: $shiftTrip) over $dTot%d delta rows. " +
        "Absorbing into this index degrades recall silently; REBUILD " +
        s"instead ($rebuildHint).")
    IvfDriftReport(dTot, priced, dm, em, shift, fitTrip || shiftTrip)
  }

  /** Cast a tombstone id to the store's own id type, RAISING on a
    * lossy cast instead of nulling it: a null tombstone matches
    * nothing in the anti-join, and a deletion API that silently skips
    * an unparseable id "succeeds" having deleted zero rows — the exact
    * failure mode requireIntegralId exists to prevent, applied at the
    * four right-to-be-forgotten entry points (ivfDeleteIds /
    * ivfPqDeleteIds / deleteFromRegistry / cdcDeleteKeys).
    */
  private[graft] def castTombstone(c: Column, to: org.apache.spark.sql.types.DataType,
                                   site: String): Column = {
    // try_cast in the guard: under ANSI (the Spark 4 default) a plain
    // cast of a malformed id throws a generic CAST_INVALID_INPUT before
    // the guard runs, and under ansi=false it NULLs silently — try_cast
    // makes the check mode-independent and the error name the SITE.
    // The otherwise-branch cast is safe: CaseWhen evaluates only the
    // taken branch, and a non-null try_cast implies the cast succeeds.
    val tc = c.try_cast(to)
    when(c.isNotNull && tc.isNull,
      raise_error(concat(lit(s"$site: tombstone id "), c.cast(StringType),
        lit(s" does not cast to ${to.sql} — the deletion would silently " +
          "skip it"))).cast(to))
      .otherwise(tc)
  }

  /** Delete vectors from a built [[IvfIndex]] by id — the absorb
    * machinery's mirror image, and the operation a training-data
    * pipeline legally cannot run without (right-to-be-forgotten,
    * license revocation): the cell table drops the tombstoned rows in
    * one bounded anti-join on the id key; the quantizer is untouched
    * (deletion never retrains — cells keep their built centroids, the
    * surviving rows their assignments). `tombstones`' FIRST column is
    * the id set, broadcast — a deletion request list is metadata-sized
    * by nature, so the corpus-sized cell side is never shuffled; the
    * rewrite happens when the caller [[IvfIndex.save]]s the returned
    * index (write-new over the cells artifact, like absorb).
    *
    * EQUIVALENCE (PipelineSpec pins it): because assignment is
    * per-row, the deleted index is IDENTICAL to assigning only the
    * survivors against the same quantizer — serve-after-delete returns
    * no deleted id and scores exactly the surviving cells, so recall
    * floors transfer to the surviving corpus unchanged. Mass deletion
    * can empty cells (fine — probes just find fewer) and, like many
    * absorptions, SKEW the live distribution away from the built
    * quantizer: the drift signal ([[ivfDriftCheck]]) and a rebuild
    * remain the answer when deletion stops being incremental.
    */
  def ivfDeleteIds(index: IvfIndex, tombstones: DataFrame): IvfIndex = {
    val tCol = tombstones.columns.head
    index.copy(cells = index.cells.join(
      broadcast(tombstones
        .select(castTombstone(col(tCol), LongType, "ivfDeleteIds")
          .as("cid"))
        .distinct()),
      Seq("cid"), "left_anti"))
  }

  /** [[ivfDeleteIds]] on the production architecture: the integer
    * codes table drops the tombstoned rows (one broadcast anti-join on
    * the id key); coarse quantizer and codebook are untouched. The
    * caller's re-rank corpus must likewise stop carrying the deleted
    * rows — the raw-vector side lives outside the index by contract,
    * and a deleted id can only re-enter serving through a stale
    * re-rank source (it can never be SHORTLISTED: its codes are gone),
    * so delete from both stores on the same cadence.
    */
  def ivfPqDeleteIds(index: IvfPqIndex, tombstones: DataFrame): IvfPqIndex = {
    val tCol = tombstones.columns.head
    index.copy(codes = index.codes.join(
      broadcast(tombstones
        .select(castTombstone(col(tCol), index.codes.schema("cid").dataType,
          "ivfPqDeleteIds").as("cid"))
        .distinct()),
      Seq("cid"), "left_anti"))
  }

  /** What [[ivfMaintain]] did and why: the absorbed-or-rebuilt index,
    * the drift report that decided, and which arm ran. The caller
    * persists `index` (and re-derives stats with [[ivfSaveStats]] /
    * [[ivfPqSaveStats]] on the same save — after a rebuild the old
    * stats price against a quantizer that no longer exists).
    */
  final case class IvfMaintainResult(index: IvfIndex,
                                     report: IvfDriftReport,
                                     rebuilt: Boolean)

  /** The drift→action composition the signals were built for — closes
    * the loop sim20/sim25 left as prose and [[ivfDriftCheck]] (sim29)
    * made measurable but not actionable: ONE maintenance entry point
    * that prices the append log against the persisted build stats and
    * routes it — a QUIET delta absorbs ([[ivfAbsorbDelta]]: bounded
    * delta pass, quantizer untouched, the cheap arm that is correct
    * almost always), a DRIFTED delta triggers the rebuild the absorb
    * would silently degrade ([[ivfBuild]] over the grown corpus — the
    * indexed rows come from the index's own cell table, which carries
    * the raw vectors, so no external corpus handle is needed; the
    * quantizer re-trains on the distribution it will actually serve).
    * Run it on the absorb cadence; the drift check it fronts is one
    * bounded delta pass, so the quiet path costs what plain absorption
    * cost, and the rebuild path costs what the rebuild always cost —
    * now spent exactly when the measurement says it must be.
    *
    * EQUIVALENCE (sim33 pins both arms): quiet ⇒ the returned index
    * serves row-for-row as [[ivfAbsorbDelta]]'s; drifted ⇒ row-for-row
    * as a fresh [[ivfBuild]] over the grown corpus (build is
    * value-deterministic — hash-seeded centroids, per-row argmin — so
    * reconstruction from the cell table changes nothing). Rebuild
    * keeps the index's own declared nlist and two-level rule.
    */
  def ivfMaintain(index: IvfIndex, stats: DataFrame,
                  delta: DataFrame): IvfMaintainResult = {
    val report = ivfDriftCheck(stats, index, delta)
    if (!report.drifted)
      IvfMaintainResult(ivfAbsorbDelta(index, delta), report,
        rebuilt = false)
    else {
      logger.warn("graft ivfMaintain: drift verdict REBUILD — " +
        "re-training the quantizer over the grown corpus instead of " +
        "absorbing (re-derive stats on save; the old expectations " +
        "price a quantizer that no longer exists).")
      val grown = index.cells
        .select(col("cid").cast(LongType).as(VecId), col("cv").as(Embedding))
        .unionByName(delta.select(col(VecId).cast(LongType).as(VecId),
          dbl(col(Embedding)).as(Embedding)))
      IvfMaintainResult(ivfBuild(grown, index.nlist, index.twoLevel), report,
        rebuilt = true)
    }
  }

  /** [[ivfMaintain]]'s result on the production architecture. */
  final case class IvfPqMaintainResult(index: IvfPqIndex,
                                       report: IvfDriftReport,
                                       rebuilt: Boolean)

  /** [[ivfMaintain]] on the production architecture: price the delta
    * with [[ivfPqDriftCheck]] (squared-L2 residuals — the metric the
    * ADC path ranks by), absorb if quiet, rebuild if drifted. Unlike
    * plain IVF the index CANNOT reconstruct its corpus (the codes
    * table is quantized — residuals are lossy), so the raw `corpus`
    * rides in explicitly — it is the same handle the serve path
    * already requires as `rerank`, per the IvfPqIndex contract that
    * raw vectors live outside the index. Rebuild keeps the index's own
    * declared nlist and two-level rule; the PQ shape is the fixed one.
    */
  def ivfPqMaintain(index: IvfPqIndex, stats: DataFrame,
                    corpus: DataFrame, delta: DataFrame): IvfPqMaintainResult = {
    val report = ivfPqDriftCheck(stats, index, delta)
    if (!report.drifted)
      IvfPqMaintainResult(ivfPqAbsorbDelta(index, delta), report,
        rebuilt = false)
    else {
      logger.warn("graft ivfPqMaintain: drift verdict REBUILD — " +
        "re-training coarse quantizer and codebook over the grown " +
        "corpus instead of absorbing (re-derive stats on save).")
      val grown = corpus
        .select(col(VecId).cast(LongType).as(VecId),
          dbl(col(Embedding)).as(Embedding))
        .unionByName(delta.select(col(VecId).cast(LongType).as(VecId),
          dbl(col(Embedding)).as(Embedding)))
      IvfPqMaintainResult(ivfPqBuild(grown, index.nlist, index.twoLevel),
        report, rebuilt = true)
    }
  }

  private def ivfPairs(queries: DataFrame, index: IvfIndex, nprobe: Int,
                       pinProbeParallelism: Boolean = false): DataFrame = {
    requireIntegralId(queries, VecId)
    val probes0 =
      if (index.twoLevel) {
        // g re-derives from the index itself (√nlist of the PERSISTED
        // quantizer): leaders must group identically across build and
        // search, including after a save/load round-trip
        val centroids = index.centroids
        val leaders = ivfLeaders(centroids, gOf(centroids))
        val grouped = ivfGrouped(centroids, leaders)
        ivfAssign2(queries, leaders, grouped, nprobe, LeaderGroups,
          "qid", "qv", "qn")
      } else ivfAssign(queries, index.centroids, nprobe, "qid", "qv", "qn")
    // repartition-by-NUMBER on the join key (AQE never coalesces a
    // user-numbered repartition) PLUS a merge-join hint (AQE's
    // broadcast conversion would move the scoring onto the OTHER
    // side's exchange, which — tiny in bytes — coalesces to one task):
    // together they keep the CPU-dense pair-scoring stage at full
    // parallelism even though every byte count in sight looks
    // coalescible (see ivfTopK's pinProbeParallelism scaladoc for
    // the measured single-task collapse this prevents)
    val probes =
      if (pinProbeParallelism)
        probes0.repartition(
          queries.sparkSession.sessionState.conf.numShufflePartitions,
          col("centroid_id"))
          .hint("SHUFFLE_HASH")
      else probes0
    probes.join(index.cells, "centroid_id")
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid").cast(LongType).as("cid"),
        (ivfDot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
  }

  private def presentTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("sim"), col("cid"), k, ascending = false)
        .as("_tk"))
      .select(col("qid"), posexplode(col("_tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("sim"),
        (col("pos") + 1).cast(LongType).as("rank"))
      .orderBy("qid", "rank")

  /** √nlist leader-group count of a (possibly loaded) quantizer. One
    * tiny count over the centroid table — nlist rows, never the
    * corpus. Build and search MUST agree on g or leader buckets drift;
    * deriving both from the same table guarantees it.
    */
  private def gOf(centroids: DataFrame): Int =
    math.max(1, math.round(math.sqrt(centroids.count().toDouble)).toInt)

  /** Symmetric int8 quantization of an embedding column — the 4×
    * storage/bandwidth compression step of a large-scale vector-search
    * index build: per vector, scale = absmax/127 and
    * qᵢ = floor(xᵢ/absmax·127 + 0.5) ∈ [-127, 127] (an all-zero vector
    * quantizes to zeros). Emits per-vector summary stats — the integer
    * checksum `q_sum` pins every element exactly, so a single
    * quantization flip anywhere breaks the gate hash.
    *
    * Every step is per-element IEEE double math with no summation
    * order involved (absmax and the element ops are order-independent;
    * q_sum is an exact integer sum) — the DuckDB oracle computes the
    * identical expression tree, so the result hash-matches without any
    * decimal machinery. A pure narrow projection: scan-fused, zero
    * shuffle at any scale.
    */
  def quantizeInt8(df: DataFrame): DataFrame = {
    requireIntegralId(df, VecId)
    val xd = dbl(col(Embedding))
    val q = when(col("_am") === 0.0,
      transform(col("_x"), _ => lit(0L)))
      .otherwise(transform(col("_x"),
        x => floor(x / col("_am") * 127.0 + 0.5).cast(LongType)))
    df.select(col(VecId), xd.as("_x"))
      .withColumn("_am", array_max(transform(col("_x"), x => abs(x))))
      .withColumn("_q", q)
      .select(col(VecId),
        aggregate(col("_q"), lit(0L), (acc, v) => acc + v).as("q_sum"),
        array_min(col("_q")).as("q_min"),
        array_max(col("_q")).as("q_max"),
        size(filter(col("_q"), v => abs(v) === 127)).cast(LongType).as("n_sat"))
  }

  /** Signed (Rademacher) random projection — the Achlioptas/JL
    * dimensionality reduction: `coord_k = Σ_i s(k,i)·x_i` with
    * `s(k,i) ∈ {+1,−1}` drawn from the parity of `md5("k_i")`. Returns
    * long-format (id, k 1-based, coord). Downstream consumers divide
    * by √dims for the JL-normalized embedding; the raw sum is emitted
    * so the output stays in exact decimal (inputs quantize to
    * DECIMAL(12,6), the signed sum is order-independent decimal — the
    * cosineExact discipline), bit-identical on any engine.
    *
    * The hash is md5 OF THE DECIMAL STRING "k_i" (not xxhash64 like
    * [[lshTables]]) so a SQL oracle can replay the exact projection
    * matrix: every mainstream engine agrees on md5 hex of a UTF-8
    * string, while xxhash64 is Spark-specific.
    *
    * Scale shape: a pure narrow projection — dims codegen'd
    * array-aggregate expressions per row, zero shuffle, zero
    * materialized projection matrix (the "matrix" is the hash). The
    * presentation explode to long format is output-sized (N·dims).
    */
  def signedRandomProjection(df: DataFrame, dims: Int): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    requireIntegralId(df, VecId)
    val decV = dec6(col(Embedding))
    val evenHex = Seq("0", "2", "4", "6", "8", "a", "c", "e")
    val coords = (0 until dims).map { kIdx =>
      val signed = zip_with(col("_v"), sequence(lit(1), size(col("_v"))),
        (x, i) => when(
          substring(md5(concat_ws("_", lit(kIdx + 1).cast(StringType),
            i.cast(StringType))), 1, 1).isin(evenHex: _*),
          x).otherwise(-x))
      aggregate(signed, lit(0).cast(DecimalType(30, 12)),
        (acc, v) => (acc + v).cast(DecimalType(30, 12)))
    }
    df.select(col(VecId).cast(LongType).as(VecId), decV.as("_v"))
      .select(col(VecId), posexplode(array(coords: _*)))
      .select(col(VecId), (col("pos") + 1).cast(LongType).as("k"),
        col("col").cast(DoubleType).as("coord"))
  }

  /** Binary-quantized two-stage retrieval — the 1-bit compression
    * serving shape (32× smaller than int8, 256× smaller than doubles):
    * each vector packs to one sign bit per dimension (bit = xᵢ > 0,
    * ⌈d/64⌉ longs), the shortlist ranks by HAMMING distance — packed
    * XOR + popcount, pure integer ops over 1/64th the bytes — and the
    * ≤ shortlist·nq survivors re-rank through the exact-decimal cosine
    * (sim01/sim11's formulation). Cross-engine determinism end-to-end:
    * the hamming count is an exact integer a SQL oracle computes as
    * per-dimension sign-mismatch counting (bit-packing is an encoding,
    * not math), shortlist ties break (distance, cid asc) = the oracle's
    * row_number order, and the re-rank is the established decimal dot
    * — so the gate is a FULL row-for-row replay, not a recall floor.
    *
    * Scale shape: the scan stage streams ⌈d/64⌉-long codes against a
    * broadcast nq-row query side with a bounded TopKAgg — the exchange
    * carries ≤ shortlist pairs per (query × partition); raw vectors are
    * touched only below the shortlist join. At 100 TB the code table is
    * the only corpus-wide read — the reason production stores keep BQ
    * codes in memory and fetch full vectors per shortlist.
    */
  def bqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
             shortlist: Int = 50): DataFrame =
    bqSearch(queries, binaryCodes(candidates), candidates, k, shortlist)

  /** The packed sign-bit codes of a vector column — the persistable
    * 1-bit index asset: (vec_id, code array<long>), one bit per
    * dimension packed little-endian within each 64-dim word (bit =
    * xᵢ > 0; dims past the vector length pack as 0, identical on both
    * sides of any hamming distance). A pure narrow projection —
    * scan-fused, zero shuffle; persist as parquet and serve with
    * [[bqSearch]] without touching raw vectors again except for the
    * bounded re-rank.
    */
  def binaryCodes(df: DataFrame): DataFrame =
    // compiled packing kernel (r21): the previous transform/aggregate
    // HOF chain walked 64 interpreted when/shiftleft nodes per WORD per
    // row; binary_code packs the same little-endian sign bits (null
    // element → bit 0, empty vector → [0], the (size-1)/64 word count)
    // in one pass — VecKernelsSpec pins it against the HOF form
    df.select(col(VecId).cast(LongType).as(VecId),
      graft.functions.VecKernels.binary_code(col(Embedding)).as("code"))

  /** Delete vectors from a binary-quantized code store by id — the
    * right-to-be-forgotten arm of the BQ family, closing the lifecycle
    * matrix's last column (registry dd22, IVF/IVF-PQ sim27/sim28, CDC
    * st13, delta log st14 all ship it; a user who adopted the sim24
    * persisted-codes shape for its measured 64× byte win could until
    * now not un-index a document without a full re-encode): the code
    * table drops the tombstoned rows in ONE bounded broadcast
    * anti-join on the id key — `tombstones`' FIRST column is the id
    * set, metadata-sized by nature, so the corpus-sized code side is
    * never shuffled. There is NO quantizer to touch (the encoder is
    * per-row sign bits — stateless), so deletion here is even simpler
    * than sim27's: the deleted store IS [[binaryCodes]] over the
    * survivors, row-for-row, by construction. The rewrite lands when
    * the caller persists the returned frame (write-new over the codes
    * artifact, like every index save here); the re-rank corpus must
    * stop carrying the deleted rows on the same cadence — a deleted id
    * can never be SHORTLISTED (its code row is gone), so a stale
    * re-rank side is the only path back into serving, exactly the
    * [[ivfPqDeleteIds]] contract.
    */
  def bqDeleteIds(codes: DataFrame, tombstones: DataFrame): DataFrame = {
    val tCol = tombstones.columns.head
    codes.join(
      broadcast(tombstones
        .select(castTombstone(col(tCol), codes.schema(VecId).dataType,
          "bqDeleteIds").as(VecId))
        .distinct()),
      Seq(VecId), "left_anti")
  }

  /** Fold an append log into a binary-quantized code store —
    * [[ivfAbsorbDelta]]'s contract on the BQ family, and the one place
    * in the index-lifecycle matrix where absorption is EXACT rather
    * than a recall trade: the sign-bit encoder has no trained state
    * (no centroids, no codebook — each row's code is a pure function
    * of that row), so absorbed rows serve bit-identically to
    * built-at-rest rows, a second absorb of the same store composes,
    * and the quantizer-DRIFT column of the lifecycle matrix
    * (sim29/sim30's ivfDriftCheck) is VACUOUS here by construction —
    * there is nothing trainable to drift, hence no drift signal and no
    * rebuild cadence; the BQ lifecycle closes with delete + absorb
    * alone. Delta rows encode through the ONE shared [[binaryCodes]]
    * definition and append; at rest this is a parquet append of
    * `binaryCodes(delta)` — delta-sized IO, nothing rewritten (the
    * SimilaritySpec pins append-file ≡ this union row-for-row). Same
    * disjointness contract as every absorb: `delta` is the append log,
    * its ids must not already be in `codes` (a row in both would hold
    * two shortlist slots).
    */
  def bqAbsorbDelta(codes: DataFrame, delta: DataFrame): DataFrame = {
    requireIntegralId(delta, VecId)
    codes.unionByName(binaryCodes(delta))
  }

  /** Shared exact-decimal cosine re-rank of a bounded (qid, cid)
    * shortlist against raw vectors — the final stage of every two-stage
    * retrieval here ([[bqSearch]], [[int8RerankTopK]]): the shortlist
    * and the nq-row query side broadcast into the corpus-sized raw scan
    * (unhinted, the planner shuffles the corpus at scale — measured
    * 52.6 MB at the 100× rehearsal for a 500-row shortlist), and the
    * decimal dot is the sim01 formulation, bit-identical cross-engine.
    * `dropZeroNormQueries` preserves int8RerankTopK's historical guard;
    * bqSearch keeps the raw arithmetic its oracle replays.
    */
  private def exactCosineRerank(sl: DataFrame, queries: DataFrame,
                                rerank: DataFrame, k: Int,
                                dropZeroNormQueries: Boolean): DataFrame = {
    import graft.functions.VecKernels.vec_dot_dec
    val qv0 = queries
      .select(col(VecId).cast(LongType).as("qid"),
        dec6(col(Embedding)).as("_qv"))
      .withColumn("_qn", vec_dot_dec(col("_qv"), col("_qv")))
    val qv = if (dropZeroNormQueries) qv0.filter(col("_qn") > 0) else qv0
    val cvRaw = rerank
      .select(col(VecId).cast(LongType).as("cid"), col(Embedding).as("_craw"))
    // the kernel fuses the per-element double→DECIMAL(12,6) cast, so
    // the raw candidate array feeds it directly (same values as the
    // old dec6(_craw) projection — VecKernelsSpec pins both input forms)
    cvRaw.join(broadcast(sl), "cid").join(broadcast(qv), "qid")
      .select(col("qid"), col("cid"),
        (vec_dot_dec(col("_qv"), col("_craw")).cast(DoubleType) /
          sqrt(col("_qn").cast(DoubleType) *
            vec_dot_dec(col("_craw"), col("_craw")).cast(DoubleType)))
          .as("sim"))
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("sim"), col("cid"), k, ascending = false)
        .as("_tk"))
      .select(col("qid"), posexplode(col("_tk")))
      .select(col("qid"), col("col.id").as("cid"), col("col.score").as("sim"),
        (col("pos") + 1).cast(LongType).as("rank"))
      .orderBy("qid", "rank")
  }

  /** Serve [[bqTopK]] against PRE-BUILT codes ([[binaryCodes]] output,
    * typically a persisted parquet table): the hamming scan reads ONLY
    * the ⌈d/64⌉-long code column — 1/64th the bytes of the raw doubles,
    * the actual storage/bandwidth win of binary quantization — and raw
    * vectors are fetched from `rerank` only for the ≤ shortlist·nq
    * exact-decimal re-rank rows. Same staleness contract as every
    * persisted index here: codes are a snapshot; rebuild (one narrow
    * pass) or screen the append log separately.
    */
  def bqSearch(queries: DataFrame, codes: DataFrame, rerank: DataFrame,
               k: Int, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"need shortlist >= k, got $shortlist < $k")
    requireIntegralId(queries, VecId)
    val qp = binaryCodes(queries)
      .select(col(VecId).as("qid"), col("code").as("_qb"))
    val cp = codes.select(col(VecId).cast(LongType).as("cid"),
      col("code").as("_cb"))
    // compiled hamming kernel (r21): the aggregate(zip_with(bit_count(
    // xor))) fold ran interpreted per candidate PAIR — the scan stage's
    // inner loop; hamming_dist is the same fold (null on length
    // mismatch or null element) as straight-line code
    val hamming = graft.functions.VecKernels
      .hamming_dist(col("_qb"), col("_cb"))
    val sl = cp.join(broadcast(qp), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), hamming.cast(DoubleType).as("_h"))
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("_h"), col("cid"), shortlist, ascending = true)
        .as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_e"))
      .select(col("qid"), col("_e.id").as("cid"))
    exactCosineRerank(sl, queries, rerank, k, dropZeroNormQueries = false)
  }

  /** Two-stage retrieval over int8-quantized vectors — the
    * memory-bounded search shape a 100 TB index actually serves from:
    * the full-precision corpus stays on disk; RAM holds only the 4×
    * smaller int8 codes ([[quantizeInt8]]'s symmetric scheme), and only
    * the per-query `shortlist` survivors ever touch floats again.
    *
    *  1. Shortlist: every candidate is scored against the quantized
    *     query by INTEGER dot product (exact int64 — 64 dims × 127²
    *     fits a long with 38 bits to spare), rescaled by the candidate's
    *     dequantization factor and norm:
    *     `score1 = adot · am_c / ‖x_c‖` — a monotone proxy for cosine
    *     up to the per-query constant `am_q / ‖x_q‖` (constants cannot
    *     change a per-query ranking). Each factor is individually exact
    *     (int sum; absmax; decimal norm² cast once to double) so the
    *     three-op IEEE expression is engine-portable and the shortlist
    *     is deterministic — ties break to the lower cid.
    *  2. Re-rank: the ≤ `shortlist` pairs per query rescore with the
    *     exact-decimal cosine ([[cosineExact]]'s discipline) and the
    *     bounded [[TopKAgg]] emits the final top `k`. The decimal math
    *     runs AFTER the shortlist join, so the full-precision pass
    *     touches only `|Q|·shortlist` pairs — the corpus is never
    *     re-projected into decimal.
    *
    * Zero-norm vectors are EXCLUDED on both sides (a cosine against
    * the zero vector is undefined; Spark's 0/0 is NULL where DuckDB's
    * is NaN, so excluding them is also what keeps the oracle
    * row-for-row). Both rank stages are TopKAgg partial aggregates —
    * exchange ≤ shortlist (stage 1) / k (stage 2) ids per query × map
    * partition, never a per-query rank window. Every arithmetic step
    * is deterministic cross-engine, so unlike the ANN family this
    * approximate index gets a full row-for-row SQL oracle, not just a
    * recall floor.
    */
  def int8RerankTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     shortlist: Int = 50): DataFrame = {
    requireIntegralIds(queries, candidates)
    import graft.functions.VecKernels.{vec_dot_dec, vec_dot_l}
    // int8 side: (id, _q bigint[], _am double) — sim05's exact scheme
    def quant(df: DataFrame, id: String): DataFrame = {
      val xd = dbl(col(Embedding))
      df.select(col(VecId).cast(LongType).as(id), xd.as("_x"))
        .withColumn("_am", array_max(transform(col("_x"), x => abs(x))))
        .withColumn("_q",
          when(col("_am") === 0.0, transform(col("_x"), _ => lit(0L)))
            .otherwise(transform(col("_x"),
              x => floor(x / col("_am") * 127.0 + 0.5).cast(LongType))))
    }
    val q = quant(queries, "qid").select(col("qid"), col("_q").as("_qq"))
    val c = quant(candidates, "cid")
      .withColumn("_cn", vec_dot_dec(col("_x"), col("_x")))
      .filter(col("_cn") > 0)
      .select(col("cid"), col("_q").as("_cq"), col("_am").as("_cam"), col("_cn"))
    val sl = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (vec_dot_l(col("_qq"), col("_cq")).cast(DoubleType) * col("_cam") /
          sqrt(col("_cn").cast(DoubleType))).as("_s1"))
      .groupBy(col("qid"))
      .agg(TopKAgg.top_k(col("_s1"), col("cid"), shortlist, ascending = false)
        .as("_tk"))
      .select(col("qid"), explode(col("_tk")).as("_e"))
      .select(col("qid"), col("_e.id").as("cid"))
    // raw bytes below the shortlist join; decimal projection + norm
    // only for the ≤ |Q|·shortlist surviving pairs
    exactCosineRerank(sl, queries, candidates, k, dropZeroNormQueries = true)
  }

  /** ANN top-k through multi-table LSH: candidate pairs = union over
    * 16 independent 4-bit signature tables of same-bucket meetings
    * (measured on the test corpus: one 8-bit table recalls ~0% of true
    * top-5 — moderate-cosine neighbors almost never agree on all 8
    * random hyperplanes — while 4 bits × 16 tables recalls 0.88–0.90
    * across sf0.001–0.1, vs 0.68–0.76 at 8 tables), then exact cosine +
    * top-k on the deduped candidates.
    *
    * Scale shape: the table join shuffles (id, table, bucket) triples —
    * never vectors; vectors re-join by id afterwards (queries broadcast,
    * candidates hash join). Recall < 1 by construction; more tables
    * buy recall, more bits precision. On a corpus without cluster
    * structure a random pair still collides in some table with
    * probability ≈ tables/2^bits, so bits must grow ~log2(corpus) to
    * keep candidate volume sub-quadratic — the fixed shape suits the gate
    * corpus; a 100 TB deployment sizes bits ≈ log2(N)−log2(avg bucket)
    * and re-tunes tables to its recall target.
    */
  def annTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame =
    lshSearch(queries, lshBuild(candidates), candidates, k)

  /** Retrieval-quality metrics per query — the eval side of a serving
    * stack (recall@k, MRR, nDCG@k), computed from a ranked result list
    * against a relevance set. `results` is (qid, cid, rank) — any
    * ranked shortlist ([[cosineTopK]], [[ivfTopK]], [[rrfFuse]] output
    * re-keyed); `truth` is (qid, cid) — the relevant items per query
    * (a labeled eval set, a human-judged pool, or label-match
    * relevance). Emits one row per qid appearing on EITHER side:
    * (qid, n_hits, n_truth, recall_at_k, mrr, ndcg) — a query with
    * judged-relevant items but zero retrieved results gets a
    * zero-metrics row (dropping it would bias any mean over the
    * output upward), and duplicate judgment rows in `truth`
    * deduplicate (relevance is a set).
    *
    *   recall@k = hits / min(k, n_truth)
    *   MRR      = 1 / rank of the first relevant result (0 if none)
    *   nDCG@k   = Σ_{hit ranks r} 1/log2(r+1)  /  Σ_{r=1..min(k,n_truth)} 1/log2(r+1)
    *
    * Cross-engine determinism (the ta08 discipline): hits/n_truth/
    * first-hit rank are exact integers; recall and MRR are ONE IEEE
    * division each over exact inputs; the two DCG sums quantize each
    * 1/log2(r+1) term to DECIMAL(18,6) BEFORE summing (the only libm
    * call — a 1-ulp log2 divergence can't flip a hash), and nDCG is
    * one division of the two quantized sums.
    *
    * Scale shape: the result side is k-bounded per query by contract;
    * the only corpus-sized input is `truth`, which collapses to
    * per-query counts through one partial-agg exchange. The IDCG term
    * is a bounded in-plan sequence fold (≤ k elements) — no window, no
    * driver math.
    */
  def retrievalMetrics(results: DataFrame, truth: DataFrame,
                       k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    def dcgTerm(r: Column): Column =
      (lit(1.0) / log2(r.cast(DoubleType) + lit(1.0)))
        .cast(DecimalType(18, 6))
    val res = results.select(col("qid").cast(LongType).as("qid"),
      col("cid").cast(LongType).as("cid"),
      col("rank").cast(LongType).as("rank"))
      .filter(col("rank") <= k)
    // relevance is a SET: duplicate (qid, cid) judgment rows must not
    // double-count a hit or inflate n_truth (one exchange over the
    // truth side; the results side is k-bounded and needs none)
    val tru = truth.select(col("qid").cast(LongType).as("qid"),
      col("cid").cast(LongType).as("cid")).distinct()
      .withColumn("_rel", lit(1L))
    val nTruth = tru.groupBy("qid")
      .agg(count(lit(1)).as("n_truth"))
    val perHit = res.join(tru, Seq("qid", "cid"), "left")
      .groupBy(col("qid"))
      .agg(coalesce(sum(col("_rel")), lit(0L)).as("n_hits"),
        min(when(col("_rel").isNotNull, col("rank"))).as("_first"),
        coalesce(sum(when(col("_rel").isNotNull, dcgTerm(col("rank")))),
          lit(0).cast(DecimalType(18, 6))).as("_dcg"))
    // FULL outer: a query with judged-relevant items but ZERO
    // retrieved results must emit a zero-metrics row, not vanish — a
    // mean over the output would otherwise exclude exactly the
    // worst-performing queries
    perHit.join(nTruth, Seq("qid"), "full_outer")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("_dcg", coalesce(col("_dcg"),
        lit(0).cast(DecimalType(18, 6))))
      .withColumn("n_truth", coalesce(col("n_truth"), lit(0L)))
      .withColumn("_den", least(lit(k.toLong), col("n_truth")))
      // IDCG: the ideal ranking puts all relevant items first — a
      // bounded fold over 1..min(k, n_truth), same quantized term.
      // The fold is guarded: sequence(1, 0) steps DOWNWARD (the
      // epochUpsample lesson), so a truthless query must not reach it
      .withColumn("_idcg", when(col("_den") > 0, aggregate(
        sequence(lit(1L), col("_den")),
        lit(0).cast(DecimalType(18, 6)),
        // each add re-casts to the accumulator type (the cosineExact
        // lesson: decimal adds widen per step) — ≤ k terms < 1.0, so
        // the cast is lossless
        (acc, r) => (acc + dcgTerm(r)).cast(DecimalType(18, 6))))
        .otherwise(lit(0).cast(DecimalType(18, 6))))
      .select(col("qid"), col("n_hits"), col("n_truth"),
        when(col("_den") > 0,
          col("n_hits").cast(DoubleType) / col("_den").cast(DoubleType))
          .otherwise(lit(0.0)).as("recall_at_k"),
        when(col("_first").isNotNull,
          lit(1.0) / col("_first").cast(DoubleType))
          .otherwise(lit(0.0)).as("mrr"),
        when(col("_idcg") > 0,
          col("_dcg").cast(DoubleType) / col("_idcg").cast(DoubleType))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy("qid")
  }

  /** Reciprocal-rank fusion of two ranked shortlists — the standard
    * hybrid-retrieval composition (Cormack/Clarke/Buettcher RRF): fuse
    * a lexical shortlist (e.g. [[graft.operators.TextAnalysis.bm25Rank]])
    * with a dense shortlist (e.g. [[cosineTopK]]) by summing
    * 1/(60 + rank) over the lists each id appears in (the usual
    * k_rrf = 60). RRF needs only
    * RANKS, never the incomparable raw scores — which is why it is the
    * fusion production retrieval stacks ship.
    *
    * Inputs are (id, rank) frames, k-bounded BY CONTRACT (they
    * are top-k shortlists); an id missing from one list contributes 0
    * from that list. Emits (id, score, rank) — top `k` by fused score,
    * ties broken by id ascending.
    *
    * Cross-engine determinism: each term is one IEEE-correctly-rounded
    * division of exact integers (1.0 / (rank + 60)), and the fused
    * score is a TWO-term sum in a fixed written order — no
    * summation-order ambiguity exists, so the doubles are bit-identical
    * to a SQL oracle writing the same shape (no decimal machinery
    * needed, unlike the corpus-sized sums in bm25Rank).
    *
    * Scale shape: both sides are ≤ shortlist-k rows regardless of
    * corpus size, so the full-outer join and the final rank window run
    * over O(k) rows — the expensive work already happened inside the
    * bounded retrieval operators upstream. The window here is over ≤ 2k
    * rows by construction, never by corpus.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"need k > 0, got k=$k")
    def side(df: DataFrame, r: String): DataFrame =
      df.select(col("id").cast(LongType).as("id"),
        col("rank").cast(LongType).as(r))
    def term(r: String): Column =
      coalesce(lit(1.0) / (col(r) + lit(60L)).cast(DoubleType), lit(0.0))
    side(a, "_ra").join(side(b, "_rb"), Seq("id"), "full_outer")
      .select(col("id"), (term("_ra") + term("_rb")).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("id"))).cast(LongType))
  }
}
