package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Similarity.{Embedding, VecId, dec6}

/** Embedding-space clustering (SURVEY.md §2c extension surface): the
  * corpus-partitioning step of curriculum bucketing, topic-balanced
  * sampling, and IVF index builds.
  *
  * Cross-engine determinism design: k-means is famously replay-hostile
  * (RNG seeds, IEEE summation order, argmin ties). This implementation
  * removes all three — seeds are hash-picked CORPUS VECTORS (no RNG),
  * distances fold in exact DECIMAL arithmetic (summation-order
  * independent, so Spark's position-fold and DuckDB's unnest/groupBy
  * SUM compute the identical rational number), and the argmin breaks
  * ties by centroid id. The assignment is therefore a pure function of
  * the data — the DuckDB oracle hash-matches it row for row.
  *
  * Scale shape: seeds/centroids broadcast (k rows); assignment is a
  * narrow per-row pass producing k candidate rows that collapse via a
  * map-side partial `min(struct)` BEFORE the keyed shuffle — the only
  * full-width exchange is |corpus| rows keyed by id. The update step
  * shuffles (cluster, pos) partial sums — k·dim rows after map-side
  * combine.
  *
  * Input: every operator here reads the fixed vector schema
  * `(vec_id, embedding)` documented on [[Similarity]].
  */
object Clustering {

  /** Exact squared euclidean distance between two DECIMAL(12,6) arrays.
    * Per-position (a-b)² is DECIMAL(27,12); the accumulator adds at
    * (31,12) and casts back to (30,12) — lossless (18 integer digits vs
    * |Σ| ≤ dim·(2·10⁶)², the same budget argument as
    * [[Similarity.cosineExact]]).
    */
  private def sqDist(x: Column, c: Column): Column =
    // compiled kernel (r20): same exact decimal fold, one virtual call
    // per row instead of an interpreted per-element expression walk
    // (VecKernelsSpec pins bit-equality to the HOF chain)
    graft.functions.VecKernels.vec_sqdist_dec(x, c)

  /** The k seed centroids: the minimum-id vector of each `id % k`
    * residue class — deterministic, engine-portable, well spread for
    * dense id spaces, and requiring no driver-side action.
    */
  def seedCentroids(df: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val seedIds = df.groupBy((col(VecId) % k).as("_b"))
      .agg(min(col(VecId)).as("_cid"))
      .select(col("_cid"))
    df.join(broadcast(seedIds), col(VecId) === col("_cid"))
      .select(col("_cid").as("cluster"), dec6(col(Embedding)).as("cvec"))
  }

  /** All ≤ k (cluster, cvec) seeds folded into ONE broadcast row,
    * cluster-ascending — the input shape for [[nearestSeed]]'s per-row
    * argmin. Ascending order is what makes the fold's strict `<`
    * reproduce min(struct)'s tie-break (lowest cluster id wins ties).
    */
  private[graft] def seedArray(seeds: DataFrame): DataFrame =
    seeds.agg(array_sort(collect_list(struct(col("cluster"), col("cvec"))))
      .as("_seeds"))

  /** Per-row nearest-seed argmin over a broadcast `_seeds` array:
    * returns struct(_d exact squared distance, _c cluster id). A pure
    * codegen'd fold — NO row expansion. The previous shape (crossJoin
    * to N·k rows + min(struct) aggregation) planned as SortAggregate —
    * Spark's hash aggregate cannot hold a struct buffer — which SORTED
    * the expanded N·k rows inside every map task before the partial
    * min could combine: at the 100× rehearsal (200k vectors × k=1600,
    * 320M expanded rows carrying 64-wide decimal arrays) the sort
    * spilled the box's entire free disk and killed the job. The fold
    * evaluates the same N·k distances as straight-line expression code
    * with zero sort, zero spill, zero exchange.
    */
  private[graft] def nearestSeed(x: Column): Column =
    aggregate(col("_seeds"),
      struct(lit(null).cast(DecimalType(30, 12)).as("_d"),
        lit(-1L).as("_c")),
      (acc, s) => {
        val d = sqDist(x, s.getField("cvec"))
        when(acc.getField("_d").isNull || d < acc.getField("_d"),
          struct(d.as("_d"), s.getField("cluster").cast(LongType).as("_c")))
          .otherwise(acc)
      })

  /** Assign every vector to its nearest seed centroid (exact decimal
    * distances, ties to the lower cluster id): (id, cluster). A
    * zero-shuffle narrow pass: the ≤ k seeds ride ONE broadcast row
    * and each vector folds over them in-register ([[nearestSeed]]).
    */
  def assignToSeeds(df: DataFrame, k: Int): DataFrame = {
    val sa = seedArray(seedCentroids(df, k))
    df.select(col(VecId), dec6(col(Embedding)).as("_x"))
      .crossJoin(broadcast(sa))
      .select(col(VecId), nearestSeed(col("_x")).getField("_c").as("cluster"))
  }

  /** Two-level variant of [[assignToSeeds]] for corpus-scaled k — the
    * [[graft.operators.Similarity.ivfTopK]] leader trick on exact
    * decimal distances. Exact assignment folds k distances per vector,
    * and with k ∝ N (the SemDeDup regime) that term is QUADRATIC in N
    * — the measured dd15 wall at the 100× rehearsal (718 s of decimal
    * assignment CPU; SCALE.md r16 part 2). Here the k seeds group
    * under √k hash-picked LEADER seeds; each vector scores the g
    * leaders, spills into its top-2 leader groups (the sim13
    * candidate-side lesson: one group loses boundary vectors
    * permanently), and scans only those groups' seeds —
    * g + 2·(k/g) distances per vector instead of k (~13× fewer at
    * k=1600).
    *
    * APPROXIMATE by design: a vector whose true nearest seed lives
    * outside its two leader groups lands in a near-best cell instead.
    * What a dedup pipeline actually needs survives exactly: identical
    * vectors fold over identical arrays, so EXACT duplicates co-assign
    * with certainty, and everything stays deterministic (hash-picked
    * leaders, strict-< folds over ascending arrays — bit-identical
    * runs). Not used by any oracle gate (those keep [[assignToSeeds]]);
    * this is the big-corpus switch, exactly like
    * `ivfTopK(twoLevelAssign = true)`.
    *
    * Scale shape: the leader/group prep is k·g work on k seed rows;
    * the corpus pass is one zero-exchange narrow fold over ONE
    * broadcast row of nested (leader, member-seeds) groups.
    */
  def assignToSeedsTwoLevel(df: DataFrame, k: Int): DataFrame = {
    val seeds = seedCentroids(df, k)
      .select(col("cluster").cast(LongType).as("cluster"), col("cvec"))
      .localCheckpoint()
    val g = math.max(1, math.round(math.sqrt(k.toDouble)).toInt)
    val leaders = seeds
      .groupBy(pmod(xxhash64(col("cluster")), lit(g)).as("_lb"))
      .agg(min(col("cluster")).as("_lid"))
      .join(seeds, col("_lid") === col("cluster"))
      .select(col("_lid"), col("cvec").as("lvec"))
    // every seed to its nearest leader (k·g pairs via the same fold —
    // negligible at any scale), then ONE broadcast row of groups:
    // (_lid, lvec, member seeds cluster-ascending), _lid-ascending
    val la = leaders
      .agg(array_sort(collect_list(struct(col("_lid"), col("lvec"))))
        .as("_lds"))
    val seedLeader = seeds.crossJoin(broadcast(la))
      .select(col("cluster"), col("cvec"),
        aggregate(col("_lds"),
          struct(lit(null).cast(DecimalType(30, 12)).as("_d"),
            lit(-1L).as("_c")),
          (acc, s) => {
            val d = sqDist(col("cvec"), s.getField("lvec"))
            when(acc.getField("_d").isNull || d < acc.getField("_d"),
              struct(d.as("_d"), s.getField("_lid").as("_c")))
              .otherwise(acc)
          }).getField("_c").as("_lid"))
    val groups = seedLeader
      .groupBy(col("_lid"))
      .agg(array_sort(collect_list(struct(col("cluster"), col("cvec"))))
        .as("seeds"))
      .join(leaders, "_lid")
      .agg(array_sort(collect_list(struct(col("_lid"), col("lvec"),
        col("seeds")))).as("_groups"))
    // per vector: best-2 leader groups by strict-< fold (ties keep the
    // lower _lid — the arrays are ascending), then the nearestSeed
    // argmin over the two groups' member seeds concatenated
    val seedsType = ArrayType(StructType(Seq(
      StructField("cluster", LongType),
      StructField("cvec", ArrayType(DecimalType(12, 6))))))
    val emptySeeds = array().cast(seedsType)
    val nullG = struct(lit(null).cast(DecimalType(30, 12)).as("_d"),
      lit(null).cast(seedsType).as("seeds"))
    val best2 = aggregate(col("_groups"), struct(nullG.as("a"), nullG.as("b")),
      (acc, grp) => {
        val d = sqDist(col("_x"), grp.getField("lvec"))
        val cand = struct(d.as("_d"), grp.getField("seeds").as("seeds"))
        val a0 = acc.getField("a")
        val b0 = acc.getField("b")
        when(a0.getField("seeds").isNull, struct(cand.as("a"), b0.as("b")))
          .when(d < a0.getField("_d"), struct(cand.as("a"), a0.as("b")))
          .when(b0.getField("seeds").isNull || d < b0.getField("_d"),
            struct(a0.as("a"), cand.as("b")))
          .otherwise(acc)
      })
    val scan = concat(col("_b2")("a")("seeds"),
      coalesce(col("_b2")("b")("seeds"), emptySeeds))
    val assign = aggregate(scan,
      struct(lit(null).cast(DecimalType(30, 12)).as("_d"),
        lit(-1L).as("_c")),
      (acc, s) => {
        val d = sqDist(col("_x"), s.getField("cvec"))
        when(acc.getField("_d").isNull || d < acc.getField("_d"),
          struct(d.as("_d"), s.getField("cluster").as("_c")))
          .otherwise(acc)
      }).getField("_c")
    df.select(col(VecId), dec6(col(Embedding)).as("_x"))
      .crossJoin(broadcast(groups))
      .withColumn("_b2", best2)
      .select(col(VecId), assign.as("cluster"))
  }

  /** One Lloyd update, summarized exactly: per cluster, the member
    * count and the L1 norm of the updated mean centroid. Per-position
    * member sums are exact decimals (order-independent), so
    * Σ_p |S_p| is exact and the final double `CAST(Σ|S_p|) / n` is the
    * same IEEE division in every engine. This pins the update step a
    * full double-precision centroid vector could not (its per-position
    * output would be 64× wider for no extra signal).
    */
  /** Per-cluster mean silhouette (centroid-based variant: a = distance
    * to the nearest centroid — the assignment, b = distance to the
    * second-nearest — so s = (b−a)/b, the clustering-quality score that
    * tells a curriculum/IVF build whether its k actually separates the
    * corpus). Output: (cluster, n_members, mean_silhouette).
    *
    * Cross-engine exactness: a and b are exact decimal distances picked
    * by an exact (distance, cluster-id) sort — no float enters the
    * SELECTION. The per-row ratio is two decimal→double casts and one
    * IEEE division, quantized to DECIMAL(18,6) BEFORE the per-cluster
    * sum (the ta14 pattern: a last-ulp divergence can't flip a 6-dp
    * quantization), so the mean is an exact sum and one identical
    * final division.
    *
    * Scale shape: the two nearest centroids are kept by a per-row
    * best-2 fold over the ONE broadcast seed row (the [[nearestSeed]]
    * shape extended to two slots) — zero row expansion, zero exchange
    * before the k-row cluster aggregate. The previous collect_list +
    * sort_array shape shipped all N·k scored pairs through the
    * id-keyed exchange (7.7 GB at the 100× rehearsal scale).
    */
  def silhouetteStats(df: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "silhouette needs at least 2 clusters")
    val sa = seedArray(seedCentroids(df, k))
    val nullP = struct(lit(null).cast(DecimalType(30, 12)).as("d"),
      lit(-1L).as("c"))
    // ties: clusters iterate ascending and the comparisons are strict,
    // so equal distances keep the earlier (lower) cluster id in each
    // slot — identical to the lexicographic sort_array it replaces
    val best2 = aggregate(col("_seeds"),
      struct(nullP.as("a"), nullP.as("b")),
      (acc, s) => {
        val d = sqDist(col("_x"), s.getField("cvec"))
        val cand = struct(d.as("d"),
          s.getField("cluster").cast(LongType).as("c"))
        val a0 = acc.getField("a")
        val b0 = acc.getField("b")
        when(a0.getField("c") === -1L, struct(cand.as("a"), b0.as("b")))
          .when(d < a0.getField("d"), struct(cand.as("a"), a0.as("b")))
          .when(b0.getField("c") === -1L || d < b0.getField("d"),
            struct(a0.as("a"), cand.as("b")))
          .otherwise(acc)
      })
    val ranked = df.select(col(VecId), dec6(col(Embedding)).as("_x"))
      .crossJoin(broadcast(sa))
      .select(col(VecId), best2.as("_near2"))
    val a = col("_near2")("a")("d")
    val b = col("_near2")("b")("d")
    val s = when(b === lit(0).cast(DecimalType(30, 12)), lit(0.0))
      .otherwise((b - a).cast(DoubleType) / b.cast(DoubleType))
    ranked
      .select(col("_near2")("a")("c").as("cluster"),
        s.cast(DecimalType(18, 6)).as("_sq"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"), sum(col("_sq")).as("_ssum"))
      .select(col("cluster"), col("n_members"),
        (col("_ssum").cast(DoubleType) / col("n_members").cast(DoubleType))
          .as("mean_silhouette"))
  }

  def lloydUpdateStats(df: DataFrame, k: Int): DataFrame = {
    val assigned = assignToSeeds(df, k)
    val members = df.select(col(VecId), dec6(col(Embedding)).as("_x"))
      .join(assigned, VecId)
    val posSums = members
      .select(col("cluster"), posexplode(col("_x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(sum(col("col")).as("_sp"))
      .groupBy(col("cluster"))
      .agg(sum(abs(col("_sp"))).as("_sl1"))
    val counts = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"))
    counts.join(posSums, "cluster")
      .select(col("cluster"), col("n_members"),
        (col("_sl1").cast(DoubleType) / col("n_members").cast(DoubleType))
          .as("centroid_l1"))
  }

  /** Full Lloyd iteration, `rounds` rounds from the hash seeds, with
    * per-round exact inertia — the convergence evidence a k-means
    * training loop actually monitors (km01/km02 pin one assignment and
    * one update; this pins the LOOP: assign → update → re-assign →
    * re-update …). Output: (round, cluster, n_members, inertia) where
    * inertia = Σ members' exact squared distance to the centroid that
    * round assigned against, cast to double once.
    *
    * Cross-engine exactness through the round trip: member-position
    * sums are exact decimals; the updated mean is ONE IEEE division of
    * those exact values (deterministic) quantized back to 6 dp via the
    * sim05 idiom `floor(q·10⁶ + 0.5)` — floor of the identical double
    * is an exactly-representable integer, rebuilt into DECIMAL by an
    * exact integer-decimal product. (A direct double→DECIMAL(12,6)
    * CAST is NOT engine-portable at half boundaries: Spark rounds the
    * double's shortest decimal string, DuckDB the exact binary value —
    * measured one 7e-10 inertia divergence per ~16 centroids.) Next
    * round's distances are then exact decimal arithmetic on identical
    * inputs in both engines; argmin ties break to the lower cluster
    * id. Empty clusters drop out (standard k-means death); inertia
    * decreases round over round up to the ±1e-6 centroid quantization.
    *
    * Scale shape per round: centroids broadcast (≤ k rows); the argmin
    * collapses map-side via `min(struct)` (one exchanged row per
    * vector); the update shuffles (cluster, pos) partial sums — k·dim
    * rows after map-side combine. The rounds chain lazily in ONE plan
    * with no lineage truncation: at the round counts this runs (km05:
    * 2) the doubled scan is cheaper than materialization, and the
    * plan grows by one assign + update per round.
    */
  def lloydRounds(df: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    val e = df.select(col(VecId), dec6(col(Embedding)).as("_x"))
    // zero-shuffle narrow argmin (see nearestSeed): the old
    // crossJoin + min(struct) shape both SORTED the N·k expansion in
    // every map task (SortAggregate spill at 100×) and exchanged one
    // row per vector per round — this exchanges nothing
    def assignTo(cent: DataFrame): DataFrame =
      e.crossJoin(broadcast(seedArray(cent)))
        .select(col(VecId), nearestSeed(col("_x")).as("_b"))
        .select(col(VecId), col("_b._c").as("cluster"), col("_b._d").as("_d"))
    def summarize(a: DataFrame, round: Int): DataFrame =
      a.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"), sum(col("_d")).as("_i"))
        .select(lit(round.toLong).as("round"), col("cluster"),
          col("n_members"), col("_i").cast(DoubleType).as("inertia"))
    def updated(a: DataFrame): DataFrame =
      e.join(a.select(col(VecId), col("cluster")), VecId)
        .select(col("cluster"), posexplode(col("_x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(col("col")).as("_sp"), count(lit(1)).as("_n"))
        .select(col("cluster"), col("pos"),
          (floor(col("_sp").cast(DoubleType) / col("_n").cast(DoubleType) *
            1000000.0 + 0.5).cast(DecimalType(20, 0)) *
            lit(new java.math.BigDecimal("0.000001")))
            .cast(DecimalType(12, 6)).as("_m"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("_m")))),
          s => s.getField("_m")).as("cvec"))
    val out = (2 to rounds).foldLeft {
      val a1 = assignTo(seedCentroids(df, k))
      (summarize(a1, 1), a1)
    } { case ((acc, prev), r) =>
      val ar = assignTo(updated(prev))
      (acc.unionAll(summarize(ar, r)), ar)
    }._1
    out.orderBy("round", "cluster")
  }

  /** Greedy farthest-point seeding (Gonzalez 1985 k-center; the
    * deterministic cousin of k-means++): start from the minimum-id
    * vector, then k−1 times pick the vector maximizing its distance to
    * the nearest already-chosen center. A 2-approximation to the
    * optimal k-center cover — the spread-out initialization that makes
    * one Lloyd pass (or an IVF coarse quantizer) behave, where the
    * residue-class seeds of [[seedCentroids]] can start clumped.
    *
    * Returns (step, center_id, radius): radius is the chosen vector's
    * exact squared distance to the nearest previous center (0 for step
    * 0) cast to double — step s's radius is the k-center cover radius
    * after s centers.
    *
    * Determinism: distances are exact decimals ([[sqDist]]) and each
    * argmax breaks ties on the lower id, so the chosen set is
    * bit-identical on any engine/partitioning — a DuckDB oracle
    * replays the identical unrolled steps.
    *
    * Scale shape: k passes over the corpus, each a ZERO-exchange
    * narrow pass — the ≤ k chosen centers ride ONE broadcast row and
    * each vector folds its nearest-center distance in-register (the
    * [[nearestSeed]] shape) — followed by a 1-row global argmax; no
    * pairwise joins, no windows, no sorts. The per-round checkpoint
    * keeps round r from re-evaluating rounds 1..r−1 (the
    * [[Graph.pageRank]] discipline).
    */
  def farthestPointSeeds(df: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val cp = Checkpointing.truncator(df.sparkSession)
    val pts = cp(df.filter(col(Embedding).isNotNull)
      .select(col(VecId).cast(LongType).as("_id"), dec6(col(Embedding)).as("_x")))
    var centers = cp.rolling(pts.orderBy("_id").limit(1)
      .select(lit(0).as("step"), col("_id").as("center_id"),
        lit(0.0).as("radius"), col("_x").as("_cv")))
    for (s <- 1 until k) {
      // nearest-center distance as a per-row fold over ONE broadcast
      // row of ≤ s center vectors (the nearestSeed shape): no N·s row
      // expansion, no per-round exchange — exact min commutes, so the
      // collect_list order is irrelevant
      val carr = centers.agg(collect_list(col("_cv")).as("_cvs"))
      val dmin = pts.crossJoin(broadcast(carr))
        .select(col("_id"),
          aggregate(col("_cvs"), lit(null).cast(DecimalType(30, 12)),
            (acc, cv) => {
              val d = sqDist(col("_x"), cv)
              when(acc.isNull || d < acc, d).otherwise(acc)
            }).as("_d"),
          col("_x").as("_xx"))
      val next = dmin
        .agg(min(struct((col("_d") * -1).as("_nd"), col("_id").as("_id"),
          col("_xx").as("_xx"))).as("_m"))
        .select(lit(s).as("step"), col("_m._id").as("center_id"),
          (col("_m._nd") * -1).cast(DoubleType).as("radius"),
          col("_m._xx").as("_cv"))
      centers = cp.rolling(centers.unionAll(next))
    }
    centers.select(col("step"), col("center_id"), col("radius"))
  }
}
