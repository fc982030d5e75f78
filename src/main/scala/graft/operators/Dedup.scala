package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import Similarity.{Embedding, VecId}

/** Deduplication operators for large-scale corpus curation (SURVEY.md
  * §2c): exact, content-hash, MinHash+LSH banding, SimHash.
  *
  * Scale posture: everything is a bounded number of hash-partitioned
  * shuffles — no O(n²) cross joins. Candidate generation for near-dup is
  * LSH-bucketed (only rows sharing a band bucket ever meet), which is the
  * only formulation that survives 100 TB; the all-pairs n-gram Jaccard in
  * PipelineQueries is deliberately capped to a small corpus and exists as
  * a verifiable oracle for the shingling math.
  *
  * MINHASH SHAPE: every text near-dup path — [[lshBuckets]],
  * [[minHashCandidates]], the incremental screens, the persisted banded
  * registry and `StreamingJobs.nearDupScreenStream` — uses ONE fixed
  * shape: word 3-gram shingles ([[ShingleN]]), 32-wide signatures
  * ([[NumHashes]]) cut into 8 bands of 4 rows ([[Bands]]), and a
  * candidate pair is a duplicate when its signature-estimated Jaccard
  * reaches 0.7 ([[MinEstJac]]). Batch and registry candidates only meet
  * if they band identically, so the shape is not a parameter; a
  * persisted registry built under another shape is refused (the in-plan
  * width guard and the streaming registry's params file).
  */
object Dedup {

  private lazy val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Word n-gram length of a MinHash shingle (MINHASH SHAPE). */
  val ShingleN = 3

  /** MinHash signature width (MINHASH SHAPE). */
  val NumHashes = 32

  /** LSH bands per signature, `NumHashes / Bands` rows each. */
  val Bands = 8

  /** Signature-estimated Jaccard at which a screen flags a duplicate. */
  val MinEstJac = 0.7

  /** Deterministic exact dedup: keep exactly one row per key set — the
    * one minimizing `tiebreak` — unlike `dropDuplicates`, whose survivor
    * is partition-order-dependent. One shuffle on the keys.
    */
  def exact(df: DataFrame, keys: Seq[String], tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(tiebreak)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Exact dedup keyed on a collision-resistant content hash instead of
    * the full payload — at scale the shuffle then carries 32 bytes per
    * row instead of whole documents.
    */
  def byContentHash(df: DataFrame, contentCol: String, tiebreak: Column): DataFrame =
    exact(df.withColumn("_h", sha2(col(contentCol), 256)), Seq("_h"), tiebreak)
      .drop("_h")

  /** Text canonicalization for "fuzzy-exact" dedup: lowercase, strip
    * punctuation, collapse whitespace runs, trim. Catches the
    * reformatted-copy duplicates (case, markup remnants, spacing) that
    * byte-exact hashing misses while staying a pure deterministic
    * expression — no similarity join needed.
    */
  def canonicalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), """[\p{Punct}]""", ""), " +", " "))

  /** Exact dedup on the canonical form: survivor = min `tiebreak` per
    * canonical-text hash. Same single-shuffle shape as [[byContentHash]],
    * keyed on the 32-byte hash of the canonical form.
    */
  def byCanonicalText(df: DataFrame, textCol: String, tiebreak: Column): DataFrame =
    exact(df.withColumn("_h", sha2(canonicalize(col(textCol)), 256)),
      Seq("_h"), tiebreak).drop("_h")

  /** Incremental (registry) dedup — the daily-ingest shape: drop new
    * rows whose content hash is already in the historical registry, then
    * dedup within the batch itself. `registry` needs only a `h` column
    * (the sha-256 content hashes already seen). Anti-join + one
    * keyed shuffle; at scale the registry is bucketed on `h` so the
    * anti-join co-locates without a new exchange, and the day's
    * survivors' hashes append back to the registry.
    */
  def incremental(batch: DataFrame, registry: DataFrame, contentCol: String,
                  tiebreak: Column): DataFrame =
    exact(
      batch.withColumn("_h", sha2(col(contentCol), 256))
        .join(registry.select(col("h").as("_h")), Seq("_h"), "left_anti"),
      Seq("_h"), tiebreak)
      .drop("_h")

  /** Distinct word n-gram shingles per document: (id, shingle). The
    * words array is materialized by a projection BEFORE the shingle
    * lambda — referencing `split(...)` inside the lambda would re-split
    * the text once per shingle index.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // compiled word_ngrams kernel (r20) ≡ array_distinct(transform(
    // sequence(0, len-n), i => concat_ws(" ", slice(words, i+1, n)))):
    // the HOF chain walked ~n interpreted expression nodes per emitted
    // gram — the single hottest text-path expression (every shingle
    // consumer pays it per doc per pass). VecKernelsSpec pins
    // first-occurrence-distinct order and concat_ws null-skipping.
    df.select(col(idCol), split(col(textCol), " ").as("_words"))
      .filter(size(col("_words")) >= n)
      .select(col(idCol), explode(
        graft.functions.VecKernels.word_ngrams(col("_words"), n)).as("shingle"))

  /** MinHash signatures: (id, sig: [[NumHashes]] longs), one pass
    * via the custom [[graft.functions.MinHashAggExpr]]
    * TypedImperativeAggregate — the shuffle carries ONE fixed-width
    * signature row per document (map-side partial min), not |shingles| ×
    * NumHashes exploded rows.
    */
  def minHashSignatures(sh: DataFrame, idCol: String): DataFrame =
    sh.groupBy(col(idCol))
      .agg(graft.functions.MinHashAgg.minhash_sketch(col("shingle"), NumHashes)
        .as("sig"))

  /** LSH banding over MinHash signatures: (id, band, bucket). Docs
    * sharing ≥1 (band, bucket) are near-dup candidates. Banding is pure
    * array slicing over the signature — no extra shuffle beyond the
    * signature aggregation.
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String): DataFrame =
    bandedSignatures(
      minHashSignatures(shingles(df, idCol, textCol, ShingleN), idCol), idCol)
      .select(col(idCol), col("band"), col("bucket"))

  /** LSH banding of a signature frame (id, sig) → (id, band, bucket,
    * sig): pure array slicing, no shuffle, the signature carried
    * alongside its band rows. This is the PERSISTABLE registry layout:
    * write it bucketed BY (band, bucket) ([[writeBandedRegistry]]) and
    * every subsequent [[incrementalNearDupBanded]] screen joins it with
    * ZERO registry-side exchange — the candidate join co-locates on the
    * bucket layout and the signature needed for verification arrives
    * WITH the candidate, so the corpus-sized signature table is never
    * shuffled and never joined a second time. The price is [[Bands]]
    * copies of each fixed-width signature at rest (8 × ~260 B per doc)
    * — storage traded for a per-batch shuffle that otherwise grows with
    * the corpus.
    *
    * ONE banding definition for every consumer ([[lshBuckets]],
    * [[incrementalNearDup]]'s batch AND registry sides, the persisted
    * registry) — batch and registry candidates only meet if they band
    * identically, so the scheme must never fork.
    */
  def bandedSignatures(sigs: DataFrame, idCol: String): DataFrame = {
    val r = NumHashes / Bands
    sigs.select(col(idCol), col("sig"), posexplode(
      transform(sequence(lit(0), lit(Bands - 1)),
        b => xxhash64(slice(col("sig"), b * r + 1, lit(r))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .select(col(idCol), col("band"), col("bucket"), col("sig"))
  }

  /** Persist `sigs` (id, sig) as the pre-banded signature registry: an
    * external parquet TABLE bucketed AND bucket-sorted BY (band,
    * bucket) — the q42 zero-exchange layout applied to the operator a
    * crawl pipeline runs most often. Written once (or appended per
    * ingest batch by the streaming screen), the registry side of every
    * daily [[incrementalNearDupBanded]] join reads co-located: per-batch
    * cost stops carrying an O(registry) shuffle term (measured 207 MB
    * per batch at the 100× rehearsal under the re-band-per-call path).
    */
  def writeBandedRegistry(sigs: DataFrame, idCol: String, table: String,
                          path: String, numBuckets: Int = 32): Unit =
    Bucketing.writeBucketedAt(bandedSignatures(sigs, idCol),
      table, Seq("band", "bucket"), numBuckets, path)

  /** Registry-side signature guard, applied to every registry row
    * BEFORE the candidate join: a registry persisted under a different
    * MinHash shape (signature width / band count) would otherwise band
    * into different buckets and simply stop colliding — duplicates
    * passing unflagged with zero errors (a guard at estimate time never
    * fires, because mismatched shapes produce no candidate pairs to
    * estimate). Costs one size()/comparison per registry row.
    */
  private def guardRegistrySig(sig: Column, band: Column): Column =
    when(size(sig) =!= NumHashes || band >= Bands,
      raise_error(concat(
        lit("incrementalNearDup: registry row has signature width "),
        size(sig).cast(StringType), lit(" / band "), band.cast(StringType),
        lit(s" but the screen's MinHash shape is numHashes=$NumHashes, " +
          s"bands=$Bands — the registry was built under a different " +
          "shape; rebuild it with writeBandedRegistry"))))
      .otherwise(sig)

  /** Shared screening core: banded batch rows (_bid, band, bucket, _bs)
    * meet banded registry rows (_rid, band, bucket, _rs) in the
    * (band, bucket) equi-join; each colliding pair is verified by the
    * signature-estimated Jaccard and the per-doc best registry match
    * rides a bounded top-1 aggregate. A pair colliding in several bands
    * re-enters the aggregate with IDENTICAL (score, id) rows — top-1
    * with deterministic ties is unaffected, so no distinct (and no
    * extra shuffle) is spent on collapsing them.
    */
  private def screenAgainstBanded(batch: DataFrame, batchBanded: DataFrame,
                                  regBanded: DataFrame,
                                  idCol: String): DataFrame = {
    val est = batchBanded.join(regBanded, Seq("band", "bucket"))
      .select(col("_bid"), col("_rid"),
        // compiled sig_agree kernel (r20) ≡ size(filter(zip_with(===)))
        // — the per-collision estimate is the screen's hottest
        // expression (NumHashes interpreted walks per candidate pair)
        (graft.functions.VecKernels.sig_agree(col("_bs"), col("_rs"))
          .cast(DoubleType) / NumHashes).as("_e"))
      .filter(col("_e") >= MinEstJac)
      // bounded top-1, ties to the LOWEST registry id (TopKAgg's
      // (score desc, id asc) order) — never a struct-min SortAggregate
      .groupBy(col("_bid"))
      .agg(graft.functions.TopKAgg.top_k(col("_e"), col("_rid").cast(LongType),
        1, ascending = false).as("_tk"))
      .select(col("_bid"), element_at(col("_tk"), 1).as("_b1"))
      .select(col("_bid"), col("_b1.id").as("dup_of"),
        col("_b1.score").as("est_jac"))
    batch.select(col(idCol))
      .join(est.withColumnRenamed("_bid", idCol), Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("est_jac"))
  }

  /** Near-dup candidate pairs from LSH buckets: only rows sharing a
    * bucket are joined — the shuffle is keyed on (band, bucket), never
    * all-pairs.
    */
  def minHashCandidates(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val b = lshBuckets(df, idCol, textCol)
    val l = b.select(col(idCol).as("id_a"), col("band"), col("bucket"))
    val r = b.select(col(idCol).as("id_b"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Incremental NEAR-dup screening of a new batch against a persisted
    * signature registry — the daily-crawl-vs-corpus shape: the corpus
    * is represented ONLY by its MinHash signatures
    * ([[minHashSignatures]] output: (id, sig), one fixed-width row per
    * document — raw text never needed again), the batch computes its
    * own signatures in one pass, candidates meet in an LSH-banded
    * equi-join on (band, bucket), and each candidate pair is verified
    * by the SIGNATURE-estimated Jaccard (matching component fraction —
    * the standard unbiased MinHash estimator). Per batch doc the best
    * registry match rides a bounded top-1 aggregate (ties to the
    * lowest registry id); `keep = false` iff the best estimate clears
    * [[MinEstJac]]. Exact copies of a registry doc are flagged with
    * CERTAINTY: identical text ⇒ identical shingle set ⇒ identical
    * signature ⇒ same bucket in every band and estimate 1.0.
    *
    * Emits one row per batch doc: (idCol, keep, dup_of, est_jac) —
    * dup_of/est_jac NULL for docs with no clearing match (including
    * docs under [[ShingleN]] words, which have no signature; screen
    * those with the exact [[incremental]] registry instead).
    * Within-batch duplicates are OUT of scope by design — this is the
    * batch-vs-corpus screen; run the intra-batch pass ([[exact]] /
    * [[minHashCandidates]]) separately, then append the survivors'
    * signatures to the registry.
    *
    * Scale shape: the registry is never scanned as text — it is
    * |corpus| fixed-width signature rows, bandable by pure array
    * slicing (no shuffle). THIS entry point re-bands the registry per
    * call (right for an in-memory/ad-hoc registry); a standing 100 TB
    * registry should be persisted ONCE via [[writeBandedRegistry]]
    * (bucketed BY (band, bucket), exactly like [[incremental]]'s hash
    * registry) and screened through [[incrementalNearDupBanded]], whose
    * candidate join co-locates with zero registry-side exchange. The
    * only quadratic risk is a degenerate bucket (all-identical
    * boilerplate); the verify work is still keyed on candidate PAIRS,
    * never all-pairs.
    *
    * IDs must be integral (they ride the bounded top-1 aggregate as
    * bigint — a lossy cast would null `dup_of` and silently under-flag),
    * and every registry signature must be [[NumHashes]] wide (an
    * in-plan guard raises otherwise — a mismatched registry would
    * silently stop colliding instead).
    */
  def incrementalNearDup(batch: DataFrame, registrySigs: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    Similarity.requireIntegralId(batch, idCol)
    Similarity.requireIntegralId(registrySigs, idCol)
    // width-guard BEFORE banding collisions are relied on: band the
    // guarded rows so a mismatched registry errors on its first
    // scanned row (band < Bands always holds here — it is ours)
    val rb = bandedSignatures(
      registrySigs.select(col(idCol),
        guardRegistrySig(col("sig"), lit(0)).as("sig")), idCol)
      .select(col(idCol).as("_rid"), col("band"), col("bucket"),
        col("sig").as("_rs"))
    screenAgainstBanded(batch, bandBatch(batch, idCol, textCol), rb, idCol)
  }

  /** The batch side of every screen: shingle → MinHash → band, as
    * (_bid, band, bucket, _bs). Lazy: the signature rides the banded
    * rows, so the batch signatures have exactly ONE consumer (the
    * banding) and a checkpoint here would cost an extra job per
    * (micro-)batch for nothing.
    */
  private def bandBatch(batch: DataFrame, idCol: String,
                        textCol: String): DataFrame =
    bandedSignatures(minHashSignatures(
      shingles(batch, idCol, textCol, ShingleN), idCol), idCol)
      .select(col(idCol).as("_bid"), col("band"), col("bucket"),
        col("sig").as("_bs"))

  /** [[incrementalNearDup]] against a PRE-BANDED registry — the 100 TB
    * daily-screen path: `registryBanded` is the (idCol, band, bucket,
    * sig) layout [[bandedSignatures]] emits and [[writeBandedRegistry]]
    * persists bucketed BY (band, bucket). Read back via
    * `spark.table(...)`, the candidate join co-locates on the bucket
    * layout with ZERO registry-side exchange (PlanSpec pins it): the
    * per-batch cost is O(batch + colliding buckets), flat as the
    * registry grows — not the O(registry) re-band-and-shuffle the
    * in-memory entry point pays per call.
    *
    * The registry must have been banded under the SAME MinHash shape:
    * width and band-range violations raise in-plan (per-row guard); a
    * registry banded with FEWER bands cannot be detected from the rows
    * alone (its buckets simply never collide) — persist the build
    * shape alongside the table and verify it on read, as the streaming
    * screen's registry lifecycle does (`StreamingJobs.screenBatch`).
    */
  def incrementalNearDupBanded(batch: DataFrame, registryBanded: DataFrame,
                               idCol: String, textCol: String): DataFrame =
    screenPreBanded(batch, bandBatch(batch, idCol, textCol), registryBanded,
      idCol)

  /** [[incrementalNearDupBanded]] when the BATCH side is already banded
    * — the one-pass streaming-screen path (r20 optimization):
    * `StreamingJobs.screenBatch` needs the batch's banded signatures
    * twice (the screen join AND the survivors' registry append), and
    * the two-entry-point shape forced it to re-run the whole
    * shingle → MinHash → band pipeline for the append. Accepting the
    * pre-banded rows (the exact [[bandedSignatures]] layout, typically
    * checkpointed by the caller) removes one full batch pass per
    * micro-batch; the screen itself is unchanged —
    * [[screenAgainstBanded]] with the same guard on the registry side.
    */
  private[graft] def incrementalNearDupPreBanded(batch: DataFrame,
                                                 batchBanded: DataFrame,
                                                 registryBanded: DataFrame,
                                                 idCol: String): DataFrame =
    screenPreBanded(batch, batchBanded.select(col(idCol).as("_bid"),
      col("band"), col("bucket"), col("sig").as("_bs")), registryBanded, idCol)

  /** The pre-banded registry screens' shared tail: `bb` is the batch's
    * (_bid, band, bucket, _bs) rows; the registry side is guarded per
    * row. The projection renames only non-key columns, so the bucketed
    * scan's (band, bucket) partitioning survives to the join.
    */
  private def screenPreBanded(batch: DataFrame, bb: DataFrame,
                              registryBanded: DataFrame,
                              idCol: String): DataFrame = {
    Similarity.requireIntegralId(batch, idCol)
    Similarity.requireIntegralId(registryBanded, idCol)
    val rb = registryBanded.select(col(idCol).as("_rid"), col("band"),
      col("bucket"), guardRegistrySig(col("sig"), col("band")).as("_rs"))
    screenAgainstBanded(batch, bb, rb, idCol)
  }

  /** All-pairs word-[[ShingleN]]-gram Jaccard similarities: (da, db,
    * jac) with da < db. Shingles are keyed by xxhash64 (longs shuffle, not
    * strings); pair generation groups each shingle's doc list ONCE and
    * emits combinations with higher-order functions — one shuffle of
    * |distinct shingles| small lists instead of a self-join that
    * re-evaluates the shingle explode on both sides. Intentionally
    * O(pairs-sharing-a-shingle): the verifiable baseline for the
    * shingling math; LSH banding (lshBuckets) is the 100 TB path.
    *
    * `maxPosting` is the boilerplate safety valve: one viral shingle
    * (a license header, a template footer) shared by p documents emits
    * p²/2 pairs from a single group — the only quadratic term in the
    * plan. Postings longer than the cap are dropped whole (both sides
    * of the estimate, so da/db stay symmetric); the number of dropped
    * shingles is published as the `jaccard_postings` observed metric
    * (`dropped_shingles`) on the execution, Spark's zero-extra-action
    * metric channel. The DEFAULT is finite (64): an uncapped default
    * means one boilerplate shingle in a 100 TB corpus goes O(n²) —
    * callers that truly want the exact all-pairs semantics (e.g. to
    * match an uncapped SQL oracle) must opt in with
    * `maxPosting = Int.MaxValue`, making the quadratic risk visible at
    * the call site. The cap must be mirrored in any oracle SQL.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   maxPosting: Int = 64): DataFrame =
    pairOverlap(df, idCol, textCol, maxPosting, "jaccard_postings")
      .select(col("da"), col("db"),
        (col("inter").cast(DoubleType) /
          (col("na") + col("nb") - col("inter")).cast(DoubleType)).as("jac"))

  /** Asymmetric shingle CONTAINMENT per candidate pair: c_ab =
    * |A∩B| / |A| (how much of doc A's shingle set doc B covers) and
    * the mirror c_ba. Jaccard misses subsumption — a paragraph pasted
    * into a much larger page scores near-zero Jaccard but containment
    * ≈ 1 on the small side — so curation pipelines flag a pair as
    * near-contained when max(c_ab, c_ba) clears a threshold (Broder
    * 1997's "containment" resemblance; the CCNet/RefinedWeb
    * sub-document dedup signal). Same capped-posting candidate plan as
    * [[jaccardPairs]] over the same 3-gram shingles, with its default
    * 64-id posting cap (the same quadratic safety valve — one extra
    * ratio, zero extra shuffles).
    */
  def containmentPairs(df: DataFrame, idCol: String,
                       textCol: String): DataFrame =
    pairOverlap(df, idCol, textCol, 64, "containment_postings")
      .select(col("da"), col("db"),
        (col("inter").cast(DoubleType) / col("na").cast(DoubleType))
          .as("c_ab"),
        (col("inter").cast(DoubleType) / col("nb").cast(DoubleType))
          .as("c_ba"))

  /** Shared candidate-pair machinery for the set-overlap family:
    * per-pair (da < db) distinct-shingle intersection size plus both
    * set sizes, from capped posting lists. Emits the dropped-postings
    * count as an observed metric under `metricName` (names must be
    * unique per query execution, hence the parameter).
    */
  private def pairOverlap(df: DataFrame, idCol: String, textCol: String,
                          maxPosting: Int, metricName: String): DataFrame = {
    val sh = shingles(df, idCol, textCol, ShingleN)
      .select(col(idCol), xxhash64(col("shingle")).as("sh64"))
    val sz = sh.groupBy(idCol).agg(count(lit(1)).as("n"))
    val postings = sh.groupBy("sh64")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
    val kept =
      if (maxPosting == Int.MaxValue) postings
      else postings
        .observe(metricName,
          sum(when(size(col("ids")) > maxPosting, 1L).otherwise(0L))
            .as("dropped_shingles"))
        .filter(size(col("ids")) <= maxPosting)
    val inter = kept
      // compiled id_pairs kernel (r20) ≡ the nested
      // transform/filter/struct/flatten pair emission — ≤ maxPosting²/2
      // interpreted walks per posting before; VecKernelsSpec pins order
      // and null handling
      .select(explode(graft.functions.VecKernels.id_pairs(col("ids"))).as("p"))
      .groupBy(col("p.da").as("da"), col("p.db").as("db"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col(idCol).as("da"), col("n").as("na")), "da")
      .join(sz.select(col(idCol).as("db"), col("n").as("nb")), "db")
  }

  /** Benchmark decontamination — the training-data stage that removes
    * (or flags) training documents overlapping an evaluation set, so
    * benchmark answers don't leak into the corpus. A training doc is
    * contaminated when it shares ≥1 word 5-gram ([[ContaminationN]])
    * with any holdout doc; returns (id, n_hits) per contaminated doc,
    * n_hits = how many of its distinct shingles appear anywhere in the
    * holdout.
    *
    * Scale shape: the holdout is a BENCHMARK — thousands of docs against
    * a 100 TB corpus — so its distinct shingles broadcast and the
    * training side streams through a map-side hash join: no shuffle of
    * corpus shingles at all. Spark honors an explicit `broadcast()`
    * regardless of the autoBroadcastJoinThreshold, so a holdout too
    * large to broadcast is out of this operator's envelope.
    */
  def contaminationHits(training: DataFrame, holdout: DataFrame,
                        idCol: String, textCol: String): DataFrame = {
    val holdSh = shingles(holdout, idCol, textCol, ContaminationN)
      .select("shingle").distinct()
    shingles(training, idCol, textCol, ContaminationN)
      .join(broadcast(holdSh), "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Word n-gram length of a [[contaminationHits]] match. */
  private val ContaminationN = 5

  /** Connected components over an undirected edge list (src, dst) —
    * near-dup PAIRS become dedup GROUPS only through transitivity
    * (A~B, B~C ⇒ {A,B,C} even when A≁C), so clustering is the step
    * between candidate scoring and survivor selection in every dedup
    * pipeline. Returns (id, cluster) for every node on an edge, where
    * cluster = the MINIMUM id reachable from id: edge direction,
    * duplicate edges and self-loops never change the labels, and a node
    * seen only on a self-loop labels itself.
    *
    * One operator, two cores, three arms chosen at run time from what
    * the run observes:
    *
    *  1. CONVERGED — up to [[BspRounds]] (4) min-label BSP rounds run
    *     first: each node takes the min of its own and its neighbors'
    *     labels, one join + partial-aggregated min per round. The
    *     rounds needed grow with the component DIAMETER, so the
    *     shallow graphs near-dup pipelines usually produce settle here
    *     and pay nothing more.
    *  2. CONTRACT — a graph the budget leaves unconverged is collapsed
    *     onto its partial labels and the contracted graph is finished
    *     by alternating star contraction (Kiveris, Lattanzi, Mirrokni,
    *     Rastogi, Vassilvitskii — "Connected Components in MapReduce
    *     and Beyond", SoCC 2014): large-star points every node's larger
    *     neighbors at its local minimum, small-star points every node
    *     and its (now smaller) neighbors at theirs, and every component
    *     contracts onto its minimum in rounds LOGARITHMIC in its size
    *     whatever its diameter. Correctness of the handoff: after k BSP
    *     rounds label(u) is the minimum id within distance k of u, so
    *     every member of label class L reaches L itself (the class need
    *     not induce a connected subgraph: with k = 1 and edges 7-5, 8-5,
    *     5-2, class {7, 8} of label 5 has no internal edge) — collapsing
    *     each class onto L turns edge (u, v) into (label(u), label(v))
    *     and keeps the component structure exactly. A component's
    *     global minimum m keeps label(m) = m, so star's min-id labels
    *     over the contracted graph composed with label(id) ARE the
    *     min-id labels of the original.
    *  3. SKIP — the contraction pays two edge-keyed joins plus the
    *     composition join and buys nothing when the BSP prefix barely
    *     merged labels: on a MONOTONE-id chain (crawl ids ascending
    *     along the dup chain) label(i) = i − k, the classes are
    *     singletons and the chain shrinks only additively. The label
    *     table in hand carries the signal — proxy shrinkage
    *     1 − distinct labels / nodes, one aggregation over node-sized
    *     data — and below [[ContractMinShrink]] (0.3) star contraction
    *     runs on the ORIGINAL edges instead. The labels are the same
    *     either way; the arm is WARN-logged like every self-engaging
    *     switch.
    *
    * Measured trade-offs (SCALE.md r18cc and r19cc, recorded when pure
    * BSP, pure star and this operator were three entry points): BSP
    * alone needs rounds = diameter — 224.8 s on a 2 048-node chain,
    * ~15 h extrapolated at 500 000 — while star alone holds a
    * 500 000-node chain at 26–54 s but pays ~1.6× BSP on
    * shallow graphs (two grouped minima + joins per round against
    * one). On gr02's shallow dup-graph shape this operator read
    * 1.56–2.05 s against star's 2.29 s and BSP's 2.94 s at 1×, and
    * 6.20 s against star's 10.78 s at 100× (BSP alone 4.41 s there);
    * the contraction roughly doubles the shuffle there (447.8 vs
    * 211.0 MB). Chains take the skip arm: 44.9 s at 500 000 nodes,
    * i.e. star plus [[BspRounds]] cheap rounds.
    *
    * Every round is pure aggregations + equi-joins (a local minimum is
    * a map-side-combined `min`, never a collected neighbor list, so a
    * 100M-degree hub costs its edge count) and is lineage-truncated by
    * the [[Checkpointing]] policy, each superseded round released once
    * nothing reads it. Star contraction converges at a fixpoint (the
    * deduped edge set repeats exactly: equal counts and an empty
    * exceptAll) and fails loudly past [[StarRounds]] rounds, since a
    * half-contracted forest would read as plausible-but-wrong groups.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val cp = Checkpointing.truncator(edges.sparkSession)
    // one materialization of the (possibly expensive) upstream edge
    // pipeline serves the BSP rounds, the contraction joins and the
    // skip arm's star rounds; the per-round symmetric view is a cheap
    // explode over the checkpoint — never union(e, e.swap), which
    // would evaluate the upstream pipeline twice
    val (e0, nEdges) = pinDistinct(edges, cp)
    val (labels, converged) = bspMinLabelRounds(symmetric(e0), cp)
    if (converged) {
      cp.release(e0)
      labels.select(col("id"), col("label").as("cluster"))
    } else {
      // decide from the label table (node-sized, already checkpointed)
      // whether the contraction pays: one agg, never a pass over edges
      val stats = labels
        .agg(count(lit(1)).as("_n"), countDistinct(col("label")).as("_d"))
        .head()
      val (nNodes, nLabels) = (stats.getLong(0), stats.getLong(1))
      val shrink =
        if (nNodes == 0) 0.0 else (nNodes - nLabels).toDouble / nNodes
      if (shrink < ContractMinShrink) {
        logger.warn(f"graft connectedComponents: contraction " +
          f"SKIPPED at shrinkage $shrink%.3f < $ContractMinShrink%.2f " +
          f"($nLabels%d labels / $nNodes%d nodes after $BspRounds%d BSP " +
          "rounds) — star contraction runs on the original edges; the " +
          "labels are the same either way.")
        // starContractFrom releases e0's storage itself once round 1
        // and its node pin land
        starContractFrom(e0, nEdges, cp)
      } else {
        val contracted = e0
          .join(labels.select(col("id").as("src"), col("label").as("_ls")),
            "src")
          .join(labels.select(col("id").as("dst"), col("label").as("_ld")),
            "dst")
          .select(col("_ls").as("src"), col("_ld").as("dst"))
        val (c0, nContracted) = pinDistinct(contracted, cp)
        val star = starContractFrom(c0, nContracted, cp)
        cp.release(e0)
        // compose. Every label is present in star's output: intra-class
        // edges contract to (L, L) self-loops, which are KEPT in
        // `contracted` precisely so they pin L into star's node set (a
        // fully-converged class would otherwise vanish) — do not
        // "optimize" them away. The left join + coalesce is therefore
        // belt-and-braces, not a live path.
        labels
          .join(star.select(col("id").as("label"), col("cluster")),
            Seq("label"), "left")
          .select(col("id"),
            coalesce(col("cluster"), col("label")).as("cluster"))
      }
    }
  }

  /** Min-label BSP rounds [[connectedComponents]] runs before it hands
    * an unconverged graph to star contraction.
    */
  private val BspRounds = 4

  /** Star-contraction rounds past which [[connectedComponents]] fails
    * instead of returning a half-contracted forest; rounds grow ~log of
    * the component size, so a real graph stays far below it.
    */
  private val StarRounds = 40

  /** Proxy shrinkage below which [[connectedComponents]] skips the
    * contraction and runs star contraction on the original edges.
    */
  private val ContractMinShrink = 0.3

  /** `edges` deduplicated and lineage-truncated, with its non-self-loop
    * row count — read from the checkpoint job's own observed metrics,
    * not a separate count() job; it seeds the star rounds' convergence
    * counter.
    */
  private def pinDistinct(edges: DataFrame,
                          cp: Checkpointing.Truncator): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val e0 = cp(edges.distinct()
      .observe(obs, count(when(col("src") =!= col("dst"), lit(1)))
        .as("_n")))
    (e0, obs.get("_n").asInstanceOf[Long])
  }

  /** Both directions of every edge, from one explode over `e`. */
  private def symmetric(e: DataFrame): DataFrame =
    e.select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Up to [[BspRounds]] min-label rounds over the SYMMETRIC edge view:
    * the final (id, label) frame and whether the fixpoint was DETECTED
    * inside the budget.
    */
  private def bspMinLabelRounds(sym: DataFrame,
                                cp: Checkpointing.Truncator): (DataFrame, Boolean) = {
    var labels = cp.rolling(sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    var i = 0
    // a round's checkpoint only needs to outlive the NEXT round's
    // materialization — Truncator.rolling releases the superseded
    // round (files in reliable mode, blocks in local mode), so
    // executor storage holds O(1) label-table copies, not O(rounds)
    while (!converged && i < BspRounds) {
      val nbrMin = sym
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("id")).agg(min(col("label")).as("_nbr"))
      // one checkpointed join per round serves BOTH the convergence
      // check and the next label frame — a separate next-vs-previous
      // join would shuffle the label table a second time every round.
      // The improvement count rides the checkpoint job's observed
      // metrics: count(when(_nbr < label)) counts exactly the rows a
      // filter(...).isEmpty action would scan for (null comparisons
      // fall out of count the same way filter drops them)
      val obs = org.apache.spark.sql.Observation()
      val joined = cp.rolling(labels.join(nbrMin, Seq("id"), "left")
        .observe(obs, count(when(col("_nbr") < col("label"), lit(1)))
          .as("_viol")))
      converged = obs.get("_viol").asInstanceOf[Long] == 0L
      labels = joined.select(col("id"),
        least(col("label"), coalesce(col("_nbr"), col("label"))).as("label"))
      i += 1
    }
    (labels, converged)
  }

  /** The star-contraction rounds of [[connectedComponents]] over an
    * ALREADY deduped + lineage-truncated edge set (`e0`, with `nEdges`
    * = its non-self-loop row count). Releases `e0`'s storage once
    * round 1 and the node-set pin have materialized (nothing reads it
    * after that).
    */
  private def starContractFrom(e0: DataFrame, nEdges: Long,
                               cp: Checkpointing.Truncator): DataFrame = {
    def clean(e: DataFrame): DataFrame =
      e.filter(col("src") =!= col("dst")).distinct()
    // large-star: m(u) = min(Γ(u) ∪ {u}) over the SYMMETRIC view;
    // emit (v, m(u)) for every neighbor v > u. Connectivity is
    // preserved per round (Kiveris et al., Lemma 1) and every emitted
    // edge points strictly downward (m < u < v), so self-loops cannot
    // appear.
    def largeStar(e: DataFrame): DataFrame = {
      val s = symmetric(e)
      val mins = s.groupBy(col("src")).agg(min(col("dst")).as("_mn"))
        .select(col("src"), least(col("_mn"), col("src")).as("_m"))
      // NOT deduped: duplicates out of large-star are absorbed by
      // small-star's map-side-combined min and its final distinct —
      // multiplicity is bounded within the round (the input was
      // deduped), so spending a full shuffle here would buy nothing
      s.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("_m").as("dst"))
    }
    // small-star: orient every edge toward its larger endpoint; per
    // node u (all neighbors now < u), m(u) = min neighbor; emit
    // (v, m(u)) for every neighbor plus (u, m(u)) itself.
    def smallStar(e: DataFrame): DataFrame = {
      val d = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val mins = d.groupBy(col("src")).agg(min(col("dst")).as("_m"))
      clean(d.join(mins, "src")
        .select(col("dst").as("src"), col("_m").as("dst"))
        .unionAll(mins.select(col("src"), col("_m").as("dst"))))
    }
    // the original node set, pinned BEFORE the loop contracts edges
    // away (roots lose their outgoing edges; they label themselves);
    // self-loops contribute their nodes here (a (x, x)-only node must
    // still label itself — the label contract), then drop in the filter below
    val nodes = cp(e0.select(explode(array(col("src"), col("dst")))
      .as("id")).distinct())
    var e: DataFrame = e0.filter(col("src") =!= col("dst"))
    var eCount = nEdges
    var converged = false
    var i = 0
    while (!converged && i < StarRounds) {
      // the round's edge count rides the checkpoint job's own observed
      // metrics (r21) — the separate count() job per round is gone;
      // CCPropSpec "observe() metrics arrive on an eager
      // localCheckpoint()" pins that the checkpoint delivers them
      val obs = org.apache.spark.sql.Observation()
      val next = cp(smallStar(largeStar(e))
        .observe(obs, count(lit(1)).as("_n")))
      val nextCount = obs.get("_n").asInstanceOf[Long]
      // deduped sets: equal size + empty one-sided difference ⇒ equal
      converged = nextCount == eCount && next.exceptAll(e).isEmpty
      cp.release(e) // only after the comparison read it
      e = next
      eCount = nextCount
      i += 1
    }
    if (!converged) sys.error(
      s"connectedComponents did not converge in $StarRounds star rounds " +
        "(rounds grow ~log component size)")
    val labels = nodes
      .join(e.select(col("src").as("id"), col("dst").as("cluster")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    labels
  }

  /** Cluster resolution — the step that makes dup CLUSTERS a dedup:
    * per cluster, keep the highest-scoring member (ties to the lowest
    * id) and report the survivor with the member count. Composes the
    * cluster labels of [[connectedComponents]] with any per-doc score
    * (e.g. [[TextAnalysis.qualityScore]]), so "detect → cluster →
    * resolve" keeps the BEST copy of each boilerplate family instead
    * of an arbitrary one.
    *
    * Scale shape: one id-keyed equi-join (clusters ⊆ corpus, scores
    * narrow) and one cluster-keyed aggregation whose argmax collapses
    * map-side via `max(struct(score, -id))` — no window over members,
    * no cluster ever in one buffer. Tie semantics (higher score, then
    * lower id) are engine-portable: the struct comparison equals
    * `ORDER BY score DESC, id ASC` wherever the score doubles are
    * bit-identical.
    *
    * Fixed columns: `clusters` is (doc_id, cluster), `scores` is
    * (doc_id, quality), e.g. [[TextAnalysis.qualityScore]] over doc_id.
    */
  def resolveClusters(clusters: DataFrame, scores: DataFrame): DataFrame =
    // LEFT join: a member with no score row still counts toward
    // n_members (and can still survive — struct-max ranks its NULL
    // score below every scored member, ties broken by lowest id)
    clusters
      .join(scores.select(col("doc_id"), col("quality")), Seq("doc_id"), "left")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality").as("_s"), (-col("doc_id")).as("_negid")))
          .as("_best"))
      .select(col("cluster"), (-col("_best._negid")).as("survivor_id"),
        col("_best._s").as("survivor_score"), col("n_members"))

  /** Pseudo-random ±1 hyperplane sign for (plane `j`, dimension `p`,
    * 0-based): two multiply–xorshift rounds over the (j, p) index,
    * parity of the result. Plain integer arithmetic every engine
    * shares — the DuckDB oracle evaluates the identical formula.
    *
    * The double round is load-bearing: a single multiplicative hash
    * read at one bit leaves adjacent indices correlated — measured as
    * plane j+1 ≈ −plane j, which concentrated HALF the corpus into the
    * two alternating-bit blocks (max block 82/500; with the avalanche,
    * 9/500). Mod 2^31, not 2^32, keeps the second multiply inside a
    * signed 64-bit long in both engines.
    */
  private def hyperplaneSign(j: Column, p: Column): Column = {
    val idx = (j * 4096 + p + 1).cast(LongType)
    val h1 = pmod(idx * 2654435761L, lit(2147483648L))
    val h2 = h1.bitwiseXOR(call_function("shiftright", h1, lit(16)))
    val h3 = pmod(h2 * 1597334677L, lit(2147483648L))
    val h4 = h3.bitwiseXOR(call_function("shiftright", h3, lit(16)))
    when(pmod(h4, lit(2)) === 0, 1).otherwise(-1)
  }

  /** Exact projection of a DECIMAL-element array onto hyperplane `j`:
    * Σ_p arr[p] · sign(j, p). DECIMAL accumulation makes the sum
    * order-independent and bit-identical across engines, so the block
    * BITS (sign comparisons over these sums) agree exactly with the
    * oracle.
    */
  private def hyperplaneProj(arr: Column, j: Column, acc: DecimalType): Column =
    aggregate(
      zip_with(arr, sequence(lit(0), size(arr) - 1), (x, p) =>
        (x * hyperplaneSign(j, p)).cast(acc)),
      lit(java.math.BigDecimal.ZERO).cast(acc),
      (a, t) => (a + t).cast(acc))

  /** Candidate blocks of [[embeddingNearDup]]: input rows tagged with a
    * `sketchBits`-bit CENTERED hyperplane sign sketch in column `bk` —
    * bit j is the sign of the vector's projection onto pseudo-random
    * ±1 hyperplane j measured AGAINST THE CORPUS MEAN's projection.
    * Centering is division-free so it stays exact: bit j compares
    * n·proj_j(v) with proj_j(Σ corpus) in DECIMAL (same sign as
    * proj_j(v − mean), all integer/decimal arithmetic both engines
    * share). Without it, any common direction in the corpus — e.g. the
    * sign-biased leading dims real embedding models emit — shifts
    * every hyperplane's split away from 50/50 and concentrates blocks.
    * The corpus-sum frame is one tiny broadcast (dims×16 B), never a
    * shuffle of the vectors.
    */
  private[graft] def embeddingBlocks(emb: DataFrame,
                                     sketchBits: Int): DataFrame = {
    val e = emb
      .filter(col(Embedding).isNotNull && size(col(Embedding)) >= sketchBits)
      .select(col(VecId).as("vid"), col(Embedding).as("v"))
    val dimSums = e.select(posexplode(col("v")))
      .select(col("pos"),
        col("col").cast(DoubleType).cast(DecimalType(12, 6)).as("x"))
      .groupBy("pos").agg(sum(col("x")).cast(DecimalType(22, 6)).as("s"))
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("s")))),
        p => p("s")).as("smu"))
    // corpus-side projections computed ONCE in the one-row stats frame
    // (r20: they are constant across the corpus, but as a per-row
    // expression Catalyst re-evaluated all sketchBits × dims decimal
    // folds for EVERY vector — same values, N× the work); the per-row
    // side runs in the compiled hplane_projs kernel (VecKernelsSpec
    // pins it to the hyperplaneProj HOF fold bit for bit)
    val stats = e.agg(count(lit(1)).cast(DecimalType(10, 0)).as("nvec"))
      .crossJoin(dimSums)
      .withColumn("_sproj",
        transform(sequence(lit(0), lit(sketchBits - 1)),
          j => hyperplaneProj(col("smu"), j, DecimalType(38, 6))))
    // width discipline keeps every product/sum inside DECIMAL(38, 6)
    // so neither engine rescales: per-vector projections accumulate in
    // (22,6) (≤ dims·|x|max, tiny), corpus-sum projections in (38,6),
    // and n·proj is (10,0)·(22,6) → (33,6) — all exact
    e.crossJoin(broadcast(stats))
      .withColumn("_vproj",
        graft.functions.VecKernels.hplane_projs(col("v"), sketchBits))
      .select(col("vid"), col("v"),
        concat_ws("", transform(sequence(lit(0), lit(sketchBits - 1)), j =>
          when(col("nvec") * element_at(col("_vproj"), j + 1) >
            element_at(col("_sproj"), j + 1),
            "1").otherwise("0"))).as("bk"))
  }

  /** Embedding-cosine near-dup: top-k most-similar vector pairs among
    * candidates sharing a centered hyperplane sign-sketch block
    * ([[embeddingBlocks]]). Every step is deterministic portable
    * arithmetic — integer-hash hyperplane signs, division-free
    * mean-centering, DECIMAL projection sums — so the DuckDB oracle
    * reproduces the blocking and the top-k exactly. Cosines are
    * assembled from order-independent DECIMAL sums (the sim01
    * formulation) so the doubles are bit-identical across engines.
    *
    * Centered hyperplanes, not raw leading-dimension signs, keep the
    * blocks BALANCED on adversarial corpora: real embedding models
    * commonly emit sign-biased leading dims, which would collapse most
    * of the corpus into one raw-sign block and degrade the candidate
    * equi-join toward all-pairs within it; and any common-direction
    * component would likewise skew UNcentered hyperplane splits. Near
    * dups stay co-blocked either way — centering shifts both members
    * of a close pair identically.
    *
    * Scale shape: candidate generation is a hash-partitioned equi-join
    * on the block key ([[SketchBits]] = 8 bits) — never all-pairs.
    * Block-boundary misses are the usual LSH recall trade-off; widen
    * recall by probing multiple sketches (cf. Similarity.lshTables),
    * not by widening the join.
    */
  def embeddingNearDup(emb: DataFrame, k: Int): DataFrame = {
    val e = emb
      .filter(col(Embedding).isNotNull && size(col(Embedding)) >= SketchBits)
      .select(col(VecId).as("vid"), col(Embedding).as("v"))
    val b = embeddingBlocks(emb, SketchBits)
    val cand = b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("va"), col("b.vid").as("vb"),
        col("a.v").as("ea"), col("b.v").as("eb"))
    val d = cand.select(col("va"), col("vb"), col("eb"), posexplode(col("ea")))
      .select(col("va"), col("vb"),
        col("col").cast(DecimalType(12, 6)).as("xa"),
        element_at(col("eb"), col("pos") + 1).cast(DecimalType(12, 6)).as("xb"))
      .groupBy("va", "vb").agg(sum(col("xa") * col("xb")).as("dot"))
    val n = e.select(col("vid"), posexplode(col("v")))
      .select(col("vid"), col("col").cast(DecimalType(12, 6)).as("x"))
      .groupBy("vid").agg(sum(col("x") * col("x")).as("nrm"))
    d.join(n.select(col("vid").as("va"), col("nrm").as("na")), "va")
      .join(n.select(col("vid").as("vb"), col("nrm").as("nb")), "vb")
      .select(col("va"), col("vb"),
        (col("dot").cast(DoubleType) /
          sqrt(col("na").cast(DoubleType) * col("nb").cast(DoubleType))).as("sim"))
      .orderBy(col("sim").desc, col("va"), col("vb"))
      .limit(k)
  }

  /** Sign-sketch width of an [[embeddingNearDup]] block key. */
  private val SketchBits = 8

  /** 64-bit SimHash per document over whitespace tokens: per-bit
    * majority vote of token hashes. One shuffle of |docs| rows carrying
    * the token-hash list; the 64-bit vote runs as nested higher-order
    * aggregates in codegen (vote order is commutative, so collect_list
    * nondeterminism cannot leak into the result).
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // the 64-bit vote runs in the compiled simhash_vote kernel (r20):
    // the nested-HOF form walked 64 × |tokens| interpreted expression
    // nodes per doc; the kernel is the identical commutative vote in
    // straight-line code (VecKernelsSpec pins it, null hashes vote -1)
    df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .select(col(idCol), xxhash64(col("tok")).as("h"))
      .groupBy(col(idCol))
      .agg(collect_list(col("h")).as("hs"))
      .select(col(idCol),
        graft.functions.VecKernels.simhash_vote(col("hs")).as("simhash"))

  /** The (band, bv) blocking layout of a 64-bit hash column — the rows
    * [[hammingPairs]] self-joins and [[writeHammingRegistry]] persists:
    * each hash explodes into `maxDist + 1` disjoint bit bands (the
    * pigeonhole guarantee: `maxDist` differing bits cannot touch all
    * `maxDist + 1` bands), the full hash riding every banded row for
    * the exact verify. Emits (idCol, band, bv, h64) — a pure narrow
    * explode, zero shuffle.
    */
  def bandedHashes(hashes: DataFrame, idCol: String, hashCol: String,
                   maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist <= 7,
      s"maxDist must be in [0, 7] (band width = 64/(maxDist+1) ≥ 8 bits " +
        s"keeps blocks selective), got $maxDist")
    val bands = maxDist + 1
    val width = 64 / bands
    hashes
      .select(col(idCol).cast(LongType).as(idCol),
        col(hashCol).cast(LongType).as("h64"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col(idCol), col("band"),
        // band value: bits [band*width, …); the LAST band absorbs the
        // 64 % bands leftover bits so the bands cover all 64
        when(col("band") === bands - 1,
          call_function("shiftrightunsigned", col("h64"), col("band") * width))
          .otherwise(call_function("shiftrightunsigned",
            col("h64"), col("band") * width)
            .bitwiseAND(lit((1L << width) - 1))).as("bv"),
        col("h64"))
  }

  /** All pairs within hamming distance `maxDist` over a 64-bit
    * perceptual/similarity hash column (dHash from
    * [[graft.multimodal.Multimodal.dHashes]], [[simHash]], …), via
    * banded blocking: the hash splits into `maxDist + 1` disjoint bit
    * bands, candidates equi-join on (band index, band value), and the
    * exact `bit_count(xor)` filter runs only inside blocks. By
    * pigeonhole the blocking is LOSSLESS — `maxDist` differing bits
    * cannot touch all `maxDist + 1` bands, so every qualifying pair
    * shares at least one exact band — unlike the probabilistic recall
    * of MinHash banding ([[minHashCandidates]]).
    *
    * Output: `(id_a, id_b, dist)` with `id_a < id_b`, one row per pair.
    *
    * Scale posture: the shuffle carries `(maxDist + 1)` 24-byte rows
    * per hash — never payloads, never all-pairs; block population is
    * corpus-size / 2^bandWidth on a dispersed corpus (bandWidth ≥ 8
    * enforced), and a hot block means genuinely near-identical media,
    * which is the signal, not skew. Same envelope as the [[simHash]] /
    * dd05 hamming family. NOTE: `hashes` feeds BOTH sides of the
    * self-join — if the hash column is expensive to derive (a media
    * decode), materialize it first (persist / write to a table), or
    * the plan evaluates the derivation once per side.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                   maxDist: Int): DataFrame = {
    val banded = bandedHashes(hashes, idCol, hashCol, maxDist)
      .withColumnRenamed(idCol, "hid")
    val a = banded.select(col("band"), col("bv"),
      col("hid").as("id_a"), col("h64").as("ha"))
    val b = banded.select(col("band"), col("bv"),
      col("hid").as("id_b"), col("h64").as("hb"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        call_function("bit_count", col("ha").bitwiseXOR(col("hb")))
          .cast(LongType).as("dist"))
      .filter(col("dist") <= maxDist)
      // a pair at distance < bands can share several bands — collapse
      // map-side (partial agg), never a distinct over the joined width
      .groupBy("id_a", "id_b").agg(min(col("dist")).as("dist"))
  }

  /** Persist a hamming-hash registry pre-banded and bucketed BY
    * (band, bv) — [[writeBandedRegistry]]'s contract for the 64-bit
    * perceptual-hash family (dHash/audio/video from
    * [[graft.multimodal.Multimodal]], [[simHash]]): the media corpus
    * is represented by 16 bytes per asset, written ONCE in the
    * blocking layout, so every subsequent batch screen
    * ([[incrementalHammingDup]]) co-locates its candidate join on the
    * bucket layout with ZERO registry-side exchange — per-batch cost
    * O(batch + colliding buckets), flat as the registry grows, instead
    * of the O(corpus) re-hash-and-shuffle a batch-mode
    * [[hammingPairs]] sweep pays per crawl. The registry is banded for
    * [[RegistryMaxDist]] = 3 (4 bands); a registry banded under a
    * different maxDist raises in-plan on read where detectable (band
    * index out of range) — the same shape-mismatch discipline as the
    * MinHash registry.
    */
  def writeHammingRegistry(hashes: DataFrame, idCol: String,
                           hashCol: String, table: String, path: String,
                           numBuckets: Int = 32): Unit =
    Bucketing.writeBucketedAt(
      bandedHashes(hashes, idCol, hashCol, RegistryMaxDist),
      table, Seq("band", "bv"), numBuckets, path)

  /** Hamming radius of the persisted registry and its screen. */
  private val RegistryMaxDist = 3

  /** Incremental near-dup screening of a batch of 64-bit hashes
    * against a persisted [[writeHammingRegistry]] registry — the
    * daily-crawl shape for MEDIA (dd19/dd20's lifecycle lifted to the
    * dHash family): the batch bands in one narrow pass, candidates
    * meet the pre-banded registry in the (band, bv) equi-join that
    * co-locates on the bucket layout (zero registry-side exchange —
    * PlanSpec pins it), each colliding pair verifies by the exact
    * `bit_count(xor)` — LOSSLESS by pigeonhole at dist ≤ maxDist,
    * unlike the MinHash screen's probabilistic estimate — and the
    * per-batch-asset best match rides a bounded top-1 aggregate
    * (dist asc, ties to the lowest registry id).
    *
    * Emits one row per batch hash: (idCol, keep, dup_of, dist) —
    * keep = false iff some registry hash sits within [[RegistryMaxDist]];
    * dup_of/dist NULL otherwise. Batch-vs-corpus only, like the text
    * screen: run the intra-batch pass ([[hammingPairs]]) separately,
    * then append the survivors' banded rows to the registry.
    *
    * `registryBanded` must carry the (idCol, band, bv, h64) layout
    * [[writeHammingRegistry]] writes: an out-of-range band raises
    * in-plan per row; a registry banded COARSER (fewer bands) is not
    * detectable from rows alone, the [[incrementalNearDupBanded]]
    * caveat verbatim.
    */
  def incrementalHammingDup(batch: DataFrame, registryBanded: DataFrame,
                            idCol: String, hashCol: String): DataFrame = {
    val maxDist = RegistryMaxDist
    Similarity.requireIntegralId(batch, idCol)
    Similarity.requireIntegralId(registryBanded, idCol)
    val bands = maxDist + 1
    val bb = bandedHashes(batch, idCol, hashCol, maxDist)
      .select(col(idCol).as("_bid"), col("band"), col("bv"),
        col("h64").as("_bh"))
    // the projection renames only non-key columns, so the bucketed
    // scan's (band, bv) partitioning survives to the join; the guard
    // raises on the first row of a finer-banded registry
    val rb = registryBanded.select(col(idCol).as("_rid"), col("band"),
      col("bv"),
      when(col("band") >= bands, raise_error(concat(
        lit("incrementalHammingDup: registry row has band "),
        col("band").cast(StringType),
        lit(s" but the screen's radius is maxDist=$maxDist (" +
          s"$bands bands) — the registry was banded under a different " +
          "maxDist; rebuild it with writeHammingRegistry")))
        .cast(LongType))
        .otherwise(col("h64")).as("_rh"))
    val best = bb.join(rb, Seq("band", "bv"))
      .select(col("_bid"), col("_rid"),
        call_function("bit_count", col("_bh").bitwiseXOR(col("_rh")))
          .cast(LongType).as("_d"))
      .filter(col("_d") <= maxDist)
      // bounded top-1 (dist asc, ties to the lowest registry id); a
      // pair colliding in several bands re-enters with IDENTICAL rows
      // — top-1 with deterministic ties is unaffected (the
      // screenAgainstBanded argument, hamming edition)
      .groupBy(col("_bid"))
      .agg(graft.functions.TopKAgg.top_k(col("_d").cast(DoubleType),
        col("_rid").cast(LongType), 1, ascending = true).as("_tk"))
      .select(col("_bid"), element_at(col("_tk"), 1).as("_b1"))
      .select(col("_bid"), col("_b1.id").as("dup_of"),
        col("_b1.score").cast(LongType).as("dist"))
    batch.select(col(idCol).cast(LongType).as(idCol))
      .join(best.withColumnRenamed("_bid", idCol), Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("dist"))
  }

  /** RTBF deletion from a persisted [[writeHammingRegistry]] registry —
    * dd22's contract for the media family, the registry-lifecycle
    * matrix's last asymmetry (text could delete, images could not):
    * drop EVERY banded row of the tombstoned asset ids and rewrite
    * the table in place, so a deleted image stops flagging future
    * re-crawls AND its hash leaves storage (the fold-forward screen
    * would otherwise keep matching against a hash the data owner
    * asked gone).
    *
    * Scale shape: the tombstone list broadcasts (bounded by the
    * deletion-request batch, never the corpus) onto the bucketed
    * scan — a narrow anti-join that PRESERVES the scan's
    * one-partition-per-bucket layout — and the survivors rewrite
    * through [[Bucketing.rewriteBucketedAt]], which skips the
    * layout-establishing exchange precisely because the layout
    * already holds: the whole delete is scan → broadcast-anti →
    * write, 0.0 MB of shuffle at every registry decade (SCALE.md
    * r20). The survivors replace the registry through
    * [[graft.io.Publish]]: a crash leaves the previous registry or the
    * new one, and the next deletion settles it first.
    *
    * The deleted registry is value-IDENTICAL to one rebuilt from the
    * survivors (the sim27 contract): banding is a pure per-row
    * function, so dropping an id's banded rows ≡ never having banded
    * it (MultimodalSpec pins row-for-row equality). Malformed
    * tombstone ids raise in-plan ([[Similarity.castTombstone]]) —
    * a deletion that silently skipped an id would be a compliance
    * bug, not a convenience.
    */
  def deleteFromHammingRegistry(spark: org.apache.spark.sql.SparkSession,
                                table: String, path: String,
                                tombstones: DataFrame,
                                numBuckets: Int = 32): Unit = {
    val live = new org.apache.hadoop.fs.Path(path)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // settle an interrupted deletion before reading: its swap moved
    // the files under the table's cached listing
    if (graft.io.Publish.recover(fs, live)) spark.catalog.refreshTable(table)
    val reg = spark.table(table)
    val idName = reg.columns.head
    val tCol = tombstones.columns.head
    val survivors = reg.join(
      broadcast(tombstones
        .select(Similarity.castTombstone(col(tCol),
          reg.schema(idName).dataType,
          "deleteFromHammingRegistry").as(idName))
        .distinct()),
      Seq(idName), "left_anti")
    graft.io.Publish.replace(fs, live) { next =>
      Bucketing.rewriteBucketedAt(survivors, s"${table}_next",
        Seq("band", "bv"), numBuckets, next.toString)
      spark.sql(s"DROP TABLE IF EXISTS ${table}_next")
    }
    Bucketing.registerBucketedAt(spark, table, survivors.schema.toDDL,
      Seq("band", "bv"), numBuckets, path)
  }

  /** Typo-pair detection over a token vocabulary (the fuzzy-key-matching
    * step of entity/token normalization) over tokens of at least 4
    * characters: candidates blocked on (first char, ±1 length band) so
    * only plausible typo pairs ever meet, then exact Levenshtein
    * distance == 1. Output: `(tok_a, tok_b, dist)` with `tok_a < tok_b`.
    *
    * Known blocking trade-off (standard for candidate generation): pairs
    * differing in their FIRST character never meet. The dist column is
    * projected as the literal 1L — the filter already pinned it, and
    * Catalyst does not CSE the O(len²) DP across Filter and Project.
    *
    * Scale posture: the equi-join keys on the block (first char), so the
    * shuffle carries distinct tokens — bytes, not documents — and the
    * fan-out is bounded by block size, never all-pairs across the
    * vocabulary. For vocabularies with heavy first-char skew, widen the
    * block key (first char + length) or salt the hot block.
    */
  def typoPairs(vocab: DataFrame, tokCol: String): DataFrame = {
    val v = vocab.select(col(tokCol).as("tok")).distinct()
      .filter(length(col("tok")) >= 4)
      .select(col("tok"), substring(col("tok"), 1, 1).as("_c1"),
        length(col("tok")).as("_len"))
    val a = v.select(col("tok").as("tok_a"), col("_c1"), col("_len").as("_la"))
    val b = v.select(col("tok").as("tok_b"), col("_c1"), col("_len").as("_lb"))
    a.join(b, Seq("_c1"))
      .filter(col("_lb").between(col("_la") - 1, col("_la") + 1) &&
        col("tok_a") < col("tok_b") &&
        levenshtein(col("tok_a"), col("tok_b")) === 1)
      .select(col("tok_a"), col("tok_b"), lit(1L).as("dist"))
  }

  /** Cross-document duplicated spans: every [[SpanN]]-word span
    * occurring in at least [[SpanMinDocs]] distinct documents — the
    * exact-substring
    * duplication detector (the span-granular shape of suffix-array
    * dedup à la "Deduplicating Training Data Makes Language Models
    * Better") at fixed window size. Boilerplate headers, license
    * blocks and copy-pasta surface here before any fuzzy matching.
    *
    * Shape: one explode to (doc, span) — de-duplicated WITHIN each doc
    * by a per-row `array_distinct`, so a span repeated inside one
    * document counts once — then a span-keyed doc count and a SHARDED
    * postings aggregation, the same (key, shard) grouping as
    * [[TextAnalysis.invertedIndex]]: each span's postings spread over
    * `ceil(n_docs / maxPostings)` shards by `doc_id mod n_shards`, so
    * no aggregation buffer ever holds more than ~maxPostings ids. The
    * heaviest boilerplate span on a web corpus — a license block in
    * millions of documents — lands in thousands of bounded buffers
    * instead of one task's. No pairwise joins anywhere; the span-count
    * exchange is reused by the postings build (one tokenize pass).
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
               maxPostings: Int = 10000): DataFrame = {
    require(maxPostings >= 1, "need maxPostings >= 1")
    val w = split(col(textCol), " ")
    val spans = df
      .select(col(idCol), w.as("_w"))
      .filter(size(col("_w")) >= SpanN)
      // word_ngrams kernel (r21): same distinct n-grams as the
      // transform/slice/concat_ws/array_distinct chain, compiled
      .select(col(idCol), explode(
        graft.functions.VecKernels.word_ngrams(col("_w"), SpanN)).as("span"))
    // (doc, span) is already unique per row (array_distinct above); the
    // repartition+distinct exist for the PLAN, not the data — as in
    // [[TextAnalysis.invertedIndex]], they form the shared pruning-proof
    // exchange both branches read: the heavy tokenize+explode runs once,
    // its span-hash shuffle is reused, and every aggregation above
    // (distinct, doc count, sharded postings) is exchange-free because
    // hash(span) clusters all of their grouping keys. A corpus with one
    // pathologically hot span can spread its shards across tasks with an
    // extra repartition(span, shard) before the final group — same plan
    // shape, one more exchange.
    val sp = spans.repartition(col("span")).distinct()
    val counts = sp.groupBy(col("span"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= SpanMinDocs)
    sp.join(counts, "span")
      .withColumn("shard",
        pmod(col(idCol),
          greatest(lit(1L), ceil(col("n_docs") / lit(maxPostings.toDouble)))))
      .groupBy(col("span"), col("n_docs"), col("shard"))
      .agg(count(lit(1)).as("shard_docs"),
        concat_ws(",",
          sort_array(collect_list(col(idCol))).cast("array<string>"))
          .as("postings"))
  }

  /** Span length, in words, of [[dupSpans]] / [[dupSpanRegions]]. */
  private val SpanN = 8

  /** Distinct documents a span must occur in to count as duplicated. */
  private val SpanMinDocs = 2

  /** Maximal duplicated regions per document — [[dupSpans]]'s fixed
    * windows merged into maximal token runs, the REMOVAL granularity of
    * suffix-array span dedup ("Deduplicating Training Data Makes
    * Language Models Better": cut every duplicated substring over the
    * length threshold). A token position is hot when the [[SpanN]]-window
    * starting there occurs in ≥ [[SpanMinDocs]] distinct documents; runs of
    * consecutive hot positions chain into one maximal region
    * `[start_tok, start_tok + n_tokens)` covering every overlapping hot
    * window. Output per region: (id, start_tok 1-based, n_tokens,
    * region text), a direct cut list for the cleaning pass.
    *
    * Scale shape: one tokenize+explode pass keyed by span for the hot
    * set (distinct doc counts, map-side combining), one span-keyed
    * equi-join tagging hot positions, then ONE keyed window per
    * document whose partition holds that document's hot positions —
    * bounded by document length, never by corpus-wide span frequency
    * (the dd12 lesson: per-SPAN state must shard, per-DOC state is
    * already bounded). The final region-text slice joins back to the
    * doc tokens by id — a second scan of the narrow (id, text)
    * projection instead of carrying every token array through the
    * window.
    */
  def dupSpanRegions(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val n = SpanN
    val w = split(col(textCol), " ")
    val pos = df.select(col(idCol), w.as("_w"))
      .filter(size(col("_w")) >= n)
      // word_ngrams_all kernel (r21): ALL grams in position order —
      // the posexplode below needs positions, so no distinct here
      .select(col(idCol), posexplode(
        graft.functions.VecKernels.word_ngrams_all(col("_w"), n)))
      .select(col(idCol), (col("pos") + 1).as("i"), col("col").as("span"))
    val hot = pos.select(col(idCol), col("span")).distinct()
      .groupBy(col("span")).agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= SpanMinDocs).select("span")
    val runs = pos.join(hot, "span")
      .select(col(idCol), col("i"))
      .withColumn("_grp", col("i") - row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("i"))))
      .groupBy(col(idCol), col("_grp"))
      .agg(min(col("i")).as("start_tok"), (max(col("i")) + n - 1).as("_end"))
    runs.join(df.select(col(idCol), w.as("_w")), Seq(idCol))
      .select(col(idCol), col("start_tok").cast(LongType).as("start_tok"),
        (col("_end") - col("start_tok") + 1).cast(LongType).as("n_tokens"),
        concat_ws(" ", slice(col("_w"), col("start_tok"),
          col("_end") - col("start_tok") + 1)).as("region"))
  }

  /** Semantic dedup ("SemDeDup", Abbas et al. 2023): k-means-cluster the
    * embedding space, then prune near-identical vectors WITHIN each
    * cluster — the embedding-space analogue of dd08's shingle clusters,
    * with the cluster assignment doing the candidate blocking that dd06
    * does with hyperplane sketches. Removal rule: a vector is a
    * duplicate iff some LOWER-ID vector in the same cluster has exact-
    * decimal cosine ≥ `tau`; `dup_of` names the smallest such id (the
    * greedy keep-first-by-id policy, deterministic on any engine).
    * Input: the fixed vector schema `(vec_id, embedding)` documented on
    * [[Similarity]]. Output: (vec_id, cluster, dup_of, keep) for every
    * input vector.
    *
    * Cross-engine determinism: the assignment is [[Clustering
    * .assignToSeeds]] (hash-picked seeds, exact decimal distances,
    * id-tiebroken argmin) and the similarity is the sim01 exact-decimal
    * cosine, so the ≥ tau comparison sees bit-identical doubles in
    * every engine — the DuckDB oracle reproduces the full pipeline.
    *
    * Scale shape: clustering is the broadcast-seed argmin (one
    * corpus-width exchange); the τ-join is an equi-join on the cluster
    * id, so the pair count is Σ|cluster|² — SemDeDup's own cost bound.
    * At corpus scale, k grows with N (the paper runs ~100k clusters for
    * 100M+ embeddings) so clusters stay bounded-size; boundary-
    * straddling near-dups are the accepted recall loss, exactly as the
    * paper frames it. Because k ∝ N also makes the exact assignment
    * fold quadratic, the two-level assignment engages automatically at
    * k ≥ [[Similarity.TwoLevelAuto]] (512 — safely above every gate's
    * k=16, safely below the measured 718 s k=1600 wall); see the
    * switch note in the body.
    */
  def semanticDedup(emb: DataFrame, k: Int, tau: Double,
                    twoLevelAssign: Boolean = false): DataFrame = {
    require(k > 0 && tau > 0.0, "need k > 0 and tau > 0")
    def dot(x: Column, y: Column): Column =
      graft.functions.VecKernels.vec_dot_dec(x, y)
    // twoLevelAssign is the big-corpus switch (k ∝ N makes the exact
    // assignment fold quadratic — the measured 718 s dd15 wall at the
    // 100× rehearsal): blocking cells become approximate for boundary
    // vectors, but EXACT duplicates still co-assign with certainty
    // (identical vectors fold identically), so the clone-recall
    // contract survives. The switch also engages ITSELF at k ≥
    // Similarity.TwoLevelAuto (the ev09 knownKeyCount guard pattern):
    // in the SemDeDup regime k scales with the corpus, so k — known
    // statically, no corpus count needed — IS the quadratic-wall
    // signal. Gates run k=16 (exact) and the dd18 gate pins the
    // two-level path explicitly.
    val assigned =
      if (Similarity.decideTwoLevel("semanticDedup", twoLevelAssign, k))
        Clustering.assignToSeedsTwoLevel(emb, k)
      else Clustering.assignToSeeds(emb, k)
    val e = emb
      .select(col(VecId).as("_id"), Similarity.dec6(col(Embedding)).as("_x"))
      .join(assigned.select(col(VecId).as("_id"), col("cluster")), "_id")
      .withColumn("_n", dot(col("_x"), col("_x")).cast(DoubleType))
    val a = e.select(col("cluster"), col("_id").as("_ida"),
      col("_x").as("_xa"), col("_n").as("_na"))
    val b = e.select(col("cluster"), col("_id").as("_idb"),
      col("_x").as("_xb"), col("_n").as("_nb"))
    val dups = a.join(b, "cluster")
      .filter(col("_ida") < col("_idb"))
      .filter(dot(col("_xa"), col("_xb")).cast(DoubleType) /
        sqrt(col("_na") * col("_nb")) >= tau)
      .groupBy(col("_idb")).agg(min(col("_ida")).as("dup_of"))
    e.join(dups, col("_id") === col("_idb"), "left")
      .select(col("_id").as(VecId), col("cluster"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }
}
