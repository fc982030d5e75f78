package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Behavior specs for the LLM-pipeline operators that the DuckDB oracle
  * can't express (hash-seeded LSH, HLL sketches, FP-ordered HOF math):
  * planted-duplicate recall, cross-implementation agreement, error
  * envelopes.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("minhash LSH finds planted near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the cat sleeps on the warm windowsill every single afternoon"
    val nearDup = base.replace("warm", "cold") // 1-word edit
    val unrelated = "completely different content about spark query engines " +
      "and columnar storage formats with vectorized execution pipelines"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.minHashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missed: $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)),
      s"unrelated docs bucketed together: $pairs")
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("sigma", "omega")),
      (3L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val h = Dedup.simHash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) <= 12,
      s"near-dup hamming ${hamming(h(1L), h(2L))}")
    assert(hamming(h(1L), h(3L)) > 12,
      s"unrelated hamming ${hamming(h(1L), h(3L))}")
  }

  test("cosineExact HOF is BIT-IDENTICAL to the posexplode decimal formulation") {
    // the whole point of the exact-decimal fold: order-independent sums
    // → the same doubles as sim01's groupBy plan → one shared DuckDB
    // oracle hash-matches both. Exact equality, not tolerance.
    val exact = SparkEntry.queries("sim01_cosine_exact")(spark, sf)
      .select("qid", "cid", "sim", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val hof = SparkEntry.queries("sim02_cosine_topk_hof")(spark, sf)
      .select("qid", "cid", "sim", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(exact.toSet == hof.toSet,
      s"not bit-identical: ${exact.toSet.diff(hof.toSet)} vs ${hof.toSet.diff(exact.toSet)}")
  }

  test("similarity topK accepts INT ids and emits uniformly-bigint qid/cid") {
    // the ID CONTRACT: integral id columns of any width ride through as
    // bigint; the strict top_k type check must never see an uncast int
    import org.apache.spark.sql.types.LongType
    val e = Seq((1, Array(1f, 0f, 0f, 0f)), (2, Array(0.9f, 0.1f, 0f, 0f)),
      (3, Array(0f, 1f, 0f, 0f)), (4, Array(0.1f, 0.9f, 0f, 0f)))
      .toDF("vec_id", "embedding") // ids are INT, not BIGINT
    for (r <- Seq(
      graft.operators.Similarity.cosineTopK(
        e.filter($"vec_id" === 1), e, 2, exact = false),
      graft.operators.Similarity.l2TopK(e.filter($"vec_id" === 1), e, 2),
      graft.operators.Similarity.annTopK(e.filter($"vec_id" === 1), e, 2))) {
      assert(r.schema("qid").dataType == LongType, r.schema.treeString)
      assert(r.schema("cid").dataType == LongType, r.schema.treeString)
      assert(r.count() >= 1)
    }
  }

  test("similarity operators reject a string vec_id before any job runs") {
    // the loud half of the ID CONTRACT: a string id would cast to null
    // on its way to bigint and silently drop rows, so every entry point
    // refuses it while planning — ivfBuild before its first count
    val e = Seq(("a", Array(1f, 0f)), ("b", Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    sc.setJobGroup("string-vec-id", "ID contract rejection")
    try {
      for ((site, call) <- Seq[(String, () => Any)](
          "cosineTopK" -> (() => Similarity.cosineTopK(e, e, 1)),
          "ivfBuild" -> (() => Similarity.ivfBuild(e)),
          "quantizeInt8" -> (() => Similarity.quantizeInt8(e)))) {
        val err = intercept[IllegalArgumentException](call())
        assert(err.getMessage.contains("'vec_id' must be integral"),
          s"$site: ${err.getMessage}")
      }
      org.apache.spark.sql.graft.bridge.drainListeners(sc)
      assert(sc.statusTracker.getJobIdsForGroup("string-vec-id").isEmpty)
    } finally sc.clearJobGroup()
  }

  test("ANN LSH at the tuned default config clears the 80% recall floor") {
    // the r4 regression this pins: a bits=8 single-table-style override
    // collapsed recall to 0.20 — the tuned 4-bit × 16-table default
    // measures 0.88/0.90/0.90 at sf0.001/0.01/0.1 (BENCH_NOTES.md,
    // "ANN recall tuning"; the
    // old 8-table default sat at 0.68–0.76, below the floor sim03
    // now enforces)
    val e = Tables.load(spark, sf, "embeddings")
    val brute = SparkEntry.queries("sim01_cosine_exact")(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(e.filter($"vec_id" < 10), e, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ann.forall { case (q, c) => q != c })
    val recall = ann.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.8, s"ANN LSH recall below floor: $recall")
  }

  test("int8 two-stage retrieval: integer shortlist + exact re-rank clears 90% recall") {
    // shortlist=50 over the gate corpus: the int8 proxy score (exact
    // integer dot × candidate dequant scale / norm) differs from true
    // cosine only by quantization error, so the exact re-rank recovers
    // nearly all true top-5 pairs; a broken rescale (e.g. dropping the
    // am_c factor) drops recall well below this floor
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val brute = SparkEntry.queries("sim01_cosine_exact")(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.int8RerankTopK(q, e, 5, shortlist = 50)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (a, b) => a != b })
    val recall = got.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.9, s"int8 rerank recall below floor: $recall")
  }

  test("int8 rerank: zero-norm vectors are excluded on both sides, not NULL-dropped") {
    // cosine against the zero vector is undefined; Spark's 0/0 is NULL
    // where DuckDB's is NaN, so the operator EXCLUDES zero-norm rows
    // structurally (scaladoc contract) — a zero candidate never
    // surfaces, a zero query emits no rows
    val base = (1L to 40L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 7 + d * 13) % 19).toFloat - 9) / 10)))
    val withZero = (base :+ (99L, Array.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.int8RerankTopK(
      withZero.filter($"vec_id" <= 3 || $"vec_id" === 99L), withZero, 3,
      shortlist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!got.exists(_._2 == 99L), s"zero-norm candidate surfaced: ${got.toSeq}")
    assert(!got.exists(_._1 == 99L), s"zero-norm query emitted rows: ${got.toSeq}")
    assert(got.map(_._1).distinct.sorted.sameElements(Seq(1L, 2L, 3L)), got.toSeq)
  }

  test("PQ ANN: shortlist re-rank clears the 80% recall floor vs exact L2") {
    // m (subspace count) is the lever this pins: m=8 sits at 0.78,
    // below the floor sim06 enforces; the m=16 default measures
    // 0.98/1.00/0.92 across SFs (BENCH_NOTES.md, "ANN recall tuning")
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.l2TopK(q, e, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(q, e, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pq.forall { case (a, b) => a != b })
    val recall = pq.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.8, s"PQ recall below floor: $recall")
  }

  test("IVF-PQ: composed cells + residual codes clear the 80% recall floor vs exact L2") {
    // the coarse pruning is the recall cap: nprobe=2 measures 0.68,
    // the nprobe=8 default 0.88-0.92 across SFs (BENCH_NOTES.md,
    // "ANN recall tuning")
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.l2TopK(q, e, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.ivfPqTopK(q, e, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall { case (a, b) => a != b })
    val recall = got.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.8, s"IVF-PQ recall below floor: $recall")
  }

  test("PQ on an indivisible dimension: the dim % m tail participates in scoring") {
    // dim=20, m=16 → fifteen 1-wide subspaces then [15,20): the last
    // takes the remainder. Candidates are IDENTICAL except in the tail;
    // a silent truncation (the old subDim-only slicing) would make every
    // ADC distance equal and the 100-wide shortlist would fill with the
    // lowest cids, missing the true neighbor at cid 299. Tail values
    // permute the ids (i·37 mod 300), so the low-id codebook seeds span
    // the whole tail range and cid 299 (tail 263) has a nearby code.
    val cand = (0 until 300).map { i =>
      (i.toLong, Array.fill(16)(0.0) ++ Array.fill(4)(1000.0 * (i * 37 % 300)))
    }.toDF("vec_id", "embedding")
    val query = Seq((1000L, Array.fill(16)(0.0) ++ Array.fill(4)(1000.0 * 263 + 1)))
      .toDF("vec_id", "embedding")
    val got = Similarity.pqTopK(query, cand, k = 1)
      .select("cid").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(299L), s"tail components ignored: ${got.toSeq}")
  }

  test("lshTables: per-table signatures are independent and bits-bounded") {
    val e = Tables.load(spark, sf, "embeddings").limit(100)
    val sigs = Similarity.lshTables(e, bits = 4, tables = 8)
      .select("vec_id", "table", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // one row per (vector, table); every bucket within the 4-bit range
    assert(sigs.length == 100 * 8)
    assert(sigs.forall { case (_, _, b) => b >= 0 && b < 16 }, "bucket out of 4-bit range")
    // tables use DISTINCT hyperplanes (seeds t*bits+j): two tables
    // agreeing on every vector's bucket would mean shared planes
    val byTable = sigs.groupBy(_._2)
      .map { case (t, rs) => t -> rs.sortBy(_._1).map(_._3).toSeq }
    for (t1 <- 0 until 8; t2 <- (t1 + 1) until 8)
      assert(byTable(t1) != byTable(t2),
        s"tables $t1 and $t2 produced identical bucket assignments")
  }

  test("IVF ANN: sane results and reasonable recall vs brute force") {
    val e = Tables.load(spark, sf, "embeddings")
    val brute = SparkEntry.queries("sim01_cosine_exact")(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e.filter($"vec_id" < 10), e, 5,
      nlist = 16, nprobe = 8)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivf.nonEmpty)
    assert(ivf.forall { case (q, c) => q != c })
    // with nprobe=8 of 16 lists, expect to recover a decent share of true top-5
    val recall = ivf.count(brute.contains).toDouble / brute.size
    assert(recall >= 0.3, s"IVF recall too low: $recall")
  }

  test("IVF two-level assignment: gate-config recall holds, deterministic, " +
    "candidate spill >= single-group") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val brute = SparkEntry.queries("sim01_cosine_exact")(spark, sf)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = 10,
      twoLevelAssign = true)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val r2 = run()
    assert(r2.nonEmpty && r2.forall { case (qq, cc) => qq != cc })
    // deterministic: hash-picked seeds/leaders + TopKAgg tie-breaks
    assert(r2 == run(), "two-level IVF is nondeterministic across runs")
    // the sim13 gate contract at this config (measured 0.94/0.90/0.94)
    val rec2 = r2.count(brute.contains).toDouble / brute.size
    assert(rec2 >= 0.85, s"two-level recall below gate floor: $rec2")
  }

  test("IVF-PQ two-level assignment: deterministic, near exact-assign recall") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.l2TopK(q, e, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def run() = Similarity.ivfPqTopK(q, e, 5, nprobe = 12,
      twoLevelAssign = true)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val r2 = run()
    assert(r2.nonEmpty && r2.forall { case (qq, cc) => qq != cc })
    // deterministic: hash-picked cells/leaders, strict-< folds over
    // ascending arrays, TopKAgg tie-breaks
    assert(r2 == run(), "two-level IVF-PQ is nondeterministic across runs")
    // the sim17 gate contract (measured 0.88/0.88/0.86 across SFs at
    // this geometry vs exact-assign 0.96/0.96/0.94 — SCALE.md, "Second
    // decade, round 17 additions"); the floor here is the gate's 0.80
    val rec2 = r2.count(brute.contains).toDouble / brute.size
    assert(rec2 >= 0.8, s"two-level IVF-PQ recall below gate floor: $rec2")
    // boundary candidates move to near-best cells, never off the map:
    // the two paths' shortlists stay largely aligned
    val exact = Similarity.ivfPqTopK(q, e, 5, nprobe = 12)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val agree = r2.count(exact.contains).toDouble / exact.size
    assert(agree >= 0.7, s"two-level diverges from exact assignment: $agree")
  }

  test("IVF/IVF-PQ: 512 or more surviving cells engage the two-level path by itself") {
    // the 100 TB default must not depend on a caller knowing the flag
    // (the semanticDedup contract, mirrored): once the quantizer keeps
    // 512 cells, the auto path must produce EXACTLY what an explicit
    // twoLevelAssign = true produces. 3000 ids over 600 hash buckets
    // keep ~596 cells.
    val rnd = new scala.util.Random(11)
    val e = (0 until 3000).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val q = e.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(Similarity.ivfBuild(e, nlist = 600).centroids.count() >= 512)
    val autoIvf = rows(Similarity.ivfTopK(q, e, 5, nlist = 600, nprobe = 6))
    val explIvf = rows(Similarity.ivfTopK(q, e, 5, nlist = 600, nprobe = 6,
      twoLevelAssign = true))
    assert(autoIvf == explIvf, "ivfTopK auto threshold did not engage two-level")
    val autoPq = rows(Similarity.ivfPqTopK(q, e, 5, nlist = 600, nprobe = 12))
    val explPq = rows(Similarity.ivfPqTopK(q, e, 5, nlist = 600, nprobe = 12,
      twoLevelAssign = true))
    assert(autoPq == explPq, "ivfPqTopK auto threshold did not engage two-level")
  }

  test("rrfFuse: exact fusion arithmetic, missing-side zero, id tie-break") {
    val a = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val b = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val out = Similarity.rrfFuse(a, b, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // expected scores: 20 -> 1/62+1/61, 10 -> 1/61, 40 -> 1/62, 30 -> 1/63
    val exp = Seq(
      (20L, 1.0 / 62 + 1.0 / 61),
      (10L, 1.0 / 61),
      (40L, 1.0 / 62),
      (30L, 1.0 / 63)).zipWithIndex.map { case ((i, s), r) => (i, s, r + 1L) }
    assert(out.toSeq == exp, s"got ${out.toSeq}")
    // k bounds the output; ties break by id ascending
    val t1 = Seq((5L, 1L), (3L, 1L)).toDF("id", "rank")
    val t2 = spark.emptyDataFrame.selectExpr("CAST(1 AS BIGINT) AS id",
      "CAST(1 AS BIGINT) AS rank").limit(0)
    val tied = Similarity.rrfFuse(t1, t2, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(tied.toSeq == Seq((3L, 1L)), s"tie-break wrong: ${tied.toSeq}")
  }

  test("IVF build/save/load/search round-trip equals the fused ivfTopK row-for-row") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val fused = rows(Similarity.ivfTopK(q, e, 5))
    // exact-assign round-trip
    val d1 = SparkTestSession.tempDir("ivf-rt").toString
    Similarity.ivfBuild(e).save(d1)
    assert(rows(Similarity.ivfSearch(q, Similarity.ivfLoad(spark, d1), 5))
      == fused, "exact-assign round-trip diverged from fused ivfTopK")
    // two-level round-trip: the loaded index carries the build's rule,
    // and leader groups must re-derive identically from the persisted
    // quantizer (g from the actual centroid count)
    val fused2 = rows(Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = 10,
      twoLevelAssign = true))
    val d2 = SparkTestSession.tempDir("ivf-rt2").toString
    Similarity.ivfBuild(e, twoLevelAssign = true).save(d2)
    assert(rows(Similarity.ivfSearch(q, Similarity.ivfLoad(spark, d2), 5,
      nprobe = 10)) == fused2,
      "two-level round-trip diverged from fused ivfTopK")
    // a directory without the build record is refused, not guessed at
    new java.io.File(d2, "_build").delete()
    val err = intercept[IllegalArgumentException](Similarity.ivfLoad(spark, d2))
    assert(err.getMessage.contains("_build"), err.getMessage)
  }

  test("IVF-PQ build/save/load/search round-trip equals the fused ivfPqTopK row-for-row") {
    // the production-architecture lifecycle (sim21): coarse quantizer,
    // residual codebook, and integer codes all persist as parquet;
    // doubles round-trip bit-exactly, so the served shortlist must be
    // IDENTICAL to the fused path — including the ADC decimal sums —
    // with m read back from the persisted build record (the load path
    // never receives it)
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val fused = rows(Similarity.ivfPqTopK(q, e, 5))
    val d1 = SparkTestSession.tempDir("ivfpq-rt").toString
    Similarity.ivfPqBuild(e).save(d1)
    assert(rows(Similarity.ivfPqSearch(q, Similarity.ivfPqLoad(spark, d1),
      e, 5)) == fused, "exact-assign round-trip diverged from fused ivfPqTopK")
    // two-level build round-trip (the big-corpus config)
    val fused2 = rows(Similarity.ivfPqTopK(q, e, 5, nprobe = 12,
      twoLevelAssign = true))
    val d2 = SparkTestSession.tempDir("ivfpq-rt2").toString
    Similarity.ivfPqBuild(e, twoLevelAssign = true).save(d2)
    assert(rows(Similarity.ivfPqSearch(q, Similarity.ivfPqLoad(spark, d2),
      e, 5, nprobe = 12)) == fused2,
      "two-level round-trip diverged from fused ivfPqTopK")
  }

  test("ivfAbsorbDelta: probe-all absorb-serve equals stale+delta serve row-for-row; absorbed index persists") {
    // the absorb contract's oracle: with every cell probed, the
    // absorbed index scores exactly the rows the stale+delta path
    // scores, on the bit-identical double cosine — so the two serves
    // must agree row-for-row (sims included). At bounded nprobe they
    // may differ only in the delta slice's recall (probe-path vs the
    // delta arm's exact scan) — that trade is the sim25 gate's floor.
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val indexed = e.filter($"vec_id" % 10 =!= 9)
    val delta = e.filter($"vec_id" % 10 === 9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val stale = Similarity.ivfBuild(indexed)
    val absorbed = Similarity.ivfAbsorbDelta(stale, delta)
    val a = rows(Similarity.ivfSearch(q, absorbed, 5, nprobe = 16))
    val b = rows(Similarity.ivfSearchWithDelta(q, stale, delta, 5,
      nprobe = 16))
    assert(a == b, "probe-all absorb-serve diverged from stale+delta serve")
    // the absorbed index is a first-class IvfIndex: it persists, loads,
    // and serves identically (the compaction shape — saving rewrites
    // the cells with the delta folded in)
    val d = SparkTestSession.tempDir("ivf-absorb").toString
    absorbed.save(d)
    assert(rows(Similarity.ivfSearch(q, Similarity.ivfLoad(spark, d), 5,
      nprobe = 16)) == a, "persisted absorbed index diverged")
  }

  test("ivfPqAbsorbDelta: probe-all + full shortlist equals stale+delta serve; wrong-m delta raises") {
    // with every cell probed AND a shortlist covering the whole corpus,
    // both paths re-rank the identical candidate set with the identical
    // exact L2, so the served rows must agree row-for-row — the ADC
    // stage only ORDERS the (here untruncated) shortlist
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val indexed = e.filter($"vec_id" % 10 =!= 9)
    val delta = e.filter($"vec_id" % 10 === 9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val stale = Similarity.ivfPqBuild(indexed)
    val absorbed = Similarity.ivfPqAbsorbDelta(stale, delta)
    val a = rows(Similarity.ivfPqSearch(q, absorbed, e, 5, nprobe = 16,
      shortlist = 600))
    val b = rows(Similarity.ivfPqSearchWithDelta(q, stale, indexed, delta,
      5, nprobe = 16, shortlist = 600))
    assert(a == b,
      "probe-all full-shortlist absorb-serve diverged from stale+delta")
    // m guard: an index whose m mismatches its codebook slices
    // residuals that cannot match the codebook width — must raise,
    // never mis-encode
    val bad = Similarity.ivfPqAbsorbDelta(stale.copy(m = 4), delta)
    val ex = intercept[Exception] {
      // force the guarded `sub` projection to evaluate (a bare count
      // would prune it away)
      bad.codes.agg(org.apache.spark.sql.functions.sum($"sub")).collect()
    }
    assert(ex.getMessage.contains("ivfPqAbsorbDelta") ||
      Option(ex.getCause).exists(_.getMessage.contains("ivfPqAbsorbDelta")),
      s"wrong-m absorb did not raise the width guard: ${ex.getMessage}")
  }

  test("IVF/IVF-PQ absorb: a copy of an indexed vector lands in its original's cell when nlist = 512 leaves fewer cells") {
    // 1000 ids over 512 hash buckets leave ~440 cells, under the
    // two-level threshold: build and absorb must pick the same
    // assignment rule from the cells that survive, or an absorbed copy
    // and its built original can land in different cells
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 1000).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val copies = corpus.select(($"vec_id" + 100000L).as("vec_id"),
      $"embedding")
    def misplaced(cells: org.apache.spark.sql.DataFrame) = {
      val cellOf = cells.distinct().collect()
        .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
        .toMap
      (0L until 1000L).filter(i => cellOf(i) != cellOf(i + 100000L))
    }
    val ivf = Similarity.ivfBuild(corpus, nlist = 512)
    assert(ivf.centroids.count() < 512)
    val ivfMoved = misplaced(Similarity.ivfAbsorbDelta(ivf, copies)
      .cells.select("cid", "centroid_id"))
    assert(ivfMoved.isEmpty, s"IVF copies left their original's cell: " +
      s"${ivfMoved.size} of 1000")
    val pq = Similarity.ivfPqBuild(corpus, nlist = 512)
    assert(pq.coarse.count() < 512)
    val pqMoved = misplaced(Similarity.ivfPqAbsorbDelta(pq, copies)
      .codes.select("cid", "cell"))
    assert(pqMoved.isEmpty, s"IVF-PQ copies left their original's cell: " +
      s"${pqMoved.size} of 1000")
  }

  test("IVF/IVF-PQ absorb: a forced two-level build's absorbed copies land in their originals' cells") {
    // the build's rule rides in the index: a build forced two-level at
    // nlist 16 (far under the auto threshold) must absorb two-level too,
    // with no flag restated by the absorb
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 1000).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val copies = corpus.select(($"vec_id" + 100000L).as("vec_id"),
      $"embedding")
    def misplaced(cells: org.apache.spark.sql.DataFrame) = {
      val cellOf = cells.distinct().collect()
        .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
        .toMap
      (0L until 1000L).count(i => cellOf(i) != cellOf(i + 100000L))
    }
    val ivf = Similarity.ivfBuild(corpus, nlist = 16, twoLevelAssign = true)
    val ivfMoved = misplaced(Similarity.ivfAbsorbDelta(ivf, copies)
      .cells.select("cid", "centroid_id"))
    assert(ivfMoved == 0, s"IVF copies left their original's cell: $ivfMoved of 1000")
    val pq = Similarity.ivfPqBuild(corpus, nlist = 16, twoLevelAssign = true)
    val pqMoved = misplaced(Similarity.ivfPqAbsorbDelta(pq, copies)
      .codes.select("cid", "cell"))
    assert(pqMoved == 0, s"IVF-PQ copies left their original's cell: $pqMoved of 1000")
  }

  test("ivfDeleteIds: deleted index equals survivors assigned to the same quantizer; no deleted id served") {
    // per-row assignment makes the equivalence exact: dropping rows
    // from the cell table IS assigning only the survivors against the
    // unchanged quantizer — reconstructed here through the public API
    // (absorb the survivors into the same index with its cells emptied)
    // and pinned row-for-row, sims included
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val tomb = e.filter($"vec_id" % 10 === 9).select("vec_id")
    val surv = e.filter($"vec_id" % 10 =!= 9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val full = Similarity.ivfBuild(e)
    val deleted = Similarity.ivfDeleteIds(full, tomb)
    val rebuilt = Similarity.ivfAbsorbDelta(
      full.copy(cells = full.cells.filter(org.apache.spark.sql.functions
        .lit(false))), surv)
    val a = rows(Similarity.ivfSearch(q, deleted, 5, nprobe = 16))
    assert(a == rows(Similarity.ivfSearch(q, rebuilt, 5, nprobe = 16)),
      "delete-serve diverged from survivors-on-same-quantizer serve")
    val tombIds = tomb.collect().map(_.getLong(0)).toSet
    assert(!a.exists(r => tombIds(r._2)), s"deleted id served: $a")
  }

  test("ivfPqDeleteIds: deleted codes equal survivors encoded against the same artifacts") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val tomb = e.filter($"vec_id" % 10 === 9).select("vec_id")
    val surv = e.filter($"vec_id" % 10 =!= 9)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val full = Similarity.ivfPqBuild(e)
    val deleted = Similarity.ivfPqDeleteIds(full, tomb)
    val rebuilt = Similarity.ivfPqAbsorbDelta(
      full.copy(codes = full.codes.filter(org.apache.spark.sql.functions
        .lit(false))), surv)
    val a = rows(Similarity.ivfPqSearch(q, deleted, surv, 5, nprobe = 16,
      shortlist = 600))
    assert(a == rows(Similarity.ivfPqSearch(q, rebuilt, surv, 5,
      nprobe = 16, shortlist = 600)),
      "PQ delete-serve diverged from survivors-on-same-artifacts serve")
    val tombIds = tomb.collect().map(_.getLong(0)).toSet
    assert(!a.exists(r => tombIds(r._2)), s"deleted id served: $a")
  }

  test("ivfDriftCheck: stats persist, fit ratio trips on a tight-cluster corpus, occupancy shift stays quiet") {
    // a corpus of TIGHT clusters (members within ~2° of their axis)
    // builds per-cell means near zero; a delta that mirrors the
    // cluster MIX (shift stays small) but sits ~18° off-axis reads a
    // fit ratio orders of magnitude past 1.5 — the anisotropic-regime
    // signal, complementing the gate's isotropic shift plant
    def unit(axis: Int, off: Double): Array[Float] = {
      val v = Array.fill(8)(0.0)
      v(axis) = 1.0; v((axis + 1) % 8) = off
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val corpus = (0 until 60).map { i =>
      (i.toLong, unit(i % 3, 0.03 * (i % 5 - 2)))
    }.toDF("vec_id", "embedding")
    val idx = Similarity.ivfBuild(corpus, nlist = 3)
    val stats = Similarity.ivfCellStats(idx).localCheckpoint()
    // persistence round-trip: the third artifact loads back identically
    val d = SparkTestSession.tempDir("ivf-stats").toString
    Similarity.ivfSaveStats(idx, d)
    val loaded = Similarity.ivfLoadStats(spark, d)
    assert(loaded.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet ==
      stats.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2))).toSet, "cellstats round-trip diverged")
    // mirrored-mix delta, off-axis: fit must trip, shift must not
    val delta = (0 until 30).map { i =>
      (1000L + i, unit(i % 3, 0.33))
    }.toDF("vec_id", "embedding")
    val r = Similarity.ivfDriftCheck(loaded, idx, delta)
    assert(r.drifted, s"off-axis delta did not trip: $r")
    assert(r.deltaMeanDist > 1.5 * r.expectedMeanDist,
      s"fit ratio did not trip: $r")
    assert(r.cellShift < 0.5, s"mirrored mix read as occupancy shift: $r")
    // the clean control: a delta drawn exactly like the corpus is quiet
    val clean = (0 until 30).map { i =>
      (2000L + i, unit(i % 3, 0.03 * (i % 5 - 2)))
    }.toDF("vec_id", "embedding")
    val rc = Similarity.ivfDriftCheck(loaded, idx, clean)
    assert(!rc.drifted, s"in-distribution delta tripped: $rc")
    // the PQ family reads the same plants through its L2-residual fit:
    // off-axis trips, in-distribution stays quiet
    val pq = Similarity.ivfPqBuild(corpus, nlist = 3)
    val pqStats = Similarity.ivfPqCellStats(pq, corpus).localCheckpoint()
    val rp = Similarity.ivfPqDriftCheck(pqStats, pq, delta)
    assert(rp.drifted && rp.deltaMeanDist > 1.5 * rp.expectedMeanDist,
      s"PQ fit did not trip on the off-axis delta: $rp")
    assert(!Similarity.ivfPqDriftCheck(pqStats, pq, clean).drifted,
      "PQ tripped on the in-distribution delta")
  }

  test("IVF hot cell: recall holds and the serve path stays broadcast-probe + bounded top-k under a dominant cell") {
    // the q41 question asked of the ANN serving path: a pathological
    // corpus (mass same-direction duplicates — here absorbed past the
    // drift signal, the realistic route) concentrates ≥50% of the index
    // into ONE cell. The pin: (a) recall still clears the gate floor,
    // (b) the plan has NO shuffled join for AQE to skew-split — the
    // probe side broadcasts into the cell scan and the top-k rides
    // TopKAgg partials, so the hot cell parallelizes over the cell
    // table's partitions instead of landing on one task, and (c) the
    // drift signal would have flagged the absorb that created it.
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val planted = e.select(($"vec_id" + 50000000L).as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (when(j === lit(0), lit(1.0)).otherwise(
          (pmod(xxhash64($"vec_id", j), lit(101)) - lit(50))
            .cast("double") / 2500.0)).cast("float")).as("embedding"))
    val idx = Similarity.ivfBuild(e)
    val hotIdx = Similarity.ivfAbsorbDelta(idx, planted)
    val share = Similarity.ivfCellStats(hotIdx)
      .agg(max($"n").cast("double") / sum($"n")).head().getDouble(0)
    assert(share >= 0.5, f"plant failed — max cell share $share%.3f < 0.5")
    val q = e.filter($"vec_id" < 10)
      .unionAll(planted.filter($"vec_id" < 50000010L))
    val served = Similarity.ivfSearch(q, hotIdx, 5)
    served.collect()
    // final adaptive plan only — the pre-AQE section keeps the static
    // SMJ that runtime stats convert to broadcast (the q36 discipline)
    val plan = served.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("SortMergeJoin"),
      s"serve path shuffled the cell join under a hot cell:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    val grown = e.unionAll(planted)
    val exact = Similarity.cosineTopK(q, grown, 5).select("qid", "cid")
    val hits = exact.join(served.select("qid", "cid"), Seq("qid", "cid"))
      .count()
    val total = exact.count()
    assert(hits * 100 >= total * 80,
      s"hot-cell recall $hits/$total below the 80% floor")
    assert(Similarity.ivfDriftCheck(Similarity.ivfCellStats(idx),
      idx, planted).drifted,
      "the absorb that created the hot cell did not trip the drift signal")
  }

  test("ivfMaintain acts on the drift verdict: hot-cell plant rebuilds and de-concentrates") {
    // the r19skew fixture driven through the maintain entry point: the
    // mass same-direction plant that ivfAbsorbDelta concentrates into
    // ONE ≥50%-share cell (previous test) must ROUTE TO REBUILD, and
    // the re-trained quantizer must dissolve that hot cell — the
    // measured failure mode of absorbing past the signal is the
    // serving-skew cell (at gate scale in-cell scoring keeps recall
    // above floor either way; at 100 TB the hot cell is the join-skew
    // precursor the drift check exists to prevent). A clean clone
    // delta through the same entry point must take the absorb arm.
    val e = Tables.load(spark, sf, "embeddings").select("vec_id", "embedding")
    val planted = e.select(($"vec_id" + 50000000L).as("vec_id"),
      transform(sequence(lit(0), lit(63)), j =>
        (when(j === lit(0), lit(1.0)).otherwise(
          (pmod(xxhash64($"vec_id", j), lit(101)) - lit(50))
            .cast("double") / 2500.0)).cast("float")).as("embedding"))
    val idx = Similarity.ivfBuild(e)
    val stats = Similarity.ivfCellStats(idx).localCheckpoint()
    val quiet = Similarity.ivfMaintain(idx, stats,
      e.select(($"vec_id" + 60000000L).as("vec_id"), $"embedding"))
    assert(!quiet.rebuilt && !quiet.report.drifted,
      "an in-distribution clone delta should take the absorb arm")
    val res = Similarity.ivfMaintain(idx, stats, planted)
    assert(res.rebuilt && res.report.drifted,
      "the hot-cell plant did not route to rebuild")
    // what the rebuild buys is RE-PRICED EXPECTATIONS, not a smaller
    // max cell: a corpus that is 50% one direction legitimately keeps
    // a large cell under ANY quantizer (the points really are near-
    // identical; serving stays skew-free via the broadcast probe path,
    // previous test), but the rebuilt stats now carry the planted mass
    // as the new normal — the absorbed-index stats (built pre-plant)
    // would keep tripping on every further batch of the same stream.
    val freshStats = Similarity.ivfCellStats(res.index).localCheckpoint()
    val planted2 = planted.select(($"vec_id" + 70000000L).as("vec_id"),
      $"embedding")
    assert(!Similarity.ivfDriftCheck(freshStats, res.index,
      planted2).drifted,
      "post-rebuild stats still flag the re-priced distribution as drift")
    assert(Similarity.ivfDriftCheck(stats, idx,
      planted2).drifted,
      "fixture drifted — the pre-rebuild stats no longer trip on the plant")
    // and the rebuilt index serves the grown corpus above the floor
    val q = e.filter($"vec_id" < 10)
      .unionAll(planted.filter($"vec_id" < 50000010L))
    val served = Similarity.ivfSearch(q, res.index, 5)
    val exact = Similarity.cosineTopK(q, e.unionAll(planted), 5)
      .select("qid", "cid")
    val hits = exact.join(served.select("qid", "cid"), Seq("qid", "cid"))
      .count()
    val total = exact.count()
    assert(hits * 100 >= total * 80,
      s"rebuilt-index recall $hits/$total below the 80% floor")
  }

  test("ivfMaintain / ivfPqMaintain rebuild at the built nlist, not the surviving cells") {
    // 1000 ids over 512 hash buckets keep ~440 cells: a drifted rebuild
    // must re-hash the grown corpus into the 512 buckets the index was
    // built with, so it equals a fresh build over the grown corpus row
    // for row — re-hashing into the ~440 survivors is another quantizer
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 1000).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    // one direction, tiny noise: the whole delta piles into one cell
    val planted = (0 until 1000).map { i =>
      (100000L + i, Array.tabulate(16)(j =>
        if (j == 0) 5.0f else (rnd.nextGaussian() / 100).toFloat))
    }.toDF("vec_id", "embedding")
    val grown = corpus.unionByName(planted)
    val idx = Similarity.ivfBuild(corpus, nlist = 512)
    assert(idx.nlist == 512 && idx.centroids.count() < 512)
    val res = Similarity.ivfMaintain(idx,
      Similarity.ivfCellStats(idx).localCheckpoint(), planted)
    assert(res.rebuilt, s"the plant did not route to rebuild: ${res.report}")
    def cells(i: Similarity.IvfIndex) = i.cells
      .select($"cid".cast("long"), $"centroid_id".cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    val fresh = Similarity.ivfBuild(grown, nlist = 512)
    assert(res.index.nlist == 512)
    assert(cells(res.index) == cells(fresh),
      "IVF rebuild diverged from a fresh ivfBuild(grown, 512)")
    val pq = Similarity.ivfPqBuild(corpus, nlist = 512)
    val pqRes = Similarity.ivfPqMaintain(pq,
      Similarity.ivfPqCellStats(pq, corpus).localCheckpoint(), corpus, planted)
    assert(pqRes.rebuilt, s"the plant did not route to rebuild: ${pqRes.report}")
    def codes(i: Similarity.IvfPqIndex) = i.codes
      .select($"cid".cast("long"), $"cell".cast("long"), $"sub".cast("long"),
        $"_code".cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(pqRes.index.nlist == 512)
    assert(codes(pqRes.index) == codes(Similarity.ivfPqBuild(grown, nlist = 512)),
      "IVF-PQ rebuild diverged from a fresh ivfPqBuild(grown, 512)")
  }

  test("bqTopK: packed hamming = sign-mismatch count (multi-word), exact re-rank ranks by cosine") {
    // 70-dim vectors exercise the second packed word; flipping n signs
    // of a ±1 vector changes hamming by exactly n and the dot by −2n,
    // so both stages are hand-checkable end-to-end
    val base = (1 to 70).map(i => if (i % 3 == 0) -1.0f else 1.0f)
    def flip(idxs: Set[Int]) =
      base.zipWithIndex.map { case (x, i) => if (idxs(i)) -x else x }
    val rows = Seq(
      (0L, base), // the query
      (1L, base), // exact dup: hamming 0, cosine 1.0 → rank 1
      (2L, flip(Set(0, 10, 65))), // hamming 3 (one flip in word 2), dot 64
      (3L, flip(Set(1))) // hamming 1, dot 68
    ).toDF("vec_id", "embedding")
    val out = Similarity.bqTopK(rows.filter($"vec_id" === 0), rows, 3,
      shortlist = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq(1L, 3L, 2L), out.toSeq.toString)
    assert(out(0)._2 == 1.0, out.toSeq.toString)
    assert(math.abs(out(1)._2 - 68.0 / 70.0) < 1e-12, out.toSeq.toString)
    assert(math.abs(out(2)._2 - 64.0 / 70.0) < 1e-12, out.toSeq.toString)
  }

  test("bq codes build/save/load/search round-trip equals the fused bqTopK row-for-row") {
    // sign bits are integers — parquet round-trips them exactly, so
    // the served path must be IDENTICAL to the fused path, not merely
    // close (sim24's gate contract: both hash-match one oracle)
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    val fused = rows(Similarity.bqTopK(q, e, 5))
    val d = SparkTestSession.tempDir("bq-rt").toString
    Similarity.binaryCodes(e).write.mode("overwrite").parquet(d)
    assert(rows(Similarity.bqSearch(q, spark.read.parquet(d), e, 5)) == fused,
      "served binary-quant search diverged from the fused path")
  }

  test("lshBuild: persisted layout absorbs by append and deletes by anti-join (stateless encoder)") {
    // like the BQ family, the hyperplane encoder has no trained state:
    // the index over base ∪ delta IS build(base) ∪ build(delta)
    // row-for-row, and dropping an id's rows equals building over the
    // survivors — so the lifecycle needs no dedicated operators, just
    // the layout (lshBuild) and the serve (lshSearch, gate sim35)
    val e = Tables.load(spark, sf, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "table", "bucket")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = rows(Similarity.lshBuild(e))
    assert(rows(Similarity.lshBuild(e.filter($"vec_id" % 5 =!= 2)))
      ++ rows(Similarity.lshBuild(e.filter($"vec_id" % 5 === 2))) == full,
      "LSH layout is not append-composable")
    assert(full.filterNot(_._1 % 10 == 9)
      == rows(Similarity.lshBuild(e.filter($"vec_id" % 10 =!= 9))),
      "LSH layout deletion diverged from survivor rebuild")
  }

  test("bqDeleteIds: deleted store = survivor codes row-for-row; malformed tombstone raises") {
    val e = Tables.load(spark, sf, "embeddings")
    val tomb = e.filter($"vec_id" % 10 === 9).select("vec_id")
    val surv = e.filter($"vec_id" % 10 =!= 9)
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    // stateless encoder ⇒ the deleted store IS binaryCodes(survivors),
    // not merely equivalent under search (sim31's hash-oracle premise)
    assert(codeSet(Similarity.bqDeleteIds(Similarity.binaryCodes(e), tomb))
      == codeSet(Similarity.binaryCodes(surv)),
      "deleted BQ store diverged from survivor re-encode")
    // a tombstone id that cannot cast to the store's id type must
    // RAISE, never null-and-skip (the castTombstone contract shared by
    // every right-to-be-forgotten entry point)
    val bad = Seq("not-an-id").toDF("vec_id")
    val ex = intercept[Exception] {
      Similarity.bqDeleteIds(Similarity.binaryCodes(e), bad).count()
    }
    assert(ex.getMessage.contains("bqDeleteIds"), ex.getMessage)
  }

  test("bqAbsorbDelta: exact absorb — union = at-rest parquet append = grown-corpus re-encode") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 10)
    val base = e.filter($"vec_id" % 5 =!= 2)
    val delta = e.filter($"vec_id" % 5 === 2)
    def codeSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toSet
    val grown = codeSet(Similarity.binaryCodes(e))
    // in-plan union: absorbed store = building at rest over the grown
    // corpus (no trained state, so absorption is EXACT — the one
    // family where the absorb-vs-rebuild trade does not exist)
    assert(codeSet(Similarity.bqAbsorbDelta(
      Similarity.binaryCodes(base), delta)) == grown,
      "absorbed BQ store diverged from grown-corpus re-encode")
    // at rest the same absorb is a delta-sized parquet APPEND of
    // binaryCodes(delta) — nothing rewritten; the store reads back
    // identical to the grown re-encode
    val d = SparkTestSession.tempDir("bq-absorb").toString
    Similarity.binaryCodes(base).write.mode("overwrite").parquet(d)
    Similarity.binaryCodes(delta).write.mode("append").parquet(d)
    assert(codeSet(spark.read.parquet(d)) == grown,
      "appended BQ store diverged from grown-corpus re-encode")
    // and the served search over the absorbed store is row-for-row the
    // fused path over the grown corpus (sim32's gate contract)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSeq
    assert(rows(Similarity.bqSearch(q, spark.read.parquet(d), e, 5))
      == rows(Similarity.bqTopK(q, e, 5)),
      "absorbed-store serve diverged from fused grown-corpus search")
  }

  test("IVF-PQ staleness remedy: delta rows reach the exact re-rank; empty delta is a no-op") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 3)
    val idx = Similarity.ivfPqBuild(e)
    // clone the query vectors at new ids AFTER the build: the snapshot
    // cannot serve them, the delta arm must rank each at the top (an
    // exact duplicate has L2 distance 0 — nothing beats it)
    val tail = q.select(($"vec_id" + 900000L).as("vec_id"), $"embedding")
    val fused = Similarity.ivfPqSearchWithDelta(q, idx, e, tail, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQ = fused.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byQ.size == 3 && byQ.forall { case (qq, cs) => cs(qq + 900000L) },
      s"delta clone missing from a fused shortlist: ${byQ.toMap}")
    // empty append log ⇒ identical to the plain served path, row-for-row
    val emptyDelta = tail.filter($"vec_id" < 0)
    assert(Similarity.ivfPqSearchWithDelta(q, idx, e, emptyDelta, 5)
      .collect().toSeq == Similarity.ivfPqSearch(q, idx, e, 5).collect().toSeq,
      "empty delta perturbed the served IVF-PQ results")
  }

  test("IVF index staleness: post-build rows are invisible; union-the-tail serves them") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter($"vec_id" < 3)
    val d = SparkTestSession.tempDir("ivf-stale").toString
    Similarity.ivfBuild(e).save(d)
    val idx = Similarity.ivfLoad(spark, d)
    // clone the 3 query vectors at new ids AFTER the build: each is an
    // exact duplicate, so a fresh index would rank it at the top — the
    // snapshot index CANNOT return it (the documented contract)
    val tail = q.select(($"vec_id" + 900000L).as("vec_id"), $"embedding")
    val stale = Similarity.ivfSearch(q, idx, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(stale.nonEmpty && stale.forall { case (_, c) => c < 900000L },
      "stale index served a post-build row — the snapshot contract broke")
    // the rebuild-or-union remedy, now a SHIPPED operator
    // (ivfSearchWithDelta, sim20's gate surface): every query must
    // surface its planted exact-dup clone at the top of the fused
    // shortlist — the delta arm is exact, so an appended row can
    // never be silently lost
    val fused = Similarity.ivfSearchWithDelta(q, idx, tail, 5)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQ = fused.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(byQ.size == 3 && byQ.forall { case (qq, cs) => cs(qq + 900000L) },
      s"union-the-tail failed to surface a planted clone: ${byQ.toMap}")
    // an empty append log degenerates to the plain stale search,
    // row-for-row — the delta arm must add nothing, not perturb ranks
    val emptyDelta = tail.filter($"vec_id" < 0)
    assert(Similarity.ivfSearchWithDelta(q, idx, emptyDelta, 5)
      .collect().toSeq == Similarity.ivfSearch(q, idx, 5).collect().toSeq,
      "empty delta perturbed the stale search results")
  }

  test("assignToSeedsTwoLevel: deterministic, clones co-assign, agrees with exact") {
    import graft.operators.{Clustering, Dedup}
    val e = Tables.load(spark, sf, "embeddings")
    def runs(k: Int) = Clustering.assignToSeedsTwoLevel(e, k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val r1 = runs(16)
    assert(r1.length == 500 && r1 == runs(16),
      "two-level assignment is nondeterministic across runs")
    // exact duplicates fold over identical arrays — they MUST co-assign,
    // which is what keeps semanticDedup's clone recall intact on the
    // approximate path
    val clones = e.filter($"vec_id" < 50)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val withClones = e.select($"vec_id", $"embedding").unionAll(clones)
    val a = Clustering.assignToSeedsTwoLevel(withClones, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (i <- 0L until 50L)
      assert(a(i) == a(i + 100000L), s"clone of $i split from its original")
    // the approximation stays NEAR the exact assignment (boundary
    // vectors only may move): measured agreement 0.90+ at k=16; pin a
    // conservative floor so a broken leader grouping fails loudly
    val exact = Clustering.assignToSeeds(e, 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val agree = r1.count { case (id, c) => exact(id) == c }.toDouble / r1.size
    assert(agree >= 0.7, s"two-level agreement with exact too low: $agree")
    // end-to-end: the semanticDedup switch flags every planted clone
    val flagged = Dedup.semanticDedup(withClones, 16, 0.99,
      twoLevelAssign = true)
      .filter(!$"keep" && $"vec_id" >= 100000L).count()
    assert(flagged == 50, s"two-level semanticDedup flagged $flagged of 50 clones")
  }

  test("retrievalMetrics: hand-computed recall/MRR/nDCG on a planted case") {
    // query 1: results ranked [10 hit, 20 miss, 30 hit]; truth {10, 30, 40}
    //   recall@3 = 2/3; MRR = 1/1; DCG = 1/log2(2) + 1/log2(4) = 1.5
    //   IDCG = 1 + 1/log2(3) + 0.5; nDCG = 1.5 / 2.130930
    // query 2: no hits -> all zeros except n_truth
    val results = Seq((1L, 10L, 1L), (1L, 20L, 2L), (1L, 30L, 3L),
      (2L, 10L, 1L)).toDF("qid", "cid", "rank")
    // (1, 30) judged twice: relevance is a set — the duplicate must
    // not double-count the hit or inflate n_truth. Query 3 has truth
    // but NO results: it must emit a zero-metrics row, not vanish
    val truth = Seq((1L, 10L), (1L, 30L), (1L, 30L), (1L, 40L), (2L, 99L),
      (3L, 7L)).toDF("qid", "cid")
    val m = Similarity.retrievalMetrics(results, truth, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    assert(m.length == 3, m.toString)
    assert(m(2) == ((3L, 0L, 1L, 0.0, 0.0, 0.0)), m.toString)
    val q1 = m.head
    assert(q1._1 == 1L && q1._2 == 2L && q1._3 == 3L, m.toString)
    assert(q1._4 == 2.0 / 3.0, s"recall: $q1")
    assert(q1._5 == 1.0, s"mrr: $q1")
    // quantized terms: 1.000000 + 0.500000 = 1.5; idcg 1 + 0.630930 + 0.5
    assert(math.abs(q1._6 - 1.5 / 2.130930) < 1e-9, s"ndcg: $q1")
    val q2 = m(1)
    assert(q2 == ((2L, 0L, 1L, 0.0, 0.0, 0.0)), m.toString)
  }

  test("approx_top_k: planted heavy hitters reported with exact counts") {
    val d = (Seq.fill(50)("hot") ++ Seq.fill(30)("warm") ++
      (0 until 40).map(i => s"cold$i")).toDF("tok")
    val top = d.agg(expr("approx_top_k(tok, 2)").as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item", $"e.count")
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(top.toSeq == Seq("hot" -> 50L, "warm" -> 30L), top.toSeq)
  }

  test("approx_count_distinct within 5% of exact") {
    val ev = Tables.events(spark, sf)
    val rows = ev.groupBy("event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("a"),
        countDistinct($"user_id").as("x"))
      .collect()
    rows.foreach { r =>
      val (a, x) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(a - x) / x < 0.05, s"${r.getString(0)}: approx $a exact $x")
    }
  }

  test("sessionize: session count bounded and gaps respected") {
    val s = SparkEntry.queries("ev02_sessionize")(spark, sf)
    val bad = s.filter($"session_end" < $"session_start").count()
    assert(bad == 0)
    assert(s.count() > 0)
  }

  test("connected components: transitive chains merge, islands stay apart") {
    // chain 1-2-3 (1~3 only transitively), pair 10-11, singleton edge 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L))
      .toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L,
      s"chain not merged: $cc")
    assert(cc(10L) == 10L && cc(11L) == 10L)
    assert(cc(20L) == 20L && cc(21L) == 20L)
  }

  test("connected components: reliable checkpoint dir gives identical clusters") {
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L), (5L, 6L))
      .toDF("src", "dst")
    val local = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = SparkTestSession.tempDir("graft-cc-cp")
    val reliable = org.apache.spark.TestCheckpointDir
      .withCheckpointDir(spark.sparkContext, dir.toString) {
        Dedup.connectedComponents(edges)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    assert(reliable == local)
    // the fault-tolerant path actually wrote RDD checkpoints to the dir
    val wrote = java.nio.file.Files.walk(dir).filter(_.toFile.isFile).count()
    assert(wrote > 0, s"no checkpoint files under $dir")
  }

  test("connected components: long path converges within diameter rounds") {
    // path 1-2-3-...-8: min-label needs ~diameter rounds to reach the end
    val edges = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 8L).forall(cc(_) == 1L), s"path not fully labeled: $cc")
  }

  test("connected components: deep chain converges in log rounds") {
    // path of 12 nodes has diameter 11, past the BSP budget: star
    // contraction finishes it in ~log rounds, and the whole chain
    // labels as one component
    val edges = (1L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 12L).forall(cc(_) == 1L), s"$cc")
  }

  /** The adversarial mix of the two specs below: a planted 400-node
    * chain (diameter far past the BSP budget) laid over `chainIds`, a
    * mesh blob, 200 random pairs over a small id space (dense
    * transitive merges), a self loop, an isolated self-loop-only node,
    * and a duplicate chain edge.
    */
  private def mixedGraph(chainIds: IndexedSeq[Long]): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    val chain = chainIds.sliding(2).map(p => (p(0), p(1))).toSeq
    val blob = for {
      i <- 0 until 15; j <- (i + 1) until 15 if (i + j) % 3 == 0
    } yield (2000L + i, 2000L + j)
    val noise = Seq.fill(200)(
      (rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
    chain ++ blob ++ noise ++
      Seq((7L, 7L), (9999L, 9999L), (chainIds(0), chainIds(1)))
  }

  private def assertLabels(name: String, got: Map[Long, Long],
                           expected: Map[Long, Long]): Unit =
    assert(got == expected,
      s"diverged from $name: ${got.toSet.diff(expected.toSet)} / " +
        s"${expected.toSet.diff(got.toSet)}")

  test("connected components: star contraction equals BSP on chains, blobs, and noise") {
    // ids ascend along the chain, so the BSP prefix merges too few
    // labels to pay for the contraction (shrinkage 0.290 < 0.3): star
    // contraction runs on the ORIGINAL edges, and its labels must
    // match min-label propagation run to its fixpoint and union-find
    val pairs = mixedGraph((1000L to 1399L).toVector)
    val star = CCPropSpec.run(spark, pairs)
    assert(star.skipped, "contraction not skipped on the monotone chain")
    assertLabels("BSP", star.labels, CCPropSpec.bspReference(pairs))
    assertLabels("union-find", star.labels, CCPropSpec.reference(pairs))
    // the chain really is one component rooted at its minimum
    assert((1000L to 1399L).forall(star.labels(_) == 1000L))
    assert(star.labels(9999L) == 9999L, "isolated self-loop node lost")
  }

  test("hybrid components: escape path equals star and BSP on the mixed graph") {
    // the same mix with the chain over shuffled ids: window minima
    // merge most chain labels, so the escape CONTRACTS onto the BSP
    // labels before star finishes — the composed labels must match
    // the BSP reference, and its components the star arm's on the
    // monotone-id layout of the same graph
    val ids = (1000L to 1399L).toVector
    val shuffled = new scala.util.Random(7).shuffle(ids)
    val pairs = mixedGraph(shuffled)
    val escape = CCPropSpec.run(spark, pairs)
    assert(!escape.skipped, "contraction skipped on the random-id chain")
    assertLabels("BSP", escape.labels, CCPropSpec.bspReference(pairs))
    assertLabels("union-find", escape.labels, CCPropSpec.reference(pairs))
    assert(shuffled.forall(escape.labels(_) == 1000L))
    assert(escape.labels(9999L) == 9999L, "isolated self-loop node lost")
    // position i of the chain carries id shuffled(i) here and ids(i) in
    // the star run; every other node keeps its id
    val toStar = shuffled.zip(ids).toMap.withDefault(identity[Long])
    def components(labels: Map[Long, Long], rename: Long => Long) =
      labels.groupMap(_._2)(kv => rename(kv._1)).values.map(_.toSet).toSet
    val star = CCPropSpec.run(spark, mixedGraph(ids))
    assert(star.skipped, "contraction not skipped on the monotone chain")
    assert(components(escape.labels, toStar) ==
      components(star.labels, identity), "escape and star components differ")
  }

  test("hybrid components: shallow graph converges inside the BSP budget") {
    // diameter 2 — converges (and is DETECTED converged) within the
    // 4-round BSP budget, so star contraction never runs
    val edges = Seq((2L, 1L), (2L, 3L), (10L, 11L), (21L, 20L), (5L, 5L))
      .toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 20L, 5L -> 5L), s"$cc")
  }

  test("hybrid components: mixed convergence — pair settles in BSP, chain needs star") {
    // the pair's class is fully contracted after round 1; the 30-node
    // chain is not — star contraction must finish the chain WITHOUT
    // disturbing the already-converged class
    val edges = ((100L until 129L).map(i => (i, i + 1)) ++ Seq((10L, 11L)))
      .toDF("src", "dst")
    val cc = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L to 129L).forall(cc(_) == 100L), s"$cc")
    assert(cc(10L) == 10L && cc(11L) == 10L)
  }

  test("hybrid components: adaptive handoff skips contraction on monotone chains") {
    // a monotone-id chain shrinks only ADDITIVELY over the BSP rounds,
    // so the fixed threshold skips the contraction joins and hands the
    // ORIGINAL edges to star — the switch changes the plan, never the
    // rows (CCPropSpec asserts the skip itself)
    val pairs = (500L until 560L).map(i => (i, i + 1))
    val cc = Dedup.connectedComponents(pairs.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == CCPropSpec.reference(pairs), s"$cc")
    assert((500L to 560L).forall(cc(_) == 500L), s"$cc")
  }

  test("funnel: out-of-order steps don't count, ordered paths do") {
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val ev = Seq(
      // u1: full ordered path
      (1L, "view", ts(1)), (1L, "click", ts(2)), (1L, "purchase", ts(3)),
      // u2: purchase BEFORE click — reaches view+click only
      (2L, "view", ts(1)), (2L, "purchase", ts(2)), (2L, "click", ts(5)),
      // u3: click only, never viewed — reaches nothing
      (3L, "click", ts(1)),
      // u4: view only
      (4L, "view", ts(9))
    ).toDF("user_id", "event_type", "ts")
    val c = graft.operators.Funnel.counts(ev, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(c == Map(1L -> 3L, 2L -> 2L, 3L -> 1L), s"funnel counts: $c")
  }

  test("funnel deadline: step inside the window counts, one second past it doesn't") {
    import java.sql.Timestamp
    val ev = Seq(
      // u1: click exactly AT the 24h deadline (inclusive) → counts
      (1L, "view", Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, "click", Timestamp.valueOf("2024-01-02 10:00:00")),
      // u2: click one second past the deadline → view only
      (2L, "view", Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, "click", Timestamp.valueOf("2024-01-02 10:00:01")),
      // u3: late click, but an even later RE-view would not help — the
      // funnel anchors on the FIRST view (min t1), so still view-only
      (3L, "view", Timestamp.valueOf("2024-01-01 10:00:00")),
      (3L, "view", Timestamp.valueOf("2024-01-05 10:00:00")),
      (3L, "click", Timestamp.valueOf("2024-01-04 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val c = graft.operators.Funnel
      .counts(ev, Seq("view", "click"), deadlineHours = Some(24))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(c == Map(1L -> 3L, 2L -> 1L), s"deadline funnel counts: $c")
    // and without a deadline all three clicks count
    val u = graft.operators.Funnel.counts(ev, Seq("view", "click"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(u == Map(1L -> 3L, 2L -> 3L), s"unbounded funnel counts: $u")
  }

  test("decontamination: planted benchmark overlap flagged, clean docs pass") {
    val hold = Seq(
      (100L, "the capital of france is paris and the capital of italy is rome"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "quiz answer the capital of france is paris obviously my friend"),
      (2L, "completely unrelated text about spark catalyst optimizer internals here"))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationHits(train, hold, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.contains(1L) && hits(1L) >= 2L, s"contaminated doc missed: $hits")
    assert(!hits.contains(2L), s"clean doc flagged: $hits")
  }

  test("decontamination broadcasts the holdout even with auto-broadcast off, same hits") {
    // the dd11 scaladoc: the explicit broadcast() hint holds regardless
    // of autoBroadcastJoinThreshold — a map-side hash join on the
    // shingle key, never a cartesian, with the same hit set
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
    val hold = docs.filter(col("doc_id") % 10 === 0)
    val autoHits = Dedup.contaminationHits(docs, hold, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = Dedup.contaminationHits(docs, hold, "doc_id", "text")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
      val offHits = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(offHits == autoHits,
        "auto-broadcast off changed the decontamination hit set")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("dd06 block key: hyperplane signs keep blocks balanced on a sign-biased corpus") {
    // adversarial corpus: the LEADING 8 dims forced positive — the
    // sign bias real embedding models show in leading dims, taken to
    // the limit, on exactly the dims the pre-r10 raw-sign key read.
    // That key puts ALL vectors in one block, so its candidate
    // equi-join degenerates to all-pairs; the hyperplane bits must
    // still split the corpus, because each bit is the sign of a ±1
    // combination of EVERY dimension and the remaining dims stay
    // symmetric. (Biasing all 64 dims instead would make every vector
    // genuinely similar — same orthant, cosine ≈ 0.75 — and
    // co-locating genuinely similar vectors is correct LSH semantics,
    // not skew.)
    val emb = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
          (x, p) => when(p < 8, abs(x) + lit(0.01f)).otherwise(x))
          .as("embedding"))
    val keys = Dedup.embeddingBlocks(emb, 8)
      .withColumn("raw", concat_ws("", transform(slice(col("v"), 1, 8),
        x => when(x >= 0, "1").otherwise("0"))))
    assert(keys.select("raw").distinct().count() == 1,
      "biased corpus must collapse the raw-sign key (the failure mode being tested)")
    val n = keys.count()
    val blocks = keys.groupBy("bk").count()
    val nBlocks = blocks.count()
    val maxBlock = blocks.agg(max("count")).collect()(0).getLong(0)
    assert(nBlocks >= 64,
      s"hyperplane key should spread a biased corpus over many blocks, got $nBlocks")
    assert(maxBlock <= n / 8,
      s"largest hyperplane block holds $maxBlock of $n vectors — skewed")
    // candidate volume: Σ c·(c−1)/2 over blocks must be far below all-pairs
    val cand = blocks.agg(sum(col("count") * (col("count") - 1) / 2))
      .collect()(0).getDouble(0)
    assert(cand <= n.toDouble * (n - 1) / 2 / 16,
      s"candidate volume $cand too close to all-pairs on the biased corpus")
  }

  test("dd06 recall: planted near-identical vectors co-block and surface as top pairs") {
    // near-dup recall under the centered hyperplane key: clones with
    // tiny perturbations project within a hair of their original, so
    // they land in the same block and dominate the top-k by cosine
    val base = Tables.load(spark, sf, "embeddings")
      .select("vec_id", "embedding").limit(400)
    val clones = base.filter(col("vec_id") % 40 === 0) // 10 planted pairs
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x + lit(1e-4f)).as("embedding"))
    val corpus = base.unionByName(clones)
    val top = graft.operators.Dedup.embeddingNearDup(corpus, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 400 by 40).map(i => (i.toLong, i + 100000L)).toSet
    assert(planted.subsetOf(top),
      s"planted clone pairs missing from top-10: ${planted.diff(top)}")
  }

  test("typoPairs: planted distance-1 twins found, far/first-char pairs not") {
    val vocab = Seq(
      "table", "tabls",   // planted distance-1 pair (same first char)
      "query", "qxery",   // planted distance-1 pair (substitution mid-word)
      "spark", "shark",   // distance 1, same first char — must be found
      "spark", "sparkle", // distance 2 — must NOT be found
      "merge", "verge",   // distance 1 but FIRST char differs — blocked
      "cat"               // below minLen — ignored
    ).toDF("tok")
    val found = Dedup.typoPairs(vocab, "tok")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(found.contains(("table", "tabls")), s"planted pair missed: $found")
    assert(found.contains(("query", "qxery")), s"planted pair missed: $found")
    assert(found.contains(("shark", "spark")), s"planted pair missed: $found")
    assert(!found.exists(p => p._1 == "spark" && p._2 == "sparkle"),
      "distance-2 pair leaked through")
    assert(!found.contains(("merge", "verge")),
      "blocking contract broken: first-char-differing pair met")
    assert(!found.exists(p => p._1 == "cat" || p._2 == "cat"))
  }

  test("dd10 gate row is non-empty: planted mutations give the detector rows") {
    val rows = SparkEntry.queries("dd10_typo_pairs")(spark, sf).collect()
    assert(rows.length >= 20, s"expected the planted pair set, got ${rows.length}")
    assert(rows.forall(_.getLong(2) == 1L))
  }

  test("canonicalize: case/punctuation/whitespace variants collapse") {
    val d = Seq(
      (1L, "Hello, World!  This is   fine."),
      (2L, "hello world this is fine"),
      (3L, "something else entirely")
    ).toDF("doc_id", "text")
    val kept = Dedup.byCanonicalText(d, "text", $"doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L), s"survivors: $kept")
  }

  test("incremental dedup: registry hits dropped, batch self-dedups") {
    val reg = Seq("old doc").toDF("t")
      .select(sha2($"t", 256).as("h"))
    val batch = Seq(
      (10L, "old doc"),       // already registered -> dropped
      (11L, "new doc"),       // kept
      (12L, "new doc"),       // dup within batch -> dropped
      (13L, "another new")    // kept
    ).toDF("doc_id", "text")
    val kept = Dedup.incremental(batch, reg, "text", $"doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 13L), s"survivors: $kept")
  }

  test("PII redaction: planted email/phone/ip masked, surrounding text intact") {
    import graft.operators.TextAnalysis
    val d = Seq(
      (1L, "reach me at jane.doe+test@sub.example.co.uk or 25-989-741-2988 from 192.168.1.100 thanks"),
      (2L, "no pii here just words and numbers like 42 and 7-11"))
      .toDF("id", "text")
    val out = d.select($"id", TextAnalysis.redactPii($"text").as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "reach me at <EMAIL> or <PHONE> from <IP> thanks", out(1L))
    assert(out(2L) == "no pii here just words and numbers like 42 and 7-11", out(2L))
  }

  test("gapFill: planted gaps get zeros and forward-filled gauges, leading nulls stay") {
    import java.sql.Timestamp
    def h(n: Int) = Timestamp.valueOf(f"2024-01-01 $n%02d:00:00")
    // key A observed at hours 0 and 3 (gap at 1,2); key B first observed
    // at hour 2 (leading hours have nothing to carry)
    val roll = Seq(
      ("A", h(0), 5L, 1.5), ("A", h(3), 2L, 9.0),
      ("B", h(2), 1L, 4.0))
      .toDF("k", "ts", "n", "v")
    val filled = graft.operators.TimeSeries.gapFill(roll, "ts", "k",
        expr("INTERVAL 1 HOUR"), zeroCols = Seq("n"), ffillCols = Seq("v"))
      .collect().map(r => (r.getString(1), r.getTimestamp(0).toString.take(13),
        r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toSet
    assert(filled == Set(
      ("A", "2024-01-01 00", 5L, Some(1.5)),
      ("A", "2024-01-01 01", 0L, Some(1.5)),
      ("A", "2024-01-01 02", 0L, Some(1.5)),
      ("A", "2024-01-01 03", 2L, Some(9.0)),
      ("B", "2024-01-01 00", 0L, None),
      ("B", "2024-01-01 01", 0L, None),
      ("B", "2024-01-01 02", 1L, Some(4.0)),
      ("B", "2024-01-01 03", 0L, Some(4.0))), filled)
  }

  test("exactKPerStratum: exact counts, undersized strata whole, stable survivors") {
    import graft.operators.Sampling
    val d = (0L until 100L).map(i => (i, if (i < 90) "big" else "small"))
      .toDF("id", "s")
    val out = Sampling.exactKPerStratum(d, "s", "id", 7)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    val byS = out.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byS("big").size == 7, s"expected exactly 7: ${byS("big")}")
    assert(byS("small").size == 7 || byS("small") == (90L until 100L).toSet)
    // "small" has 10 rows > k=7 → exactly 7; survivors are a pure
    // function of md5(id), so a rerun (and any repartitioning) agrees
    assert(byS("small").size == 7)
    val again = Sampling.exactKPerStratum(d.repartition(13), "s", "id", 7)
      .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    assert(again == out.toSet, "survivor set changed under repartitioning")
    // genuinely undersized stratum survives whole
    val tiny = Sampling.exactKPerStratum(
      d.filter($"s" === "small"), "s", "id", 99)
      .collect().map(_.getLong(0)).toSet
    assert(tiny == (90L until 100L).toSet)
  }

  test("repetitionStats: planted degenerate docs score high, diverse docs low") {
    import graft.operators.TextAnalysis
    val d = Seq(
      (1L, "a a a a a a a a"),                 // one token repeated
      (2L, "x y x y x y x y"),                 // looping 2-gram
      (3L, "one two three four five six"),     // fully diverse
      (4L, "solo"))                            // single token (no n-grams)
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) == ((1.0, 6.0 / 7.0, 5.0 / 6.0)), out(1L))
    // "x y x y…": 7 bigrams, 2 distinct → 5/7 dup; 6 trigrams, 2 distinct
    assert(out(2L) == ((0.5, 5.0 / 7.0, 4.0 / 6.0)), out(2L))
    assert(out(3L) == ((1.0 / 6.0, 0.0, 0.0)), out(3L))
    assert(out(4L) == ((1.0, 0.0, 0.0)), out(4L))
  }

  test("winnow: shared >= w+k-1 token runs share a fingerprint; disjoint docs don't") {
    import graft.operators.TextAnalysis
    // docs 1 and 2 share a 7-token run (>= w+k-1 = 6) inside different
    // surroundings; doc 3 is disjoint vocabulary
    val shared = "alpha beta gamma delta epsilon zeta eta"
    val d = Seq(
      (1L, s"one two $shared three four"),
      (2L, s"nine eight $shared seven"),
      (3L, "red green blue cyan magenta yellow black white"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnow(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val bySet = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((bySet(1L) & bySet(2L)).nonEmpty,
      "winnowing guarantee broken: shared 7-token run produced no shared fingerprint")
    assert((bySet(1L) & bySet(3L)).isEmpty && (bySet(2L) & bySet(3L)).isEmpty)
    // short doc (fewer than w grams): one whole-array window, 1 fp
    val tiny = TextAnalysis.winnow(
      Seq((9L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(tiny.length == 1)
  }

  test("gapFill: fine-grain frame (1s step, a week) distributes — no giant single array") {
    import java.sql.Timestamp
    // two observations a week apart at 1-second grain: 604,800 buckets.
    // The old single-row sequence() explode built them all in ONE array;
    // the chunked frame generates ≤4096 per task.
    val roll = Seq(
      ("A", Timestamp.valueOf("2024-01-01 00:00:00"), 1L),
      ("A", Timestamp.valueOf("2024-01-07 23:59:59"), 2L))
      .toDF("k", "ts", "n")
    val filled = graft.operators.TimeSeries.gapFill(roll, "ts", "k",
      expr("INTERVAL 1 SECOND"), zeroCols = Seq("n"), ffillCols = Nil)
    assert(filled.count() == 6L * 86400L + 86399L + 1L)
    val nonZero = filled.filter($"n" =!= 0L).orderBy("ts").collect()
    assert(nonZero.map(_.getLong(2)).toSeq == Seq(1L, 2L))
  }

  test("tokenShards: distributed prefix sum equals the naive global window") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.expressions.Window
    val d = Tables.load(spark, sf, "documents")
    val dist = TextAnalysis.tokenShards(d, "doc_id", "text", 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val naive = d.select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .withColumn("cum", sum($"n_tokens").over(
        Window.orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"doc_id", $"n_tokens",
        floor(($"cum" - $"n_tokens") / 500.0).cast("long").as("shard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(dist == naive,
      s"diverges: ${dist.diff(naive).take(5)} vs ${naive.diff(dist).take(5)}")
    // shards are contiguous id ranges, each started under the budget
    val byShard = dist.groupBy(_._3).toSeq.sortBy(_._1).map(_._2)
    val maxIds = byShard.map(_.map(_._1).max)
    val minIds = byShard.map(_.map(_._1).min)
    assert(maxIds.init.zip(minIds.tail).forall { case (hi, lo) => hi < lo },
      "shard id ranges overlap")
  }

  test("packSequences: every sequence exactly full, spans tile every doc") {
    import graft.operators.TextAnalysis
    val d = Tables.load(spark, sf, "documents")
    val packed = TextAnalysis.packSequences(d, "doc_id", "text", 64L).cache()
    // every sequence except the last carries exactly seqLen tokens
    val bySeq = packed.groupBy("seq_id")
      .agg(sum($"n_span").as("tot")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lastSeq = bySeq.keys.max
    bySeq.foreach { case (sq, tot) =>
      if (sq != lastSeq) assert(tot == 64L, s"seq $sq carries $tot tokens")
      else assert(tot <= 64L, s"tail seq $sq overfull: $tot")
    }
    // spans tile each document: per-doc span sum == token count, span
    // starts contiguous from 0
    val docTotals = packed.groupBy("doc_id")
      .agg(sum($"n_span").as("spanned"), min($"tok_start").as("first"))
      .join(d.select($"doc_id",
        size(split($"text", " ")).cast("long").as("n")), "doc_id")
      .collect()
    assert(docTotals.nonEmpty)
    docTotals.foreach { r =>
      assert(r.getAs[Long]("spanned") == r.getAs[Long]("n"), r.toString)
      assert(r.getAs[Long]("first") == 0L, r.toString)
    }
    // a doc longer than seqLen must actually split across sequences
    assert(packed.groupBy("doc_id").count().filter($"count" > 1).count() > 0)
    packed.unpersist()
    ()
  }

  test("tf-idf: corpus-wide terms score zero, distinctive terms rank first") {
    val d = Seq(
      (1L, "common common rare1 rare1 rare1"),
      (2L, "common rare2"),
      (3L, "common rare3")
    ).toDF("doc_id", "text")
    val top = graft.operators.TextAnalysis.tfIdfTopTerms(d, "doc_id", "text", 1)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top == Map(1L -> "rare1", 2L -> "rare2", 3L -> "rare3"),
      s"top terms: $top")
    val common = graft.operators.TextAnalysis.tfIdfTopTerms(d, "doc_id", "text", 5)
      .filter($"tok" === "common").select("tfidf")
      .collect().map(_.getDouble(0))
    assert(common.forall(_ == 0.0), "corpus-wide term should have idf 0")
  }

  test("approx quantiles sit inside the exact ±5%-rank band (the gate invariant)") {
    // value-relerr is meaningless at tiny group sizes (the sketch
    // returns an observed element, exact percentile interpolates —
    // measured 25% value gap at sf0.001); the sketch's real guarantee
    // is rank accuracy, which is what ev08 now pins
    val rows = SparkEntry.queries("ev08_approx_quantiles")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (et, ok) =>
      assert(ok == 1L, s"$et: approx percentile outside the rank envelope")
    }
  }

  test("dd04/dd05 invariants hold at sf0.001: LSH containment, simhash envelope") {
    val dd04 = SparkEntry.queries("dd04_minhash_lsh")(spark, sf).collect()(0)
    assert(dd04.getLong(0) > 0, "no high-Jaccard pairs — invariant vacuous")
    assert(dd04.getLong(1) == 0L, s"LSH missed ${dd04.getLong(1)} high-Jaccard pairs")
    val dd05 = SparkEntry.queries("dd05_simhash")(spark, sf).collect()(0)
    assert(dd05.getLong(0) > 0)
    assert(dd05.getLong(1) == 0L, s"${dd05.getLong(1)} pairs beyond hamming 16")
  }

  test("st01 streaming rollup equals the batch rollup inside the watermark horizon") {
    // append-mode emits exactly the finalized windows: end < max(ts)−1h.
    // The batch translation of that horizon must match row-for-row —
    // same decimal sums, same doubles.
    val streamed = SparkEntry.queries("st01_stream_hourly")(spark, sf)
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    val ev = Tables.events(spark, sf)
    val mx = ev.agg(max($"ts")).collect()(0)
      .getAs[java.time.LocalDateTime](0)
    val batch = SparkEntry.queries("ev03_hourly_rollup")(spark, sf)
      .filter($"wstart" < lit(mx.minusHours(2)))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(streamed.nonEmpty, "no finalized windows emitted")
    assert(streamed.toSet == batch.toSet,
      s"stream vs batch diverge: ${streamed.toSet.diff(batch.toSet)} / ${batch.toSet.diff(streamed.toSet)}")
  }

  test("st02 stateful sessions equal batch sessions inside the timeout horizon") {
    import java.time.LocalDateTime
    def us(t: LocalDateTime): Long =
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000
    val streamed = SparkEntry.queries("st02_stream_sessions")(spark, sf)
      .collect().map(r => (r.getLong(0), r.get(1).toString, r.get(2).toString, r.getLong(3)))
      .toSet
    val mx = us(Tables.events(spark, sf).agg(max($"ts")).collect()(0)
      .getAs[LocalDateTime](0))
    val batch = SparkEntry.queries("ev02_sessionize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime]("session_start"),
        r.getAs[LocalDateTime]("session_end"), r.getLong(2)))
    val lastStart = batch.groupBy(_._1).view.mapValues(_.map(s => us(s._2)).max).toMap
    val expected = batch.filter { case (u, st, en, _) =>
      us(st) < lastStart(u) ||
        (us(en) + 30 * 60000000L + 999) / 1000 < mx / 1000 - 600000
    }.map { case (u, st, en, n) => (u, st.toString, en.toString, n) }.toSet
    assert(streamed.nonEmpty)
    // LocalDateTime.toString matches the NTZ collect rendering on both
    // sides, so set equality is exact session-boundary equality
    assert(streamed == expected,
      s"stream vs batch: ${streamed.diff(expected).take(3)} / ${expected.diff(streamed).take(3)}")
  }

  test("connected components: symmetrization is direction-invariant") {
    // the explode-based symmetrization must behave exactly like
    // union(e, e.swap): flipping every edge's direction (and mixing
    // directions) cannot change the clustering
    val fwd = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    val mixed = Seq((2L, 1L), (2L, 3L), (11L, 10L)).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(fwd) == run(mixed))
    assert(run(fwd) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("stratified sample: 256 keeps a stratum whole, 0 drops it, rates stick") {
    val d = (0 until 400).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de")).toDF("id", "lang")
    val kept = d.filter(graft.operators.Sampling.stratifiedHashSample(
        $"id", $"lang", Map("en" -> 256, "de" -> 0)))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept.getOrElse("en", 0L) == 200L, s"en not kept whole: $kept")
    assert(!kept.contains("de"), s"de not dropped: $kept")
    val quarter = d.filter(graft.operators.Sampling.stratifiedHashSample(
        $"id", $"lang", Map("en" -> 64), defaultNumerator = 256))
      .groupBy("lang").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(quarter("de") == 200L)
    assert(quarter("en") > 20L && quarter("en") < 80L,
      s"en ~25% expected: $quarter")
  }

  test("entry flagship returns daily rollup rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSeq ==
      Seq("day", "n_events", "total_value", "error_rate"))
  }

  test("autocorrelation: an alternating series scores exactly -1/+1 at lags 1/2") {
    // x alternates 1,5,1,5,... — lag-1 pairs are perfectly
    // anti-correlated, lag-2 pairs identical; integer moments make the
    // Pearson numerator exactly ∓denominator, so acf is EXACTLY ∓1.0
    val s = (0L until 20L).map(t => (t, if (t % 2 == 0) 1L else 5L))
      .toDF("t", "x").repartition(7)
    val acf = graft.operators.TimeSeries.autocorrelation(s, "t", "x", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(acf(1L) == -1.0 && acf(2L) == 1.0, s"acf: $acf")
    // partition invariance: same exact values from a different layout
    val acf2 = graft.operators.TimeSeries.autocorrelation(
      s.repartition(3), "t", "x", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(acf == acf2)
  }

  test("meanShiftSplits: a planted level shift is the argmax split with exact means") {
    // 20 days at level 10, then 20 days at level 50 — the boundary
    // (t=19, last day of the low regime) must score highest, with
    // exact means 10.0 / 50.0 on the two sides
    val s = ((0L until 20L).map(t => (t, 10L)) ++
      (20L until 40L).map(t => (t, 50L))).toDF("t", "x").repartition(5)
    val top = graft.operators.TimeSeries.meanShiftSplits(s, "t", "x")
      .orderBy(desc("stat"), col("t")).limit(1).collect().head
    assert(top.getLong(0) == 19L, top)
    assert(top.getLong(1) == 20L && top.getLong(2) == 20L, top)
    assert(top.getDouble(3) == 10.0 && top.getDouble(4) == 50.0, top)
    // a flat series scores every split below the planted shift's stat
    val flat = (0L until 40L).map(t => (t, 7L)).toDF("t", "x")
    val maxFlat = graft.operators.TimeSeries.meanShiftSplits(flat, "t", "x")
      .agg(max("stat")).head().getDouble(0)
    assert(maxFlat == 0.0)
  }

  test("containmentPairs: a subsumed paragraph scores 1.0 on its side, low Jaccard") {
    val para = "alpha beta gamma delta epsilon zeta eta theta"
    val page = para + " " + (1 to 40).map(i => s"filler$i word$i").mkString(" ")
    val docs = Seq((1L, para), (2L, page), (3L, "nothing shared here at all ok"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    val (cab, cba) = got((1L, 2L))
    assert(cab == 1.0, s"small side fully contained, got $cab")
    assert(cba < 0.1, s"big side barely covered, got $cba")
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)))
    // the signal Jaccard misses: same pair scores low on Jaccard
    val jac = Dedup.jaccardPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((1L, 2L)) < 0.1, s"jaccard should be low: ${jac((1L, 2L))}")
  }

  test("farthestPointSeeds: picks one center per planted far-apart cluster") {
    import graft.operators.Clustering
    // three tight clusters at distance ~20 apart; greedy k-center with
    // k=3 must choose one representative from EACH cluster (ids 0-3 in
    // A, 4-6 in B, 7-9 in C), starting from min-id (0, in A)
    def around(c: Array[Float], ids: Seq[Long]) =
      ids.map(i => (i, c.zipWithIndex.map { case (v, p) =>
        v + ((i + p) % 3).toFloat * 0.01f }))
    val vecs = (around(Array(20f, 0f, 0f, 0f), Seq(0L, 1L, 2L, 3L)) ++
      around(Array(0f, 20f, 0f, 0f), Seq(4L, 5L, 6L)) ++
      around(Array(0f, 0f, 20f, 0f), Seq(7L, 8L, 9L)))
      .toDF("vec_id", "embedding")
    val got = Clustering.farthestPointSeeds(vecs, 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.head == ((0, 0L, 0.0)), got.toSeq)
    val picked = got.map(_._2).toSet
    assert(picked.count(id => id >= 4L && id <= 6L) == 1, got.toSeq)
    assert(picked.count(id => id >= 7L) == 1, got.toSeq)
    // radii are the inter-cluster gaps (~800 squared), not intra (~0)
    assert(got.tail.forall(_._3 > 700), got.toSeq)
    // partition invariance — identical set and radii bits
    val got2 = Clustering.farthestPointSeeds(vecs.repartition(7), 3)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got2.toSeq == got.toSeq)
  }

  test("kCore: pendant chain peels one node per round until the cycle fixpoint") {
    // triangle {1,2,3} (the 2-core) with tail 3-4-5-6: synchronous
    // peeling at k=2 removes 6 in round 1, 5 in round 2, 4 in round 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("src", "dst")
    def survivors(rounds: Int) =
      graft.operators.Graph.kCore(edges, k = 2, rounds = rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(survivors(1) == Map(1L -> 2L, 2L -> 2L, 3L -> 3L,
      4L -> 2L, 5L -> 1L), survivors(1))
    assert(survivors(3) == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), survivors(3))
    // fixpoint: extra rounds change nothing
    assert(survivors(10) == survivors(3))
  }

  test("labelPropagation: bridged cliques converge to two communities, partition-invariant") {
    // K3 {1,2,3} — bridge 3–10 — K3 {10,11,12}: hand-replayed
    // synchronous rounds (ties to the smallest label) settle on
    // community 1 for the left clique and 3 for the right by round 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L),
      (10L, 11L), (11L, 12L), (12L, 10L)).toDF("src", "dst")
    def labels(rounds: Int, df: org.apache.spark.sql.DataFrame = edges) =
      graft.operators.Graph.labelPropagation(df, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 10L, 12L -> 10L), labels(1))
    assert(labels(3) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L), labels(3))
    // synchronous rounds replay identically under any partitioning
    assert(labels(3, edges.repartition(7)) == labels(3))
  }

  test("signedRandomProjection: JL norm concentration and exact one-hot mechanics") {
    // one-hot input: every projected coordinate is ±v, so the projected
    // squared norm is EXACTLY dims·v² — pins the sign/indexing plumbing
    val oneHot = Seq((1L, Array.fill(8)(0f).updated(3, 2.0f).toSeq))
      .toDF("vec_id", "embedding")
    val coords = Similarity.signedRandomProjection(oneHot, dims = 16)
      .collect().map(_.getDouble(2))
    assert(coords.length == 16 && coords.forall(c => math.abs(c) == 2.0),
      coords.toSeq)
    // real corpus: E[‖Px‖²] = dims·‖x‖² for Rademacher projections;
    // the mean ratio over the sf0.001 corpus concentrates near 16
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val pn = Similarity.signedRandomProjection(emb, dims = 16)
      .groupBy("vec_id")
      .agg(sum(col("coord") * col("coord")).as("pn2"))
    val on = emb.select(col("vec_id"),
      aggregate(transform(col("embedding"),
          x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, v) => a + v).as("n2"))
    val ratios = pn.join(on, "vec_id")
      .select((col("pn2") / col("n2")).as("r")).collect().map(_.getDouble(0))
    val mean = ratios.sum / ratios.length
    assert(mean > 12.0 && mean < 20.0, s"mean JL ratio $mean")
  }

  test("ewmaTruncated: renormalized warm-up is exact — constant in, constant out") {
    val const = (0L to 20L).map(t => (t, 7L)).toDF("t", "x")
    val g1 = graft.operators.TimeSeries.ewmaTruncated(const, "t", "x")
      .collect().map(r => r.getDouble(2))
    // a proper weighted MEAN of a constant series is that constant at
    // every t including the warm-up region (un-renormalized EWMA ramps)
    assert(g1.forall(_ == 7.0), g1.toSeq)
    // step response: x jumps 0→8 at t=10; with α=1/2 the step row
    // renormalizes over the 11 lags t=10 still has (0..10), so it is
    // exactly (1/2·8) / (1 − 2^-11) = 4/0.99951171875, both operands
    // dyadic-exact, so the IEEE quotient is pinned
    val step = (0L to 12L).map(t => (t, if (t >= 10) 8L else 0L))
      .toDF("t", "x")
    val at10 = graft.operators.TimeSeries
      .ewmaTruncated(step, "t", "x")
      .filter(col("t") === 10).collect().head.getDouble(2)
    assert(at10 == 4.0 / 0.99951171875, at10)
  }

  test("clusteringCoefficients: triangle nodes score 1, hub with open wedge scores 1/3") {
    // K3 on {1,2,3} plus pendant edge 3–4: nodes 1,2 have deg 2 and one
    // triangle (c=1); node 3 has deg 3, one triangle (c = 2/6 = 1/3);
    // node 4 has deg 1 (excluded)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val got = graft.operators.Graph.clusteringCoefficients(edges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3))).toMap
    assert(got(1L) == ((2L, 1L, 1.0)) && got(2L) == ((2L, 1L, 1.0)), got)
    assert(got(3L) == ((3L, 1L, 1.0 / 3.0)), got)
    assert(!got.contains(4L), "pendant node has no defined coefficient")
  }

  test("zipfFit: a 1/r corpus fits slope ~ -1; partition-invariant") {
    import graft.operators.TextAnalysis
    // term w_r appears floor(600/r) times, r = 1..30 — a near-perfect
    // Zipf corpus; the log-log fit must recover slope ≈ −1
    val words = (1 to 30).flatMap(r =>
      Seq.fill(600 / r)(f"w$r%02d"))
    val docs = words.grouped(50).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val fit = TextAnalysis.zipfFit(docs, "doc_id", "text")
      .collect().head
    assert(fit.getLong(0) == 30)
    val slope = fit.getDouble(1)
    assert(slope > -1.05 && slope < -0.95, s"slope: $slope")
    val fit2 = TextAnalysis.zipfFit(docs.repartition(11), "doc_id", "text")
      .collect().head
    assert(fit2.getDouble(1) == slope && fit2.getDouble(2) == fit.getDouble(2),
      "layout must not change the fit bits")
  }
}
