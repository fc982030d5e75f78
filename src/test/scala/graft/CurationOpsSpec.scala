package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Anomaly, Clustering, Sampling, Similarity, TextAnalysis}

/** Behavior specs for the round-7 corpus-curation operators: exact-seed
  * k-means, chunking, int8 quantization, z-score outliers, sliding
  * windows — planted-structure recovery plus the determinism properties
  * the oracle gate relies on.
  */
class CurationOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  /** Three well-separated planted clusters around axis-aligned centers;
    * ids chosen so each id%3 residue class starts inside a different
    * cluster (seed 0→cluster A, 1→B, 2→C).
    */
  private def plantedVectors = {
    def around(center: Array[Float], ids: Seq[Long]) =
      ids.map(i => (i, center.zipWithIndex.map { case (c, p) =>
        c + ((i + p) % 5).toFloat * 0.01f }))
    val a = around(Array(10f, 0f, 0f, 0f), Seq(0L, 3L, 6L, 9L))
    val b = around(Array(0f, 10f, 0f, 0f), Seq(1L, 4L, 7L))
    val c = around(Array(0f, 0f, 10f, 0f), Seq(2L, 5L, 8L))
    (a ++ b ++ c).toDF("vec_id", "embedding")
  }

  test("kmeans: planted clusters are recovered exactly by seed assignment") {
    val got = Clustering.assignToSeeds(plantedVectors, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seeds are min id per id%3 class: 0, 1, 2 — each planted cluster
    // groups with its own seed
    assert(got == Map(0L -> 0L, 3L -> 0L, 6L -> 0L, 9L -> 0L,
      1L -> 1L, 4L -> 1L, 7L -> 1L, 2L -> 2L, 5L -> 2L, 8L -> 2L),
      s"assignment: $got")
  }

  test("kmeans: assignment is invariant under repartitioning") {
    val base = Tables.load(spark, sf, "embeddings")
    val once = Clustering.assignToSeeds(base, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val shuffled = Clustering.assignToSeeds(base.repartition(13), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(once == shuffled)
  }

  test("kmeans: update stats count every vector exactly once") {
    val emb = Tables.load(spark, sf, "embeddings")
    val stats = Clustering.lloydUpdateStats(emb, 8).collect()
    assert(stats.map(_.getLong(1)).sum == emb.count())
    assert(stats.forall(_.getDouble(2) > 0.0))
  }

  test("silhouette: planted well-separated clusters score near 1, counts exact") {
    val stats = Clustering.silhouetteStats(plantedVectors, 3)
      .orderBy("cluster").collect()
    assert(stats.map(r => r.getLong(0) -> r.getLong(1)).toSeq ==
      Seq(0L -> 4L, 1L -> 3L, 2L -> 3L), stats.mkString(", "))
    // inter-center distance 10√2 vs within-cluster spread ≤ 0.04:
    // (b−a)/b ≈ 1 for every member
    assert(stats.forall(_.getDouble(2) > 0.95), stats.mkString(", "))
  }

  test("silhouette: centroid variant is bounded in [0, 1] on real embeddings") {
    val stats = Clustering.silhouetteStats(
      Tables.load(spark, sf, "embeddings"), 8).collect()
    assert(stats.map(_.getLong(1)).sum ==
      Tables.load(spark, sf, "embeddings").count())
    assert(stats.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0),
      stats.mkString(", "))
  }

  test("weightedSample: TopKAgg selection matches the brute-force priority sort") {
    val docs = Tables.load(spark, sf, "documents")
    val got = Sampling.weightedSample(docs, "doc_id", "n_chars", 50)
      .select("doc_id", "skey")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref = docs.filter(col("n_chars") > 0)
      .select(col("doc_id"),
        expr("(cast(conv(substring(md5(cast(doc_id as string)), 1, 10), 16, 10) " +
          "as bigint) * 1024) div cast(n_chars as bigint)").as("skey"))
      .orderBy("skey", "doc_id").limit(50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref)
  }

  test("weightedSample: heavier rows dominate the draw; k over-ask returns all") {
    // two planted strata: 300 heavy keys (w=5000) vs 300 light (w=50).
    // sequential Poisson priority u/w makes a heavy row's priority
    // stochastically 100× smaller — the 100 winners should be nearly
    // all heavy (deterministic given the md5 values, no RNG flake)
    val rows = ((1L to 300L).map(i => (i, 5000)) ++
      (1001L to 1300L).map(i => (i, 50))).toDF("k", "w")
    val winners = Sampling.weightedSample(rows, "k", "w", 100).collect()
    assert(winners.length == 100)
    val heavy = winners.count(_.getLong(0) <= 300L)
    assert(heavy > 85, s"heavy=$heavy of 100")
    assert(Sampling.weightedSample(rows, "k", "w", 10000).count() == 600)
  }

  test("perplexityBuckets: terciles balanced within 1, exhaustive, partition-invariant") {
    val docs = Tables.load(spark, sf, "documents")
    val b = TextAnalysis.perplexityBuckets(docs, "doc_id", "text")
    val sizes = b.groupBy("bucket").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes.keySet == Set(0L, 1L, 2L), sizes.toString)
    assert(sizes.values.max - sizes.values.min <= 1, sizes.toString)
    // every scored (≥2-token) doc lands in exactly one bucket
    val scored = docs
      .filter(size(split(col("text"), " ")) >= 2).count()
    assert(sizes.values.sum == scored)
    val again = TextAnalysis
      .perplexityBuckets(docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val once = b.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(once == again)
  }

  test("mmrTopK: matches a driver-side greedy reference on real embeddings") {
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val got = Similarity.mmrTopK(q, e, k = 3, shortlist = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // shortlist relevance + pairwise sims from the gate-verified exact
    // cosine; the greedy loop re-derived independently in plain Scala
    val rel = Similarity.cosineTopK(q, e, 10, exact = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val ids = rel.map(_._2).distinct
    val sub = e.filter(col("vec_id").isin(ids: _*))
    val psim = Similarity.cosineTopK(sub, sub, ids.length, exact = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    val ref = rel.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      val short = rows.sortBy(r => (-r._3, r._2)).map(r => (r._2, r._3))
      var sel = Vector((short.head._1, short.head._2))
      var rem = short.tail.toVector
      for (t <- 2 to 3) {
        val w = rem.map { case (cid, rl) =>
          val ms = sel.map(s => psim((cid, s._1))).max
          (cid, 0.5 * rl - 0.5 * ms)
        }.minBy { case (cid, sc) => (-sc, cid) }
        sel :+= w
        rem = rem.filterNot(_._1 == w._1)
      }
      sel.zipWithIndex.map { case ((cid, sc), i) =>
        (qid, (i + 1).toLong, cid, sc)
      }
    }.toSet
    assert(got == ref)
  }

  test("pageRank: symmetric star concentrates rank at the hub; mass conserved") {
    // hub 0 ↔ leaves 1..9, both directions (no dangling mass)
    val edges = (1L to 9L).flatMap(l => Seq((0L, l), (l, 0L)))
      .toDF("src", "dst")
    val r = graft.operators.Graph.pageRank(edges, iterations = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.size == 10)
    val hub = r(0L)
    val leaves = (1L to 9L).map(r)
    assert(leaves.forall(l => hub > l), r.toString)
    // symmetric graph, no dangling nodes → total rank stays 1
    assert(math.abs(r.values.sum - 1.0) < 1e-9, r.values.sum.toString)
    // leaves are symmetric — identical rank
    assert(leaves.distinct.size == 1, leaves.toString)
  }

  test("pageRank: result is invariant under input repartitioning") {
    val edges = Tables.load(spark, sf, "orders")
      .join(Tables.load(spark, sf, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
    val once = graft.operators.Graph.pageRank(edges, 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val again = graft.operators.Graph.pageRank(edges.repartition(13), 3)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(once == again)
  }

  /** rdd-* checkpoint directories anywhere under `dir`. */
  private def rddDirsUnder(dir: java.nio.file.Path): Int = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.iterator().asScala.count(_.getFileName.toString.startsWith("rdd-"))
    finally walk.close()
  }

  /** Delete `dir` and everything under it, so repeated runs don't accrete. */
  private def deleteTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(java.nio.file.Files.delete)
    finally walk.close()
  }

  test("iterative loops: reliable checkpointDir replays the localCheckpoint result") {
    // every iterative operator must produce identical output under the
    // fault-tolerant reliable-checkpoint posture (the cluster setting —
    // localCheckpoint blocks die with their executor); the CC spec in
    // PipelineSpec is the model, this covers the other seven loops.
    // The mode comes from the context's checkpoint directory, the one
    // `spark.checkpoint.dir` installs on a cluster
    val dir = SparkTestSession.tempDir("graft-iter-cp")
    val edges = (1L to 9L).flatMap(l => Seq((0L, l), (l, 0L)))
      .toDF("src", "dst")
    val docs = Seq("low lower lowest", "newer newest new").toDF("text")
    val vecs = Seq((1L, Seq(0f, 0f)), (2L, Seq(10f, 0f)), (3L, Seq(0f, 10f)),
      (4L, Seq(1f, 1f))).toDF("vec_id", "embedding")
    val G = graft.operators.Graph
    def results(): Seq[Any] = Seq(
      G.pageRank(edges, 3)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap,
      G.personalizedPageRank(edges, Seq(Tuple1(0L)).toDF("v"), 2)
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap,
      G.kCore(edges, k = 2, rounds = 2)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap,
      G.labelPropagation(edges, 2)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap,
      TextAnalysis.bpeMerges(docs, "text", rounds = 2)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq,
      Clustering.farthestPointSeeds(vecs, 3)
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq,
      Clustering.lloydRounds(vecs, 2, rounds = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val local = results()
    // no directory: nothing reliable is written anywhere
    assert(rddDirsUnder(dir) == 0)
    val reliable = org.apache.spark.TestCheckpointDir
      .withCheckpointDir(spark.sparkContext, dir.toString)(results())
    assert(reliable == local)
    // the reliable path actually wrote RDD checkpoints to the dir —
    // and the ROLLING discipline pruned superseded rounds: each loop
    // may retain its persistent frames plus the last rolling round,
    // never one checkpoint per round
    val walk = java.nio.file.Files.walk(dir)
    val files =
      try walk.iterator().asScala.count(_.toFile.isFile)
      finally walk.close()
    assert(files > 0, s"no checkpoint files under $dir")
    val rddDirs = rddDirsUnder(dir)
    // 6 truncating operators × (persistent frames + last rolling
    // round): pageRank keeps 3 (ed, nodes, last ranks), ppr 3, kCore 1,
    // labelProp 2, bpeMerges 1 + 2 winners, fps 2 = 14 (lloydRounds
    // truncates nothing); without pruning the same runs checkpoint 21
    // rdds (pageRank 4, ppr 3, kCore 3, labelProp 2, bpeMerges 5, fps 4
    // — the 2-round cadence of pageRank/ppr/labelProp included). Both
    // counts measured; the bound sits between them
    assert(rddDirs <= 17, s"rolling cleanup left $rddDirs rdd-* dirs — " +
      "superseded per-round checkpoints are not being deleted")
    deleteTree(dir)
  }

  test("iterative loops leave the context's checkpoint directory as they found it") {
    // the truncator READS the directory; it never installs one, so an
    // operator cannot re-point context-wide state under a concurrent
    // caller — with no directory it stays unset, with one it stays put
    val sc = spark.sparkContext
    val edges = (1L to 5L).map(l => (l, l % 5 + 1)).toDF("src", "dst")
    assert(sc.getCheckpointDir.isEmpty)
    graft.operators.Graph.pageRank(edges, 2).collect()
    graft.operators.Dedup.connectedComponents(edges).collect()
    assert(sc.getCheckpointDir.isEmpty)
    val dir = SparkTestSession.tempDir("graft-cp-unchanged")
    org.apache.spark.TestCheckpointDir.withCheckpointDir(sc, dir.toString) {
      val installed = sc.getCheckpointDir
      assert(installed.isDefined)
      graft.operators.Graph.pageRank(edges, 2).collect()
      graft.operators.Dedup.connectedComponents(edges).collect()
      assert(sc.getCheckpointDir == installed)
    }
    assert(sc.getCheckpointDir.isEmpty)
    deleteTree(dir)
  }

  test("Truncator.rolling: concurrent chains on one dir never lose a live round") {
    // two rolling chains advance in lockstep from two threads, every
    // round entered through a barrier so the checkpoint WRITES of both
    // chains overlap in time. Attribution is from the checkpointed RDD
    // itself (RDD.getCheckpointFile), so each chain deletes exactly its
    // own superseded round — a directory-listing diff would capture the
    // other chain's files written inside the same window and the next
    // round would delete that chain's LIVE checkpoint (hits runs three
    // chains on one dir; this pins the contract for any overlap).
    val dir = SparkTestSession.tempDir("graft-roll-conc")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val rounds = 4
    def chain(start: Long, stepAdd: Long): Seq[Long] = {
      val cp = graft.operators.Checkpointing.truncator(spark)
      var df = spark.range(start, start + 10).toDF("x")
      for (_ <- 1 to rounds) {
        barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
        df = cp.rolling(df.select((col("x") + stepAdd).as("x")))
      }
      // reads the LAST round's checkpoint files — deleted ones throw
      df.collect().map(_.getLong(0)).sorted.toSeq
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val (a, b) = org.apache.spark.TestCheckpointDir
      .withCheckpointDir(spark.sparkContext, dir.toString) {
        val fa = Future(chain(0L, 1L))
        val fb = Future(chain(100L, 2L))
        (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
      }
    assert(a == (0L until 10L).map(_ + rounds * 1L).sorted)
    assert(b == (100L until 110L).map(_ + rounds * 2L).sorted)
    // and superseded rounds were still cleaned: each chain retains only
    // its last round (2 rdd-* dirs total), not one per round (8)
    val rddDirs = rddDirsUnder(dir)
    assert(rddDirs <= 2, s"expected ≤2 live rdd-* dirs, found $rddDirs")
    deleteTree(dir)
  }

  test("Truncator.rolling: local mode unpersists superseded rounds") {
    // symmetric to the reliable-mode file deletion: a local-mode loop
    // must hold O(1) rolling block sets, not O(rounds) — hits with 4
    // iterations runs 8 half-rounds over two chains but may retain only
    // the final hub + final auth (plus its two persistent frames)
    val edges = (1L to 9L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = graft.operators.Graph.hits(edges, 4)
    assert(out.count() == 10)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size <= 4,
      s"hits(4) left ${added.size} persistent RDDs — superseded rolling " +
        "rounds are not being unpersisted in local mode")
  }

  test("neymanAllocation: variance earns budget, constants earn none, singletons drop") {
    // A: 100 rows alternating 0/1000 (high variance); B: 100 rows all
    // 500 (zero variance); C: a singleton (undefined variance)
    val rows = ((1L to 100L).map(i => (i, "A", if (i % 2 == 0) 1000 else 0)) ++
      (101L to 200L).map(i => (i, "B", 500)) ++
      Seq((201L, "C", 42))).toDF("id", "stratum", "v")
    val al = Sampling.neymanAllocation(rows, "stratum", "v", 50)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(!al.contains("C"), al.toString)          // n_h < 2 excluded
    assert(al("B") == 0L, al.toString)              // S=0 → no budget
    assert(al("A") == 50L, al.toString)             // all mass on A
    val total = al.values.sum
    assert(total <= 50, al.toString)
  }

  test("neymanSample: draws match allocation, cap at stratum size, reproducible") {
    val docs = Tables.load(spark, sf, "documents")
    val al = Sampling.neymanAllocation(docs, "lang", "n_chars", 200)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    val got = Sampling.neymanSample(docs, "lang", "doc_id", "n_chars", 200)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    al.foreach { case (lang, nH, alloc) =>
      assert(got.getOrElse(lang, 0L) == math.min(alloc, nH), s"$lang")
    }
    val again = Sampling
      .neymanSample(docs.repartition(11), "lang", "doc_id", "n_chars", 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val once = Sampling
      .neymanSample(docs, "lang", "doc_id", "n_chars", 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(once == again)
  }

  test("chunking: boundaries, overlap, and the short-doc whole-text chunk") {
    val text = ('a' to 'z').mkString * 10 // 260 chars
    val df = Seq((1L, text), (2L, "tiny")).toDF("doc_id", "text")
    val rows = TextAnalysis.chunkDocs(df, "doc_id", "text", size = 100, stride = 60)
      .orderBy("doc_id", "chunk_id").collect()
    val d1 = rows.filter(_.getLong(0) == 1L)
    // 260 chars, size 100, stride 60 → starts 0/60/120/180: chunk 3
    // ends past the text (len 80), so no start-240 chunk is emitted
    assert(d1.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(d1.map(_.getLong(3)).toSeq == Seq(100L, 100L, 100L, 80L))
    // md5s pin the content: chunk 1 covers [60, 160)
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(d1(1).getString(2) == md5hex(text.substring(60, 160)))
    val d2 = rows.filter(_.getLong(0) == 2L)
    assert(d2.length == 1 && d2(0).getLong(3) == 4L)
  }

  test("int8 quantization: absmax element saturates, zero vector is zeros") {
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)), // absmax 1.0 → q = 64, -127, 32
      (2L, Array(0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df).orderBy("vec_id").collect()
    assert(got(0).getLong(1) == 64L - 127L + 32L) // q_sum
    assert(got(0).getLong(2) == -127L && got(0).getLong(3) == 64L)
    assert(got(0).getLong(4) == 1L) // one saturated element
    assert(got(1).getLong(1) == 0L && got(1).getLong(4) == 0L)
  }

  test("int8 quantization stays within [-127, 127] on real embeddings") {
    val q = Similarity.quantizeInt8(Tables.load(spark, sf, "embeddings"))
    val bad = q.filter(col("q_min") < -127 || col("q_max") > 127).count()
    assert(bad == 0)
  }

  test("z-score outliers: planted extreme flagged, bulk not") {
    val normal = (1L to 200L).map(i => (i, "a", (i % 10).toDouble))
    val rows = (normal :+ ((999L, "a", 1000.0))).toDF("event_id", "event_type", "value")
    val flagged = Anomaly.zScoreOutliers(rows, "event_type", "value", "event_id")
      .collect()
    assert(flagged.map(_.getLong(0)).toSet == Set(999L))
    assert(flagged.head.getDouble(3) > 3.0)
  }

  test("merge upsert: updates win, inserts land, untouched rows survive") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val delta = Seq((2L, "B"), (9L, "X")).toDF("k", "v")
    val got = graft.operators.Merge.upsert(base, delta, "k")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c", 9L -> "X"))
  }

  test("bigram LM: known corpus scores exactly") {
    // "a b a b a c": bigrams ab,ba,ab,ba,ac → c(ab)=2 c(ba)=2 c(ac)=1,
    // contexts a→3 b→2 → P(b|a)=2/3 P(a|b)=1 P(c|a)=1/3
    val df = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLogProb(df, "doc_id", "text").collect()(0)
    assert(r.getLong(1) == 5L)
    def q(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = (q(math.log(2.0 / 3.0)) * 2 + q(math.log(1.0)) * 2 +
      q(math.log(1.0 / 3.0))).toDouble / 5.0
    assert(math.abs(r.getDouble(2) - expected) < 1e-12,
      s"got ${r.getDouble(2)} expected $expected")
  }

  test("temperature mixing keeps the smallest stratum whole, shrinks the biggest") {
    val d = docs()
    val byLang = d.groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = graft.operators.Sampling
      .temperatureMixSample(d, "lang", "doc_id")
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val smallest = byLang.minBy(_._2)._1
    val biggest = byLang.maxBy(_._2)._1
    assert(kept(smallest) == byLang(smallest), "smallest stratum must keep all")
    assert(kept(biggest) < byLang(biggest), "dominant stratum must shrink")
    // keep-rate of the biggest ≈ √(n_min/n_max), within hash-gate noise
    val want = math.sqrt(byLang(smallest).toDouble / byLang(biggest))
    val got = kept(biggest).toDouble / byLang(biggest)
    assert(math.abs(got - want) < 0.15, s"rate $got vs target $want")
  }

  private def docs() = Tables.load(spark, sf, "documents")

  test("histogram bins: boundary values bin by floor(v/50)") {
    import org.apache.spark.sql.functions.{col, floor}
    val vals = Seq(0.01, 49.99, 50.0, 490.0).toDF("value")
    val bins = vals.select(floor(col("value") / 50.0).cast("long").as("b"))
      .collect().map(_.getLong(0)).toSeq
    assert(bins == Seq(0L, 0L, 1L, 9L))
  }

  test("windowed distinct: collect_set-over-range matches brute force") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, collect_set, size}
    val rows = Seq((1L, 10L, 0L), (2L, 10L, 5L), (3L, 11L, 20L),
      (4L, 10L, 40L), (5L, 12L, 45L), (6L, 11L, 100L))
      .toDF("id", "cust", "d")
    val w = Window.orderBy(col("d")).rangeBetween(-30, Window.currentRow)
    val got = rows.select(col("id"), size(collect_set(col("cust")).over(w)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val data = Seq((1L, 10L, 0L), (2L, 10L, 5L), (3L, 11L, 20L),
      (4L, 10L, 40L), (5L, 12L, 45L), (6L, 11L, 100L))
    val brute = data.map { case (id, _, d) =>
      id -> data.filter(t => t._3 >= d - 30 && t._3 <= d).map(_._2).distinct.size
    }.toMap
    assert(got == brute, s"got $got want $brute")
  }

  test("sliding window: every event lands in exactly four 1h/15m windows") {
    val ev = Tables.events(spark, sf)
    val windows = SparkEntry.queries("ev11_sliding_window")(spark, sf)
    val total = windows.agg(sum("n_events")).collect()(0).getLong(0)
    assert(total == ev.count() * 4, s"window membership total $total")
  }

  test("dupSpans: planted boilerplate found; within-doc repeats count once") {
    val boiler = "this content is licensed under the following terms"  // 8 words
    val docs = Seq(
      (1L, s"alpha beta $boiler gamma"),
      (2L, s"$boiler delta epsilon"),
      (3L, s"$boiler zeta $boiler"),       // twice in ONE doc
      (4L, "nothing shared here at all by anyone ever")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.dupSpans(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(4)))
    val hit = got.find(_._1 == boiler)
    assert(hit.exists(h => h._2 == 3L && h._3 == "1,2,3"),
      s"boilerplate span miscounted: ${got.toSeq}")
    // doc 4 shares nothing: no span may contain it
    assert(!got.exists(_._3.split(",").contains("4")), got.toSeq)
  }

  test("dupSpanRegions: overlapping hot windows merge into maximal per-doc regions") {
    val boiler = (1 to 12).map(i => s"b$i").mkString(" ") // 12 shared tokens
    val tail = (1 to 9).map(i => s"c$i").mkString(" ")    // 9 shared tokens
    val docs = Seq(
      (1L, s"u1 u2 u3 $boiler m1 m2 m3 m4 $tail z1"),
      (2L, s"v1 $boiler w1 w2 w3 w4 w5 $tail z2 z3"),
      // 8-token run repeated WITHIN one doc only: distinct-doc count 1,
      // never hot, no region
      (3L, "s1 s2 s3 r1 r2 r3 r4 r5 r6 r7 r8 mid r1 r2 r3 r4 r5 r6 r7 r8 t1")
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.dupSpanRegions(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    // each 12-token block = 5 overlapping hot windows → ONE region of
    // exactly the shared tokens; windows crossing the block boundary
    // differ between docs, so regions don't bleed into surroundings
    assert(got == Set(
      (1L, 4L, 12L, boiler), (1L, 20L, 9L, tail),
      (2L, 2L, 12L, boiler), (2L, 19L, 9L, tail)), got)
  }

  test("invertedIndex: shards reassemble exactly and respect the ceil(df/maxPostings) bound") {
    // fixed-seed random corpora: the sharded index must be a lossless
    // partition of the plain per-term posting sets
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps")
    val docs = (0L until 60L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val maxP = 4
    val got = TextAnalysis.invertedIndex(docs, "doc_id", "text", maxP)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val truth: Map[String, Set[Long]] = docs.collect()
      .flatMap(r => r.getString(1).split(" ").map(_ -> r.getLong(0)))
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toSet }
    got.groupBy(_._1).foreach { case (tok, shards) =>
      val df = shards.head._2
      assert(df == truth(tok).size.toLong, s"$tok df")
      // disjoint shards reassembling the full posting set
      val ids = shards.flatMap(_._5.split(",").map(_.toLong))
      assert(ids.length == ids.distinct.length, s"$tok overlap")
      assert(ids.toSet == truth(tok), s"$tok postings")
      // shard_df consistency and shard-count bound
      assert(shards.map(_._4).sum == df, s"$tok shard_df sum")
      assert(shards.length <= math.ceil(df.toDouble / maxP).toInt, s"$tok n_shards")
    }
    assert(got.groupBy(_._1).keySet == truth.keySet)
  }

  test("dupSpans matches a brute-force reference on random corpora") {
    // the operator's span is 8 words: a two-word vocabulary keeps
    // shared 8-grams common across 40 short random docs
    val rnd = new scala.util.Random(1717)
    val vocab = Vector("a", "b")
    val docs = (0L until 40L).map { id =>
      (id, Seq.fill(6 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val n = 8
    val brute = docs
      .flatMap { case (id, t) =>
        t.split(" ").sliding(n).filter(_.length == n)
          .map(_.mkString(" ")).toSet.toSeq.map((s: String) => (s, id))
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted)
      .filter(_._2.length >= 2).toMap
    assert(brute.size > 10, s"corpus shares too few 8-grams: ${brute.size}")
    val got = graft.operators.Dedup
      .dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getString(4))).toMap
    assert(got.keySet == brute.keySet)
    brute.foreach { case (span, ids) =>
      assert(got(span) == ((ids.length.toLong, ids.mkString(","))), span)
    }

    // sharded run (maxPostings=2): disjoint shards reassemble each span's
    // full posting set and no buffer exceeds the ceil(n_docs/maxPostings)
    // shard-count bound — the ta16 property, applied to spans
    val maxP = 2
    val sharded = graft.operators.Dedup
      .dupSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
        maxPostings = maxP)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    sharded.groupBy(_._1).foreach { case (span, shards) =>
      val nDocs = shards.head._2
      assert(nDocs == brute(span).length.toLong, s"$span n_docs")
      val ids = shards.flatMap(_._5.split(",").map(_.toLong))
      assert(ids.length == ids.distinct.length, s"$span overlap")
      assert(ids.sorted.toSeq == brute(span), s"$span postings")
      assert(shards.map(_._4).sum == nDocs, s"$span shard_docs sum")
      assert(shards.length <= math.ceil(nDocs.toDouble / maxP).toInt,
        s"$span n_shards")
    }
    assert(sharded.groupBy(_._1).keySet == brute.keySet)
  }

  test("assignSplit: disjoint, exhaustive, stable across tables and runs") {
    import graft.operators.Sampling
    val ids = spark.range(0, 2048).toDF("k")
    def labels() = ids.withColumn("s", Sampling.assignSplit(col("k")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = labels()
    // exhaustive + disjoint by construction: every key exactly one label
    assert(a.size == 2048)
    assert(a.values.toSet == Set("train", "val", "test"))
    // band widths: train ≈ 245/256, val ≈ 5/256, test ≈ 6/256
    val n = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(n("train") > 1800 && n("val") > 10 && n("test") > 10, n)
    // stable: identical labels on re-evaluation and under repartitioning
    assert(labels() == a)
    val b = ids.repartition(7).withColumn("s", Sampling.assignSplit(col("k")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(b == a, "split assignment changed under repartitioning")
  }

  test("resolveClusters: best-quality member survives, ties to lowest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (9L, 7L))
      .toDF("doc_id", "cluster")
    val scores = Seq((1L, 0.4), (2L, 0.9), (3L, 0.9), (7L, 0.2), (9L, 0.2),
      (100L, 0.99) /* not in any cluster: must not appear */)
      .toDF("doc_id", "quality")
    val got = graft.operators.Dedup.resolveClusters(clusters, scores)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(_._1)
    // cluster 1: quality tie 2 vs 3 → lowest id 2; cluster 7: tie → 7
    assert(got.toSeq == Seq((1L, 2L, 0.9, 3L), (7L, 7L, 0.2, 2L)), got.toSeq)
  }

  test("reconcile: matches, mismatches, orphan groups and childless parents all counted") {
    import graft.operators.Quality
    val child = Seq((1L, 10.0), (1L, 5.0), (2L, 7.0), (3L, 1.0)).toDF("k", "v")
    val parent = Seq((1L, 15.0), (2L, 8.0), (9L, 4.0)).toDF("k", "total")
    val r = Quality.reconcile("t",
      child, "k", col("v").cast(DecimalType(18, 4)),
      parent, "k", col("total").cast(DecimalType(18, 4)))
      .collect()(0)
    // k=1 sums to 15 (match), k=2 is 7 vs 8 (mismatch, diff 1),
    // k=3 has no parent (orphan group), k=9 has no children (childless)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      == ((3L, 1L, 1L, 1L, 1L)), r.toString)
    assert(r.getDouble(6) == 1.0, r.toString)
  }

  test("fdViolations: held and violated dependencies report exact fan-outs") {
    import graft.operators.Quality
    // k → grp holds (each k maps to one grp); grp → k is violated:
    // grp "a" fans out to 3 distinct k, grp "b" to 1
    val df = Seq((1L, "a"), (1L, "a"), (2L, "a"), (3L, "a"), (4L, "b"))
      .toDF("k", "grp")
    val got = Quality.fdViolations(df, Seq("k" -> "grp", "grp" -> "k"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(got(("k", "grp")) == ((4L, 0L, 1L, true)), got)
    assert(got(("grp", "k")) == ((2L, 1L, 3L, false)), got)
  }

  test("quality: exotic column and rule names survive (dots, quotes, backticks)") {
    import graft.operators.Quality
    val df = Seq((1, "x"), (-2, null)).toDF("a.b", "it's `odd`")
    val prof = Quality.profile(df, Seq("a.b", "it's `odd`"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(prof("a.b") == ((2L, 0L, 2L)), prof)
    assert(prof("it's `odd`") == ((2L, 1L, 1L)), prof)
    val rules = Quality.checkRules(df,
      Seq(("a.b is positive ('strict')", col("`a.b`") > 0)))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rules.toSeq == Seq(("a.b is positive ('strict')", 1L)), rules.toSeq)
  }

  test("quality: planted nulls, range breaks, domain breaks and orphans are all detected") {
    import graft.operators.Quality
    val rows = Seq[(java.lang.Long, java.lang.Double, String)](
      (1L, 10.0, "A"), (2L, 60.0, "A"),     // 60 breaks the 1..50 range
      (3L, null, "X"),                       // null qty violates; X off-domain
      (null, 5.0, "N"))                      // null key -> orphan + null profile
      .toDF("k", "qty", "flag")
    val prof = Quality.profile(rows, Seq("k", "qty", "flag"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(prof("k") == ((4L, 1L, 3L)), prof)
    assert(prof("qty") == ((4L, 1L, 3L)), prof)
    assert(prof("flag") == ((4L, 0L, 3L)), prof)
    val viol = Quality.checkRules(rows, Seq(
      "qty_range" -> col("qty").between(1, 50),
      "flag_domain" -> col("flag").isin("A", "N")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // null qty is a VIOLATION of the range rule, not a pass
    assert(viol == Map("qty_range" -> 2L, "flag_domain" -> 1L), viol)
    val parent = Seq(1L, 2L).toDF("pk")
    val orph = Quality.orphanReport("child->parent", rows, "k", parent, "pk")
      .collect()(0)
    assert(orph.getString(0) == "child->parent")
    assert(orph.getLong(1) == 2L) // k=3 unmatched + null key
  }

  test("corpusComposition: volumes exact, shares sum to 1") {
    val docs = Seq(
      (1L, "a b c", "en", "s1"), (2L, "d e", "en", "s1"),
      (3L, "f g h i", "fr", "s1"), (4L, "j", "en", "s2")
    ).toDF("doc_id", "text", "lang", "source")
    val rows = TextAnalysis.corpusComposition(docs, "source", "lang", "text")
      .orderBy("source", "lang").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq == Seq(
      ("s1", "en", 2L, 5L, 8L), ("s1", "fr", 1L, 4L, 7L),
      ("s2", "en", 1L, 1L, 1L)))
    assert(math.abs(rows.map(_.getDouble(5)).sum - 1.0) < 1e-12)
  }

  test("semanticDedup: near-identical members pruned, distinct ones kept") {
    // plantedVectors' within-cluster members differ by <=0.04 on a
    // magnitude-10 axis — cosine ~ 1, so SemDeDup collapses each planted
    // cluster to its lowest id. id 20 joins cluster 0 (nearest seed) but
    // points measurably away (cos ~ 0.958 < tau) — it must survive.
    val distinct = Seq((20L, Array(10f, 3f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = graft.operators.Dedup
      .semanticDedup(plantedVectors.unionAll(distinct), 3, 0.99)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))))
      .toMap
    assert(got.size == 11)
    // survivors: one per planted near-identical group + the distinct vec
    assert(got.filter(_._2._3).keySet == Set(0L, 1L, 2L, 20L), got)
    // every removed member names its cluster's lowest id
    assert(got(3L) == ((0L, Some(0L), false)), got(3L))
    assert(got(9L) == ((0L, Some(0L), false)), got(9L))
    assert(got(4L) == ((1L, Some(1L), false)), got(4L))
    assert(got(8L) == ((2L, Some(2L), false)), got(8L))
    // the distinct vector shares cluster 0 yet stays below tau
    assert(got(20L) == ((0L, None, true)), got(20L))
  }

  test("incrementalNearDup: clones flagged vs registry only, tie to lowest id, short docs pass") {
    val reg = Seq(
      (2L, "alpha beta gamma delta epsilon zeta"),
      (4L, "alpha beta gamma delta epsilon zeta"), // duplicate registry text
      (6L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // clone of 2 AND 4
      (3L, "one two three four five six seven"), // clone of 6
      (5L, "totally unrelated content words here now"), // no match
      (7L, "hi there"), // < shingleN words: no signature, must pass
      (9L, "totally unrelated content words here now") // within-batch dup
    ).toDF("doc_id", "text")
    val regSigs = graft.operators.Dedup.minHashSignatures(
      graft.operators.Dedup.shingles(reg, "doc_id", "text", 3), "doc_id")
    val out = graft.operators.Dedup
      .incrementalNearDup(batch, regSigs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out.size == 5, out.toString)
    // exact clone: estimate exactly 1.0, best match ties to LOWEST id
    assert(out(1L) == ((false, Some(2L), Some(1.0))), out(1L).toString)
    assert(out(3L) == ((false, Some(6L), Some(1.0))), out(3L).toString)
    // no clearing match / no signature / within-batch dup: all keep
    assert(out(5L)._1 && out(5L)._2.isEmpty, out(5L).toString)
    assert(out(7L)._1 && out(7L)._2.isEmpty, out(7L).toString)
    assert(out(9L)._1 && out(9L)._2.isEmpty, out(9L).toString)
  }

  test("semanticDedup: k >= 512 engages the two-level assignment by itself") {
    // the 100 TB default must not depend on a caller knowing the flag:
    // at k past the threshold, the auto path must produce EXACTLY what
    // an explicit twoLevelAssign = true produces
    val rnd = new scala.util.Random(13)
    val e = (0 until 2000).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))).toSeq
    val auto = rows(graft.operators.Dedup.semanticDedup(e, 512, 0.99))
    val explicitTl = rows(graft.operators.Dedup
      .semanticDedup(e, 512, 0.99, twoLevelAssign = true))
    assert(auto == explicitTl, "auto threshold did not engage the two-level path")
  }

  test("distributionDrift: zero PSI on identical snapshots, >0 on shift") {
    val vals = (0 until 200).map(i => (i.toLong, (i % 50).toDouble)).toDF("id", "v")
    val same = graft.operators.Quality
      .distributionDrift(vals, vals, col("v"), 10.0, 10)
      .orderBy("bin").collect()
    // full spine: bins 5..9 are empty on both sides yet present, term 0
    assert(same.map(_.getLong(0)).toSeq == (0L to 9L), same.toSeq)
    assert(same.forall(_.getDouble(3) == 0.0), same.toSeq)
    assert(same.take(5).forall(_.getLong(1) == 40L), same.toSeq)
    val shifted = vals.select(($"v" + 20.0).as("v"))
    val drift = graft.operators.Quality
      .distributionDrift(vals, shifted, col("v"), 10.0, 10)
      .orderBy("bin").collect()
    val psi = drift.map(_.getDouble(3)).sum
    assert(psi > 0.2, s"expected major-shift PSI, got $psi")
    // PSI terms are nonnegative by construction ((p-q) and ln(p/q) share sign)
    assert(drift.forall(_.getDouble(3) >= 0.0), drift.toSeq)
  }

  test("bm25: length normalization, tf saturation, idf ordering") {
    val docs = Seq(
      (1L, "cat dog"),                       // tf(cat)=1, dl=2
      (2L, "cat a b c d e f g h i"),         // tf(cat)=1, dl=10
      (3L, "cat cat"),                       // tf(cat)=2, dl=2
      (4L, "rare dog"),                      // tf(rare)=1, dl=2, df(rare)=1
      (5L, "filler filler filler")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Rank(docs, "doc_id", "text",
        Seq("cat", "rare"), 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L), got)
    val score = got.view.mapValues(_._1).toMap
    // same tf, shorter doc wins (length normalization)
    assert(score(1L) > score(2L), score)
    // doubled tf helps...
    assert(score(3L) > score(1L), score)
    // ...but saturates below 2x (the k1 denominator)
    assert(score(3L) < 2.0 * score(1L), score)
    // same shape, rarer term (df 1 vs 3) outranks (idf ordering)
    assert(score(4L) > score(1L), score)
    // single matched term each; ranks are dense over the score order
    assert(got.values.forall(_._2 == 1L), got)
    val byRank = got.toSeq.sortBy(_._2._3).map(_._1)
    assert(byRank == got.toSeq.sortBy { case (id, (s, _, _)) => (-s, id) }
      .map(_._1), got)
  }

  test("epochUpsample: whole copies, drops, pass-through, md5 fraction") {
    val d = (0 until 100).map(i => (i.toLong,
      if (i < 40) "a" else if (i < 70) "b" else "c")).toDF("id", "src")
    val up = Sampling.epochUpsample(d, "src", "id",
      Map("a" -> ((3, 0)), "b" -> ((0, 0))))
    val rows = up.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // a: exactly 3 copies per key, epochs 0..2; b: gone; c (unlisted): 1 copy
    assert(rows.count(_._2 == "a") == 120, rows.length)
    assert(!rows.exists(_._2 == "b"))
    assert(rows.filter(_._2 == "c").map(_._3).toSet == Set(0))
    assert(rows.filter(t => t._2 == "a" && t._1 == 0L).map(_._3).sorted
      .toSeq == Seq(0, 1, 2))
    // fractional epochs reuse the hashSample gate exactly: copies for
    // stratum a at (1, 128) = 1 + [md5 gate < 128/256]
    val frac = Sampling.epochUpsample(d, "src", "id", Map("a" -> ((1, 128))))
      .filter($"src" === "a").count()
    val gated = d.filter($"src" === "a")
      .filter(Sampling.hashSample($"id", 128)).count()
    assert(frac == 40L + gated, (frac, gated))
  }

  test("triangleCounts: K4 minus an edge — hand-enumerated per-node counts") {
    // K4 on {1,2,3,4} minus (3,4): triangles (1,2,3) and (1,2,4)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("src", "dst")
    val got = graft.operators.Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L), got)
  }

  test("triangleCounts: invariant to edge direction, duplicates, self-loops, partitioning") {
    val base = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
    val messy = (base.map(_.swap) ++ base ++ Seq((2L, 1L), (5L, 5L)))
      .toDF("src", "dst").repartition(7)
    val got = graft.operators.Graph.triangleCounts(messy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L), got)
  }

  test("triangleCounts: hub graph — no wedge explosion changes counts (star has none, closing one edge makes exactly one)") {
    // star hub 0 with 50 leaves: zero triangles; add (1,2): exactly one
    val star = (1L to 50L).map(l => (0L, l))
    assert(graft.operators.Graph.triangleCounts(star.toDF("src", "dst"))
      .count() == 0)
    val got = graft.operators.Graph
      .triangleCounts((star :+ (1L, 2L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 1L -> 1L, 2L -> 1L), got)
  }

  test("cosineRange: returns exactly the ≥ τ slice of the cosineTopK scores") {
    val e = plantedVectors
    val q = e.filter($"vec_id" < 3)
    val tau = 0.5
    val range = Similarity.cosineRange(q, e, tau, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: full top-k (k = corpus size) scores, filtered at τ
    val ref = Similarity.cosineTopK(q, e, k = 100, exact = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(_._3 >= tau).toSet
    assert(range == ref, s"range=${range.size} ref=${ref.size}")
    assert(range.nonEmpty) // planted same-cluster pairs clear τ=0.5
    // within-cluster neighbors present, cross-cluster (≈0 cosine) absent
    assert(range.exists(t => t._1 == 0L && t._2 == 3L))
    assert(!range.exists(t => t._1 == 0L && t._2 == 1L))
  }

  test("pmiCollocations: perfectly-associated pair outranks frequent independent pair; minCount filters") {
    // "alpha beta" always together (20×); "x"/"y" frequent but paired
    // with everything; "rare pair" appears twice (below minCount 5)
    val docs = ((1 to 20).map(i => (i.toLong, "alpha beta x y")) ++
      Seq((21L, "rare pair"), (22L, "rare pair"), (23L, "x y x y x y")))
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(docs, "doc_id", "text",
      minCount = 5, topN = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getDouble(3)))
    val byPair = got.toMap
    assert(!byPair.contains(("rare", "pair")), got.mkString(","))
    // alpha→beta is deterministic (P(pair)=P(alpha)=P(beta)) ⇒ max PMI
    assert(got.head._1 == (("alpha", "beta")), got.mkString(","))
    assert(byPair(("alpha", "beta")) > byPair(("x", "y")), got.mkString(","))
  }

  test("sliceEntropy: uniform slice hits ln(types), boilerplate flood collapses toward 0") {
    // slice "u": 4 distinct tokens once each → H = ln 4, hapax share 1;
    // slice "b": one token 99× + one once → H ≈ 0.056, hapax share 1/2
    val docs = Seq(
      ("u", "alpha beta gamma delta"),
      ("b", (Seq.fill(99)("spam") :+ "ham").mkString(" ")))
      .toDF("lang", "text")
    val got = graft.operators.TextAnalysis.sliceEntropy(docs, "lang", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val (un, ut, uh, uhs, uH) = got("u")
    assert((un, ut, uh, uhs) == ((4L, 4L, 4L, 1.0)), got("u"))
    assert(math.abs(uH - math.log(4.0)) < 1e-5, uH)
    val (bn, bt, bh, bhs, bH) = got("b")
    assert((bn, bt, bh, bhs) == ((100L, 2L, 1L, 0.5)), got("b"))
    assert(bH < 0.06 && bH > 0.05, bH)
  }

  test("iqrFences: planted outlier lands above the Tukey fence, clean data inside") {
    // 0..99 uniform + one 1000: q1 = 25, q3 = 75 (rank p·(n−1) = 25/75
    // exactly on integers), fences at −50/150 → exactly the plant above
    val vals = ((0 to 99).map(_.toDouble) :+ 1000.0).map(Tuple1(_))
      .toDF("v")
    val got = graft.operators.Quality.iqrFences(vals, Seq("v"))
      .collect().head
    assert(got.getString(0) == "v")
    assert(got.getDouble(1) == 25.0 && got.getDouble(2) == 75.0, got)
    assert(got.getDouble(4) == -50.0 && got.getDouble(5) == 150.0, got)
    assert(got.getLong(6) == 0L && got.getLong(7) == 1L, got)
  }

  test("seasonalBaseline: constant series has zero residuals; spike isolates to its phase") {
    val base = (0L to 27L).map(t => (t, 10L))
    val spiked = base.map { case (t, x) => (t, if (t == 13L) 24L else x) }
    val quiet = graft.operators.TimeSeries
      .seasonalBaseline(base.toDF("t", "x"), "t", "x", period = 7)
      .collect()
    assert(quiet.forall(_.getDouble(4) == 0.0), quiet.mkString(","))
    // t=13 is phase 6; its phase mean over 4 weeks = (10·3+24)/4 = 13.5
    val got = graft.operators.TimeSeries
      .seasonalBaseline(spiked.toDF("t", "x"), "t", "x", period = 7)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got(13L) == ((13.5, 10.5)), got(13L))
    assert(got(6L) == ((13.5, -3.5)), got(6L))
    assert(got(14L)._2 == 0.0, got(14L))
  }

  test("bpeMerges: hand-computed merge chain, lexicographic ties, equal-pair runs") {
    // freqs: banana×3, band×2, bans×1 → round 1 (a,n) c=9; round 2
    // (b,an) c=6; round 3 ties (an,a)=3 vs (ban,an)=3 → lexicographic
    // smallest lhs wins: (an,a) → "ana"
    val docs = Seq((1L, "banana banana band"), (2L, "banana band bans"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.bpeMerges(docs, "text", rounds = 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq((1L, "a", "n", "an", 9L),
      (2L, "b", "an", "ban", 6L), (3L, "an", "a", "ana", 3L)), got.toSeq)
    // equal-pair run: "aaaa" merges greedily at alternating positions —
    // round 1 (a,a) counts 3 per word, rewrite [aa,aa]; round 2 (aa,aa)
    val runs = Seq((1L, "aaaa aaaa aaaa")).toDF("doc_id", "text")
    val got2 = graft.operators.TextAnalysis.bpeMerges(runs, "text", rounds = 2)
      .collect().map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    assert(got2.toSeq == Seq((1L, "aa", 9L), (2L, "aaaa", 3L)), got2.toSeq)
  }

  test("q49 SCD-2: per customer exactly one open row, intervals tile without gaps") {
    val rows = graft.SparkEntry.queries("q49_scd2")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toString, r.getDate(3).toString, r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cust, ivs) =>
      // exactly one current row, and it carries the open-end sentinel
      val current = ivs.filter(_._5 == 1L)
      assert(current.length == 1, s"cust $cust: ${ivs.mkString(",")}")
      assert(current.head._4 == "9999-12-31", current.head)
      // rows arrive ordered; each closed row's valid_to equals the next
      // row's valid_from (contiguous tiling), and runs truly collapsed:
      // consecutive intervals never share a priority
      ivs.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 == b._3, s"cust $cust gap: $a -> $b")
          assert(a._2 != b._2, s"cust $cust uncollapsed run: $a -> $b")
        case _ =>
      }
    }
  }

  test("tableFingerprint: order-invariant, and any row change moves the checksum") {
    import graft.operators.Quality
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    def fp(df: org.apache.spark.sql.DataFrame) =
      Quality.tableFingerprint(df, Seq("k", "s")).collect().head
    def ck(r: org.apache.spark.sql.Row): String = r.getString(1)
    val f0 = fp(base)
    // row order and partitioning are invisible to the additive fold
    assert(fp(base.repartition(7)).toString == f0.toString)
    assert(fp(base.orderBy(desc("k"))).toString == f0.toString)
    // one changed value, one duplicated row, one dropped row all move it
    assert(ck(fp(Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "s"))) != ck(f0))
    val dup = fp(base.unionAll(Seq((3L, "c")).toDF("k", "s")))
    assert(dup.getLong(0) == 4L && ck(dup) != ck(f0))
    assert(ck(fp(base.filter($"k" =!= 2L))) != ck(f0))
    // NULL and empty string fingerprint differently (sentinel render)
    val n1 = fp(Seq((1L, null: String)).toDF("k", "s"))
    val n2 = fp(Seq((1L, "")).toDF("k", "s"))
    assert(ck(n1) != ck(n2))
    // the delimiter is escaped: shifting a '|' across the field
    // boundary must change the fingerprint (the render is unambiguous)
    val p1 = fp(Seq((1L, "a|b")).toDF("kx", "s").toDF("k", "s")
      .selectExpr("'a|b' as k", "'c' as s"))
    val p2 = fp(Seq((1L, "x")).toDF("kx", "s")
      .selectExpr("'a' as k", "'b|c' as s"))
    assert(ck(p1) != ck(p2), s"${ck(p1)} vs ${ck(p2)}")
  }

  test("kFoldAssign: folds partition sources, stay in range, vary by seed") {
    import graft.operators.Sampling
    val d = Tables.load(spark, sf, "documents")
    val a = Sampling.kFoldAssign(d, "source", 5)
      .select("source", "fold").collect()
      .map(r => r.getString(0) -> r.getLong(1))
    assert(a.forall { case (_, f) => f >= 0 && f < 5 }, "fold out of range")
    // leakage-safety: one fold per source
    a.groupBy(_._1).foreach { case (src, fs) =>
      assert(fs.map(_._2).distinct.length == 1, s"source $src straddles folds")
    }
    // the gate corpus populates every fold
    assert(a.map(_._2).distinct.length == 5, a.map(_._2).distinct.toSeq.toString)
    // the folds come from the "cv1"-salted hash; another seed through
    // the same hash is a different partition. Compare ASSIGNMENTS, not
    // row order — a mere ordering difference must not satisfy this
    def foldsOf(seed: String) = d
      .select(col("source"), conv(Sampling.seededHex8(seed, "source"), 16, 10)
        .cast("long").as("_u"))
      .select(col("source"), expr("(_u * 5) div 4294967296").as("fold"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(foldsOf("cv1") == a.toMap, "kFoldAssign is not the cv1-salted hash")
    assert(foldsOf("cv2") != a.toMap, "seeds cv1/cv2 produced identical folds")
  }

  test("stickiness: DAU/WAU window boundary at exactly 7 days") {
    import graft.operators.TimeSeries
    def ts(d: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // user 3 is active ONLY on day 1 — exactly 7 days before day 8, so
    // it sits OUTSIDE day 8's trailing window [2..8]; a window
    // erroneously spanning 8 days would count it
    val ev = Seq((1L, ts(1)), (1L, ts(8)), (2L, ts(2)), (2L, ts(8)),
      (3L, ts(1))).toDF("user_id", "ts")
    val got = TimeSeries.stickiness(ev).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("2024-01-01") == ((2L, 2L)), got.toString)
    assert(got("2024-01-02") == ((1L, 3L)), got.toString) // window spans day 1
    // day 8: users 1+2 active (dau 2); window [2..8] excludes user 3
    assert(got("2024-01-08") == ((2L, 2L)), got.toString)
  }

  test("kFoldAssign: NULL group is unaliasable and seeds are domain-separated") {
    import graft.operators.Sampling
    // a huge k makes the 32-bit fold slice fine-grained enough that
    // distinct hash inputs visibly map to distinct folds (all values
    // below are deterministic md5 arithmetic, not chance)
    val k = 1000000
    val d = Seq(Option("NULL"), Option("n"), Option.empty[String])
      .toDF("g")
    val folds = Sampling.kFoldAssign(d, "g", k).collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(folds.values.toSeq.distinct.length == 3,
      s"NULL / 'NULL' / 'n' keys collided: $folds")
    // seed "a_b"+key "c" vs seed "a"+key "b_c" through the salted hash
    // kFoldAssign folds: the old seed+"_"+key concat hashed these
    // identically; the digest prefix must not
    val c = Seq(Option("c")).toDF("g")
    val bc = Seq(Option("b_c")).toDF("g")
    val f1 = c.select(Sampling.seededHex8("a_b", "g")).head().getString(0)
    val f2 = bc.select(Sampling.seededHex8("a", "g")).head().getString(0)
    assert(f1 != f2, s"aliased seed/key pairs still collide: $f1")
  }

  test("poissonReplicates: aliased seed/key pairs draw independent counts") {
    import graft.operators.Sampling
    // poissonReplicates draws from the salted hash (seed "bs1"); under
    // the old seed+"_"+key concat these two configurations were the
    // SAME hash stream key-for-key; across 500 keys the hash streams
    // must now differ somewhere (deterministic, not flaky)
    def hashes(seed: String, prefix: String) =
      (1 to 500).map(i => s"$prefix$i").toDF("k")
        .select(col("k"), Sampling.seededHex8(seed, "k")).collect()
        .map(r => r.getString(0).split("_").last -> r.getString(1)).toMap
    assert(hashes("a_b", "c") != hashes("a", "b_c"),
      "seed a_b/key c... and seed a/key b_c... still alias")
  }

  test("gapFill: above maxBroadcastKeys the grid path matches the broadcast path") {
    import graft.operators.TimeSeries
    def ts(d: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    val roll = Seq(("a", ts(1), 3L), ("a", ts(4), 1L), ("b", ts(2), 7L),
      ("c", ts(1), 2L), ("c", ts(3), 9L)).toDF("k", "ts", "n")
    def run(ceiling: Long) = TimeSeries.gapFillGrid(roll, "ts", "k",
        expr("INTERVAL '1' DAY"), zeroCols = Seq("n"), ffillCols = Nil,
        maxBroadcastKeys = ceiling)
      .collect().map(r => (r.getString(1), r.getTimestamp(0), r.getLong(2)))
      .toSet
    val broadcastPath = run(1000000L)
    val distributedPath = run(2L) // 3 keys > 2 forces the cartesian
    assert(broadcastPath == distributedPath)
    assert(broadcastPath.size == 12, s"3 keys x 4 days: $broadcastPath")
  }

  test("ewmaTruncated: the deepest kept weight 2^-13 is exact at DECIMAL(14,13)") {
    import graft.operators.TimeSeries
    // an impulse 2^13 at t = 0 reaches t = 12 only through the deepest
    // kept weight 0.5^13: ewma(12) = (2^-13 · 2^13) / Σ_{0..12} 2^-(lag+1)
    // = 1 / (1 − 2^-13), both operands exact — a rounded weight moves it
    val s = (0L to 20L).map(t => (t, if (t == 0) 8192L else 0L)).toDF("t", "x")
    val got = TimeSeries.ewmaTruncated(s, "t", "x")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got(12L) == 1.0 / 0.9998779296875, got.toString)
    // past the truncation the impulse is gone entirely
    assert(got(13L) == 0.0, got.toString)
  }

  test("stickiness: NULL users count toward neither DAU nor WAU") {
    import graft.operators.TimeSeries
    def ts(d: Int): java.sql.Timestamp =
      java.sql.Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val ev = Seq((Option(1L), ts(1)), (Option(2L), ts(1)),
      (Option.empty[Long], ts(1))).toDF("user_id", "ts")
    val got = TimeSeries.stickiness(ev).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    // pre-fix: the NULL row pushed DAU to 3 while countDistinct kept
    // WAU at 2 — a ratio of 1.5 from an asymmetry, not engagement
    assert(got.toSeq == Seq((2L, 2L, 1.0)), got.toSeq.toString)
  }

  test("autocorrelation: the n·Σx² < 2⁶³ bound raises instead of wrapping") {
    import graft.operators.TimeSeries
    val hot = Seq((1L, 4000000000L), (2L, 4000000000L)).toDF("t", "x")
    val ex = intercept[Exception] {
      TimeSeries.autocorrelation(hot, "t", "x", maxLag = 1).collect()
    }
    assert(ex.getMessage.contains("autocorrelation"), ex.getMessage)
    // the guard is inert for in-bounds series
    val ok = (1L to 10L).map(t => (t, t % 3)).toDF("t", "x")
    assert(TimeSeries.autocorrelation(ok, "t", "x", maxLag = 2)
      .collect().length == 2)
    // empty and all-NULL series are ABSENCE, not overflow — they pass
    // the guard and return empty, as before the guard existed
    val empty = Seq.empty[(Long, Long)].toDF("t", "x")
    assert(TimeSeries.autocorrelation(empty, "t", "x", maxLag = 2)
      .collect().isEmpty)
    val nulls = Seq((1L, Option.empty[Long]), (2L, Option.empty[Long]))
      .toDF("t", "x")
    assert(TimeSeries.autocorrelation(nulls, "t", "x", maxLag = 1)
      .collect().isEmpty)
  }

  test("neymanAllocation: moment and k·u_h overflow bounds raise instead of wrapping") {
    val hot = Seq(("a", 4000000000L), ("a", 4000000000L),
      ("b", 1L), ("b", 2L)).toDF("stratum", "v")
    val ex = intercept[Exception] {
      Sampling.neymanAllocation(hot, "stratum", "v", 10).collect()
    }
    assert(ex.getMessage.contains("neymanAllocation"), ex.getMessage)
    // an all-NULL-valued stratum is absence, not overflow — the job
    // survives and the healthy stratum still earns its allocation
    val withNulls = Seq(("a", Option(1L)), ("a", Option(3L)),
      ("b", Option.empty[Long]), ("b", Option.empty[Long]))
      .toDF("stratum", "v")
    val al = Sampling.neymanAllocation(withNulls, "stratum", "v", 10)
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(al.getOrElse("a", 0L) > 0L, al.toString)
  }

  test("languageIdentify: planted docs hit their language; degenerate text is und") {
    import graft.operators.TextAnalysis
    val planted = graft.queries.PipelineQueries.LidPlantedDocs
    val df = planted.map { case (id, _, t) => (id, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.languageIdentify(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    planted.foreach { case (id, lang, _) =>
      assert(got(id) == lang, s"doc $id: expected $lang got ${got(id)}")
    }
    // shorter than one trigram after normalization → labeled, not lost
    val deg = Seq((1L, ""), (2L, " "), (3L, "the cat and the dog sat"))
      .toDF("doc_id", "text")
    val dg = TextAnalysis.languageIdentify(deg, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(4))).toSeq
      .sortBy(_._1)
    assert(dg(0) == ((1L, "und", 0.0)) && dg(1) == ((2L, "und", 0.0)), dg)
    assert(dg(2)._2 == "en", dg)
  }

  test("languageIdentify minGrams: fragments abstain to und instead of a confident wrong label") {
    import graft.operators.TextAnalysis
    // a 3-word fragment whose few trigrams happen to overlap a profile
    // gets SOME confident label; a cascade abstaining on the reported
    // n_grams (the documented minGrams = 10 cutoff) must turn it "und"
    // — while a sentence-length doc still classifies (the cutoff only
    // silences fragments)
    val docs = Seq(
      (1L, "que de la"), // 3 short function words — profile-overlap bait
      (2L, "the quick brown fox jumps over the lazy dog and runs on"))
      .toDF("doc_id", "text")
    val minGrams = 10
    val strict = TextAnalysis.languageIdentify(docs, "doc_id", "text")
      .withColumn("language",
        when(col("n_grams") < minGrams, "und").otherwise(col("language")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3))).toSeq
      .sortBy(_._1)
    assert(strict(0)._2 == "und", s"fragment not abstained: $strict")
    assert(strict(0)._3 < 10, s"fragment unexpectedly long: $strict")
    assert(strict(1)._2 == "en", s"sentence lost to the cutoff: $strict")
    // default behavior unchanged: the fragment DOES classify (the
    // misclassification floor the scaladoc documents)
    val loose = TextAnalysis.languageIdentify(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(loose(1L) != "und", loose.toString)
  }

  test("bpeEncode: replays trained merges — token counts shrink and match by hand") {
    import graft.operators.TextAnalysis
    // corpus: "ab" dominates; round 1 merges (a,b). Word "aab" is then
    // [a, ab] (greedy non-overlap), "abab" is [ab, ab]
    val docs = Seq((1L, "ab ab abab aab"), (2L, "ab cd"), (3L, ""))
      .toDF("doc_id", "text")
    val merges = TextAnalysis.bpeMerges(docs, "text", rounds = 1)
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // doc 1: ab(1) + ab(1) + abab(2) + aab(2) = 4 words, 6 tokens
    assert(got(1L) == ((4L, 6L)), got.toString)
    // doc 2: ab(1) + cd(2) = 2 words, 3 tokens
    assert(got(2L) == ((2L, 3L)), got.toString)
    // empty doc keeps a zero row
    assert(got(3L) == ((0L, 0L)), got.toString)
    // a gapped merge table (round 2 only) must fail loudly, not empty
    // the type table at the crossJoin
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(docs, "doc_id", "text",
        merges.withColumn("round", col("round") + 1))
    }
    // rounds {0, 2} pass the max==count==distinct triple (2, 2, 2) but
    // leave round 1 empty — the min(round)==1 bound must reject it
    val two = TextAnalysis.bpeMerges(docs, "text", rounds = 2)
    intercept[IllegalArgumentException] {
      TextAnalysis.bpeEncode(docs, "doc_id", "text",
        two.withColumn("round",
          when(col("round") === 1, lit(0L)).otherwise(col("round"))))
    }
    // a hand-built merge table with an INT round column is the same
    // artifact — the contract is on the value, not the column width
    val intRound = merges.withColumn("round",
      col("round").cast(org.apache.spark.sql.types.IntegerType))
    val got2 = TextAnalysis.bpeEncode(docs, "doc_id", "text", intRound)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got2 == got, got2.toString)
  }

  test("pageRankClassic: sink mass redistributes — Σr = 1 and sinks outrank pageRank's zero") {
    import graft.operators.Graph
    // star: 1..4 all point at 5; 5 has no out-edges (pure sink).
    // pageRank drops node 5 entirely (no out-edge) AND leaks its mass;
    // the classic variant keeps it and conserves Σr = 1.
    val edges = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L)).toDF("src", "dst")
    val r = Graph.pageRankClassic(edges, iterations = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r.size == 5, s"classic must score sinks too: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-9,
      s"mass not conserved: ${r.values.sum}")
    assert(r(5L) > r(1L), s"the sink hub must dominate: $r")
    // spokes are symmetric
    assert(r(1L) == r(2L) && r(2L) == r(3L) && r(3L) == r(4L), r.toString)
    // partition invariance (the pageRank discipline)
    val again = Graph.pageRankClassic(edges.repartition(7), iterations = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r == again)
  }

  test("ivfTopK twoLevelAssign: leader-scan assignment stays near the exact-assign recall") {
    // the 100x-rehearsal fix: assignment via √nlist leaders instead of
    // all nlist centroids (N·O(√nlist), not N·nlist). Approximate by
    // design — recall must stay within a bounded gap of exact-assign
    // and the output contract (k rows per query, no self) must hold.
    val e = Tables.load(spark, sf, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(q, e, 5).select("qid", "cid")
    val n = exact.count().toDouble
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double =
      ann.select("qid", "cid").join(exact, Seq("qid", "cid")).count() / n
    val r1 = recallOf(Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = 6))
    val two = Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = 6,
      twoLevelAssign = true)
    val r2 = recallOf(two)
    assert(r2 >= 0.6 && r2 >= r1 - 0.2, s"two-level recall $r2 vs exact-assign $r1")
    val rows = two.collect()
    assert(rows.length == 50 && rows.forall(r => r.getLong(0) != r.getLong(1)))
    // probing more cells than the scanned leader groups expose fails loudly
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = 14,
        twoLevelAssign = true)
    }
  }

  test("hits: hubs and authorities separate on a bipartite graph, both L1-normalized") {
    import graft.operators.Graph
    // customers 1,2 → supplier 11; customer 1 also → 12, 13.
    // 1 buys more → bigger hub; 11 is bought by both → top authority.
    val edges = Seq((1L, 11L), (2L, 11L), (1L, 12L), (1L, 13L))
      .toDF("src", "dst")
    val r = Graph.hits(edges, iterations = 3).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r.size == 5, r.toString)
    assert(math.abs(r.values.map(_._1).sum - 1.0) < 1e-9, "hub mass")
    assert(math.abs(r.values.map(_._2).sum - 1.0) < 1e-9, "authority mass")
    assert(r(1L)._1 > r(2L)._1, s"customer 1 must out-hub customer 2: $r")
    assert(r(11L)._2 > r(12L)._2, s"supplier 11 must out-rank 12: $r")
    assert(r(12L)._2 == r(13L)._2, s"12 and 13 are symmetric: $r")
    // suppliers have no out-edges → zero hub; customers never bought → zero authority
    assert(r(11L)._1 == 0.0 && r(1L)._2 == 0.0, r.toString)
    val again = Graph.hits(edges.repartition(7), iterations = 3).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r == again, "partition invariance")
  }

  test("scriptProfile: planted scripts classify and counts are exact") {
    import graft.operators.TextAnalysis
    val planted = graft.queries.PipelineQueries.ScriptPlantedDocs
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptProfile(planted, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(9), r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(910001L)._1 == "cjk", got.toString)
    assert(got(910002L)._1 == "latin", got.toString)
    // mixed doc: "训练数据 training data 需要去重 dedup before use 123"
    // 37 token chars (8 hanzi + 26 latin + 3 digits) + 7 spaces = 44
    assert(got(910003L) == (("latin", 44L, 26L, 8L)), got.toString)
    assert(got(910004L)._1 == "other", got.toString) // digits only
    assert(got(910005L)._1 == "empty", got.toString)
    assert(got(910006L)._1 == "other", got.toString) // whitespace only
  }

  test("schemaDrift: added/removed/retyped/null-shifted columns all classify") {
    import graft.operators.Quality
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, null.asInstanceOf[String], 30))
      .toDF("id", "name", "old_col")
    val next = Seq((1L, 1.5, "x"), (2L, 2.5, null.asInstanceOf[String]))
      .toDF("id", "name", "new_col") // name retyped string→double
    val got = Quality.schemaDrift(base, next).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(4),
        if (r.isNullAt(7)) -1.0 else r.getDouble(7),
        if (r.isNullAt(8)) -1.0 else r.getDouble(8)))).toMap
    assert(got("id") == (("common", 0L, 0.0, 0.0)), got.toString)
    assert(got("name")._1 == "common" && got("name")._2 == 1L, got.toString)
    assert(got("name")._3 == 1.0 / 3.0, got.toString) // base: 1 of 3 null
    assert(got("old_col") == (("removed", 0L, 0.0, -1.0)), got.toString)
    assert(got("new_col") == (("added", 0L, -1.0, 0.5)), got.toString)
    // an EMPTY snapshot: null fractions report 0.0 (never 0/0 → NULL,
    // which would read as "column absent") and emptiness shows in the
    // row counts
    val gotE = Quality.schemaDrift(base, next.limit(0)).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), if (r.isNullAt(6)) -1L else r.getLong(6),
          if (r.isNullAt(8)) -1.0 else r.getDouble(8))))
      .toMap
    assert(gotE("id") == (("common", 0L, 0.0)), gotE.toString)
    assert(gotE("old_col")._3 == -1.0, gotE.toString) // absent stays NULL
  }

  test("personalizedPageRank: mass stays in the seed component and peaks at the seed") {
    import graft.operators.Graph
    // two components: a 1–2–3 triangle seeded at 1 (a path would be
    // bipartite and oscillate), and an unseeded 10–11 pair —
    // restart-to-seeds must leave the unseeded component at exactly 0
    // and concentrate rank at the seed, symmetrically on 2/3
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (3L, 2L), (10L, 11L), (11L, 10L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("v")
    val r = Graph.personalizedPageRank(edges, seeds, iterations = 4)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(r(10L) == 0.0 && r(11L) == 0.0, r.toString)
    assert(r(1L) > r(2L) && r(2L) == r(3L) && r(3L) > 0.0, r.toString)
    // walk + restart conserve mass up to the damping leak at sinks
    assert(math.abs(r.values.sum - 1.0) < 0.2, r.toString)
  }

  test("lloydRounds: members conserved each round, total inertia strictly decreases") {
    import graft.operators.Clustering
    val e = Tables.load(spark, sf, "embeddings")
    val n = e.count()
    val rows = Clustering.lloydRounds(e, 8, rounds = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    for (round <- Seq(1L, 2L)) {
      val rr = rows.filter(_._1 == round)
      assert(rr.map(_._3).sum == n, s"round $round loses members: ${rr.toSeq}")
    }
    val i1 = rows.filter(_._1 == 1L).map(_._4).sum
    val i2 = rows.filter(_._1 == 2L).map(_._4).sum
    // Lloyd guarantees non-increase with exact means; the ±1e-6
    // centroid quantization is orders of magnitude below the observed
    // drop (~40% on this corpus), so strict decrease is safe to pin
    assert(i2 < i1, s"inertia did not decrease: $i1 -> $i2")
  }

  test("kNN graph: every vector appears as a query with 3 distinct non-self neighbors") {
    import graft.operators.Similarity
    val e = Tables.load(spark, sf, "embeddings")
    val knn = Similarity.ivfTopK(e, e, 3, nlist = 16, nprobe = 6,
        pinProbeParallelism = true)
      .select("qid", "cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(knn.forall { case (q, c) => q != c }, "self-edge in kNN graph")
    val byQ = knn.groupBy(_._1)
    assert(byQ.size == e.count(), s"${byQ.size} queries for ${e.count()} vectors")
    byQ.foreach { case (q, es) =>
      assert(es.map(_._2).distinct.length == 3, s"query $q edges: ${es.toSeq}")
    }
  }

  test("attribution: lookback boundary, first/last tie-break, zero-touch conversions") {
    import graft.operators.Funnel
    def ts(h: Double): java.sql.Timestamp =
      new java.sql.Timestamp((h * 3600 * 1000).toLong)
    // window for a conversion at t=100h with 72h lookback is (28h, 100h]
    val ev = Seq(
      (10L, ts(100.0), 1L, "purchase"),
      (11L, ts(100.0), 1L, "click"),   // same instant: included
      (12L, ts(50.0), 1L, "view"),
      (13L, ts(29.0), 1L, "click"),    // inside, earliest
      (14L, ts(28.0), 1L, "view"),     // exactly -72h: excluded (strict >)
      (15L, ts(101.0), 1L, "click"),   // after conversion: excluded
      (20L, ts(100.0), 2L, "purchase"), // no touches at all
      (30L, ts(100.0), 3L, "purchase"),
      (31L, ts(40.0), 3L, "click"),    // tie on ts with 32
      (32L, ts(40.0), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val got = Funnel.attribution(ev, Seq("view", "click"), "purchase", 72)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), Option(r.get(4)).map(_.toString),
          Option(r.get(5)).map(_.toString))).toMap
    assert(got(10L) == ((3L, Some("13"), Some("11"))), got.toString)
    assert(got(20L) == ((0L, None, None)), got.toString)
    // equal-ts touches: first breaks to the SMALLER id, last to the larger
    assert(got(30L) == ((2L, Some("31"), Some("32"))), got.toString)
  }

  test("poissonReplicates: partition-invariant, seed-independent, contiguous reps") {
    import graft.operators.Sampling
    val keys = (1L to 2000L).toDF("k")
    def draw(df: org.apache.spark.sql.DataFrame) =
      Sampling.poissonReplicates(df, "k").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
    val a = draw(keys).sortBy(identity)
    val b = draw(keys.repartition(7)).sortBy(identity)
    assert(a.sameElements(b), "resample depends on partitioning")
    // replicate indices per key are exactly 1..count
    a.groupBy(_._1).foreach { case (k, rs) =>
      assert(rs.map(_._2).sorted.sameElements(1 to rs.length), s"key $k: ${rs.toSeq}")
    }
    // mean replicate count ≈ λ=1 over ALL keys (dropped zeros included)
    assert(math.abs(a.length / 2000.0 - 1.0) < 0.1, s"${a.length} replicas")
    // the draw is the "bs1"-salted hash; another seed through the same
    // hash is a genuinely different resample
    def hex(seed: String) = keys.select(Sampling.seededHex8(seed, "k"))
      .collect().map(_.getString(0)).toSeq
    assert(hex("bs1") != hex("bs2"), "seeds bs1/bs2 hash identically")
  }

  test("curationReport: filter precedence and each verdict class on planted docs") {
    import graft.operators.TextAnalysis
    // one doc engineered per verdict class, plus a precedence probe:
    // doc 1 fails BOTH too_short and non_target_lang — the cascade must
    // label it with the higher-priority too_short
    // long + fluent + non-repeating: every third token a stopword, the
    // rest unique so no bigram ever repeats
    val many = (1 to 100).map(i => if (i % 3 == 0) "the" else s"word$i")
      .mkString(" ")
    val docs = Seq(
      (1L, "alpha beta gamma"),                              // short AND 0 stopwords
      (2L, (1 to 25).map(i => s"tok$i").mkString(" ")),      // 25 tokens, 0 stopwords
      (3L, ("the cat sat " * 10).trim + " extra"),           // stopword-ok, dup 2-grams
      (4L, "the " + (1 to 24).map(i => s"w$i").mkString(" ")), // sr=0.04, distinct, low composite
      (5L, many))                                            // long + fluent → keep
      .toDF("doc_id", "text")
    val got = TextAnalysis.curationReport(docs, "doc_id", "text")
      .select("doc_id", "verdict").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "too_short", got.toString)
    assert(got(2L) == "non_target_lang", got.toString)
    assert(got(3L) == "repetitive", got.toString)
    assert(got(4L) == "low_quality", got.toString)
    assert(got(5L) == "keep", got.toString)
  }

  test("curationReport: gate corpus populates every verdict class") {
    import graft.operators.TextAnalysis
    val verdicts = TextAnalysis
      .curationReport(Tables.load(spark, sf, "documents"), "doc_id", "text")
      .groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for (v <- Seq("keep", "too_short", "non_target_lang", "repetitive",
      "low_quality"))
      assert(verdicts.getOrElse(v, 0L) > 0, s"class $v empty: $verdicts")
    // keep must dominate — a threshold regression that rejects the
    // majority of a normal corpus is a curation bug, not a tuning choice
    assert(verdicts("keep") > verdicts.values.sum / 2, verdicts.toString)
  }
}
