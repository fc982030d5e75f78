package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Clustering, Dedup, Similarity, TextAnalysis}

/** Dev utility: measure the scaling curve of the LSH dedup and ANN
  * operators on a synthetic 10× blow-up of the sf0.1 corpus — evidence
  * that the designs are near-linear in corpus size, not just fast at
  * the gate SF.
  *
  * The 10× corpus is built so the WORKLOAD scales with the data:
  * - documents: replica k prefixes every word with "k#", so replicas
  *   share no shingles with their originals (cross-replica Jaccard ~0)
  *   while each replica preserves the original duplicate structure —
  *   dup rate constant, candidate volume grows with the corpus.
  * - embeddings: replica k keeps the vector (queries stay the 10
  *   originals); LSH/IVF bucket populations grow 10×, so probe-join
  *   volume scales the way a denser real corpus would.
  *
  * Usage: runMain graft.tools.ScaleRehearsal [sfDir] [workDir]
  * (SCALE.md's rows ran at local[32]: set SPARK_GRAFT_CPUS=32)
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = args.lift(1).getOrElse("/tmp/graft-scale")
    val spark = graft.GraftSession.builder().getOrCreate()
    val rec = Profile.Recorder.attach(spark.sparkContext)

    def replicate(df: DataFrame, factor: Int, mutate: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => mutate(df, k)).reduce(_ unionAll _)

    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val emb = graft.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")

    // optional 4th arg: only measure rows whose label contains it
    val rowFilter = args.lift(3)
    def measure(label: String)(body: => Long): Unit = {
      if (rowFilter.exists(f => !label.contains(f))) return
      rec.reset()
      val t0 = System.nanoTime()
      val n = body
      val sec = (System.nanoTime() - t0) / 1e9
      val mb = rec.stages.map(_.shuffleWriteBytes).sum / 1e6
      println(f"[scale] $label%-28s rows=$n%10d  ${sec}%7.2f s  shuffle=${mb}%9.1f MB")
    }

    def docsAt(path: String): DataFrame =
      graft.Tables.spread(spark.read.parquet(path), "doc_id")
    def embAt(path: String): DataFrame = spark.read.parquet(path)

    // r16 mode: ONLY the second-decade rows this round adds — dd16
    // banded hamming (the most expensive non-graph family still
    // single-decade), etl01 render→parse→aggregate (the reference's
    // actual workload, never scaled past sf0.1), and the sim12-shape
    // two-level re-measure under the candidateGroups=2 default.
    // Replicas generate only if absent so the mode is re-runnable.
    if (args.lift(2).contains("r16")) {
      // a replica counts as present only with its _SUCCESS marker: a
      // killed partial write leaves the bare directory, and silently
      // reusing it would record "100×" rows against a truncated corpus
      def ensure(path: String)(gen: => Unit): Unit = {
        val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
        val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!f.exists(p)) gen
      }
      def docsReplica(factor: Int, path: String): Unit =
        replicate(docs, factor, { (d, k) =>
          d.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
            if (k == 0) col("text")
            else concat_ws(" ",
              transform(split(col("text"), " "),
                w => concat(lit(s"$k#"), w))).as("text"))
        }).write.mode("overwrite").parquet(path)
      def embReplica(factor: Int, path: String): Unit =
        replicate(emb, factor, { (d, k) =>
          d.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
            col("embedding"))
        }).write.mode("overwrite").parquet(path)
      val liNarrow = graft.Tables.load(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_linenumber",
          "l_partkey")
      def liReplica(factor: Int, path: String): Unit =
        replicate(liNarrow, factor, { (d, k) =>
          d.select((col("l_orderkey") + lit(k * 100000000L)).as("l_orderkey"),
            col("l_suppkey"), col("l_shipdate"), col("l_linenumber"),
            col("l_partkey"))
        }).repartition(32 * factor).write.mode("overwrite").parquet(path)
      ensure(s"$work/documents10x.parquet")(docsReplica(10, s"$work/documents10x.parquet"))
      ensure(s"$work/documents100x.parquet")(docsReplica(100, s"$work/documents100x.parquet"))
      ensure(s"$work/embeddings10x.parquet")(embReplica(10, s"$work/embeddings10x.parquet"))
      ensure(s"$work/embeddings100x.parquet")(embReplica(100, s"$work/embeddings100x.parquet"))
      ensure(s"$work/lineitem1x.parquet")(liReplica(1, s"$work/lineitem1x.parquet"))
      ensure(s"$work/lineitem10x.parquet")(liReplica(10, s"$work/lineitem10x.parquet"))
      ensure(s"$work/lineitem100x.parquet")(liReplica(100, s"$work/lineitem100x.parquet"))

      // dd16 shape: simHash + banded hamming self-join. Replica k's
      // "k#" word prefixes re-randomize every token hash, so replica
      // simhashes disperse like fresh documents — band-block
      // population grows linearly with the corpus, which is exactly
      // the quadratic-vs-linear question this row answers.
      for ((tag, dp) <- Seq(("1x", s"$sfDir/documents.parquet"),
          ("10x", s"$work/documents10x.parquet"),
          ("100x", s"$work/documents100x.parquet"))) {
        measure(s"dd16_hamming_pairs $tag") {
          val h = Dedup.simHash(docsAt(dp), "doc_id", "text")
            .localCheckpoint() // the scaladoc contract: materialize
          Dedup.hammingPairs(h, "doc_id", "simhash", maxDist = 3).count()
        }
      }

      // etl01 shape: render one synthetic S3 access-log line per
      // lineitem row, parse through the REAL fused parser, aggregate —
      // the reference's whole workload (s3_server_access_logs.py
      // compact()), measured across two decades. Wall must scale with
      // line count (the parse is a narrow codegen pass); shuffle is
      // the 5 narrow render columns plus the 10-group aggregate.
      for ((tag, lp) <- Seq(("1x", s"$work/lineitem1x.parquet"),
          ("10x", s"$work/lineitem10x.parquet"),
          ("100x", s"$work/lineitem100x.parquet"))) {
        measure(s"etl01_compact      $tag") {
          val li = spark.read.parquet(lp)
          val lines = li.select(format_string(
            "owner%d bkt%d [%s +0000] 10.0.0.1 arn:aws:iam::1:r REQ%d " +
              "REST.GET.OBJECT key/%d \"GET /k HTTP/1.1\" %d - %d 1024 5 4 " +
              "\"-\" \"agent/1.0\" - host= SigV4 TLS_AES_128_GCM_SHA256 " +
              "AuthHeader h.example.com TLSv1.3 - -",
            col("l_orderkey"), col("l_suppkey") % 10,
            date_format(col("l_shipdate"), "dd/MMM/yyyy:HH:mm:ss"),
            col("l_orderkey") * 10 + col("l_linenumber"),
            col("l_partkey"),
            lit(200) + (col("l_linenumber") % 5),
            col("l_orderkey") % 100000).as("value"))
          graft.sources.S3AccessLog.parse(lines, dropBlanks = false)
            .groupBy(col("s3_bucket"))
            .agg(count(lit(1)).as("n"), sum(col("bytes_sent")).as("b"))
            .count()
        }
      }

      // ta12 winnowing: scan-fused HOF array math — zero shuffle
      // before the output explode; wall must track token volume
      for ((tag, dp) <- Seq(("1x", s"$sfDir/documents.parquet"),
          ("10x", s"$work/documents10x.parquet"),
          ("100x", s"$work/documents100x.parquet"))) {
        measure(s"ta12_winnow        $tag") {
          TextAnalysis.winnow(docsAt(dp), "doc_id", "text").count()
        }
      }

      // dd15 SemDeDup with k ∝ N (the scaladoc's design contract):
      // pair volume Σ|cluster|² stays ~linear when cluster width is
      // held constant across decades — the k-FIXED trap was measured
      // at 10× in r9; this is the same check one decade further out
      for ((tag, ep, k) <- Seq(("1x k=16", s"$sfDir/embeddings.parquet", 16),
          ("10x k=160", s"$work/embeddings10x.parquet", 160),
          ("100x k=1600", s"$work/embeddings100x.parquet", 1600))) {
        measure(f"dd15_semdedup $tag%-11s") {
          // twoLevelAutoK disarmed: this leg MEASURES the exact-assign
          // wall the auto heuristic exists to avoid
          Dedup.semanticDedup(embAt(ep), k, 0.99,
            twoLevelAutoK = Int.MaxValue)
            .filter(!col("keep")).count()
        }
      }

      // dd15 under the two-level assignment switch: the quadratic
      // exact-decimal assignment fold (718 s above) drops to
      // g + 2·(k/g) distances per vector — the τ-join is untouched
      measure("dd15_semdedup 100x 2lv") {
        Dedup.semanticDedup(embAt(s"$work/embeddings100x.parquet"), 1600,
          0.99, twoLevelAssign = true)
          .filter(!col("keep")).count()
      }

      // sim12-shape two-level under the r16 candidateGroups=2 default
      // (the r15 ledger ran cg=1): the candidate pass gains one more
      // bounded TopKAgg scan term — wall must stay in the ~120 s
      // regime at 100×, nowhere near the 497 s exact-assign wall.
      for ((tag, ep, nlist) <- Seq(("10x", s"$work/embeddings10x.parquet", 160),
          ("100x", s"$work/embeddings100x.parquet", 1600))) {
        measure(f"sim12_2lv_cg2 n=$nlist%-5d $tag%-4s") {
          val e = embAt(ep)
          Similarity.ivfTopK(e, e, 3, nlist = nlist, nprobe = 6,
            twoLevelAssign = true, pinProbeParallelism = true).count()
        }
      }
      spark.stop()
      return
    }

    // r17 mode: the three second-decade rows this round adds —
    // gr02 connected components (the heaviest graph row without a
    // measured 100×: convergence rounds × checkpoint cost is the term
    // to pin), IVF-PQ candidate assignment exact vs two-level at
    // corpus-scaled nlist (the sim17 quadratic-killer, measured), and
    // the st08 CDC merge contract (per-batch cost O(batch + touched
    // buckets), never O(table)) one and two decades out.
    // shared by the r17/r17b modes: generate-if-absent (keyed on the
    // _SUCCESS marker — a killed partial write must not be reused) and
    // the standard id-offset embeddings replica
    def ensureSuccess(path: String)(gen: => Unit): Unit = {
      val p = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) gen
    }
    def ensureEmbReplica(factor: Int): String = {
      val path = s"$work/embeddings${factor}x.parquet"
      ensureSuccess(path) {
        replicate(emb, factor, { (d, k) =>
          d.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
            col("embedding"))
        }).write.mode("overwrite").parquet(path)
      }
      path
    }
    // the gr02-shape edge corpus (supplier co-occurrence, 1×/10×/100×
    // id-offset replicas) — shared by the r17 / r18cc / r19cc modes.
    // All three read the SAME $work/edgesNx.parquet cache and
    // ensureSuccess skips regeneration, so the recipe must exist
    // exactly once: a second copy edited out of sync would leave the
    // other modes silently reading a stale file built by a different
    // recipe, invalidating cross-round comparisons.
    // `replicas` lists only the id-offset copies the CALLING mode will
    // actually read (the default mode reads 10× only — generating the
    // 100× replica there would be wasted work on a fresh work dir)
    def ensureGr02Edges(replicas: Seq[Int] = Seq(10, 100)): Unit = {
      ensureSuccess(s"$work/edges1x.parquet") {
        val ps = graft.Tables.load(spark, sfDir, "lineitem")
          .select("l_orderkey", "l_suppkey").distinct()
        ps.select(col("l_orderkey"), col("l_suppkey").as("s1"))
          .join(ps.select(col("l_orderkey"), col("l_suppkey").as("s2")),
            "l_orderkey")
          .filter(col("s1") < col("s2"))
          .groupBy("s1", "s2").agg(count(lit(1)).as("w"))
          .filter(col("w") >= 5)
          .select(col("s1").as("src"), col("s2").as("dst"))
          .write.mode("overwrite").parquet(s"$work/edges1x.parquet")
      }
      for (f <- replicas)
        ensureSuccess(s"$work/edges${f}x.parquet") {
          replicate(spark.read.parquet(s"$work/edges1x.parquet"), f, { (d, k) =>
            d.select((col("src") + lit(k * 10000000L)).as("src"),
              (col("dst") + lit(k * 10000000L)).as("dst"))
          }).write.mode("overwrite").parquet(s"$work/edges${f}x.parquet")
        }
    }
    // an n-node path with ASCENDING ids — the chain-shaped worst case
    // (each crawl near-dups the previous one) used by r18cc / r19cc
    def idChain(n: Long): DataFrame =
      spark.range(n - 1).select(col("id").as("src"),
        (col("id") + 1).as("dst"))

    // r18 mode: the receipt for the bucketed-registry fix (r17's one
    // open scale flank). Same constant batch and two-decade registry
    // growth as r17b, but the registry is the PERSISTED BUCKETED
    // banded table [[Dedup.writeBandedRegistry]] ships — the number to
    // watch is per-batch shuffle bytes, which must stay FLAT as the
    // registry grows (the re-band path's shuffle grows with the
    // registry: 207 MB at 100×, measured r17b). Both paths run at each
    // decade so the comparison is same-session.
    if (args.lift(2).contains("r18")) {
      def ensure(path: String)(gen: => Unit): Unit = ensureSuccess(path)(gen)
      for (f <- Seq(1, 10, 100))
        ensure(s"$work/regsigs${f}x.parquet") {
          val corpus = replicate(docs, f, { (d, k) =>
            d.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
              col("text"))
          })
          Dedup.minHashSignatures(
            Dedup.shingles(corpus, "doc_id", "text", 3), "doc_id", 32)
            .write.mode("overwrite").parquet(s"$work/regsigs${f}x.parquet")
        }
      // the banded bucketed registry asset, built once per decade; a
      // fresh JVM re-registers surviving data instead of rewriting it
      def ensureBandedTable(f: Int): String = {
        val tbl = s"graft_r18_reg_${f}x"
        val path = s"$work/regbanded${f}x"
        val succ = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
        val fs = succ.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(succ))
          Dedup.writeBandedRegistry(
            spark.read.parquet(s"$work/regsigs${f}x.parquet"), "doc_id",
            tbl, path, numHashes = 32, bands = 8, numBuckets = 32)
        else if (!spark.catalog.tableExists(tbl))
          spark.sql(
            s"""CREATE TABLE $tbl (doc_id BIGINT, band INT, bucket BIGINT,
               |sig ARRAY<BIGINT>) USING parquet
               |CLUSTERED BY (band, bucket) SORTED BY (band, bucket)
               |INTO 32 BUCKETS LOCATION '$path'""".stripMargin)
        tbl
      }
      // constant batch: ~half the 1× corpus plus 20 planted re-crawls
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .unionAll(docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
          .select((col("doc_id") + 10000001L).as("doc_id"), col("text")))
        .localCheckpoint()
      for (f <- Seq(1, 10, 100)) {
        val tbl = ensureBandedTable(f)
        measure(f"dd20_banded reg=${f}x") {
          Dedup.incrementalNearDupBanded(batch,
            spark.table(tbl).select("doc_id", "band", "bucket", "sig"),
            "doc_id", "text")
            .filter(!col("keep")).count()
        }
        val reg = spark.read.parquet(s"$work/regsigs${f}x.parquet")
        measure(f"dd19_reband reg=${f}x") {
          Dedup.incrementalNearDup(batch, reg, "doc_id", "text")
            .filter(!col("keep")).count()
        }
      }
      spark.stop()
      return
    }

    // r17b mode: receipts for the round's new family — the dd19/st10
    // incremental near-dup screen with the REGISTRY grown two decades
    // against a CONSTANT batch (the st08-update-style money curve:
    // per-batch cost must track the batch and its candidate buckets,
    // not the registry scan alone — the banded join's shuffle is the
    // number to watch), and the sim23 binary-quant scan vs the exact
    // double cosine scan at the same decades (the 64×-smaller-bytes
    // claim, measured).
    if (args.lift(2).contains("r17b")) {
      def ensure(path: String)(gen: => Unit): Unit = ensureSuccess(path)(gen)
      // registries: id-offset doc replicas KEEP their text (a re-crawl
      // matches every copy — candidate postings grow with the corpus,
      // the honest stress), persisted as parquet signatures exactly
      // like the production registry asset
      for (f <- Seq(1, 10, 100))
        ensure(s"$work/regsigs${f}x.parquet") {
          val corpus = replicate(docs, f, { (d, k) =>
            d.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
              col("text"))
          })
          Dedup.minHashSignatures(
            Dedup.shingles(corpus, "doc_id", "text", 3), "doc_id", 32)
            .write.mode("overwrite").parquet(s"$work/regsigs${f}x.parquet")
        }
      // constant batch: ~half the 1× corpus plus 20 planted re-crawls
      val batch = docs.filter(col("doc_id") % 2 === 1)
        .unionAll(docs.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
          .select((col("doc_id") + 10000001L).as("doc_id"), col("text")))
        .localCheckpoint()
      for (f <- Seq(1, 10, 100)) {
        val reg = spark.read.parquet(s"$work/regsigs${f}x.parquet")
        measure(f"dd19_screen reg=${f}x") {
          Dedup.incrementalNearDup(batch, reg, "doc_id", "text")
            .filter(!col("keep")).count()
        }
      }

      // sim23 binary-quant scan vs the exact cosine scan at decades:
      // the shortlist stage reads 1/64th the bytes per pair and does
      // integer xor/popcount instead of 64 double multiplies
      ensureEmbReplica(10); ensureEmbReplica(100)
      for ((tag, ep) <- Seq(("1x", s"$sfDir/embeddings.parquet"),
          ("10x", s"$work/embeddings10x.parquet"),
          ("100x", s"$work/embeddings100x.parquet"))) {
        val e = embAt(ep)
        val q = e.filter(col("vec_id") < 10)
        measure(f"sim23_bq_scan    $tag%-4s") {
          Similarity.bqTopK(q, e, 5).count()
        }
        // the served shape (sim24): hamming scan over PERSISTED codes —
        // this is where the 64×-smaller-bytes claim is realized; the
        // fused row above re-packs from raw doubles, so its scan cost
        // tracks the exact scan
        val codesDir = s"$work/bqcodes_$tag.parquet"
        ensure(codesDir) {
          Similarity.binaryCodes(e).write.mode("overwrite").parquet(codesDir)
        }
        measure(f"sim24_bq_served  $tag%-4s") {
          Similarity.bqSearch(q, spark.read.parquet(codesDir), e, 5).count()
        }
        measure(f"sim01_exact_scan $tag%-4s") {
          Similarity.cosineTopK(q, e, 5).count()
        }
      }
      spark.stop()
      return
    }

    // r18cc mode: the high-diameter receipt for the star-contraction
    // connectedComponents rewrite. CHAIN-shaped components (each crawl
    // near-dups the previous one — the worst case the r17 verdict
    // flagged): min-label BSP needs rounds = diameter, so its wall is
    // rounds × (join + checkpoint) and the chain length IS the round
    // count; star contraction's rounds grow ~log(chain), so the wall
    // tracks |E| × a handful of rounds at every decade. BSP runs only
    // at the two short chains (its cost is the point being proven —
    // 5k rounds at 5k nodes is not a row worth waiting for); star runs
    // the full two decades. Also re-measures the gr02 dup-graph shape
    // (shallow components) under star for direct comparison with r17's
    // BSP rows (2.45 / 2.88 / 5.25 s).
    if (args.lift(2).contains("r18cc")) {
      for (n <- Seq(512L, 2048L)) {
        measure(f"ccBSP  chain=$n%-7d") {
          Dedup.connectedComponentsBsp(idChain(n), maxIter = n.toInt + 5)
            .agg(countDistinct(col("cluster"))).head().getLong(0)
        }
      }
      for (n <- Seq(5000L, 50000L, 500000L)) {
        measure(f"ccStar chain=$n%-7d") {
          Dedup.connectedComponents(idChain(n), maxIter = 40)
            .agg(countDistinct(col("cluster"))).head().getLong(0)
        }
      }
      ensureGr02Edges()
      for (f <- Seq(1, 10, 100)) {
        measure(f"ccStar gr02-shape ${f}x") {
          Dedup.connectedComponents(
            spark.read.parquet(s"$work/edges${f}x.parquet")).count()
        }
      }
      spark.stop()
      return
    }

    // r19cc mode: the HYBRID receipt — connectedComponentsHybrid must
    // track BSP on the shallow gr02 shape (where r18cc measured star
    // paying ~1.6× at 100×) AND track star on chains (where BSP is
    // unbounded). Runs the same shapes as r18cc so the three
    // implementations compare row-for-row across rounds.
    if (args.lift(2).contains("r19cc")) {
      for (n <- Seq(5000L, 50000L, 500000L)) {
        measure(f"ccHybrid chain=$n%-7d") {
          Dedup.connectedComponentsHybrid(idChain(n), maxIter = 40)
            .agg(countDistinct(col("cluster"))).head().getLong(0)
        }
      }
      ensureGr02Edges()
      for (f <- Seq(1, 10, 100)) {
        measure(f"ccHybrid gr02-shape ${f}x") {
          Dedup.connectedComponentsHybrid(
            spark.read.parquet(s"$work/edges${f}x.parquet")).count()
        }
      }
      // BSP same-session reference on the shallow shape (r17's rows
      // were a different session/day — bench noise makes cross-day
      // comparison untrustworthy, ADVICE r18)
      for (f <- Seq(1, 10, 100)) {
        measure(f"ccBSP    gr02-shape ${f}x") {
          Dedup.connectedComponentsBsp(
            spark.read.parquet(s"$work/edges${f}x.parquet")).count()
        }
      }
      for (f <- Seq(1, 10, 100)) {
        measure(f"ccStar   gr02-shape ${f}x") {
          Dedup.connectedComponents(
            spark.read.parquet(s"$work/edges${f}x.parquet")).count()
        }
      }
      spark.stop()
      return
    }

    // r19skew mode: the IVF HOT-CELL receipt. The scenario is absorb-
    // past-the-drift-signal: an index built on a balanced corpus
    // absorbs a same-direction delta equal to the corpus (≥50% of the
    // grown index lands in ONE cell — exactly what sim29's cellShift
    // signal exists to catch, and this mode prints that the signal
    // fires). The serve-path question: does the cell-keyed candidate
    // join skew like q41's hot key? Answer measured here and pinned in
    // PipelineSpec: NO SHUFFLED JOIN EXISTS on the serve path — the
    // probe side (queries × nprobe) broadcasts into the cell table's
    // scan and the final top-k rides TopKAgg's ≤ k-per-(query ×
    // partition) partials, so a dominant cell adds map-side scoring
    // work that parallelizes over the cell table's partitions (no
    // straggler task, no AQE skew split needed — there is no skewed
    // exchange to split; q41's machinery covers the joins that DO
    // shuffle). Expect: shuffle bytes ~flat balanced→hot, wall growing
    // only with scanned-candidate volume.
    if (args.lift(2).contains("r19skew")) {
      val e10p = ensureEmbReplica(10)
      for ((tag, ep) <- Seq(("1x", s"$sfDir/embeddings.parquet"),
          ("10x", e10p))) {
        val e = embAt(ep).select("vec_id", "embedding")
        // base direction + per-row sub-2% jitter: mutually near-parallel,
        // so every planted row assigns to the SAME balanced-index cell
        // +500M: clear of EVERY replica band (copy k offsets ids by
        // k*10M, k ≤ 9 → max ~90M+base) — a 50M offset would alias
        // planted rows onto copies 5–9's ids, breaking the absorb
        // path's id-disjointness contract on the 10× arm
        val planted = e.select((col("vec_id") + 500000000L).as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            (when(j === lit(0), lit(1.0)).otherwise(
              (pmod(xxhash64(col("vec_id"), j), lit(101)) - lit(50))
                .cast("double") / 2500.0)).cast("float")).as("embedding"))
        val q = e.filter(col("vec_id") < 10)
          .unionAll(planted.filter(col("vec_id") < 500000010L))
        val idx = Similarity.ivfBuild(e)
        val stats = Similarity.ivfCellStats(idx).localCheckpoint()
        val hotIdx = Similarity.ivfAbsorbDelta(idx, planted)
        // the drift signal that SHOULD have blocked this absorb
        val rep = Similarity.ivfDriftCheck(stats, idx.centroids, planted)
        println(f"[scale] driftCheck $tag: shift=${rep.cellShift}%.4f " +
          f"drifted=${rep.drifted} (must be true)")
        val share = Similarity.ivfCellStats(hotIdx)
          .agg(max(col("n")).cast("double") / sum(col("n"))).head().getDouble(0)
        println(f"[scale] hot-cell share $tag: $share%.4f (plant target ≥0.5)")
        // materialize both cell tables OUTSIDE the measured rows so the
        // measurement is the SERVE path alone, not the lazy cell
        // assignment (the persisted-index shape: after ivfLoad the
        // cells are a parquet scan)
        val idxM = Similarity.IvfIndex(idx.centroids,
          idx.cells.localCheckpoint())
        val hotM = Similarity.IvfIndex(hotIdx.centroids,
          hotIdx.cells.localCheckpoint())
        measure(s"ivf_serve_balanced $tag") {
          Similarity.ivfSearch(q, idxM, 5, nprobe = 6).count()
        }
        measure(s"ivf_serve_hotcell  $tag") {
          Similarity.ivfSearch(q, hotM, 5, nprobe = 6).count()
        }
      }
      spark.stop()
      return
    }

    // r19life mode: the round-19 lifecycle receipts. (1) deleteFromRegistry
    // across registry decades — the fold IS a registry rewrite, so its
    // cost must track the REGISTRY (the honest O(registry) curve;
    // deployments batch tombstones and fold once per window, exactly
    // like compaction), while the per-batch screen AFTER the fold stays
    // flat (the dd20 contract must survive deletion). (2) cdcDeleteKeys
    // at two table decades — per-delete cost must track the TOUCHED
    // BUCKETS (~table/64), mirroring the cdc_1key_batch merge rows.
    // (3) ivfDriftCheck across delta decades — one bounded delta pass,
    // wall must track the DELTA, never the indexed corpus.
    if (args.lift(2).contains("r19life")) {
      val batch = docs.filter(col("doc_id") % 2 === 1).localCheckpoint()
      for (f <- Seq(1, 10, 100)) {
        val wd = s"$work/lifereg${f}x"
        val p = new org.apache.hadoop.fs.Path(wd)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val corpus = replicate(docs, f, { (d, k) =>
          d.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
            col("text"))
        })
        graft.streaming.StreamingJobs.screenBatch(corpus, 0L, wd,
          "doc_id", "text", 3, 32, 8, 0.7, 32)
        val tomb = spark.range(100).select((col("id") * 2).as("doc_id"))
        measure(f"dd22_delete_fold reg=${f}x") {
          graft.streaming.StreamingJobs.deleteFromRegistry(spark, wd, tomb)
          1L
        }
        measure(f"screen_post_delete reg=${f}x") {
          graft.streaming.StreamingJobs.screenBatch(batch, 1L, wd,
            "doc_id", "text", 3, 32, 8, 0.7, 32)
          1L
        }
        spark.sql(s"DROP TABLE IF EXISTS " +
          graft.streaming.StreamingJobs.registryTable(wd))
      }
      val t0ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      for (k <- Seq(200000L, 2000000L)) {
        val wd = s"$work/lifecdc-k$k"
        val p = new org.apache.hadoop.fs.Path(wd)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        val big = spark.range(k).select(col("id").as("event_id"),
          lit(t0ts).as("ts"), col("id").as("user_id"))
        graft.streaming.StreamingJobs.cdcApplyBatch(big, 0L, wd, 64)
        measure(f"cdc_delete_1key k=$k%-8d") {
          graft.streaming.StreamingJobs.cdcDeleteKeys(spark, wd,
            spark.range(1).select(lit(7L).as("user_id")))
          1L
        }
      }
      val e10p = ensureEmbReplica(10)
      val idx = Similarity.ivfBuild(
        embAt(s"$sfDir/embeddings.parquet").select("vec_id", "embedding"))
      val stats = Similarity.ivfCellStats(idx).localCheckpoint()
      for ((tag, ep) <- Seq(("1x", s"$sfDir/embeddings.parquet"),
          ("10x", e10p))) {
        measure(s"drift_check delta=$tag") {
          Similarity.ivfDriftCheck(stats, idx.centroids,
            embAt(ep).select("vec_id", "embedding")).nDelta
        }
      }
      spark.stop()
      return
    }

    // r19log mode: the delta-log lifecycle receipts (second pass).
    // (1) deltaLogDeleteIds across LOG decades with a tombstone set
    // touching exactly ONE of 16 batch dirs — per-delete cost must
    // track the TOUCHED batch (one metadata-sized pass over the log to
    // find it, one dir rewritten), never the log; the all-batches
    // contrast row shows the other end of the honest O(touched) curve.
    // (2) ivfAbsorbLog with a FIXED one-batch delta across INDEX
    // decades — the assignment pass is delta-sized, but the install
    // rewrites the cells table (save compacts), so the wall tracks the
    // INDEX: the honest O(index) fold, amortized by the rebuild
    // cadence exactly like compactRegistry's O(registry).
    if (args.lift(2).contains("r19log")) {
      val nBatches = 16
      for (f <- Seq(1, 10)) {
        val wd = s"$work/log${f}x"
        val p = new org.apache.hadoop.fs.Path(wd)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(p, true)
        val big = replicate(emb, f, { (d, k) =>
          d.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
            col("embedding"))
        }).localCheckpoint()
        // 16 batch dirs, round-robin by id — the layout the stream
        // writes, minus the stream (the measured operator is the
        // delete, not ingestion). No checkpoint dir: at-rest fold.
        for (b <- 0 until nBatches)
          big.filter(pmod(col("vec_id"), lit(nBatches.toLong)) === b)
            .write.mode("overwrite").parquet(s"$wd/delta/batch=$b")
        val tomb = spark.range(64)
          .select((col("id") * nBatches + 3).as("vec_id")) // ≡3 (mod 16)
        measure(f"log_delete_1batch   log=${f}x") {
          graft.streaming.StreamingJobs.deltaLogDeleteIds(spark, wd, tomb)
            .size.toLong
        }
        measure(f"log_delete_allbatch log=${f}x") {
          // one surviving id per residue class: ids 16..31 cover every
          // batch EXCEPT that 19 (≡3) was already deleted by the
          // one-batch row above — residue 3 rides 64·16+3 instead, so
          // this row genuinely rewrites all 16 directories
          graft.streaming.StreamingJobs.deltaLogDeleteIds(spark, wd,
            spark.range(nBatches.toLong).select(
              when(col("id") === 3, lit(64L * nBatches + 3))
                .otherwise(col("id") + nBatches).as("vec_id")))
            .size.toLong
        }
      }
      val e10 = ensureEmbReplica(10)
      for ((tag, ep) <- Seq(("1x", s"$sfDir/embeddings.parquet"),
          ("10x", e10))) {
        val wd = s"$work/abs$tag"
        val p = new org.apache.hadoop.fs.Path(wd)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        Similarity.ivfBuild(embAt(ep).select("vec_id", "embedding"))
          .save(s"$wd/idx")
        emb.limit(500)
          .select((col("vec_id") + 900000000L).as("vec_id"),
            col("embedding"))
          .write.mode("overwrite").parquet(s"$wd/delta/batch=0")
        measure(s"absorb_log idx=$tag") {
          graft.streaming.StreamingJobs.ivfAbsorbLog(spark, s"$wd/idx", wd)
            .size.toLong
        }
      }
      // (3) cdcRetention across table decades — retention is by nature
      // a FULL-TABLE fold (any bucket may hold stale keys), so its
      // wall must track the TABLE (the honest O(store) curve, the
      // registry-retention shape), amortized by the maintenance
      // cadence; contrast with cdc_delete_1key's O(touched) flatness.
      val t0ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1ts = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
      for (k <- Seq(200000L, 2000000L)) {
        val wd = s"$work/retaincdc-k$k"
        val p = new org.apache.hadoop.fs.Path(wd)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        // half the keys last-updated before the horizon, half after
        val big = spark.range(k).select(col("id").as("event_id"),
          when(col("id") % 2 === 0, lit(t0ts)).otherwise(lit(t1ts)).as("ts"),
          col("id").as("user_id"))
        graft.streaming.StreamingJobs.cdcApplyBatch(big, 0L, wd, 64)
        measure(f"cdc_retention k=$k%-8d") {
          // horizon as a Timestamp literal so data and horizon ride the
          // SAME time frame (the planted ts above are Timestamp
          // literals; to_timestamp(lit(...)) would ride the session TZ
          // instead — the mixed-frame foot-gun the verify notes warn
          // about, benign only while the horizon sits days from both
          // planted instants)
          graft.streaming.StreamingJobs.cdcRetention(spark, wd,
            lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
          1L
        }
      }
      spark.stop()
      return
    }

    // r20 mode: the round-20 lifecycle receipts. (1) the media hamming
    // registry screen across registry decades — per-batch shuffle must
    // stay FLAT as the registry grows (the dd20 receipt, hamming
    // edition: the registry side rides its bucketed (band, bv) layout
    // with zero exchange; only the fixed-size batch shuffles). (2) the
    // BQ code-store lifecycle at corpus decades — delete is a
    // broadcast anti-join over the code scan and absorb a narrow
    // encode + union, so BOTH must show (near-)zero shuffle at every
    // decade: the whole point of the 1-bit family is that maintenance
    // never exchanges the corpus.
    if (args.lift(2).contains("r20")) {
      import graft.operators.Dedup
      import graft.operators.Similarity
      for (k <- Seq(100000L, 1000000L, 10000000L)) {
        val wd = s"$work/hmreg-k$k"
        val p = new org.apache.hadoop.fs.Path(wd)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        val reg = spark.range(k).select(col("id").as("asset_id"),
          xxhash64(col("id")).as("dhash"))
        val tbl = s"graft_r20_hm_$k"
        Dedup.writeHammingRegistry(reg, "asset_id", "dhash", tbl, wd,
          maxDist = 3, numBuckets = 32)
        // fixed 1000-asset batch: half re-crawls (1 bit off a registry
        // hash — must flag), half fresh (independent hashes — keep)
        val batch = spark.range(1000L).select(
          (col("id") + k).as("asset_id"),
          when(col("id") < 500L,
            xxhash64(col("id")).bitwiseXOR(lit(1L)))
            .otherwise(xxhash64(col("id") + k + 77L)).as("dhash"))
        measure(f"hm_screen reg=$k%-9d") {
          Dedup.incrementalHammingDup(batch, spark.table(tbl),
            "asset_id", "dhash", maxDist = 3)
            .filter(!col("keep")).count()
        }
        // RTBF deletion at the same decades (mm08): a fixed 1000-id
        // tombstone broadcast onto the bucketed scan + the
        // no-repartition rewrite — 0.0 MB of shuffle at every decade
        // or the "delete never exchanges the registry" claim is prose
        val tomb = spark.range(1000L)
          .select((col("id") * 97L % k).as("asset_id"))
        measure(f"hm_delete reg=$k%-9d") {
          Dedup.deleteFromHammingRegistry(spark, tbl, wd, tomb,
            numBuckets = 32)
          spark.table(tbl).count()
        }
        spark.sql(s"DROP TABLE IF EXISTS $tbl")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      for (k <- Seq(100000L, 1000000L)) {
        val wd = s"$work/bqlife-k$k"
        val p = new org.apache.hadoop.fs.Path(wd)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        val vecs = spark.range(k).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(15)), j =>
            ((pmod(xxhash64(col("id"), j), lit(1001)) - 500)
              .cast("double") / 250.0)).as("embedding"))
        Similarity.binaryCodes(vecs).write.mode("overwrite")
          .parquet(s"$wd/codes")
        val tomb = spark.range(1000L).select((col("id") * 97L % k).as("vec_id"))
        measure(f"bq_delete  k=$k%-9d") {
          Similarity.bqDeleteIds(spark.read.parquet(s"$wd/codes"), tomb)
            .count()
        }
        val delta = spark.range(1000L).select((col("id") + k).as("vec_id"),
          transform(sequence(lit(0), lit(15)), j =>
            ((pmod(xxhash64(col("id") + k, j), lit(1001)) - 500)
              .cast("double") / 250.0)).as("embedding"))
        measure(f"bq_absorb  k=$k%-9d") {
          Similarity.bqAbsorbDelta(spark.read.parquet(s"$wd/codes"), delta)
            .count()
        }
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }
      spark.stop()
      return
    }

    if (args.lift(2).contains("r17")) {
      def ensure(path: String)(gen: => Unit): Unit = ensureSuccess(path)(gen)
      // --- gr02: 100 id-offset disjoint graph copies (component
      // structure preserved per copy, so the min-label fixpoint needs
      // the same round count at every decade — wall must scale with
      // |E|·rounds, the BSP contract, plus the per-round checkpoint
      // fixed cost that dominates at 1×)
      ensureGr02Edges()
      for ((tag, pth) <- Seq(("1x", s"$work/edges1x.parquet"),
          ("10x", s"$work/edges10x.parquet"),
          ("100x", s"$work/edges100x.parquet"))) {
        measure(s"gr02_components    $tag") {
          Dedup.connectedComponents(spark.read.parquet(pth)).count()
        }
      }

      // --- sim07 IVF-PQ at corpus-scaled nlist (the dd15 k ∝ N
      // lesson): exact candidate assignment folds N·nlist L2
      // distances — the quadratic term — while the two-level path
      // folds g + 2·(nlist/g) per candidate. Serving queries stay the
      // 10 originals, so probe/ADC/re-rank cost is flat across
      // decades and the curve isolates the assignment term.
      ensureEmbReplica(10); ensureEmbReplica(100)
      for ((tag, ep, nlist) <- Seq(("1x", s"$sfDir/embeddings.parquet", 16),
          ("10x", s"$work/embeddings10x.parquet", 160),
          ("100x", s"$work/embeddings100x.parquet", 1600))) {
        val e = embAt(ep)
        val q = e.filter(col("vec_id") < 10)
        measure(f"sim07_ivfpq n=$nlist%-5d $tag%-4s") {
          // autoNlist disarmed: this leg MEASURES the exact-assign
          // wall the auto heuristic exists to avoid
          Similarity.ivfPqTopK(q, e, 5, nlist = nlist,
            nprobe = math.min(nlist, 12),
            twoLevelAutoNlist = Int.MaxValue).count()
        }
        if (nlist > 16) measure(f"sim07_2lv   n=$nlist%-5d $tag%-4s") {
          Similarity.ivfPqTopK(q, e, 5, nlist = nlist,
            nprobe = math.min(nlist, 12), twoLevelAssign = true).count()
        }
      }

      // --- st08 CDC merge, two decades out. Keys grow with the
      // corpus (replicas offset user_id), `buckets` scales with the
      // table per the StreamingJobs scale note (8 / 80 / 800 — fixed
      // expected bytes per bucket), and each decade measures:
      //   build  — batch 0 = the full corpus (touches all buckets;
      //            linear table build, the uninteresting baseline)
      //   update — batch 1 = a CONSTANT-size batch for 5 fixed users
      //            (≤ 5 touched buckets): the contract says its cost
      //            is O(batch + 5/buckets of the table), so the wall
      //            and the rewritten bytes must stay ~flat while the
      //            table grows 100×
      // This drives cdcApplyBatch — the exact foreachBatch body the
      // streaming query runs; the wrapper adds only source listing.
      val ev = graft.Tables.load(spark, sfDir, "events")
        .select("event_id", "ts", "user_id")
      for (f <- Seq(1, 10, 100))
        ensure(s"$work/events_cdc${f}x.parquet") {
          replicate(ev, f, { (d, k) =>
            d.select((col("event_id") + lit(k * 100000000L)).as("event_id"),
              col("ts"), (col("user_id") + lit(k * 10000000L)).as("user_id"))
          }).write.mode("overwrite").parquet(s"$work/events_cdc${f}x.parquet")
        }
      val hotUsers = ev.select("user_id").distinct().orderBy("user_id")
        .limit(5).collect().map(_.getLong(0))
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def dirBytes(p: String): Long = {
        val hp = new org.apache.hadoop.fs.Path(p)
        if (fs.exists(hp)) fs.getContentSummary(hp).getLength else 0L
      }
      for ((tag, f) <- Seq(("1x", 1), ("10x", 10), ("100x", 100))) {
        val buckets = 8 * f
        val wd = s"$work/cdc_$tag"
        fs.delete(new org.apache.hadoop.fs.Path(wd), true)
        val full = spark.read.parquet(s"$work/events_cdc${f}x.parquet")
        val nFull = full.count()
        measure(f"st08_cdc_build  b=$buckets%-4d $tag%-4s") {
          graft.streaming.StreamingJobs.cdcApplyBatch(full, 0, wd, buckets)
          nFull
        }
        // table size captured BEFORE the update: its GC deletes the
        // displaced gen0 buckets, so a later gen0 reading undercounts
        val tableBytes = dirBytes(s"$wd/gen0")
        val upd = ev.filter(col("user_id").isin(hotUsers.map(Long.box): _*))
          .select((col("event_id") + lit(900000000L)).as("event_id"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("ts"), col("user_id"))
        val nUpd = upd.count()
        measure(f"st08_cdc_update b=$buckets%-4d $tag%-4s") {
          graft.streaming.StreamingJobs.cdcApplyBatch(upd, 1, wd, buckets)
          nUpd
        }
        println(f"[scale-cdc] $tag%-4s table=${tableBytes / 1e6}%9.1f MB" +
          f"  update_rewrote=${dirBytes(s"$wd/gen1") / 1e6}%9.3f MB")
      }
      spark.stop()
      return
    }

    // materialize both corpora to parquet so every measurement reads
    // from disk like the gate does
    replicate(docs, 10, { (d, k) =>
      d.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        if (k == 0) col("text")
        else concat_ws(" ",
          transform(split(col("text"), " "),
            w => concat(lit(s"$k#"), w))).as("text"))
    }).write.mode("overwrite").parquet(s"$work/documents10x.parquet")
    replicate(emb, 10, { (d, k) =>
      d.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        col("embedding"))
    }).write.mode("overwrite").parquet(s"$work/embeddings10x.parquet")

    val d1 = s"$sfDir/documents.parquet"; val d10 = s"$work/documents10x.parquet"
    val e1 = s"$sfDir/embeddings.parquet"; val e10 = s"$work/embeddings10x.parquet"

    for ((tag, dp, ep) <- Seq(("1x", d1, e1), ("10x", d10, e10))) {
      measure(s"dd04_minhash_cand  $tag") {
        Dedup.minHashCandidates(docsAt(dp), "doc_id", "text").count()
      }
      val e = embAt(ep)
      val q = e.filter(col("vec_id") < 10)
      // exact top-k via the bounded TopKAgg partial agg (r11): shuffle
      // bytes must stay ~flat 1x→10x (≤ k pairs per query × map
      // partition cross the exchange), while the pre-r11 row_number
      // window shipped all N scores per query
      measure(s"sim01_exact_topk   $tag") {
        Similarity.cosineTopK(q, e, 5, exact = true).count()
      }
      measure(s"sim03_lsh_topk     $tag") {
        Similarity.annTopK(q, e, 5, bits = 4, tables = 16).count()
      }
      measure(s"sim04_ivf_topk     $tag") {
        Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = 6).count()
      }
      measure(s"sim06_pq_topk      $tag") {
        Similarity.pqTopK(q, e, 5).count()
      }
      measure(s"sim07_ivfpq_topk   $tag") {
        Similarity.ivfPqTopK(q, e, 5).count()
      }
      measure(s"ta16_sharded_index $tag") {
        TextAnalysis.invertedIndex(docsAt(dp), "doc_id", "text",
          maxPostings = 50).count()
      }
      measure(s"dd12_dup_spans     $tag") {
        Dedup.dupSpans(docsAt(dp), "doc_id", "text",
          n = 8, minDocs = 2, maxPostings = 8).count()
      }
    }

    // dd06 on a deliberately sign-biased corpus (leading 8 dims forced
    // positive — the sign bias of real embedding models on exactly the
    // dims the pre-r10 raw-sign key read). That key would put all n
    // vectors in ONE block (n(n-1)/2 candidates); the hyperplane key
    // must keep candidate volume near the balanced n²/2^bits and the
    // top-k run flat. rows = candidate-pair count (the bounded-volume
    // evidence).
    val biased = embAt(e1).select(col("vec_id"),
      zip_with(col("embedding"), sequence(lit(0), size(col("embedding")) - 1),
        (x, p) => when(p < 8, abs(x) + lit(0.01f)).otherwise(x))
        .as("embedding"))
    measure("dd06_cand_biased   1x") {
      val b = Dedup.embeddingBlocks(biased, 8)
      b.as("a").join(b.as("b"),
        col("a.bk") === col("b.bk") && col("a.vid") < col("b.vid")).count()
    }
    measure("dd06_topk_biased   1x") {
      Dedup.embeddingNearDup(biased, k = 20).count()
    }

    // dd15 SemDeDup: the τ-join cost is Σ|cluster|², and the design
    // contract is k ∝ N (the paper's regime — ~100k clusters at 100M
    // vectors). rows = within-cluster pair count, the join's input
    // volume: at 10× data with k FIXED it grows ~100× (the trap the
    // scaladoc warns about); with k scaled 10× it stays ~10× — same
    // expected cluster width, ten times as many clusters. The replica
    // vectors are exact copies, so the 10× corpus is also a real
    // dedup workload (every copy is a true near-dup).
    for ((tag, ep, k) <- Seq(("1x k=16", e1, 16),
        ("10x k=16", e10, 16), ("10x k=160", e10, 160))) {
      measure(f"dd15_pairs $tag%-10s") {
        val a = Clustering.assignToSeeds(embAt(ep), k)
        a.as("x").join(a.as("y"), col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id")).count()
      }
    }
    measure("dd15_semdedup 10x k=160") {
      Dedup.semanticDedup(embAt(e10), 160, 0.99)
        .filter(!col("keep")).count()
    }

    // Media near-dup (mm04 shape) at 1×/10× asset count: hash table
    // materialized once (the SCALE.md contract — hammingPairs
    // self-joins its input), then the banded pair join. Pair volume
    // grows with planted-dup count (linear here: one clone per image),
    // shuffle with (bands × assets) 24-byte rows — never payloads.
    for ((tag, n) <- Seq(("1x", 300), ("10x", 3000))) {
      val hp = s"$work/mediahash-$n.parquet"
      graft.multimodal.Multimodal.dHashes(
        graft.multimodal.Multimodal.syntheticAssets(spark, n)
          .unionByName(graft.multimodal.Multimodal.cloneAssets(spark, n)))
        .write.mode("overwrite").parquet(hp)
      measure(s"mm04_banded_pairs  $tag") {
        Dedup.hammingPairs(spark.read.parquet(hp),
          "asset_id", "dhash", maxDist = 3).count()
      }
    }

    // CDC bucket-bounded merge: per-batch cost for a SINGLE-KEY batch
    // against a maintained table of K keys, at buckets ∈ {1, 64} and
    // K ∈ {200k, 2M}. buckets=1 is the r8 full-table-per-batch shape;
    // buckets=64 must cost ~table/64 — per-batch wall bounded by the
    // touched slice, not the table.
    val t0ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    for (k <- Seq(200000L, 2000000L); b <- Seq(1, 64)) {
      val wd = s"$work/cdc-k$k-b$b"
      val big = spark.range(k).select(col("id").as("event_id"),
        lit(t0ts).as("ts"), col("id").as("user_id"))
      graft.streaming.StreamingJobs.cdcApplyBatch(big, 0L, wd, b)
      val one = spark.range(1).select(lit(k + 1).as("event_id"),
        lit(t0ts).as("ts"), lit(7L).as("user_id"))
      measure(f"cdc_1key_batch k=$k%-8d b=$b%-2d") {
        graft.streaming.StreamingJobs.cdcApplyBatch(one, 1L, wd, b); 1L
      }
    }

    // Graph ops at 1×/10× edge count: the supplier co-occurrence graph
    // at support ≥ 5 (~48k edges / 1000 nodes at sf0.1 — dense but
    // sparse-of-complete; with NO floor every supplier pair co-occurs
    // at this SF and the graph is K₁₀₀₀, whose Θ(n³) triangle count
    // makes the OUTPUT cubic — a degenerate test, not an algorithmic
    // regression), replicated as 10 id-offset disjoint copies so degree
    // structure is preserved while |V| and |E| grow 10×. PageRank's
    // per-iteration cost is one |E| join + one |V| agg (shuffle must
    // scale ~linearly in |E|); triangle enumeration's wedge volume is
    // degeneracy-bounded per copy, so 10 copies cost ~10×, never
    // copies² — the no-quadratic-term evidence for the graph family.
    // 10× only — this mode never reads the 100× replica; the 1×/10×
    // caches are REUSED when present (intentional: identical recipe
    // across modes, keyed on the _SUCCESS marker)
    ensureGr02Edges(Seq(10))
    for ((tag, pth) <- Seq(("1x", s"$work/edges1x.parquet"),
        ("10x", s"$work/edges10x.parquet"))) {
      val sym = spark.read.parquet(pth)
      measure(s"gr01_pagerank5     $tag") {
        graft.operators.Graph.pageRank(sym, iterations = 5).count()
      }
      measure(s"gr03_triangles     $tag") {
        graft.operators.Graph.triangleCounts(sym).count()
      }
      measure(s"gr04_clustering    $tag") {
        graft.operators.Graph.clusteringCoefficients(sym).count()
      }
      // per round: one |E| join + two keyed aggs — shuffle must scale
      // ~linearly in |E| like pageRank, never |V|·degree² (the argmax
      // is a map-side partial max, pinned window-free in PlanSpec)
      measure(s"gr06_labelprop3    $tag") {
        graft.operators.Graph.labelPropagation(sym, rounds = 3).count()
      }
      // seed-set restart: per-round cost identical to pageRank (one |E|
      // join + one keyed agg); seeds = 10 lowest nodes per copy so the
      // restart mass scales with the replicated graph
      measure(s"gr07_personalpr3   $tag") {
        val seeds = sym.select(col("src").as("v")).distinct()
          .orderBy("v").limit(10)
        graft.operators.Graph.personalizedPageRank(sym, seeds,
          iterations = 3).count()
      }
    }

    // Lloyd loop at 1×/10× corpus: each round = broadcast assign (one
    // exchanged row per vector) + (cluster, pos) partial-sum update —
    // shuffle must scale linearly in N, never N·k
    for ((tag, ep) <- Seq(("1x", e1), ("10x", e10))) {
      measure(s"km05_lloyd2        $tag") {
        Clustering.lloydRounds(embAt(ep), 8, rounds = 2).count()
      }
    }

    // JL projection: a pure narrow pass — shuffle stays ZERO at any
    // corpus size (the only exchange in the gate is its presentation
    // sort, absent here); wall scales with N·dims·origDim map work.
    for ((tag, ep) <- Seq(("1x", e1), ("10x", e10))) {
      measure(s"sim10_rand_proj    $tag") {
        Similarity.signedRandomProjection(embAt(ep), dims = 16).count()
      }
    }

    // Containment pairs ride the same capped-posting candidate plan as
    // dd03 (pairOverlap): candidate volume grows with corpus size under
    // the cap, never quadratically — same curve expected as dd04.
    for ((tag, dp) <- Seq(("1x", d1), ("10x", d10))) {
      measure(s"dd17_containment   $tag") {
        Dedup.containmentPairs(docsAt(dp), "doc_id", "text",
          3, maxPosting = 64).count()
      }
    }

    // int8 two-stage retrieval: stage-1 scoring rides the broadcast
    // query block (narrow), and BOTH rank stages exchange ≤ shortlist/k
    // ids per query × partition through TopKAgg — shuffle must stay
    // ~flat 1×→10× like sim01, while wall scales with the integer-dot
    // scoring pass (∝ N).
    for ((tag, ep) <- Seq(("1x", e1), ("10x", e10))) {
      val e = embAt(ep)
      measure(s"sim11_int8_rerank  $tag") {
        Similarity.int8RerankTopK(e.filter(col("vec_id") < 10), e, 5,
          shortlist = 50).count()
      }
    }

    // Touch attribution at 1×/10× event volume (10 id-offset user
    // copies — touches-per-conversion constant, conversions 10×): the
    // user-keyed join + per-conversion min/max summary must shuffle
    // linearly in the event count, never per-conversion candidate lists.
    val ev1 = graft.Tables.events(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type")
    replicate(ev1, 10, { (d, k) =>
      d.select((col("event_id") + lit(k * 10000000L)).as("event_id"),
        col("ts"), (col("user_id") + lit(k * 10000000L)).as("user_id"),
        col("event_type"))
    }).write.mode("overwrite").parquet(s"$work/events10x.parquet")
    measure("ev20_attribution   1x") {
      graft.operators.Funnel.attribution(ev1,
        Seq("view", "click"), "purchase", 72).count()
    }
    measure("ev20_attribution   10x") {
      graft.operators.Funnel.attribution(
        spark.read.parquet(s"$work/events10x.parquet"),
        Seq("view", "click"), "purchase", 72).count()
    }

    // Optional SECOND DECADE (arg "deep"): a measured 100× point for
    // the two heaviest families, so SCALE.md's 1000× story rests on
    // two measured decades, not one decade + extrapolation.
    // - gr01: 100 id-offset graph copies — |E| grows 100×, per-round
    //   cost must track |E| (the BSP contract).
    // - sim12 shape (corpus-as-queries IVF kNN): nlist scales WITH the
    //   corpus (the dd15 k ∝ N lesson — fixed nlist at 100× would put
    //   ~37k vectors in every probed cell and make the probe join
    //   quadratic); constant expected cell width ⇒ per-query candidate
    //   count constant ⇒ total work linear. 1×/10×/100× all run here
    //   under that regime so the curve is like-for-like.
    if (args.lift(2).contains("deep")) {
      replicate(spark.read.parquet(s"$work/edges1x.parquet"), 100, { (d, k) =>
        d.select((col("src") + lit(k * 10000000L)).as("src"),
          (col("dst") + lit(k * 10000000L)).as("dst"))
      }).write.mode("overwrite").parquet(s"$work/edges100x.parquet")
      measure("gr01_pagerank5     100x") {
        graft.operators.Graph.pageRank(
          spark.read.parquet(s"$work/edges100x.parquet"),
          iterations = 5).count()
      }
      replicate(emb, 100, { (d, k) =>
        d.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          col("embedding"))
      }).write.mode("overwrite").parquet(s"$work/embeddings100x.parquet")
      for ((tag, ep, nlist) <- Seq(("1x", e1, 16),
          ("10x", e10, 160),
          ("100x", s"$work/embeddings100x.parquet", 1600))) {
        measure(f"sim12_knn nlist=$nlist%-5d $tag%-4s") {
          val e = embAt(ep)
          // autoNlist disarmed: measuring the exact-assign wall
          Similarity.ivfTopK(e, e, 3, nlist = nlist, nprobe = 6,
            twoLevelAutoNlist = Int.MaxValue,
            pinProbeParallelism = true).count()
        }
      }
      // the fix for the assignment-bound 100× wall: two-level coarse
      // quantization drops assignment from N·nlist to N·O(√nlist)
      // (leaders + one/`leaderGroups` groups) — probe join unchanged
      for ((tag, ep, nlist) <- Seq(("10x", e10, 160),
          ("100x", s"$work/embeddings100x.parquet", 1600))) {
        measure(f"sim12_knn 2lv n=$nlist%-5d $tag%-4s") {
          val e = embAt(ep)
          Similarity.ivfTopK(e, e, 3, nlist = nlist, nprobe = 6,
            twoLevelAssign = true, pinProbeParallelism = true).count()
        }
      }
    }
    spark.stop()
  }
}
