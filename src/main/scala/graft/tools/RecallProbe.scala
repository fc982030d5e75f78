package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Dev utility: measure LSH/IVF ANN recall against the brute-force
  * cosine top-5 across (bits, tables) / nprobe configurations — the
  * evidence base for the gate rows' recall floors.
  * Usage: runMain graft.tools.RecallProbe [sfDir]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // optional section filter (default all):
    //   lsh | ivf | 2lv (corpus-scaled nlist) | 2lv16 (gate config)
    //   | 2lv160 (r15 rehearsal config) | pq | ivfpq
    val only = args.lift(1).getOrElse("all")
    def section(name: String): Boolean = only == "all" || only == name
    val spark = graft.GraftSession.builder().getOrCreate()

    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(q, e, 5).select("qid", "cid").cache()
    val nExact = exact.count()

    def recallOf(ann: org.apache.spark.sql.DataFrame): Double = {
      val hit = ann.select("qid", "cid").join(exact, Seq("qid", "cid")).count()
      hit.toDouble / nExact
    }

    for ((bits, tables) <- Seq((4, 8), (4, 16), (3, 12)) if section("lsh")) {
      val t0 = System.nanoTime()
      val r = recallOf(Similarity.annTopK(q, e, 5, bits = bits, tables = tables))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] lsh bits=$bits%d tables=$tables%2d recall=$r%.3f  ${s}%.1f s")
    }
    for (nprobe <- Seq(4, 6, 8) if section("ivf")) {
      val t0 = System.nanoTime()
      val r = recallOf(Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = nprobe))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] ivf nlist=16 nprobe=$nprobe%d recall=$r%.3f  ${s}%.1f s")
    }
    // two-level coarse assignment at corpus-scaled nlist: the recall
    // cost of scanning leaderGroups·(nlist/√nlist) cells instead of
    // all nlist during assignment/probing (the 100× rehearsal's
    // assignment-bound fix — see BENCH_NOTES r15)
    // cg = candidateGroups: cg=1 is the r15 shape with the structural
    // recall ceiling (a candidate whose true nearest centroid lives in
    // a different leader group is lost to every probe); cg=2 spills
    // candidate assignment to the top-2 leader groups. nlist is
    // corpus-scaled (N/31, the sim12 rehearsal convention) so the
    // two-level pruning is actually exercised at every SF.
    lazy val nlBig = math.max(16, (e.count() / 31).toInt)
    for ((np, lg, cg) <- Seq((10, 3, 1), (10, 3, 2), (12, 3, 1), (12, 3, 2))
         if section("2lv16")) {
      val t0 = System.nanoTime()
      val r = recallOf(Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = np,
        twoLevelAssign = true, leaderGroups = lg, candidateGroups = cg))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] ivf nlist=16 nprobe=$np%d two-level lg=$lg%d cg=$cg%d recall=$r%.3f  ${s}%.1f s")
    }
    for ((np, lg, cg) <- Seq((6, 3, 1), (6, 3, 2), (6, 3, 3), (8, 3, 2),
      (8, 4, 2), (10, 4, 2), (10, 4, 3), (12, 5, 3))
         if section("2lv160")) {
      val t0 = System.nanoTime()
      val r = recallOf(Similarity.ivfTopK(q, e, 5, nlist = 160, nprobe = np,
        twoLevelAssign = true, leaderGroups = lg, candidateGroups = cg))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] ivf nlist=160 nprobe=$np%d two-level lg=$lg%d cg=$cg%d recall=$r%.3f  ${s}%.1f s")
    }

    for (nprobe <- Seq(6, 8, 10) if section("2lv")) {
      val t0 = System.nanoTime()
      val r = recallOf(Similarity.ivfTopK(q, e, 5, nlist = nlBig,
        nprobe = nprobe, twoLevelAutoNlist = Int.MaxValue))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] ivf nlist=$nlBig%d nprobe=$nprobe%d exact-assign recall=$r%.3f  ${s}%.1f s")
    }
    for ((np, lg, cg) <- Seq((12, 4, 2), (12, 4, 3), (14, 4, 2),
      (14, 4, 3), (16, 4, 2), (16, 4, 3), (16, 5, 2))
         if section("2lv")) {
      val t0 = System.nanoTime()
      val r = recallOf(Similarity.ivfTopK(q, e, 5, nlist = nlBig, nprobe = np,
        twoLevelAssign = true, leaderGroups = lg, candidateGroups = cg))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] ivf nlist=$nlBig%d nprobe=$np%d two-level lg=$lg%d cg=$cg%d recall=$r%.3f  ${s}%.1f s")
    }
    // PQ recall is measured against L2 ground truth (ADC approximates
    // squared euclidean, not cosine)
    val exactL2 = Similarity.l2TopK(q, e, 5).select("qid", "cid").cache()
    val nL2 = exactL2.count()
    def recallL2(ann: org.apache.spark.sql.DataFrame): Double =
      ann.select("qid", "cid").join(exactL2, Seq("qid", "cid")).count().toDouble / nL2
    for ((m, codes, shortlist, refine) <- Seq((16, 32, 50, 0), (16, 32, 100, 0),
      (16, 16, 100, 0), (16, 64, 100, 0), (16, 32, 100, 1), (16, 32, 100, 2))
         if section("pq")) {
      val t0 = System.nanoTime()
      val r = recallL2(Similarity.pqTopK(q, e, 5, m, codes, shortlist, refine))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] pq m=$m%d codes=$codes%2d short=$shortlist%2d refine=$refine%d recall=$r%.3f  ${s}%.1f s")
    }
    for ((nlist, nprobe, refine) <- Seq((8, 2, 0), (8, 4, 0), (16, 4, 0),
      (16, 8, 0), (16, 8, 1)) if section("ivfpq")) {
      val t0 = System.nanoTime()
      val r = recallL2(Similarity.ivfPqTopK(q, e, 5, nlist, nprobe,
        refineIters = refine))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] ivfpq nlist=$nlist%2d nprobe=$nprobe%d refine=$refine%d recall=$r%.3f  ${s}%.1f s")
    }
    // post-filter ANN (sim19): over-fetched unfiltered IVF shortlist,
    // label predicate applied after, re-ranked — recall vs the exact
    // FILTERED top-5, across over-fetch depths
    if (section("pf")) {
      val allowed = e.filter(col("label").isin(2, 5, 7))
      val exactF = Similarity.cosineTopK(q, allowed, 5)
        .select("qid", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (fetch <- Seq(15, 25, 50)) {
        val short = Similarity.ivfTopK(q, e, fetch, nlist = 16, nprobe = 10)
          .join(allowed.select(col("vec_id").as("cid")), "cid")
        val rr = short.groupBy(col("qid"))
          .agg(graft.functions.TopKAgg.top_k(col("sim"), col("cid"), 5,
            ascending = false).as("_tk"))
          .select(col("qid"), explode(col("_tk")).as("_e"))
          .select(col("qid"), col("_e.id").as("cid"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        val rec = rr.count(exactF.contains).toDouble / exactF.size
        println(f"[recall] postfilter fetch=$fetch%3d recall=$rec%.3f")
      }
    }
    // IVF-PQ with the two-level candidate-side coarse assignment (the
    // sim17 gate config) vs the exact assignment at the same geometry
    // — the recall cost of the big-corpus switch in isolation
    for ((nlist, nprobe) <- Seq((8, 4), (16, 8), (16, 10), (16, 12))
         if section("ivfpq2")) {
      val t0 = System.nanoTime()
      val rx = recallL2(Similarity.ivfPqTopK(q, e, 5, nlist, nprobe))
      val r2 = recallL2(Similarity.ivfPqTopK(q, e, 5, nlist, nprobe,
        twoLevelAssign = true))
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[recall] ivfpq2 nlist=$nlist%2d nprobe=$nprobe%2d exact=$rx%.3f twoLevel=$r2%.3f  ${s}%.1f s")
    }
    spark.stop()
  }
}
