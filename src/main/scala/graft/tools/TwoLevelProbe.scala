package graft.tools


import graft.operators.Similarity

/** Dev utility: time the corpus-as-queries IVF kNN (sim12 shape) with
  * exact vs two-level coarse assignment over the ScaleRehearsal 10×
  * and 100× replicas — the focused loop for the assignment-bound
  * ceiling measured in BENCH_NOTES r15.
  * Usage: runMain graft.tools.TwoLevelProbe [workDir] [which: 10x|100x|both] [mode: exact|2lv|both]
  */
object TwoLevelProbe {
  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("/tmp/graft-scale")
    val which = args.lift(1).getOrElse("both")
    val mode = args.lift(2).getOrElse("2lv")
    val spark = graft.GraftSession.builder().getOrCreate()
    val cases = Seq(
      ("10x", s"$work/embeddings10x.parquet", 160),
      ("100x", s"$work/embeddings100x.parquet", 1600))
      .filter { case (t, _, _) => which == "both" || which == t }
    for ((tag, path, nlist) <- cases; two <- Seq(false, true)
         if mode == "both" || (two && mode == "2lv") || (!two && mode == "exact")) {
      val e = spark.read.parquet(path)
      val t0 = System.nanoTime()
      val n = Similarity.ivfTopK(e, e, 3, nlist = nlist, nprobe = 6,
        twoLevelAssign = two, pinProbeParallelism = true).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[2lv] $tag%-5s nlist=$nlist%-5d twoLevel=$two%-5s rows=$n%8d  ${sec}%7.2f s")
    }
    spark.stop()
  }
}
