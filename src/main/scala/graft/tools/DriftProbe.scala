package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Dev probe for the ivfDriftCheck margins: at each SF, price an
  * UN-drifted delta (a plain corpus slice — ratio must sit ≈ 1) and a
  * PLANTED-drift delta (the same slice pushed off-distribution — ratio
  * must clear the trip threshold with margin) so the sim29 gate's
  * threshold is chosen from measurements, not hope.
  *
  * Usage: runMain graft.tools.DriftProbe [sfDir] [offset]
  */
object DriftProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val offset = args.lift(1).map(_.toDouble).getOrElse(2.0)
    val spark = graft.GraftSession.builder().getOrCreate()
    val e = graft.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val idx = Similarity.ivfBuild(e)
    val stats = Similarity.ivfCellStats(idx).localCheckpoint()
    val slice = e.filter(col("vec_id") % 7 === 3)
    def show(tag: String, r: Similarity.IvfDriftReport): Unit = {
      // guard the ratio like driftReport does — zero priced rows (or a
      // zero expectation) has no meaningful ratio, and printing NaN
      // as a "measured margin" would be worse than saying so
      val ratio =
        if (r.pricedRows > 0 && r.expectedMeanDist > 0)
          f"${r.deltaMeanDist / r.expectedMeanDist}%.4f"
        else "n/a"
      println(f"[drift] $sfDir $tag%-14s n=${r.nDelta} priced=${r.pricedRows} " +
        f"dm=${r.deltaMeanDist}%.6f em=${r.expectedMeanDist}%.6f " +
        f"ratio=$ratio shift=${r.cellShift}%.4f drifted=${r.drifted}")
    }
    show("clean", Similarity.ivfDriftCheck(stats, idx.centroids, slice))
    val shifted = slice.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(offset)).as("embedding"))
    show(f"offset+$offset%.1f", Similarity.ivfDriftCheck(stats, idx.centroids, shifted))
    val pq = Similarity.ivfPqBuild(e)
    val pqStats = Similarity.ivfPqCellStats(pq, e).localCheckpoint()
    show("pq clean", Similarity.ivfPqDriftCheck(pqStats, pq.coarse, slice))
    show(f"pq offset+$offset%.1f",
      Similarity.ivfPqDriftCheck(pqStats, pq.coarse, shifted))
    spark.stop()
  }
}
