package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{Dedup, Similarity}

/** Diagnostic: measures the data-dependent quantities the invariant
  * oracles pin (high-Jaccard pair counts, LSH candidate coverage,
  * SimHash hamming spread, ANN recall, sketch error envelopes) at each
  * scale factor, so thresholds are chosen from evidence, not hope.
  */
object InvariantProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()

    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

    for (dir <- dirs) {
      println(s"===== $dir =====")
      val docs = Tables.spread(Tables.load(spark, dir, "documents"), "doc_id")
      val emb = Tables.spread(Tables.load(spark, dir, "embeddings"), "vec_id")

      val jac = Dedup.jaccardPairs(docs, "doc_id", "text", 3,
        maxPosting = Int.MaxValue).cache()
      val cand = Dedup.minHashCandidates(docs, "doc_id", "text")
        .select(col("id_a").as("da"), col("id_b").as("db")).cache()
      for (t <- Seq(0.7, 0.8, 0.9)) {
        val high = jac.filter(col("jac") >= t).select("da", "db")
        val n = high.count()
        val missed = high.join(cand, Seq("da", "db"), "left_anti").count()
        println(f"jac>=$t%.1f pairs=$n missed_by_lsh=$missed")
      }

      // simhash hamming distance on high-jac pairs
      val sh = Dedup.simHash(docs, "doc_id", "text")
      val hj = jac.filter(col("jac") >= 0.7)
        .join(sh.select(col("doc_id").as("da"), col("simhash").as("sa")), "da")
        .join(sh.select(col("doc_id").as("db"), col("simhash").as("sb")), "db")
        .select(col("jac"), bit_count(col("sa").bitwiseXOR(col("sb"))).as("ham"))
      for (t <- Seq(0.7, 0.8, 0.9)) {
        val r = hj.filter(col("jac") >= t)
          .agg(count(lit(1)).as("n"), max("ham").as("maxham")).collect()(0)
        println(s"jac>=$t simhash n=${r.getLong(0)} max_hamming=${if (r.isNullAt(1)) "-" else r.get(1)}")
      }

      // ANN recall vs exact top-5 (decimal-exact brute force)
      val q = emb.filter(col("vec_id") < 10)
      val exact = Similarity.cosineTopK(q, emb, 5, exact = true)
        .select(col("qid"), col("cid")).cache()
      val nExact = exact.count()
      val lsh = Similarity.annTopK(q, emb, 5, bits = 4, tables = 8).select("qid", "cid")
      val ivf = Similarity.ivfTopK(q, emb, 5, nlist = 16, nprobe = 4).select("qid", "cid")
      val lshHit = exact.join(lsh, Seq("qid", "cid"), "left_semi").count()
      val ivfHit = exact.join(ivf, Seq("qid", "cid"), "left_semi").count()
      println(f"exact_pairs=$nExact lsh_hits=$lshHit (${lshHit.toDouble / nExact}%.3f) ivf_hits=$ivfHit (${ivfHit.toDouble / nExact}%.3f)")

      // per-query min recall
      val perQ = exact.groupBy("qid").agg(count(lit(1)).as("tot"))
        .join(exact.join(lsh, Seq("qid", "cid"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("lhit")), Seq("qid"), "left")
        .join(exact.join(ivf, Seq("qid", "cid"), "left_semi")
          .groupBy("qid").agg(count(lit(1)).as("ihit")), Seq("qid"), "left")
        .select(col("qid"), col("tot"),
          coalesce(col("lhit"), lit(0L)).as("lhit"),
          coalesce(col("ihit"), lit(0L)).as("ihit"))
        .orderBy("qid")
      perQ.collect().foreach(r =>
        println(s"  q=${r.get(0)} tot=${r.get(1)} lsh=${r.get(2)} ivf=${r.get(3)}"))

      // approx distinct error per event_type
      val ev = Tables.events(spark, dir)
      val ad = ev.groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("apx"),
          countDistinct(col("user_id")).as("ex"))
        .select(col("event_type"),
          (abs(col("apx") - col("ex")).cast(DoubleType) / col("ex")).as("relerr"))
        .agg(max("relerr")).collect()(0)
      println(s"approx_distinct max_relerr=${ad.get(0)}")

      // approx percentile error
      val pc = ev.groupBy("event_type")
        .agg(
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("a50"),
          percentile_approx(col("value"), lit(0.95), lit(1000)).as("a95"),
          percentile_approx(col("value"), lit(0.99), lit(1000)).as("a99"),
          expr("percentile(value, 0.5)").as("e50"),
          expr("percentile(value, 0.95)").as("e95"),
          expr("percentile(value, 0.99)").as("e99"))
        .select(greatest(
          abs(col("a50") - col("e50")) / greatest(abs(col("e50")), lit(1e-9)),
          abs(col("a95") - col("e95")) / greatest(abs(col("e95")), lit(1e-9)),
          abs(col("a99") - col("e99")) / greatest(abs(col("e99")), lit(1e-9))).as("relerr"))
        .agg(max("relerr")).collect()(0)
      println(s"approx_percentile max_relerr=${pc.get(0)}")

      jac.unpersist(); cand.unpersist(); exact.unpersist()
    }
    spark.stop()
  }
}
