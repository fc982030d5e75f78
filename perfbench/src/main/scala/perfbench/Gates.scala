package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** The pipeline-operator ("gate") layer: three public operators of the
  * north-star extension, called directly on the seeded `documents` and
  * `embeddings` tables gen.py writes. SparkEntry is never touched, so its
  * costly static initialisation is not paid.
  *
  *  - minhash_lsh: Dedup.minHashCandidates (near-dup candidate pairs)
  *  - tfidf: TextAnalysis.tfIdfTopTerms, top 3 terms per document
  *  - cosine_topk: Similarity.cosineTopK, exact scores, top 5 of the
  *    whole corpus for each of the first 12 vectors
  *
  * Each gate runs once untimed, then [[Reps]] times inside a span; the
  * last result goes to `<work>/gate_<name>.json` for the DuckDB check.
  */
object Gates {
  val Reps = 3
  val Queries = 12
  val K = 5
  val TopTerms = 3

  def gates(spark: SparkSession, dir: String): Seq[(String, () => DataFrame)] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    Seq(
      "minhash_lsh" -> (() =>
        Dedup.minHashCandidates(docs, "doc_id", "text").orderBy("id_a", "id_b")),
      "tfidf" -> (() =>
        TextAnalysis.tfIdfTopTerms(docs, "doc_id", "text", TopTerms)
          .orderBy("doc_id", "rank")),
      "cosine_topk" -> (() =>
        Similarity.cosineTopK(emb.filter(col("vec_id") < Queries), emb, K,
          exact = true)))
  }

  /** Runs every gate under the (attached) tracer and writes its
    * per-layer metrics: gate.<name>.{wall_s, jobs, tasks, cpu_s, gc_s,
    * shuffle_bytes, driver_gap_s}.
    */
  def run(spark: SparkSession, t: Tracer, dir: String, work: String, out: Json): Unit =
    for ((name, gate) <- gates(spark, dir)) {
      gate().collect()
      val runs = (0 until Reps).map(_ => t.span(s"gate:$name")(gate().collect()))
      val spans = runs.map(_._2)
      def per(k: String) = spans.map(t.total(_, k)).sum / Reps
      out.num(s"gate.$name.wall_s", Harness.median(spans.map(_.wallS)))
      out.num(s"gate.$name.jobs", per("jobs"))
      out.num(s"gate.$name.tasks", per("tasks"))
      out.num(s"gate.$name.cpu_s", per("cpu_s"))
      out.num(s"gate.$name.gc_s", per("gc_s"))
      out.num(s"gate.$name.shuffle_bytes", per("shuffle_write_bytes"))
      out.num(s"gate.$name.driver_gap_s", Harness.median(spans.map(t.driverGapS)))
      Files.write(Paths.get(s"$work/gate_$name.json"),
        Json.rows(runs.last._1.toSeq.map(_.toSeq)).getBytes(StandardCharsets.UTF_8))
    }
}
