package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Statistical outlier detection over an event stream (SURVEY.md §2c
  * extension surface) — the data-quality tripwire of ingest pipelines:
  * flag rows whose value sits more than `nSigma` standard deviations
  * from its group's mean.
  *
  * Cross-engine determinism: moments are computed on values quantized
  * to DECIMAL(12,3) (the quantization never lands on a rounding tie —
  * x.0005 has no exact binary double — so HALF_UP and HALF_EVEN agree),
  * and the variance numerator n·Σx² − (Σx)² stays ENTIRELY in exact
  * decimal arithmetic. The only IEEE steps left are one division, one
  * sqrt, one subtract and one divide per row — each a single correctly
  * rounded op on identical inputs. The earlier `ss − n·mean·mean`
  * double formulation was 1 ulp off between engines on real data:
  * a C++ engine may contract the multiply-subtract into an FMA, the
  * JVM never does. No multiply-adjacent-add/sub double op survives
  * here, so there is nothing left to contract.
  *
  * Decimal budget (Spark caps at 38 digits), sized for 100 TB groups:
  * v (12,3) → Σv recast (17,3); v² (25,6) → Σv² recast (26,6);
  * n (11,0)·Σv² → (38,6); (Σv)² → (35,6); the subtraction stays inside
  * (38,6). Exact for |value| ≤ 10³ and n ≤ 10¹¹ rows per group —
  * far beyond any per-group event volume this pass would see.
  *
  * Scale shape: one map-side-combining aggregation to |groups| rows,
  * broadcast back onto the stream — the events themselves never
  * shuffle, so the pass is scan-bound at any scale.
  */
object Anomaly {

  def zScoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
                     idCol: String): DataFrame = {
    val v = col(valueCol).cast(DecimalType(12, 3))
    val stats = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("_n"),
      sum(v).cast(DecimalType(17, 3)).as("_s"),
      sum(v * v).cast(DecimalType(26, 6)).as("_ss"))
      .withColumn("_mean",
        col("_s").cast(DoubleType) / col("_n").cast(DoubleType))
      .withColumn("_num",
        col("_n").cast(DecimalType(11, 0)) * col("_ss") - col("_s") * col("_s"))
      .withColumn("_std", sqrt(col("_num").cast(DoubleType) /
        (col("_n") * (col("_n") - 1)).cast(DoubleType)))
      .select(col(groupCol), col("_mean"), col("_std"))
    df.join(broadcast(stats), groupCol)
      .withColumn("z", (v.cast(DoubleType) - col("_mean")) / col("_std"))
      .filter(abs(col("z")) > 3.0)
      .select(col(idCol), col(groupCol),
        col(valueCol).cast(DoubleType).as(valueCol), col("z"))
  }
}
