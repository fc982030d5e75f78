package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Skew-handling join utilities. At 100 TB a handful of hot keys (one
  * pathological customer, one default user id) serialize an entire
  * shuffle join into a few straggler tasks. Two mitigations:
  *
  *  - AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
  *    on by default) — handles moderate skew transparently; prefer it.
  *  - Explicit salting (this module) — for the pathological cases AQE
  *    can't fix (a single key larger than an executor), or engines with
  *    AQE off: the skewed side's key is extended with a random salt in
  *    [0, factor), the other side is replicated `factor` ways with every
  *    salt value, and the join runs on (key, salt) — spreading each hot
  *    key over `factor` tasks.
  */
object Skew {

  /** Salted inner equi-join: `left` (large, skewed) ⋈ `right` (smaller,
    * replicated `factor`×) on `key`. Row-level results are identical to
    * a plain inner join; only the shuffle distribution changes.
    *
    * The salt is a pure function of the left ROW (xxhash64 over every
    * column plus the fixed seed 42), so a task retry or speculative duplicate
    * recomputes the identical salt even when the upstream is
    * nondeterministic — unlike `rand()`, whose value depends on
    * partition index and row order. Hashing the whole row (not just the
    * key) is what spreads a hot key across `factor` buckets; identical
    * duplicate rows co-bucket, which is harmless for correctness.
    *
    * Only hash-safe columns feed the salt: Map-typed columns (at any
    * nesting depth) are rejected by xxhash64 unless a legacy conf is
    * set, so they are skipped — the join key itself is always hashable
    * (Spark forbids map equi-join keys), so at least one column always
    * contributes. Columns are referenced via `left(name)` so names
    * containing dots resolve as whole names, not struct paths. The salt
    * column name is generated to miss every existing column on both
    * sides instead of assuming "_salt" is free.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 factor: Int): DataFrame = {
    require(factor > 0, "salt factor must be positive")
    def hashable(dt: DataType): Boolean = dt match {
      case _: MapType    => false
      case s: StructType => s.fields.forall(f => hashable(f.dataType))
      case a: ArrayType  => hashable(a.elementType)
      case _             => true
    }
    val hashCols = left.schema.fields.toSeq.collect {
      // backtick-quote so dotted names resolve as whole column names
      case f if hashable(f.dataType) =>
        left("`" + f.name.replace("`", "``") + "`")
    }
    val saltCol = Iterator.from(0).map(i => s"__graft_salt$i")
      .find(n => !left.columns.contains(n) && !right.columns.contains(n)).get
    val saltedLeft = left.withColumn(saltCol,
      pmod(xxhash64(lit(42L) +: hashCols: _*), lit(factor))
        .cast(IntegerType))
    val replicatedRight = right.withColumn(saltCol,
      explode(sequence(lit(0), lit(factor - 1))))
    saltedLeft.join(replicatedRight, Seq(key, saltCol)).drop(saltCol)
  }

  /** Top-k heavy-hitter keys with counts — the diagnostic used to decide
    * whether a join needs salting (run on a sample at scale).
    */
  def keySkewProfile(df: DataFrame, key: String, k: Int = 20): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key))
      .limit(k)
}
