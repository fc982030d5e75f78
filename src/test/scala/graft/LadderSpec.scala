package graft

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Ladder

class LadderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  def tmp(): String = SparkTestSession.tempDir("graft-ladder").toString

  def rows(dir: String, table: String): Long = Tables.load(spark, dir, table).count()

  test("a factor-2 replica is a valid sf dir: keys offset, text prefixed, schemas kept") {
    val rep = Ladder.replica(spark, sf, 2, tmp())
    for (t <- Tables.all) {
      assert(Tables.load(spark, rep, t).schema == Tables.load(spark, sf, t).schema, t)
      val factor = if (Ladder.Dimensions(t)) 1 else 2
      assert(rows(rep, t) == factor * rows(sf, t), t)
    }
    // no primary key repeats; lineitem has none in the testdata (its
    // (l_orderkey, l_linenumber) pairs repeat), so its pairs must not
    // repeat across replicas
    def keys(dir: String, t: String, key: String*) =
      Tables.load(spark, dir, t).select(key.map(col): _*).distinct().count()
    for ((t, key) <- Seq("orders" -> "o_orderkey", "events" -> "event_id",
        "documents" -> "doc_id", "embeddings" -> "vec_id"))
      assert(keys(rep, t, key) == rows(rep, t), t)
    assert(keys(rep, "lineitem", "l_orderkey", "l_linenumber") ==
      2 * keys(sf, "lineitem", "l_orderkey", "l_linenumber"))
    // foreign keys resolve: lineitem -> orders (moved), orders -> customer (copied)
    val orders = Tables.load(spark, rep, "orders")
    assert(Tables.load(spark, rep, "lineitem")
      .join(orders, col("l_orderkey") === col("o_orderkey"), "left_anti").count() == 0)
    assert(orders.join(Tables.load(spark, rep, "customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").count() == 0)

    val docs = Tables.load(spark, rep, "documents")
    assert(docs.filter(col("n_chars") =!= length(col("text"))).count() == 0)
    val span = Tables.load(spark, sf, "documents").agg(max("doc_id")).head().getLong(0) + 1
    def tokens(replica: Int) = docs
      .filter(col("doc_id") >= replica * span && col("doc_id") < (replica + 1) * span)
      .select(explode(split(col("text"), "\\s+")).as("w")).distinct()
    assert(tokens(1).count() > 0)
    assert(tokens(0).intersect(tokens(1)).count() == 0)
    // replica 0 is the source itself
    assert(docs.filter(col("doc_id") < span)
      .exceptAll(Tables.load(spark, sf, "documents")).count() == 0)
    FileUtils.deleteDirectory(new java.io.File(rep).getParentFile)
  }

  test("a replica write that fails leaves no table the next run reuses") {
    val work = tmp()
    val fs = new Path(FaultyFs.Uri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lineitem = new Path(FaultyFs.uri(s"$work/sf0.001x2/lineitem.parquet"))
    // a write task dies: the staged table never reaches the target
    FaultyFs.failNth("create", "/\\.lineitem\\.parquet\\.next\\.parts/.*part-")
    intercept[Exception](Ladder.replica(spark, sf, 2, FaultyFs.uri(work)))
    assert(!FaultyFs.reset(), "fault never fired")
    assert(!fs.exists(lineitem))
    assert(fs.exists(new Path(FaultyFs.uri(s"$work/sf0.001x2/orders.parquet"))))
    // a crash past the commit marker: the next run finishes that publish
    FaultyFs.failNth("rename", "/\\.events\\.parquet\\.next -> ")
    intercept[Exception](Ladder.replica(spark, sf, 2, FaultyFs.uri(work)))
    assert(!FaultyFs.reset(), "fault never fired")
    val rep = Ladder.replica(spark, sf, 2, FaultyFs.uri(work))
    for (t <- Tables.all) {
      val factor = if (Ladder.Dimensions(t)) 1 else 2
      assert(rows(rep, t) == factor * rows(sf, t), t)
    }
    assert(fs.listStatus(new Path(rep)).map(_.getPath.getName).sorted.toSeq ==
      Tables.all.map(t => s"$t.parquet").sorted)
    FileUtils.deleteDirectory(new java.io.File(work))
  }

  test("spread: a one-row-group file planned as many splits gets the exchange") {
    def exchanged(df: org.apache.spark.sql.DataFrame): Boolean =
      Tables.spread(df, "x").queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      }.nonEmpty
    val slots = spark.sparkContext.defaultParallelism
    val data = spark.range(0, 200000).select(xxhash64(col("id")).as("x"))
    val one = tmp()
    data.coalesce(1).write.mode("overwrite").parquet(one)
    val many = tmp()
    data.repartition(slots).write.mode("overwrite").parquet(many)
    val key = "spark.sql.files.maxPartitionBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "65536")
    try {
      val single = spark.read.parquet(one)
      assert(single.rdd.getNumPartitions >= slots, "fixture must span >= slots splits")
      assert(exchanged(single), "one row group on many splits runs on one core")
      assert(!exchanged(spark.read.parquet(many)), "one file per slot is already spread")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
