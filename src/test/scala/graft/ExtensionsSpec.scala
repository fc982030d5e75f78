package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashAgg
import graft.sources.S3AccessLog

/** GraftExtensions: the custom Catalyst expressions must be reachable
  * from pure SQL text in a GraftSession session (the shared test session
  * is one), and agree exactly with their Column-API twins.
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("parse_s3_access_log is SQL-callable and dead-letters garbage") {
    val good = S3AccessLog.renderLine(RenderFixtures.baseFields)
    Seq(good, "not a log line at all").toDF("value")
      .createOrReplaceTempView("raw_lines")
    val rows = spark.sql(
      """SELECT parse_s3_access_log(value).bucket AS b,
        |       parse_s3_access_log(value) IS NULL AS dead
        |FROM raw_lines ORDER BY dead""".stripMargin).collect()
    assert(rows(0).getString(0) == "test-bucket" && !rows(0).getBoolean(1))
    assert(rows(1).isNullAt(0) && rows(1).getBoolean(1))
  }

  test("SQL minhash_sketch equals the Column-API aggregate") {
    val df = (1 to 200).map(i => (i % 7, s"shingle-$i")).toDF("g", "sh")
    df.createOrReplaceTempView("sh")
    val viaSql = spark.sql(
      "SELECT g, minhash_sketch(sh, 16) AS sig FROM sh GROUP BY g")
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val viaCol = df.groupBy($"g")
      .agg(MinHashAgg.minhash_sketch($"sh", 16).as("sig"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    assert(viaSql == viaCol && viaSql.size == 7)
    assert(viaSql.values.forall(_.length == 16))
  }

  test("SQL top_k equals the Column-API aggregate and respects order") {
    val df = (1 to 100).map(i => (i % 4, i.toDouble % 13, i.toLong))
      .toDF("g", "score", "id")
    df.createOrReplaceTempView("scored")
    val viaSql = spark.sql(
      "SELECT g, top_k(score, id, 3, false) AS tk FROM scored GROUP BY g")
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getDouble(0), p.getLong(1)))).toMap
    val viaCol = df.groupBy($"g")
      .agg(graft.functions.TopKAgg.top_k($"score", $"id", 3,
        ascending = false).as("tk"))
      .collect().map(r => r.getInt(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getDouble(0), p.getLong(1)))).toMap
    assert(viaSql == viaCol && viaSql.size == 4)
    // rank order: scores descending, ids ascending on ties
    viaSql.values.foreach { tk =>
      assert(tk.length == 3)
      assert(tk.sliding(2).forall { case Seq((s1, i1), (s2, i2)) =>
        s1 > s2 || (s1 == s2 && i1 < i2) })
    }
    // non-literal k refused
    intercept[Exception] {
      spark.sql("SELECT top_k(score, id, g, false) FROM scored").collect()
    }
    // mistyped score/id fail ANALYSIS with a type error, not a
    // runtime ClassCastException in the aggregate's update()
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT g, top_k(g, id, 3, false) FROM scored GROUP BY g")
        .collect()
    }
    assert(e1.getMessage.toLowerCase.contains("type"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT g, top_k(score, score, 3, false) FROM scored GROUP BY g")
        .collect()
    }
    assert(e2.getMessage.toLowerCase.contains("type"), e2.getMessage)
  }

  test("quote_tokenize is SQL-callable and type-checks its argument") {
    val toks = spark.sql(
      """SELECT quote_tokenize('a "b c" d') AS t""").collect().head
      .getSeq[String](0)
    assert(toks == Seq("a", "\"b c\"", "d"), toks)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT quote_tokenize(42)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("type"), e.getMessage)
  }

  test("bloom_filter_agg + might_contain: no false negatives via SQL") {
    (1L to 100L).toDF("k").createOrReplaceTempView("keys")
    val hits = spark.sql(
      """SELECT count(*) AS n FROM keys
        |WHERE might_contain(
        |  (SELECT bloom_filter_agg(xxhash64(k), 100L, 10000L) FROM keys),
        |  xxhash64(k))""".stripMargin).collect().head.getLong(0)
    assert(hits == 100L, s"bloom dropped real keys: $hits/100")
  }

  test("minhash_sketch rejects a non-literal k") {
    Seq(("a", 4)).toDF("sh", "k").createOrReplaceTempView("bad")
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sketch(sh, k) FROM bad").collect()
    }
    assert(e.getMessage.contains("minhash_sketch"))
  }

  test("SQL z_value equals the Column-API interleave; bits must be literal") {
    import org.apache.spark.sql.functions.col
    val rows = for (a <- 0L until 40L by 3L; b <- 0L until 40L by 7L)
      yield (a, b)
    rows.toDF("a", "b").createOrReplaceTempView("zin")
    val viaSql = spark.sql("SELECT a, b, z_value(a, b, 16) AS z FROM zin")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaCol = rows.toDF("a", "b")
      .select(col("a"), col("b"),
        graft.operators.Layout.zValue(col("a"), col("b"), 16).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaSql == viaCol)
    val e = intercept[Exception] {
      spark.sql("SELECT z_value(a, b, 32) FROM zin").collect()
    }
    assert(e.getMessage.contains("z_value"))
  }

  test("a GraftSession built over a running context resolves the q34 bloom shape") {
    // a session built over an already-running context (the shared
    // one) gets the SQL functions through the builder's withExtensions
    spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = GraftSession.builder(cpus = 4).getOrCreate()
      assert((s ne spark) && (s.sparkContext eq spark.sparkContext))
      import s.implicits._
      (1L to 60L).map(k => (k, if (k % 3 == 0) "BUILDING" else "AUTO"))
        .toDF("c_custkey", "c_mktsegment").createOrReplaceTempView("customer")
      (1L to 300L).map(o => (o, o % 90 + 1))
        .toDF("o_orderkey", "o_custkey").createOrReplaceTempView("orders")
      val semi = """o_custkey IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin
      val bloom = s.sql(
        s"""SELECT o_orderkey FROM orders
          |WHERE might_contain(
          |    (SELECT bloom_filter_agg(xxhash64(c_custkey), 10000L, 100000L)
          |     FROM customer WHERE c_mktsegment = 'BUILDING'),
          |    xxhash64(o_custkey))
          |  AND $semi""".stripMargin).collect().map(_.getLong(0)).toSeq
      val plain = s.sql(s"SELECT o_orderkey FROM orders WHERE $semi")
        .collect().map(_.getLong(0)).toSeq
      assert(bloom.nonEmpty && bloom == plain)
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
