package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.IntegerType

import graft.functions.{MinHashAggExpr, ParseS3AccessLogExpr}
import graft.operators.Layout

/** SQL front-end integration: registers graft's custom Catalyst
  * expressions as native SQL functions, so a pure-SQL user (spark-sql
  * shell, Thrift server, `spark.sql(...)`) gets the same fused parser
  * and one-pass sketch the Column API exposes — no imports, no UDF
  * registration, full codegen.
  *
  * Activate per session with either
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)`.
  *
  *   - `parse_s3_access_log(line)` → struct of the 26 raw groups of the
  *     reference's log pattern (s3_server_access_logs.py:25-34), NULL on
  *     non-matching lines (its `re.search` dead-letter semantics).
  *   - `minhash_sketch(expr, k)` → aggregate MinHash signature
  *     (array<bigint>[k]) of the group's values; `k` must be a literal.
  *   - `bloom_filter_agg(keyHash, items, bits)` / `might_contain(bf, h)`
  *     → Spark's internal runtime-filter bloom pair, surfaced for
  *     explicit build-once-probe-everywhere pruning (the probe requires
  *     the filter as a literal or scalar subquery, per the expression's
  *     own contract).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("parse_s3_access_log"),
      new ExpressionInfo(classOf[ParseS3AccessLogExpr].getName,
        null, "parse_s3_access_log",
        "_FUNC_(line) - Parses an S3 server access log line into a struct " +
          "of 26 string groups; NULL if the line does not match.",
        "", "", "", "string_funcs", "0.1.0", "", "scala_udf"),
      (children: Seq[Expression]) => {
        if (children.length != 1) {
          throw new IllegalArgumentException(
            s"parse_s3_access_log expects 1 argument, got ${children.length}")
        }
        ParseS3AccessLogExpr(children.head)
      }: Expression))

    ext.injectFunction((
      new FunctionIdentifier("minhash_sketch"),
      new ExpressionInfo(classOf[MinHashAggExpr].getName,
        null, "minhash_sketch",
        "_FUNC_(expr, k) - Aggregate MinHash signature (array<bigint> of " +
          "length k) over the group's string values; k must be an " +
          "integer literal.",
        "", "", "", "agg_funcs", "0.1.0", "", "scala_udf"),
      (children: Seq[Expression]) => {
        val k = children match {
          case Seq(_, Literal(v: Int, IntegerType)) if v > 0 => v
          case _ => throw new IllegalArgumentException(
            "minhash_sketch expects (expr, <positive int literal>)")
        }
        MinHashAggExpr(children.head, k).toAggregateExpression()
      }: Expression))

    ext.injectFunction((
      new FunctionIdentifier("top_k"),
      new ExpressionInfo(classOf[graft.functions.TopKAggExpr].getName,
        null, "top_k",
        "_FUNC_(score, id, k, ascending) - Aggregate: the group's k best " +
          "(score, id) pairs as a rank-ordered array<struct<score,id>>; " +
          "ascending=true keeps smallest scores (distances), false keeps " +
          "largest (similarities); ids break ties ascending. The buffer " +
          "is k slots, so partial aggregation bounds the exchange by k.",
        "", "", "", "agg_funcs", "0.1.0", "", "scala_udf"),
      (children: Seq[Expression]) => {
        val (k, asc) = children match {
          case Seq(_, _, Literal(kv: Int, IntegerType),
              Literal(av: Boolean, org.apache.spark.sql.types.BooleanType))
            if kv > 0 => (kv, av)
          case _ => throw new IllegalArgumentException(
            "top_k expects (score, id, <positive int literal>, <boolean literal>)")
        }
        graft.functions.TopKAggExpr(children.head, children(1), k, asc)
          .toAggregateExpression()
      }: Expression))

    ext.injectFunction((
      new FunctionIdentifier("quote_tokenize"),
      new ExpressionInfo(classOf[graft.functions.QuoteTokenizeExpr].getName,
        null, "quote_tokenize",
        "_FUNC_(line) - Tokenizes a quoted-field space-separated log " +
          "line; exact '\"[^\"]*\"|\\S+' semantics in one linear scan.",
        "", "", "", "string_funcs", "0.1.0", "", "scala_udf"),
      (children: Seq[Expression]) => {
        if (children.length != 1) {
          throw new IllegalArgumentException(
            s"quote_tokenize expects 1 argument, got ${children.length}")
        }
        graft.functions.QuoteTokenizeExpr(children.head)
      }: Expression))

    ext.injectFunction((
      new FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        null, "bloom_filter_agg",
        "_FUNC_(keyHash, expectedItems, numBits) - Aggregates a bloom " +
          "filter (binary) over xxhash64 key hashes.",
        "", "", "", "agg_funcs", "0.1.0", "", "scala_udf"),
      (children: Seq[Expression]) => {
        val agg = children match {
          case Seq(h) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate
              .BloomFilterAggregate(h)
          case Seq(h, items) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate
              .BloomFilterAggregate(h, items)
          case Seq(h, items, bits) =>
            new org.apache.spark.sql.catalyst.expressions.aggregate
              .BloomFilterAggregate(h, items, bits)
          case _ => throw new IllegalArgumentException(
            s"bloom_filter_agg expects 1-3 arguments, got ${children.length}")
        }
        agg.toAggregateExpression()
      }: Expression))

    ext.injectFunction((
      new FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        null, "might_contain",
        "_FUNC_(bloom, keyHash) - Bloom probe: false positives possible, " +
          "false negatives never. The bloom must be a literal or scalar " +
          "subquery.",
        "", "", "", "predicate_funcs", "0.1.0", "", "scala_udf"),
      (children: Seq[Expression]) => {
        if (children.length != 2) {
          throw new IllegalArgumentException(
            s"might_contain expects 2 arguments, got ${children.length}")
        }
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))
      }: Expression))

    ext.injectFunction((
      new FunctionIdentifier("z_value"),
      new ExpressionInfo("graft.operators.Layout",
        null, "z_value",
        "_FUNC_(a, b, bits) - Morton/Z-order interleave of the low " +
          "`bits` bits of two integral columns (bit i of a -> bit 2i, " +
          "of b -> 2i+1); the multi-dimensional clustering key for " +
          "min/max-pruned layouts. bits must be an int literal in " +
          "[1, 31]. Pure bitwise arithmetic, fully codegen'd.",
        "", "", "", "math_funcs", "0.1.0", "", "scala_udf"),
      (children: Seq[Expression]) => {
        val bits = children match {
          case Seq(_, _, Literal(v: Int, IntegerType))
            if v >= 1 && v <= 31 => v
          case _ => throw new IllegalArgumentException(
            "z_value expects (a, b, <int literal in [1,31]>)")
        }
        bridge.catalyst(Layout.zValue(bridge.column(children.head),
          bridge.column(children(1)), bits))
      }: Expression))
  }
}
