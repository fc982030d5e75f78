package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** AWS ALB access log parser — the other converter family the
  * reference's README claims ("VPC, S3, ALB", README.md:11) without
  * implementing. Format per the public AWS docs: space-separated with
  * double-quoted free-text fields (request line, user agent, actions,
  * …), `-` / `"-"` as no-data sentinels.
  *
  * Parse shape: ONE quote-aware tokenization (the fused
  * [[graft.functions.QuoteTokenizeExpr]] scanner — exact
  * `regexp_extract_all(line, `"[^"]*"|\S+`)` semantics in a single
  * linear scan), then typed projections by position — narrow,
  * codegen'd, no shuffle. Lines with too few tokens
  * dead-letter into `error_line` like the S3 converter
  * (s3.py:164-193). The leading 22 fields (through
  * request_creation_time) are required; the fields appended by newer
  * ALB revisions — actions_executed, redirect_url, error_reason,
  * target_port_list, target_status_code_list, classification,
  * classification_reason, conn_trace_id — are typed as TOLERANT reads:
  * null when a line predates them, parsed when present, and anything
  * beyond conn_trace_id is ignored. AWS appends columns over time and
  * readers are expected to tolerate both directions.
  */
object AlbAccessLog {

  private val TokenPattern = "\"[^\"]*\"|\\S+"
  private val MinTokens = 22

  /** Parse a `value` text column into the typed ALB schema +
    * `error_line`. Times → TIMESTAMP_NTZ (ALB logs are UTC ISO-8601
    * with microseconds), ports split from `addr:port` pairs,
    * processing times → double (−1 sentinel preserved: it is
    * semantically "no target", distinct from missing).
    */
  def parse(lines: DataFrame, column: String = "value",
            fused: Boolean = true): DataFrame = {
    // the reference path materializes its tokens in their own
    // projection first, as S3AccessLog's regex path does its groups:
    // inlined, the ~30 fields each re-derive regexp_extract_all under
    // nested CASE WHENs and the stage outgrows Janino's 64 KB method
    // limit (whole-stage codegen fails and falls back on every run)
    val (in, toks) =
      if (fused)
        (lines, graft.functions.QuoteTokenize.quote_tokenize(col(column)))
      else (lines.select(col(column),
        regexp_extract_all(col(column), lit(TokenPattern), lit(0)).as("_toks")),
        col("_toks"))
    val ok = size(toks) >= MinTokens

    def raw(i: Int): Column = element_at(toks, i + 1)
    // tokens matching the quote alternative are "..."-delimited by
    // construction — strip with substring, not another regex per field
    def unq(i: Int): Column = {
      val t = raw(i)
      when(t.startsWith("\"") && t.endsWith("\""),
        t.substr(lit(2), length(t) - 2)).otherwise(t)
    }
    def str(i: Int): Column = nullif(unq(i), lit("-"))
    def num(i: Int, dt: org.apache.spark.sql.types.DataType): Column =
      nullif(raw(i), lit("-")).try_cast(dt)
    def ts(i: Int): Column =
      to_timestamp(nullif(raw(i), lit("-")),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").cast(TimestampNTZType)
    def addr(i: Int): Column =
      when(nullif(raw(i), lit("-")).isNotNull,
        substring_index(raw(i), ":", 1))
    def port(i: Int): Column =
      when(raw(i).contains(":"),
        substring_index(raw(i), ":", -1)).try_cast(IntegerType)
    def whenOk(c: Column): Column = when(ok, c)
    // trailing fields: present only in newer log revisions — read when
    // the line is long enough, null otherwise (tolerant reader)
    def trail(i: Int): Column = when(ok && size(toks) > i, str(i))

    in.select(
      whenOk(str(0)).as("request_type"),
      whenOk(ts(1)).as("time"),
      whenOk(str(2)).as("elb"),
      whenOk(addr(3)).as("client_addr"),
      whenOk(port(3)).as("client_port"),
      whenOk(addr(4)).as("target_addr"),
      whenOk(port(4)).as("target_port"),
      whenOk(num(5, DoubleType)).as("request_processing_time"),
      whenOk(num(6, DoubleType)).as("target_processing_time"),
      whenOk(num(7, DoubleType)).as("response_processing_time"),
      whenOk(num(8, IntegerType)).as("elb_status_code"),
      whenOk(num(9, IntegerType)).as("target_status_code"),
      whenOk(num(10, LongType)).as("received_bytes"),
      whenOk(num(11, LongType)).as("sent_bytes"),
      whenOk(str(12)).as("request"),
      whenOk(str(13)).as("user_agent"),
      whenOk(str(14)).as("ssl_cipher"),
      whenOk(str(15)).as("ssl_protocol"),
      whenOk(str(16)).as("target_group_arn"),
      whenOk(str(17)).as("trace_id"),
      whenOk(str(18)).as("domain_name"),
      whenOk(str(19)).as("chosen_cert_arn"),
      whenOk(num(20, IntegerType)).as("matched_rule_priority"),
      whenOk(ts(21)).as("request_creation_time"),
      trail(22).as("actions_executed"),
      trail(23).as("redirect_url"),
      trail(24).as("error_reason"),
      trail(25).as("target_port_list"),
      trail(26).as("target_status_code_list"),
      trail(27).as("classification"),
      trail(28).as("classification_reason"),
      trail(29).as("conn_trace_id"),
      when(!ok, col(column)).as("error_line"))
  }
}
