package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S3 server-access-log text source: schema + parse (pure column
  * expressions, zero UDFs).
  *
  * Faithful to the reference converter's semantics
  * (`converters/s3-server-access-log/s3_server_access_logs.py`):
  *
  *  - 26-group unanchored regex (s3_server_access_logs.py:25-34); `rlike`
  *    reproduces Python `re.search` "find anywhere" semantics.
  *  - `version_id` captures exactly ONE character — `(?P<version>\S)` —
  *    a reference quirk preserved on purpose (s3_server_access_logs.py:30).
  *  - Bare `-` decodes to NULL for most fields; the quoted sentinel `"-"`
  *    decodes to NULL only for referrer/user_agent
  *    (s3_server_access_logs.py:202-226 vs 212-213). `remote_ip`,
  *    `requester`, `operation`, `request`, `bucket_owner`, `s3_bucket` are
  *    NOT sentinel-decoded (a literal `-` passes through), matching the
  *    reference row constructor exactly.
  *  - Unmatched lines become an all-NULL dead-letter row carrying the raw
  *    text in `error_line` (s3_server_access_logs.py:164-193).
  *  - The timestamp `[30/Jul/2024:13:08:44 +0000]` is sliced between `[`
  *    and the first space, DISCARDING the zone offset → naive wall-clock
  *    time (s3_server_access_logs.py:144-154; pinned by
  *    test_s3_server_access_logs.py:204-209). We parse with
  *    `try_to_timestamp` so a matched line with a garbage time yields NULL
  *    instead of the reference's crash (`NoneType.isoformat`,
  *    s3_server_access_logs.py:197) — documented divergence.
  *  - Casts: http_status → int, bytes_sent/object_size/total_time/
  *    turn_around_time → long (s3_server_access_logs.py:204-211,242-247),
  *    via `try_cast` (NULL on garbage regardless of ANSI mode).
  */
object S3AccessLog {

  /** Java-regex translation of S3_ACCESS_LOG_PATTERN
    * (s3_server_access_logs.py:25-34). Group order = reference order.
    */
  val Pattern: String =
    """(\S+) (\S+) (\[[^\]]*\]) (\S+) (\S+) (\S+) (\S+) (\S+) ("[^"]*"|-) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) ("[^"]*"|-) ("[^"]*"|-) (\S) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+)"""

  /** Raw regex group names, 1-based order (s3_server_access_logs.py:25-34). */
  val GroupNames: Seq[String] = Seq(
    "owner", "bucket", "time", "ip", "requester", "reqid", "operation",
    "key", "request", "status", "error", "bytes", "size", "totaltime",
    "turnaround", "referrer", "useragent", "version", "host_id",
    "signature_version", "cipher_suite", "auth_type", "host_header",
    "tls_version", "access_point_arn", "acl_required")

  /** Output schema before the final projection — request_time_string at
    * position 3 (s3_server_access_logs.py:231-261).
    */
  val RawSchema: StructType = StructType(
    Seq(
      StructField("bucket_owner", StringType),
      StructField("s3_bucket", StringType),
      StructField("request_time_string", StringType),
      StructField("remote_ip", StringType),
      StructField("requester", StringType),
      StructField("request_id", StringType),
      StructField("operation", StringType),
      StructField("key", StringType),
      StructField("request", StringType),
      StructField("http_status", IntegerType),
      StructField("error_code", StringType),
      StructField("bytes_sent", LongType),
      StructField("object_size", LongType),
      StructField("total_time", LongType),
      StructField("turn_around_time", LongType),
      StructField("referrer", StringType),
      StructField("user_agent", StringType),
      StructField("version_id", StringType),
      StructField("host_id", StringType),
      StructField("signature_version", StringType),
      StructField("cipher_suite", StringType),
      StructField("authentication_type", StringType),
      StructField("host_header", StringType),
      StructField("tls_version", StringType),
      StructField("access_point_arn", StringType),
      StructField("acl_required", StringType),
      StructField("error_line", StringType)))

  /** Final column order: request_time (timestamp) replaces
    * request_time_string at position 3 (s3_server_access_logs.py:405-441).
    */
  val OutputColumns: Seq[String] = RawSchema.fieldNames.toSeq
    .updated(2, "request_time")

  private def nullIfDash(c: Column): Column = nullif(c, lit("-"))
  private def nullIfQuotedDash(c: Column): Column = nullif(c, lit("\"-\""))

  /** `[30/Jul/2024:13:08:44 +0000]` → naive timestamp, offset discarded
    * (s3_server_access_logs.py:144-154: slice `[`..first-space, then
    * dateutil). NULL on garbage instead of the reference's crash.
    *
    * Fast path: the bracketed token is fixed-width (`dd/MMM/yyyy:HH:mm:ss`),
    * so fields come out with substring + a 12-way month decode and
    * `try_make_timestamp` — an order of magnitude cheaper per row than
    * `DateTimeFormatter`. Tokens that don't fit the fixed shape fall back
    * to `try_to_timestamp` with the full pattern (lazy CASE branch), so
    * semantics are unchanged.
    */
  def parseAccessTime(timeGroup: Column): Column = {
    // Fixed-shape fields are addressed POSITIONALLY on the raw group
    // ("[dd/MMM/yyyy:HH:mm:ss ...", so field positions shift +1 for the
    // bracket) — every reference is a plain substring of an attribute.
    // A shared `tok = regexp_extract(...)` here would re-run the regex
    // once per reference (~10×/row); the regex now exists only in the
    // rare non-fixed-shape fallback.
    val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
      "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
    val mon = array_position(
      array(months.map(lit): _*), substring(timeGroup, 5, 3)).cast(IntegerType)
    val fixedShape =
      substring(timeGroup, 4, 1) === "/" && substring(timeGroup, 8, 1) === "/" &&
      substring(timeGroup, 13, 1) === ":" && substring(timeGroup, 16, 1) === ":" &&
      substring(timeGroup, 19, 1) === ":" &&
      substring(timeGroup, 22, 1).isin(" ", "]") && mon > 0
    def num(pos: Int, len: Int): Column =
      substring(timeGroup, pos, len).try_cast(IntegerType)
    when(fixedShape,
      call_function("try_make_timestamp",
        num(9, 4), mon, num(2, 2), num(14, 2), num(17, 2),
        substring(timeGroup, 20, 2).try_cast(DecimalType(16, 6))))
      .otherwise(try_to_timestamp(
        regexp_extract(timeGroup, """\[([^ \]]+)""", 1),
        lit("dd/MMM/yyyy:HH:mm:ss")))
  }

  /** Typed/NULL-normalized output columns, given an accessor from raw
    * group name → string Column. Shared by the built-in `regexp_extract`
    * path and the fused single-pass Catalyst expression path so both are
    * semantically identical by construction.
    */
  def typedColumns(g: String => Column): Seq[Column] = {
    val ts = parseAccessTime(g("time"))
    Seq(
      g("owner").as("bucket_owner"),
      g("bucket").as("s3_bucket"),
      ts.as("request_time"),
      g("ip").as("remote_ip"),
      g("requester").as("requester"),
      g("reqid").as("request_id"),
      g("operation").as("operation"),
      nullIfDash(g("key")).as("key"),
      g("request").as("request"),
      try_cast(nullIfDash(g("status")), IntegerType).as("http_status"),
      nullIfDash(g("error")).as("error_code"),
      try_cast(nullIfDash(g("bytes")), LongType).as("bytes_sent"),
      try_cast(nullIfDash(g("size")), LongType).as("object_size"),
      try_cast(nullIfDash(g("totaltime")), LongType).as("total_time"),
      try_cast(nullIfDash(g("turnaround")), LongType).as("turn_around_time"),
      nullIfQuotedDash(g("referrer")).as("referrer"),
      nullIfQuotedDash(g("useragent")).as("user_agent"),
      nullIfDash(g("version")).as("version_id"),
      nullIfDash(g("host_id")).as("host_id"),
      nullIfDash(g("signature_version")).as("signature_version"),
      nullIfDash(g("cipher_suite")).as("cipher_suite"),
      nullIfDash(g("auth_type")).as("authentication_type"),
      nullIfDash(g("host_header")).as("host_header"),
      nullIfDash(g("tls_version")).as("tls_version"),
      nullIfDash(g("access_point_arn")).as("access_point_arn"),
      nullIfDash(g("acl_required")).as("acl_required"))
  }

  private def try_cast(c: Column, t: DataType): Column = c.try_cast(t)

  /** Parse a DataFrame of raw log lines (single string column) into the
    * typed 27-column table, built-ins only: blank lines dropped
    * (s3_server_access_logs.py:134-137), unmatched lines dead-lettered.
    *
    * `fused = true` routes the 26-way group extraction through the
    * single-pass [[graft.functions.ParseS3AccessLog]] Catalyst expression
    * (one regex evaluation per row) instead of 26 `RegExpExtract`s —
    * same results, ~order-of-magnitude less regex work per row.
    */
  def parse(lines: DataFrame, column: String = "value",
            fused: Boolean = true, dropBlanks: Boolean = true): DataFrame = {
    // Python str.strip() removes ALL whitespace; Spark's trim() only 0x20.
    // Character-set trim (linear two-pointer scan) — a `^\s+|\s+$` regex
    // here costs as much as the whole 26-group parse (the unanchored
    // alternation attempts a match at every position).
    val v = trim(col(column), " \t\n\r\f")
    // dropBlanks reproduces the reference's blank-line skip
    // (s3_server_access_logs.py:134-137) and is right for raw file
    // input. Pass false when `column` is a COMPUTED never-blank value:
    // the filter's predicate references the computed column, so Catalyst
    // substitutes the full expression into a scan-side Filter — the
    // computation then runs TWICE per row, and (worse) upstream of any
    // repartition meant to spread it across cores.
    val projected = lines.select(v.as("value"))
    val trimmed =
      if (dropBlanks) projected.filter(col("value") =!= "") else projected

    val names = OutputColumns.filterNot(_ == "error_line")
    def guarded(matched: Column, cols: Seq[Column]): Seq[Column] =
      cols.zip(names).map { case (c, n) =>
        when(matched, c).otherwise(lit(null)).as(n)
      } :+ when(!matched, col("value")).otherwise(lit(null))
        .cast(StringType).as("error_line")

    if (fused) {
      val r = graft.functions.ParseS3AccessLog.parse_s3_access_log(col("value"))
      val withRaw = trimmed.select(col("value"), r.as("_g"))
      val matched = col("_g").isNotNull
      withRaw.select(guarded(matched, typedColumns(col("_g").getField)): _*)
    } else {
      // materialize the 26 groups in their own projection first — the
      // typed layer references some groups (notably `time`) many times,
      // and each reference to an inline regexp_extract would re-run the
      // full pattern (CollapseProject keeps multi-referenced non-cheap
      // aliases in their own projection, so this stays one pass/group)
      val byName = GroupNames.zipWithIndex.toMap
      val raws = trimmed.select(
        col("value") +: GroupNames.map(n =>
          regexp_extract(col("value"), Pattern, byName(n) + 1)
            .as(s"_raw_$n")): _*)
      val matched = col("value").rlike(Pattern)
      raws.select(guarded(matched,
        typedColumns(n => col(s"_raw_$n"))): _*)
    }
  }

  /** Render a log line from raw field values — inverse of the parser for
    * ScalaCheck round-trip tests. `time` must include brackets, `request`/
    * `referrer`/`userAgent` their quotes (or be `-`/`"-"`).
    */
  def renderLine(fields: Map[String, String]): String =
    GroupNames.map(fields(_)).mkString(" ")
}
