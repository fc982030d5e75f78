package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators over a document corpus (SURVEY.md §2c):
  * tokenization, term stats, quality scoring, heuristic language ID,
  * positional fingerprinting. All pure built-in expressions — fully
  * codegen'd, no UDFs, shuffle only at the aggregations.
  */
object TextAnalysis {

  /** Whitespace tokens, exploded: (id, tok). */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))

  /** Corpus-wide term frequencies, top-k (partial agg then global top-k
    * — never a full sort of the vocabulary).
    */
  def termFrequencies(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame =
    tokens(df, idCol, textCol)
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(k)

  /** Per-document stats: char count, token count, avg token length,
    * punctuation ratio, distinct-token ratio.
    */
  def docStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val nTok = size(toks).cast(LongType)
    val nChar = length(col(textCol)).cast(LongType)
    val nNonSpace = length(regexp_replace(col(textCol), " ", "")).cast(LongType)
    val nPunct = nChar - length(regexp_replace(col(textCol),
      """[\p{Punct}]""", "")).cast(LongType)
    df.select(
      col(idCol),
      nChar.as("n_chars"),
      nTok.as("n_tokens"),
      size(array_distinct(toks)).cast(LongType).as("n_distinct_tokens"),
      (nNonSpace.cast(DoubleType) / nTok.cast(DoubleType)).as("avg_token_len"),
      (nPunct.cast(DoubleType) / nChar.cast(DoubleType)).as("punct_ratio"),
      (size(array_distinct(toks)).cast(DoubleType) / nTok.cast(DoubleType))
        .as("distinct_ratio"))
  }

  /** Tiny embedded stopword sets for the n-gram/stopword-ratio language
    * heuristic. Real deployments would broadcast a bigger lexicon; the
    * mechanism (per-token membership → ratio → argmax) is the same.
    */
  val StopwordSets: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "zu", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "de", "est"),
    "es" -> Seq("el", "la", "los", "y", "de", "es"))

  /** Built-in character-trigram rank profiles for multi-language
    * identification (the Cavnar–Trenkle 1994 "N-Gram-Based Text
    * Categorization" method every pretraining pipeline's first filter
    * descends from). Rank 1 = most frequent; 20 trigrams per language
    * — enough to separate the six largest Latin-script web languages
    * on sentence-length documents. Space-padded trigrams carry the
    * word-boundary signal ("he " vs "he" inside a word). Real
    * deployments broadcast bigger learned profiles; the mechanism
    * (doc profile → out-of-place distance → argmin) is identical and
    * the table is DATA to the operator, not code.
    */
  val LidProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq(" th", "the", "he ", "ed ", " an", "and", "nd ", " of",
      "of ", " in", "ing", "ng ", " to", "to ", "er ", "is ", " is",
      "on ", "es ", "at "),
    "fr" -> Seq(" de", "de ", " le", "le ", "es ", "ent", "nt ", "et ",
      " et", " la", "la ", "ion", "on ", " pa", "ait", " qu", "que",
      "ue ", " co", "re "),
    "es" -> Seq(" de", "de ", " la", "la ", "os ", " el", "el ", "es ",
      "en ", " en", "as ", " co", "ión", "ón ", " qu", "que", "ue ",
      "ent", " se", "ado"),
    "de" -> Seq("en ", "er ", " de", "der", "ie ", " di", "die", "ch ",
      "sch", "ein", " ei", "ich", "nd ", "und", " un", "che", "ung",
      "ng ", "ten", "ber"),
    "it" -> Seq(" di", "di ", "to ", " de", "la ", " la", "re ", "no ",
      "ion", "one", "ne ", " co", "che", " ch", "he ", "ell", "lla",
      "del", "ent", "ato"),
    "pt" -> Seq(" de", "de ", "os ", " co", "ão ", "ção", " qu", "que",
      "ue ", "es ", " do", "do ", "da ", " da", "ent", "nte", " es",
      "ar ", "ra ", "ado"))

  /** Multi-language identification by Cavnar–Trenkle out-of-place
    * distance: per document, the top-40 character
    * trigrams (by count desc, trigram asc — a total order) form the doc
    * profile; against each language profile the distance is
    * Σ over doc-profile trigrams of |doc_rank − profile_rank|, with
    * absent trigrams penalized at 40; the language is the argmin
    * (ties toward the lexicographically first code). Returns
    * (id, language, distance, n_grams, confidence) with
    * confidence = 1 − distance / (n_grams·40) ∈ [0, 1].
    *
    * Text shorter than one trigram after trim-normalization scores no
    * profile and is labeled "und" with distance NULL, confidence 0 —
    * the row survives (a curation cascade filters on the label; rows
    * silently vanishing on degenerate input is the ev22 NULL lesson).
    * A FULL MISS (every doc trigram absent from every profile — pure
    * digits, unprofiled scripts) is also "und": the argmin over
    * all-equal max distances would otherwise crown the alphabetically
    * first language at confidence 0.
    *
    * MISCLASSIFICATION FLOOR, documented honestly: 20 trigrams × 6
    * Latin-script languages is demonstration-sized — reliable on
    * sentence-length docs (the ta26 gate plants those), but a 2–3 word
    * doc yields a handful of trigrams whose accidental overlap with
    * one profile produces a CONFIDENT wrong label (e.g. a lone French
    * loan-phrase inside an English catalog row). Every doc is
    * classified; a short-doc-heavy cascade abstains on the reported
    * `n_grams` instead (treat `n_grams < 10` as "und": a sentence of ~4
    * words clears it, a fragment does not).
    *
    * Determinism: trigram counts are exact, both rank orders are
    * total, the distance is exact integer arithmetic, the argmin
    * breaks ties on the language code, and confidence is two IEEE ops
    * on identical integers — a DuckDB oracle replays the whole method
    * from the same literal profile table, row for row.
    *
    * Scale shape: the corpus pass is one narrow trigram explode + one
    * (id, trigram) count with map-side combine; the per-doc rank
    * window is partitioned by document (each doc's grams bounded by
    * its length — no global window); everything after runs on ≤ 40
    * rows per doc against a 120-row broadcast profile table. No UDFs,
    * no driver actions.
    */
  def languageIdentify(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val topN = 40
    val spark = df.sparkSession
    import spark.implicits._
    val profiles = LidProfiles.toSeq.sortBy(_._1).flatMap { case (l, gs) =>
      gs.zipWithIndex.map { case (g, i) => (l, g, (i + 1).toLong) }
    }.toDF("lang", "gram", "prank")
    val langs = LidProfiles.keys.toSeq.sorted.toDF("lang")
    // normalized text: lowercase, whitespace runs collapsed, TRIMMED
    // (whitespace-only text must normalize to empty, not to a phantom
    // space trigram), one pad space each side so word-boundary
    // trigrams exist at the edges
    val norm = concat(lit(" "),
      trim(regexp_replace(lower(col(textCol)), "\\s+", " ")), lit(" "))
    val base = df.select(col(idCol).as("_id"), norm.as("_t"))
    // sequence(1, len-2) would step DOWNWARD for len < 3 (the
    // epochUpsample lesson) — degenerate docs leave before the explode
    // and re-enter via the left join below
    val grams = base.filter(length(col("_t")) >= 3)
      .select(col("_id"), explode(transform(
        sequence(lit(1), length(col("_t")) - 2),
        i => col("_t").substr(i, lit(3)))).as("gram"))
      .groupBy(col("_id"), col("gram")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("_id"))
      .orderBy(col("c").desc, col("gram"))
    val docTop = grams.withColumn("r", row_number().over(w))
      .filter(col("r") <= topN)
      .select(col("_id"), col("gram"), col("r").cast(LongType).as("r"))
    val dist = docTop
      .crossJoin(broadcast(langs))
      .join(broadcast(profiles), Seq("lang", "gram"), "left")
      .groupBy(col("_id"), col("lang"))
      .agg(sum(coalesce(abs(col("r") - col("prank")), lit(topN.toLong)))
        .as("d"), count(lit(1)).as("n_grams"))
    val best = dist
      .groupBy(col("_id"))
      .agg(min(struct(col("d"), col("lang"), col("n_grams"))).as("_b"))
      .select(col("_id"),
        // a FULL MISS (no doc gram in any profile — pure digits,
        // unprofiled scripts) is "und", not the alphabetically first
        // language at confidence 0
        when(col("_b.d") === col("_b.n_grams") * topN, lit("und"))
          .otherwise(col("_b.lang")).as("language"),
        col("_b.d").as("distance"), col("_b.n_grams").as("n_grams"),
        (lit(1.0) - col("_b.d").cast(DoubleType) /
          (col("_b.n_grams") * topN).cast(DoubleType)).as("confidence"))
    df.select(col(idCol)).join(best, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("language"), lit("und")).as("language"),
        col("distance"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("confidence"), lit(0.0)).as("confidence"))
  }

  /** Per-document SCRIPT composition: counts and ratios of Latin
    * letters, CJK ideographs, digits, spaces, and everything else —
    * the writing-system signal a multilingual pretraining pipeline
    * needs BEFORE [[languageIdentify]] is even applicable (trigram
    * profiles assume a space-delimited Latin script; a mostly-CJK doc
    * should route to a CJK-aware path instead). Dominant =
    * 'cjk' when ideographs outnumber Latin letters, else 'latin' when
    * any Latin letters exist, else 'other'; empty text is 'empty'.
    *
    * Determinism: each count is `length(text) − length(replace-all of
    * one char class)` — exact integers in any engine (the classes are
    * pure codepoint ranges, identical in Java regex and RE2); ratios
    * are one IEEE division each, zero-guarded like [[docStats]].
    *
    * Scale: a scan-fused narrow projection — zero shuffle.
    */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val n = length(t)
    def classCount(re: String): Column =
      (n - length(regexp_replace(t, re, ""))).cast(LongType)
    val latin = classCount("[A-Za-z]")
    val cjk = classCount("[一-鿿]")
    val digit = classCount("[0-9]")
    val space = classCount("[ ]")
    def ratio(c: Column): Column =
      when(n > 0, c.cast(DoubleType) / n.cast(DoubleType)).otherwise(lit(0.0))
    df.select(col(idCol), n.cast(LongType).as("n_chars"),
        latin.as("n_latin"), cjk.as("n_cjk"), digit.as("n_digit"),
        (n.cast(LongType) - latin - cjk - digit - space).as("n_other"),
        ratio(latin).as("latin_ratio"), ratio(cjk).as("cjk_ratio"),
        ratio(digit).as("digit_ratio"))
      .withColumn("dominant",
        when(col("n_chars") === 0, lit("empty"))
          .when(col("n_cjk") > col("n_latin"), lit("cjk"))
          .when(col("n_latin") > 0, lit("latin"))
          .otherwise(lit("other")))
  }

  // ---- shared per-document signal expressions -------------------------
  // ONE definition each for the stopword/punctuation/composite-quality
  // signals: languageScore, qualityScore and curationReport must agree
  // on these by construction (their oracles hard-code the same
  // formulas), so the constants live exactly once.

  private def stopHitsCol(toks: Column, lang: String): Column =
    size(filter(toks, t => StopwordSets(lang).map(s => t === s).reduce(_ || _)))

  private def stopRatioCol(toks: Column, lang: String): Column =
    stopHitsCol(toks, lang).cast(DoubleType) / size(toks).cast(DoubleType)

  /** Punctuation density; an empty text has no punctuation (0.0), not
    * a 0/0 — Spark's NULL and DuckDB's NaN disagree on 0/0, so the
    * guard is also what keeps oracles row-for-row on degenerate docs.
    */
  private def punctRatioCol(text: Column): Column = {
    val nChar = length(text)
    when(nChar > 0,
      (nChar - length(regexp_replace(text, """[\p{Punct}]""", "")))
        .cast(DoubleType) / nChar.cast(DoubleType))
      .otherwise(lit(0.0))
  }

  /** quality = 0.5·min(stop/0.08, 1) + 0.3·min(ntok/100, 1)
    *         + 0.2·(1 − min(punct/0.2, 1)) — fixed-order IEEE.
    */
  private def qualityCol(sr: Column, nTok: Column, pr: Column): Column =
    lit(0.5) * least(sr / 0.08, lit(1.0)) +
      lit(0.3) * least(nTok.cast(DoubleType) / 100.0, lit(1.0)) +
      lit(0.2) * (lit(1.0) - least(pr / 0.2, lit(1.0)))

  /** Heuristic language ID: stopword-hit ratio for `lang`; `is_lang`
    * when the ratio reaches 0.08 (the fluency norm [[qualityScore]]
    * uses). Deterministic, exact double division — oracle-able in SQL.
    */
  def languageScore(df: DataFrame, idCol: String, textCol: String,
                    lang: String): DataFrame = {
    val toks = split(col(textCol), " ")
    val hits = stopHitsCol(toks, lang).cast(LongType)
    df.select(
      col(idCol),
      hits.as("stop_hits"),
      size(toks).cast(LongType).as("n_tokens"),
      (hits.cast(DoubleType) / size(toks).cast(DoubleType)).as("stop_ratio"))
      .withColumn("is_lang", (col("stop_ratio") >= 0.08).cast(IntegerType))
  }

  /** Composite document quality score for corpus filtering — the
    * length/punctuation/stopword-ratio heuristic stack every
    * training-data pipeline runs before dedup. Signals:
    *   - stopword ratio vs the language's expected floor (fluency),
    *   - token count vs a saturation length (substance),
    *   - punctuation density penalty (boilerplate/markup).
    * quality = 0.5·min(stop/0.08, 1) + 0.3·min(ntok/100, 1)
    *         + 0.2·(1 − min(punct/0.2, 1));  keep = quality ≥ 0.5.
    * Stopwords are English ([[CurationLang]]). Pure double arithmetic
    * in a fixed evaluation order — the DuckDB oracle reproduces it
    * bit-for-bit.
    */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    df.select(col(idCol), size(toks).cast(LongType).as("n_tokens"),
        stopRatioCol(toks, CurationLang).as("stop_ratio"),
        punctRatioCol(col(textCol)).as("punct_ratio"))
      .withColumn("quality",
        qualityCol(col("stop_ratio"), col("n_tokens"), col("punct_ratio")))
      .withColumn("keep", (col("quality") >= 0.5).cast(IntegerType))
  }

  /** Composed corpus-curation verdict — the C4/RefinedWeb-style filter
    * CASCADE a training-data pipeline runs as ONE pass before dedup,
    * with per-document reason codes (the reject reasons are what a
    * curation team audits, so they are first-class output, not a
    * boolean). Filters evaluate in fixed priority order and the FIRST
    * failure labels the document:
    *   1. `too_short`       — n_tokens < 20 (no signal),
    *   2. `non_target_lang` — English stopword ratio < 0.04 (the
    *                          [[languageScore]] heuristic),
    *   3. `repetitive`      — duplicate-2-gram fraction > 0.08
    *                          (the [[repetitionStats]] boilerplate
    *                          signal),
    *   4. `low_quality`     — the [[qualityScore]] composite (its own
    *                          0.08 fluency norm, unchanged) < 0.6,
    *   else `keep`.
    * The cutoffs are calibrated on the gate corpus so every class
    * is populated (keep 316 / lang 104 / short 43 / repeat 24 / low 13
    * of 500 at sf0.01).
    *
    * Every signal is per-row array math over the token array — the
    * whole cascade is ONE scan-fused narrow projection, zero shuffles
    * at any corpus size (the scale shape that matters: curation is the
    * first pass over all 100 TB, and this runs at raw scan speed).
    * Ratios divide exact integer counts and the composite is the ta07
    * fixed-order IEEE expression, so verdicts are bit-identical across
    * engines.
    */
  def curationReport(df: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val base = df.select(col(idCol), col(textCol).as("_t"),
      split(col(textCol), " ").as("_toks"))
    val nTok = size(col("_toks")).cast(LongType)
    val stopRatio = stopRatioCol(col("_toks"), CurationLang)
    val punctRatio = punctRatioCol(col("_t"))
    // compiled word_ngrams kernel (r20): total 2-grams = len − 1,
    // distinct from the kernel — the same integers the old
    // transform/array_distinct chain produced (see repetitionStats)
    val total2 = size(col("_toks")) - 1
    val dup2 = when(size(col("_toks")) >= 2,
      (total2 - size(graft.functions.VecKernels
        .word_ngrams(col("_toks"), 2))).cast(DoubleType) /
        total2.cast(DoubleType))
      .otherwise(lit(0.0))
    val quality = qualityCol(stopRatio, nTok, punctRatio)
    base.select(col(idCol),
      nTok.as("n_tokens"),
      stopRatio.as("stop_ratio"),
      dup2.as("dup_2gram_frac"),
      quality.as("quality"),
      when(nTok < 20, "too_short")
        .when(stopRatio < 0.04, "non_target_lang")
        .when(dup2 > 0.08, "repetitive")
        .when(quality < 0.6, "low_quality")
        .otherwise("keep").as("verdict"))
  }

  /** Stopword language of [[qualityScore]] and [[curationReport]]. */
  private val CurationLang = "en"

  /** Positional rolling fingerprint: Σ codepoint(c_i)·((i mod 64)+1) —
    * order-sensitive (an anagram fingerprints differently), overflow-free
    * in a long, and exactly expressible in ANSI SQL for the oracle.
    */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), posexplode(split(col(textCol), "")))
      .groupBy(idCol)
      .agg(sum(ascii(col("col")).cast(LongType) *
        ((col("pos") % 64) + 1).cast(LongType)).as("fp"))

  /** Per-document top-k TF-IDF terms: (id, tok, tfidf, rank),
    * tfidf = tf · ln(N / df). Three hash aggregations (tf per (doc,tok),
    * df per tok, corpus N) and one per-document top-k window — the
    * document count joins in as a broadcast single-row aggregate, never
    * a driver-side collect, so the whole computation stays one lazy
    * plan. The doc-frequency join is keyed on the token (bounded
    * vocabulary → small shuffle); tfidf is quantized to DECIMAL(18,6)
    * before ranking so cross-engine 1-ulp `ln` differences can't flip
    * row hashes or tie order.
    */
  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val tf = tokens(df, idCol, textCol)
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(docFreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        (col("tf").cast(DoubleType) *
          log(col("n_docs").cast(DoubleType) / col("df").cast(DoubleType)))
          .cast(DecimalType(18, 6)))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("tfidf").desc, col("tok"))).cast(LongType))
      .filter(col("rank") <= k)
      // decimal → double for output: scaled int is far below 2^53, so
      // the conversion is correctly rounded identically in every engine
      .select(col(idCol), col("tok"),
        col("tfidf").cast(DoubleType).as("tfidf"), col("rank"))
  }

  /** BM25 relevance of every document against a fixed term set — the
    * standard retrieval scorer (search over a corpus, eval-set mining,
    * nearest-neighbor text baselines). Per matching term,
    *
    *   score += idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * (the Robertson/Lucene always-positive idf) at the usual
    * k1 = 1.2, b = 0.75. Unlike
    * [[tfIdfTopTerms]], BM25 saturates term frequency and normalizes by
    * document length — a short doc mentioning a term twice outranks a
    * rambling one doing the same.
    *
    * Cross-engine determinism (the ta08/ta14 pattern): tf, df, dl, N,
    * Σdl are exact integers; dl/avgdl is computed division-free-of-
    * intermediate-rounding as dl·N/Σdl; every double op is IEEE-
    * correctly-rounded over exact inputs IN THE SAME WRITTEN SHAPE as
    * the oracle SQL (constants like k1+1 fold engine-side from the
    * same literals, never pre-folded in Scala — 1.2+1 lands on a
    * round-to-even tie), and the one libm call (ln) is quantized to
    * DECIMAL(18,6) per term BEFORE the per-doc sum, so a 1-ulp
    * divergence can't flip a hash and the sum is exact and
    * order-independent.
    *
    * Scale shape: the tokenize explode feeds a tiny IN-list filter, so
    * only matching-term rows survive the scan task; dl is one narrow
    * doc-keyed count; df/N/Σdl collapse to a broadcast scalar frame.
    * The only shuffles are doc-keyed hash aggregations plus the final
    * top-k (TakeOrderedAndProject); the rank window runs over the
    * already-limited k rows — bounded by construction, never by corpus.
    */
  def bm25Rank(df: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty && k > 0, "need terms and k > 0")
    val (k1, b) = (1.2, 0.75)
    val tok = tokens(df, idCol, textCol)
    val dl = tok.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val tf = tok.filter(col("tok").isin(terms: _*))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val corpus = df.agg(count(lit(1)).as("n_docs"))
      .crossJoin(dl.agg(sum(col("dl")).as("sum_dl")))
    val idf = log(lit(1.0) +
      (col("n_docs").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5)) /
        (col("df").cast(DoubleType) + lit(0.5)))
    val lenNorm = col("dl").cast(DoubleType) * col("n_docs").cast(DoubleType) /
      col("sum_dl").cast(DoubleType)
    val scored = tf.join(dl, idCol)
      .join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(corpus))
      .withColumn("q", (idf * (col("tf").cast(DoubleType) * (lit(k1) + lit(1.0))) /
        (col("tf").cast(DoubleType) +
          lit(k1) * (lit(1.0) - lit(b) + lit(b) * lenNorm)))
        .cast(DecimalType(18, 6)))
      .groupBy(col(idCol))
      .agg(sum(col("q")).as("_s"), count(lit(1)).as("n_terms"))
    scored.orderBy(col("_s").desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("_s").desc, col(idCol))).cast(LongType))
      .select(col(idCol), col("_s").cast(DoubleType).as("score"),
        col("n_terms"), col("rank"))
  }

  /** PII patterns for corpus scrubbing, applied in order. Deliberately
    * restricted to the regex subset with identical semantics in Java's
    * engine and RE2 (character classes + bounded/greedy quantifiers; no
    * lookaround, no backrefs), so the same pattern text is a
    * cross-engine oracle. Order matters: emails first, else the phone
    * pattern could eat digit runs inside an address.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}" -> "<PHONE>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>")

  /** Redact PII spans (email, phone, IPv4 — [[PiiPatterns]]) to fixed
    * tokens. A pure narrow projection: regexp_replace chain, scan-fused,
    * zero shuffle — the shape a 100 TB scrub pass needs.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (p, tok)) =>
      regexp_replace(acc, p, tok)
    }

  /** Token-budget sharding: pack documents (in `idCol` order) into
    * contiguous shards of ≤ `budget` tokens — the sequence-packing step
    * that turns a curated corpus into bounded training shards. A doc's
    * shard is `floor(start_offset / budget)` where start_offset is the
    * running token count before it, so the assignment is a pure function
    * of the global prefix sum — independent of partitioning.
    *
    * Scale shape: NOT a global single-partition window. The prefix sum
    * distributes classically — range-partition by id, per-partition
    * local cumsum (keyed window), then a tiny per-partition-totals frame
    * (one row per partition) carries the prefix offsets back via
    * broadcast. The only ordered-window pass over all rows runs inside
    * each range partition; the cross-partition step touches P rows.
    */
  def tokenShards(df: DataFrame, idCol: String, textCol: String,
                  budget: Long): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val t = df.select(col(idCol),
      size(split(col(textCol), " ")).cast(LongType).as("n_tokens"))
    val local = t.repartitionByRange(col(idCol))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lcum", sum(col("n_tokens")).over(
        Window.partitionBy(col("_pid")).orderBy(col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val prefix = local.groupBy("_pid").agg(max(col("_lcum")).as("_ptot"))
      .withColumn("_offset", coalesce(sum(col("_ptot")).over(
        Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_offset"))
    local.join(broadcast(prefix), "_pid")
      .select(col(idCol), col("n_tokens"),
        floor((col("_lcum") + col("_offset") - col("n_tokens")) /
          budget.toDouble).cast(LongType).as("shard"))
  }

  /** GPT-style sequence packing: lay the corpus out as ONE contiguous
    * token stream (documents in `idCol` order, no padding between
    * docs) cut into fixed `seqLen`-token sequences; a document
    * straddling a cut is SPLIT across the adjacent sequences — the
    * pretraining data-loader shape where every sequence is exactly
    * full. Output: one row per (document, sequence) span with
    * `seq_id`, `seq_offset` (span start inside the sequence),
    * `tok_start` (span start inside the document) and `n_span`.
    *
    * Scale: the only global state is the same two-level distributed
    * prefix sum as [[tokenShards]] (per-range-partition window +
    * broadcast partition offsets — no corpus-wide single-task window);
    * the span explode emits ≤ ⌈n_tokens/seqLen⌉ + 1 rows per doc.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    seqLen: Long): DataFrame = {
    require(seqLen > 0, "sequence length must be positive")
    val t = df.select(col(idCol),
      size(split(col(textCol), " ")).cast(LongType).as("n_tokens"))
    val local = t.repartitionByRange(col(idCol))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lcum", sum(col("n_tokens")).over(
        Window.partitionBy(col("_pid")).orderBy(col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val prefix = local.groupBy("_pid").agg(max(col("_lcum")).as("_ptot"))
      .withColumn("_offset", coalesce(sum(col("_ptot")).over(
        Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_offset"))
    val L = lit(seqLen)
    local.join(broadcast(prefix), "_pid")
      .select(col(idCol), col("n_tokens"),
        (col("_lcum") + col("_offset") - col("n_tokens")).as("_start"))
      // doc occupies global token span [_start, _start + n_tokens);
      // it intersects sequences _start div L .. (_start + n - 1) div L
      .select(col(idCol), col("n_tokens"), col("_start"),
        explode(sequence(expr(s"_start div $seqLen"),
          expr(s"(_start + n_tokens - 1) div $seqLen"))).as("seq_id"))
      .select(col(idCol), col("seq_id"),
        (greatest(col("_start"), col("seq_id") * L) - col("seq_id") * L)
          .as("seq_offset"),
        (greatest(col("_start"), col("seq_id") * L) - col("_start"))
          .as("tok_start"),
        (least(col("_start") + col("n_tokens"), (col("seq_id") + 1) * L) -
          greatest(col("_start"), col("seq_id") * L)).as("n_span"))
  }

  /** Repetition-based quality signals (the Gopher/C4 family of
    * degenerate-text filters): per document,
    *   - `top_token_frac`  — share of tokens taken by the single most
    *     frequent token (catches "a a a a …" spam),
    *   - `dup_2gram_frac` / `dup_3gram_frac` — fraction of n-grams that
    *     are repeats of an earlier n-gram (catches looping boilerplate).
    *
    * Everything is per-row array math — fully scan-fused, zero shuffle:
    * the top-token count folds over the SORTED token array tracking the
    * longest equal-run (O(n log n) per doc, no per-token explode+groupBy
    * shuffle of the whole corpus), and n-gram dup fractions compare
    * array sizes against `array_distinct`. Ratios divide exact integer
    * counts, so the doubles are bit-identical across engines.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // compiled kernels (r20): the n-gram dup fractions derive from
    // word_ngrams' distinct count (total grams = len − n + 1, the same
    // integers the transform/array_distinct chain produced) and the
    // top-token run from max_run over the sorted tokens — both pinned
    // bit-identical by VecKernelsSpec; the HOF forms walked
    // O(len·n + len·log len) interpreted nodes per doc.
    import graft.functions.VecKernels.{max_run, word_ngrams}
    val base = df.select(col(idCol), split(col(textCol), " ").as("_toks"))
    def dupFrac(n: Int): Column = {
      val total = size(col("_toks")) - (n - 1)
      when(size(col("_toks")) >= n,
        (total - size(word_ngrams(col("_toks"), n))).cast(DoubleType) /
          total.cast(DoubleType))
        .otherwise(lit(0.0))
    }
    val topCount = max_run(array_sort(col("_toks")))
    base.select(col(idCol),
      (topCount.cast(DoubleType) / size(col("_toks")).cast(DoubleType))
        .as("top_token_frac"),
      dupFrac(2).as("dup_2gram_frac"),
      dupFrac(3).as("dup_3gram_frac"))
  }

  /** Bigram language-model scoring — the perplexity-style fluency
    * filter of corpus curation: per document, the mean log conditional
    * probability ln P(w₂|w₁) = ln(c(w₁w₂)/c(w₁·)) of its bigrams,
    * where counts come from the corpus itself and the context count
    * c(w₁·) is the row count of w₁ as a bigram HEAD (so probabilities
    * per context sum to exactly 1 — self-consistent, no smoothing).
    * Documents with fewer than 2 tokens have no bigrams and are not
    * emitted.
    *
    * Cross-engine determinism: each bigram's log-probability is
    * quantized to DECIMAL(18,6) BEFORE the per-document sum (the ta08
    * pattern — a 1-ulp libm `ln` divergence cannot flip a 6-dp
    * quantization), so the sums are exact decimals and the final mean
    * is one identical IEEE division.
    *
    * Scale shape: bigram and context counts are vocabulary-bounded
    * hash aggregations; the score join is keyed on the bigram. No
    * driver-side state — the "model" stays a distributed table.
    */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    // bigram_heads kernel (r21): same (bigram, head) structs as the
    // when/transform/slice/concat_ws chain — null or < 2-token docs
    // emit EMPTY, matching the otherwise branch — compiled
    val bi = df.select(col(idCol), explode(
        graft.functions.VecKernels.bigram_heads(toks)).as("_e"))
      .select(col(idCol), col("_e.bg").as("bg"), col("_e.w1").as("w1"))
    val bgCount = bi.groupBy("bg").agg(count(lit(1)).as("_cb"))
    val ctxCount = bi.groupBy("w1").agg(count(lit(1)).as("_cc"))
    val scored = bi
      .join(bgCount, "bg").join(ctxCount, "w1")
      .withColumn("_q",
        log(col("_cb").cast(DoubleType) / col("_cc").cast(DoubleType))
          .cast(DecimalType(18, 6)))
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("_q")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_logprob"))
  }

  /** CCNet-style perplexity bucketing: rank every document by its
    * [[bigramLogProb]] fluency score (best first) and cut the corpus
    * into 3 equal GLOBAL-RANK slices — head/middle/tail, the split
    * CCNet feeds to per-bucket sampling rates.
    * A doc's bucket is `((rank−1)·3) div N` — a pure integer
    * function of its global rank, so assignment is engine-portable and
    * bucket sizes differ by at most one. Docs with no bigrams (< 2
    * tokens) are unscored and not emitted. Output:
    * (id, avg_logprob, bucket).
    *
    * Scale shape: the global rank is the same two-level distributed
    * prefix sum as [[tokenShards]] — range-partition by the sort key
    * (score desc, id), per-partition `row_number` window, partition
    * counts broadcast back as offsets. No corpus-wide single-task
    * window; N joins in as a broadcast scalar.
    */
  def perplexityBuckets(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val nBuckets = 3
    val scored = bigramLogProb(df, idCol, textCol)
      .select(col(idCol), col("avg_logprob"))
    val local = scored
      .repartitionByRange(col("avg_logprob").desc, col(idCol))
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrk", row_number().over(
        Window.partitionBy(col("_pid"))
          .orderBy(col("avg_logprob").desc, col(idCol))))
    val counts = local.groupBy("_pid").agg(count(lit(1)).as("_pn"))
    val prefix = counts
      .withColumn("_offset", coalesce(sum(col("_pn")).over(
        Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_offset"))
    val total = counts.agg(sum(col("_pn")).as("_n"))
    local.join(broadcast(prefix), "_pid")
      .crossJoin(broadcast(total))
      .withColumn("_rk", col("_offset") + col("_lrk"))
      .select(col(idCol), col("avg_logprob"),
        expr(s"((_rk - 1) * $nBuckets) div _n").as("bucket"))
  }

  /** Fixed-size character chunking with overlap — the context-window
    * prep step of RAG/embedding pipelines: chunk i covers
    * `[i·stride, i·stride + size)`, so consecutive chunks overlap by
    * `size - stride` chars; the last chunk starts at the final stride
    * step that still has unseen text (a short document yields exactly
    * one whole-text chunk). Emits (id, chunk_id, chunk_md5, chunk_len)
    * — the md5 stands in for the chunk payload so the gate result stays
    * narrow while still pinning every chunk boundary byte-exactly.
    *
    * Scale shape: a pure per-row explode fused into the scan — chunk
    * count arithmetic, `sequence` explode, `substr` — no shuffle at
    * any corpus size. The floor-division chunk count is computed in
    * doubles (exact below 2⁵³, and IEEE division is correctly rounded,
    * so the floor can never be off-by-one for integer-valued
    * quotients) because `/` on integer Columns is double division in
    * Spark and DuckDB alike — the oracle runs the identical text.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0 && stride <= size,
      "need 0 < stride <= size")
    val len = length(col(textCol)).cast(LongType)
    val nChunks = (lit(1L) + floor(
      (greatest(len - size, lit(0L)) + (stride - 1)).cast(DoubleType) /
        stride.toDouble)).cast(LongType)
    val chunk = col(textCol).substr(
      (col("chunk_id") * stride + 1).cast(IntegerType), lit(size))
    df.select(col(idCol), col(textCol),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        md5(chunk).as("chunk_md5"),
        length(chunk).cast(LongType).as("chunk_len"))
  }

  /** Winnowing document fingerprints (the MOSS scheme): hash every
    * word `k`-gram (k = 3), slide a window of `w` = 4 consecutive gram
    * hashes, keep each window's MINIMUM, emit the distinct selected
    * hashes — one `(id, fp)` row per fingerprint. Guarantees every
    * shared substring of ≥ `w + k - 1` = 6 tokens between two documents
    * shares at least one fingerprint, at ~1/w the k-gram count — the
    * sub-document overlap
    * detector exact dedup can't be and full k-gram sets are too big to
    * be.
    *
    * md5 (not xxhash64) so the fingerprints are engine-portable — the
    * DuckDB oracle computes identical values. All per-row higher-order
    * array math, scan-fused, zero shuffle before the output explode;
    * shrinking trailing windows are excluded (window j exists only while
    * j + w - 1 grams remain; a doc with fewer than `w` grams emits one
    * whole-array window).
    */
  def winnow(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val (k, w) = (3, 4)
    // compiled winnow_fps kernel (r20): md5-per-gram + per-window
    // binary min + first-occurrence distinct fused into one compiled
    // pass (the HOF form ran an interpreted md5 expression per gram
    // and an O(len·w) interpreted window-min chain per doc) — same hex
    // digests, same min/distinct semantics, VecKernelsSpec-pinned. A
    // doc with no grams emits no fingerprints, exactly the old
    // size(_grams) > 0 filter.
    val base = df.select(col(idCol), split(col(textCol), " ").as("_toks"))
    base.select(col(idCol),
        graft.functions.VecKernels.winnow_fps(col("_toks"), k, w).as("_fps"))
      .filter(size(col("_fps")) > 0)
      .select(col(idCol), explode(col("_fps")).as("fp"))
  }

  /** Corpus composition — the "data card" aggregation every training
    * run publishes: per (source, language) document counts, token and
    * character volumes, and each cell's share of the corpus. One
    * map-side-combined aggregation over ≤ |sources|×|langs| keys plus a
    * broadcast of the single global total back onto the cells; the
    * share division is one exact IEEE op on two integers, so the
    * doubles hash-match any engine computing the same integers.
    */
  def corpusComposition(df: DataFrame, sourceCol: String, langCol: String,
                        textCol: String): DataFrame = {
    val cells = df.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast(LongType)).as("n_tokens"),
        sum(length(col(textCol)).cast(LongType)).as("n_chars"))
    val total = cells.agg(sum(col("n_docs")).as("_total"))
    cells.crossJoin(broadcast(total))
      .select(col(sourceCol), col(langCol),
        col("n_docs"), col("n_tokens"), col("n_chars"),
        (col("n_docs").cast(DoubleType) / col("_total").cast(DoubleType))
          .as("doc_share"))
  }

  /** Sharded inverted index: (tok, df, shard, shard_df, postings).
    *
    * Each term's postings are spread over `ceil(df / maxPostings)`
    * shards by `doc_id mod n_shards`, so the grouping key is
    * (tok, shard) and no aggregation buffer ever holds more than
    * ~maxPostings ids — the property that makes the build survive a
    * corpus where the heaviest term appears in billions of documents.
    * A plain per-term `collect_list` (the ta15 oracle-baseline form)
    * concentrates exactly that term's postings into one task's buffer.
    *
    * The shard function is `pmod(id, n_shards)` rather than a hash so
    * an external SQL engine can replay the assignment bit-for-bit; ids
    * here are uniformly distributed, and a deployment whose ids are
    * clustered swaps in `pmod(xxhash64(id), n_shards)` — the plan
    * shape (two vocabulary-keyed aggregations, zero windows) is
    * unchanged. Postings inside a shard are emitted as a sorted
    * comma-joined string, one scalar cell per (term, shard).
    */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int): DataFrame = {
    require(maxPostings >= 1, "maxPostings must be positive")
    val tok = tokens(df, idCol, textCol).distinct()
    val dfc = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    tok.join(dfc, "tok")
      .withColumn("shard",
        pmod(col(idCol),
          greatest(lit(1L), ceil(col("df") / lit(maxPostings.toDouble)))))
      .groupBy(col("tok"), col("df"), col("shard"))
      .agg(
        count(lit(1)).as("shard_df"),
        concat_ws(",",
          sort_array(collect_list(col(idCol))).cast("array<string>"))
          .as("postings"))
  }

  /** PMI-scored collocations: the `minCount`-supported bigrams ranked
    * by pointwise mutual information `ln(P(w1,w2) / (P(w1)·P(w2)))` —
    * the classic multi-word-expression / named-phrase extractor (Church
    * & Hanks 1990) corpus-curation pipelines run to protect phrases
    * from tokenizer splits. P(w1,w2) is bigram frequency over total
    * bigrams; P(w) unigram frequency over total tokens.
    *
    * Cross-engine determinism: the PMI operand is assembled as ONE
    * double expression `(nab·N·N) / (na·nb·B)` from exact bigint
    * counts (identical association order in the SQL oracle ⇒ identical
    * IEEE result), and `ln` — whose last ulp is libm-specific — is
    * quantized to DECIMAL(18,6) before ranking (the [[bigramLogProb]]
    * discipline), so order and hash are engine-portable.
    *
    * Scale shape: two vocabulary-keyed aggregations (bigram + unigram
    * counts, both map-side partial), one single-row total broadcast,
    * one bigram-keyed equi-join per unigram side, then global top-n via
    * TakeOrdered. The `minCount` filter runs BEFORE the unigram joins,
    * so the joined stream is the supported-bigram set, not the full
    * bigram vocabulary.
    */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
                      minCount: Int, topN: Int): DataFrame = {
    require(minCount >= 1, "minCount must be positive")
    val toks = split(col(textCol), " ")
    // bigram_pairs kernel (r21): same adjacent (w1, w2) structs as
    // the when/transform/element_at chain, compiled
    val bi = df.select(explode(
        graft.functions.VecKernels.bigram_pairs(toks)).as("_b"))
      .select(col("_b.w1").as("w1"), col("_b.w2").as("w2"))
    val uni = tokens(df, idCol, textCol)
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val totals = bi.agg(count(lit(1)).as("b_total")).crossJoin(
      df.select(explode(split(col(textCol), " ")).as("_t"))
        .agg(count(lit(1)).as("n_total")))
    val supported = bi.groupBy("w1", "w2").agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= minCount)
    supported
      .join(uni.select(col("tok").as("w1"), col("cnt").as("na")), "w1")
      .join(uni.select(col("tok").as("w2"), col("cnt").as("nb")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("nab"),
        log((col("nab").cast(DoubleType) * col("n_total") * col("n_total")) /
          (col("na").cast(DoubleType) * col("nb") * col("b_total")))
          .cast(DecimalType(18, 6)).cast(DoubleType).as("pmi"))
      .orderBy(desc("pmi"), col("w1"), col("w2")).limit(topN)
  }

  /** Zipf's-law fit over the corpus vocabulary: least-squares slope and
    * intercept of ln(freq) on ln(rank) for the top-1000 terms — the
    * one-number "does this corpus look like natural language" probe
    * (natural text slopes ≈ −1; templated/log spam diverges) used to
    * screen crawl snapshots before training.
    *
    * Returns a single row (n_terms, slope, intercept).
    *
    * Scale shape: term counting is the only corpus-sized stage
    * (map-side partial agg); the top-N selection is a TakeOrdered, and
    * the rank window runs over ≤ 1000 ALREADY-SELECTED rows — bounded
    * by a constant, never by vocabulary or corpus size.
    *
    * Determinism: ranks are assigned by the total order (freq DESC,
    * term ASC); each ln() is quantized to DECIMAL(12,6) (the ta08
    * pattern — a 1-ulp ln divergence can't flip a 6-dp quantization),
    * all regression moments are exact decimal sums of exact decimal
    * products, and the closing slope/intercept arithmetic is the same
    * chain of individually-rounded IEEE ops in both engines.
    */
  def zipfFit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = tokens(df, idCol, textCol)
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val top = tf.orderBy(desc("n"), col("tok")).limit(1000)
    val w = Window.orderBy(desc("n"), col("tok"))
    val q = top.withColumn("r", row_number().over(w))
      .select(log(col("r").cast(DoubleType)).cast(DecimalType(12, 6)).as("x"),
        log(col("n").cast(DoubleType)).cast(DecimalType(12, 6)).as("y"))
    val m = q.agg(count(lit(1)).as("k"),
      sum(col("x")).cast(DoubleType).as("sx"),
      sum(col("y")).cast(DoubleType).as("sy"),
      sum(col("x") * col("x")).cast(DoubleType).as("sxx"),
      sum(col("x") * col("y")).cast(DoubleType).as("sxy"))
    val kd = col("k").cast(DoubleType)
    val slope = (kd * col("sxy") - col("sx") * col("sy")) /
      (kd * col("sxx") - col("sx") * col("sx"))
    m.select(col("k").cast(LongType).as("n_terms"),
      slope.as("slope"),
      ((col("sy") - slope * col("sx")) / kd).as("intercept"))
  }

  /** The greedy left-to-right non-overlapping pair merge as a per-word
    * `aggregate` fold over `syms`, against the broadcast winning pair
    * (m_a, m_b) — shared verbatim by [[bpeMerges]] (training) and
    * [[bpeEncode]] (application), so the encoder replays EXACTLY the
    * rewrite the trainer counted.
    */
  private def greedyMergeFold: Column =
    aggregate(col("syms"), array().cast(ArrayType(StringType)), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, -1) === col("m_a") && x === col("m_b"),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(concat(col("m_a"), col("m_b")))))
        .otherwise(concat(acc, array(x))))

  /** BPE merge-table training (Sennrich 2016): starting from the
    * character-split word-type table, each round counts adjacent
    * symbol pairs weighted by word frequency, promotes the most
    * frequent pair (ties toward the lexicographically smallest) to a
    * new symbol, and rewrites every word with a greedy left-to-right
    * non-overlapping merge. Returns the merge table
    * (round, left, right, merged, count) — the artifact a tokenizer
    * ships.
    *
    * The merge rewrite is a per-word `aggregate` fold (no window, no
    * per-position self-join): append each symbol, or replace the
    * accumulator's tail when (tail, next) is the winning pair — which
    * reproduces the greedy non-overlap semantics exactly (after a
    * merge the tail is the longer merged symbol, so it can never
    * re-match the pair's left element; equal-pair runs like "aaaa"
    * merge at alternating positions).
    *
    * Determinism: counts are exact longs and the tie order is total,
    * so every round's winner — and therefore the whole chain — is
    * reproducible on any engine; a SQL oracle unrolls the same rounds
    * (the parity formulation: for a==b pairs, merges land on odd
    * offsets of each run of consecutive matches — provably the same
    * rewrite as the fold).
    *
    * Scale shape: pair counting is word-local array math plus one
    * (a,b)-keyed aggregation per round; the winner is a 1-row
    * TakeOrdered that broadcasts back onto the word-type table; the
    * rewrite is a narrow pass. The corpus-sized explode happens ONCE
    * (word-type histogram); every round after runs on word TYPES, the
    * classic BPE working set. Lineage is truncated per round by the
    * [[Checkpointing]] policy shared with the other iterative
    * operators.
    */
  def bpeMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val cp = Checkpointing.truncator(df.sparkSession)
    var words = cp.rolling(df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"),
        filter(split(col("word"), ""), s => s =!= "").as("syms")))
    val winners = (1 to rounds).map { r =>
      val pc = words
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("c"))
      // the winner is checkpointed PERSISTENTLY (1 row) before the
      // rolling rewrite deletes the word table it was counted from —
      // the returned merge-table union reads winners, never a
      // superseded round's words
      val win = cp(pc.orderBy(desc("c"), col("a"), col("b")).limit(1)
        .select(col("a").as("m_a"), col("b").as("m_b"), col("c").as("m_c")))
      words = cp.rolling(words.crossJoin(broadcast(win))
        .select(col("word"), col("freq"), greedyMergeFold.as("syms")))
      win.select(lit(r).cast(LongType).as("round"),
        col("m_a").as("lhs"), col("m_b").as("rhs"),
        concat(col("m_a"), col("m_b")).as("merged"),
        col("m_c").cast(LongType).as("pair_count"))
    }
    winners.reduce(_.unionAll(_)).orderBy("round")
  }

  /** Apply a trained [[bpeMerges]] merge table to a corpus — the
    * encode half of the train→encode tokenizer pipeline (the artifact
    * a tokenizer ships is useless until something re-tokenizes with
    * it). Replays the merges in round order over the corpus WORD-TYPE
    * table with the identical [[greedyMergeFold]] rewrite the trainer
    * used, then joins the per-type segment counts back onto the
    * documents. Returns (id, n_words, n_tokens) — n_tokens is the
    * document's BPE token count under the learned vocabulary; a
    * document with no words keeps a row with zeros (the ev22
    * NULL-row lesson).
    *
    * Scale shape: the merge table is the tiny shipped artifact (one
    * row per round) — reading its round count on the driver is a
    * scalar action on R rows, not a data collect; each round's pair
    * broadcasts onto the word-TYPE table (the classic BPE working
    * set, vocabulary-sized, never corpus-sized) with per-round
    * lineage truncation; the corpus is touched exactly twice, both
    * narrow: once to build the distinct type table, once to explode
    * words against the broadcast-or-shuffle-joined type counts.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: DataFrame): DataFrame = {
    val cp = Checkpointing.truncator(df.sparkSession)
    // the artifact must cover rounds 1..max contiguously — a missing
    // round would silently empty the type table at its crossJoin. The
    // min bound matters too: rounds {0, 2} satisfy max==count==distinct
    // (2, 2, 2) yet leave round 1 empty — exactly the silent failure
    // this require exists to prevent
    val rr = merges.agg(max(col("round")).as("_mx"), count(lit(1)).as("_n"),
      countDistinct(col("round")).as("_d"), min(col("round")).as("_mn")).head()
    // getAs[Number]: a hand-built or CSV/JSON-loaded merge table may
    // carry round as INT — the contract is on the VALUE, not the width
    val nRounds = if (rr.isNullAt(0)) 0 else rr.getAs[Number](0).intValue()
    require(rr.getLong(1) == nRounds && rr.getLong(2) == nRounds &&
      (nRounds == 0 || rr.getAs[Number](3).intValue() == 1),
      s"merge table must hold exactly one row per round 1..$nRounds; " +
        s"got ${rr.getLong(1)} rows, ${rr.getLong(2)} distinct rounds" +
        (if (!rr.isNullAt(3)) s", min round ${rr.getAs[Number](3)}" else ""))
    var types = cp.rolling(df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "").distinct()
      .select(col("word"),
        filter(split(col("word"), ""), s => s =!= "").as("syms")))
    for (r <- 1 to nRounds) {
      val win = merges.filter(col("round") === r)
        .select(col("lhs").as("m_a"), col("rhs").as("m_b"))
      types = cp.rolling(types.crossJoin(broadcast(win))
        .select(col("word"), greedyMergeFold.as("syms")))
    }
    val wt = types.select(col("word"),
      size(col("syms")).cast(LongType).as("_nsym"))
    val enc = df
      .select(col(idCol).as("_id"),
        explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(wt, "word")
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("_nsym")).as("n_tokens"))
    df.select(col(idCol)).join(enc, col(idCol) === col("_id"), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }

  /** Per-slice unigram diversity report: token/type/hapax counts plus
    * Shannon entropy `H = −Σ p·ln p` of the token distribution — the
    * lexical-diversity signal corpus curation uses to spot boilerplate
    * floods (low H) and OCR noise (H near ln(types), hapax share → 1).
    *
    * Determinism: counts are exact longs; each `p·ln p` term is two
    * IEEE ops on identical long-derived operands, quantized to
    * DECIMAL(18,6) BEFORE the per-slice sum (the dq06/PSI discipline —
    * a last-ulp libm-`ln` divergence can't flip a 6-dp quantization),
    * so the entropy sum is exact and order-independent.
    *
    * Scale shape: one (slice, token) aggregation with map-side combine
    * carries the corpus; everything after is type-table-sized, and the
    * per-slice totals ride a broadcast back onto the term table.
    */
  def sliceEntropy(df: DataFrame, sliceCol: String,
                   textCol: String): DataFrame = {
    val c = df
      .select(col(sliceCol).as("slice"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("slice", "tok").agg(count(lit(1)).as("c"))
    val n = c.groupBy("slice").agg(
      sum(col("c")).as("n"),
      count(lit(1)).as("types"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
    val p = col("c").cast(DoubleType) / col("n").cast(DoubleType)
    val h = c.join(broadcast(n.select(col("slice"), col("n"))), "slice")
      .select(col("slice"),
        (p * log(p)).cast(DecimalType(18, 6)).as("term"))
      .groupBy("slice").agg(sum(col("term")).as("s"))
    n.join(h, "slice")
      .select(col("slice"), col("n").cast(LongType).as("n_tokens"),
        col("types").cast(LongType).as("n_types"),
        col("hapax").cast(LongType).as("hapax_types"),
        (col("hapax").cast(DoubleType) / col("types").cast(DoubleType))
          .as("hapax_share"),
        (-col("s").cast(DoubleType)).as("entropy"))
  }
}
