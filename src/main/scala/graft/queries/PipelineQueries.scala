package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.operators.{Dedup, Sessionize, Similarity, TextAnalysis}

/** LLM-data-pipeline operator queries (SURVEY.md §2c): deduplication,
  * text analysis, similarity search, event/JSON/sessionization — each
  * driving the corresponding operator in graft.operators, with DuckDB
  * oracles wherever the semantics are ANSI-SQL-expressible.
  */
object PipelineQueries {

  // spread() is NOT free: on a 5k-row table it is a 32-way exchange that
  // costs more than it buys unless the downstream per-row work dwarfs the
  // scan (measured: the round-3 unconditional spread regressed the cheap
  // ta01–ta06 aggregations 2–4× while halving the shingling/HOF-heavy
  // queries). The deciding signal is downstream CPU per row — something
  // only the call site knows — so the choice is per query family:
  //   docs/emb       plain scan — cheap projections + aggregations whose
  //                  first shuffle is the groupBy itself
  //   docsWide/embWide  spread — shingling / MinHash / per-position or
  //                  HOF vector math pipelined into the scan task, where
  //                  one unsplit row group serializes all the CPU
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
  private def docsWide(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.load(s, dir, "documents"), "doc_id")
  private def embWide(s: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.load(s, dir, "embeddings"), "vec_id")

  /** In-plan guard for the dd15 planted-clone rows: the gate plants
    * clones at `vec_id + 100000` (a literal the DuckDB oracle shares),
    * which is collision-free ONLY while every real id < 100000. A
    * bigger corpus would silently alias clone ids with real ids in
    * BOTH engines — hashes would still match while recall counting is
    * corrupt — so the id passes through a per-row `raise_error` check
    * instead (distributed, no driver action, can't be pruned: the
    * branch IS the id value).
    */
  private def guardedId(id: Column): Column =
    when(id < 100000L, id).otherwise(raise_error(concat(
      lit("dd15 planted-clone offset 100000 collides with real vec_id "),
      id.cast(StringType))).cast(LongType))

  /** Per-run work tree under java.io.tmpdir for a gate that keeps
    * state on disk: `graft-<gate>-<sanitized dir>.p<pid>`. Keyed by
    * the readable (gate, SF dir) name, not a hash two SF dirs could
    * share, so repeated runs in ONE process reuse, and therefore clean
    * up, the same tree (Verify and Bench call each query several
    * times per session); plus this JVM's pid so two
    * CONCURRENT processes running the same gate at the same SF never
    * share a tree. Crash leftovers are swept by prefix, but ONLY trees
    * whose embedded pid is provably dead, so the sweep cannot race a
    * live sibling. Returns a freshly-deleted path: reuse without the
    * pre-delete would resume an old checkpoint or registry.
    */
  private[queries] def gateWork(s: SparkSession, gate: String,
                                dir: String): String = {
    val tmp = System.getProperty("java.io.tmpdir")
    val prefix = s"graft-$gate-" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_") + ".p"
    val fs = new org.apache.hadoop.fs.Path(tmp)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val kids = new java.io.File(tmp).listFiles()
    if (kids != null) kids.foreach { k =>
      if (k.getName.startsWith(prefix)) {
        // a suffix that is not a bare pid is NOT ours to judge — it can
        // be a different sanitized dir sharing this prefix (e.g.
        // ".../sf0.1" vs ".../sf0.1.packed" → suffix "acked.p<pid>"),
        // possibly a LIVE sibling's tree. Only delete what parses AND
        // is provably dead; skip everything else.
        val dead = scala.util.Try(k.getName.drop(prefix.length).toLong)
          .toOption
          .exists(p => !scala.jdk.OptionConverters
            .RichOptional(ProcessHandle.of(p)).toScala
            .exists(_.isAlive))
        if (dead)
          fs.delete(new org.apache.hadoop.fs.Path(k.getAbsolutePath), true)
      }
    }
    val work = s"$tmp/$prefix${ProcessHandle.current().pid()}"
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    work
  }

  /** Run a stateful gate's `body` in its [[gateWork]] tree, pin the
    * result, then drop the tree's catalog entry and the tree itself —
    * also when `body` throws, so a failed gate leaves nothing behind.
    * The pin (eager localCheckpoint) must come BEFORE the delete: the
    * result is lazy, and un-pinned it would scan the very files the
    * delete removes. Registry-backed gates name their catalog table
    * `StreamingJobs.registryTable(work)`, the one name dropped here.
    * A tree that survives its delete fails the gate, naming the path
    * (attached as suppressed when `body` already failed).
    */
  private[queries] def withGateWork(s: SparkSession, gate: String,
                                    dir: String)(
      body: String => DataFrame): DataFrame = {
    val work = gateWork(s, gate, dir)
    val workP = new org.apache.hadoop.fs.Path(work)
    val fs = workP.getFileSystem(s.sparkContext.hadoopConfiguration)
    def cleanUp(): Unit =
      try s.sql("DROP TABLE IF EXISTS " +
        graft.streaming.StreamingJobs.registryTable(work))
      finally {
        fs.delete(workP, true)
        if (fs.exists(workP))
          throw new java.io.IOException(
            s"gate $gate: work tree $work survived its delete")
      }
    val out = try body(work).localCheckpoint() catch {
      case t: Throwable =>
        try cleanUp() catch { case c: Throwable => t.addSuppressed(c) }
        throw t
    }
    cleanUp()
    out
  }

  /** The exact-decimal cosine top-5 oracle (DuckDB): shared verbatim by
    * sim01 (posexplode/groupBy formulation) and sim02 (one-pass HOF
    * formulation) — both assemble the same exact decimal sums into the
    * same IEEE doubles, so ONE SQL text hash-matches both plans.
    */
  /** Unrolled-round oracle for ta24 (the gr05 MATERIALIZED-CTE
    * discipline): each BPE round re-derives pair counts from the
    * long-format symbol table, takes the (count desc, pair asc)
    * winner, and rewrites with the PARITY formulation of the greedy
    * non-overlapping merge — overlap is only possible for equal pairs
    * (match at i and i+1 forces s_{i+1} = b = a), where greedy merges
    * land on odd offsets of each run of consecutive matches. Provably
    * the same rewrite as the engine's left-to-right fold.
    */
  private def bpeOracleSql(rounds: Int): String = {
    val sel = (1 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, sa AS lhs, sb AS rhs, sa || sb AS merged, c AS pair_count FROM w$r"
    }.mkString("\n", "\nUNION ALL ", "")
    s"${bpeRoundCtes(rounds, finalSyms = false)}$sel\nORDER BY round"
  }

  /** Oracle for ta27 (train → ENCODE composition): the same unrolled
    * rounds as [[bpeOracleSql]], carried one rewrite further to the
    * final symbol table, whose per-word segment counts join back onto
    * the documents — tokens/doc under the learned merges. Docs with no
    * words keep a zero row (the engine's bpeEncode contract).
    */
  private def bpeEncodeOracleSql(rounds: Int): String = {
    val fin = rounds + 1
    s"""${bpeRoundCtes(rounds, finalSyms = true)},
       | wt AS (SELECT word, CAST(count(*) AS BIGINT) AS nsym
       |        FROM sym$fin GROUP BY word),
       | dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM documents),
       | enc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |           CAST(sum(nsym) AS BIGINT) AS n_tokens
       |         FROM dw JOIN wt USING (word) WHERE word <> ''
       |         GROUP BY doc_id)
       |SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       |  COALESCE(enc.n_words, 0) AS n_words,
       |  COALESCE(enc.n_tokens, 0) AS n_tokens
       |FROM documents d LEFT JOIN enc ON enc.doc_id = d.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  private def bpeRoundCtes(rounds: Int, finalSyms: Boolean): String = {
    val head =
      """WITH wd AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
        |    (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE word <> '' GROUP BY 1),
        | sym1 AS MATERIALIZED (
        |  SELECT word, freq, unnest(range(1, length(word) + 1)) AS i,
        |         unnest(string_split(word, '')) AS s FROM wd)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val nxt = if (r == rounds && !finalSyms) "" else
        s""",
           | sym${r + 1} AS MATERIALIZED (
           |  SELECT word, freq, row_number() OVER (PARTITION BY word ORDER BY i) AS i,
           |         CASE WHEN mg = 1 THEN sa || sb ELSE s END AS s
           |  FROM m${r}3 WHERE consumed = 0)""".stripMargin
      s""",
         | pr$r AS MATERIALIZED (
         |  SELECT a.word, a.freq, a.i, a.s AS sa, b.s AS sb
         |  FROM sym$r a JOIN sym$r b ON b.word = a.word AND b.i = a.i + 1),
         | pc$r AS MATERIALIZED (
         |  SELECT sa, sb, CAST(sum(freq) AS BIGINT) AS c FROM pr$r GROUP BY 1, 2),
         | w$r AS MATERIALIZED (
         |  SELECT sa, sb, c FROM pc$r ORDER BY c DESC, sa, sb LIMIT 1),
         | m${r}0 AS MATERIALIZED (
         |  SELECT s.word, s.freq, s.i, s.s, w.sa, w.sb,
         |    CASE WHEN s.s = w.sa AND nx.s = w.sb THEN 1 ELSE 0 END AS mt
         |  FROM sym$r s CROSS JOIN w$r w
         |  LEFT JOIN sym$r nx ON nx.word = s.word AND nx.i = s.i + 1),
         | m${r}1 AS MATERIALIZED (
         |  SELECT *, i - row_number() OVER (PARTITION BY word, mt ORDER BY i) AS grp
         |  FROM m${r}0),
         | m${r}2 AS MATERIALIZED (
         |  SELECT *, CASE WHEN mt = 1 AND
         |      (row_number() OVER (PARTITION BY word, mt, grp ORDER BY i)) % 2 = 1
         |    THEN 1 ELSE 0 END AS mg FROM m${r}1),
         | m${r}3 AS MATERIALIZED (
         |  SELECT word, freq, i, s, sa, sb, mg,
         |    lag(mg, 1, 0) OVER (PARTITION BY word ORDER BY i) AS consumed
         |  FROM m${r}2)""".stripMargin + nxt
    }.mkString
    s"$head$roundCtes"
  }

  /** Planted multilingual documents for ta26 — (doc_id, true lang,
    * text), ids far above any corpus doc_id. All-lowercase ASCII +
    * Latin-1/Latin-Extended letters only, so neither engine's case
    * mapping or escaping is in play; the texts are ordinary sentences
    * built from each language's function words. The spec asserts each
    * classifies to its true language; the ORACLE only needs both
    * engines to run the same method over the same bytes.
    */
  private[graft] val LidPlantedDocs: Seq[(Long, String, String)] = Seq(
    (900001L, "en", "the cat sat on the mat and the dog barked at the sun in the garden of the old house"),
    (900002L, "en", "this is the story of the town and it is standing there in the morning light"),
    (900003L, "fr", "le chat est dans la maison et le chien dort dans le jardin de la ville pendant que les enfants parlent"),
    (900004L, "fr", "il y a des questions que nous ne pouvons pas poser sans parler de la vie et des paysages"),
    (900005L, "es", "el perro come en la casa y la gata duerme en el jardín de la ciudad mientras los niños hablan"),
    (900006L, "es", "es una de las preguntas que no podemos hacer en el camino sin hablar con el niño de la ciudad"),
    (900007L, "de", "der hund schläft in dem haus und die katze sitzt in einem schönen garten während die kinder sprechen"),
    (900008L, "de", "das ist eine schöne geschichte und wir werden sie unseren kindern am abend erzählen"),
    (900009L, "it", "il cane dorme nella casa e il gatto della città gioca nel giardino mentre i bambini parlano"),
    (900010L, "it", "questa è una delle domande che non possiamo fare con il cane e con il gatto della città di notte"),
    (900011L, "pt", "o cão dorme na casa e o gato da cidade brinca no jardim enquanto as crianças falam da manhã"),
    (900012L, "pt", "esta é uma das perguntas que não podemos fazer sem falar da vida e dos caminhos"))

  /** Planted mixed-script documents for ta28 — (doc_id, text): pure
    * CJK, pure Latin, genuinely mixed, digit-heavy, empty, and
    * space-only, so every dominant-script class and both ratio guards
    * are exercised. Ids far above any corpus doc_id.
    */
  private[graft] val ScriptPlantedDocs: Seq[(Long, String)] = Seq(
    (910001L, "深度学习模型需要大量高质量的训练数据来学习语言的结构"),
    (910002L, "the quick brown fox jumps over the lazy dog"),
    (910003L, "训练数据 training data 需要去重 dedup before use 123"),
    (910004L, "31536000 86400 3600 60 1"),
    (910005L, ""),
    (910006L, "   "))

  /** ta28 oracle: the script-composition math replayed in DuckDB from
    * the same planted VALUES — char-class counts are exact integers in
    * both engines (identical codepoint ranges in Java regex and RE2).
    */
  private def scriptOracleSql: String = {
    val pd = ScriptPlantedDocs
      .map { case (id, t) => s"($id, '$t')" }.mkString(",\n    ")
    s"""WITH pd(doc_id, text) AS (VALUES
       |    $pd),
       | ad AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM pd
       |        UNION ALL
       |        SELECT doc_id, text FROM documents WHERE doc_id < 100),
       | m AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
       |    CAST(length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS BIGINT) AS latin,
       |    CAST(length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS BIGINT) AS cjk,
       |    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS digitc,
       |    CAST(length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS BIGINT) AS spacec
       |  FROM ad)
       |SELECT doc_id, n AS n_chars, latin AS n_latin, cjk AS n_cjk,
       |  digitc AS n_digit, n - latin - cjk - digitc - spacec AS n_other,
       |  CASE WHEN n > 0 THEN CAST(latin AS DOUBLE) / CAST(n AS DOUBLE)
       |       ELSE 0.0 END AS latin_ratio,
       |  CASE WHEN n > 0 THEN CAST(cjk AS DOUBLE) / CAST(n AS DOUBLE)
       |       ELSE 0.0 END AS cjk_ratio,
       |  CASE WHEN n > 0 THEN CAST(digitc AS DOUBLE) / CAST(n AS DOUBLE)
       |       ELSE 0.0 END AS digit_ratio,
       |  CASE WHEN n = 0 THEN 'empty' WHEN cjk > latin THEN 'cjk'
       |       WHEN latin > 0 THEN 'latin' ELSE 'other' END AS dominant
       |FROM m ORDER BY doc_id""".stripMargin
  }

  /** ta26 oracle: the full Cavnar–Trenkle replay in DuckDB — planted
    * docs and profile table rendered as VALUES from the SAME Scala
    * constants the Spark side uses (single source of truth for both
    * engines).
    */
  private def lidOracleSql: String = {
    val topN = 40
    val pd = LidPlantedDocs
      .map { case (id, _, t) => s"($id, '$t')" }.mkString(",\n    ")
    val prof = graft.operators.TextAnalysis.LidProfiles.toSeq.sortBy(_._1)
      .flatMap { case (l, gs) =>
        gs.zipWithIndex.map { case (g, i) => s"('$l', '$g', ${i + 1})" }
      }.mkString(",\n    ")
    s"""WITH pd(doc_id, text) AS (VALUES
       |    $pd),
       | prof(lang, gram, prank) AS (VALUES
       |    $prof),
       | langs AS (SELECT DISTINCT lang FROM prof),
       | alldocs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM pd
       |             UNION ALL
       |             SELECT doc_id, text FROM documents WHERE doc_id < 100),
       | nt AS (SELECT doc_id,
       |          ' ' || trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) || ' ' AS t
       |        FROM alldocs),
       | g AS (SELECT doc_id, substr(t, CAST(i AS INTEGER), 3) AS gram
       |       FROM (SELECT doc_id, t, unnest(range(1, length(t) - 1)) AS i
       |             FROM nt WHERE length(t) >= 3)),
       | gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
       | dt AS (SELECT doc_id, gram, CAST(r AS BIGINT) AS r FROM
       |          (SELECT doc_id, gram,
       |             row_number() OVER (PARTITION BY doc_id
       |               ORDER BY c DESC, gram) AS r
       |           FROM gc) z
       |        WHERE r <= $topN),
       | dd AS (SELECT dt.doc_id, l.lang,
       |          CAST(sum(COALESCE(abs(dt.r - p.prank), $topN)) AS BIGINT) AS d,
       |          CAST(count(*) AS BIGINT) AS n_grams
       |        FROM dt CROSS JOIN langs l
       |        LEFT JOIN prof p ON p.lang = l.lang AND p.gram = dt.gram
       |        GROUP BY 1, 2),
       | best AS (SELECT doc_id, lang, d, n_grams,
       |            row_number() OVER (PARTITION BY doc_id
       |              ORDER BY d, lang) AS rb
       |          FROM dd)
       |SELECT a.doc_id,
       |  CASE WHEN b.lang IS NULL OR b.d = b.n_grams * $topN THEN 'und'
       |       ELSE b.lang END AS language,
       |  b.d AS distance,
       |  COALESCE(b.n_grams, 0) AS n_grams,
       |  COALESCE(1.0 - CAST(b.d AS DOUBLE) / CAST(b.n_grams * $topN AS DOUBLE),
       |    0.0) AS confidence
       |FROM alldocs a
       |LEFT JOIN (SELECT * FROM best WHERE rb = 1) b ON b.doc_id = a.doc_id
       |ORDER BY a.doc_id""".stripMargin
  }

  /** gr09 oracle: HITS unrolled — `iters` rounds of two half-steps
    * (hub→authority, authority→hub), each a quantized-contribution sum
    * + exact-decimal L1 normalizer, mirroring Graph.hits term for term.
    */
  private def hitsOracleSql(iters: Int): String = {
    def q(x: String): String =
      s"CAST(floor($x * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))"
    def half(out: String, in: String, fromCol: String, toCol: String): String =
      s""",
         | ${out}c AS (SELECT e.$toCol AS v, sum(${q("x.s")}) AS cs
         |        FROM edges e JOIN $in x ON x.v = e.$fromCol GROUP BY e.$toCol),
         | ${out}t AS (SELECT sum(cs) AS t FROM ${out}c),
         | $out AS (SELECT nd.v, CAST(COALESCE(c.cs, 0) AS DOUBLE) / CAST(t.t AS DOUBLE) AS s
         |        FROM nodes nd CROSS JOIN ${out}t t LEFT JOIN ${out}c c ON c.v = nd.v)""".stripMargin
    val rounds = (1 to iters).map { r =>
      half(s"a$r", if (r == 1) "h0" else s"h${r - 1}", "src", "dst") +
        half(s"h$r", s"a$r", "dst", "src")
    }.mkString
    s"""WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       | edges AS (SELECT DISTINCT c * 2 AS src, s * 2 + 1 AS dst FROM pairs),
       | nodes AS (SELECT DISTINCT v FROM
       |             (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges) u),
       | nn AS (SELECT count(*) AS n FROM nodes),
       | h0 AS (SELECT v, 1.0 / nn.n AS s FROM nodes CROSS JOIN nn)$rounds
       |SELECT CAST(h$iters.v AS BIGINT) AS node,
       |  CASE WHEN h$iters.v % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_type,
       |  h$iters.s AS hub, a$iters.s AS authority
       |FROM h$iters JOIN a$iters ON a$iters.v = h$iters.v
       |ORDER BY authority DESC, hub DESC, node LIMIT 20""".stripMargin
  }

  private val CosineExactTopkSql: String =
    """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
      |                    unnest(range(1, len(embedding) + 1)) AS i
      |             FROM embeddings),
      | e AS (SELECT vec_id, i,
      |       CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
      | n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
      | d AS (SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.x * c.x) AS dot
      |       FROM e q JOIN e c ON q.i = c.i
      |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
      |       GROUP BY 1, 2),
      | sim AS (SELECT qid, cid,
      |           CAST(dot AS DOUBLE) /
      |             sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS sim
      |         FROM d
      |         JOIN n nq ON nq.vec_id = qid
      |         JOIN n nc ON nc.vec_id = cid)
      |SELECT qid, cid, sim, rank FROM
      |  (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rank
      |   FROM sim) r
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  // shared by sim23 (fused), sim24 (served from persisted codes),
  // sim31 (served after deletion — candidates restricted to the
  // survivors) and sim32 (served after absorb — grown corpus, default
  // predicate): every path must hash-match the IDENTICAL full SQL
  // replay, parameterized only by which vec_ids are in the code store
  private def bqTopkSql(candWhere: String = ""): String =
      s"""WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                    unnest(range(1, len(embedding) + 1)) AS i
        |             FROM embeddings),
        | ed AS (SELECT vec_id, i, CAST(rawx AS DOUBLE) AS xd FROM e0),
        | e AS (SELECT vec_id, i, CAST(xd AS DECIMAL(12,6)) AS x FROM ed),
        | ham AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
        |           sum(CASE WHEN (q.xd > 0) <> (c.xd > 0)
        |               THEN 1 ELSE 0 END) AS h
        |         FROM ed q JOIN ed c ON q.i = c.i
        |         WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id$candWhere
        |         GROUP BY 1, 2),
        | sl AS (SELECT qid, cid FROM (
        |          SELECT qid, cid,
        |            row_number() OVER (PARTITION BY qid ORDER BY h, cid) AS r
        |          FROM ham) t WHERE r <= 50),
        | n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
        | d AS (SELECT s.qid, s.cid, sum(q.x * c.x) AS dot
        |       FROM sl s
        |       JOIN e q ON q.vec_id = s.qid
        |       JOIN e c ON c.vec_id = s.cid AND c.i = q.i
        |       GROUP BY 1, 2),
        | sim AS (SELECT qid, cid,
        |           CAST(dot AS DOUBLE) /
        |             sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS sim
        |         FROM d
        |         JOIN n nq ON nq.vec_id = qid
        |         JOIN n nc ON nc.vec_id = cid)
        |SELECT qid, cid, sim, rank FROM
        |  (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rank
        |   FROM sim) r
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  private val BqTopkSql: String = bqTopkSql()

  /** Memory-sink name sequence for st01: Verify and Bench call each
    * query several times in one session; each run gets a fresh sink so a
    * prior run's table can't shadow the new results.
    */
  private val StSinkSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run a streaming gate query with state partitioning sized to its
    * state volume. A stateful operator creates one state store per
    * shuffle partition per side — at the session's scan-sized setting
    * (32) a stream-stream join commits 64 store instances per
    * micro-batch for kilobytes of state, and store lifecycle (init,
    * snapshot, commit) dominates the run (measured: st04 5.45 s at 32
    * partitions → ~2 s at 8). Sizing state partitions to load is the
    * same knob a production deployment turns (state store count is
    * fixed by the checkpoint at first run); results are identical —
    * only parallelism of the keyed state changes. The session setting
    * is restored afterwards; gate queries run sequentially, and the
    * batch read-back of the memory sink replans under the restored
    * setting.
    */
  private def withStateSizedShuffle[A](s: SparkSession, n: Int = 8)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Single-row ANN recall invariant: n_exact = |exact top-k pairs| and
    * a floor flag (hits·100 ≥ n_exact·floorPct, integer arithmetic — no
    * float compare). The DuckDB side derives n_exact from corpus counts
    * and pins recall_ok = 1, so a recall regression OR a broken
    * brute-force baseline breaks the hash match.
    */
  /** Land one phase of a hand-driven file stream: `write` `df` to a
    * staging dir inside `work`, then move its `part-*` files into `in`
    * as `p<phase>-*`, so the stream sees whole files only. The default
    * write lands exactly ONE parquet file — one micro-batch of a
    * maxFilesPerTrigger=1 stream (st10/st11/st12/st14/st15/st16);
    * st07 and st08 pass their own.
    */
  private def landPhase(work: String, in: String, phase: Int, df: DataFrame,
      write: (DataFrame, String) => Unit =
        (d, at) => d.coalesce(1).write.mode("overwrite").parquet(at)): Unit = {
    val staging = s"$work/staging$phase"
    write(df, staging)
    val destP = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(in))
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(staging))
    try files.filter(_.getFileName.toString.startsWith("part-"))
      .forEach(p => java.nio.file.Files.move(p,
        destP.resolve(s"p$phase-${p.getFileName}")))
    finally files.close()
  }

  /** Number of `batch=` partition directories under `path`. */
  private def batchParts(s: SparkSession, path: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(p)
      .count(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
  }

  /** Count of (qid, rank, cid) rows on which two served shortlists
    * disagree, either direction — the row-for-row equivalence measure
    * of the sim33/sim34 maintain gates (scores are excluded on
    * purpose: rank identity IS the semantic claim, and both sides
    * compute the same deterministic arithmetic anyway). Gate-sized
    * inputs (≤ nq·k rows each), so the exceptAll exchanges are noise.
    */
  private def rankMismatches(a: DataFrame, b: DataFrame): Long = {
    // ONE signed-multiplicity aggregation instead of two exceptAll
    // counts over two localCheckpoints (r20 optimization):
    // |A∖B| + |B∖A| over multisets = Σ_rows |cnt_A − cnt_B|, so tagging
    // each side ±1 and summing per (qid, rank, cid) computes the same
    // number in a single job — and because each serve chain now feeds
    // exactly ONE consumer, the checkpoints that existed to stop the
    // double execution (the r19 measurement: sim34 19.6 → ~12 s) are
    // unnecessary too. Saves 3 driver actions per call; two calls per
    // maintain gate.
    val ka = a.select(col("qid"), col("rank"), col("cid"))
      .withColumn("_s", lit(1L))
    val kb = b.select(col("qid"), col("rank"), col("cid"))
      .withColumn("_s", lit(-1L))
    val d = ka.unionByName(kb)
      .groupBy(col("qid"), col("rank"), col("cid"))
      .agg(sum(col("_s")).as("_d"))
      .agg(coalesce(sum(abs(col("_d"))), lit(0L)).as("_m"))
      .head()
    d.getLong(0)
  }

  private def recallFloor(exact: DataFrame, ann: DataFrame,
                          floorPct: Int): DataFrame =
    exact.select("qid", "cid")
      .join(ann.select(col("qid"), col("cid"), lit(1L).as("_hit")),
        Seq("qid", "cid"), "left")
      .agg(count(lit(1)).cast(LongType).as("n_exact"),
        coalesce(sum(col("_hit")), lit(0L)).as("_hits"))
      .select(col("n_exact"),
        when(col("_hits") * 100 >= col("n_exact") * floorPct, 1L)
          .otherwise(0L).as("recall_ok"))

  /** The dd03/dd08 word-3-gram Jaccard pipeline as DuckDB CTEs, ending
    * in `j(da, db)` = pairs with jac ≥ `minJac` — the shared scaffold of
    * the dd04/dd05 containment/envelope invariants.
    */
  private def highJacCte(minJac: Double): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |           WHERE len(string_split(text, ' ')) >= 3),
       | sh0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w),
       | sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM sh0),
       | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       | pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
       |           FROM sh a JOIN sh b USING (shingle)
       |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       | j AS (SELECT da, db FROM pairs
       |       JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
       |       WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= $minJac)""".stripMargin

  /** High-Jaccard pairs (da < db, jac ≥ minJac) from the Spark side of
    * the same pipeline.
    */
  private def highJacPairs(s: SparkSession, dir: String,
                           minJac: Double): DataFrame =
    // uncapped on purpose: the DuckDB oracle computes exact all-pairs
    // Jaccard, so the gate row must too (gate SF postings are tiny)
    Dedup.jaccardPairs(docsWide(s, dir), "doc_id", "text",
        maxPosting = Int.MaxValue)
      .filter(col("jac") >= minJac)
      .select("da", "db")

  val defs: Seq[QueryDef] = Seq(

    // ================= deduplication =================

    QueryDef("dd01_exact_dedup",
      """SELECT doc_id FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) x
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.exact(docs(s, dir), Seq("text"), col("doc_id"))
        .select("doc_id").orderBy("doc_id")
    },

    QueryDef("dd02_hash_dedup",
      """SELECT doc_id, h FROM (
        |  SELECT doc_id, sha256(text) AS h,
        |         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
        |  FROM documents) x
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.byContentHash(docs(s, dir), "text", col("doc_id"))
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .orderBy("doc_id")
    },

    // All-pairs word-3-gram Jaccard, top 20 most-similar pairs. The
    // oracle-checkable baseline for the shingling math; the scale path
    // is dd04's LSH bucketing (no all-pairs join). Postings longer than
    // 64 docs are dropped whole on BOTH sides (the boilerplate safety
    // valve that keeps the baseline sub-quadratic on viral shingles).
    QueryDef("dd03_ngram_jaccard",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        | sh0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w),
        | sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        |        FROM sh0),
        | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | keep AS (SELECT shingle FROM sh GROUP BY shingle
        |          HAVING count(*) BETWEEN 2 AND 64),
        | pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |           FROM sh a JOIN sh b USING (shingle)
        |           JOIN keep USING (shingle)
        |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da, db,
        |  CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) AS jac
        |FROM pairs
        |JOIN sz sa ON sa.doc_id = da
        |JOIN sz sb ON sb.doc_id = db
        |ORDER BY jac DESC, da, db LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.jaccardPairs(docsWide(s, dir), "doc_id", "text",
          maxPosting = 64)
        .orderBy(col("jac").desc, col("da"), col("db"))
        .limit(20)
    },

    // MinHash + LSH banding — the at-scale candidate generator. The
    // xxhash64-seeded band buckets aren't SQL-portable, but the
    // CONTAINMENT CONTRACT is: every pair with Jaccard ≥ 0.7 must land
    // in at least one shared band bucket (32 hashes × 8 bands ⇒ miss
    // probability (1−0.7⁴)^8 ≈ 0.1% per pair; measured 0 misses at
    // sf0.001–0.1). DuckDB computes the high-Jaccard pair count + a
    // zero-miss literal; Spark computes both from the actual LSH
    // buckets, so a banding regression hash-mismatches the gate.
    QueryDef("dd04_minhash_lsh",
      highJacCte(0.7) +
        "\nSELECT count(*) AS n_high_pairs, CAST(0 AS BIGINT) AS n_missed FROM j") { (s, dir) =>
      val cand = Dedup.minHashCandidates(docsWide(s, dir), "doc_id", "text")
        .select(col("id_a").as("da"), col("id_b").as("db"), lit(1L).as("_c"))
      highJacPairs(s, dir, 0.7)
        .join(cand, Seq("da", "db"), "left")
        .agg(count(lit(1)).cast(LongType).as("n_high_pairs"),
          coalesce(sum(when(col("_c").isNull, 1L).otherwise(0L)), lit(0L))
            .as("n_missed"))
    },

    // SimHash envelope contract: 64-bit signatures of pairs with
    // Jaccard ≥ 0.7 must sit within hamming distance 16 (a quarter of
    // the bits; random pairs center at 32 with σ=4, so ≤16 is a
    // > 4σ separation — measured maxima 9/5/12 at sf0.001/0.01/0.1).
    QueryDef("dd05_simhash",
      highJacCte(0.7) +
        "\nSELECT count(*) AS n_high_pairs, CAST(0 AS BIGINT) AS n_hamming_gt16 FROM j") { (s, dir) =>
      val sh = Dedup.simHash(docsWide(s, dir), "doc_id", "text")
      highJacPairs(s, dir, 0.7)
        .join(sh.select(col("doc_id").as("da"), col("simhash").as("sa")), "da")
        .join(sh.select(col("doc_id").as("db"), col("simhash").as("sb")), "db")
        .agg(count(lit(1)).cast(LongType).as("n_high_pairs"),
          coalesce(sum(when(
            bit_count(col("sa").bitwiseXOR(col("sb"))) > 16, 1L).otherwise(0L)),
            lit(0L)).as("n_hamming_gt16"))
    },

    // SimHash near-dup through the generic banded-hamming pair join —
    // the same Dedup.hammingPairs envelope the media family (mm04–06)
    // uses, here over TEXT simhashes: proof the operator composes
    // across modalities. Invariant oracle (DuckDB has no xxhash64, so
    // no row-for-row hash table): every 20th document gets an
    // exact-copy clone planted at doc_id+100000 — identical text ⇒
    // identical simhash ⇒ dist 0, and the banding is lossless by
    // pigeonhole, so recovery must be EXACTLY 100%. DuckDB states the
    // planted count from the corpus and the flag as a constant; Spark
    // computes both from the actual pair output.
    QueryDef("dd16_simhash_neardup",
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM documents WHERE doc_id % 20 = 0""".stripMargin) { (s, dir) =>
      val docs = docsWide(s, dir).select(
        // same planted-id collision guard as dd15 (doc_id, not vec_id)
        when(col("doc_id") < 100000L, col("doc_id"))
          .otherwise(raise_error(concat(
            lit("dd16 planted-clone offset 100000 collides with doc_id "),
            col("doc_id").cast(StringType))).cast(LongType)).as("doc_id"),
        col("text"))
      val clones = docs.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val pairs = Dedup.hammingPairs(
        Dedup.simHash(docs.unionAll(clones), "doc_id", "text"),
        "doc_id", "simhash", maxDist = 3)
      val found = pairs
        .filter(col("dist") === 0 && col("id_b") === col("id_a") + 100000L)
        .agg(count(lit(1)).as("_found"))
      clones.agg(count(lit(1)).cast(LongType).as("n_planted"))
        .crossJoin(found)
        .select(col("n_planted"),
          when(col("_found") === col("n_planted"), 1L)
            .otherwise(0L).as("recall_ok"))
    },

    // Asymmetric shingle containment (Broder 1997): |A∩B|/|A| and
    // |A∩B|/|B| per candidate pair — the subsumption signal Jaccard
    // misses (a paragraph pasted into a much larger page scores ~0
    // Jaccard but ~1 containment on the small side). Same dd03 capped
    // posting plan (cap 64, mirrored in the oracle's HAVING), one
    // extra ratio, zero extra shuffles; ranked by the max-side
    // containment with a full total-order tiebreak.
    QueryDef("dd17_containment",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        | sh0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w),
        | sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        |        FROM sh0),
        | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | keep AS (SELECT shingle FROM sh GROUP BY shingle
        |          HAVING count(*) BETWEEN 2 AND 64),
        | pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |           FROM sh a JOIN sh b USING (shingle)
        |           JOIN keep USING (shingle)
        |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT da, db,
        |  CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE) AS c_ab,
        |  CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE) AS c_ba
        |FROM pairs
        |JOIN sz sa ON sa.doc_id = da
        |JOIN sz sb ON sb.doc_id = db
        |ORDER BY greatest(CAST(inter AS DOUBLE) / CAST(sa.n AS DOUBLE),
        |                  CAST(inter AS DOUBLE) / CAST(sb.n AS DOUBLE)) DESC,
        |  da, db LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.containmentPairs(docsWide(s, dir), "doc_id", "text")
        .orderBy(greatest(col("c_ab"), col("c_ba")).desc,
          col("da"), col("db"))
        .limit(20)
    },

    // Embedding-cosine near-dup: top-20 most-similar pairs among
    // CENTERED hyperplane-sign-blocked candidates. Block bits compare
    // n·proj(v) with proj(Σ corpus) — the sign of the mean-centered
    // projection without any division — using integer-hash ±1
    // hyperplane signs and exact DECIMAL sums. Portable arithmetic, so
    // unlike dd04/dd05 this near-dup path has a full DuckDB oracle
    // (hash match, not rows-only), and the blocks stay balanced even
    // on sign-biased corpora (raw leading-dim signs would collapse
    // them; uncentered hyperplanes skew under a common offset).
    QueryDef("dd06_embedding_neardup",
      """WITH e AS (SELECT vec_id, embedding FROM embeddings
        |           WHERE embedding IS NOT NULL AND len(embedding) >= 8),
        | ex AS (SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS i,
        |               embedding FROM e),
        | sgns AS (SELECT i, j,
        |            CASE WHEN xor(h3, h3 // 65536) % 2 = 0
        |                 THEN 1 ELSE -1 END AS sgn
        |          FROM (SELECT i, j,
        |                  (xor(h1, h1 // 65536) * 1597334677) % 2147483648 AS h3
        |                FROM (SELECT i, j,
        |                        ((j * 4096 + i) * 2654435761) % 2147483648 AS h1
        |                      FROM (SELECT DISTINCT i FROM ex) di,
        |                           range(0, 8) AS rj(j)) t1) t2),
        | nv AS (SELECT CAST(count(*) AS DECIMAL(10,0)) AS nvec FROM e),
        | st AS (SELECT i,
        |          CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,6)))
        |               AS DECIMAL(22,6)) AS sp
        |        FROM ex GROUP BY i),
        | prs AS (SELECT j, sum(sp * sgn) AS projs
        |         FROM st JOIN sgns USING (i) GROUP BY j),
        | pr AS (SELECT vec_id, j,
        |          CAST(sum(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(12,6))
        |                   * sgn) AS DECIMAL(22,6)) AS proj
        |        FROM ex JOIN sgns USING (i)
        |        GROUP BY vec_id, j),
        | bs AS (SELECT vec_id,
        |          string_agg(CASE WHEN nvec * proj > projs THEN '1' ELSE '0' END,
        |                     '' ORDER BY j) AS bk
        |        FROM pr JOIN prs USING (j) CROSS JOIN nv
        |        GROUP BY vec_id),
        | b AS (SELECT e.vec_id, e.embedding, bs.bk FROM e JOIN bs USING (vec_id)),
        | cand AS (SELECT a.vec_id AS va, c.vec_id AS vb, a.embedding AS ea, c.embedding AS eb
        |          FROM b a JOIN b c ON a.bk = c.bk AND a.vec_id < c.vec_id),
        | d AS (SELECT va, vb,
        |         sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6)) * CAST(CAST(y AS DOUBLE) AS DECIMAL(12,6))) AS dot
        |       FROM (SELECT va, vb, unnest(ea) AS x, unnest(eb) AS y FROM cand) z
        |       GROUP BY va, vb),
        | n AS (SELECT vec_id,
        |         sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6)) * CAST(CAST(x AS DOUBLE) AS DECIMAL(12,6))) AS nrm
        |       FROM (SELECT vec_id, unnest(embedding) AS x FROM e) z GROUP BY vec_id)
        |SELECT va, vb,
        |  CAST(dot AS DOUBLE) / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) AS sim
        |FROM d JOIN n na ON na.vec_id = va JOIN n nb ON nb.vec_id = vb
        |ORDER BY sim DESC, va, vb LIMIT 20""".stripMargin) { (s, dir) =>
      Dedup.embeddingNearDup(embWide(s, dir), k = 20)
    },

    // Near-dup pairs -> dedup GROUPS: connected components (iterative
    // min-label propagation) over the jac >= 0.5 edge set, so transitive
    // chains (A~B, B~C) land in one cluster even when A and C don't pair
    // directly. The recursive-CTE oracle computes the identical fixpoint.
    QueryDef("dd08_dup_clusters",
      """WITH RECURSIVE
        | w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        | sh0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w),
        | sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM sh0),
        | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |           FROM sh a JOIN sh b USING (shingle)
        |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        | j AS (SELECT da, db FROM pairs
        |       JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |       WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        | e AS (SELECT da AS src, db AS dst FROM j UNION ALL SELECT db, da FROM j),
        | cc AS (
        |   SELECT src AS id, src AS label FROM e
        |   UNION
        |   SELECT e.dst, cc.label FROM cc JOIN e ON cc.id = e.src WHERE cc.label < e.dst
        | )
        |SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster
        |FROM cc GROUP BY id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // uncapped: mirrors the oracle's exact recursive-CTE edge set.
      // Near-dup graphs are usually shallow (they converge in the BSP
      // rounds), but a chain-shaped crawl history can't hang it (star)
      val edges = Dedup.jaccardPairs(docsWide(s, dir), "doc_id", "text",
          maxPosting = Int.MaxValue)
        .filter(col("jac") >= 0.5)
        .select(col("da").as("src"), col("db").as("dst"))
      Dedup.connectedComponents(edges)
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")
    },

    // Cluster RESOLUTION — detect → cluster → resolve: per duplicate
    // cluster keep the highest-quality member (ties to lowest id) and
    // report survivor + member count. The argmax collapses map-side
    // (max(struct)) — no window over cluster members. The oracle
    // recomputes dd08's clusters and ta07's quality, then picks the
    // survivor by the same (quality DESC, doc_id) order; quality
    // doubles are bit-identical across engines (ta07 hash-matches), so
    // the tie semantics agree.
    QueryDef("dd13_cluster_dedup",
      """WITH RECURSIVE
        | w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 3),
        | sh0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w),
        | sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM sh0),
        | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |           FROM sh a JOIN sh b USING (shingle)
        |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        | j AS (SELECT da, db FROM pairs
        |       JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |       WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        | e AS (SELECT da AS src, db AS dst FROM j UNION ALL SELECT db, da FROM j),
        | cc AS (
        |   SELECT src AS id, src AS label FROM e
        |   UNION
        |   SELECT e.dst, cc.label FROM cc JOIN e ON cc.id = e.src WHERE cc.label < e.dst
        | ),
        | cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster
        |        FROM cc GROUP BY id),
        | t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        | f AS (SELECT doc_id,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE) AS stop_ratio,
        |   CASE WHEN length(text) > 0 THEN
        |     CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |       / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio
        | FROM t),
        | q AS (SELECT doc_id,
        |   0.5 * least(stop_ratio / 0.08, 1.0)
        |     + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |     + 0.2 * (1.0 - least(punct_ratio / 0.2, 1.0)) AS quality
        | FROM f),
        | m AS (SELECT cl.cluster, cl.doc_id, q.quality,
        |         row_number() OVER (PARTITION BY cl.cluster
        |                            ORDER BY q.quality DESC, cl.doc_id) AS rn,
        |         count(*) OVER (PARTITION BY cl.cluster) AS n_members
        |       FROM cl JOIN q USING (doc_id))
        |SELECT cluster, doc_id AS survivor_id, quality AS survivor_score,
        |  CAST(n_members AS BIGINT) AS n_members
        |FROM m WHERE rn = 1 ORDER BY cluster""".stripMargin) { (s, dir) =>
      // uncapped: mirrors the oracle's exact recursive-CTE edge set;
      // clustered as in dd08 (shallow at BSP price, chain-immune)
      val edges = Dedup.jaccardPairs(docsWide(s, dir), "doc_id", "text",
          maxPosting = Int.MaxValue)
        .filter(col("jac") >= 0.5)
        .select(col("da").as("src"), col("db").as("dst"))
      val clusters = Dedup.connectedComponents(edges)
        .select(col("id").as("doc_id"), col("cluster"))
      val quality = TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
      Dedup.resolveClusters(clusters, quality)
        .orderBy("cluster")
    },

    // "Fuzzy-exact" dedup on the canonical text form (lowercase, strip
    // punctuation, collapse whitespace): catches reformatted copies that
    // byte-exact hashing misses, while staying a single keyed shuffle —
    // no similarity join. Survivor = min doc_id per canonical hash.
    QueryDef("dd07_canonical_dedup",
      """WITH c AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', '', 'g'),
        |       ' +', ' ', 'g')) AS canon
        |  FROM documents)
        |SELECT doc_id, sha256(canon) AS h FROM (
        |  SELECT doc_id, canon,
        |         row_number() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
        |  FROM c) x
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Dedup.byCanonicalText(docs(s, dir), "text", col("doc_id"))
        .select(col("doc_id"),
          sha2(Dedup.canonicalize(col("text")), 256).as("h"))
        .orderBy("doc_id")
    },

    // Incremental (registry) dedup — the daily-ingest shape: new batch
    // (doc_id >= 250) anti-joined against the already-seen content-hash
    // registry (doc_id < 250), then deduped within itself. At scale the
    // registry is bucketed on h so the anti-join needs no new exchange.
    QueryDef("dd09_incremental_dedup",
      """WITH reg AS (SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id < 250),
        | nw AS (SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id >= 250),
        | flt AS (SELECT nw.* FROM nw WHERE h NOT IN (SELECT h FROM reg)),
        | k AS (SELECT doc_id, h,
        |         row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        |       FROM flt)
        |SELECT doc_id, h FROM k WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val registry = d.filter(col("doc_id") < 250)
        .select(sha2(col("text"), 256).as("h")).distinct()
      Dedup.incremental(d.filter(col("doc_id") >= 250), registry,
          "text", col("doc_id"))
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .orderBy("doc_id")
    },

    // Deterministic reproducible subsampling (Sampling.hashSample): the
    // corpus-curation "take a stable 25%" step. Same predicate text runs
    // in DuckDB — membership is provably engine-independent.
    QueryDef("sp01_hash_sample",
      """SELECT count(*) AS n_sampled,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sampled_value,
        |  CAST(min(o_orderkey) AS BIGINT) AS first_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS last_key
        |FROM orders
        |WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '40'""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "orders")
        .filter(graft.operators.Sampling.hashSample(col("o_orderkey"), 64))
        .agg(count(lit(1)).as("n_sampled"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("sampled_value"),
          min(col("o_orderkey")).cast(LongType).as("first_key"),
          max(col("o_orderkey")).cast(LongType).as("last_key"))
    },

    // Stratified reproducible sampling: per-language keep-fractions
    // (downsample the dominant stratum, keep the rare ones whole) with
    // the same md5 gate as sp01 — a pure scan-fused filter, no RNG, no
    // join; the identical CASE predicate runs verbatim in DuckDB.
    QueryDef("sp02_stratified_sample",
      """SELECT lang, count(*) AS n_sampled,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE WHEN lang = 'en' THEN '20' ELSE 'zz' END
        |GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .filter(graft.operators.Sampling.stratifiedHashSample(
          col("doc_id"), col("lang"), Map("en" -> 32), defaultNumerator = 256))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          min("doc_id").cast(LongType).as("first_doc"),
          max("doc_id").cast(LongType).as("last_doc"))
        .orderBy("lang")
    },

    // Exactly-k-per-stratum sampling: rank by md5(key) within each
    // stratum, keep the first k — the "same 10k eval docs per language,
    // every rerun, any engine" shape fraction gates can't promise. The
    // survivor LIST itself is the gate output, so a single membership
    // flip anywhere hash-mismatches.
    QueryDef("sp03_exact_k_sample",
      """SELECT lang, CAST(doc_id AS BIGINT) AS doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t
        |WHERE rk <= 10
        |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.exactKPerStratum(docs(s, dir), "lang", "doc_id", 10)
        .select(col("lang"), col("doc_id").cast(LongType).as("doc_id"))
        .orderBy("lang", "doc_id")
    },

    // Temperature mixing at α=0.5: keep-rate √(n_min/n) per language,
    // DERIVED from the corpus in-plan (vs sp02's caller-fixed rates) —
    // the multilingual flattening step. √ is correctly-rounded IEEE, so
    // both engines compute the identical floor(256·r) gate; membership
    // is the same portable md5 hex-gate as sp01/sp02.
    QueryDef("sp04_temperature_mix",
      """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        | mn AS (SELECT min(n) AS nmin FROM c),
        | g AS (SELECT lang, CAST(floor(256.0 *
        |         sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE))) AS INTEGER) AS num
        |       FROM c, mn),
        | gg AS (SELECT lang,
        |          CASE WHEN num >= 256 THEN 'zz' ELSE printf('%02x', num) END AS gate
        |        FROM g)
        |SELECT d.lang, count(*) AS n_sampled,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM documents d JOIN gg USING (lang)
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < gate
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, dir) =>
      graft.operators.Sampling
        .temperatureMixSample(docs(s, dir), "lang", "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          min("doc_id").cast(LongType).as("first_doc"),
          max("doc_id").cast(LongType).as("last_doc"))
        .orderBy("lang")
    },

    // Deterministic train/val/test split: one md5 hex gate carved into
    // three contiguous bands (defaults ≈ 95.7/2.0/2.3%) — disjoint and
    // exhaustive by construction, reproducible on any engine or
    // partitioning, and consistent across tables (a key lands in the
    // same split everywhere, so no feature leakage). The per-split
    // counts summing to the table total IS the exhaustiveness check;
    // the oracle runs the identical CASE verbatim.
    QueryDef("sp05_split_assign",
      """WITH s AS (SELECT doc_id, n_chars,
        |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f5' THEN 'train'
        |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'fa' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(min(doc_id) AS BIGINT) AS first_id,
        |  CAST(max(doc_id) AS BIGINT) AS last_id
        |FROM s GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .withColumn("split",
          graft.operators.Sampling.assignSplit(col("doc_id")))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast(LongType).as("total_chars"),
          min("doc_id").cast(LongType).as("first_id"),
          max("doc_id").cast(LongType).as("last_id"))
        .orderBy("split")
    },

    // Leakage-safe GROUPED split: the same md5 band gate as sp05 but
    // keyed on `source`, so every document of a source lands in the
    // same split — the grouping that stops near-duplicate documents
    // from one site straddling train/test (the contamination mode a
    // doc-keyed split invites). The no_leakage flag is COMPUTED from
    // the assignment (max splits-per-source must be 1), not assumed;
    // DuckDB states it as the constant the construction guarantees.
    QueryDef("sp07_grouped_split",
      """WITH s AS (SELECT source, n_chars,
        |  CASE WHEN substring(md5(source), 1, 2) < 'f5' THEN 'train'
        |       WHEN substring(md5(source), 1, 2) < 'fa' THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, count(*) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(1 AS BIGINT) AS no_leakage
        |FROM s GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
      val assigned = docs(s, dir).withColumn("split",
        graft.operators.Sampling.assignSplit(col("source")))
      val leak = assigned.groupBy("source")
        .agg(countDistinct(col("split")).as("_k"))
        .agg(coalesce(max(col("_k")), lit(0L)).as("_mx"))
      assigned.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum("n_chars").cast(LongType).as("total_chars"))
        .crossJoin(broadcast(leak))
        .select(col("split"), col("n_docs"), col("n_sources"),
          col("total_chars"),
          when(col("_mx") <= 1, 1L).otherwise(0L).as("no_leakage"))
        .orderBy("split")
    },

    // Weight-proportional sampling WITHOUT replacement (sequential
    // Poisson / πps): draw 100 docs with inclusion ∝ n_chars — the
    // "sample by token mass, not by document count" draw that keeps a
    // size-skewed corpus sample representative of its token budget.
    // The priority is the EXACT integer (u40·1024) div w (u40 = 40-bit
    // md5 prefix): floor division is the same BIGINT in both engines,
    // and < 2^50 it rides the top-k's double score losslessly, so the
    // winner set is bit-reproducible anywhere. Spark side selects via
    // the bounded TopKAgg partial aggregate (≤ k pairs exchanged per
    // map partition); the oracle's ORDER BY/LIMIT states the identical
    // (priority, key) total order.
    QueryDef("sp08_weighted_sample",
      """WITH s AS (SELECT doc_id, n_chars,
        |    (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 10))::BIGINT
        |     * 1024) // n_chars AS skey
        |  FROM documents WHERE n_chars > 0)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CAST(skey AS BIGINT) AS skey
        |FROM s ORDER BY skey, doc_id LIMIT 100""".stripMargin) { (s, dir) =>
      graft.operators.Sampling
        .weightedSample(docs(s, dir), "doc_id", "n_chars", 100)
        .select(col("doc_id").cast(LongType).as("doc_id"),
          col("n_chars").cast(LongType).as("n_chars"), col("skey"))
        .orderBy("skey", "doc_id")
    },

    // Neyman-optimal stratified allocation: a 200-draw budget split
    // across languages proportionally to N_h·S_h (stratum size × char-
    // count stddev) — the minimum-variance survey design ("spend eval
    // budget where docs vary most"), then drawn with the sp03 md5 rank.
    // The variance numerator is exact BIGINT arithmetic, S_h one IEEE
    // division+sqrt, the weight integerized to micro-units, and the
    // split an exact (k·u_h) div Σu — identical allocation anywhere.
    QueryDef("sp09_neyman_alloc",
      """WITH st AS (SELECT lang, count(*) AS n_h,
        |       sum(CAST(n_chars AS BIGINT)) AS sx,
        |       sum(CAST(n_chars AS BIGINT) * CAST(n_chars AS BIGINT)) AS sxx
        |     FROM documents GROUP BY lang),
        | sv AS (SELECT lang, n_h,
        |       sqrt(CAST(n_h * sxx - sx * sx AS DOUBLE) /
        |            CAST(n_h * (n_h - 1) AS DOUBLE)) AS sh
        |     FROM st WHERE n_h >= 2),
        | u AS (SELECT lang, n_h,
        |       CAST(CAST(CAST(n_h AS DOUBLE) * sh AS DECIMAL(28,6)) * 1000000
        |            AS BIGINT) AS uh
        |     FROM sv),
        | tot AS (SELECT sum(uh) AS ut FROM u),
        | al AS (SELECT lang, n_h, (200 * uh) // ut AS alloc
        |        FROM u CROSS JOIN tot),
        | rk AS (SELECT lang, doc_id,
        |          row_number() OVER (PARTITION BY lang
        |            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
        |        FROM documents),
        | sel AS (SELECT rk.lang, rk.doc_id
        |         FROM rk JOIN al USING (lang) WHERE r <= alloc)
        |SELECT al.lang, CAST(al.n_h AS BIGINT) AS n_h,
        |  CAST(al.alloc AS BIGINT) AS alloc,
        |  count(sel.doc_id) AS n_sampled,
        |  CAST(min(sel.doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(sel.doc_id) AS BIGINT) AS last_doc
        |FROM al LEFT JOIN sel ON al.lang = sel.lang
        |GROUP BY al.lang, al.n_h, al.alloc
        |ORDER BY al.lang""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val alloc = graft.operators.Sampling
        .neymanAllocation(d, "lang", "n_chars", 200)
      val sel = graft.operators.Sampling
        .neymanSample(d, "lang", "doc_id", "n_chars", 200)
        .groupBy("lang")
        .agg(count(lit(1)).as("_ns"),
          min("doc_id").cast(LongType).as("first_doc"),
          max("doc_id").cast(LongType).as("last_doc"))
      alloc.join(sel, Seq("lang"), "left")
        .select(col("lang"), col("n_h"), col("alloc"),
          coalesce(col("_ns"), lit(0L)).as("n_sampled"),
          col("first_doc"), col("last_doc"))
        .orderBy("lang")
    },

    // Stratified leakage-safe k-fold CV assignment (5 folds keyed on
    // source, the sp07 grouping): fold = (u·5) div 2³² from a seeded
    // 32-bit md5 slice — exact integer arithmetic, so the full per-doc
    // assignment table replays bit-for-bit. A doc's fold depends only
    // on its source: near-dups from one site never straddle folds.
    QueryDef("sp11_kfold",
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
        |  (('0x' || substring(md5(md5('cv1') ||
        |      CASE WHEN source IS NULL THEN 'n' ELSE 'v' || source END), 1, 8))::BIGINT * 5)
        |    // 4294967296 AS fold
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.kFoldAssign(docs(s, dir), "source", 5)
        .select(col("doc_id").cast(LongType).as("doc_id"), col("source"),
          col("fold"))
        .orderBy("doc_id")
    },

    // Poisson(1) bootstrap replication (Sampling.poissonReplicates):
    // the distributed resample-with-replacement step of bagging /
    // bootstrap CIs. Replicate counts invert the Poisson CDF on an md5
    // prefix of the seeded key against hard-coded 32-bit hex thresholds
    // — NO float math anywhere, so the full (key, rep) replica list
    // hash-matches verbatim (measured at the gate SF: 36.8% of keys
    // draw 0 and vanish, E[count]=1 keeps output ≈ input). Scan-fused
    // narrow generator, zero shuffle before the presentation sort.
    QueryDef("sp10_poisson_bootstrap",
      """WITH c AS (SELECT o_orderkey,
        |    CASE WHEN substring(md5(md5('bs1') || 'v' || CAST(o_orderkey AS VARCHAR)), 1, 8) < '5e2d58d8' THEN 0
        |         WHEN substring(md5(md5('bs1') || 'v' || CAST(o_orderkey AS VARCHAR)), 1, 8) < 'bc5ab1b1' THEN 1
        |         WHEN substring(md5(md5('bs1') || 'v' || CAST(o_orderkey AS VARCHAR)), 1, 8) < 'eb715e1d' THEN 2
        |         WHEN substring(md5(md5('bs1') || 'v' || CAST(o_orderkey AS VARCHAR)), 1, 8) < 'fb239797' THEN 3
        |         WHEN substring(md5(md5('bs1') || 'v' || CAST(o_orderkey AS VARCHAR)), 1, 8) < 'ff1025f5' THEN 4
        |         WHEN substring(md5(md5('bs1') || 'v' || CAST(o_orderkey AS VARCHAR)), 1, 8) < 'ffd90f3b' THEN 5
        |         ELSE 6 END AS n
        |  FROM orders)
        |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(unnest(range(1, n + 1)) AS BIGINT) AS rep
        |FROM c WHERE n > 0 ORDER BY o_orderkey, rep""".stripMargin) { (s, dir) =>
      graft.operators.Sampling
        .poissonReplicates(Tables.load(s, dir, "orders")
          .select(col("o_orderkey")), "o_orderkey")
        .select(col("o_orderkey").cast(LongType).as("o_orderkey"),
          col("rep").cast(LongType).as("rep"))
        .orderBy("o_orderkey", "rep")
    },

    // Fractional-epoch mixture (Sampling.epochUpsample): src0 at 2+77/256
    // ≈ 2.3 epochs, src1 at 0+128/256 ≈ 0.5 (pure downsample through the
    // same operator), src2 pinned to exactly 1, everything else passing
    // through — the replicate-the-good-sources half of data mixing that
    // sp02/sp04 (downsampling only) can't express. The checksum weights
    // each copy by (epoch+1), so a copy-count or epoch-tag slip flips
    // the hash even where row counts happen to agree. Both engines
    // compute the identical md5 gate and range explode.
    QueryDef("sp06_epoch_upsample",
      """WITH c AS (SELECT doc_id, source,
        |  CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 0
        |       WHEN source = 'src2' THEN 1 ELSE 1 END
        |  + CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |      CASE WHEN source = 'src0' THEN '4d' WHEN source = 'src1' THEN '80'
        |           WHEN source = 'src2' THEN '00' ELSE '00' END
        |      THEN 1 ELSE 0 END AS copies
        |  FROM documents),
        | e AS (SELECT doc_id, source, unnest(range(copies)) AS epoch
        |       FROM c WHERE copies > 0)
        |SELECT source, count(*) AS n_rows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(doc_id * (epoch + 1)) AS BIGINT) AS mix_checksum
        |FROM e GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.epochUpsample(docs(s, dir), "source", "doc_id",
          Map("src0" -> ((2, 77)), "src1" -> ((0, 128)), "src2" -> ((1, 0))))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).cast(LongType).as("n_docs"),
          sum(col("doc_id") * (col("epoch") + 1)).cast(LongType).as("mix_checksum"))
        .orderBy("source")
    },

    // Typo-pair detection (Dedup.typoPairs): blocked candidates + exact
    // Levenshtein distance 1 — the fuzzy-key-matching step of entity/
    // token normalization. The synthetic corpus vocabulary has no
    // natural typos (r5: both engines returned 0 rows — trivially
    // green), so the gate PLANTS known positives: every vocab token is
    // unioned with a deterministic 1-edit mutation (2nd char → 'q'),
    // giving 24 real pairs the detector must find at every SF. Both
    // engines apply the identical mutation and blocking → hash-exact.
    QueryDef("dd10_typo_pairs",
      """WITH v0 AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        | v1 AS (SELECT tok FROM v0 WHERE length(tok) >= 4),
        | mut AS (SELECT substring(tok, 1, 1) || 'q' || substring(tok, 3) AS tok
        |         FROM v1),
        | v AS (SELECT DISTINCT tok FROM (SELECT tok FROM v1
        |                                 UNION ALL SELECT tok FROM mut)),
        | b AS (SELECT tok, substring(tok, 1, 1) AS c1, length(tok) AS len FROM v)
        |SELECT a.tok AS tok_a, b.tok AS tok_b, CAST(1 AS BIGINT) AS dist
        |FROM b a JOIN b b ON a.c1 = b.c1 AND b.len BETWEEN a.len - 1 AND a.len + 1
        |WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) = 1
        |ORDER BY tok_a, tok_b""".stripMargin) { (s, dir) =>
      val v1 = TextAnalysis.tokens(docs(s, dir), "doc_id", "text")
        .select("tok").distinct()
        .filter(length(col("tok")) >= 4)
      val mut = v1.select(concat(substring(col("tok"), 1, 1), lit("q"),
        expr("substring(tok, 3)")).as("tok"))
      Dedup.typoPairs(v1.unionAll(mut), "tok")
        .orderBy("tok_a", "tok_b")
    },

    // Benchmark decontamination: holdout = every 50th doc (the stand-in
    // eval set), training = the rest; flag training docs sharing any
    // word-5-gram with the holdout, with per-doc hit counts. Both
    // engines compute the identical shingle join → full hash match.
    QueryDef("dd11_decontamination",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 5),
        | sh0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i FROM w),
        | sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle FROM sh0),
        | hold AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
        | tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0)
        |SELECT tr.doc_id, count(*) AS n_hits
        |FROM tr JOIN hold USING (shingle)
        |GROUP BY tr.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docsWide(s, dir)
      Dedup.contaminationHits(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    },

    // ================= data quality (Deequ/dbt-test shape) =================

    // One-pass column profile: row/null/distinct counts + min/max per
    // column from a single aggregation (inlined into report rows).
    // Validation at 100 TB is a query, not a framework.
    QueryDef("dq01_profile",
      """WITH t AS (SELECT count(*) AS n,
        |    count(l_orderkey) AS c1, count(DISTINCT l_orderkey) AS d1,
        |    CAST(min(l_orderkey) AS VARCHAR) AS mn1, CAST(max(l_orderkey) AS VARCHAR) AS mx1,
        |    count(l_quantity) AS c2, count(DISTINCT l_quantity) AS d2,
        |    CAST(min(l_quantity) AS VARCHAR) AS mn2, CAST(max(l_quantity) AS VARCHAR) AS mx2,
        |    count(l_returnflag) AS c3, count(DISTINCT l_returnflag) AS d3,
        |    CAST(min(l_returnflag) AS VARCHAR) AS mn3, CAST(max(l_returnflag) AS VARCHAR) AS mx3,
        |    count(l_linenumber) AS c4, count(DISTINCT l_linenumber) AS d4,
        |    CAST(min(l_linenumber) AS VARCHAR) AS mn4, CAST(max(l_linenumber) AS VARCHAR) AS mx4
        |  FROM lineitem)
        |SELECT 'l_orderkey' AS column_name, n AS n_rows, n - c1 AS n_nulls,
        |  d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value FROM t
        |UNION ALL SELECT 'l_quantity', n, n - c2, d2, mn2, mx2 FROM t
        |UNION ALL SELECT 'l_returnflag', n, n - c3, d3, mn3, mx3 FROM t
        |UNION ALL SELECT 'l_linenumber', n, n - c4, d4, mn4, mx4 FROM t
        |ORDER BY column_name""".stripMargin) { (s, dir) =>
      // spread BEFORE the profile: the multi-distinct plans an Expand
      // (rows × profiled columns) whose partial aggregation would
      // otherwise run inside the single-row-group scan task (measured
      // 4.7 s serialized vs ~1 s spread at sf0.1)
      graft.operators.Quality.profile(
        Tables.spread(Tables.load(s, dir, "lineitem"),
          "l_orderkey", "l_linenumber"),
        Seq("l_orderkey", "l_quantity", "l_returnflag", "l_linenumber"))
        .orderBy("column_name")
    },

    // Declarative rule checks: range / domain / not-null constraints
    // evaluated in one pass; a NULL predicate is a violation, not a
    // pass. All-zero counts ARE the assertion — they pin the
    // generator's invariants cross-engine, and the spec plants
    // violations to prove detection.
    QueryDef("dq02_rules",
      """WITH t AS (SELECT
        |   sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS v1,
        |   sum(CASE WHEN l_discount BETWEEN 0 AND 0.1 THEN 0 ELSE 1 END) AS v2,
        |   sum(CASE WHEN l_tax BETWEEN 0 AND 0.08 THEN 0 ELSE 1 END) AS v3,
        |   sum(CASE WHEN l_returnflag IN ('A','N','R') THEN 0 ELSE 1 END) AS v4,
        |   sum(CASE WHEN l_shipdate IS NOT NULL THEN 0 ELSE 1 END) AS v5
        | FROM lineitem)
        |SELECT 'quantity_range' AS rule, CAST(v1 AS BIGINT) AS n_violations FROM t
        |UNION ALL SELECT 'discount_range', CAST(v2 AS BIGINT) FROM t
        |UNION ALL SELECT 'tax_range', CAST(v3 AS BIGINT) FROM t
        |UNION ALL SELECT 'returnflag_domain', CAST(v4 AS BIGINT) FROM t
        |UNION ALL SELECT 'shipdate_not_null', CAST(v5 AS BIGINT) FROM t
        |ORDER BY rule""".stripMargin) { (s, dir) =>
      graft.operators.Quality.checkRules(Tables.load(s, dir, "lineitem"), Seq(
        "quantity_range" -> col("l_quantity").between(1, 50),
        "discount_range" -> col("l_discount").between(0, 0.1),
        "tax_range" -> col("l_tax").between(0, 0.08),
        "returnflag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "shipdate_not_null" -> col("l_shipdate").isNotNull))
        .orderBy("rule")
    },

    // Referential integrity as a report: anti-join orphan counts for
    // the fact→dim key paths. Zero orphans pins the generator's
    // integrity; the operator is the production FK check.
    QueryDef("dq03_ref_integrity",
      """SELECT * FROM (
        |  SELECT 'lineitem->orders' AS relation,
        |    CAST((SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_orphans
        |  UNION ALL
        |  SELECT 'orders->customer',
        |    CAST((SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) AS BIGINT))
        |ORDER BY relation""".stripMargin) { (s, dir) =>
      graft.operators.Quality.orphanReport("lineitem->orders",
          Tables.load(s, dir, "lineitem"), "l_orderkey",
          Tables.load(s, dir, "orders"), "o_orderkey")
        .unionByName(graft.operators.Quality.orphanReport("orders->customer",
          Tables.load(s, dir, "orders"), "o_custkey",
          Tables.load(s, dir, "customer"), "c_custkey"))
        .orderBy("relation")
    },

    // Aggregate reconciliation with PLANTED discrepancies (the dd10
    // lesson: synthetic data satisfies no stored parent-total relation,
    // so the gate derives the parent FROM the child and perturbs it
    // deterministically — keys ≡0 mod 37 get +1, keys ≡0 mod 41 are
    // dropped (child groups become orphans), and a childless parent -1
    // is planted). The report must count each class exactly and bound
    // the largest discrepancy; sums reconcile in exact DECIMAL.
    QueryDef("dq05_reconcile",
      """WITH c AS (SELECT l_orderkey AS k,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS total
        |  FROM lineitem GROUP BY 1),
        | p AS (SELECT k, total + CASE WHEN k % 37 = 0 THEN 1 ELSE 0 END AS total
        |       FROM c WHERE k % 41 <> 0
        |       UNION ALL SELECT -1, CAST(0 AS DECIMAL(18,4))),
        | j AS (SELECT c.k AS ck, c.total AS cv, p.k AS pk, p.total AS pv
        |       FROM c FULL OUTER JOIN p ON c.k = p.k)
        |SELECT 'lineitem->orders_planted' AS relation,
        |  CAST(count(CASE WHEN pk IS NOT NULL THEN 1 END) AS BIGINT) AS n_parents,
        |  CAST(count(CASE WHEN ck IS NOT NULL AND pk IS NOT NULL
        |                   AND cv = pv THEN 1 END) AS BIGINT) AS n_matched,
        |  CAST(count(CASE WHEN ck IS NOT NULL AND pk IS NOT NULL
        |                   AND cv <> pv THEN 1 END) AS BIGINT) AS n_mismatched,
        |  CAST(count(CASE WHEN pk IS NULL THEN 1 END) AS BIGINT) AS n_orphan_groups,
        |  CAST(count(CASE WHEN ck IS NULL THEN 1 END) AS BIGINT) AS n_childless,
        |  CAST(max(CASE WHEN ck IS NOT NULL AND pk IS NOT NULL
        |                THEN abs(cv - pv) END) AS DOUBLE) AS max_abs_diff
        |FROM j""".stripMargin) { (s, dir) =>
      val li = Tables.load(s, dir, "lineitem")
      val base = li.groupBy(col("l_orderkey").as("k"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 4))).as("total"))
      val parent = base.filter(pmod(col("k"), lit(41)) =!= 0)
        .withColumn("total",
          col("total") + when(pmod(col("k"), lit(37)) === 0, 1).otherwise(0))
        .unionByName(s.range(1).select(lit(-1L).as("k"),
          lit(java.math.BigDecimal.ZERO).cast(DecimalType(28, 4)).as("total")))
      graft.operators.Quality.reconcile("lineitem->orders_planted",
        li, "l_orderkey", col("l_extendedprice").cast(DecimalType(18, 4)),
        parent, "k", col("total"))
    },

    // Distribution drift / PSI (Quality.distributionDrift): snapshot B
    // is the same feed scaled by 1.25 (exactly representable — both
    // engines shift identically), the "did the upstream change under
    // me?" monitoring report. Per-bin counts are exact; each PSI term
    // quantizes its one ln to DECIMAL(18,6) (ta08 pattern). The full
    // 10-bin spine keeps empty bins present — with Laplace smoothing
    // they still carry signal.
    QueryDef("dq06_drift",
      """WITH a AS (SELECT CAST(least(greatest(floor(value / 10.0), 0), 9) AS BIGINT) AS bin
        |           FROM events WHERE value IS NOT NULL),
        | b AS (SELECT CAST(least(greatest(floor((value * 1.25) / 10.0), 0), 9) AS BIGINT) AS bin
        |       FROM events WHERE value IS NOT NULL),
        | ca AS (SELECT bin, count(*) AS n_a FROM a GROUP BY bin),
        | cb AS (SELECT bin, count(*) AS n_b FROM b GROUP BY bin),
        | nt AS (SELECT (SELECT count(*) FROM a) AS na,
        |               (SELECT count(*) FROM b) AS nb),
        | s AS (SELECT unnest(range(10)) AS bin),
        | j AS (SELECT s.bin, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
        |       FROM s LEFT JOIN ca USING (bin) LEFT JOIN cb USING (bin)),
        | t AS (SELECT bin, n_a, n_b,
        |         CAST(n_a + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE) AS pa,
        |         CAST(n_b + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE) AS pb
        |       FROM j CROSS JOIN nt)
        |SELECT bin, n_a, n_b,
        |  CAST(CAST((pa - pb) * ln(pa / pb) AS DECIMAL(18,6)) AS DOUBLE) AS psi_term
        |FROM t ORDER BY bin""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      graft.operators.Quality.distributionDrift(
          ev, ev.select((col("value") * 1.25).as("value")),
          col("value"), 10.0, 10)
        .orderBy("bin")
    },

    // Functional-dependency check over the order lines joined to their
    // orders: l_orderkey → o_custkey must HOLD (each order has one
    // customer), while l_orderkey → l_suppkey and l_suppkey →
    // o_custkey are violated with measured fan-outs — the
    // silent-denormalization-drift probe. One single-distinct
    // aggregation pass per claimed dependency (never Expand), exact
    // integer counts.
    QueryDef("dq07_fd_check",
      """WITH j AS (SELECT l_orderkey, l_suppkey, o_custkey
        |           FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
        | f1 AS (SELECT l_orderkey AS det, count(DISTINCT o_custkey) AS fan
        |        FROM j GROUP BY 1),
        | f2 AS (SELECT l_orderkey AS det, count(DISTINCT l_suppkey) AS fan
        |        FROM j GROUP BY 1),
        | f3 AS (SELECT l_suppkey AS det, count(DISTINCT o_custkey) AS fan
        |        FROM j GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 'l_orderkey' AS determinant, 'o_custkey' AS dependent,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
        |    CAST(max(fan) AS BIGINT) AS max_fanout,
        |    sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) = 0 AS holds
        |  FROM f1
        |  UNION ALL
        |  SELECT 'l_orderkey', 'l_suppkey', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(fan) AS BIGINT),
        |    sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) = 0
        |  FROM f2
        |  UNION ALL
        |  SELECT 'l_suppkey', 'o_custkey', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(max(fan) AS BIGINT),
        |    sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) = 0
        |  FROM f3)
        |ORDER BY determinant, dependent""".stripMargin) { (s, dir) =>
      val j = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("o_orderkey") === col("l_orderkey"))
        .select("l_orderkey", "l_suppkey", "o_custkey")
      graft.operators.Quality.fdViolations(j, Seq(
          "l_orderkey" -> "o_custkey",
          "l_orderkey" -> "l_suppkey",
          "l_suppkey" -> "o_custkey"))
        .select(col("determinant"), col("dependent"),
          col("n_keys"), col("n_violating_keys").cast(LongType)
            .as("n_violating_keys"),
          col("max_fanout").cast(LongType).as("max_fanout"), col("holds"))
        .orderBy("determinant", "dependent")
    },

    // Tukey IQR outlier fences per numeric column: q1/q3 by exact
    // continuous-interpolation percentile (Spark `percentile` ≡ DuckDB
    // `quantile_cont` — rank p·(n−1), linear interpolation), fences at
    // ±1.5·IQR, out-of-fence counts. Two passes: the columns-sized
    // fence row broadcasts into the counting aggregation.
    QueryDef("dq08_iqr_fences",
      """WITH q AS (SELECT
        |    quantile_cont(l_quantity, 0.25) AS q1q, quantile_cont(l_quantity, 0.75) AS q3q,
        |    quantile_cont(l_extendedprice, 0.25) AS q1e, quantile_cont(l_extendedprice, 0.75) AS q3e,
        |    quantile_cont(l_discount, 0.25) AS q1d, quantile_cont(l_discount, 0.75) AS q3d
        |  FROM lineitem),
        | c AS (SELECT
        |    CAST(sum(CASE WHEN l_quantity < q1q - (q3q - q1q) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS nbq,
        |    CAST(sum(CASE WHEN l_quantity > q3q + (q3q - q1q) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS naq,
        |    CAST(sum(CASE WHEN l_extendedprice < q1e - (q3e - q1e) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS nbe,
        |    CAST(sum(CASE WHEN l_extendedprice > q3e + (q3e - q1e) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS nae,
        |    CAST(sum(CASE WHEN l_discount < q1d - (q3d - q1d) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS nbd,
        |    CAST(sum(CASE WHEN l_discount > q3d + (q3d - q1d) * 1.5 THEN 1 ELSE 0 END) AS BIGINT) AS nad
        |  FROM lineitem, q)
        |SELECT * FROM (
        |  SELECT 'l_quantity' AS col_name, q1q AS q1, q3q AS q3, q3q - q1q AS iqr,
        |    q1q - (q3q - q1q) * 1.5 AS fence_lo, q3q + (q3q - q1q) * 1.5 AS fence_hi,
        |    nbq AS n_below, naq AS n_above FROM q, c
        |  UNION ALL
        |  SELECT 'l_extendedprice', q1e, q3e, q3e - q1e,
        |    q1e - (q3e - q1e) * 1.5, q3e + (q3e - q1e) * 1.5, nbe, nae FROM q, c
        |  UNION ALL
        |  SELECT 'l_discount', q1d, q3d, q3d - q1d,
        |    q1d - (q3d - q1d) * 1.5, q3d + (q3d - q1d) * 1.5, nbd, nad FROM q, c)
        |ORDER BY col_name""".stripMargin) { (s, dir) =>
      graft.operators.Quality.iqrFences(Tables.load(s, dir, "lineitem"),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_name")
    },

    // Order-invariant table fingerprints (migration-validation
    // primitive): canonical row render → 40-bit md5 slice → additive
    // count/sum/min/max — two copies of a 100 TB table diff WITHOUT
    // sorting either side, and any changed/dropped/duplicated row
    // moves the checksum. Rendered columns restricted to
    // engine-canonical string casts (ints + strings).
    QueryDef("dq09_table_fingerprint",
      """WITH o AS (SELECT ('0x' || substring(md5(
        |      COALESCE(replace(replace(CAST(o_orderkey AS VARCHAR), '\', '\\'), '|', '\|'), '\N')
        |      || '|' || COALESCE(replace(replace(CAST(o_custkey AS VARCHAR), '\', '\\'), '|', '\|'), '\N')
        |      || '|' || COALESCE(replace(replace(o_orderstatus, '\', '\\'), '|', '\|'), '\N')
        |      || '|' || COALESCE(replace(replace(o_orderpriority, '\', '\\'), '|', '\|'), '\N')),
        |      1, 10))::BIGINT AS h
        |    FROM orders),
        | l AS (SELECT ('0x' || substring(md5(
        |      COALESCE(replace(replace(CAST(l_orderkey AS VARCHAR), '\', '\\'), '|', '\|'), '\N')
        |      || '|' || COALESCE(replace(replace(CAST(l_linenumber AS VARCHAR), '\', '\\'), '|', '\|'), '\N')
        |      || '|' || COALESCE(replace(replace(l_returnflag, '\', '\\'), '|', '\|'), '\N')
        |      || '|' || COALESCE(replace(replace(l_linestatus, '\', '\\'), '|', '\|'), '\N')),
        |      1, 10))::BIGINT AS h
        |    FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'orders' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR) AS checksum, min(h) AS min_h, max(h) AS max_h
        |  FROM o
        |  UNION ALL
        |  SELECT 'lineitem', count(*), CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR), min(h), max(h)
        |  FROM l)
        |ORDER BY tbl""".stripMargin) { (s, dir) =>
      val fo = graft.operators.Quality.tableFingerprint(
        Tables.load(s, dir, "orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
      val fl = graft.operators.Quality.tableFingerprint(
        Tables.load(s, dir, "lineitem"),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus"))
      fo.select(lit("orders").as("tbl"), col("*"))
        .unionAll(fl.select(lit("lineitem").as("tbl"), col("*")))
        .orderBy("tbl")
    },

    // Schema + null-rate drift between two snapshots (the first check
    // when yesterday's partition meets today's): the drifted snapshot
    // plants every class — a DROPPED column (o_orderpriority), an
    // ADDED one (o_priority_rank), a TYPE change (o_custkey
    // bigint→string) and a null-rate shift (o_orderstatus nulled for
    // key%10=0). Type STRINGS stay out of the gate columns (they are
    // engine-specific names — the spec pins them); the flag, statuses
    // and exact count-division null fractions hash-match. One narrow
    // agg pass per side, no Expand, column-name-sized join.
    QueryDef("dq10_schema_drift",
      """WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM orders)
        |SELECT * FROM (
        |SELECT 'o_custkey' AS column_name, 'common' AS status,
        |  CAST(1 AS BIGINT) AS type_changed,
        |  (SELECT CAST(count(*) - count(o_custkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders) AS base_null_frac,
        |  (SELECT CAST(count(*) - count(o_custkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders) AS new_null_frac
        |UNION ALL SELECT 'o_orderdate', 'common', 0,
        |  (SELECT CAST(count(*) - count(o_orderdate) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders),
        |  (SELECT CAST(count(*) - count(o_orderdate) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders)
        |UNION ALL SELECT 'o_orderkey', 'common', 0,
        |  (SELECT CAST(count(*) - count(o_orderkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders),
        |  (SELECT CAST(count(*) - count(o_orderkey) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders)
        |UNION ALL SELECT 'o_orderpriority', 'removed', 0,
        |  (SELECT CAST(count(*) - count(o_orderpriority) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders),
        |  NULL
        |UNION ALL SELECT 'o_orderstatus', 'common', 0,
        |  (SELECT CAST(count(*) - count(o_orderstatus) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders),
        |  (SELECT CAST(count(*) - count(CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderstatus END) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders)
        |UNION ALL SELECT 'o_priority_rank', 'added', 0,
        |  NULL,
        |  (SELECT CAST(count(*) - count(o_orderkey % 5) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders)
        |UNION ALL SELECT 'o_totalprice', 'common', 0,
        |  (SELECT CAST(count(*) - count(o_totalprice) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders),
        |  (SELECT CAST(count(*) - count(o_totalprice) AS DOUBLE) / CAST(count(*) AS DOUBLE) FROM orders)
        |) t ORDER BY column_name""".stripMargin) { (s, dir) =>
      val base = Tables.load(s, dir, "orders")
      val drifted = base
        .drop("o_orderpriority")
        .withColumn("o_priority_rank",
          (col("o_orderkey") % 5).cast(IntegerType))
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 0, lit(null).cast(StringType))
            .otherwise(col("o_orderstatus")))
        .withColumn("o_custkey", col("o_custkey").cast(StringType))
      graft.operators.Quality.schemaDrift(base, drifted)
        .select(col("column_name"), col("status"), col("type_changed"),
          col("base_null_frac"), col("new_null_frac"))
        .orderBy("column_name")
    },

    // Approximate profile (the wide-table escape dq01's doc promises):
    // HLL distinct sketches — one narrow aggregation pass, NO
    // multi-distinct Expand, so profiling 500 columns costs one scan.
    // Gate contract is ev04's: exact values hash-match the oracle and
    // the sketch must land within 5% of the exact count (rsd 2%).
    QueryDef("dq04_profile_approx",
      """WITH t AS (SELECT count(*) AS n,
        |    count(l_orderkey) AS c1, count(DISTINCT l_orderkey) AS d1,
        |    CAST(min(l_orderkey) AS VARCHAR) AS mn1, CAST(max(l_orderkey) AS VARCHAR) AS mx1,
        |    count(l_quantity) AS c2, count(DISTINCT l_quantity) AS d2,
        |    CAST(min(l_quantity) AS VARCHAR) AS mn2, CAST(max(l_quantity) AS VARCHAR) AS mx2,
        |    count(l_returnflag) AS c3, count(DISTINCT l_returnflag) AS d3,
        |    CAST(min(l_returnflag) AS VARCHAR) AS mn3, CAST(max(l_returnflag) AS VARCHAR) AS mx3,
        |    count(l_linenumber) AS c4, count(DISTINCT l_linenumber) AS d4,
        |    CAST(min(l_linenumber) AS VARCHAR) AS mn4, CAST(max(l_linenumber) AS VARCHAR) AS mx4
        |  FROM lineitem)
        |SELECT 'l_orderkey' AS column_name, n AS n_rows, n - c1 AS n_nulls,
        |  d1 AS n_distinct, mn1 AS min_value, mx1 AS max_value,
        |  CAST(1 AS BIGINT) AS within_5pct FROM t
        |UNION ALL SELECT 'l_quantity', n, n - c2, d2, mn2, mx2, 1 FROM t
        |UNION ALL SELECT 'l_returnflag', n, n - c3, d3, mn3, mx3, 1 FROM t
        |UNION ALL SELECT 'l_linenumber', n, n - c4, d4, mn4, mx4, 1 FROM t
        |ORDER BY column_name""".stripMargin) { (s, dir) =>
      val t = Tables.spread(Tables.load(s, dir, "lineitem"),
        "l_orderkey", "l_linenumber")
      val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_linenumber")
      val apx = graft.operators.Quality.profileApprox(t, cols)
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct").as("_apx"), col("min_value"), col("max_value"))
      val ex = graft.operators.Quality.profile(t, cols)
        .select(col("column_name"), col("n_distinct"))
      apx.join(ex, "column_name")
        .select(col("column_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_value"), col("max_value"),
          when(abs(col("_apx") - col("n_distinct")).cast(DoubleType) <=
            col("n_distinct").cast(DoubleType) * 0.05, 1L)
            .otherwise(0L).as("within_5pct"))
        .orderBy("column_name")
    },

    // Cross-document duplicated spans: every 8-word span shared by ≥2
    // documents, with its doc count and sorted postings — the
    // exact-substring duplication detector (suffix-array-dedup shape at
    // fixed window size) that surfaces boilerplate before any fuzzy
    // matching. Postings are SHARDED à la ta16 (maxPostings=8 so the
    // gate corpus actually exercises multi-shard spans): no span ever
    // concentrates in one aggregation buffer. (n_docs DESC, span,
    // shard) is a unique total order, so the LIMIT is deterministic.
    QueryDef("dd12_dup_spans",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | sh AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS span
        |        FROM ws, unnest(range(1, len(w) - 6)) AS t(i)
        |        WHERE len(w) >= 8),
        | g AS (SELECT span, count(*) AS n_docs FROM sh
        |       GROUP BY span HAVING count(*) >= 2),
        | x AS (SELECT sh.span, g.n_docs,
        |         sh.doc_id % greatest(1, CAST(ceil(g.n_docs / 8.0) AS BIGINT)) AS shard,
        |         sh.doc_id
        |       FROM sh JOIN g USING (span))
        |SELECT span, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS shard_docs,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM x GROUP BY span, n_docs, shard
        |ORDER BY n_docs DESC, span, shard LIMIT 50""".stripMargin) { (s, dir) =>
      Dedup.dupSpans(docsWide(s, dir), "doc_id", "text",
        maxPostings = 8)
        .orderBy(desc("n_docs"), col("span"), col("shard"))
        .limit(50)
    },

    // dd12's windows merged into MAXIMAL duplicated regions — the
    // removal granularity of suffix-array span dedup (cut every
    // duplicated run ≥ n tokens): consecutive hot window starts chain
    // via the islands trick (i − row_number), one keyed window per DOC
    // (bounded by doc length, never span frequency). (doc_id,
    // start_tok) is unique, so the output order is total.
    QueryDef("dd14_dup_span_regions",
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        | pos AS (SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS span
        |         FROM ws, unnest(range(1, len(w) - 6)) AS t(i)
        |         WHERE len(w) >= 8),
        | hot AS (SELECT span FROM (SELECT DISTINCT doc_id, span FROM pos) d
        |         GROUP BY span HAVING count(*) >= 2),
        | hp AS (SELECT doc_id, i FROM pos JOIN hot USING (span)),
        | isl AS (SELECT doc_id, i,
        |           i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |         FROM hp),
        | runs AS (SELECT doc_id, min(i) AS start_tok, max(i) + 7 AS end_tok
        |          FROM isl GROUP BY doc_id, grp)
        |SELECT r.doc_id, CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(end_tok - start_tok + 1 AS BIGINT) AS n_tokens,
        |  array_to_string(w[start_tok:end_tok], ' ') AS region
        |FROM runs r JOIN ws USING (doc_id)
        |ORDER BY doc_id, start_tok""".stripMargin) { (s, dir) =>
      Dedup.dupSpanRegions(docsWide(s, dir), "doc_id", "text")
        .orderBy("doc_id", "start_tok")
    },

    // Semantic dedup (Dedup.semanticDedup): k-means blocks, exact-decimal
    // cosine ≥ 0.99 within a block, keep-lowest-id. The synthetic corpus
    // has no natural near-identical pair (max cosine ≈ 0.47), so the gate
    // PLANTS positives the dd10 way: every 25th vector is cloned at
    // id+100000 with +0.001 on each (double-cast) component — cosine with
    // its original ≈ 0.9999, same cluster except at seed boundaries, and
    // both engines construct the identical clone. The removed-id sum pins
    // WHICH vectors were pruned, not just how many.
    QueryDef("dd15_semdedup",
      """WITH emb2 AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |         list_transform(embedding, x -> CAST(x AS DOUBLE) + 0.001) AS v
        |  FROM embeddings WHERE vec_id % 25 = 0),
        | e0 AS (SELECT vec_id, unnest(v) AS rawx,
        |               unnest(range(1, len(v) + 1)) AS i FROM emb2),
        | e AS (SELECT vec_id, i, CAST(rawx AS DECIMAL(12,6)) AS x FROM e0),
        | sid AS (SELECT min(vec_id) AS cid FROM emb2 GROUP BY vec_id % 16),
        | c AS (SELECT e.vec_id AS cid, e.i, e.x AS cx
        |       FROM e JOIN sid ON e.vec_id = sid.cid),
        | d AS (SELECT e.vec_id, c.cid, sum((e.x - c.cx) * (e.x - c.cx)) AS d
        |       FROM e JOIN c ON e.i = c.i GROUP BY 1, 2),
        | a AS (SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        |       FROM d),
        | m AS (SELECT vec_id, cid FROM a WHERE r = 1),
        | nrm AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
        | p AS (SELECT ma.vec_id AS ida, mb.vec_id AS idb
        |       FROM m ma JOIN m mb
        |         ON ma.cid = mb.cid AND ma.vec_id < mb.vec_id),
        | dots AS (SELECT p.ida, p.idb, sum(ea.x * eb.x) AS dot
        |          FROM p JOIN e ea ON ea.vec_id = p.ida
        |                 JOIN e eb ON eb.vec_id = p.idb AND eb.i = ea.i
        |          GROUP BY 1, 2),
        | dup AS (SELECT dt.idb, min(dt.ida) AS dup_of
        |         FROM dots dt JOIN nrm na ON na.vec_id = dt.ida
        |                      JOIN nrm nb ON nb.vec_id = dt.idb
        |         WHERE CAST(dot AS DOUBLE) /
        |               sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)) >= 0.99
        |         GROUP BY dt.idb)
        |SELECT CAST(m.cid AS BIGINT) AS cluster, count(*) AS n_members,
        |  CAST(sum(CASE WHEN dup.idb IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN dup.idb IS NOT NULL THEN m.vec_id END) AS BIGINT) AS removed_id_sum
        |FROM m LEFT JOIN dup ON m.vec_id = dup.idb
        |GROUP BY m.cid ORDER BY cluster""".stripMargin) { (s, dir) =>
      // guardedId: the oracle plants clones at vec_id+100000 (a literal
      // both engines share), sound only while every real id < 100000 —
      // a bigger corpus would silently collide clone ids with real ids
      // in BOTH engines, so fail loudly per-row instead
      val base = embWide(s, dir).select(guardedId(col("vec_id")).as("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val clones = base.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"),
            x => x + lit(0.001)).as("embedding"))
      Dedup.semanticDedup(base.unionAll(clones), 16, 0.99)
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("keep"), 0).otherwise(1)).cast(LongType).as("n_removed"),
          sum(when(!col("keep"), col("vec_id"))).cast(LongType)
            .as("removed_id_sum"))
        .orderBy("cluster")
    },

    // SemDeDup planted-clone recall floor: every vec_id < 200 gets a
    // same-direction clone (×1.001 — cosine exactly 1 ≥ τ) planted at
    // id+100000. A clone can ONLY be missed by landing in a different
    // k-means cell than its original (the boundary-straddle loss the
    // SemDeDup paper accepts), so this row pins that loss: ≥95% of
    // planted clones must be flagged (measured 100% at all three SFs —
    // a ×1.001 scale almost never flips an argmin cell). DuckDB states
    // the planted count from the corpus and the floor flag as a
    // constant; Spark computes both from the actual dedup output, so a
    // blocking regression (bad seeds, broken τ-join) hash-mismatches.
    QueryDef("dd15_recall",
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 200""".stripMargin) { (s, dir) =>
      // same planted-id collision guard as dd15_semdedup above
      val base = embWide(s, dir).select(guardedId(col("vec_id")).as("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val clones = base.filter(col("vec_id") < 200)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001)).as("embedding"))
      Dedup.semanticDedup(base.unionAll(clones), 16, 0.99)
        .filter(col("vec_id") >= 100000)
        .agg(count(lit(1)).cast(LongType).as("n_planted"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("_flagged"))
        .select(col("n_planted"),
          when(col("_flagged") * 100 >= col("n_planted") * 95, 1L)
            .otherwise(0L).as("recall_ok"))
    },

    // The dd15_recall contract replayed through the BIG-CORPUS config:
    // semanticDedup(twoLevelAssign = true) is the switch a 100 TB
    // SemDeDup run must use (exact-decimal assignment is quadratic at
    // k ∝ N — 718.6 s at the 100× rehearsal vs 158.5 s two-level,
    // SCALE.md), and until this row it was the engine's only
    // scale-critical path with no oracle gate. The two-level argmin is
    // approximate for boundary vectors, but a ×1.001 same-direction
    // clone scores every leader and every member seed within 0.2% of
    // its original, so clone/original co-assignment survives the
    // approximation (measured 100% at all three SFs) — the ≥95% floor
    // is the same honest bound dd15_recall pins on the exact path.
    QueryDef("dd18_semdedup_twolevel",
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 200""".stripMargin) { (s, dir) =>
      // same planted-id collision guard as dd15_semdedup above
      val base = embWide(s, dir).select(guardedId(col("vec_id")).as("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val clones = base.filter(col("vec_id") < 200)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001)).as("embedding"))
      Dedup.semanticDedup(base.unionAll(clones), 16, 0.99,
        twoLevelAssign = true)
        .filter(col("vec_id") >= 100000)
        .agg(count(lit(1)).cast(LongType).as("n_planted"),
          sum(when(col("keep"), 0L).otherwise(1L)).as("_flagged"))
        .select(col("n_planted"),
          when(col("_flagged") * 100 >= col("n_planted") * 95, 1L)
            .otherwise(0L).as("recall_ok"))
    },

    // Incremental NEAR-dup screening — the daily-crawl-vs-corpus
    // lifecycle (the dd09 registry pattern lifted from exact hashes to
    // MinHash): the even-doc_id half plays the existing corpus,
    // represented ONLY by its persisted signatures; the odd half plays
    // the new batch. Invariant gate: every batch doc whose text
    // EXACTLY matches a registry doc (≥ shingleN words) must be
    // flagged — identical text ⇒ identical signature ⇒ co-bucket in
    // every band and estimate 1.0, so the floor is certainty, not a
    // tuned recall. The oracle counts the planted truth in SQL;
    // all_flagged pins the coverage.
    QueryDef("dd19_incremental_neardup",
      """WITH reg AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        | batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |           UNION ALL
        |           SELECT doc_id + 10000001 AS doc_id, text FROM documents
        |           WHERE doc_id % 2 = 0 AND doc_id < 40),
        | rt AS (SELECT DISTINCT text FROM reg
        |        WHERE len(string_split(text, ' ')) >= 3)
        |SELECT CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_clones,
        |  CAST(1 AS BIGINT) AS all_flagged
        |FROM batch b JOIN rt ON b.text = rt.text""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val reg = d.filter(col("doc_id") % 2 === 0)
      // the natural odd half PLUS planted re-crawls of 20 registry
      // docs (the parity split alone leaves the truth set empty at the
      // small SFs — planted clones keep the coverage check binding at
      // every SF; id offset clears every natural doc_id)
      val batch = d.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text")
        .unionAll(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
          .select((col("doc_id") + 10000001L).as("doc_id"), col("text")))
      val regSigs = Dedup.minHashSignatures(
        Dedup.shingles(reg, "doc_id", "text", Dedup.ShingleN), "doc_id")
      val flagged = Dedup.incrementalNearDup(batch, regSigs, "doc_id", "text")
        .filter(!col("keep")).select(col("doc_id")).withColumn("_f", lit(1L))
      val clones = batch.select(col("doc_id"), col("text"))
        .join(reg.filter(size(split(col("text"), " ")) >= 3)
          .select("text").distinct(), Seq("text"))
        .select("doc_id").distinct()
      clones.join(flagged, Seq("doc_id"), "left")
        .agg(count(lit(1)).cast(LongType).as("n_clones"),
          coalesce(min(coalesce(col("_f"), lit(0L))), lit(1L))
            .as("all_flagged"))
    },

    // dd19 against the PERSISTED BUCKETED registry — the layout that
    // closes r17's one open scale flank: the registry is written ONCE
    // pre-banded and bucketed BY (band, bucket) (the q42 zero-exchange
    // machinery), so the daily screen's candidate join co-locates with
    // no registry-side exchange and per-batch cost stops carrying the
    // O(registry) re-band-and-shuffle term (207 MB/batch at the 100×
    // rehearsal). Identical truth set and invariant as dd19 — the
    // layout must change the PLAN, never the verdicts.
    QueryDef("dd20_banded_registry_screen",
      """WITH reg AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        | batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |           UNION ALL
        |           SELECT doc_id + 10000001 AS doc_id, text FROM documents
        |           WHERE doc_id % 2 = 0 AND doc_id < 40),
        | rt AS (SELECT DISTINCT text FROM reg
        |        WHERE len(string_split(text, ' ')) >= 3)
        |SELECT CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_clones,
        |  CAST(1 AS BIGINT) AS all_flagged
        |FROM batch b JOIN rt ON b.text = rt.text""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val reg = d.filter(col("doc_id") % 2 === 0)
      val batch = d.filter(col("doc_id") % 2 === 1)
        .select("doc_id", "text")
        .unionAll(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
          .select((col("doc_id") + 10000001L).as("doc_id"), col("text")))
      val regSigs = Dedup.minHashSignatures(
        Dedup.shingles(reg, "doc_id", "text", Dedup.ShingleN), "doc_id")
      withGateWork(s, "dd20", dir) { work =>
        val tbl = graft.streaming.StreamingJobs.registryTable(work)
        Dedup.writeBandedRegistry(regSigs, "doc_id", tbl, work,
          numBuckets = 16)
        val flagged = Dedup.incrementalNearDupBanded(batch,
          s.table(tbl).select("doc_id", "band", "bucket", "sig"),
          "doc_id", "text")
          .filter(!col("keep")).select(col("doc_id")).withColumn("_f", lit(1L))
        val clones = batch.select(col("doc_id"), col("text"))
          .join(reg.filter(size(split(col("text"), " ")) >= 3)
            .select("text").distinct(), Seq("text"))
          .select("doc_id").distinct()
        clones.join(flagged, Seq("doc_id"), "left")
          .agg(count(lit(1)).cast(LongType).as("n_clones"),
            coalesce(min(coalesce(col("_f"), lit(0L))), lit(1L))
              .as("all_flagged"))
      }
    },

    // Registry COMPACTION — the maintenance op a long-running screen
    // needs: the registry accrues one partition per micro-batch
    // (listing cost ∝ batch count, content ∝ survivors);
    // compactRegistry folds every batch partition into ONE (published
    // over the registry, at-rest contract) with identical screening
    // semantics. Gate: the corpus enters as batch 0, compacts to a
    // single partition, and dd19's truth set must flag identically
    // against the compacted registry.
    QueryDef("dd21_registry_compact",
      """WITH reg AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        | batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |           UNION ALL
        |           SELECT doc_id + 10000001 AS doc_id, text FROM documents
        |           WHERE doc_id % 2 = 0 AND doc_id < 40),
        | rt AS (SELECT DISTINCT text FROM reg
        |        WHERE len(string_split(text, ' ')) >= 3)
        |SELECT CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_clones,
        |  CAST(1 AS BIGINT) AS all_flagged,
        |  CAST(1 AS BIGINT) AS compact_ok
        |FROM batch b JOIN rt ON b.text = rt.text""".stripMargin) { (s, dir) =>
      withGateWork(s, "dd21", dir) { work =>
        val d = docs(s, dir)
        val reg = d.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        val batch = d.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text")
          .unionAll(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
            .select((col("doc_id") + 10000001L).as("doc_id"), col("text")))
        graft.streaming.StreamingJobs.screenBatch(reg, 0L, work, 16)
        graft.streaming.StreamingJobs.compactRegistry(s, work)
        // exactly one partition after compaction (checked BEFORE batch 1
        // appends its own)
        val nParts = batchParts(s, s"$work/registry")
        graft.streaming.StreamingJobs.screenBatch(batch, 1L, work, 16)
        val flagged = s.read.parquet(s"$work/verdicts/batch=1")
          .filter(!col("keep")).select(col("doc_id")).withColumn("_f", lit(1L))
        val clones = batch.select(col("doc_id"), col("text"))
          .join(reg.filter(size(split(col("text"), " ")) >= 3)
            .select("text").distinct(), Seq("text"))
          .select("doc_id").distinct()
        clones.join(flagged, Seq("doc_id"), "left")
          .agg(count(lit(1)).cast(LongType).as("n_clones"),
            coalesce(min(coalesce(col("_f"), lit(0L))), lit(1L))
              .as("all_flagged"))
          .select(col("n_clones"), col("all_flagged"),
            lit(if (nParts == 1) 1L else 0L).as("compact_ok"))
      }
    },

    // Registry DELETION — the right-to-be-forgotten arm dd21's fold
    // machinery was built to carry: deleteFromRegistry folds the banded
    // registry MINUS a tombstone id set (broadcast anti-join inside the
    // same publish), so a doc whose ONLY match was a
    // deleted registry doc stops being flagged — dd19's planted-
    // re-crawl pattern INVERTED. Twenty synthetic docs (nonsense
    // tokens, zero shingle overlap with the corpus) register alongside
    // the even half, are tombstoned, and their re-crawls must all PASS
    // while dd19's natural planted clones (whose registry docs
    // survive) must all still flag.
    QueryDef("dd22_registry_delete",
      """WITH reg AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        | batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |           UNION ALL
        |           SELECT doc_id + 10000001 AS doc_id, text FROM documents
        |           WHERE doc_id % 2 = 0 AND doc_id < 40),
        | rt AS (SELECT DISTINCT text FROM reg
        |        WHERE len(string_split(text, ' ')) >= 3)
        |SELECT CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_clones,
        |  CAST(1 AS BIGINT) AS all_flagged,
        |  CAST(20 AS BIGINT) AS n_tomb,
        |  CAST(1 AS BIGINT) AS tomb_kept
        |FROM batch b JOIN rt ON b.text = rt.text""".stripMargin) { (s, dir) =>
      withGateWork(s, "dd22", dir) { work =>
        val d = docs(s, dir)
        val reg = d.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        // synthetic tombstone targets: unique nonsense tokens — no
        // shingle overlap with the corpus, so after deletion their
        // re-crawls share no signature components with any survivor
        val tomb = s.range(1, 21).select(
          (col("id") + 20000000L).as("doc_id"),
          concat_ws(" ", (1 to 6).map(j =>
            concat(lit("zzq"), col("id"), lit(s"x$j"))): _*).as("text"))
        graft.streaming.StreamingJobs.screenBatch(reg.unionAll(tomb), 0L, work, 16)
        graft.streaming.StreamingJobs.deleteFromRegistry(s, work,
          tomb.select("doc_id"))
        val batch = d.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text")
          .unionAll(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
            .select((col("doc_id") + 10000001L).as("doc_id"), col("text")))
          .unionAll(tomb.select((col("doc_id") + 10000000L).as("doc_id"),
            col("text")))
        graft.streaming.StreamingJobs.screenBatch(batch, 1L, work, 16)
        val verd = s.read.parquet(s"$work/verdicts/batch=1")
        val flagged = verd.filter(!col("keep")).select(col("doc_id"))
          .withColumn("_f", lit(1L))
        val clones = batch.filter(col("doc_id") < 30000000L)
          .select(col("doc_id"), col("text"))
          .join(reg.filter(size(split(col("text"), " ")) >= 3)
            .select("text").distinct(), Seq("text"))
          .select("doc_id").distinct()
        val natural = clones.join(flagged, Seq("doc_id"), "left")
          .agg(count(lit(1)).cast(LongType).as("n_clones"),
            coalesce(min(coalesce(col("_f"), lit(0L))), lit(1L))
              .as("all_flagged"))
        val tombRows = verd.filter(col("doc_id") > 30000000L)
          .agg(count(lit(1)).cast(LongType).as("n_tomb"),
            min(when(col("keep"), 1L).otherwise(0L)).as("tomb_kept"))
        natural.crossJoin(broadcast(tombRows))
      }
    },

    // Registry RETENTION — the TTL arm: compactRegistry(retainIngestSince)
    // drops rows below an ingest-batch horizon during the fold it
    // already performs, keyed on the ingest_batch DATA column (which
    // survives a prior fold's partition re-keying — the gate folds
    // TWICE to prove it). Twenty synthetic docs ingest at batch 0, the
    // even half at batch 1; after a plain fold + a retain-since-1 fold
    // the aged set's re-crawls must all PASS while dd19's natural
    // clones (in-window registry) must all still flag.
    QueryDef("dd23_registry_retention",
      """WITH reg AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        | batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |           UNION ALL
        |           SELECT doc_id + 10000001 AS doc_id, text FROM documents
        |           WHERE doc_id % 2 = 0 AND doc_id < 40),
        | rt AS (SELECT DISTINCT text FROM reg
        |        WHERE len(string_split(text, ' ')) >= 3)
        |SELECT CAST(count(DISTINCT b.doc_id) AS BIGINT) AS n_clones,
        |  CAST(1 AS BIGINT) AS all_flagged,
        |  CAST(20 AS BIGINT) AS n_aged,
        |  CAST(1 AS BIGINT) AS aged_kept,
        |  CAST(1 AS BIGINT) AS one_part
        |FROM batch b JOIN rt ON b.text = rt.text""".stripMargin) { (s, dir) =>
      withGateWork(s, "dd23", dir) { work =>
        val d = docs(s, dir)
        val aged = s.range(1, 21).select(
          (col("id") + 20000000L).as("doc_id"),
          concat_ws(" ", (1 to 6).map(j =>
            concat(lit("zzq"), col("id"), lit(s"x$j"))): _*).as("text"))
        val reg = d.filter(col("doc_id") % 2 === 0).select("doc_id", "text")
        graft.streaming.StreamingJobs.screenBatch(aged, 0L, work, 16)
        graft.streaming.StreamingJobs.screenBatch(reg, 1L, work, 16)
        // plain fold FIRST: re-keys every partition to batch=1 — the
        // retention fold must then age by ingest provenance, not by the
        // re-keyed partition
        graft.streaming.StreamingJobs.compactRegistry(s, work)
        graft.streaming.StreamingJobs.compactRegistry(s, work,
          retainIngestSince = 1L)
        val nParts = batchParts(s, s"$work/registry")
        val batch = d.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text")
          .unionAll(d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
            .select((col("doc_id") + 10000001L).as("doc_id"), col("text")))
          .unionAll(aged.select((col("doc_id") + 10000000L).as("doc_id"),
            col("text")))
        graft.streaming.StreamingJobs.screenBatch(batch, 2L, work, 16)
        val verd = s.read.parquet(s"$work/verdicts/batch=2")
        val flagged = verd.filter(!col("keep")).select(col("doc_id"))
          .withColumn("_f", lit(1L))
        val clones = batch.filter(col("doc_id") < 30000000L)
          .select(col("doc_id"), col("text"))
          .join(reg.filter(size(split(col("text"), " ")) >= 3)
            .select("text").distinct(), Seq("text"))
          .select("doc_id").distinct()
        val natural = clones.join(flagged, Seq("doc_id"), "left")
          .agg(count(lit(1)).cast(LongType).as("n_clones"),
            coalesce(min(coalesce(col("_f"), lit(0L))), lit(1L))
              .as("all_flagged"))
        val agedRows = verd.filter(col("doc_id") > 30000000L)
          .agg(count(lit(1)).cast(LongType).as("n_aged"),
            min(when(col("keep"), 1L).otherwise(0L)).as("aged_kept"))
        natural.crossJoin(broadcast(agedRows))
          .select(col("n_clones"), col("all_flagged"), col("n_aged"),
            col("aged_kept"), lit(if (nParts == 1) 1L else 0L).as("one_part"))
      }
    },

    // ================= text analysis =================

    QueryDef("ta01_term_freq",
      """SELECT tok, count(*) AS n FROM
        |  (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 30""".stripMargin) { (s, dir) =>
      TextAnalysis.termFrequencies(docs(s, dir), "doc_id", "text", 30)
    },

    QueryDef("ta02_doc_stats",
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS avg_token_len,
        |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS distinct_ratio
        |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.docStats(docs(s, dir), "doc_id", "text").orderBy("doc_id")
    },

    QueryDef("ta03_lang_stats",
      """SELECT lang, source, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin) { (s, dir) =>
      docs(s, dir).groupBy("lang", "source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
        .orderBy("lang", "source")
    },

    QueryDef("ta04_langid_en",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS BIGINT) AS stop_hits,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS stop_ratio,
        |  CASE WHEN CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) >= 0.08 THEN 1 ELSE 0 END AS is_lang
        |FROM t ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.languageScore(docs(s, dir), "doc_id", "text", "en")
        .orderBy("doc_id")
    },

    QueryDef("ta05_fingerprint",
      """WITH t AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(sum(ord(text[i]) * ((i - 1) % 64 + 1)) AS BIGINT) AS fp
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.fingerprint(docs(s, dir), "doc_id", "text").orderBy("doc_id")
    },

    // Composite quality scoring (stopword/length/punctuation signals →
    // one keep/drop decision per doc) — the corpus-filtering stage of a
    // training-data pipeline, bit-identical across engines.
    QueryDef("ta07_quality_score",
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        | f AS (SELECT doc_id,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE) AS stop_ratio,
        |   CASE WHEN length(text) > 0 THEN
        |     CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |       / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio
        | FROM t)
        |SELECT doc_id, n_tokens, stop_ratio, punct_ratio,
        |  0.5 * least(stop_ratio / 0.08, 1.0)
        |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |    + 0.2 * (1.0 - least(punct_ratio / 0.2, 1.0)) AS quality,
        |  CASE WHEN 0.5 * least(stop_ratio / 0.08, 1.0)
        |    + 0.3 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |    + 0.2 * (1.0 - least(punct_ratio / 0.2, 1.0)) >= 0.5 THEN 1 ELSE 0 END AS keep
        |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.qualityScore(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // BPE-ish subword token counting: tokens = letter runs, digit runs,
    // or single other non-space chars (the pre-tokenization regex shape
    // BPE vocabularies train over), via regexp_extract_all — identical
    // RE2/Java semantics for this pattern class.
    QueryDef("ta06_bpe_tokens",
      """SELECT tok, count(*) AS n FROM (
        |  SELECT unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS tok
        |  FROM documents) t
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 40""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(explode(regexp_extract_all(col("text"),
          lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok")).limit(40)
    },

    // PII redaction — the corpus-scrubbing stage: render support-ticket
    // text carrying a real email + TPC-H phone per customer, mask
    // email/phone/IP spans to fixed tokens, hash-match the redacted
    // strings. The pattern set is restricted to the Java≡RE2 regex
    // subset so the identical pattern text runs in DuckDB.
    QueryDef("ta09_pii_redaction",
      """SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    concat('contact ', c_name, ' at ',
        |           lower(replace(c_name, ' ', '.')), '@example.com or ',
        |           CAST(10 + c_custkey % 90 AS VARCHAR), '-',
        |           CAST(100 + c_custkey % 900 AS VARCHAR), '-',
        |           CAST(100 + (c_custkey * 7) % 900 AS VARCHAR), '-',
        |           CAST(1000 + (c_custkey * 13) % 9000 AS VARCHAR),
        |           ' (last login 10.0.', CAST(c_custkey % 256 AS VARCHAR), '.7)'),
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      // the testdata customer table carries no phone column — derive a
      // well-formed one from the key, identically in the oracle
      val k = col("c_custkey")
      val ticket = concat(lit("contact "), col("c_name"), lit(" at "),
        lower(translate(col("c_name"), " ", ".")), lit("@example.com or "),
        (k % 90 + 10).cast(StringType), lit("-"),
        (k % 900 + 100).cast(StringType), lit("-"),
        ((k * 7) % 900 + 100).cast(StringType), lit("-"),
        ((k * 13) % 9000 + 1000).cast(StringType),
        lit(" (last login 10.0."), (k % 256).cast(StringType), lit(".7)"))
      Tables.load(s, dir, "customer")
        .select(col("c_custkey"),
          TextAnalysis.redactPii(ticket).as("redacted"))
        .orderBy("c_custkey")
    },

    // Token-budget sharding (sequence packing): documents in id order
    // packed into ≤2000-token shards via a DISTRIBUTED prefix sum (see
    // TextAnalysis.tokenShards — no global single-partition window).
    // The oracle computes the same assignment with a plain global
    // running sum; per-shard rollup hash-matches.
    QueryDef("ta10_token_shards",
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
        | c AS (SELECT doc_id, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |       FROM t)
        |SELECT CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      TextAnalysis.tokenShards(docs(s, dir), "doc_id", "text", budget = 2000L)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).cast(LongType).as("total_tokens"),
          min(col("doc_id")).cast(LongType).as("first_doc"),
          max(col("doc_id")).cast(LongType).as("last_doc"))
        .orderBy("shard")
    },

    // GPT-style sequence packing (TextAnalysis.packSequences): the
    // corpus as one contiguous token stream cut into exactly-full
    // 512-token sequences, docs SPLIT across cuts — the pretraining
    // data-loader layout ta10's whole-doc sharding can't express.
    // Full row-for-row oracle: DuckDB replays the same global cumsum +
    // span arithmetic; any prefix-sum, boundary or off-by-one slip in
    // the distributed two-level formulation hash-mismatches.
    QueryDef("ta19_sequence_packing",
      """WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM documents),
        | c AS (SELECT doc_id, n,
        |         CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
        |              AS BIGINT) AS s
        |       FROM t),
        | e AS (SELECT doc_id, n, s,
        |         unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS seq_id
        |       FROM c)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(greatest(s, seq_id * 512) - seq_id * 512 AS BIGINT) AS seq_offset,
        |  CAST(greatest(s, seq_id * 512) - s AS BIGINT) AS tok_start,
        |  CAST(least(s + n, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS BIGINT) AS n_span
        |FROM e ORDER BY doc_id, seq_id""".stripMargin) { (s, dir) =>
      TextAnalysis.packSequences(docs(s, dir), "doc_id", "text", seqLen = 512L)
        .orderBy("doc_id", "seq_id")
    },

    // CCNet-style perplexity bucketing: rank the corpus by ta14's
    // bigram-LM fluency score, cut into head/middle/tail GLOBAL-RANK
    // terciles, and report each bucket's language composition — the
    // quality split whose per-bucket sampling rates drive web-corpus
    // curation. Bucket = ((rank−1)·3) div N is pure integer arithmetic
    // on an engine-identical ordering (the scores hash-match in ta14,
    // ties break by doc_id); the Spark rank is the ta19 two-level
    // prefix sum, never a corpus-wide single-task window — PlanSpec
    // pins that shape.
    QueryDef("ta20_perplexity_buckets",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        | bg0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
        | bg AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg,
        |               ws[i] AS w1 FROM bg0),
        | cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        | cc AS (SELECT w1, count(*) AS cc FROM bg GROUP BY w1),
        | lp AS (SELECT bg.doc_id,
        |          CAST(ln(CAST(cb.cb AS DOUBLE) / CAST(cc.cc AS DOUBLE))
        |               AS DECIMAL(18,6)) AS q
        |        FROM bg JOIN cb USING (bg) JOIN cc USING (w1)),
        | sc AS (SELECT doc_id, CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS s
        |        FROM lp GROUP BY doc_id),
        | r AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rk,
        |              count(*) OVER () AS n FROM sc),
        | b AS (SELECT doc_id, CASE ((rk - 1) * 3) // n WHEN 0 THEN 'head'
        |              WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket FROM r)
        |SELECT bucket, lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM b JOIN documents USING (doc_id)
        |GROUP BY bucket, lang ORDER BY bucket, lang""".stripMargin) { (s, dir) =>
      val buckets = TextAnalysis
        .perplexityBuckets(docsWide(s, dir), "doc_id", "text")
      val lbl = when(col("bucket") === 0, "head")
        .when(col("bucket") === 1, "middle").otherwise("tail")
      buckets
        .join(docs(s, dir).select("doc_id", "lang", "n_chars"), "doc_id")
        .select(lbl.as("bucket"), col("lang"), col("n_chars"))
        .groupBy("bucket", "lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast(LongType).as("total_chars"))
        .orderBy("bucket", "lang")
    },

    // PMI collocations (Church & Hanks): the multi-word-expression
    // extractor — supported bigrams ranked by ln(P(w1,w2)/(P(w1)P(w2))).
    // The PMI operand is ONE double expression over exact bigint counts
    // with identical association order in both engines; ln's
    // libm-specific last ulp is absorbed by DECIMAL(18,6) quantization
    // (the ta14 discipline).
    QueryDef("ta21_pmi_collocations",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        | bg0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
        | bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM bg0),
        | uni AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        | uc AS (SELECT tok, count(*) AS cnt FROM uni GROUP BY tok),
        | tot AS (SELECT (SELECT count(*) FROM bg) AS b_total,
        |                (SELECT count(*) FROM uni) AS n_total),
        | sup AS (SELECT w1, w2, count(*) AS nab FROM bg
        |         GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT w1, w2, nab,
        |  CAST(CAST(ln(CAST(nab AS DOUBLE) * n_total * n_total /
        |         (CAST(na.cnt AS DOUBLE) * nb.cnt * b_total))
        |       AS DECIMAL(18,6)) AS DOUBLE) AS pmi
        |FROM sup JOIN uc na ON na.tok = w1 JOIN uc nb ON nb.tok = w2
        |CROSS JOIN tot
        |ORDER BY pmi DESC, w1, w2 LIMIT 30""".stripMargin) { (s, dir) =>
      TextAnalysis.pmiCollocations(docsWide(s, dir), "doc_id", "text",
        minCount = 5, topN = 30)
    },

    // Zipf's-law fit: least-squares slope/intercept of ln(freq) on
    // ln(rank) over the top-1000 vocabulary terms — the corpus-level
    // "does this look like natural language" screen (natural text ≈ −1;
    // template/log spam diverges). Term counting is the only
    // corpus-sized stage; the rank window covers 1000
    // already-TakeOrdered rows. Each ln() quantizes to DECIMAL(12,6)
    // (ta08 pattern), moments are exact decimal sums, and the closing
    // slope arithmetic is the same IEEE op chain in both engines.
    QueryDef("ta22_zipf_fit",
      """WITH tf AS (SELECT tok, count(*) AS n FROM
        |    (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY tok),
        | top AS (SELECT tok, n FROM tf ORDER BY n DESC, tok LIMIT 1000),
        | rk AS (SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS r
        |        FROM top),
        | q AS (SELECT CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(12,6)) AS x,
        |              CAST(ln(CAST(n AS DOUBLE)) AS DECIMAL(12,6)) AS y
        |       FROM rk),
        | m AS (SELECT count(*) AS k,
        |         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |         CAST(sum(x * x) AS DOUBLE) AS sxx,
        |         CAST(sum(x * y) AS DOUBLE) AS sxy FROM q)
        |SELECT CAST(k AS BIGINT) AS n_terms,
        |  (CAST(k AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(k AS DOUBLE) * sxx - sx * sx) AS slope,
        |  (sy - (CAST(k AS DOUBLE) * sxy - sx * sy)
        |          / (CAST(k AS DOUBLE) * sxx - sx * sx) * sx)
        |    / CAST(k AS DOUBLE) AS intercept
        |FROM m""".stripMargin) { (s, dir) =>
      TextAnalysis.zipfFit(docsWide(s, dir), "doc_id", "text")
    },

    // Per-language unigram diversity: token/type/hapax counts and
    // Shannon entropy of the token distribution — the lexical-diversity
    // curation signal. Each p·ln p term quantizes to DECIMAL(18,6)
    // before the per-slice sum (the dq06 libm discipline); totals ride
    // a broadcast back onto the term table, never a second corpus scan.
    QueryDef("ta23_entropy",
      """WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
        |           FROM documents),
        | c AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2),
        | n AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n,
        |         count(*) AS types,
        |         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |           AS hapax
        |       FROM c GROUP BY 1),
        | e AS (SELECT c.lang,
        |         CAST((CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE)) *
        |              ln(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |              AS DECIMAL(18,6)) AS term
        |       FROM c JOIN n ON n.lang = c.lang),
        | h AS (SELECT lang, sum(term) AS s FROM e GROUP BY 1)
        |SELECT n.lang, n.n AS n_tokens, CAST(n.types AS BIGINT) AS n_types,
        |  n.hapax AS hapax_types,
        |  CAST(n.hapax AS DOUBLE) / CAST(n.types AS DOUBLE) AS hapax_share,
        |  -CAST(h.s AS DOUBLE) AS entropy
        |FROM n JOIN h ON h.lang = n.lang ORDER BY n.lang""".stripMargin) { (s, dir) =>
      TextAnalysis.sliceEntropy(docsWide(s, dir), "lang", "text")
        .withColumnRenamed("slice", "lang")
        .orderBy("lang")
    },

    // BPE merge-table training (3 rounds) over the word-type histogram
    // — the tokenizer-artifact pass of a training-data pipeline. Each
    // round's winner depends on the previous round's rewrite having
    // been applied corpus-wide, so the 3-row merge table pins the
    // whole chain; the oracle unrolls the identical rounds with the
    // parity-merge formulation (see bpeOracleSql).
    QueryDef("ta24_bpe_train", bpeOracleSql(3)) { (s, dir) =>
      TextAnalysis.bpeMerges(docsWide(s, dir), "text", rounds = 3)
    },

    // BPE train → ENCODE composition: ta24's learned merge table is
    // APPLIED back to the corpus — tokens/doc under the trained
    // vocabulary, the step that turns the shipped artifact into a
    // pipeline. The oracle unrolls the identical 3 training rounds one
    // rewrite further (to the final symbol table) and re-derives every
    // document's token count from it, so a drift in the training
    // winners, the greedy rewrite, or the encode join all break the
    // hash. Docs with no words keep a zero row.
    QueryDef("ta27_bpe_encode", bpeEncodeOracleSql(3)) { (s, dir) =>
      val m = TextAnalysis.bpeMerges(docsWide(s, dir), "text", rounds = 3)
      TextAnalysis.bpeEncode(docs(s, dir), "doc_id", "text", m)
        .select(col("doc_id").cast(LongType).as("doc_id"),
          col("n_words"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // Multi-language identification (Cavnar–Trenkle out-of-place
    // distance over character trigrams — the real first filter of a
    // pretraining pipeline, vs ta04's single-language stopword
    // heuristic): planted docs in all six profiled languages ride
    // along with a corpus slice, and the oracle replays the ENTIRE
    // method (normalize → trigrams → doc profile ranks → out-of-place
    // distance against the same literal profile table → argmin) for a
    // full row hash-match; CurationOpsSpec separately asserts every
    // planted doc classifies to its true language.
    QueryDef("ta26_langid_multi", lidOracleSql) { (s, dir) =>
      import s.implicits._
      val planted = LidPlantedDocs.map { case (id, _, t) => (id, t) }
        .toDF("doc_id", "text")
      val corp = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      TextAnalysis.languageIdentify(planted.unionAll(corp),
          "doc_id", "text")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("language"),
          col("distance"), col("n_grams"), col("confidence"))
        .orderBy("doc_id")
    },

    // Script composition (writing-system routing): Latin/CJK/digit
    // char-class counts + ratios + a dominant label per doc — the
    // check that runs BEFORE ta26 (trigram LID assumes a
    // space-delimited Latin script; a mostly-CJK doc routes
    // elsewhere). Planted docs cover pure-CJK, pure-Latin, mixed,
    // digit-only, empty and whitespace-only; char classes are pure
    // codepoint ranges, exact in both engines. Scan-fused narrow
    // projection, zero shuffle.
    QueryDef("ta28_script_mix", scriptOracleSql) { (s, dir) =>
      import s.implicits._
      val planted = ScriptPlantedDocs.toDF("doc_id", "text")
      val corp = docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text"))
      TextAnalysis.scriptProfile(planted.unionAll(corp), "doc_id", "text")
        .select(col("doc_id").cast(LongType).as("doc_id"), col("n_chars"),
          col("n_latin"), col("n_cjk"), col("n_digit"), col("n_other"),
          col("latin_ratio"), col("cjk_ratio"), col("digit_ratio"),
          col("dominant"))
        .orderBy("doc_id")
    },

    // Repetition-based quality filters (the Gopher/C4 degenerate-text
    // family): top-token share + duplicate 2/3-gram fractions, all
    // scan-fused per-row array math on the Spark side (sorted-array
    // fold for the top-token run — no corpus-wide explode shuffle); the
    // oracle recomputes via explode+group, proving the fold. Integer
    // ratios divide exactly → bit-identical doubles.
    QueryDef("ta11_repetition",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | tok AS (SELECT doc_id, unnest(ws) AS tok FROM d),
        | tc AS (SELECT doc_id, tok, count(*) AS n FROM tok GROUP BY 1, 2),
        | top AS (SELECT doc_id, max(n) AS topn, sum(n) AS tot FROM tc GROUP BY 1),
        | sh2 AS (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM d WHERE len(ws) >= 2),
        | g2 AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g FROM sh2),
        | a2 AS (SELECT doc_id, count(*) AS tot, count(DISTINCT g) AS dis FROM g2 GROUP BY 1),
        | sh3 AS (SELECT doc_id, unnest(range(1, len(ws) - 1)) AS i, ws FROM d WHERE len(ws) >= 3),
        | g3 AS (SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS g FROM sh3),
        | a3 AS (SELECT doc_id, count(*) AS tot, count(DISTINCT g) AS dis FROM g3 GROUP BY 1)
        |SELECT t.doc_id,
        |  CAST(t.topn AS DOUBLE) / CAST(t.tot AS DOUBLE) AS top_token_frac,
        |  CASE WHEN a2.tot > 0 THEN CAST(a2.tot - a2.dis AS DOUBLE) / CAST(a2.tot AS DOUBLE)
        |       ELSE 0.0 END AS dup_2gram_frac,
        |  CASE WHEN a3.tot > 0 THEN CAST(a3.tot - a3.dis AS DOUBLE) / CAST(a3.tot AS DOUBLE)
        |       ELSE 0.0 END AS dup_3gram_frac
        |FROM top t LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.repetitionStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Composed curation cascade (C4-shape): the four filter signals
    // ta04/ta07/ta11 gate individually, fused into ONE zero-shuffle
    // pass with per-document reason codes — first failing filter in
    // fixed priority order labels the doc. Cutoffs populate all five
    // classes at the gate SF (keep/lang/short/repeat/low =
    // 316/104/43/24/13), so a drift in ANY signal or in the precedence
    // logic moves docs across classes and breaks the hash.
    QueryDef("ta25_curation",
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        | f AS (SELECT doc_id,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE) AS stop_ratio,
        |   CASE WHEN length(text) > 0 THEN
        |     CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |       / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio
        | FROM t),
        | d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | sh2 AS (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM d WHERE len(ws) >= 2),
        | g2 AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g FROM sh2),
        | a2 AS (SELECT doc_id, CAST(count(*) - count(DISTINCT g) AS DOUBLE)
        |          / CAST(count(*) AS DOUBLE) AS dup2 FROM g2 GROUP BY 1),
        | j AS (SELECT f.doc_id, f.n_tokens, f.stop_ratio,
        |         coalesce(a2.dup2, 0.0) AS dup_2gram_frac,
        |         0.5 * least(f.stop_ratio / 0.08, 1.0)
        |           + 0.3 * least(CAST(f.n_tokens AS DOUBLE) / 100.0, 1.0)
        |           + 0.2 * (1.0 - least(f.punct_ratio / 0.2, 1.0)) AS quality
        |       FROM f LEFT JOIN a2 USING (doc_id))
        |SELECT doc_id, n_tokens, stop_ratio, dup_2gram_frac, quality,
        |  CASE WHEN n_tokens < 20 THEN 'too_short'
        |       WHEN stop_ratio < 0.04 THEN 'non_target_lang'
        |       WHEN dup_2gram_frac > 0.08 THEN 'repetitive'
        |       WHEN quality < 0.6 THEN 'low_quality'
        |       ELSE 'keep' END AS verdict
        |FROM j ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.curationReport(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // END-TO-END CURATION COMPOSITION — the five stages every
    // training-data pipeline chains, composed in ONE gate so the
    // operators are proven to compose, not just to pass alone:
    // ta25 quality-filter (verdict = keep) → dd08 near-dup clustering
    // over the kept docs, min-id survivor per cluster → dd11
    // decontamination against the % 50 == 0 holdout → sp05 md5-band
    // split, train band only → ta19 packing at 512 tokens. The oracle
    // replays the WHOLE chain as one SQL text (the five gates' CTEs
    // concatenated over the shrinking doc set) and the output is the
    // full packed-sequence table — a row-for-row hash, so a drift in
    // ANY stage (a verdict flip, a lost cluster member, a missed
    // contamination hit, a band boundary, a pack offset) breaks it.
    // PlanSpec pins the post-clustering tail to a bounded exchange
    // count (the stages hand off without gratuitous re-shuffles; the
    // CC stage is iterative by design and runs its own jobs).
    QueryDef("cu01_curation_pipeline",
      """WITH RECURSIVE
        | t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
        | f AS (SELECT doc_id,
        |   CAST(len(toks) AS BIGINT) AS n_tokens,
        |   CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','to','in','is'], x))) AS DOUBLE)
        |     / CAST(len(toks) AS DOUBLE) AS stop_ratio,
        |   CASE WHEN length(text) > 0 THEN
        |     CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
        |       / CAST(length(text) AS DOUBLE) ELSE 0.0 END AS punct_ratio
        | FROM t),
        | d0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | s2 AS (SELECT doc_id, unnest(range(1, len(ws))) AS i, ws FROM d0 WHERE len(ws) >= 2),
        | g2 AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g FROM s2),
        | a2 AS (SELECT doc_id, CAST(count(*) - count(DISTINCT g) AS DOUBLE)
        |          / CAST(count(*) AS DOUBLE) AS dup2 FROM g2 GROUP BY 1),
        | jq AS (SELECT f.doc_id, f.n_tokens, f.stop_ratio,
        |         coalesce(a2.dup2, 0.0) AS dup_2gram_frac,
        |         0.5 * least(f.stop_ratio / 0.08, 1.0)
        |           + 0.3 * least(CAST(f.n_tokens AS DOUBLE) / 100.0, 1.0)
        |           + 0.2 * (1.0 - least(f.punct_ratio / 0.2, 1.0)) AS quality
        |       FROM f LEFT JOIN a2 USING (doc_id)),
        | kd AS (SELECT d.doc_id, d.text FROM documents d JOIN jq USING (doc_id)
        |        WHERE jq.n_tokens >= 20 AND jq.stop_ratio >= 0.04
        |          AND jq.dup_2gram_frac <= 0.08 AND jq.quality >= 0.6),
        | w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kd
        |           WHERE len(string_split(text, ' ')) >= 3),
        | sh0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i FROM w),
        | sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle FROM sh0),
        | sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        | pairs AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
        |           FROM sh a JOIN sh b USING (shingle)
        |           WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
        | j AS (SELECT da, db FROM pairs
        |       JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
        |       WHERE CAST(inter AS DOUBLE) / CAST(sa.n + sb.n - inter AS DOUBLE) >= 0.5),
        | e AS (SELECT da AS src, db AS dst FROM j UNION ALL SELECT db, da FROM j),
        | cc AS (
        |   SELECT src AS id, src AS label FROM e
        |   UNION
        |   SELECT e.dst, cc.label FROM cc JOIN e ON cc.id = e.src WHERE cc.label < e.dst
        | ),
        | cl AS (SELECT id AS doc_id, CAST(min(label) AS BIGINT) AS cluster
        |        FROM cc GROUP BY id),
        | surv AS (SELECT kd.doc_id, kd.text FROM kd LEFT JOIN cl USING (doc_id)
        |          WHERE cl.cluster IS NULL OR cl.cluster = kd.doc_id),
        | w5 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM surv
        |        WHERE doc_id % 50 <> 0
        |          AND len(string_split(text, ' ')) >= 5),
        | st5 AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS shingle
        |         FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i FROM w5) x),
        | hw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |        WHERE doc_id % 50 = 0 AND len(string_split(text, ' ')) >= 5),
        | hold AS (SELECT DISTINCT array_to_string(ws[i:i+4], ' ') AS shingle
        |          FROM (SELECT ws, unnest(range(1, len(ws) - 3)) AS i FROM hw) y),
        | hit AS (SELECT DISTINCT st5.doc_id FROM st5 JOIN hold USING (shingle)),
        | clean AS (SELECT doc_id, text FROM surv
        |           WHERE doc_id % 50 <> 0
        |             AND doc_id NOT IN (SELECT doc_id FROM hit)),
        | tr AS (SELECT doc_id, text FROM clean
        |        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f5'),
        | tt AS (SELECT doc_id, len(string_split(text, ' ')) AS n FROM tr),
        | c AS (SELECT doc_id, n,
        |         CAST(sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
        |              AS BIGINT) AS s
        |       FROM tt),
        | ee AS (SELECT doc_id, n, s,
        |         unnest(range(s // 512, (s + n - 1) // 512 + 1)) AS seq_id
        |       FROM c)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        |  CAST(greatest(s, seq_id * 512) - seq_id * 512 AS BIGINT) AS seq_offset,
        |  CAST(greatest(s, seq_id * 512) - s AS BIGINT) AS tok_start,
        |  CAST(least(s + n, (seq_id + 1) * 512) - greatest(s, seq_id * 512) AS BIGINT) AS n_span
        |FROM ee ORDER BY doc_id, seq_id""".stripMargin) { (s, dir) =>
      val d = docsWide(s, dir)
      val kept = d.join(TextAnalysis.curationReport(d, "doc_id", "text")
          .filter(col("verdict") === "keep").select("doc_id"), Seq("doc_id"))
        .select("doc_id", "text")
      val edges = Dedup.jaccardPairs(kept, "doc_id", "text",
          maxPosting = Int.MaxValue)
        .filter(col("jac") >= 0.5)
        .select(col("da").as("src"), col("db").as("dst"))
      val losers = Dedup.connectedComponents(edges)
        .filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id"))
      val surv = kept.join(losers, Seq("doc_id"), "left_anti")
      val candidates = surv.filter(col("doc_id") % 50 =!= 0)
      val hits = Dedup.contaminationHits(candidates,
        d.filter(col("doc_id") % 50 === 0), "doc_id", "text")
      val train = candidates
        .join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("split",
          graft.operators.Sampling.assignSplit(col("doc_id")))
        .filter(col("split") === "train")
        .select("doc_id", "text")
      TextAnalysis.packSequences(train, "doc_id", "text", seqLen = 512L)
        .orderBy("doc_id", "seq_id")
    },

    // Winnowing fingerprints (MOSS): per-window minimum of md5 3-gram
    // hashes, window 4 — any ≥6-token overlap between docs shares a
    // fingerprint. Spark side is scan-fused HOF array math; the oracle
    // rebuilds the same selection with explode + a ROWS-frame window
    // min, proving the in-array formulation. md5 keeps the hash values
    // engine-identical.
    QueryDef("ta12_winnow",
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        | gr AS (SELECT doc_id, i, md5(array_to_string(ws[i:i+2], ' ')) AS h
        |        FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 1)) AS i
        |              FROM d WHERE len(ws) >= 3) t),
        | wn AS (SELECT doc_id, i,
        |          min(h) OVER (PARTITION BY doc_id ORDER BY i
        |                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mh,
        |          count(*) OVER (PARTITION BY doc_id) AS ng
        |        FROM gr)
        |SELECT DISTINCT doc_id, mh AS fp
        |FROM wn WHERE i <= greatest(1, ng - 3)
        |ORDER BY doc_id, fp""".stripMargin) { (s, dir) =>
      TextAnalysis.winnow(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id", "fp")
    },

    // TF-IDF top terms per document: the distinctive-term extraction
    // step of corpus analysis. Three hash aggregations + one window
    // top-k; the corpus size joins in as a broadcast single-row agg.
    // tfidf is quantized to DECIMAL(18,6) before ranking so 1-ulp ln()
    // differences between engines can't flip hashes or tie order.
    QueryDef("ta08_tfidf",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        | tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        | df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        | n AS (SELECT count(*) AS n_docs FROM documents),
        | s AS (SELECT tf.doc_id, tf.tok,
        |         CAST(CAST(tf.tf AS DOUBLE) *
        |              ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
        |              AS DECIMAL(18,6)) AS q
        |       FROM tf CROSS JOIN n JOIN df USING (tok))
        |SELECT doc_id, tok, CAST(q AS DOUBLE) AS tfidf, rank FROM (
        |  SELECT doc_id, tok, q,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY q DESC, tok) AS BIGINT) AS rank
        |  FROM s) r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) { (s, dir) =>
      TextAnalysis.tfIdfTopTerms(docs(s, dir), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")
    },

    // BM25 top-15 (TextAnalysis.bm25Rank): the doc-length-normalized,
    // tf-saturating retrieval scorer ta08's raw tf·idf lacks. Constants
    // fold engine-side from the same literals ((1.2 + 1.0), never a
    // pre-folded 2.2 — that exact sum is a round-to-even tie); each
    // per-term score quantizes to DECIMAL(18,6) before the per-doc sum
    // (ta08/ta14 pattern) so the one libm ln can't flip a hash.
    QueryDef("ta18_bm25",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        | dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        | tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
        |        WHERE tok IN ('spark', 'join', 'merge') GROUP BY 1, 2),
        | df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        | c AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT sum(dl) FROM dl) AS sum_dl),
        | q AS (SELECT tf.doc_id,
        |         CAST(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |                        (CAST(df AS DOUBLE) + 0.5))
        |              * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |              / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
        |                 (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) /
        |                  CAST(sum_dl AS DOUBLE))))
        |              AS DECIMAL(18,6)) AS q
        |       FROM tf JOIN dl USING (doc_id) JOIN df USING (tok) CROSS JOIN c),
        | s AS (SELECT doc_id, sum(q) AS s, count(*) AS n_terms FROM q GROUP BY doc_id)
        |SELECT doc_id, CAST(s AS DOUBLE) AS score, n_terms,
        |  CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank
        |FROM s ORDER BY rank LIMIT 15""".stripMargin) { (s, dir) =>
      TextAnalysis.bm25Rank(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "merge"), 15)
    },

    // Bigram-LM fluency scoring: mean ln P(w2|w1) per document with
    // counts from the corpus itself — the perplexity-filter shape. Each
    // bigram's log-probability quantizes to DECIMAL(18,6) BEFORE the
    // per-document sum (the ta08 pattern: a 1-ulp ln() divergence can't
    // flip a 6-dp quantization), so sums are exact and the mean is one
    // identical IEEE division.
    QueryDef("ta14_bigram_lm",
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 2),
        | bg0 AS (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM w),
        | bg AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS bg,
        |               ws[i] AS w1 FROM bg0),
        | cb AS (SELECT bg, count(*) AS cb FROM bg GROUP BY bg),
        | cc AS (SELECT w1, count(*) AS cc FROM bg GROUP BY w1),
        | lp AS (SELECT bg.doc_id,
        |          CAST(ln(CAST(cb.cb AS DOUBLE) / CAST(cc.cc AS DOUBLE))
        |               AS DECIMAL(18,6)) AS q
        |        FROM bg JOIN cb USING (bg) JOIN cc USING (w1))
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      TextAnalysis.bigramLogProb(docsWide(s, dir), "doc_id", "text")
        .orderBy("doc_id")
    },

    // Inverted-index build: sorted postings lists for the 20 highest-df
    // terms — the corpus-indexing shape of search/retrieval prep. All
    // vocabulary-keyed aggregations; the postings list is projected as a
    // comma-joined scalar so the oracle harness can hash the cell. This
    // tiny-corpus form is the oracle baseline; the scale path is the
    // range-sharded ta16 below, where no term's postings ever
    // concentrates in a single aggregation buffer.
    QueryDef("ta15_inverted_index",
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        | df AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
        | top AS (SELECT tok, df FROM df ORDER BY df DESC, tok LIMIT 20)
        |SELECT t.tok, CAST(t.df AS BIGINT) AS df,
        |  array_to_string(list_sort(list(k.doc_id)), ',') AS postings
        |FROM top t JOIN tok k USING (tok)
        |GROUP BY t.tok, t.df ORDER BY df DESC, tok""".stripMargin) { (s, dir) =>
      val tok = TextAnalysis.tokens(docs(s, dir), "doc_id", "text").distinct()
      val dfc = tok.groupBy("tok").agg(count(lit(1)).as("df"))
      val top = dfc.orderBy(desc("df"), col("tok")).limit(20)
      tok.join(top, "tok")
        .groupBy(col("tok"), col("df"))
        .agg(concat_ws(",",
          sort_array(collect_list(col("doc_id"))).cast("array<string>"))
          .as("postings"))
        .select(col("tok"), col("df"), col("postings"))
        .orderBy(desc("df"), col("tok"))
    },

    // Range-sharded inverted index — the 100 TB form of ta15. The
    // grouping key is (tok, shard) with shard = doc_id mod
    // ceil(df/maxPostings), so the heaviest term's postings spread over
    // many aggregation buffers instead of concentrating in one; ta15's
    // per-term collect_list stays as the tiny-corpus oracle baseline.
    // (df DESC, tok, shard) is a unique total order, so the LIMIT is
    // deterministic.
    QueryDef("ta16_sharded_index",
      """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |             FROM documents),
        | df AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
        | sh AS (SELECT k.tok, d.df,
        |          k.doc_id % greatest(1, CAST(ceil(CAST(d.df AS DOUBLE) / 50.0) AS BIGINT)) AS shard,
        |          k.doc_id
        |        FROM tok k JOIN df d USING (tok))
        |SELECT tok, CAST(df AS BIGINT) AS df, CAST(shard AS BIGINT) AS shard,
        |  CAST(count(*) AS BIGINT) AS shard_df,
        |  array_to_string(list_sort(list(doc_id)), ',') AS postings
        |FROM sh GROUP BY tok, df, shard
        |ORDER BY df DESC, tok, shard LIMIT 50""".stripMargin) { (s, dir) =>
      TextAnalysis.invertedIndex(docs(s, dir), "doc_id", "text",
        maxPostings = 50)
        .orderBy(desc("df"), col("tok"), col("shard"))
        .limit(50)
    },

    // Corpus composition ("data card"): per (source, language) doc /
    // token / char volumes and each cell's share of the corpus — the
    // mixture summary every training run publishes and the input to
    // source-mixing decisions (sp04 consumes exactly these weights).
    // The share is one IEEE division of two exactly-representable
    // integers, so the doubles hash-match across engines.
    QueryDef("ta17_corpus_composition",
      """WITH s AS (SELECT source, lang, count(*) AS n_docs,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |             CAST(sum(length(text)) AS BIGINT) AS n_chars
        |           FROM documents GROUP BY 1, 2),
        | t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM s)
        |SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  n_tokens, n_chars,
        |  CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS doc_share
        |FROM s, t ORDER BY source, lang""".stripMargin) { (s, dir) =>
      TextAnalysis.corpusComposition(docs(s, dir), "source", "lang", "text")
        .orderBy("source", "lang")
    },

    // Fixed-size chunking with overlap (size=200 chars, stride=150):
    // the RAG/embedding context-window prep step. The md5 per chunk
    // pins every chunk boundary byte-exactly while keeping the gate
    // result narrow; a pure scan-fused explode, no shuffle.
    QueryDef("ta13_chunking",
      """WITH t AS (SELECT doc_id, text, length(text) AS len FROM documents),
        | n AS (SELECT doc_id, text,
        |         CAST(1 + floor(CAST(greatest(len - 200, 0) + 149 AS DOUBLE) / 150.0) AS BIGINT) AS nc
        |       FROM t),
        | c AS (SELECT doc_id, text, unnest(range(0, nc)) AS chunk_id FROM n),
        | s AS (SELECT doc_id, chunk_id,
        |         substring(text, CAST(chunk_id * 150 + 1 AS INTEGER), 200) AS ch
        |       FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  md5(ch) AS chunk_md5, CAST(length(ch) AS BIGINT) AS chunk_len
        |FROM s ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      TextAnalysis.chunkDocs(docs(s, dir), "doc_id", "text",
        size = 200, stride = 150)
        .orderBy("doc_id", "chunk_id")
    },

    // ================= similarity search =================

    // Brute-force cosine top-5, EXACT decimal formulation: positions
    // exploded, dot/norms summed as DECIMAL(18,9) products (order-
    // independent, bit-identical across engines), similarity assembled
    // from identical doubles. Queries = vec_id < 10.
    QueryDef("sim01_cosine_exact", CosineExactTopkSql) { (s, dir) =>
      val e = embWide(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos"),
          col("col").cast(DecimalType(12, 6)).as("x"))
      val n = e.groupBy("vec_id").agg(sum(col("x") * col("x")).as("nrm"))
      val d = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("pos"), col("x").as("qx"))
        .join(e.select(col("vec_id").as("cid"), col("pos"), col("x").as("cx")), "pos")
        .filter(col("qid") =!= col("cid"))
        .groupBy("qid", "cid").agg(sum(col("qx") * col("cx")).as("dot"))
      val sims = d
        .join(n.select(col("vec_id").as("qid"), col("nrm").as("nq")), "qid")
        .join(n.select(col("vec_id").as("cid"), col("nrm").as("nc")), "cid")
        .select(col("qid"), col("cid"),
          (col("dot").cast(DoubleType) /
            sqrt(col("nq").cast(DoubleType) * col("nc").cast(DoubleType))).as("sim"))
      // rank via the bounded TopKAgg partial aggregate — with this the
      // codebase has ZERO per-query rank windows anywhere (the window
      // shape shipped all N candidate sims to one task per query);
      // (sim desc, cid asc) tie-break identical to the row_number it
      // replaced, so the result stays bit-identical to the oracle
      sims.groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.top_k(col("sim"), col("cid"), 5,
          ascending = false).as("_tk"))
        .select(col("qid"), posexplode(col("_tk")))
        .select(col("qid"), col("col.id").as("cid"), col("col.score").as("sim"),
          (col("pos") + 1).cast(LongType).as("rank"))
        .orderBy("qid", "rank")
    },

    // Same search through the fast path: higher-order-function cosine
    // (no explode, no position join, one codegen'd pass per pair) in the
    // EXACT decimal formulation (Similarity.cosineExact) — every sum is
    // order-independent decimal arithmetic, so the resulting doubles are
    // bit-identical to sim01's posexplode plan AND to the DuckDB oracle:
    // the identical SQL hash-matches both formulations.
    QueryDef("sim02_cosine_topk_hof", CosineExactTopkSql) { (s, dir) =>
      val e = emb(s, dir)
      Similarity.cosineTopK(e.filter(col("vec_id") < 10), e, 5, exact = true)
    },

    // ANN-LSH correctness contract: approximate results have no
    // row-for-row oracle, but the RECALL FLOOR is one — the tuned
    // 4-bit × 16-table candidate generator must recover ≥80% of the
    // true top-5 pairs (measured 0.88/0.90/0.90 at sf0.001/0.01/0.1;
    // 8 tables sat at 0.68–0.76, and one 8-bit table recalls ~0.20 —
    // the misconfigurations this row would have caught; deterministic
    // hashes + fixed data make the measured recall exactly
    // reproducible, so the tightened floor cannot flake). DuckDB
    // computes n_exact from corpus counts and the floor flag as a
    // constant; Spark computes both from the actual ANN output, so a
    // recall regression (or a broken brute-force baseline) hash-mismatches.
    QueryDef("sim03_ann_lsh",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      recallFloor(Similarity.cosineTopK(q, e, 5),
        Similarity.annTopK(q, e, 5), floorPct = 80)
    },

    // IVF recall floor at 85% — same contract shape as sim03. The
    // r14-tuned nprobe=8 is now the OPERATOR DEFAULT (measured
    // 0.90/0.92/0.96 across the three SFs, BENCH_NOTES r12 sweep;
    // nprobe=6 sat at 0.86/0.88/0.94, nprobe=4 at 0.84 — too close to
    // any honest floor), so the gate runs the defaults and the floor
    // rises to 85. Lloyd refinement stays deliberately OFF: measured,
    // it lowers recall on this corpus at every nprobe (see
    // Similarity.ivfTopK scaladoc).
    QueryDef("sim04_ann_ivf",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      recallFloor(Similarity.cosineTopK(q, e, 5),
        Similarity.ivfTopK(q, e, 5), floorPct = 85)
    },

    // Product-quantization ANN (the IVF-PQ compression half): 16
    // subspaces × 32-entry codebooks, ADC shortlist of 100 re-ranked
    // exactly — gated on recovering ≥80% of the true L2 top-5
    // (measured 0.98/1.00/0.92 across SFs; the m=8 misconfiguration
    // this would catch sits at 0.78). Same in-plan contract shape as
    // sim03/sim04.
    QueryDef("sim06_ann_pq",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      recallFloor(Similarity.l2TopK(q, e, 5),
        Similarity.pqTopK(q, e, 5), floorPct = 80)
    },

    // IVF-PQ composed (sim04's coarse cells + sim06's PQ on RESIDUALS,
    // one shared codebook — the architecture production vector stores
    // ship): candidates scanned = nprobe/nlist of the corpus, scored
    // over codes only, shortlist re-ranked exactly. Floor 80%
    // (measured 0.88/0.92/0.92 across SFs at nlist=16 nprobe=8; the
    // recall cap is the coarse pruning — nprobe=2 sits at 0.68).
    QueryDef("sim07_ann_ivfpq",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      recallFloor(Similarity.l2TopK(q, e, 5),
        Similarity.ivfPqTopK(q, e, 5), floorPct = 80)
    },

    // Diversity-aware re-ranking: greedy MMR (λ=0.5) over the exact
    // cosine top-10 shortlist, 3 selections per query — the RAG
    // context-assembly step that trades relevance against redundancy.
    // Everything is exact-decimal cosines and power-of-two λ halvings
    // (single IEEE ops, no quantization needed), ties to the lower cid;
    // the oracle unrolls the identical greedy loop. After the bounded
    // top-10, no stage touches the corpus again — pure Q×10 arithmetic.
    QueryDef("sim08_mmr",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                    unnest(range(1, len(embedding) + 1)) AS i
        |             FROM embeddings),
        | e AS (SELECT vec_id, i,
        |       CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
        | d AS (SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.x * c.x) AS dot
        |       FROM e q JOIN e c ON q.i = c.i
        |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |       GROUP BY 1, 2),
        | rel0 AS (SELECT qid, cid,
        |           CAST(dot AS DOUBLE) /
        |             sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS rel
        |         FROM d JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid),
        | sl AS (SELECT qid, cid, rel,
        |          row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rk
        |        FROM rel0),
        | s AS (SELECT qid, cid, rel FROM sl WHERE rk <= 10),
        | pd AS (SELECT a.qid, a.cid AS cid1, b.cid AS cid2, sum(ea.x * eb.x) AS dot
        |        FROM s a JOIN s b ON a.qid = b.qid AND a.cid <> b.cid
        |        JOIN e ea ON ea.vec_id = a.cid
        |        JOIN e eb ON eb.vec_id = b.cid AND ea.i = eb.i
        |        GROUP BY 1, 2, 3),
        | ps AS (SELECT qid, cid1, cid2,
        |          CAST(dot AS DOUBLE) /
        |            sqrt(CAST(n1.nrm AS DOUBLE) * CAST(n2.nrm AS DOUBLE)) AS psim
        |        FROM pd JOIN n n1 ON n1.vec_id = cid1 JOIN n n2 ON n2.vec_id = cid2),
        | w1 AS (SELECT qid, cid, rel AS mmr FROM sl WHERE rk = 1),
        | m2 AS (SELECT s.qid, s.cid, 0.5 * s.rel - 0.5 * ps.psim AS score
        |        FROM s JOIN w1 ON s.qid = w1.qid AND s.cid <> w1.cid
        |        JOIN ps ON ps.qid = s.qid AND ps.cid1 = s.cid AND ps.cid2 = w1.cid),
        | w2 AS (SELECT qid, cid, score AS mmr FROM (
        |          SELECT *, row_number() OVER (PARTITION BY qid
        |            ORDER BY score DESC, cid) AS r FROM m2) t
        |        WHERE r = 1),
        | m3 AS (SELECT s.qid, s.cid, 0.5 * s.rel - 0.5 * max(ps.psim) AS score
        |        FROM s
        |        JOIN w1 ON s.qid = w1.qid AND s.cid <> w1.cid
        |        JOIN w2 ON s.qid = w2.qid AND s.cid <> w2.cid
        |        JOIN ps ON ps.qid = s.qid AND ps.cid1 = s.cid
        |          AND ps.cid2 IN (w1.cid, w2.cid)
        |        GROUP BY s.qid, s.cid, s.rel),
        | w3 AS (SELECT qid, cid, score AS mmr FROM (
        |          SELECT *, row_number() OVER (PARTITION BY qid
        |            ORDER BY score DESC, cid) AS r FROM m3) t
        |        WHERE r = 1)
        |SELECT qid, CAST(1 AS BIGINT) AS sel_rank, cid, mmr FROM w1
        |UNION ALL SELECT qid, 2, cid, mmr FROM w2
        |UNION ALL SELECT qid, 3, cid, mmr FROM w3
        |ORDER BY qid, sel_rank""".stripMargin) { (s, dir) =>
      val e = embWide(s, dir)
      Similarity.mmrTopK(e.filter(col("vec_id") < 10), e, k = 3,
        shortlist = 10)
    },

    // Range search (τ-neighborhood): every candidate within cosine
    // ≥ 0.30 of each query — the radius retrieval mode alongside top-k.
    // Scoring CTEs identical to sim01's; the rank stage is replaced by
    // a plain τ filter, which on the Spark side runs map-side inside
    // the broadcast scan-join — ZERO shuffles before the presentation
    // sort (pinned in PlanSpec).
    QueryDef("sim09_range_search",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                    unnest(range(1, len(embedding) + 1)) AS i
        |             FROM embeddings),
        | e AS (SELECT vec_id, i,
        |       CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
        | d AS (SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.x * c.x) AS dot
        |       FROM e q JOIN e c ON q.i = c.i
        |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |       GROUP BY 1, 2),
        | sim AS (SELECT qid, cid,
        |           CAST(dot AS DOUBLE) /
        |             sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS sim
        |         FROM d
        |         JOIN n nq ON nq.vec_id = qid
        |         JOIN n nc ON nc.vec_id = cid)
        |SELECT qid, cid, sim FROM sim WHERE sim >= 0.30
        |ORDER BY qid, cid""".stripMargin) { (s, dir) =>
      val e = embWide(s, dir)
      Similarity.cosineRange(e.filter(col("vec_id") < 10), e, tau = 0.30,
        exact = true)
        .orderBy("qid", "cid")
    },

    // Signed (Rademacher) random projection 64 → 16 dims: the JL
    // dimensionality-reduction pass index builds run before clustering
    // / ANN. The projection "matrix" is the parity of md5("k_i") — no
    // materialized matrix, and a SQL engine replays it exactly (md5 of
    // a UTF-8 string is engine-portable where xxhash64 is not); sums
    // are exact decimal, so the full N×16 coordinate table hash-matches.
    // Scale: narrow per-row projection, zero shuffle before the
    // presentation sort (PlanSpec pins no-Window / single Exchange).
    QueryDef("sim10_rand_proj",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                    unnest(range(1, len(embedding) + 1)) AS i
        |             FROM embeddings),
        | e AS (SELECT vec_id, i,
        |       CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | ks AS (SELECT CAST(unnest(range(1, 17)) AS BIGINT) AS k),
        | s AS (SELECT vec_id, ks.k,
        |         CASE WHEN substr(md5(CAST(ks.k AS VARCHAR) || '_' ||
        |                              CAST(i AS VARCHAR)), 1, 1)
        |                IN ('0','2','4','6','8','a','c','e')
        |              THEN x ELSE -x END AS sx
        |       FROM e CROSS JOIN ks),
        | p AS (SELECT vec_id, k, sum(sx) AS coord FROM s GROUP BY 1, 2)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id, k,
        |  CAST(coord AS DOUBLE) AS coord
        |FROM p ORDER BY vec_id, k""".stripMargin) { (s, dir) =>
      Similarity.signedRandomProjection(embWide(s, dir), dims = 16)
        .orderBy("vec_id", "k")
    },

    // Symmetric int8 quantization of the embedding column — the 4×
    // index-compression pass. Per-element IEEE ops with no summation
    // order involved, so the oracle runs the identical expression tree;
    // the integer q_sum checksum pins every quantized element.
    QueryDef("sim05_int8_quant",
      """WITH e AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        | am AS (SELECT vec_id, max(abs(x)) AS am FROM e GROUP BY vec_id),
        | q AS (SELECT e.vec_id,
        |         CASE WHEN am.am = 0 THEN CAST(0 AS BIGINT)
        |              ELSE CAST(floor(x / am.am * 127.0 + 0.5) AS BIGINT) END AS q
        |       FROM e JOIN am USING (vec_id))
        |SELECT vec_id, CAST(sum(q) AS BIGINT) AS q_sum,
        |  min(q) AS q_min, max(q) AS q_max,
        |  CAST(sum(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_sat
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Similarity.quantizeInt8(embWide(s, dir)).orderBy("vec_id")
    },

    // Two-stage retrieval over the int8-quantized index (sim05's codes
    // serving sim01's search): integer-dot shortlist of 50 rescaled by
    // the candidate dequantization factor, exact-decimal cosine re-rank
    // to top-5. Every step is deterministic cross-engine (exact int64
    // dot; absmax; decimal norms cast once; three-op IEEE rescale), so
    // unlike the recall-floor ANN rows this approximate index
    // hash-matches a full row-for-row replay. Both rank stages are
    // bounded TopKAgg aggregates (PlanSpec: no windows).
    QueryDef("sim11_int8_rerank",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                    unnest(range(1, len(embedding) + 1)) AS i
        |             FROM embeddings),
        | ed AS (SELECT vec_id, i, CAST(rawx AS DOUBLE) AS xd FROM e0),
        | e AS (SELECT vec_id, i,
        |       CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | am AS (SELECT vec_id, max(abs(xd)) AS am FROM ed GROUP BY vec_id),
        | qz AS (SELECT ed.vec_id, i,
        |          CASE WHEN am.am = 0 THEN CAST(0 AS BIGINT)
        |               ELSE CAST(floor(xd / am.am * 127.0 + 0.5) AS BIGINT)
        |          END AS q
        |        FROM ed JOIN am USING (vec_id)),
        | n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
        | ad AS (SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.q * c.q) AS adot
        |        FROM qz q JOIN qz c ON q.i = c.i
        |        WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |        GROUP BY 1, 2),
        | s1 AS (SELECT qid, cid,
        |          CAST(adot AS DOUBLE) * am.am / sqrt(CAST(n.nrm AS DOUBLE)) AS score1
        |        FROM ad JOIN am ON am.vec_id = cid JOIN n ON n.vec_id = cid
        |        WHERE n.nrm > 0),
        | sl AS (SELECT qid, cid FROM (
        |          SELECT qid, cid,
        |            row_number() OVER (PARTITION BY qid ORDER BY score1 DESC, cid) AS r
        |          FROM s1) t
        |        WHERE r <= 50),
        | d AS (SELECT sl.qid, sl.cid, sum(q.x * c.x) AS dot
        |       FROM sl JOIN e q ON q.vec_id = sl.qid
        |       JOIN e c ON c.vec_id = sl.cid AND q.i = c.i
        |       GROUP BY 1, 2),
        | fin AS (SELECT d.qid, d.cid,
        |           CAST(dot AS DOUBLE) /
        |             sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS sim
        |         FROM d JOIN n nq ON nq.vec_id = d.qid
        |         JOIN n nc ON nc.vec_id = d.cid
        |         WHERE nq.nrm > 0)
        |SELECT qid, cid, sim, rank FROM
        |  (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rank
        |   FROM fin) r
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val e = embWide(s, dir)
      Similarity.int8RerankTopK(e.filter(col("vec_id") < 10), e, k = 5,
        shortlist = 50)
    },

    // kNN-GRAPH construction: EVERY corpus vector gets its top-3
    // neighbors through the IVF probe path (queries = the whole corpus
    // — never broadcast: both sides assign to cells map-side and meet
    // in a hash-partitioned equi-join on centroid id, the shape that
    // builds the kNN graph SemDeDup/cluster pipelines start from at
    // 100 TB). Gate contract: completeness (exactly N·3 edges — every
    // vector found 3 non-self neighbors through its 6 probed cells;
    // DuckDB derives N·3 from the corpus count) + the sim03-style 80%
    // recall floor on the sampled query slice vs exact cosine.
    QueryDef("sim12_knn_graph",
      """SELECT CAST(c.n_all * 3 AS BIGINT) AS n_edges,
        |  CAST(0 AS BIGINT) AS n_self,
        |  CAST(c.n_all AS BIGINT) AS n_qids,
        |  CAST(q.nq * least(3, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = embWide(s, dir)
      // the graph feeds BOTH output branches (edge count + recall
      // slice) — checkpoint it so the corpus-wide kNN computes once,
      // not once per branch (measured 5.0 → ~3 s at sf0.1; the
      // farthestPointSeeds discipline). Content is gated three ways:
      // the recall floor on the sampled slice checks edges AGAINST THE
      // EXACT top-k, and n_self/n_qids pin the structural contract
      // (no self-edges; every corpus vector appears as a query) from
      // the ACTUAL edge list, not from counts the oracle also derives.
      //
      val knn = Similarity.ivfTopK(e, e, 3, nlist = 16, nprobe = 6,
        pinProbeParallelism = true)
        .localCheckpoint()
      val exact = Similarity.cosineTopK(e.filter(col("vec_id") < 10), e, 3,
        exact = true)
      knn.agg(count(lit(1)).cast(LongType).as("n_edges"),
          sum(when(col("qid") === col("cid"), 1L).otherwise(0L))
            .cast(LongType).as("n_self"),
          countDistinct(col("qid")).cast(LongType).as("n_qids"))
        .crossJoin(recallFloor(exact, knn.filter(col("qid") < 10), 80))
    },

    // TWO-LEVEL coarse assignment — the configuration a 100 TB corpus
    // must run (SCALE.md: exact assignment scores N·nlist pairs, and
    // with nlist ∝ N that term is the measured quadratic wall — 497 s
    // at the 100× rehearsal vs ~120 s two-level). Gated at the same
    // recall-floor contract as sim04 so the big-corpus switch is never
    // the engine's only unoracled path: 3 query-side leader groups
    // < √nlist means query-side pruning is genuinely exercised, and
    // the 2 candidate-side groups (the r16 value) pin the candidate-side
    // top-2 spill that lifted the r15 structural ceiling (candidates
    // assigned through ONE leader group lost boundary cells to every
    // probe: measured 0.80 → 0.84 at the corpus-scaled rehearsal
    // config, 0.90 → 0.94 at this gate config on sf0.1). Floor 85 on
    // measured 0.94/0.90/0.94 across the three SFs — deterministic
    // hashes + fixed data make it exactly reproducible, so it cannot
    // flake.
    QueryDef("sim13_ivf_two_level",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      recallFloor(Similarity.cosineTopK(q, e, 5),
        Similarity.ivfTopK(q, e, 5, nlist = 16, nprobe = 10,
          twoLevelAssign = true),
        floorPct = 85)
    },

    // HYBRID retrieval fusion: reciprocal-rank fusion of the BM25
    // lexical shortlist (ta18's exact formulation, top-20) and the
    // exact dense cosine shortlist (sim01's formulation, query
    // vec_id=0, top-20) — the standard serving composition
    // (Cormack/Clarke/Buettcher; what production hybrid search ships,
    // because RRF needs only ranks and never compares the two engines'
    // incomparable raw scores). Fully oracle-expressible: both
    // shortlists are existing gated formulations (ranks hash-match on
    // their own gates), and the fused score is a TWO-term IEEE sum in
    // a fixed written order (1/(60+rank_sparse) + 1/(60+rank_dense))
    // — no summation-order ambiguity, no decimal machinery needed.
    // Scale shape: the expensive work happens inside the two bounded
    // retrieval operators; the fusion itself joins two ≤20-row frames.
    QueryDef("sim14_hybrid_rrf",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        | dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        | tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
        |        WHERE tok IN ('spark', 'join', 'merge') GROUP BY 1, 2),
        | df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        | c AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
        |              (SELECT sum(dl) FROM dl) AS sum_dl),
        | q AS (SELECT tf.doc_id,
        |         CAST(ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) /
        |                        (CAST(df AS DOUBLE) + 0.5))
        |              * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |              / (CAST(tf AS DOUBLE) + 1.2 * (1.0 - 0.75 + 0.75 *
        |                 (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE) /
        |                  CAST(sum_dl AS DOUBLE))))
        |              AS DECIMAL(18,6)) AS q
        |       FROM tf JOIN dl USING (doc_id) JOIN df USING (tok) CROSS JOIN c),
        | sbm AS (SELECT doc_id, sum(q) AS s FROM q GROUP BY doc_id),
        | sparse AS (SELECT id, rank FROM (
        |     SELECT doc_id AS id,
        |       CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS BIGINT) AS rank
        |     FROM sbm) t WHERE rank <= 20),
        | e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings),
        | e AS (SELECT vec_id, i,
        |       CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
        | d AS (SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.x * c.x) AS dot
        |       FROM e q JOIN e c ON q.i = c.i
        |       WHERE q.vec_id = 0 AND q.vec_id <> c.vec_id
        |       GROUP BY 1, 2),
        | sim AS (SELECT cid,
        |           CAST(dot AS DOUBLE) /
        |             sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS sim
        |         FROM d
        |         JOIN n nq ON nq.vec_id = qid
        |         JOIN n nc ON nc.vec_id = cid),
        | dense AS (SELECT id, rank FROM (
        |     SELECT cid AS id,
        |       CAST(row_number() OVER (ORDER BY sim DESC, cid) AS BIGINT) AS rank
        |     FROM sim) t WHERE rank <= 20),
        | f AS (SELECT coalesce(sp.id, de.id) AS id,
        |         coalesce(1.0 / CAST(sp.rank + 60 AS DOUBLE), 0.0) +
        |         coalesce(1.0 / CAST(de.rank + 60 AS DOUBLE), 0.0) AS score
        |       FROM sparse sp FULL JOIN dense de ON sp.id = de.id)
        |SELECT id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, id) AS BIGINT) AS rank
        |FROM f ORDER BY rank LIMIT 10""".stripMargin) { (s, dir) =>
      val sparse = TextAnalysis.bm25Rank(docs(s, dir), "doc_id", "text",
        Seq("spark", "join", "merge"), 20)
        .select(col("doc_id").as("id"), col("rank"))
      val e = emb(s, dir)
      val dense = Similarity.cosineTopK(e.filter(col("vec_id") === 0), e, 20,
        exact = true)
        .select(col("cid").as("id"), col("rank"))
      Similarity.rrfFuse(sparse, dense, 10)
    },

    // Index BUILD/SERVE split — the production IVF lifecycle: build
    // the index once (quantizer + cell-keyed corpus), persist it as
    // two plain parquet tables, load it back, and serve queries
    // without ever touching the corpus again. Gated under the same
    // recall-floor contract as sim04 (the served results must recover
    // ≥85% of the exact top-5), and PipelineSpec pins that the
    // round-tripped search is row-for-row identical to the fused
    // ivfTopK.
    QueryDef("sim16_ivf_index_serve",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      withGateWork(s, "sim16", dir) { work =>
        Similarity.ivfBuild(e).save(s"$work/idx")
        val served = Similarity.ivfSearch(q,
          Similarity.ivfLoad(s, s"$work/idx"), 5)
        recallFloor(Similarity.cosineTopK(q, e, 5), served, floorPct = 85)
      }
    },

    // IVF-PQ under the BIG-CORPUS coarse assignment: sim07's composed
    // architecture with twoLevelAssign = true — candidates pick their
    // cell through √nlist leader groups (top-2 spill) instead of the
    // exact N·nlist fold, the same quadratic-killer sim13 gates for
    // plain IVF. The candidate-side approximation moves boundary
    // candidates into near-best cells, costing ~0.06–0.10 recall vs
    // exact assignment at the same geometry; nprobe rises 8 → 12 to
    // buy margin, the sim13 convention (measured two-level recall
    // 0.88/0.88/0.86 across the three SFs vs exact 0.96/0.96/0.94 —
    // SCALE.md, "Second decade, round 17 additions") over sim07's floor 80.
    QueryDef("sim17_ivfpq_two_level",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      recallFloor(Similarity.l2TopK(q, e, 5),
        Similarity.ivfPqTopK(q, e, 5, nprobe = 12, twoLevelAssign = true),
        floorPct = 80)
    },

    // FILTERED vector search, pre-filter flavor — the production
    // "tenant/language/visibility predicate + ANN" composition every
    // serving stack needs. The metadata predicate restricts the
    // CANDIDATE side before any vector math: at 100 TB the label
    // filter reaches the parquet scan (PushedFilters — PlanSpec pins
    // it), so the engine reads 30% of the corpus instead of scoring
    // 100% and discarding 70% post-hoc. Full oracle: sim01's exact
    // formulation with the candidate filter folded in — same decimal
    // dots, same tie-breaks, bit-identical.
    QueryDef("sim18_filtered_search",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                    unnest(range(1, len(embedding) + 1)) AS i
        |             FROM embeddings),
        | e AS (SELECT vec_id, i,
        |       CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | allow AS (SELECT vec_id FROM embeddings WHERE label IN (2, 5, 7)),
        | n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
        | d AS (SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.x * c.x) AS dot
        |       FROM e q JOIN e c ON q.i = c.i
        |       JOIN allow a ON a.vec_id = c.vec_id
        |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |       GROUP BY 1, 2),
        | sim AS (SELECT qid, cid,
        |           CAST(dot AS DOUBLE) /
        |             sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS sim
        |         FROM d
        |         JOIN n nq ON nq.vec_id = qid
        |         JOIN n nc ON nc.vec_id = cid)
        |SELECT qid, cid, sim, rank FROM
        |  (SELECT *, CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rank
        |   FROM sim) r
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      Similarity.cosineTopK(e.filter(col("vec_id") < 10),
        e.filter(col("label").isin(2, 5, 7)), 5, exact = true)
    },

    // FILTERED vector search, post-filter flavor — the shape a stack
    // is forced into when the index is already built over the FULL
    // corpus (per-predicate indexes don't exist): over-fetch an
    // UNfiltered ANN shortlist, apply the predicate, re-rank. The
    // over-fetch factor is the starvation control: a bare top-5
    // post-filtered at ~30% selectivity starves (expected ~1.5
    // surviving rows), so the shortlist is 10·k before the filter.
    // Invariant gate: ≥70% of the exact FILTERED top-5 recovered
    // (measured 0.94/0.86/0.96 across the three SFs at the 10·k
    // over-fetch; a 3·k fetch sits at 0.72–0.86 — the fetch depth IS
    // the starvation/recall lever, SURVEY.md's post-filter row; pre-filter
    // sim18 is the design to prefer when the predicate is known at
    // build time).
    QueryDef("sim19_postfilter_ann",
      """SELECT CAST(q.nq * least(5, c.n_allow) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_allow FROM embeddings
        |      WHERE label IN (2, 5, 7)) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val allowed = e.filter(col("label").isin(2, 5, 7))
      val short = Similarity.ivfTopK(q, e, 50, nlist = 16, nprobe = 10)
        .join(allowed.select(col("vec_id").as("cid")), "cid")
      val rr = short
        .groupBy(col("qid"))
        .agg(graft.functions.TopKAgg.top_k(col("sim"), col("cid"), 5,
          ascending = false).as("_tk"))
        .select(col("qid"), posexplode(col("_tk")))
        .select(col("qid"), col("col.id").as("cid"))
      recallFloor(Similarity.cosineTopK(q, allowed, 5), rr, floorPct = 70)
    },

    // STALE-INDEX + DELTA serving — the staleness contract's shipped
    // mitigation (Similarity.ivfSearch scaladoc): the index is a
    // snapshot, so rows appended after ivfBuild are invisible to every
    // search against it, silently, with zero errors. Here the corpus
    // as of build time is the vec_id % 10 != 9 slice; the % 10 == 9
    // slice plays the append log; ivfSearchWithDelta probes the stale
    // index AND brute-forces the delta, keeping one bounded top-k from
    // the merged pair stream (both arms score the identical double
    // cosine — no rank fusion needed). Invariant gate: ≥85% of the
    // exact top-5 over the FULL grown corpus recovered (sim16's floor;
    // the delta arm is exact, so appended rows can never be silently
    // lost — the precise failure mode the contract documents).
    QueryDef("sim20_ivf_stale_delta",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val idx = Similarity.ivfBuild(e.filter(col("vec_id") % 10 =!= 9))
      val served = Similarity.ivfSearchWithDelta(q, idx,
        e.filter(col("vec_id") % 10 === 9), 5)
      recallFloor(Similarity.cosineTopK(q, e, 5), served, floorPct = 85)
    },

    // IVF-PQ index BUILD/SERVE split — the sim16 lifecycle applied to
    // the production architecture (SCALE.md calls IVF-PQ the 100 TB
    // serving config): build coarse quantizer + residual PQ codebook +
    // integer-coded corpus once, persist all three as plain parquet,
    // load back, and serve with the raw corpus touched ONLY for the
    // bounded exact re-rank (codes stay hot, full vectors fetched per
    // shortlist — the memory-bounded store shape). Same recall-floor
    // contract as sim07 (≥80% of the exact L2 top-5); PipelineSpec
    // pins the round-trip row-for-row against the fused ivfPqTopK,
    // exact-assign AND two-level.
    QueryDef("sim21_ivfpq_index_serve",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      withGateWork(s, "sim21", dir) { work =>
        Similarity.ivfPqBuild(e).save(s"$work/idx")
        val served = Similarity.ivfPqSearch(q,
          Similarity.ivfPqLoad(s, s"$work/idx"), e, 5)
        recallFloor(Similarity.l2TopK(q, e, 5), served, floorPct = 80)
      }
    },

    // STALE IVF-PQ + DELTA serving — sim20's union mitigation on the
    // production architecture, placed where the PQ pipeline makes it
    // free: appended candidates join the ADC shortlist straight into
    // the exact L2 re-rank (which scores raw vectors anyway), so the
    // delta needs no codes and no separate scoring pass. Index built
    // over the vec_id % 10 != 9 slice; the % 10 == 9 slice plays the
    // append log. Invariant gate: ≥80% of the exact L2 top-5 over the
    // FULL grown corpus recovered (sim07's floor — the delta arm is
    // exact, so appended rows are never silently lost).
    QueryDef("sim22_ivfpq_stale_delta",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val indexed = e.filter(col("vec_id") % 10 =!= 9)
      val served = Similarity.ivfPqSearchWithDelta(q,
        Similarity.ivfPqBuild(indexed), indexed,
        e.filter(col("vec_id") % 10 === 9), 5)
      recallFloor(Similarity.l2TopK(q, e, 5), served, floorPct = 80)
    },

    // DELTA REABSORPTION — the lifecycle step sim20 leaves open ("a
    // growing delta IS the rebuild signal", but a full rebuild
    // re-clusters and re-reads the whole corpus): ivfAbsorbDelta
    // assigns the append log to the EXISTING quantizer's cells in one
    // bounded pass over the DELTA and appends to the cell table — the
    // quantizer never retrains, the indexed corpus is never re-read,
    // and the per-query exact delta arm retires. Invariant gate:
    // sim20's shape served from the ABSORBED index (normal probe path,
    // no delta arm) still recovers ≥85% of the exact top-5 over the
    // grown corpus — absorbed rows are as findable as built rows.
    // PipelineSpec pins the stronger contract: with every cell probed,
    // absorb-then-serve ≡ stale+delta serve row-for-row.
    QueryDef("sim25_ivf_absorb",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val stale = Similarity.ivfBuild(e.filter(col("vec_id") % 10 =!= 9))
      val absorbed = Similarity.ivfAbsorbDelta(stale,
        e.filter(col("vec_id") % 10 === 9))
      recallFloor(Similarity.cosineTopK(q, e, 5),
        Similarity.ivfSearch(q, absorbed, 5), floorPct = 85)
    },

    // Reabsorption on the production architecture: the append log
    // assigns to the EXISTING coarse cells, its residuals encode
    // against the EXISTING codebook, and the integer codes append —
    // after which sim21's serve path (ADC shortlist + exact re-rank
    // over the GROWN corpus) sees absorbed rows through the normal
    // probe, no delta arm. Same ≥80% floor as sim22 — absorbed rows
    // must compete through ADC like built rows and still clear it.
    QueryDef("sim26_ivfpq_absorb",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val stale = Similarity.ivfPqBuild(e.filter(col("vec_id") % 10 =!= 9))
      val absorbed = Similarity.ivfPqAbsorbDelta(stale,
        e.filter(col("vec_id") % 10 === 9))
      recallFloor(Similarity.l2TopK(q, e, 5),
        Similarity.ivfPqSearch(q, absorbed, e, 5), floorPct = 80)
    },

    // Index DELETION — absorb's mirror image and the lifecycle arm a
    // training pipeline legally cannot run without: ivfDeleteIds drops
    // the % 10 == 9 slice from the cell table (broadcast anti-join on
    // the id key; the quantizer never retrains) and the served
    // shortlist must (a) contain NO deleted id — certainty, their
    // cells are gone — and (b) still clear sim25's ≥85% floor against
    // the exact top-5 over the SURVIVING corpus: per-row assignment
    // means the deleted index IS the survivors assigned to the same
    // quantizer (PipelineSpec pins that equivalence row-for-row).
    QueryDef("sim27_ivf_delete",
      """SELECT CAST((q.nq - q.nq_del) * least(5, c.n_surv - 1)
        |    + q.nq_del * least(5, c.n_surv) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS none_deleted
        |FROM (SELECT count(*) AS nq,
        |        sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS nq_del
        |      FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_surv FROM embeddings
        |      WHERE vec_id % 10 <> 9) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val tomb = e.filter(col("vec_id") % 10 === 9).select("vec_id")
      val surv = e.filter(col("vec_id") % 10 =!= 9)
      val served = Similarity.ivfSearch(q,
        Similarity.ivfDeleteIds(Similarity.ivfBuild(e), tomb), 5)
        .localCheckpoint() // two consumers: recall + the deleted-id scan
      val leaked = served.join(tomb.select(col("vec_id").as("cid")), Seq("cid"))
        .agg(when(count(lit(1)) === 0, 1L).otherwise(0L).as("none_deleted"))
      recallFloor(Similarity.cosineTopK(q, surv, 5), served, floorPct = 85)
        .crossJoin(broadcast(leaked))
    },

    // Deletion on the production architecture: the integer codes drop
    // the tombstoned slice (coarse quantizer and codebook untouched),
    // the re-rank corpus is the survivors, and sim26's ≥80% floor must
    // hold against the exact L2 top-5 over the surviving corpus — with
    // the same no-deleted-id certainty (deleted rows can never be
    // shortlisted: their codes are gone).
    QueryDef("sim28_ivfpq_delete",
      """SELECT CAST((q.nq - q.nq_del) * least(5, c.n_surv - 1)
        |    + q.nq_del * least(5, c.n_surv) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS none_deleted
        |FROM (SELECT count(*) AS nq,
        |        sum(CASE WHEN vec_id % 10 = 9 THEN 1 ELSE 0 END) AS nq_del
        |      FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_surv FROM embeddings
        |      WHERE vec_id % 10 <> 9) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val tomb = e.filter(col("vec_id") % 10 === 9).select("vec_id")
      val surv = e.filter(col("vec_id") % 10 =!= 9)
      val served = Similarity.ivfPqSearch(q,
        Similarity.ivfPqDeleteIds(Similarity.ivfPqBuild(e), tomb), surv, 5)
        .localCheckpoint()
      val leaked = served.join(tomb.select(col("vec_id").as("cid")), Seq("cid"))
        .agg(when(count(lit(1)) === 0, 1L).otherwise(0L).as("none_deleted"))
      recallFloor(Similarity.l2TopK(q, surv, 5), served, floorPct = 80)
        .crossJoin(broadcast(leaked))
    },

    // DRIFT-TRIGGERED REBUILD SIGNAL — the measurement that decides
    // absorb-vs-rebuild, which sim20/sim22 left as prose ("a growing
    // delta IS the rebuild signal") and sim25/sim26's absorption
    // cannot provide (after many absorptions the quantizer degrades
    // silently): ivfDriftCheck prices a delta against the persisted
    // per-cell build stats (ivfCellStats, the third index artifact) in
    // one bounded delta pass — fit ratio vs the build's per-cell mean
    // assignment distance, plus cell-occupancy shift (total variation)
    // for the isotropic regime where any direction FITS but lands
    // wrong. Invariant gate at all three SFs: an un-drifted corpus
    // slice must NOT trip (ratio ≈ 1, shift ≈ sampling noise), the
    // same slice pushed off-distribution MUST (measured shift ≥ 0.80
    // vs the 0.5 threshold; BENCH_NOTES.md, "r19 drift-signal margins").
    QueryDef("sim29_ivf_drift",
      """SELECT CAST(c.n AS BIGINT) AS n_delta,
        |  CAST(0 AS BIGINT) AS clean_trips,
        |  CAST(1 AS BIGINT) AS drifted_trips
        |FROM (SELECT count(*) AS n FROM embeddings
        |      WHERE vec_id % 7 = 3) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val idx = Similarity.ivfBuild(e)
      val stats = Similarity.ivfCellStats(idx).localCheckpoint()
      val slice = e.filter(col("vec_id") % 7 === 3)
        .select("vec_id", "embedding")
      val clean = Similarity.ivfDriftCheck(stats, idx, slice)
      val shifted = slice.select(col("vec_id"),
        transform(col("embedding"), x => x + lit(2.0)).as("embedding"))
      val moved = Similarity.ivfDriftCheck(stats, idx, shifted)
      s.range(1).select(lit(clean.nDelta).as("n_delta"),
        lit(if (clean.drifted) 1L else 0L).as("clean_trips"),
        lit(if (moved.drifted) 1L else 0L).as("drifted_trips"))
    },

    // sim29 on the PRODUCTION architecture: the IVF-PQ coarse
    // quantizer's stats come from the raw corpus at build time (the
    // codes table is quantized — residual magnitudes are not
    // recoverable from it) and the fit metric is the squared-L2
    // residual the ADC path ranks by — where the cosine fit ratio
    // compresses on this isotropic corpus (~1.16 planted), the L2
    // residual EXPLODES under an offset plant (measured ratio ≈ 165
    // vs clean ≈ 1.00; shift identical to sim29), so BOTH signals
    // trip. Same invariant: clean slice quiet, shifted slice trips.
    QueryDef("sim30_ivfpq_drift",
      """SELECT CAST(c.n AS BIGINT) AS n_delta,
        |  CAST(0 AS BIGINT) AS clean_trips,
        |  CAST(1 AS BIGINT) AS drifted_trips
        |FROM (SELECT count(*) AS n FROM embeddings
        |      WHERE vec_id % 7 = 3) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val idx = Similarity.ivfPqBuild(e)
      val stats = Similarity.ivfPqCellStats(idx, e).localCheckpoint()
      val slice = e.filter(col("vec_id") % 7 === 3)
        .select("vec_id", "embedding")
      val clean = Similarity.ivfPqDriftCheck(stats, idx, slice)
      val shifted = slice.select(col("vec_id"),
        transform(col("embedding"), x => x + lit(2.0)).as("embedding"))
      val moved = Similarity.ivfPqDriftCheck(stats, idx, shifted)
      s.range(1).select(lit(clean.nDelta).as("n_delta"),
        lit(if (clean.drifted) 1L else 0L).as("clean_trips"),
        lit(if (moved.drifted) 1L else 0L).as("drifted_trips"))
    },

    // DRIFT→ACTION composition — the maintain entry point that closes
    // the loop sim29 measured: ivfMaintain prices the delta against
    // the persisted build stats and routes it, absorb when quiet,
    // rebuild when drifted. Invariant gate, both arms equivalence-
    // checked row-for-row (build is value-deterministic, so the
    // routed result must be IDENTICAL to calling the arm directly —
    // zero mismatches, not a floor): a clean clone of a corpus slice
    // (at fresh ids — absorb's disjointness contract) must take the
    // absorb arm and serve exactly as ivfAbsorbDelta's index; the
    // same clone pushed off-distribution must take the rebuild arm
    // and serve exactly as a fresh ivfBuild over the grown corpus.
    QueryDef("sim33_ivf_maintain",
      """SELECT CAST(c.n AS BIGINT) AS n_delta,
        |  CAST(0 AS BIGINT) AS quiet_rebuilt,
        |  CAST(0 AS BIGINT) AS quiet_mismatch,
        |  CAST(1 AS BIGINT) AS drift_rebuilt,
        |  CAST(0 AS BIGINT) AS drift_mismatch
        |FROM (SELECT count(*) AS n FROM embeddings
        |      WHERE vec_id % 7 = 3) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      // pin the built index ONCE: stats, both maintain arms and the
      // expected-absorb serve all consume it, and an unpinned build
      // chain re-runs per consumer (the sim12 checkpoint discipline).
      // centroids are ALREADY localCheckpoint-materialized inside
      // ivfBuild (documented there) — re-pinning them was one extra
      // job + block copy per gate run (r21); only the corpus-sized
      // cell assignment needs the pin here
      val idx0 = Similarity.ivfBuild(e)
      val idx = idx0.copy(cells = idx0.cells.localCheckpoint())
      val stats = Similarity.ivfCellStats(idx).localCheckpoint()
      val slice = e.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
      val quiet = Similarity.ivfMaintain(idx, stats, slice)
      val qm = rankMismatches(
        Similarity.ivfSearch(q, quiet.index, 5),
        Similarity.ivfSearch(q, Similarity.ivfAbsorbDelta(idx, slice), 5))
      val shifted = slice.select(col("vec_id"),
        transform(col("embedding"), x => x + lit(2.0)).as("embedding"))
      val moved = Similarity.ivfMaintain(idx, stats, shifted)
      val grown = e
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType))
            .as("embedding"))
        .unionByName(shifted)
      val dm = rankMismatches(
        Similarity.ivfSearch(q, moved.index, 5),
        Similarity.ivfSearch(q, Similarity.ivfBuild(grown), 5))
      s.range(1).select(lit(moved.report.nDelta).as("n_delta"),
        lit(if (quiet.rebuilt) 1L else 0L).as("quiet_rebuilt"),
        lit(qm).as("quiet_mismatch"),
        lit(if (moved.rebuilt) 1L else 0L).as("drift_rebuilt"),
        lit(dm).as("drift_mismatch"))
    },

    // sim33 on the PRODUCTION architecture: ivfPqMaintain routes on
    // the squared-L2 residual signal (sim30) and rebuilds BOTH
    // quantizers when it trips — the raw corpus rides in explicitly
    // (codes are lossy; it is the same handle the serve path already
    // requires as rerank). Same zero-mismatch equivalence on both
    // arms, served through the full ADC + exact-re-rank path over the
    // grown re-rank corpus.
    QueryDef("sim34_ivfpq_maintain",
      """SELECT CAST(c.n AS BIGINT) AS n_delta,
        |  CAST(0 AS BIGINT) AS quiet_rebuilt,
        |  CAST(0 AS BIGINT) AS quiet_mismatch,
        |  CAST(1 AS BIGINT) AS drift_rebuilt,
        |  CAST(0 AS BIGINT) AS drift_mismatch
        |FROM (SELECT count(*) AS n FROM embeddings
        |      WHERE vec_id % 7 = 3) c""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      // pin the built index ONCE (the sim33 discipline — five
      // consumers would otherwise re-run the full PQ build each).
      // coarse and codebook are ALREADY localCheckpoint-materialized
      // inside ivfPqBuild (documented there) — re-pinning them was two
      // extra jobs + block copies per gate run (r21); only the
      // corpus-sized codes table needs the pin here
      val idx0 = Similarity.ivfPqBuild(e)
      val idx = idx0.copy(codes = idx0.codes.localCheckpoint())
      val stats = Similarity.ivfPqCellStats(idx, e).localCheckpoint()
      val slice = e.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
      val rerankQuiet = e.select("vec_id", "embedding").unionByName(slice)
      val quiet = Similarity.ivfPqMaintain(idx, stats, e, slice)
      val qm = rankMismatches(
        Similarity.ivfPqSearch(q, quiet.index, rerankQuiet, 5),
        Similarity.ivfPqSearch(q, Similarity.ivfPqAbsorbDelta(idx, slice),
          rerankQuiet, 5))
      val shifted = slice.select(col("vec_id"),
        transform(col("embedding"), x => x + lit(2.0)).as("embedding"))
      val moved = Similarity.ivfPqMaintain(idx, stats, e, shifted)
      val grown = e
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast(DoubleType))
            .as("embedding"))
        .unionByName(shifted)
      val dm = rankMismatches(
        Similarity.ivfPqSearch(q, moved.index, grown, 5),
        Similarity.ivfPqSearch(q, Similarity.ivfPqBuild(grown), grown, 5))
      s.range(1).select(lit(moved.report.nDelta).as("n_delta"),
        lit(if (quiet.rebuilt) 1L else 0L).as("quiet_rebuilt"),
        lit(qm).as("quiet_mismatch"),
        lit(if (moved.rebuilt) 1L else 0L).as("drift_rebuilt"),
        lit(dm).as("drift_mismatch"))
    },

    // LSH persisted BUILD/SERVE split — the sim16 contract for the
    // hyperplane family (the last fused-only index): lshBuild persists
    // the (id, table, bucket) layout — 24 bytes per (vector, table),
    // no quantizer artifact because the hyperplanes derive from
    // (table·bits + j) hashes — and lshSearch serves a query batch
    // against it without ever re-deriving corpus signatures. Invariant
    // gate: the served path must equal the fused annTopK row-for-row
    // (signatures are value-deterministic) AND clear sim03's recall
    // floor against the exact top-5 through the persisted path.
    QueryDef("sim35_lsh_index_serve",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(0 AS BIGINT) AS serve_mismatch
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) {
      (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      withGateWork(s, "sim35", dir) { idxDir =>
        Similarity.lshBuild(e).write.mode("overwrite").parquet(idxDir)
        val served = Similarity.lshSearch(q, s.read.parquet(idxDir), e, 5)
          .localCheckpoint() // two consumers
        val mism = rankMismatches(served, Similarity.annTopK(q, e, 5))
        recallFloor(Similarity.cosineTopK(q, e, 5), served, floorPct = 80)
          .select(col("n_exact"), col("recall_ok"),
            lit(mism).as("serve_mismatch"))
      }
    },

    // BINARY-QUANTIZED two-stage retrieval — the 1-bit compression
    // serving shape (sign-bit codes, 32× smaller than int8): hamming
    // shortlist over packed codes, exact-decimal cosine re-rank. FULL
    // oracle: the hamming count is per-dimension sign-mismatch
    // counting in SQL (bit-packing is an encoding, not math), the
    // shortlist tie-breaks (h, cid) match TopKAgg's, and the re-rank
    // is sim01's decimal formulation — row-for-row replay, no recall
    // floor needed.
    QueryDef("sim23_binary_quant", BqTopkSql) { (s, dir) =>
      val e = emb(s, dir)
      Similarity.bqTopK(e.filter(col("vec_id") < 10), e, 5)
    },

    // The same search SERVED from persisted codes — the storage shape
    // that realizes binary quantization's 64× byte win (the fused path
    // re-packs from raw vectors, so its scan still reads the doubles;
    // SCALE.md's "round 17 late additions" rows measure the difference): codes
    // build once (a pure narrow pass), land as parquet, and the
    // hamming scan reads ONLY the code column. Same FULL oracle as
    // sim23 — the served path must be row-for-row identical.
    QueryDef("sim24_bq_code_serve", BqTopkSql) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      withGateWork(s, "sim24", dir) { codesDir =>
        Similarity.binaryCodes(e).write.mode("overwrite").parquet(codesDir)
        Similarity.bqSearch(q, s.read.parquet(codesDir), e, 5)
      }
    },

    // BQ code-store DELETION — the last column of the lifecycle
    // matrix (registry dd22, IVF/IVF-PQ sim27/sim28, CDC st13, delta
    // log st14): bqDeleteIds drops the % 10 == 9 slice from the
    // PERSISTED code table (broadcast anti-join on the id key; there
    // is no quantizer to touch — the encoder is stateless sign bits),
    // and because the deleted store IS binaryCodes over the survivors
    // row-for-row by construction, the gate is sim23's FULL SQL replay
    // restricted to the surviving candidates — a hash match, not a
    // recall floor, and strictly stronger than sim27's certainty
    // column: a deleted id in the served shortlist would break the
    // hash outright.
    QueryDef("sim31_bq_delete",
      bqTopkSql(" AND c.vec_id % 10 <> 9")) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val surv = e.filter(col("vec_id") % 10 =!= 9)
      withGateWork(s, "sim31", dir) { codesDir =>
        Similarity.binaryCodes(e).write.mode("overwrite").parquet(codesDir)
        val deleted = Similarity.bqDeleteIds(s.read.parquet(codesDir),
          e.filter(col("vec_id") % 10 === 9).select("vec_id"))
        // re-rank side drops the rows on the same cadence (the
        // bqDeleteIds/ivfPqDeleteIds contract: codes gone = never
        // shortlisted; a stale re-rank source is the only path back)
        Similarity.bqSearch(q, deleted, surv, 5)
      }
    },

    // BQ code-store ABSORPTION — ivfAbsorbDelta's contract on the BQ
    // family, and the one absorb in the matrix that is EXACT rather
    // than a recall trade: the sign-bit encoder has no trained state,
    // so the absorbed store is bit-identical to building at rest over
    // the grown corpus (no drift column exists for this family — there
    // is nothing trainable to drift; the lifecycle closes with
    // delete + absorb alone). The base (% 5 != 2) persists as parquet,
    // the delta (% 5 == 2) encodes through the one shared binaryCodes
    // definition and appends in-plan, and the served result must
    // hash-match sim23's FULL replay over the grown corpus — the
    // fused-path oracle, unchanged.
    QueryDef("sim32_bq_absorb", BqTopkSql) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      withGateWork(s, "sim32", dir) { codesDir =>
        Similarity.binaryCodes(e.filter(col("vec_id") % 5 =!= 2))
          .write.mode("overwrite").parquet(codesDir)
        val absorbed = Similarity.bqAbsorbDelta(s.read.parquet(codesDir),
          e.filter(col("vec_id") % 5 === 2))
        Similarity.bqSearch(q, absorbed, e, 5)
      }
    },

    // Retrieval EVALUATION: recall@5 / MRR / nDCG@5 of the exact dense
    // shortlist against label-match relevance (same-label candidates
    // are the relevant set — the embeddings table's planted cluster
    // structure becomes the judged pool). Fully oracle-expressible:
    // the shortlist is sim01's exact formulation, hits/counts/first-
    // hit-rank are integers, recall and MRR are one IEEE division
    // each, and both DCG sums quantize their single libm term
    // (1/log2(r+1)) to DECIMAL(18,6) before summing (ta08 pattern).
    QueryDef("sim15_retrieval_metrics",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                unnest(range(1, len(embedding) + 1)) AS i
        |        FROM embeddings),
        | e AS (SELECT vec_id, i,
        |       CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | n AS (SELECT vec_id, sum(x * x) AS nrm FROM e GROUP BY vec_id),
        | d AS (SELECT q.vec_id AS qid, c.vec_id AS cid, sum(q.x * c.x) AS dot
        |       FROM e q JOIN e c ON q.i = c.i
        |       WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
        |       GROUP BY 1, 2),
        | sim AS (SELECT qid, cid,
        |           CAST(dot AS DOUBLE) /
        |             sqrt(CAST(nq.nrm AS DOUBLE) * CAST(nc.nrm AS DOUBLE)) AS sim
        |         FROM d
        |         JOIN n nq ON nq.vec_id = qid
        |         JOIN n nc ON nc.vec_id = cid),
        | res AS (SELECT qid, cid, rank FROM (
        |     SELECT qid, cid,
        |       CAST(row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS BIGINT) AS rank
        |     FROM sim) t WHERE rank <= 5),
        | tru AS (SELECT q.vec_id AS qid, c.vec_id AS cid
        |         FROM embeddings q JOIN embeddings c
        |           ON q.label = c.label AND q.vec_id <> c.vec_id
        |         WHERE q.vec_id < 10),
        | nt AS (SELECT qid, count(*) AS n_truth FROM tru GROUP BY qid),
        | h AS (SELECT r.qid,
        |         sum(CASE WHEN t.cid IS NOT NULL THEN 1 ELSE 0 END) AS n_hits,
        |         min(CASE WHEN t.cid IS NOT NULL THEN r.rank END) AS first_hit,
        |         coalesce(sum(CASE WHEN t.cid IS NOT NULL THEN
        |             CAST(1.0 / log2(CAST(r.rank AS DOUBLE) + 1.0) AS DECIMAL(18,6))
        |           END), CAST(0 AS DECIMAL(18,6))) AS dcg
        |       FROM res r LEFT JOIN tru t ON t.qid = r.qid AND t.cid = r.cid
        |       GROUP BY r.qid),
        | m AS (SELECT coalesce(h.qid, nt.qid) AS qid,
        |         coalesce(n_hits, 0) AS n_hits,
        |         coalesce(n_truth, 0) AS n_truth, first_hit,
        |         coalesce(dcg, CAST(0 AS DECIMAL(18,6))) AS dcg,
        |         least(5, coalesce(n_truth, 0)) AS den
        |       FROM h FULL JOIN nt ON nt.qid = h.qid),
        | idcg AS (SELECT qid,
        |            sum(CAST(1.0 / log2(CAST(r AS DOUBLE) + 1.0) AS DECIMAL(18,6))) AS idcg
        |          FROM (SELECT qid, unnest(range(1, den + 1)) AS r FROM m) u
        |          GROUP BY qid)
        |SELECT m.qid, CAST(n_hits AS BIGINT) AS n_hits,
        |  CAST(n_truth AS BIGINT) AS n_truth,
        |  CASE WHEN den > 0 THEN CAST(n_hits AS DOUBLE) / CAST(den AS DOUBLE)
        |       ELSE 0.0 END AS recall_at_k,
        |  CASE WHEN first_hit IS NOT NULL THEN 1.0 / CAST(first_hit AS DOUBLE)
        |       ELSE 0.0 END AS mrr,
        |  CASE WHEN idcg > 0 THEN CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE)
        |       ELSE 0.0 END AS ndcg
        |FROM m LEFT JOIN idcg ON idcg.qid = m.qid
        |ORDER BY m.qid""".stripMargin) { (s, dir) =>
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 10)
      val results = Similarity.cosineTopK(q, e, 5, exact = true)
      // label-match relevance: the query side is 10 rows — broadcast —
      // so the truth join never shuffles the corpus
      val truth = broadcast(q.select(col("vec_id").as("qid"),
        col("label").as("_ql")))
        .join(e.select(col("vec_id").as("cid"), col("label").as("_cl")),
          col("_ql") === col("_cl") && col("qid") =!= col("cid"))
        .select("qid", "cid")
      Similarity.retrievalMetrics(results, truth, 5)
    },

    // ================= clustering =================

    // k-means seed assignment (k=8): seeds are hash-picked CORPUS
    // vectors (min id per id%k residue), distances fold in exact
    // DECIMAL — summation-order independent — and ties break on the
    // cluster id, so the full 1-nearest-seed assignment is a pure
    // function of the data that DuckDB hash-matches row for row.
    QueryDef("km01_kmeans_assign",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                   unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings),
        | e AS (SELECT vec_id, i,
        |         CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | sid AS (SELECT min(vec_id) AS cid FROM embeddings GROUP BY vec_id % 8),
        | c AS (SELECT e.vec_id AS cid, e.i, e.x AS cx
        |       FROM e JOIN sid ON e.vec_id = sid.cid),
        | d AS (SELECT e.vec_id, c.cid, sum((e.x - c.cx) * (e.x - c.cx)) AS d
        |       FROM e JOIN c ON e.i = c.i GROUP BY 1, 2),
        | a AS (SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        |       FROM d)
        |SELECT vec_id, CAST(cid AS BIGINT) AS cluster
        |FROM a WHERE r = 1 ORDER BY vec_id""".stripMargin) { (s, dir) =>
      graft.operators.Clustering.assignToSeeds(embWide(s, dir), 8)
        .orderBy("vec_id")
    },

    // The Lloyd update step on km01's assignment, summarized exactly:
    // member counts + L1 norm of each updated mean centroid from exact
    // per-position decimal sums (order-independent), divided once in
    // identical IEEE doubles.
    QueryDef("km02_kmeans_update",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                   unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings),
        | e AS (SELECT vec_id, i,
        |         CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | sid AS (SELECT min(vec_id) AS cid FROM embeddings GROUP BY vec_id % 8),
        | c AS (SELECT e.vec_id AS cid, e.i, e.x AS cx
        |       FROM e JOIN sid ON e.vec_id = sid.cid),
        | d AS (SELECT e.vec_id, c.cid, sum((e.x - c.cx) * (e.x - c.cx)) AS d
        |       FROM e JOIN c ON e.i = c.i GROUP BY 1, 2),
        | a AS (SELECT vec_id, cid,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        |       FROM d),
        | m AS (SELECT vec_id, cid FROM a WHERE r = 1),
        | ps AS (SELECT m.cid, e.i, sum(e.x) AS sp
        |        FROM m JOIN e USING (vec_id) GROUP BY 1, 2),
        | l1 AS (SELECT cid, sum(abs(sp)) AS sl1 FROM ps GROUP BY cid),
        | n AS (SELECT cid, count(*) AS nm FROM m GROUP BY cid)
        |SELECT CAST(n.cid AS BIGINT) AS cluster, CAST(nm AS BIGINT) AS n_members,
        |  CAST(sl1 AS DOUBLE) / CAST(nm AS DOUBLE) AS centroid_l1
        |FROM n JOIN l1 USING (cid) ORDER BY cluster""".stripMargin) { (s, dir) =>
      graft.operators.Clustering.lloydUpdateStats(embWide(s, dir), 8)
        .orderBy("cluster")
    },

    // Clustering QUALITY: per-cluster mean silhouette (centroid
    // variant: a = nearest-centroid distance, b = second-nearest;
    // s = (b−a)/b) — the "is k right / did the clusters separate"
    // gauge a curriculum bucketing or IVF build reads before trusting
    // its partition. Selection of a and b is exact-decimal (no float
    // picks a winner); each ratio is one IEEE division quantized to
    // 6 dp before the order-independent per-cluster sum.
    QueryDef("km03_silhouette",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                   unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings),
        | e AS (SELECT vec_id, i,
        |         CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | sid AS (SELECT min(vec_id) AS cid FROM embeddings GROUP BY vec_id % 8),
        | c AS (SELECT e.vec_id AS cid, e.i, e.x AS cx
        |       FROM e JOIN sid ON e.vec_id = sid.cid),
        | d AS (SELECT e.vec_id, c.cid, sum((e.x - c.cx) * (e.x - c.cx)) AS d
        |       FROM e JOIN c ON e.i = c.i GROUP BY 1, 2),
        | a AS (SELECT vec_id, cid, d,
        |         row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        |       FROM d),
        | p AS (SELECT a1.vec_id, a1.cid AS cluster,
        |         CAST(CASE WHEN a2.d = 0 THEN 0.0
        |              ELSE CAST(a2.d - a1.d AS DOUBLE) / CAST(a2.d AS DOUBLE)
        |              END AS DECIMAL(18,6)) AS sq
        |       FROM a a1 JOIN a a2 USING (vec_id)
        |       WHERE a1.r = 1 AND a2.r = 2)
        |SELECT CAST(cluster AS BIGINT) AS cluster, count(*) AS n_members,
        |  CAST(sum(sq) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_silhouette
        |FROM p GROUP BY cluster ORDER BY cluster""".stripMargin) { (s, dir) =>
      graft.operators.Clustering.silhouetteStats(embWide(s, dir), 8)
        .orderBy("cluster")
    },

    // Greedy farthest-point seeding (Gonzalez k-center, the
    // deterministic k-means++ cousin): 4 centers over the embedding
    // corpus, each step the exact-decimal argmax of distance-to-
    // nearest-chosen (ties to lower id), radius = that distance. The
    // oracle unrolls the same 3 greedy steps with least() chains —
    // chosen sets must match id-for-id, radii bit-for-bit.
    QueryDef("km04_farthest_init",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                   unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings WHERE embedding IS NOT NULL),
        | e AS (SELECT vec_id, i,
        |         CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | c0 AS (SELECT min(vec_id) AS cid FROM embeddings
        |        WHERE embedding IS NOT NULL),
        | d1 AS (SELECT a.vec_id, sum((a.x - b.x) * (a.x - b.x)) AS d
        |        FROM e a JOIN e b ON a.i = b.i
        |          AND b.vec_id = (SELECT cid FROM c0) GROUP BY 1),
        | c1 AS (SELECT vec_id AS cid, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
        | d2n AS (SELECT a.vec_id, sum((a.x - b.x) * (a.x - b.x)) AS d
        |         FROM e a JOIN e b ON a.i = b.i
        |           AND b.vec_id = (SELECT cid FROM c1) GROUP BY 1),
        | dm2 AS (SELECT d1.vec_id, least(d1.d, d2n.d) AS d
        |         FROM d1 JOIN d2n USING (vec_id)),
        | c2 AS (SELECT vec_id AS cid, d FROM dm2 ORDER BY d DESC, vec_id LIMIT 1),
        | d3n AS (SELECT a.vec_id, sum((a.x - b.x) * (a.x - b.x)) AS d
        |         FROM e a JOIN e b ON a.i = b.i
        |           AND b.vec_id = (SELECT cid FROM c2) GROUP BY 1),
        | dm3 AS (SELECT dm2.vec_id, least(dm2.d, d3n.d) AS d
        |         FROM dm2 JOIN d3n USING (vec_id)),
        | c3 AS (SELECT vec_id AS cid, d FROM dm3 ORDER BY d DESC, vec_id LIMIT 1)
        |SELECT 0 AS step, CAST(cid AS BIGINT) AS center_id,
        |       CAST(0.0 AS DOUBLE) AS radius FROM c0
        |UNION ALL SELECT 1, CAST(cid AS BIGINT), CAST(d AS DOUBLE) FROM c1
        |UNION ALL SELECT 2, CAST(cid AS BIGINT), CAST(d AS DOUBLE) FROM c2
        |UNION ALL SELECT 3, CAST(cid AS BIGINT), CAST(d AS DOUBLE) FROM c3
        |ORDER BY step""".stripMargin) { (s, dir) =>
      graft.operators.Clustering.farthestPointSeeds(embWide(s, dir), 4)
        .orderBy("step")
    },

    // The full Lloyd LOOP (km01 assign + km02 update, iterated): 2
    // rounds from the hash seeds with per-(round, cluster) member
    // counts and EXACT inertia — the convergence trace a k-means
    // training job monitors. Round-2 centroids are the exact decimal
    // member sums divided once in IEEE and quantized to 6 dp via the
    // sim05 floor(q·10⁶+0.5) idiom (a plain double→DECIMAL cast is not
    // engine-portable at half boundaries — Spark rounds the shortest
    // decimal string, DuckDB the exact binary; measured 7e-10 apart on
    // one centroid), so round-2 distances are again exact decimal
    // arithmetic on identical inputs in both engines. The oracle
    // unrolls both rounds (a1/e MATERIALIZED — the gr05 lesson: DuckDB
    // re-inlines CTEs exponentially otherwise).
    QueryDef("km05_lloyd_rounds",
      """WITH e0 AS (SELECT vec_id, unnest(embedding) AS rawx,
        |                   unnest(range(1, len(embedding) + 1)) AS i
        |            FROM embeddings),
        | e AS MATERIALIZED (SELECT vec_id, i,
        |         CAST(CAST(rawx AS DOUBLE) AS DECIMAL(12,6)) AS x FROM e0),
        | sid AS (SELECT min(vec_id) AS cid FROM embeddings GROUP BY vec_id % 8),
        | c1 AS (SELECT e.vec_id AS cid, e.i, e.x AS cx
        |        FROM e JOIN sid ON e.vec_id = sid.cid),
        | d1 AS (SELECT e.vec_id, c1.cid, sum((e.x - c1.cx) * (e.x - c1.cx)) AS d
        |        FROM e JOIN c1 ON e.i = c1.i GROUP BY 1, 2),
        | a1 AS MATERIALIZED (SELECT vec_id, cid, d FROM (
        |        SELECT vec_id, cid, d,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        |        FROM d1) t WHERE r = 1),
        | s1 AS (SELECT CAST(1 AS BIGINT) AS round, CAST(cid AS BIGINT) AS cluster,
        |          CAST(count(*) AS BIGINT) AS n_members, CAST(sum(d) AS DOUBLE) AS inertia
        |        FROM a1 GROUP BY cid),
        | c2 AS MATERIALIZED (SELECT a1.cid, e.i,
        |          CAST(CAST(floor(CAST(sum(e.x) AS DOUBLE) / count(*) * 1000000.0 + 0.5)
        |                    AS DECIMAL(20,0)) * CAST(0.000001 AS DECIMAL(7,6))
        |               AS DECIMAL(12,6)) AS cx
        |        FROM a1 JOIN e USING (vec_id) GROUP BY 1, 2),
        | d2 AS (SELECT e.vec_id, c2.cid, sum((e.x - c2.cx) * (e.x - c2.cx)) AS d
        |        FROM e JOIN c2 ON e.i = c2.i GROUP BY 1, 2),
        | a2 AS (SELECT vec_id, cid, d FROM (
        |        SELECT vec_id, cid, d,
        |          row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS r
        |        FROM d2) t WHERE r = 1),
        | s2 AS (SELECT CAST(2 AS BIGINT) AS round, CAST(cid AS BIGINT) AS cluster,
        |          CAST(count(*) AS BIGINT) AS n_members, CAST(sum(d) AS DOUBLE) AS inertia
        |        FROM a2 GROUP BY cid)
        |SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |ORDER BY round, cluster""".stripMargin) { (s, dir) =>
      graft.operators.Clustering.lloydRounds(embWide(s, dir), 8, rounds = 2)
    },

    // ================= graph =================

    // PageRank importance over the who-trades-with-whom graph
    // (customer↔supplier via orders⋈lineitem, symmetrized; node ids
    // disambiguated as 2k / 2k+1): 5 damped iterations, top-20 nodes.
    // The crawl-style source-importance signal corpus curation attaches
    // to documents. Each edge contribution quantizes to DECIMAL(18,12)
    // before the per-node sum, so every iteration is exact-sum +
    // three correctly-rounded IEEE ops — bit-identical across engines
    // and partitionings; the oracle unrolls the same 5 rounds.
    QueryDef("gr01_pagerank",
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        | edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
        |           UNION ALL SELECT s * 2 + 1, c * 2 FROM pairs),
        | deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        | ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
        | nodes AS (SELECT DISTINCT src AS v FROM edges),
        | nn AS (SELECT count(*) AS n FROM nodes),
        | r0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        | c1 AS (SELECT dst, sum(CAST(r / outdeg AS DECIMAL(18,12))) AS cs
        |        FROM ed JOIN r0 ON ed.src = r0.v GROUP BY dst),
        | r1 AS (SELECT nd.v, 0.15 / nn.n + 0.85 * CAST(COALESCE(c1.cs, 0) AS DOUBLE) AS r
        |        FROM nodes nd CROSS JOIN nn LEFT JOIN c1 ON c1.dst = nd.v),
        | c2 AS (SELECT dst, sum(CAST(r / outdeg AS DECIMAL(18,12))) AS cs
        |        FROM ed JOIN r1 ON ed.src = r1.v GROUP BY dst),
        | r2 AS (SELECT nd.v, 0.15 / nn.n + 0.85 * CAST(COALESCE(c2.cs, 0) AS DOUBLE) AS r
        |        FROM nodes nd CROSS JOIN nn LEFT JOIN c2 ON c2.dst = nd.v),
        | c3 AS (SELECT dst, sum(CAST(r / outdeg AS DECIMAL(18,12))) AS cs
        |        FROM ed JOIN r2 ON ed.src = r2.v GROUP BY dst),
        | r3 AS (SELECT nd.v, 0.15 / nn.n + 0.85 * CAST(COALESCE(c3.cs, 0) AS DOUBLE) AS r
        |        FROM nodes nd CROSS JOIN nn LEFT JOIN c3 ON c3.dst = nd.v),
        | c4 AS (SELECT dst, sum(CAST(r / outdeg AS DECIMAL(18,12))) AS cs
        |        FROM ed JOIN r3 ON ed.src = r3.v GROUP BY dst),
        | r4 AS (SELECT nd.v, 0.15 / nn.n + 0.85 * CAST(COALESCE(c4.cs, 0) AS DOUBLE) AS r
        |        FROM nodes nd CROSS JOIN nn LEFT JOIN c4 ON c4.dst = nd.v),
        | c5 AS (SELECT dst, sum(CAST(r / outdeg AS DECIMAL(18,12))) AS cs
        |        FROM ed JOIN r4 ON ed.src = r4.v GROUP BY dst),
        | r5 AS (SELECT nd.v, 0.15 / nn.n + 0.85 * CAST(COALESCE(c5.cs, 0) AS DOUBLE) AS r
        |        FROM nodes nd CROSS JOIN nn LEFT JOIN c5 ON c5.dst = nd.v)
        |SELECT CAST(v AS BIGINT) AS node,
        |  CASE WHEN v % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_type,
        |  r AS score
        |FROM r5 ORDER BY score DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val pairs = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
        .distinct()
      // single-explode symmetrization (the dd08 discipline: union(e,
      // e.swap) would evaluate the join twice before the checkpoint)
      val edges = pairs.select(explode(array(
          struct((col("c") * 2).as("src"), (col("sup") * 2 + 1).as("dst")),
          struct((col("sup") * 2 + 1).as("src"), (col("c") * 2).as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      graft.operators.Graph.pageRank(edges, iterations = 5)
        .select(col("v").cast(LongType).as("node"),
          when(col("v") % 2 === 0, "cust").otherwise("supp").as("node_type"),
          col("r").as("score"))
        .orderBy(desc("score"), col("node")).limit(20)
    },

    // Connected components over the high-value same-nation trade graph
    // (customers ↔ suppliers sharing an expensive order within their
    // own nation — 40 components of size 2–33 at the gate SF, not one
    // giant blob). Spark runs Dedup.connectedComponents (min-label BSP
    // rounds, star contraction past their budget); the oracle replays
    // reachability as a recursive CTE closure (min reachable node ≡
    // the min-id label).
    QueryDef("gr02_components",
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE o_totalprice > 400000 AND c_nationkey = s_nationkey),
        | sym AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        | reach(n, l) AS (
        |   SELECT a, a FROM sym
        |   UNION
        |   SELECT s.b, r.l FROM reach r JOIN sym s ON s.a = r.n),
        | lab AS (SELECT n, min(l) AS comp FROM reach GROUP BY n)
        |SELECT CAST(comp AS BIGINT) AS comp,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_cust,
        |  CAST(sum(CASE WHEN n % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_supp
        |FROM lab GROUP BY comp ORDER BY n_nodes DESC, comp""".stripMargin) { (s, dir) =>
      val e0 = Tables.load(s, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.load(s, dir, "customer"),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("s_suppkey") === col("l_suppkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.Dedup.connectedComponents(e0)
        .groupBy(col("cluster").cast(LongType).as("comp"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(when(col("id") % 2 === 0, 1).otherwise(0)).cast(LongType)
            .as("n_cust"),
          sum(when(col("id") % 2 === 1, 1).otherwise(0)).cast(LongType)
            .as("n_supp"))
        .orderBy(desc("n_nodes"), col("comp"))
    },

    // Per-node triangle counts over the supplier co-occurrence graph
    // (suppliers co-appearing in ≥ 30 orders — 455 edges / 215
    // triangles at the gate SF). Spark enumerates with the
    // degree-ordered compact-forward orientation (wedge fan-out bounded
    // by degeneracy, not hub degree²); the oracle uses the simple
    // a<b<c id orientation — counts are orientation-invariant, so the
    // two must agree row-for-row.
    QueryDef("gr03_triangles",
      """WITH ps AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        | e AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |       FROM ps a JOIN ps b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |       GROUP BY 1, 2 HAVING count(*) >= 30),
        | tri AS (SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
        |         FROM e e1 JOIN e e2 ON e2.s1 = e1.s2
        |         JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
        | nd AS (SELECT unnest([x, y, z]) AS node FROM tri)
        |SELECT CAST(node AS BIGINT) AS node, count(*) AS n_tri
        |FROM nd GROUP BY node ORDER BY n_tri DESC, node""".stripMargin) { (s, dir) =>
      val ps = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey").distinct()
      val edges = ps.select(col("l_orderkey"), col("l_suppkey").as("s1"))
        .join(ps.select(col("l_orderkey"), col("l_suppkey").as("s2")),
          "l_orderkey")
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 30)
        .select(col("s1").as("src"), col("s2").as("dst"))
      graft.operators.Graph.triangleCounts(edges)
        .orderBy(desc("n_tri"), col("node"))
    },

    // Local clustering coefficient over the same supplier
    // co-occurrence graph as gr03: 2·tri/(deg·(deg−1)) per node with
    // deg ≥ 2 — the neighborhood-density (link-farm / community) score.
    // deg and tri are exact integers in both engines, so the
    // coefficient is a single IEEE division on identical operands; the
    // oracle re-derives triangles with the simple a<b<c orientation
    // (counts are orientation-invariant).
    QueryDef("gr04_clustering_coeff",
      """WITH ps AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        | e AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |       FROM ps a JOIN ps b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |       GROUP BY 1, 2 HAVING count(*) >= 30),
        | deg AS (SELECT node, count(*) AS deg FROM
        |           (SELECT s1 AS node FROM e UNION ALL SELECT s2 FROM e)
        |         GROUP BY 1),
        | tri AS (SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
        |         FROM e e1 JOIN e e2 ON e2.s1 = e1.s2
        |         JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
        | nd AS (SELECT unnest([x, y, z]) AS node FROM tri),
        | tc AS (SELECT node, count(*) AS n_tri FROM nd GROUP BY node)
        |SELECT CAST(d.node AS BIGINT) AS node, CAST(deg AS BIGINT) AS deg,
        |  CAST(COALESCE(n_tri, 0) AS BIGINT) AS n_tri,
        |  CAST(COALESCE(n_tri, 0) * 2 AS DOUBLE)
        |    / CAST(deg * (deg - 1) AS DOUBLE) AS coeff
        |FROM deg d LEFT JOIN tc ON tc.node = d.node
        |WHERE deg >= 2
        |ORDER BY coeff DESC, node""".stripMargin) { (s, dir) =>
      val ps = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey").distinct()
      val edges = ps.select(col("l_orderkey"), col("l_suppkey").as("s1"))
        .join(ps.select(col("l_orderkey"), col("l_suppkey").as("s2")),
          "l_orderkey")
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 30)
        .select(col("s1").as("src"), col("s2").as("dst"))
      graft.operators.Graph.clusteringCoefficients(edges)
        .orderBy(desc("coeff"), col("node"))
    },

    // k-core peeling (k=4, 5 synchronous rounds — past this graph's
    // peel depth) over the same supplier co-occurrence graph: the
    // dense-core extraction separating the tightly-linked hub from the
    // pendant fringe. Both engines unroll exactly 5 peels (the gr01
    // discipline), so the surviving (node, degree) set hash-matches
    // round-for-round; the spec proves the fixpoint property
    // separately. The CTEs are AS MATERIALIZED: each round references
    // its predecessor ~3× (degree union + both IN-subquery ends), and
    // DuckDB's inlining makes the plain-CTE chain exponential — the
    // un-hinted text measured >60 s where the materialized one runs
    // in 0.1 s.
    QueryDef("gr05_kcore",
      """WITH ps AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        | e0 AS MATERIALIZED (SELECT a.l_suppkey AS a, b.l_suppkey AS b
        |       FROM ps a JOIN ps b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |       GROUP BY 1, 2 HAVING count(*) >= 30),
        | d1 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |          (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
        |        GROUP BY 1),
        | n1 AS MATERIALIZED (SELECT node FROM d1 WHERE deg >= 4),
        | e1 AS MATERIALIZED (SELECT a, b FROM e0 WHERE a IN (SELECT node FROM n1)
        |                               AND b IN (SELECT node FROM n1)),
        | d2 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |          (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
        |        GROUP BY 1),
        | n2 AS MATERIALIZED (SELECT node FROM d2 WHERE deg >= 4),
        | e2 AS MATERIALIZED (SELECT a, b FROM e1 WHERE a IN (SELECT node FROM n2)
        |                               AND b IN (SELECT node FROM n2)),
        | d3 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |          (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
        |        GROUP BY 1),
        | n3 AS MATERIALIZED (SELECT node FROM d3 WHERE deg >= 4),
        | e3 AS MATERIALIZED (SELECT a, b FROM e2 WHERE a IN (SELECT node FROM n3)
        |                               AND b IN (SELECT node FROM n3)),
        | d4 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |          (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
        |        GROUP BY 1),
        | n4 AS MATERIALIZED (SELECT node FROM d4 WHERE deg >= 4),
        | e4 AS MATERIALIZED (SELECT a, b FROM e3 WHERE a IN (SELECT node FROM n4)
        |                               AND b IN (SELECT node FROM n4)),
        | d5 AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        |          (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
        |        GROUP BY 1),
        | n5 AS MATERIALIZED (SELECT node FROM d5 WHERE deg >= 4),
        | e5 AS MATERIALIZED (SELECT a, b FROM e4 WHERE a IN (SELECT node FROM n5)
        |                               AND b IN (SELECT node FROM n5))
        |SELECT CAST(node AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS deg
        |FROM (SELECT a AS node FROM e5 UNION ALL SELECT b FROM e5)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val ps = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey").distinct()
      val edges = ps.select(col("l_orderkey"), col("l_suppkey").as("s1"))
        .join(ps.select(col("l_orderkey"), col("l_suppkey").as("s2")),
          "l_orderkey")
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 30)
        .select(col("s1").as("src"), col("s2").as("dst"))
      graft.operators.Graph.kCore(edges, k = 4, rounds = 5)
        .select(col("node"), col("deg").cast(LongType).as("deg"))
        .orderBy("node")
    },

    // Synchronous label-propagation communities over the supplier
    // co-occurrence graph (3 fixed rounds, ties toward the smallest
    // label — the deterministic BSP variant; see Graph.labelPropagation
    // scaladoc). The oracle replays the identical unrolled rounds with
    // MATERIALIZED per-round CTEs (the gr05 lesson: inlined round
    // chains re-expand exponentially), picking each node's argmax
    // (count desc, label asc) via a row_number — the oracle may use a
    // window, the engine must not (PlanSpec pins the no-Window argmax).
    QueryDef("gr06_label_prop",
      """WITH ps AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        | e0 AS MATERIALIZED (SELECT a.l_suppkey AS a, b.l_suppkey AS b
        |       FROM ps a JOIN ps b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |       GROUP BY 1, 2 HAVING count(*) >= 30),
        | sym AS MATERIALIZED (SELECT a AS u, b AS v FROM e0
        |                      UNION ALL SELECT b, a FROM e0),
        | l0 AS MATERIALIZED (SELECT DISTINCT u AS n, u AS l FROM sym),
        | v1 AS MATERIALIZED (SELECT s.v AS n, l.l, count(*) AS c
        |       FROM sym s JOIN l0 l ON l.n = s.u GROUP BY 1, 2),
        | l1 AS MATERIALIZED (SELECT n, l FROM
        |       (SELECT n, l, row_number() OVER
        |          (PARTITION BY n ORDER BY c DESC, l) AS rn FROM v1)
        |       WHERE rn = 1),
        | v2 AS MATERIALIZED (SELECT s.v AS n, l.l, count(*) AS c
        |       FROM sym s JOIN l1 l ON l.n = s.u GROUP BY 1, 2),
        | l2 AS MATERIALIZED (SELECT n, l FROM
        |       (SELECT n, l, row_number() OVER
        |          (PARTITION BY n ORDER BY c DESC, l) AS rn FROM v2)
        |       WHERE rn = 1),
        | v3 AS MATERIALIZED (SELECT s.v AS n, l.l, count(*) AS c
        |       FROM sym s JOIN l2 l ON l.n = s.u GROUP BY 1, 2),
        | l3 AS MATERIALIZED (SELECT n, l FROM
        |       (SELECT n, l, row_number() OVER
        |          (PARTITION BY n ORDER BY c DESC, l) AS rn FROM v3)
        |       WHERE rn = 1)
        |SELECT CAST(n AS BIGINT) AS node, CAST(l AS BIGINT) AS community
        |FROM l3 ORDER BY node""".stripMargin) { (s, dir) =>
      val ps = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey").distinct()
      val edges = ps.select(col("l_orderkey"), col("l_suppkey").as("s1"))
        .join(ps.select(col("l_orderkey"), col("l_suppkey").as("s2")),
          "l_orderkey")
        .filter(col("s1") < col("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("w"))
        .filter(col("w") >= 30)
        .select(col("s1").as("src"), col("s2").as("dst"))
      graft.operators.Graph.labelPropagation(edges, rounds = 3)
        .orderBy("node")
    },

    // Personalized PageRank (random walk with restart): teleport mass
    // goes ONLY to the 5 lowest customer nodes — the TrustRank-style
    // seed-set propagation that expands a handful of vetted sources
    // into corpus-wide source scores (vs gr01's uniform teleport).
    // Same exact-decimal contribution quantization as gr01; 3 rounds
    // unrolled in the oracle; top-20 by score.
    QueryDef("gr07_personalized_pr",
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        | edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs
        |           UNION ALL SELECT s * 2 + 1, c * 2 FROM pairs),
        | deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        | ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
        | nodes AS (SELECT DISTINCT src AS v FROM edges),
        | sd AS (SELECT v FROM nodes WHERE v % 2 = 0 ORDER BY v LIMIT 5),
        | ns AS (SELECT count(*) AS s FROM sd),
        | r0 AS (SELECT nd.v,
        |          CASE WHEN sd.v IS NOT NULL THEN 1.0 / ns.s ELSE 0.0 END AS r
        |        FROM nodes nd CROSS JOIN ns LEFT JOIN sd ON sd.v = nd.v),
        | c1 AS (SELECT dst, sum(CAST(floor(r / ed.outdeg * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))) AS cs
        |        FROM ed JOIN r0 ON ed.src = r0.v GROUP BY dst),
        | r1 AS (SELECT nd.v,
        |          CASE WHEN sd.v IS NOT NULL THEN 0.15 / ns.s ELSE 0.0 END
        |            + 0.85 * CAST(COALESCE(c1.cs, 0) AS DOUBLE) AS r
        |        FROM nodes nd CROSS JOIN ns
        |        LEFT JOIN sd ON sd.v = nd.v LEFT JOIN c1 ON c1.dst = nd.v),
        | c2 AS (SELECT dst, sum(CAST(floor(r / ed.outdeg * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))) AS cs
        |        FROM ed JOIN r1 ON ed.src = r1.v GROUP BY dst),
        | r2 AS (SELECT nd.v,
        |          CASE WHEN sd.v IS NOT NULL THEN 0.15 / ns.s ELSE 0.0 END
        |            + 0.85 * CAST(COALESCE(c2.cs, 0) AS DOUBLE) AS r
        |        FROM nodes nd CROSS JOIN ns
        |        LEFT JOIN sd ON sd.v = nd.v LEFT JOIN c2 ON c2.dst = nd.v),
        | c3 AS (SELECT dst, sum(CAST(floor(r / ed.outdeg * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))) AS cs
        |        FROM ed JOIN r2 ON ed.src = r2.v GROUP BY dst),
        | r3 AS (SELECT nd.v,
        |          CASE WHEN sd.v IS NOT NULL THEN 0.15 / ns.s ELSE 0.0 END
        |            + 0.85 * CAST(COALESCE(c3.cs, 0) AS DOUBLE) AS r
        |        FROM nodes nd CROSS JOIN ns
        |        LEFT JOIN sd ON sd.v = nd.v LEFT JOIN c3 ON c3.dst = nd.v)
        |SELECT CAST(v AS BIGINT) AS node,
        |  CASE WHEN v % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_type,
        |  r AS score
        |FROM r3 ORDER BY score DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val pairs = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
        .distinct()
      val edges = pairs.select(explode(array(
          struct((col("c") * 2).as("src"), (col("sup") * 2 + 1).as("dst")),
          struct((col("sup") * 2 + 1).as("src"), (col("c") * 2).as("dst"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
      val seeds = edges.select(col("src").as("v")).distinct()
        .filter(col("v") % 2 === 0).orderBy("v").limit(5)
      graft.operators.Graph.personalizedPageRank(edges, seeds, iterations = 3)
        .select(col("v").cast(LongType).as("node"),
          when(col("v") % 2 === 0, "cust").otherwise("supp").as("node_type"),
          col("r").as("score"))
        .orderBy(desc("score"), col("node")).limit(20)
    },

    // CLASSIC-semantics PageRank with dangling-mass redistribution
    // over the DIRECTED customer→supplier order graph: every supplier
    // is a pure sink, so each round ~half the total mass is dangling
    // and redistributes uniformly (gr01's operator would drop it —
    // the two variants diverge materially here, which is the point).
    // Same floor-quantized 12-dp contributions as gr07, plus a
    // one-row quantized dangling sum per round; the oracle unrolls
    // the identical 3 rounds. Σr = 1 mass conservation is pinned in
    // CurationOpsSpec.
    QueryDef("gr08_pagerank_dangling",
      """WITH pairs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        | edges AS (SELECT c * 2 AS src, s * 2 + 1 AS dst FROM pairs),
        | deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        | ed AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
        | nd AS (SELECT DISTINCT v FROM
        |          (SELECT src AS v FROM edges UNION ALL SELECT dst FROM edges) u),
        | nodes AS (SELECT nd.v, deg.outdeg FROM nd LEFT JOIN deg ON deg.src = nd.v),
        | nn AS (SELECT count(*) AS n FROM nodes),
        | r0 AS (SELECT v, outdeg, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        | c1 AS (SELECT dst, sum(CAST(floor(r / ed.outdeg * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))) AS cs
        |        FROM ed JOIN r0 ON ed.src = r0.v GROUP BY dst),
        | d1 AS (SELECT COALESCE(sum(CAST(floor(r * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))), 0) AS dm
        |        FROM r0 WHERE outdeg IS NULL),
        | r1 AS (SELECT nd2.v, nd2.outdeg,
        |          0.15 / nn.n + 0.85 * (CAST(COALESCE(c1.cs, 0) AS DOUBLE)
        |            + CAST(d1.dm AS DOUBLE) / nn.n) AS r
        |        FROM nodes nd2 CROSS JOIN nn CROSS JOIN d1
        |        LEFT JOIN c1 ON c1.dst = nd2.v),
        | c2 AS (SELECT dst, sum(CAST(floor(r / ed.outdeg * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))) AS cs
        |        FROM ed JOIN r1 ON ed.src = r1.v GROUP BY dst),
        | d2 AS (SELECT COALESCE(sum(CAST(floor(r * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))), 0) AS dm
        |        FROM r1 WHERE outdeg IS NULL),
        | r2 AS (SELECT nd2.v, nd2.outdeg,
        |          0.15 / nn.n + 0.85 * (CAST(COALESCE(c2.cs, 0) AS DOUBLE)
        |            + CAST(d2.dm AS DOUBLE) / nn.n) AS r
        |        FROM nodes nd2 CROSS JOIN nn CROSS JOIN d2
        |        LEFT JOIN c2 ON c2.dst = nd2.v),
        | c3 AS (SELECT dst, sum(CAST(floor(r / ed.outdeg * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))) AS cs
        |        FROM ed JOIN r2 ON ed.src = r2.v GROUP BY dst),
        | d3 AS (SELECT COALESCE(sum(CAST(floor(r * 1000000000000.0 + 0.5) AS DECIMAL(14,0)) * CAST(0.000000000001 AS DECIMAL(13,12))), 0) AS dm
        |        FROM r2 WHERE outdeg IS NULL),
        | r3 AS (SELECT nd2.v, nd2.outdeg,
        |          0.15 / nn.n + 0.85 * (CAST(COALESCE(c3.cs, 0) AS DOUBLE)
        |            + CAST(d3.dm AS DOUBLE) / nn.n) AS r
        |        FROM nodes nd2 CROSS JOIN nn CROSS JOIN d3
        |        LEFT JOIN c3 ON c3.dst = nd2.v)
        |SELECT CAST(v AS BIGINT) AS node,
        |  CASE WHEN v % 2 = 0 THEN 'cust' ELSE 'supp' END AS node_type,
        |  r AS score
        |FROM r3 ORDER BY score DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val edges = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      graft.operators.Graph.pageRankClassic(edges, iterations = 3)
        .select(col("v").cast(LongType).as("node"),
          when(col("v") % 2 === 0, "cust").otherwise("supp").as("node_type"),
          col("r").as("score"))
        .orderBy(desc("score"), col("node")).limit(20)
    },

    // HITS hubs-and-authorities over the directed cust→supp graph —
    // the two-sided ranking PageRank's single score conflates: big
    // BUYERS (hubs) vs widely-bought-from SUPPLIERS (authorities), on
    // a bipartite graph where the separation is structural. L1-
    // normalized power iteration with floor-quantized contributions
    // (the gr07/gr08 idiom) so the oracle unrolls the identical 2
    // rounds; top-20 by authority.
    QueryDef("gr09_hits", hitsOracleSql(2)) { (s, dir) =>
      val pairs = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
        .distinct()
      val edges = pairs.select((col("c") * 2).as("src"),
        (col("sup") * 2 + 1).as("dst"))
      graft.operators.Graph.hits(edges, iterations = 2)
        .select(col("v").cast(LongType).as("node"),
          when(col("v") % 2 === 0, "cust").otherwise("supp").as("node_type"),
          col("hub"), col("authority"))
        .orderBy(desc("authority"), desc("hub"), col("node")).limit(20)
    },

    // Connected components on a DEEP graph — the star-contraction
    // escape as a gate row, not just a rehearsal: each customer's orders
    // linked consecutively by date form a CHAIN whose diameter is the
    // customer's order count (~10–25 at the gate SF), past the fixed
    // 4-round BSP budget, so star contraction finishes every
    // component. The oracle needs no recursion: a chain connects ALL
    // of its customer's orders, so the component label is simply the
    // customer's min order key and the size its order count —
    // closed-form ground truth against a genuinely iterative run.
    QueryDef("gr10_components_chain",
      """WITH c AS (SELECT o_custkey, count(*) AS n, min(o_orderkey) AS m
        |           FROM orders GROUP BY 1 HAVING count(*) >= 2)
        |SELECT CAST(m AS BIGINT) AS comp, CAST(n AS BIGINT) AS n_orders
        |FROM c ORDER BY comp""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val edges = Tables.load(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .withColumn("prev", lag(col("o_orderkey"), 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev").as("src"), col("o_orderkey").as("dst"))
      graft.operators.Dedup.connectedComponents(edges)
        .groupBy(col("cluster").cast(LongType).as("comp"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy("comp")
    },

    // ================= multimodal (binary columns) =================

    // Deterministic synthetic assets (payload bytes derived from ids) →
    // batched feature extraction over the BinaryType column, with a FULL
    // hash-match oracle: SQL cannot decode PNG/WAV, but the generation
    // contract is a pure function of asset_id, so the oracle replays it
    // sequentially at construction time (Multimodal.checksumOracleSql)
    // and pins each asset's quantized feature checksum as a literal —
    // the distributed decode (partitioned scan, batched mapPartitions)
    // must reproduce the sequential contract bit-for-bit.
    QueryDef("mm01_feature_extract",
      graft.multimodal.Multimodal.checksumOracleSql(300, 16)) { (s, dir) =>
      import s.implicits._
      val assets = graft.multimodal.Multimodal.syntheticAssets(s, 300)
      graft.multimodal.Multimodal.extractFeatures(assets, dim = 16)
        .map(f => (f.asset_id, f.kind,
          graft.multimodal.Multimodal.featureChecksum(f.feature)))
        .toDF("asset_id", "kind", "feature_checksum")
        .orderBy("asset_id")
    },

    // The metadata-only plans (resize targets, sampled frame indices)
    // are pure arithmetic over the asset metadata, and the synthetic
    // metadata is itself a pure function of asset_id — so DuckDB can
    // recompute the ENTIRE expected output from range(300) and the
    // generation contract: a full hash-match for the planning half of
    // the multimodal surface (the decoding half, mm01, hash-matches via
    // the sequential contract replay above).
    QueryDef("mm02_media_plans",
      """WITH ids AS (SELECT unnest(range(300)) AS asset_id),
        | m AS (SELECT asset_id,
        |        asset_id % 3 AS k,
        |        CASE WHEN asset_id % 3 = 0 THEN 160 + (asset_id % 4) * 40
        |             WHEN asset_id % 3 = 2 THEN 160 + (asset_id % 4) * 80
        |             ELSE 0 END AS width,
        |        CASE WHEN asset_id % 3 = 0 THEN 120 + (asset_id % 4) * 30
        |             WHEN asset_id % 3 = 2 THEN 120 + (asset_id % 4) * 60
        |             ELSE 0 END AS height,
        |        CASE WHEN asset_id % 3 = 2 THEN 8 + (asset_id % 4) * 2 ELSE 1 END AS n_frames
        |       FROM ids),
        | resize AS (SELECT asset_id, 'resize' AS plan,
        |        CAST(floor(width * least(320.0 / width, 320.0 / height, 1.0)) AS BIGINT) AS a,
        |        CAST(floor(height * least(320.0 / width, 320.0 / height, 1.0)) AS BIGINT) AS b
        |      FROM m WHERE k <> 1),
        | frames AS (SELECT asset_id, 'frame' AS plan,
        |        CAST(unnest(range(0, least(n_frames - 1, 12) + 1, 3)) AS BIGINT) AS a,
        |        CAST(n_frames AS BIGINT) AS b
        |      FROM m WHERE k = 2)
        |SELECT * FROM (SELECT * FROM resize UNION ALL SELECT * FROM frames)
        |ORDER BY asset_id, plan, a""".stripMargin) { (s, dir) =>
      // metadata-only plans: withPayload=false mirrors the pruned scan a
      // parquet asset table would give these plans (bytes never read)
      val assets = graft.multimodal.Multimodal
        .syntheticAssets(s, 300, withPayload = false).toDF()
      val resize = graft.multimodal.Multimodal.resizePlan(assets, 320)
        .select(col("asset_id"), lit("resize").as("plan"),
          col("target_width").cast(LongType).as("a"),
          col("target_height").cast(LongType).as("b"))
      val frames = graft.multimodal.Multimodal.sampleFrames(assets, 3, 5)
        .select(col("asset_id"), lit("frame").as("plan"),
          col("frame_idx").cast(LongType).as("a"),
          col("n_frames").cast(LongType).as("b"))
      resize.unionAll(frames).orderBy("asset_id", "plan", "a")
    },

    // Container-header probe: dims/rate/magic decoded from the ACTUAL
    // PNG/GIF/WAV payload bytes with Catalyst byte arithmetic, pinned
    // against the generation contract recomputed in SQL — the second,
    // non-self-referential oracle angle for the multimodal surface
    // (mm01's contract replay proves distributed≡sequential; this row
    // proves the encoded bytes agree with the typed metadata).
    QueryDef("mm03_header_probe",
      """WITH ids AS (SELECT unnest(range(300)) AS asset_id),
        | m AS (SELECT asset_id,
        |        CASE asset_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |             ELSE 'video' END AS kind,
        |        CASE WHEN asset_id % 3 = 0 THEN 160 + (asset_id % 4) * 40
        |             WHEN asset_id % 3 = 2 THEN 160 + (asset_id % 4) * 80
        |             ELSE 0 END AS w,
        |        CASE WHEN asset_id % 3 = 0 THEN 120 + (asset_id % 4) * 30
        |             WHEN asset_id % 3 = 2 THEN 120 + (asset_id % 4) * 60
        |             ELSE 0 END AS h
        |       FROM ids)
        |SELECT asset_id, kind,
        |  CAST(w AS BIGINT) AS hdr_width, CAST(h AS BIGINT) AS hdr_height,
        |  CAST(CASE WHEN kind = 'audio' THEN 16000 ELSE 0 END AS BIGINT) AS hdr_rate,
        |  CAST(1 AS BIGINT) AS magic_ok
        |FROM m ORDER BY asset_id""".stripMargin) { (s, dir) =>
      graft.multimodal.Multimodal.headerProbe(
        graft.multimodal.Multimodal.syntheticAssets(s, 300).toDF())
        .orderBy("asset_id")
    },

    // Media near-dup: dHash over the decoded PNG pixels, banded hamming
    // pair join (lossless at dist ≤ bands-1 by pigeonhole — same
    // envelope as dd05's simhash family). The corpus plants one clone
    // per image asset: even ids re-encoded (pixel-identical, dist 0),
    // odd ids darkened ~10% (the brightness shift dHash must survive).
    // Oracle = sequential contract replay + BRUTE-FORCE all-pairs
    // (Multimodal.nearDupOracleSql), so the gate proves the banded
    // blocking drops nothing vs exact, not just that the pipeline runs.
    QueryDef("mm04_media_neardup",
      graft.multimodal.Multimodal.nearDupOracleSql(300, 3)) { (s, dir) =>
      val assets = graft.multimodal.Multimodal.syntheticAssets(s, 300)
        .unionByName(graft.multimodal.Multimodal.cloneAssets(s, 300))
      val hashes = graft.multimodal.Multimodal.dHashes(assets).toDF()
      Dedup.hammingPairs(hashes, "asset_id", "dhash", maxDist = 3)
        .orderBy("id_a", "id_b")
    },

    // Planted-clone recall floor for the media near-dup family, à la
    // dd15_recall: every one of the 100 planted clones must pair with
    // its source at dist ≤ 3 — ≥95% floor (measured 100%: re-encodes
    // are dist 0 exactly; the darkened clones flip at most a couple of
    // rounding-margin bits). DuckDB states the planted count from the
    // generation contract and the floor flag as a constant; Spark
    // computes both from the actual pair output, so a broken decode,
    // hash, or band join hash-mismatches.
    QueryDef("mm04_recall",
      """SELECT CAST(count(*) AS BIGINT) AS n_planted,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT unnest(range(300)) AS i) WHERE i % 3 = 0""".stripMargin) {
      (s, dir) =>
      val assets = graft.multimodal.Multimodal.syntheticAssets(s, 300)
        .unionByName(graft.multimodal.Multimodal.cloneAssets(s, 300))
      val hashes = graft.multimodal.Multimodal.dHashes(assets).toDF()
      val found = Dedup.hammingPairs(hashes, "asset_id", "dhash", maxDist = 3)
        .filter(col("id_b") === col("id_a") + 1000000L)
        .agg(count(lit(1)).as("_found"))
      hashes.filter(col("asset_id") >= 1000000L)
        .agg(count(lit(1)).cast(LongType).as("n_planted"))
        .crossJoin(found)
        .select(col("n_planted"),
          when(col("_found") * 100 >= col("n_planted") * 95, 1L)
            .otherwise(0L).as("recall_ok"))
    },

    // Audio near-dup: the same banded hamming envelope over a 64-bit
    // loudness-contour difference hash of the decoded WAV PCM; planted
    // clones are volume-scaled (×0.9) and 8-bit-requantized copies —
    // the transcode artifacts an audio dedup sweep must catch. Oracle =
    // sequential replay + brute-force all-pairs, like mm04.
    QueryDef("mm05_audio_neardup",
      graft.multimodal.Multimodal.audioNearDupOracleSql(300, 3)) { (s, dir) =>
      val assets = graft.multimodal.Multimodal.syntheticAssets(s, 300)
        .unionByName(graft.multimodal.Multimodal.audioCloneAssets(s, 300))
      val hashes = graft.multimodal.Multimodal.audioHashes(assets).toDF()
      Dedup.hammingPairs(hashes, "asset_id", "dhash", maxDist = 3)
        .orderBy("id_a", "id_b")
    },

    // Video near-dup: time-averaged dHash over the decoded multi-frame
    // container; planted clones are frame-trimmed and darkened
    // re-encodes. With mm04 (images) and mm05 (audio) this closes the
    // modality triangle — every media kind the engine decodes has a
    // near-dup operator on the same banded-hamming envelope.
    QueryDef("mm06_video_neardup",
      graft.multimodal.Multimodal.videoNearDupOracleSql(300, 3)) { (s, dir) =>
      val assets = graft.multimodal.Multimodal.syntheticAssets(s, 300)
        .unionByName(graft.multimodal.Multimodal.videoCloneAssets(s, 300))
      val hashes = graft.multimodal.Multimodal.videoHashes(assets).toDF()
      Dedup.hammingPairs(hashes, "asset_id", "dhash", maxDist = 3)
        .orderBy("id_a", "id_b")
    },

    // INCREMENTAL media near-dup — the dd19/dd20 registry lifecycle
    // lifted to the dHash family, closing the one operational gap of
    // mm04-06 (batch-only: a daily crawl with images paid O(corpus)
    // per batch where text paid O(batch + colliding buckets)): the
    // image corpus persists ONCE as a (band, bv)-bucketed hash
    // registry — 16 bytes per asset — and each crawl batch screens
    // against it with the lossless banded hamming join, zero
    // registry-side exchange (PlanSpec pins the plan). The batch
    // plants the re-crawled thumbnails/brightness-shifts (every clone
    // must flag with its source as best match) alongside genuinely
    // fresh images (every one must keep). Oracle = sequential contract
    // replay + BRUTE-FORCE best-match per batch asset — a row-for-row
    // hash match, so the registry blocking provably drops nothing.
    QueryDef("mm07_media_registry_screen",
      graft.multimodal.Multimodal
        .mediaRegistryOracleSql(300, 100, 5000L, 3)) { (s, dir) =>
      val m = graft.multimodal.Multimodal
      withGateWork(s, "mm07", dir) { work =>
        val tbl = graft.streaming.StreamingJobs.registryTable(work)
        Dedup.writeHammingRegistry(
          m.dHashes(m.syntheticAssets(s, 300)).toDF(),
          "asset_id", "dhash", tbl, work, numBuckets = 16)
        val batch = m.cloneAssets(s, 300)
          .unionByName(m.syntheticAssets(s, 100, offset = 5000L))
        Dedup.incrementalHammingDup(
          m.dHashes(batch).toDF(), s.table(tbl),
          "asset_id", "dhash")
          .select(col("asset_id"), col("keep").cast(LongType).as("keep"),
            col("dup_of"), col("dist"))
          .orderBy("asset_id")
      }
    },

    // RTBF deletion from the media registry — dd22's arm for the
    // hamming family, closing the registry-lifecycle matrix's last
    // asymmetry (the text signature registry could delete; the image
    // registry could not). Build the mm07 registry, tombstone every
    // even-id image (the asset owner's deletion request), rewrite in
    // place (broadcast anti-join on the bucketed scan, zero-exchange
    // rewrite, crash-safe publish), then screen the SAME clone
    // batch mm07 screens: a clone whose source was deleted must now
    // KEEP — its hash is out of storage, not just out of the result —
    // while survivors' clones still flag with the same best match.
    // Oracle = brute-force best-match against the SURVIVOR hash set
    // (the deleted registry is value-identical to one built from the
    // survivors; MultimodalSpec pins that row-for-row).
    QueryDef("mm08_media_registry_delete",
      graft.multimodal.Multimodal
        .mediaRegistryDeleteOracleSql(300, 100, 5000L, 3, 2L)) { (s, dir) =>
      val m = graft.multimodal.Multimodal
      withGateWork(s, "mm08", dir) { work =>
        val reg = s"$work/reg" // publish siblings (.reg.next, ...) stay inside the tree
        val tbl = graft.streaming.StreamingJobs.registryTable(work)
        Dedup.writeHammingRegistry(
          m.dHashes(m.syntheticAssets(s, 300)).toDF(),
          "asset_id", "dhash", tbl, reg, numBuckets = 16)
        Dedup.deleteFromHammingRegistry(s, tbl, reg,
          s.range(0, 300, 2).select(col("id").as("asset_id")),
          numBuckets = 16)
        val batch = m.cloneAssets(s, 300)
          .unionByName(m.syntheticAssets(s, 100, offset = 5000L))
        Dedup.incrementalHammingDup(
          m.dHashes(batch).toDF(), s.table(tbl),
          "asset_id", "dhash")
          .select(col("asset_id"), col("keep").cast(LongType).as("keep"),
            col("dup_of"), col("dist"))
          .orderBy("asset_id")
      }
    },

    // ================= events: JSON / sessions / windows =================

    QueryDef("ev01_json_extract",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2,
        |  event_type
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k2"),
        col("event_type"))
        .orderBy("event_id").limit(500)
    },

    // Spark 4 VARIANT path over the same JSON props: parse_json →
    // binary variant encoding → typed variant_get extraction (plus a
    // missing-path NULL and an int-rendered-as-string). Same logical
    // result family as ev01, distinct physical surface — the
    // open-schema column type semi-structured lakes standardize on.
    QueryDef("ev15_variant",
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  json_extract_string(props, '$.missing') AS missing,
        |  json_extract_string(props, '$.k') AS k_str
        |FROM events ORDER BY event_id LIMIT 500""".stripMargin) { (s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        expr("variant_get(parse_json(props), '$.k', 'bigint')").as("k"),
        expr("variant_get(parse_json(props), '$.missing', 'string')").as("missing"),
        expr("try_variant_get(parse_json(props), '$.k', 'string')").as("k_str"))
        .orderBy("event_id").limit(500)
    },

    QueryDef("ev02_sessionize",
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | se AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM se GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      Sessionize.summarize(Tables.events(s, dir), gapMinutes = 30)
    },

    QueryDef("ev03_hourly_rollup",
      """SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("v"))
        .select(col("window.start").as("wstart"), col("event_type"),
          col("n"), col("v"))
        .orderBy("wstart", "event_type")
    },

    // Spark's native session_window (gap-based session aggregation as a
    // single groupBy — no window-function passes). Oracle reconstructs
    // identical sessions via the portable lag/cumsum formulation:
    // session start = min(ts), session end = max(ts) + gap.
    QueryDef("ev06_session_window",
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | se AS (
        |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM g)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events
        |FROM se GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // As-of join: each click joined to the user's most recent prior (or
    // simultaneous) purchase. Right side pre-aggregated to one row per
    // (user, ts) so tie-breaking is engine-independent; oracle uses
    // DuckDB's native ASOF LEFT JOIN.
    QueryDef("ev05_asof_join",
      """WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        | r AS (SELECT user_id, ts, max(event_id) AS ref_event
        |       FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        |SELECT l.user_id, l.event_id, l.ts, r.ref_event
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.user_id, l.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val l = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val r = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("ref_event"))
      graft.operators.AsOf.joinAsOf(l, r, "user_id", "ts")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("right_ref_event").as("ref_event"))
        .orderBy("user_id", "event_id")
    },

    // Ordered-sequence funnel: users reaching view → click-after-view →
    // purchase-after-click. One filtered user-keyed aggregation per
    // stage (each shuffle moves only that step's rows), never a
    // per-step self-join of the whole stream.
    QueryDef("ev07_funnel",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        | s2 AS (SELECT s1.user_id, t1,
        |          min(CASE WHEN e.ts >= t1 THEN e.ts END) AS t2
        |        FROM s1 LEFT JOIN events e
        |          ON e.user_id = s1.user_id AND e.event_type = 'click'
        |        GROUP BY s1.user_id, t1),
        | s3 AS (SELECT s2.user_id, t1, t2,
        |          min(CASE WHEN e.ts >= t2 THEN e.ts END) AS t3
        |        FROM s2 LEFT JOIN events e
        |          ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |        GROUP BY s2.user_id, t1, t2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, count(t1) AS n_users FROM s3
        |  UNION ALL SELECT 2, 'click', count(t2) FROM s3
        |  UNION ALL SELECT 3, 'purchase', count(t3) FROM s3)
        |ORDER BY step""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.counts(Tables.events(s, dir),
          Seq("view", "click", "purchase"))
        .orderBy("step")
    },

    // The conversion-window funnel: ev07's ordered sequence with a 24 h
    // deadline per step — a click only counts within a day of the first
    // view, a purchase within a day of that click. The bound BINDS at
    // the gate SF (150/60/25 users vs ev07's 150/150/150), so a dropped
    // or misapplied window predicate is unmissable. Same one-filtered-
    // aggregation-per-stage shape as ev07; the deadline rides the
    // existing conditional min, zero extra passes.
    QueryDef("ev21_funnel_deadline",
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        | s2 AS (SELECT s1.user_id, t1,
        |          min(CASE WHEN e.ts >= t1 AND e.ts <= t1 + INTERVAL 24 HOUR
        |                   THEN e.ts END) AS t2
        |        FROM s1 LEFT JOIN events e
        |          ON e.user_id = s1.user_id AND e.event_type = 'click'
        |        GROUP BY s1.user_id, t1),
        | s3 AS (SELECT s2.user_id, t1, t2,
        |          min(CASE WHEN e.ts >= t2 AND e.ts <= t2 + INTERVAL 24 HOUR
        |                   THEN e.ts END) AS t3
        |        FROM s2 LEFT JOIN events e
        |          ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |        GROUP BY s2.user_id, t1, t2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS event_type, count(t1) AS n_users FROM s3
        |  UNION ALL SELECT 2, 'click', count(t2) FROM s3
        |  UNION ALL SELECT 3, 'purchase', count(t3) FROM s3)
        |ORDER BY step""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.counts(Tables.events(s, dir),
          Seq("view", "click", "purchase"), deadlineHours = Some(24))
        .orderBy("step")
    },

    // Touch attribution: each purchase joined to the user's view/click
    // touches inside a 72 h lookback, summarized to n_touches +
    // first/last-touch ids per conversion. The engine's first/last ride
    // ONE map-side min/max over struct(ts, id) — never a per-conversion
    // rank window, and no key encoding bounding the id width; ties
    // break to the smaller id (first) / larger id (last). The oracle
    // replays the identical extremes with two rank windows (the oracle
    // side need not be scale-safe). ~2.6 touches per conversion at the
    // gate SFs, linear in the corpus.
    QueryDef("ev20_attribution",
      """WITH p AS (SELECT event_id AS conv_id, user_id, ts AS conv_ts
        |           FROM events WHERE event_type = 'purchase'),
        | t AS (SELECT user_id, ts AS touch_ts, event_id AS touch_id
        |       FROM events WHERE event_type IN ('view', 'click')),
        | j AS (SELECT p.conv_id, p.user_id, p.conv_ts, t.touch_ts, t.touch_id
        |       FROM p LEFT JOIN t ON t.user_id = p.user_id
        |         AND t.touch_ts <= p.conv_ts
        |         AND t.touch_ts > p.conv_ts - INTERVAL 72 HOUR),
        | r AS (SELECT *,
        |         row_number() OVER (PARTITION BY conv_id
        |           ORDER BY touch_ts ASC, touch_id ASC) AS rf,
        |         row_number() OVER (PARTITION BY conv_id
        |           ORDER BY touch_ts DESC, touch_id DESC) AS rl
        |       FROM j),
        | a AS (SELECT conv_id, user_id, conv_ts,
        |         CAST(count(touch_id) AS BIGINT) AS n_touches
        |       FROM j GROUP BY 1, 2, 3)
        |SELECT a.conv_id, a.user_id, a.conv_ts, a.n_touches,
        |  f.touch_id AS first_touch_id, l.touch_id AS last_touch_id
        |FROM a
        |JOIN r f ON f.conv_id = a.conv_id AND f.rf = 1
        |JOIN r l ON l.conv_id = a.conv_id AND l.rl = 1
        |ORDER BY a.conv_id""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.attribution(Tables.events(s, dir),
        Seq("view", "click"), "purchase", lookbackHours = 72)
    },

    // The hourly rollup as a STRUCTURED STREAMING job in the gate: the
    // same events flow through a file-stream source → watermarked
    // tumbling-window aggregation → append-mode memory sink. All files
    // arrive in micro-batch 0 (watermark still at epoch, so nothing is
    // late-dropped); the watermark then advances to max(ts) − 1h and the
    // no-data batch emits every FINALIZED window — i.e. window end <
    // watermark. The DuckDB oracle reproduces exactly that horizon in
    // batch SQL: wstart + 2h < max(ts). Windows inside the final horizon
    // stay in state, unemitted — that is the append-mode contract, and
    // the oracle's WHERE clause is its batch translation.
    QueryDef("st01_stream_hourly",
      """SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |FROM events
        |WHERE date_trunc('hour', ts) + INTERVAL 2 HOUR < (SELECT max(ts) FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val sink = s"st01_sink_${StSinkSeq.incrementAndGet()}"
      withStateSizedShuffle(s) {
        val q = graft.streaming.StreamingJobs
          .hourlyRollup(Tables.eventsStream(s, dir))
          .writeStream.outputMode("append")
          .format("memory").queryName(sink)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      // the stream runs on plain TIMESTAMP (watermark constraint — see
      // Tables.eventsStream); UTC session ⇒ the NTZ cast here renders
      // the same wall clock the batch/oracle plans carry end-to-end
      s.table(sink)
        .select(col("wstart").cast(TimestampNTZType).as("wstart"),
          col("event_type"), col("n"), col("v"))
        .orderBy("wstart", "event_type")
    },

    // Streaming windowed top-k through the SAME bounded TopKAgg the
    // batch similarity stack ranks with: per-(hour, event_type) state
    // is the k-slot insertion buffer (TypedImperativeAggregate state,
    // micro-batches merge partials), never a window's event list — the
    // streaming face of the "no per-query rank window" discipline.
    // Emission horizon identical to st01 (1 h window + 1 h delay);
    // the oracle ranks with a row_number and applies the same horizon.
    QueryDef("st09_stream_topk",
      """WITH w AS (SELECT date_trunc('hour', ts) AS wstart, event_type,
        |             event_id, value FROM events WHERE value IS NOT NULL),
        | r AS (SELECT *, row_number() OVER (PARTITION BY wstart, event_type
        |                ORDER BY value DESC, event_id) AS rank FROM w)
        |SELECT wstart, event_type, CAST(rank AS BIGINT) AS rank,
        |  event_id, value
        |FROM r WHERE rank <= 3
        |  AND wstart + INTERVAL 2 HOUR < (SELECT max(ts) FROM events)
        |ORDER BY wstart, event_type, rank""".stripMargin) { (s, dir) =>
      val sink = s"st09_sink_${StSinkSeq.incrementAndGet()}"
      withStateSizedShuffle(s) {
        val q = graft.streaming.StreamingJobs
          .windowedTopK(Tables.eventsStream(s, dir), k = 3)
          .writeStream.outputMode("append")
          .format("memory").queryName(sink)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink)
        .select(col("wstart").cast(TimestampNTZType).as("wstart"),
          col("event_type"), col("rank"), col("event_id"), col("value"))
        .orderBy("wstart", "event_type", "rank")
    },

    // Stateful sessionization (flatMapGroupsWithState) in the gate: the
    // custom per-user session state machine, verified cross-engine. In
    // single-batch processing every non-final session closes in-stream
    // (the gap arrives in the same group call); each user's FINAL
    // session sits in state until its event-time timeout fires — which
    // happens in the no-data batch iff ceil_ms(end + gap) < watermark
    // (= floor_ms(max(ts)) − delay, strict <). The oracle reconstructs
    // identical sessions with the portable lag/cumsum formulation and
    // applies exactly that emission horizon in µs arithmetic (the data
    // has zero sub-µs, so both engines compute the same integers).
    // sum_value is deliberately absent: the stream accumulates IEEE
    // doubles in event order, which no engine-independent SQL pins.
    QueryDef("st02_stream_sessions",
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | se AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        | s AS (
        |  SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end,
        |         count(*) AS n_events
        |  FROM se GROUP BY user_id, sid),
        | mx AS (SELECT max(ts) AS mxts FROM events),
        | last_s AS (SELECT user_id, max(session_start) AS last_start
        |            FROM s GROUP BY user_id)
        |SELECT s.user_id, s.session_start, s.session_end, s.n_events
        |FROM s JOIN last_s USING (user_id), mx
        |WHERE s.session_start < last_s.last_start
        |   OR CAST(ceil((epoch_us(s.session_end) + 1800000000) / 1000.0) AS BIGINT)
        |      < CAST(floor(epoch_us(mx.mxts) / 1000.0) AS BIGINT) - 600000
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      import s.implicits._
      val sink = s"st02_sink_${StSinkSeq.incrementAndGet()}"
      val ev = Tables.eventsStream(s, dir)
        .select(col("user_id"), col("ts"), col("value"))
        .as[graft.streaming.SessionEvent]
      withStateSizedShuffle(s) {
        val q = graft.streaming.StreamingJobs
          .sessionize(ev, gapMinutes = 30)
          .toDF()
          .writeStream.outputMode("append")
          .format("memory").queryName(sink)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink)
        .select(col("user_id"),
          col("session_start").cast(TimestampNTZType).as("session_start"),
          col("session_end").cast(TimestampNTZType).as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Streaming dedup (dropDuplicatesWithinWatermark) in the gate: the
    // stream carries a coarse content key with many duplicate arrivals;
    // exactly ONE row per distinct key must emerge. WHICH duplicate
    // representative emits is processing-order-dependent, so the gate
    // projects only the key — the emitted KEY SET is deterministic, and
    // the query deliberately applies no re-distinct, so a key emitted
    // twice (broken dedup state) hash-mismatches on row count.
    QueryDef("st03_stream_dedup",
      """SELECT DISTINCT event_type || '#' || CAST(user_id % 100 AS VARCHAR) AS content
        |FROM events ORDER BY content""".stripMargin) { (s, dir) =>
      val sink = s"st03_sink_${StSinkSeq.incrementAndGet()}"
      val ev = Tables.eventsStream(s, dir)
        .select(col("ts"), concat(col("event_type"), lit("#"),
          (col("user_id") % 100).cast("string")).as("content"))
      withStateSizedShuffle(s) {
        val q = graft.streaming.StreamingJobs
          .dedupStream(ev, "ts", "content")
          .writeStream.outputMode("append")
          .format("memory").queryName(sink)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink).select("content").orderBy("content")
    },

    // Stream-stream interval join in the gate: clicks matched to the
    // same user's purchases within 30 minutes AFTER the click, both
    // sides watermarked (the only finite-state stream-stream join
    // shape). Inner-join matches emit as rows arrive, so the single-
    // batch output is exactly the batch interval join — the oracle runs
    // it directly. IDs only: timestamps add nothing the join condition
    // didn't already pin.
    QueryDef("st04_stream_interval_join",
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin) { (s, dir) =>
      val sink = s"st04_sink_${StSinkSeq.incrementAndGet()}"
      withStateSizedShuffle(s) {
        val q = graft.streaming.StreamingJobs
          .clickToPurchase(Tables.eventsStream(s, dir))
          .writeStream.outputMode("append")
          .format("memory").queryName(sink)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink)
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy("user_id", "click_id", "purchase_id")
    },

    // Stream-static join: the unbounded event stream enriched against a
    // bounded dimension table — stateless (no watermark, no state
    // store: the static side broadcasts into every micro-batch), the
    // streaming shape dimension enrichment actually uses. Oracle = the
    // identical batch join.
    QueryDef("st06_stream_static_join",
      """SELECT e.event_id, n.n_name
        |FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
        |ORDER BY e.event_id""".stripMargin) { (s, dir) =>
      val sink = s"st06_sink_${StSinkSeq.incrementAndGet()}"
      val dim = Tables.load(s, dir, "nation")
      val q = Tables.eventsStream(s, dir)
        .join(broadcast(dim), (col("user_id") % 25) === col("n_nationkey"))
        .select(col("event_id"), col("n_name"))
        .writeStream.outputMode("append")
        .format("memory").queryName(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
      s.table(sink).orderBy("event_id")
    },

    // ev11's sliding rollup as a STRUCTURED STREAMING job: watermarked
    // 1h/15m sliding windows through a file stream → append-mode memory
    // sink — st01's finalized-window contract (window emitted iff
    // wstart + window + delay < max(ts)) applied to overlapping-window
    // state.
    QueryDef("st05_stream_sliding",
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        | k AS (SELECT unnest(range(0, 4)) AS k),
        | w AS (SELECT time_bucket(INTERVAL '15 minutes', e.ts)
        |                - k.k * INTERVAL '15 minutes' AS window_start,
        |              e.value
        |       FROM e CROSS JOIN k),
        | mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS mxts FROM events)
        |SELECT window_start, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM w, mx
        |WHERE window_start + INTERVAL 2 HOUR < mxts
        |GROUP BY window_start ORDER BY window_start""".stripMargin) { (s, dir) =>
      val sink = s"st05_sink_${StSinkSeq.incrementAndGet()}"
      withStateSizedShuffle(s) {
        val q = graft.streaming.StreamingJobs
          .slidingRollup(Tables.eventsStream(s, dir))
          .writeStream.outputMode("append")
          .format("memory").queryName(sink)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table(sink)
        .select(col("window_start").cast(TimestampNTZType).as("window_start"),
          col("n_events"), col("total_value"))
        .orderBy("window_start")
    },

    // Checkpointed restart in the gate: the streaming compact pipeline
    // (file-stream → fused parse → partitioned parquet sink) is KILLED
    // after its first input batch, more input lands while it is down,
    // and a second query resumes from the same checkpoint. The oracle
    // aggregates straight from lineitem — if the restart replays the
    // committed batch (duplicates) or drops the files that arrived
    // during the outage, the counts/sums hash-mismatch. This is the
    // streaming analog of the reference's overwrite-idempotent re-runs
    // (s3.py:459, backfill s3.py:361-368), verified cross-engine.
    QueryDef("st07_stream_restart",
      """SELECT concat('bkt', CAST(l_suppkey % 10 AS VARCHAR)) AS s3_bucket,
        |  count(*) AS n_requests,
        |  CAST(sum(l_orderkey % 100000) AS BIGINT) AS total_bytes,
        |  CAST(max(200 + (l_linenumber % 5)) AS INTEGER) AS max_status
        |FROM lineitem WHERE l_orderkey % 32 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      withGateWork(s, "st07", dir) { work =>
        val in = s"$work/in"
        // the request date is CONSTANT by design: the row is about restart
        // exactly-once, and per-day fan-out is etl01/LogEtlSpec territory —
        // a shipdate-derived log_date would write ~2400 tiny Hive
        // partitions per phase and turn this row into a file-system bench
        // (measured 53 s at sf0.1; ~3 s pinned)
        def phaseLines(phase: Int) = Tables.spread(
          Tables.load(s, dir, "lineitem")
            .filter(col("l_orderkey") % 32 === 0 &&
              col("l_linenumber") % 2 === phase)
            .select("l_orderkey", "l_suppkey", "l_linenumber"),
          "l_orderkey", "l_linenumber")
          .select(format_string(
            "owner%d bkt%d [01/Jul/2024:10:00:00 +0000] 10.0.0.1 " +
              "arn:aws:iam::1:r REQ%d " +
              "REST.GET.OBJECT key/%d \"GET /k HTTP/1.1\" %d - %d 1024 5 4 " +
              "\"-\" \"agent/1.0\" - host= SigV4 TLS_AES_128_GCM_SHA256 " +
              "AuthHeader h.example.com TLSv1.3 - -",
            col("l_orderkey"),
            col("l_suppkey") % 10,
            col("l_orderkey") * 10 + col("l_linenumber"),
            col("l_orderkey"),
            lit(200) + (col("l_linenumber") % 5),
            col("l_orderkey") % 100000).as("value"))
        def land(phase: Int): Unit = landPhase(work, in, phase,
          phaseLines(phase),
          (d, at) => d.coalesce(4).write.mode("overwrite").text(at))
        land(0)
        val q1 = graft.streaming.StreamingJobs
          .streamCompact(s, in, s"$work/out", s"$work/ckpt")
        try q1.processAllAvailable() finally q1.stop() // kill after batch 1
        land(1) // input lands during the outage
        val q2 = graft.streaming.StreamingJobs
          .streamCompact(s, in, s"$work/out", s"$work/ckpt")
        try q2.processAllAvailable() finally q2.stop()
        s.read.parquet(s"$work/out")
          .groupBy(col("s3_bucket"))
          .agg(count(lit(1)).as("n_requests"),
            sum(col("bytes_sent")).as("total_bytes"),
            max(col("http_status")).as("max_status"))
          .orderBy("s3_bucket")
      }
    },

    // foreachBatch CDC upsert in the gate — WITH a mid-stream kill and
    // restart. The events table lands as four files in two phases:
    // stream one starts on the first two (one file per micro-batch),
    // is stopped, the remaining files land during the outage, and a
    // second query resumes from the SAME checkpoint and workDir. The
    // maintained table's state lives in the durable commit log (never
    // driver memory), so the resumed fold continues from the last
    // committed generation; replayed batchIds no-op. The oracle is
    // plain batch SQL over all events — the restart must be invisible.
    QueryDef("st08_stream_cdc_upsert",
      """WITH l AS (SELECT user_id, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS r,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id,
        |  CAST(ts AS TIMESTAMP) AS last_ts, CAST(n AS BIGINT) AS n_updates
        |FROM l WHERE r = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      withGateWork(s, "st08", dir) { work =>
        val in = s"$work/in"
        val ev = Tables.events(s, dir).select("event_id", "ts", "user_id")
        def land(phase: Int): Unit = landPhase(work, in, phase,
          ev.filter(pmod(col("event_id"), lit(2)) === phase),
          (d, at) => d.repartition(2).write.mode("overwrite").parquet(at))
        val sch = ev.schema
        def stream() = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(in)
        land(0)
        val (q1, _) =
          graft.streaming.StreamingJobs.cdcUpsertQuery(stream(), work)
        try q1.processAllAvailable() finally q1.stop() // kill after phase 0
        land(1) // updates land during the outage
        graft.streaming.StreamingJobs.cdcUpsertStream(stream(), work)
          .select(col("user_id"),
            col("_m.event_id").as("last_event_id"),
            col("_m.ts").cast(TimestampNTZType).as("last_ts"),
            col("n_updates"))
          .orderBy("user_id")
      }
    },

    // CDC key DELETION — the right-to-be-forgotten arm of st08's
    // maintained table, completing delete-everywhere (registry dd22,
    // vector indexes sim27/28, keyed CDC state here): cdcDeleteKeys
    // anti-joins ONLY the buckets holding a tombstoned key and commits
    // the rewrite as a REVISION of the latest batch (c{N}r{R}), so
    // maintenance never occupies the stream's batch-id space; the
    // following GC removes the displaced pre-delete partitions, so
    // the rows leave storage, not just the view. Oracle: the full
    // merged table recomputed over events EXCLUDING the deleted users
    // (remaining users' latest-wins rows and counts are untouched).
    QueryDef("st13_cdc_delete",
      """WITH l AS (SELECT user_id, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS r,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events WHERE user_id % 10 <> 7)
        |SELECT user_id, event_id AS last_event_id,
        |  CAST(ts AS TIMESTAMP) AS last_ts, CAST(n AS BIGINT) AS n_updates
        |FROM l WHERE r = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      withGateWork(s, "st13", dir) { work =>
        val ev = Tables.events(s, dir).select("event_id", "ts", "user_id")
        graft.streaming.StreamingJobs.cdcApplyBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, work)
        graft.streaming.StreamingJobs.cdcApplyBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === 1), 1L, work)
        graft.streaming.StreamingJobs.cdcDeleteKeys(s, work,
          ev.filter(col("user_id") % 10 === 7).select("user_id").distinct())
        graft.streaming.StreamingJobs.cdcTable(s, work)
          .select(col("user_id"),
            col("_m.event_id").as("last_event_id"),
            col("_m.ts").cast(TimestampNTZType).as("last_ts"),
            col("n_updates"))
          .orderBy("user_id")
      }
    },

    // CDC RETENTION WINDOW — the TTL arm of the st08 maintained table,
    // dd23's discipline on the keyed store: cdcRetention rewrites the
    // buckets keeping only keys whose LAST merged update is inside the
    // window, committed as a revision (maintenance stays out of the
    // stream's batch-id space) with the displaced partitions GC'd. The
    // plant makes the horizon BIND deterministically: batch 1 carries
    // the post-horizon events of every user EXCEPT user_id % 10 == 7,
    // so those users' last update stays pre-horizon and they age out
    // (1/15/150 users at the three SFs) while everyone else survives
    // with row and count untouched. No tombstone bookkeeping: the
    // key's own last-update time is the provenance that ages it out.
    QueryDef("st17_cdc_retention",
      """WITH src AS (SELECT user_id, ts, event_id FROM events
        |    WHERE ts < TIMESTAMP '2024-01-10 00:00:00'
        |       OR user_id % 10 <> 7),
        | l AS (SELECT user_id, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS r,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM src),
        | keep AS (SELECT user_id FROM src GROUP BY user_id
        |          HAVING max(ts) >= TIMESTAMP '2024-01-10 00:00:00')
        |SELECT user_id, event_id AS last_event_id,
        |  CAST(ts AS TIMESTAMP) AS last_ts, CAST(n AS BIGINT) AS n_updates
        |FROM l JOIN keep USING (user_id)
        |WHERE r = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      withGateWork(s, "st17", dir) { work =>
        val ev = Tables.events(s, dir).select("event_id", "ts", "user_id")
        val cut = to_timestamp(lit("2024-01-10 00:00:00"))
        graft.streaming.StreamingJobs.cdcApplyBatch(
          ev.filter(col("ts") < cut), 0L, work)
        graft.streaming.StreamingJobs.cdcApplyBatch(
          ev.filter(col("ts") >= cut && col("user_id") % 10 =!= 7), 1L,
          work)
        graft.streaming.StreamingJobs.cdcRetention(s, work, cut)
        graft.streaming.StreamingJobs.cdcTable(s, work)
          .select(col("user_id"),
            col("_m.event_id").as("last_event_id"),
            col("_m.ts").cast(TimestampNTZType).as("last_ts"),
            col("n_updates"))
          .orderBy("user_id")
      }
    },

    // CDC SCHEMA EVOLUTION — the contract the commit log can now
    // enforce because the table schema commits next to the bucket
    // count: a later batch ADDING a column widens the table (payload
    // columns ride latest-wins inside the _m struct; keys whose last
    // update predates the widening carry NULL), while a RETYPED column
    // is refused with the column named (StreamingSpec pins the error).
    // Batch 0 is the legacy shape (no `amount`); batch 1 adds it —
    // the merged table must match a full recompute where amount exists
    // exactly on the odd-event rows, latest-wins across the boundary.
    QueryDef("st18_cdc_schema_evolution",
      """WITH src AS (SELECT event_id, ts, user_id,
        |    CASE WHEN event_id % 2 = 1 THEN event_id % 97
        |         ELSE NULL END AS amount
        |  FROM events),
        | l AS (SELECT user_id, ts, event_id, amount,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS r,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM src)
        |SELECT user_id, event_id AS last_event_id,
        |  CAST(ts AS TIMESTAMP) AS last_ts,
        |  CAST(amount AS BIGINT) AS last_amount,
        |  CAST(n AS BIGINT) AS n_updates
        |FROM l WHERE r = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      withGateWork(s, "st18", dir) { work =>
        val ev = Tables.events(s, dir).select("event_id", "ts", "user_id")
        graft.streaming.StreamingJobs.cdcApplyBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === 0), 0L, work)
        graft.streaming.StreamingJobs.cdcApplyBatch(
          ev.filter(pmod(col("event_id"), lit(2)) === 1)
            .withColumn("amount", pmod(col("event_id"), lit(97L))),
          1L, work)
        graft.streaming.StreamingJobs.cdcTable(s, work)
          .select(col("user_id"),
            col("_m.event_id").as("last_event_id"),
            col("_m.ts").cast(TimestampNTZType).as("last_ts"),
            col("_m.amount").as("last_amount"),
            col("n_updates"))
          .orderBy("user_id")
      }
    },

    // Streaming NEAR-dup ingestion screen — dd19's registry lifecycle
    // as a streaming job: batch 0 (the even docs) seeds the signature
    // registry from an empty start; batch 1 (the odd docs plus 20
    // planted re-crawls of batch-0 docs) is screened against it,
    // ACROSS a query restart between the batches (the registry and
    // checkpoint both live on disk — the outage is part of the gate).
    // Invariants: every batch-1 doc text-equal to a batch-0 doc
    // (≥ shingleN words) flagged; batch 0 clean (empty registry can
    // flag nothing); total verdict count = everything screened.
    QueryDef("st10_stream_neardup_screen",
      """WITH b0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        | b1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |        UNION ALL
        |        SELECT doc_id + 10000001 AS doc_id, text FROM documents
        |        WHERE doc_id % 2 = 0 AND doc_id < 40),
        | rt AS (SELECT DISTINCT text FROM b0
        |        WHERE len(string_split(text, ' ')) >= 3),
        | cl AS (SELECT DISTINCT b.doc_id FROM b1 b JOIN rt ON b.text = rt.text)
        |SELECT
        |  CAST((SELECT count(*) FROM b0) + (SELECT count(*) FROM b1) AS BIGINT)
        |    AS n_screened,
        |  CAST((SELECT count(*) FROM cl) AS BIGINT) AS n_clones,
        |  CAST(1 AS BIGINT) AS all_flagged,
        |  CAST(1 AS BIGINT) AS batch0_clean""".stripMargin) { (s, dir) =>
      withGateWork(s, "st10", dir) { work =>
        val in = s"$work/in"
        val d = docs(s, dir).select("doc_id", "text")
        val b0 = d.filter(col("doc_id") % 2 === 0)
        val b1 = d.filter(col("doc_id") % 2 === 1).unionAll(
          d.filter(col("doc_id") % 2 === 0 && col("doc_id") < 40)
            .select((col("doc_id") + 10000001L).as("doc_id"), col("text")))
        val sch = b0.schema
        def stream() = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(in)
        landPhase(work, in, 0, b0)
        val q0 =
          graft.streaming.StreamingJobs.nearDupScreenStream(stream(), work)
        try q0.processAllAvailable() finally q0.stop() // outage between batches
        landPhase(work, in, 1, b1)
        val q1 =
          graft.streaming.StreamingJobs.nearDupScreenStream(stream(), work)
        try q1.processAllAvailable() finally q1.stop()
        val v = s.read.parquet(s"$work/verdicts")
        val flagged = v.filter(!col("keep")).select(col("doc_id"))
          .withColumn("_f", lit(1L))
        val clones = b1.join(
          b0.filter(size(split(col("text"), " ")) >= 3)
            .select("text").distinct(), Seq("text"))
          .select("doc_id").distinct()
        val totals = v.agg(count(lit(1)).cast(LongType).as("n_screened"),
          coalesce(max(when(col("batch") === 0 && !col("keep"), 1L)), lit(0L))
            .as("_b0bad"))
        val cover = clones.join(flagged, Seq("doc_id"), "left")
          .agg(count(lit(1)).cast(LongType).as("n_clones"),
            coalesce(min(coalesce(col("_f"), lit(0L))), lit(1L))
              .as("all_flagged"))
        totals.crossJoin(cover)
          .select(col("n_screened"), col("n_clones"), col("all_flagged"),
            (lit(1L) - col("_b0bad")).as("batch0_clean"))
      }
    },

    // STREAMING DELTA SERVING — the one serving-lifecycle edge with no
    // streaming gate after r17: micro-batches of newly arrived vectors
    // append to the batch-keyed delta log (overwrite-idempotent, the
    // st10 exactly-once pattern, including a QUERY RESTART between the
    // two batches), and sim20's stale-index + delta serve runs against
    // the log mid-stream — an appended vector is searchable the moment
    // its batch lands, exactly (the delta arm brute-forces the log).
    // Invariant gate: sim20's floor — ≥85% of the exact top-5 over the
    // grown corpus recovered by the stale snapshot + streamed log.
    QueryDef("st11_stream_delta_serve",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      withGateWork(s, "st11", dir) { work =>
        val in = s"$work/in"
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
        val stale = Similarity.ivfBuild(e.filter(col("vec_id") % 10 =!= 9))
        val d0 = e.filter(col("vec_id") % 20 === 9)
        val d1 = e.filter(col("vec_id") % 20 === 19)
        val sch = e.schema
        def stream() = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(in)
        landPhase(work, in, 0, d0)
        val s0 = graft.streaming.StreamingJobs.vectorDeltaStream(stream(), work)
        try s0.processAllAvailable() finally s0.stop() // outage between batches
        landPhase(work, in, 1, d1)
        val s1 = graft.streaming.StreamingJobs.vectorDeltaStream(stream(), work)
        try s1.processAllAvailable() finally s1.stop()
        val served = Similarity.ivfSearchWithDelta(q, stale,
          graft.streaming.StreamingJobs.deltaLog(s, work), 5)
        recallFloor(Similarity.cosineTopK(q, e, 5), served,
          floorPct = 85)
      }
    },

    // ONLINE registry compaction — the st10 screen run for FIVE
    // micro-batches at the most aggressive cadence (compactEvery = 1:
    // fold whenever more than one partition has accrued — three folds
    // in five batches, including a fold of a fold and one immediately
    // after the mid-stream query restart). Compaction engages INSIDE
    // foreachBatch (single writer, everything folded already
    // committed — the at-rest contract held by construction, see
    // StreamingJobs.maybeCompactInStream), so the registry never
    // accrues more than compactEvery + 1 partitions while the stream
    // runs. Invariants: the planted re-crawls of batch-0 docs in the
    // LAST batch are all flagged against the thrice-folded registry
    // (folding re-keys partitions; it must never lose or duplicate a
    // signature), and the final partition count is ≤ 2 — five
    // uncompacted batches would hold five, so the bound is the proof
    // compaction engaged.
    QueryDef("st12_stream_online_compact",
      """WITH d AS (SELECT doc_id, text FROM documents),
        | pl AS (SELECT doc_id, text FROM d WHERE doc_id % 4 = 0 AND doc_id < 40),
        | rt AS (SELECT DISTINCT text FROM d WHERE doc_id % 4 = 0
        |        AND len(string_split(text, ' ')) >= 3),
        | cl AS (SELECT DISTINCT p.doc_id FROM pl p JOIN rt ON p.text = rt.text)
        |SELECT
        |  CAST((SELECT count(*) FROM d) + (SELECT count(*) FROM pl) AS BIGINT)
        |    AS n_screened,
        |  CAST((SELECT count(*) FROM cl) AS BIGINT) AS n_clones,
        |  CAST(1 AS BIGINT) AS all_flagged,
        |  CAST(1 AS BIGINT) AS parts_bounded""".stripMargin) { (s, dir) =>
      withGateWork(s, "st12", dir) { work =>
        val in = s"$work/in"
        val d = docs(s, dir).select("doc_id", "text")
        val planted = d
          .filter(col("doc_id") % 4 === 0 && col("doc_id") < 40)
          .select((col("doc_id") + 10000001L).as("doc_id"), col("text"))
        val sch = d.schema
        def stream() = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(in)
        // batches 0..2 land one at a time (deterministic batch order for
        // the registry-seeding prefix); the restart happens mid-cadence,
        // between a compacted batch and the next compaction
        landPhase(work, in, 0, d.filter(col("doc_id") % 4 === 0))
        val q0 = graft.streaming.StreamingJobs.nearDupScreenStream(stream(),
          work, compactEvery = 1)
        try {
          q0.processAllAvailable()
          landPhase(work, in, 1, d.filter(col("doc_id") % 4 === 1))
          q0.processAllAvailable()
          landPhase(work, in, 2, d.filter(col("doc_id") % 4 === 2))
          q0.processAllAvailable()
        } finally q0.stop() // outage
        // batches 3 and 4 land during the outage; their relative order
        // is irrelevant to the invariants (the planted clones' originals
        // are all in the batch-0 registry slice)
        landPhase(work, in, 3, d.filter(col("doc_id") % 4 === 3))
        landPhase(work, in, 4, planted)
        val q1 = graft.streaming.StreamingJobs.nearDupScreenStream(stream(),
          work, compactEvery = 1)
        try q1.processAllAvailable() finally q1.stop()
        val v = s.read.parquet(s"$work/verdicts")
        val flagged = v.filter(!col("keep")).select(col("doc_id"))
          .withColumn("_f", lit(1L))
        // expected-flag set: planted clones whose ORIGINAL text shingles
        // (≥ 3 words) — those originals all survived batch 0's empty-
        // registry screen, so their signatures are in the registry no
        // matter how many times it was folded since
        val clones = planted.join(
          d.filter(col("doc_id") % 4 === 0 &&
              size(split(col("text"), " ")) >= 3)
            .select("text").distinct(), Seq("text"))
          .select("doc_id").distinct()
        val nParts = batchParts(s, s"$work/registry")
        val totals = v.agg(count(lit(1)).cast(LongType).as("n_screened"))
        val cover = clones.join(flagged, Seq("doc_id"), "left")
          .agg(count(lit(1)).cast(LongType).as("n_clones"),
            coalesce(min(coalesce(col("_f"), lit(0L))), lit(1L))
              .as("all_flagged"))
        totals.crossJoin(cover)
          .select(col("n_screened"), col("n_clones"), col("all_flagged"),
            lit(if (nParts <= 2) 1L else 0L).as("parts_bounded"))
      }
    },

    // DELTA-LOG DELETION — the right-to-be-forgotten hole the index
    // deletes (sim27/28) cannot close alone: a tombstoned vector still
    // sitting in the not-yet-absorbed append log keeps being served by
    // ivfSearchWithDelta's EXACT delta arm (recall 1.0 on the deleted
    // row — worse than the probe path sim27 already guards), so the
    // log must be deleted from on the same cadence as the index.
    // deltaLogDeleteIds rewrites ONLY the batch directories holding a
    // tombstoned id, each through a crash-safe publish: here batch 0
    // (% 20 == 9) holds no tombstone and keeps its files byte-for-byte
    // while batch 1 (% 20 == 19) is fully tombstoned and keeps a
    // zero-row schema-bearing directory. Invariants: no deleted id
    // served (index OR log arm), sim27's ≥85% floor over the SURVIVING
    // corpus, and the post-delete log row count = exactly the
    // untouched batch.
    QueryDef("st14_delta_delete",
      """SELECT CAST((q.nq - q.nq_del) * least(5, c.n_surv - 1)
        |    + q.nq_del * least(5, c.n_surv) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(1 AS BIGINT) AS none_deleted,
        |  CAST(l.n AS BIGINT) AS log_rows
        |FROM (SELECT count(*) AS nq,
        |        sum(CASE WHEN vec_id % 10 = 4 OR vec_id % 20 = 19
        |            THEN 1 ELSE 0 END) AS nq_del
        |      FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_surv FROM embeddings
        |      WHERE vec_id % 10 <> 4 AND vec_id % 20 <> 19) c,
        |     (SELECT count(*) AS n FROM embeddings
        |      WHERE vec_id % 20 = 9) l""".stripMargin) { (s, dir) =>
      withGateWork(s, "st14", dir) { work =>
        val in = s"$work/in"
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
        val stale = Similarity.ivfBuild(e.filter(col("vec_id") % 10 =!= 9))
        val sch = e.schema
        def stream() = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(in)
        landPhase(work, in, 0, e.filter(col("vec_id") % 20 === 9))
        val s0 = graft.streaming.StreamingJobs.vectorDeltaStream(stream(), work)
        try {
          s0.processAllAvailable()
          landPhase(work, in, 1, e.filter(col("vec_id") % 20 === 19))
          s0.processAllAvailable()
        } finally s0.stop()
        val tomb = e.filter(col("vec_id") % 10 === 4 ||
            col("vec_id") % 20 === 19).select("vec_id")
        graft.streaming.StreamingJobs.deltaLogDeleteIds(s, work, tomb)
        val served = Similarity.ivfSearchWithDelta(q,
            Similarity.ivfDeleteIds(stale, tomb),
            graft.streaming.StreamingJobs.deltaLog(s, work), 5)
          .localCheckpoint() // two consumers: recall + the deleted-id scan
        val leaked =
          served.join(tomb.select(col("vec_id").as("cid")), Seq("cid"))
          .agg(when(count(lit(1)) === 0, 1L).otherwise(0L).as("none_deleted"))
        val logRows = graft.streaming.StreamingJobs.deltaLog(s, work)
          .agg(count(lit(1)).as("log_rows"))
        val surv = e.filter(col("vec_id") % 10 =!= 4 &&
          col("vec_id") % 20 =!= 19)
        recallFloor(Similarity.cosineTopK(q, surv, 5), served,
            floorPct = 85)
          .crossJoin(broadcast(leaked)).crossJoin(broadcast(logRows))
      }
    },

    // DELTA-LOG ABSORPTION + GC — st11's contract ("absorb empties the
    // log") as an OPERATOR over the on-disk artifacts, the dd21
    // discipline applied to the vector lifecycle: ivfAbsorbLog loads
    // the persisted index, folds every landed batch in one bounded
    // delta pass (the quantizer never retrains, the corpus is never
    // re-read), publishes the new index directory over the old one,
    // and REMOVES the absorbed batch directories —
    // afterwards the log's bytes are exactly the rows the index does
    // NOT hold, the disjointness invariant ivfSearchWithDelta serves
    // by. Invariants: both streamed batches absorbed, the log left
    // empty, a second absorb a no-op, and sim25's ≥85% floor served
    // from the RELOADED index with no delta arm at all.
    QueryDef("st15_ivf_absorb_log",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(2 AS BIGINT) AS n_absorbed,
        |  CAST(1 AS BIGINT) AS log_empty,
        |  CAST(1 AS BIGINT) AS absorb_noop
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      withGateWork(s, "st15", dir) { work =>
        val in = s"$work/in"
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
        Similarity.ivfBuild(e.filter(col("vec_id") % 10 =!= 9))
          .save(s"$work/idx")
        val sch = e.schema
        def stream() = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(in)
        landPhase(work, in, 0, e.filter(col("vec_id") % 20 === 9))
        val s0 = graft.streaming.StreamingJobs.vectorDeltaStream(stream(), work)
        try {
          s0.processAllAvailable()
          landPhase(work, in, 1, e.filter(col("vec_id") % 20 === 19))
          s0.processAllAvailable()
        } finally s0.stop()
        val absorbed = graft.streaming.StreamingJobs.ivfAbsorbLog(
          s, s"$work/idx", work)
        val noop = graft.streaming.StreamingJobs.ivfAbsorbLog(
          s, s"$work/idx", work)
        val remaining = batchParts(s, s"$work/delta")
        // emptied = zero DATA rows, still readable through deltaLog (the
        // one schema-bearing placeholder dir keeps the serve path alive)
        val logEmpty = remaining <= 1 &&
          graft.streaming.StreamingJobs.deltaLog(s, work).isEmpty
        val served = Similarity.ivfSearch(q,
          Similarity.ivfLoad(s, s"$work/idx"), 5)
        recallFloor(Similarity.cosineTopK(q, e, 5), served,
            floorPct = 85)
          .select(col("n_exact"), col("recall_ok"),
            lit(absorbed.size.toLong).as("n_absorbed"),
            lit(if (logEmpty) 1L else 0L).as("log_empty"),
            lit(if (noop.isEmpty) 1L else 0L).as("absorb_noop"))
      }
    },

    // st15 on the PRODUCTION architecture: the streamed log's rows
    // assign to the persisted coarse quantizer, their residuals encode
    // against the persisted codebook, the integer codes append, and
    // the same index-directory swap + log GC runs — after which
    // sim21's serve path (ADC shortlist + exact re-rank over the GROWN
    // corpus) sees the absorbed rows through the normal probe with no
    // delta arm, clearing sim26's ≥80% floor. Same emptied-log /
    // second-absorb-no-op invariants as st15.
    QueryDef("st16_ivfpq_absorb_log",
      """SELECT CAST(q.nq * least(5, c.n_all - 1) AS BIGINT) AS n_exact,
        |  CAST(1 AS BIGINT) AS recall_ok,
        |  CAST(2 AS BIGINT) AS n_absorbed,
        |  CAST(1 AS BIGINT) AS log_empty,
        |  CAST(1 AS BIGINT) AS absorb_noop
        |FROM (SELECT count(*) AS nq FROM embeddings WHERE vec_id < 10) q,
        |     (SELECT count(*) AS n_all FROM embeddings) c""".stripMargin) { (s, dir) =>
      withGateWork(s, "st16", dir) { work =>
        val in = s"$work/in"
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
        Similarity.ivfPqBuild(e.filter(col("vec_id") % 10 =!= 9))
          .save(s"$work/idx")
        val sch = e.schema
        def stream() = s.readStream.schema(sch)
          .option("maxFilesPerTrigger", "1").parquet(in)
        landPhase(work, in, 0, e.filter(col("vec_id") % 20 === 9))
        val s0 = graft.streaming.StreamingJobs.vectorDeltaStream(stream(), work)
        try {
          s0.processAllAvailable()
          landPhase(work, in, 1, e.filter(col("vec_id") % 20 === 19))
          s0.processAllAvailable()
        } finally s0.stop()
        val absorbed = graft.streaming.StreamingJobs.ivfPqAbsorbLog(
          s, s"$work/idx", work)
        val noop = graft.streaming.StreamingJobs.ivfPqAbsorbLog(
          s, s"$work/idx", work)
        val remaining = batchParts(s, s"$work/delta")
        // emptied = zero DATA rows, still readable through deltaLog (the
        // one schema-bearing placeholder dir keeps the serve path alive)
        val logEmpty = remaining <= 1 &&
          graft.streaming.StreamingJobs.deltaLog(s, work).isEmpty
        val served = Similarity.ivfPqSearch(q,
          Similarity.ivfPqLoad(s, s"$work/idx"), e, 5)
        recallFloor(Similarity.l2TopK(q, e, 5), served,
            floorPct = 80)
          .select(col("n_exact"), col("recall_ok"),
            lit(absorbed.size.toLong).as("n_absorbed"),
            lit(if (logEmpty) 1L else 0L).as("log_empty"),
            lit(if (noop.isEmpty) 1L else 0L).as("absorb_noop"))
      }
    },

    // Time-series gap fill: the hourly rollup densified onto the full
    // hour grid per event_type — absent buckets get n = 0 and carry the
    // last observed v forward (null before the first observation). The
    // grid is rollup-sized (hours × types), built from broadcast
    // aggregates; the fill is one ordered window per key. Forward-filled
    // doubles are COPIES of decimal-derived values, so they hash-match.
    QueryDef("ev09_gap_fill",
      """WITH roll AS (
        |  SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        | b AS (SELECT min(wstart) AS lo, max(wstart) AS hi FROM roll),
        | hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS wstart FROM b),
        | et AS (SELECT DISTINCT event_type FROM events),
        | grid AS (SELECT wstart, event_type FROM hours, et),
        | j AS (SELECT g.wstart, g.event_type, r.n, r.v
        |       FROM grid g LEFT JOIN roll r USING (wstart, event_type))
        |SELECT wstart, event_type, CAST(COALESCE(n, 0) AS BIGINT) AS n,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY wstart
        |    ROWS UNBOUNDED PRECEDING) AS v
        |FROM j ORDER BY event_type, wstart""".stripMargin) { (s, dir) =>
      val roll = Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("v"))
        .select(col("window.start").as("wstart"), col("event_type"),
          col("n"), col("v"))
      graft.operators.TimeSeries.gapFill(roll, "wstart", "event_type",
          expr("INTERVAL 1 HOUR"), zeroCols = Seq("n"), ffillCols = Seq("v"))
        .orderBy("event_type", "wstart")
    },

    // Approximate quantiles (percentile_approx) — the sketch every
    // monitoring rollup runs at scale instead of an exact global sort.
    // The sketch's actual guarantee is RANK accuracy (±1/accuracy of the
    // target rank), not value accuracy — tiny groups make value-relerr
    // meaningless (approx returns an observed element, exact percentile
    // interpolates between two: measured 25% value gap at sf0.001 vs
    // 1.6% at sf0.01). So the invariant pins rank: each approx
    // percentile must lie within the exact [p−0.05, p+0.05] value band.
    // DuckDB computes the group sizes + a constant flag; Spark computes
    // the flag from the real sketch, so an accuracy regression
    // hash-mismatches.
    QueryDef("ev08_approx_quantiles",
      """SELECT event_type, count(*) AS n, CAST(1 AS BIGINT) AS rank_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          percentile_approx(col("value"), lit(0.5), lit(1000)).as("_a50"),
          percentile_approx(col("value"), lit(0.95), lit(1000)).as("_a95"),
          percentile_approx(col("value"), lit(0.99), lit(1000)).as("_a99"),
          expr("percentile(value, 0.45)").as("_lo50"),
          expr("percentile(value, 0.55)").as("_hi50"),
          expr("percentile(value, 0.90)").as("_lo95"),
          expr("percentile(value, 0.94)").as("_lo99"),
          max(col("value")).as("_hi"))
        .select(col("event_type"), col("n"),
          when(col("_a50").between(col("_lo50"), col("_hi50")) &&
               col("_a95").between(col("_lo95"), col("_hi")) &&
               col("_a99").between(col("_lo99"), col("_hi")), 1L)
            .otherwise(0L).as("rank_ok"))
        .orderBy("event_type")
    },

    // Frequency-sketch heavy hitters (approx_top_k, DataSketches
    // frequent-items — completes the sketch family: HLL distinct,
    // t-digest quantiles, now item frequency). Contract: the corpus
    // vocabulary fits the sketch's tracked-item budget, so the sketch
    // must report every TRUE top-5 token (tie-broken deterministically)
    // with its EXACT count — n_exact pins both containment and count
    // fidelity; at vocab >> budget the same row generalizes to the
    // standard ±εN envelope. The oracle recomputes the true top-5 and
    // pins (tok, n, found, exact) per row.
    QueryDef("ev10_approx_topk",
      """SELECT tok, n, CAST(1 AS BIGINT) AS found, CAST(1 AS BIGINT) AS exact
        |FROM (SELECT tok, count(*) AS n FROM
        |        (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |      GROUP BY tok ORDER BY n DESC, tok LIMIT 5) s
        |ORDER BY n DESC, tok""".stripMargin) { (s, dir) =>
      val toks = TextAnalysis.tokens(docs(s, dir), "doc_id", "text")
      val sk = toks.agg(expr("approx_top_k(tok, 10)").as("_tk"))
        .select(explode(col("_tk")).as("_e"))
        .select(col("_e.item").as("tok"), col("_e.count").as("_est"))
      val truth = toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("tok")).limit(5)
      truth.join(sk, Seq("tok"), "left")
        .select(col("tok"), col("n"),
          when(col("_est").isNotNull, 1L).otherwise(0L).as("found"),
          when(col("_est") === col("n"), 1L).otherwise(0L).as("exact"))
        .orderBy(desc("n"), col("tok"))
    },

    // HLL++ distinct-count sketch: the estimate is algorithm-specific,
    // but the ±5% envelope vs the EXACT distinct count (which both
    // engines compute identically) is the correctness contract —
    // rsd = 0.02, measured relerr 0/0/0.004 at sf0.001/0.01/0.1.
    QueryDef("ev04_approx_distinct",
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n, CAST(1 AS BIGINT) AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("_apx"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("exact_users"), col("n"),
          when(abs(col("_apx") - col("exact_users")).cast(DoubleType) <=
            col("exact_users").cast(DoubleType) * 0.05, 1L)
            .otherwise(0L).as("within_5pct"))
        .orderBy("event_type")
    },

    // Fixed-bin value histogram per event type (bin width 50): the
    // monitoring-distribution shape. bin = floor(v/50) is one IEEE
    // division + floor on identical doubles — portable; one map-side
    // combining aggregation, ~|types|·|bins| result rows.
    QueryDef("ev13_histogram",
      """SELECT event_type, bin, count(*) AS n,
        |  CAST(bin AS DOUBLE) * 50.0 AS bin_lo
        |FROM (SELECT event_type, CAST(floor(value / 50.0) AS BIGINT) AS bin
        |      FROM events) t
        |GROUP BY event_type, bin ORDER BY event_type, bin""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"),
          floor(col("value") / 50.0).cast(LongType).as("bin"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bin_lo", col("bin").cast(DoubleType) * 50.0)
        .orderBy("event_type", "bin")
    },

    // Weekly cohort retention: cohort = week of a user's first event;
    // n_active = users from that cohort active in each later week — the
    // product-analytics matrix. Both week truncations are Monday-based;
    // the offset divides an exact multiple-of-7 day difference, so the
    // integer cast agrees despite Spark truncating and DuckDB rounding.
    QueryDef("ev14_cohort_retention",
      """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
        |            FROM events),
        | ch AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY user_id)
        |SELECT ch.cohort,
        |  CAST(datediff('day', ch.cohort, uw.wk) / 7 AS BIGINT) AS week_offset,
        |  count(*) AS n_active
        |FROM uw JOIN ch USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val uw = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .distinct()
      val ch = uw.groupBy("user_id").agg(min(col("wk")).as("cohort"))
      uw.join(ch, "user_id")
        .groupBy(col("cohort"),
          (datediff(col("wk").cast(DateType), col("cohort").cast(DateType)) / 7)
            .cast(LongType).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy("cohort", "week_offset")
    },

    // Sliding-window aggregation (1h window, 15m slide): every event
    // lands in exactly four overlapping windows. Spark's window() is
    // epoch-aligned; DuckDB's time_bucket origin (2000-01-03) sits on
    // the same 15-minute grid, so the bucket frames coincide exactly.
    QueryDef("ev11_sliding_window",
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        | k AS (SELECT unnest(range(0, 4)) AS k),
        | w AS (SELECT time_bucket(INTERVAL '15 minutes', e.ts)
        |                - k.k * INTERVAL '15 minutes' AS window_start,
        |              e.value
        |       FROM e CROSS JOIN k)
        |SELECT window_start, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
        |FROM w GROUP BY window_start ORDER BY window_start""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 4)))
            .cast(DoubleType).as("total_value"))
        .select(col("window.start").as("window_start"),
          col("n_events"), col("total_value"))
        .orderBy("window_start")
    },

    // Per-event-type z-score outliers (|z| > 3): moments on values
    // quantized to DECIMAL(12,3); the variance numerator n·Σx²−(Σx)²
    // stays in EXACT decimal — the naive `ss − n·mean·mean` double form
    // measured 1 ulp apart between engines (C++ FMA contraction of the
    // multiply-subtract; the JVM never contracts). What remains is one
    // division, one sqrt, one subtract, one divide — single correctly
    // rounded IEEE ops on identical inputs, so flagged rows AND their
    // z-scores hash-match bit for bit. Stats broadcast back onto the
    // stream; the events themselves never shuffle.
    QueryDef("ev12_outliers",
      """WITH st AS (SELECT event_type, count(*) AS n,
        |              CAST(sum(CAST(value AS DECIMAL(12,3))) AS DECIMAL(17,3)) AS s,
        |              CAST(sum(CAST(value AS DECIMAL(12,3)) * CAST(value AS DECIMAL(12,3)))
        |                   AS DECIMAL(26,6)) AS ss
        |            FROM events GROUP BY event_type),
        | ms AS (SELECT event_type,
        |          CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |          -- (19,3) operand casts force the INT128 multiply path:
        |          -- at width <= 18 DuckDB multiplies on an INT64 fast
        |          -- path that overflows once s exceeds ~1e6 (seen at
        |          -- sf0.1); Spark's (17,3)x(17,3) -> (35,6) is exact
        |          -- either way, so the values stay identical rationals
        |          sqrt(CAST(CAST(n AS DECIMAL(11,0)) * ss
        |                    - CAST(CAST(s AS DECIMAL(19,3)) * CAST(s AS DECIMAL(19,3))
        |                           AS DECIMAL(35,6)) AS DOUBLE)
        |               / CAST(n * (n - 1) AS DOUBLE)) AS std
        |        FROM st)
        |SELECT e.event_id, e.event_type, CAST(e.value AS DOUBLE) AS value,
        |  (CAST(CAST(e.value AS DECIMAL(12,3)) AS DOUBLE) - ms.mean) / ms.std AS z
        |FROM events e JOIN ms USING (event_type)
        |WHERE abs((CAST(CAST(e.value AS DECIMAL(12,3)) AS DOUBLE) - ms.mean) / ms.std) > 3.0
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      graft.operators.Anomaly.zScoreOutliers(
        Tables.events(s, dir), "event_type", "value", "event_id")
        .orderBy("event_id")
    },

    // Lag-1..7 autocorrelation of the daily event-count series — the
    // seasonality probe run on rollup output before picking training
    // windows / alert baselines. The series is integer counts, so all
    // five Pearson moment sums stay exact BIGINT in both engines; the
    // only floating point is one divide over sqrt·sqrt on identical
    // integer-derived operands (see TimeSeries.autocorrelation). Scale:
    // everything here is rollup-sized — the daily series broadcasts,
    // events are touched once by the count.
    QueryDef("ev16_autocorr",
      """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             count(*) AS x FROM events GROUP BY 1),
        | s AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
        |              CAST(x AS BIGINT) AS x FROM d),
        | l AS (SELECT CAST(unnest(range(1, 8)) AS BIGINT) AS lag),
        | p AS (SELECT l.lag, a.x AS xa, b.x AS xb
        |       FROM l JOIN s a ON TRUE JOIN s b ON b.t = a.t + l.lag),
        | m AS (SELECT lag, count(*) AS n_pairs,
        |         CAST(sum(xa) AS BIGINT) AS sx, CAST(sum(xb) AS BIGINT) AS sy,
        |         CAST(sum(xa * xa) AS BIGINT) AS sxx,
        |         CAST(sum(xb * xb) AS BIGINT) AS syy,
        |         CAST(sum(xa * xb) AS BIGINT) AS sxy
        |       FROM p GROUP BY lag HAVING count(*) >= 2)
        |SELECT lag, n_pairs,
        |  CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))) AS acf
        |FROM m ORDER BY lag""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(datediff(col("ts").cast(DateType), lit("1970-01-01"))
          .cast(LongType).as("t"))
        .agg(count(lit(1)).as("x"))
      graft.operators.TimeSeries.autocorrelation(daily, "t", "x", maxLag = 7)
    },

    // Single change-point scan (Hinkley/AMOC, the binary-segmentation
    // step) over the daily event-count series: per-split scaled
    // mean-shift statistic, top-3 most likely level shifts. Prefix
    // sums of integer counts stay exact; the statistic is the same
    // short IEEE chain in both engines (see
    // TimeSeries.meanShiftSplits). Rollup-sized end to end.
    QueryDef("ev17_changepoint",
      """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             count(*) AS x FROM events GROUP BY 1),
        | s AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
        |              CAST(x AS BIGINT) AS x FROM d),
        | tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx FROM s),
        | p AS (SELECT t, CAST(sum(x) OVER w AS BIGINT) AS sl,
        |              CAST(count(*) OVER w AS BIGINT) AS nl
        |       FROM s WINDOW w AS (ORDER BY t
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        | st AS (SELECT p.t, nl AS n_left, n - nl AS n_right,
        |          CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE) AS mean_left,
        |          CAST(sx - sl AS DOUBLE) / CAST(n - nl AS DOUBLE) AS mean_right,
        |          abs(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
        |              - CAST(sx - sl AS DOUBLE) / CAST(n - nl AS DOUBLE))
        |            * sqrt(CAST(nl * (n - nl) AS DOUBLE) / CAST(n AS DOUBLE))
        |            AS stat
        |        FROM p CROSS JOIN tot WHERE nl < n)
        |SELECT DATE '1970-01-01' + CAST(t AS INTEGER) AS day,
        |  n_left, n_right, mean_left, mean_right, stat
        |FROM st ORDER BY stat DESC, day LIMIT 3""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(datediff(col("ts").cast(DateType), lit("1970-01-01"))
          .cast(LongType).as("t"))
        .agg(count(lit(1)).as("x"))
      graft.operators.TimeSeries.meanShiftSplits(daily, "t", "x")
        .select(date_add(to_date(lit("1970-01-01")),
            col("t").cast(IntegerType)).as("day"),
          col("n_left"), col("n_right"),
          col("mean_left"), col("mean_right"), col("stat"))
        .orderBy(desc("stat"), col("day"))
        .limit(3)
    },

    // Truncated EWMA (α = 1/2, 12-lag tail cut, renormalized) over the
    // daily event-count series — the anomaly-baseline smoother. Dyadic
    // α makes every weight 2^-(lag+1), exact in IEEE pow and in
    // DECIMAL(20,13); weighted sums are then exact decimals and the
    // one IEEE division sees identical operands in both engines (see
    // TimeSeries.ewmaTruncated). No ordered window anywhere — the
    // bounded-lag self-join parallelizes by bucket.
    QueryDef("ev18_ewma",
      """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             count(*) AS x FROM events GROUP BY 1),
        | s AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
        |              CAST(x AS BIGINT) AS x FROM d),
        | p AS (SELECT a.t, a.x, a.t - b.t AS lag, b.x AS xj
        |       FROM s a JOIN s b ON b.t BETWEEN a.t - 12 AND a.t),
        | w AS (SELECT t, x,
        |         CAST(0.5 * power(0.5, lag) AS DECIMAL(14,13)) AS w,
        |         CAST(xj AS DECIMAL(10,0)) AS xj
        |       FROM p),
        | m AS (SELECT t, x, sum(w * xj) AS num, sum(w) AS den
        |       FROM w GROUP BY 1, 2)
        |SELECT DATE '1970-01-01' + CAST(t AS INTEGER) AS day,
        |  x AS n_events,
        |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma
        |FROM m ORDER BY day""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(datediff(col("ts").cast(DateType), lit("1970-01-01"))
          .cast(LongType).as("t"))
        .agg(count(lit(1)).as("x"))
      graft.operators.TimeSeries.ewmaTruncated(daily, "t", "x")
        .select(date_add(to_date(lit("1970-01-01")),
            col("t").cast(IntegerType)).as("day"),
          col("x").as("n_events"), col("ewma"))
        .orderBy("day")
    },

    // Day-of-week seasonal baseline + residuals over the daily series:
    // phase = epoch-day mod 7 (pure arithmetic — NOT a calendar
    // dayofweek(), whose numbering engines disagree on; the oracle's
    // sign-safe ((t%7)+7)%7 matches the engine's pmod for pre-epoch
    // days too), phase means from exact integer sums, residual one
    // IEEE subtraction. The 7-row phase table broadcasts back onto
    // the rollup.
    QueryDef("ev19_seasonal",
      """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             count(*) AS x FROM events GROUP BY 1),
        | s AS (SELECT CAST(day - DATE '1970-01-01' AS BIGINT) AS t,
        |              CAST(x AS BIGINT) AS x FROM d),
        | p AS (SELECT t, x, ((t % 7) + 7) % 7 AS phase FROM s),
        | m AS (SELECT phase, CAST(sum(x) AS BIGINT) AS sx,
        |         count(*) AS n FROM p GROUP BY 1)
        |SELECT DATE '1970-01-01' + CAST(t AS INTEGER) AS day,
        |  p.x AS n_events, p.phase,
        |  CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS phase_mean,
        |  CAST(p.x AS DOUBLE) -
        |    CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE) AS resid
        |FROM p JOIN m ON m.phase = p.phase ORDER BY day""".stripMargin) { (s, dir) =>
      val daily = Tables.events(s, dir)
        .groupBy(datediff(col("ts").cast(DateType), lit("1970-01-01"))
          .cast(LongType).as("t"))
        .agg(count(lit(1)).as("x"))
      graft.operators.TimeSeries.seasonalBaseline(daily, "t", "x", period = 7)
        .select(date_add(to_date(lit("1970-01-01")),
            col("t").cast(IntegerType)).as("day"),
          col("x").as("n_events"), col("phase"), col("phase_mean"),
          col("resid"))
        .orderBy("day")
    },


    // DAU / trailing-7-day WAU stickiness: a rolling DISTINCT count —
    // inexpressible as a window frame, so the engine collapses events
    // to distinct (user, day) pairs and range-joins the broadcast day
    // spine (≤ 7 pair-copies per day). Everything after the dedup is
    // bounded by users×days, never events.
    QueryDef("ev22_stickiness",
      """WITH ud AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |              user_id AS u FROM events WHERE user_id IS NOT NULL),
        | dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        | wau AS (SELECT sp.day AS d, count(DISTINCT ud.u) AS wau
        |         FROM (SELECT day FROM dau) sp JOIN ud
        |           ON ud.day <= sp.day AND ud.day >= sp.day - 6
        |         GROUP BY sp.day)
        |SELECT dau.day, CAST(dau.dau AS BIGINT) AS dau,
        |  CAST(wau.wau AS BIGINT) AS wau,
        |  CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) AS stickiness
        |FROM dau JOIN wau ON wau.d = dau.day ORDER BY day""".stripMargin) { (s, dir) =>
      graft.operators.TimeSeries.stickiness(Tables.events(s, dir))
        .orderBy("day")
    })
}
