"""Correctness checks, run after the JVM exits (outside every timed window).

Each check returns a list of failure messages; an empty list means the
run's outputs are right. DuckDB is the independent reader throughout.
"""
import datetime as dt
import glob
import json
import os

import duckdb


def connect():
    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    return con


def day_dir(root, bucket, day):
    d = dt.date.fromisoformat(day) if isinstance(day, str) else day
    return os.path.join(root, bucket, f"{d:%Y/%m/%d}")


def parquet_files(path):
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def table_facts(con, files):
    """The manifest's facts, as DuckDB reads them from compacted files."""
    r = con.execute(
        "SELECT count(*), count(error_line), sum(bytes_sent), "
        "strftime(min(request_time), '%Y-%m-%d %H:%M:%S'), "
        "strftime(max(request_time), '%Y-%m-%d %H:%M:%S') "
        "FROM read_parquet(?)", [files]).fetchone()
    return {"rows": r[0], "malformed_lines": r[1], "sum_bytes_sent": int(r[2] or 0),
            "min_request_time": r[3], "max_request_time": r[4]}


def layout(con, files):
    """Bytes on disk and parquet row groups of a set of files."""
    rg = con.execute(
        "SELECT count(DISTINCT (file_name, row_group_id)) FROM parquet_metadata(?)",
        [files]).fetchone()[0]
    return sum(os.path.getsize(f) for f in files), rg


def check_compacted(con, dest, manifest, schema_ok, max_files=10):
    """Compacted bucket-days against the generator's manifest. Returns
    (failures, facts) where facts carries output bytes and row groups."""
    fails, out_bytes, row_groups, dead = [], 0, 0, 0
    for m in manifest["bucket_days"]:
        where = f"{m['bucket']}/{m['day']}"
        files = parquet_files(day_dir(dest, m["bucket"], m["day"]))
        if not files or len(files) > max_files:
            fails.append(f"{where}: {len(files)} parquet files (want 1..{max_files})")
            continue
        if not schema_ok.get(where, False):
            fails.append(f"{where}: schema differs from LogTable.outputSchema")
        got = table_facts(con, files)
        for k, v in got.items():
            if v != m[k]:
                fails.append(f"{where}: {k} = {v!r}, manifest says {m[k]!r}")
        b, rg = layout(con, files)
        out_bytes += b
        row_groups += rg
        dead += got["malformed_lines"]
    return fails, {"output_bytes": out_bytes, "row_groups": row_groups,
                   "dead_letter_rows": dead,
                   "raw_bytes": sum(m["raw_bytes"] for m in manifest["bucket_days"]),
                   "rows": sum(m["rows"] for m in manifest["bucket_days"])}


# --- log_query: the same five query classes, as DuckDB SQL ---------------

def _norm(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def query_oracle(con, dest, q):
    b, day = q["bucket"], q["day"]
    if q["class"] == "week_range":
        d0 = dt.date.fromisoformat(day)
        days = [d0 + dt.timedelta(days=i) for i in range(7)]
    else:
        days = [dt.date.fromisoformat(day)]
    files = [f for d in days for f in parquet_files(day_dir(dest, b, d))]
    src = "read_parquet(?)"
    c = q["class"]
    if c == "day_rollup":
        sql = (f"SELECT operation, http_status, count(*), sum(bytes_sent) FROM {src} "
               "GROUP BY ALL ORDER BY operation NULLS FIRST, http_status NULLS FIRST")
        args = [files]
    elif c == "hour_window":
        start = f"{day} {q['hour']}:00:00+00"
        sql = (f"SELECT key, sum(bytes_sent) AS b, count(*) FROM {src} "
               "WHERE request_time >= CAST(? AS TIMESTAMPTZ) "
               "AND request_time < CAST(? AS TIMESTAMPTZ) + INTERVAL 1 HOUR "
               "AND key IS NOT NULL GROUP BY key "
               "ORDER BY b DESC NULLS LAST, key NULLS FIRST LIMIT 10")
        args = [files, start, start]
    elif c == "request_lookup":
        sql = (f"SELECT request_id, strftime(request_time, '%Y-%m-%d %H:%M:%S'), "
               f"operation, key, http_status, bytes_sent FROM {src} "
               "WHERE request_id = ? ORDER BY request_time NULLS FIRST, "
               "operation NULLS FIRST, key NULLS FIRST")
        args = [files, q["request_id"]]
    elif c == "week_range":
        sql = (f"SELECT CAST(request_time AS DATE) AS d, count(*), sum(bytes_sent), "
               f"count(error_line) FROM {src} GROUP BY d ORDER BY d NULLS FIRST")
        args = [files]
    elif c == "dead_letter":
        sql = (f"SELECT error_line FROM {src} WHERE error_line IS NOT NULL "
               "ORDER BY error_line")
        args = [files]
    else:
        raise ValueError(c)
    return [[_norm(v) for v in row] for row in con.execute(sql, args).fetchall()]


def check_queries(con, dest, queries, results_path):
    """Every query the client ran against DuckDB's answer over the same
    files. Returns (attempted, failures)."""
    fails, attempted, cache = [], 0, {}
    with open(results_path) as f:
        for line in f:
            i, rows = line.rstrip("\n").split("\t", 1)
            attempted += 1
            qi = int(i)
            if qi not in cache:
                cache[qi] = query_oracle(con, dest, queries[qi])
            if json.loads(rows) != cache[qi]:
                q = queries[qi]
                fails.append(f"query {qi} ({q['class']} {q['bucket']} {q['day']}): "
                             f"Spark and DuckDB disagree")
    return attempted, fails


def read_queries(path):
    with open(path) as f:
        lines = f.read().splitlines()
    names = lines[0].split("\t")
    return [dict(zip(names, ln.split("\t"))) for ln in lines[1:]]


# --- gates: the pipeline operators against DuckDB -----------------------

CLONE_OFFSET = 100000

# ta08's oracle: top 3 terms per document by tf * ln(N / df), quantised to
# DECIMAL(18,6) before ranking
TFIDF_SQL = """
WITH documents AS (SELECT * FROM read_parquet(?)),
 tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
 tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
 df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
 n AS (SELECT count(*) AS n_docs FROM documents),
 s AS (SELECT tf.doc_id, tf.tok,
         CAST(CAST(tf.tf AS DOUBLE) *
              ln(CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
              AS DECIMAL(18,6)) AS q
       FROM tf CROSS JOIN n JOIN df USING (tok))
SELECT doc_id, tok, CAST(q AS DOUBLE) AS tfidf, rank FROM (
  SELECT doc_id, tok, q,
    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY q DESC, tok) AS BIGINT) AS rank
  FROM s) r
WHERE rank <= 3 ORDER BY doc_id, rank
"""

# exact cosine top 5 for each of the first 12 vectors; components are
# multiples of 1/64, so every dot product and norm is exact in DOUBLE
COSINE_SQL = """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM read_parquet(?)),
 s AS (SELECT q.vec_id AS qid, c.vec_id AS cid,
         list_dot_product(q.e, c.e) /
           sqrt(list_dot_product(q.e, q.e) * list_dot_product(c.e, c.e)) AS sim
       FROM v q JOIN v c ON q.vec_id <> c.vec_id WHERE q.vec_id < 12)
SELECT qid, cid, sim, CAST(row_number() OVER (PARTITION BY qid
  ORDER BY sim DESC, cid) AS BIGINT) AS rank
FROM s QUALIFY rank <= 5 ORDER BY qid, rank
"""


def check_gates(con, gate_dir, out_dir):
    """The traced etl_compact run's gate results. Returns (attempted,
    failures): one attempt per gate."""
    docs = os.path.join(gate_dir, "documents.parquet")
    emb = os.path.join(gate_dir, "embeddings.parquet")

    def got(name):
        with open(os.path.join(out_dir, f"gate_{name}.json")) as f:
            return json.load(f)

    fails = []
    pairs = [tuple(p) for p in got("minhash_lsh")]
    clones = con.execute(
        "SELECT a.doc_id, b.doc_id FROM read_parquet(?) a JOIN read_parquet(?) b "
        "ON a.text = b.text AND a.doc_id < b.doc_id", [docs, docs]).fetchall()
    missed = set(clones) - set(pairs)
    if len(set(pairs)) != len(pairs) or any(a >= b for a, b in pairs):
        fails.append("minhash_lsh: candidate pairs are not distinct (id_a < id_b)")
    if len(clones) < 1 or missed:
        fails.append(f"minhash_lsh: {len(missed)} of {len(clones)} identical-text "
                     "pairs are not candidates")
    if got("tfidf") != [list(r) for r in con.execute(TFIDF_SQL, [docs]).fetchall()]:
        fails.append("tfidf: Spark and DuckDB disagree")
    if got("cosine_topk") != [list(r) for r in con.execute(COSINE_SQL, [emb]).fetchall()]:
        fails.append("cosine_topk: Spark and DuckDB disagree")
    return 3, fails
