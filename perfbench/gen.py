"""Seeded input generators for the benchmark.

Everything here is a pure function of (workload, seed): the same seed
gives byte-identical inputs. The program under test only ever sees the
files written here: S3 server-access-log text laid out as
``<root>/<bucket>/yyyy/MM/dd/*.log`` (the layout ``LogEtl.runBackfill``
reads). Beside it go a ``manifest.json`` of per-bucket-day facts and, for
log_query, the client's ``queries.tsv``.
"""
import base64
import datetime as dt
import json
import os
import random
import re

# The reference converter's 26-group pattern
# (s3_server_access_logs.py:25-34). ``re.search`` on it is the oracle for
# which lines dead-letter; the generator's own bookkeeping must agree.
S3_PATTERN = re.compile(
    r'(\S+) (\S+) (\[[^\]]*\]) (\S+) (\S+) (\S+) (\S+) (\S+) ("[^"]*"|-) '
    r'(\S+) (\S+) (\S+) (\S+) (\S+) (\S+) ("[^"]*"|-) ("[^"]*"|-) (\S) '
    r'(\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+) (\S+)')

MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
ALNUM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
OPERATIONS = [
    ("REST.GET.OBJECT", "GET", 50), ("REST.HEAD.OBJECT", "HEAD", 12),
    ("REST.PUT.OBJECT", "PUT", 14), ("REST.GET.BUCKET", "GET", 6),
    ("REST.HEAD.BUCKET", "HEAD", 5), ("REST.DELETE.OBJECT", "DELETE", 4),
    ("BATCH.DELETE.OBJECT", "-", 3), ("REST.COPY.OBJECT", "PUT", 3),
    ("REST.GET.ACL", "GET", 2), ("WEBSITE.GET.OBJECT", "GET", 1),
]
STATUSES = [(200, "-", 80), (206, "-", 4), (304, "-", 4), (204, "-", 3),
            (403, "AccessDenied", 3), (404, "NoSuchKey", 4),
            (500, "InternalError", 1), (503, "SlowDown", 1)]
AGENTS = [
    '"aws-sdk-java/1.12.189 Linux/5.15.0-1064-aws OpenJDK_64-Bit_Server_VM/25.382-b05 java/1.8.0_382"',
    '"Hadoop 3.3.1, aws-sdk-java/1.12.189 Linux/5.15.0 cfg/retry-mode/legacy"',
    '"aws-cli/2.15.30 Python/3.11.8 Linux/6.1.0 exe/x86_64.debian.12 prompt/off command/s3.cp"',
    '"Boto3/1.34.69 md/Botocore#1.34.69 ua/2.0 os/linux#6.1.0 lang/python#3.11.8"',
    '"S3Console/0.4, aws-internal/3 aws-sdk-java/1.12.488"',
    '"-"',
]
PREFIXES = ["logs", "images", "data/raw", "data/curated", "tmp", "exports"]

# Busy/quiet bucket-day shape for the ETL workloads: line totals are
# fixed per bucket-day so run-to-run work is constant across seeds; only
# the content and the split over files vary with the seed.
ETL_DAYS = [dt.date(2024, 7, 29), dt.date(2024, 7, 30)]
QUERY_DAYS = [dt.date(2024, 7, 22) + dt.timedelta(days=i) for i in range(7)]
BUCKET_SHAPES = {
    # name: (files per day, non-blank lines per day, days with logs)
    "etl_compact": {"quiet-bucket": (1000, 8000, 2), "busy-bucket": (3, 16000, 2)},
    # the buckets log on 1 and 4 seeded days of the week: sparse history,
    # which dayPaths skips (and which keeps set-up to 5 compactions)
    "log_query": {"quiet-bucket": (30, 1500, 1), "busy-bucket": (2, 12000, 4)},
}


def _pick(rng, weighted):
    total = sum(w[-1] for w in weighted)
    r = rng.random() * total
    for w in weighted:
        r -= w[-1]
        if r < 0:
            return w
    return weighted[-1]


def _token(rng, alphabet, n):
    return "".join(rng.choice(alphabet) for _ in range(n))


def _b32(rng, n):
    """n upper-case base32 characters (A-Z, 2-7): request ids."""
    return base64.b32encode(rng.randbytes(5 * n // 8 + 5)).decode()[:n]


def _b64(rng, n):
    return base64.b64encode(rng.randbytes(3 * n // 4 + 3)).decode()[:n]


def _split_counts(rng, files, total):
    """Log-normal lines per file (a few bytes to hundreds of KB), scaled
    so the bucket-day holds exactly ``total`` non-blank lines."""
    if files == 1:
        return [total]
    raw = [rng.lognormvariate(0.0, 1.6) for _ in range(files)]
    scale = (total - files) / sum(raw)
    counts = [1 + int(x * scale) for x in raw]
    short = total - sum(counts)
    i = 0
    while short != 0:
        j = i % files
        if short > 0:
            counts[j] += 1
            short -= 1
        elif counts[j] > 1:
            counts[j] -= 1
            short += 1
        i += 1
    return counts


class _Day:
    """Renders one bucket-day of lines and keeps its manifest."""

    def __init__(self, rng, bucket, day):
        self.rng, self.bucket, self.day = rng, bucket, day
        self.owner = _token(rng, "0123456789abcdef", 64)
        self.rows = self.blank = self.malformed = self.bytes_sent = 0
        self.min_t = self.max_t = None
        self.request_ids = []
        self.raw_bytes = 0

    def line(self):
        rng = self.rng
        roll = rng.random()
        if roll < 0.005:
            self.blank += 1
            return rng.choice(["", "   ", "\t"])
        self.rows += 1
        if roll < 0.015:
            self.malformed += 1
            if rng.random() < 0.5:
                return rng.choice(["content", "garbage line",
                                   "2024-07-30 truncated record",
                                   '"unterminated " quote'])
            # a real line except for a multi-character version_id: the
            # reference's one-character `(?P<version>\S)` dead-letters it
            return self._record(version=_b32(rng, 32), count=False)
        return self._record()

    def _record(self, version=None, count=True):
        rng = self.rng
        secs = rng.randrange(86400)
        t = dt.datetime.combine(self.day, dt.time()) + dt.timedelta(seconds=secs)
        op, verb, _ = _pick(rng, OPERATIONS)
        status, err, _ = _pick(rng, STATUSES)
        key = "-" if op.endswith("BUCKET") else (
            f"{rng.choice(PREFIXES)}/{rng.randrange(10**6):06d}/part-{rng.randrange(500):05d}.gz")
        request = "-" if verb == "-" else (
            f'"{verb} /{"" if key == "-" else key}?x-id={rng.randrange(99)} HTTP/1.1"')
        size = rng.randrange(1, 4 * 10**6)
        bytes_sent = None if verb in ("HEAD", "PUT", "DELETE") or rng.random() < 0.05 \
            else rng.randrange(0, size + 1)
        reqid = _b32(rng, 16)
        if version is None:
            version = "-" if rng.random() < 0.9 else rng.choice(ALNUM)
        fields = [
            self.owner, self.bucket,
            f"[{t.day:02d}/{MONTHS[t.month - 1]}/{t.year}:{t:%H:%M:%S} +0000]",
            f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
            "-" if rng.random() < 0.1 else
            f"arn:aws:sts::{rng.randrange(10**12):012d}:assumed-role/Role{rng.randrange(20)}/i-{rng.randbytes(9).hex()[:17]}",
            reqid, op, key, request, str(status), err,
            "-" if bytes_sent is None else str(bytes_sent),
            "-" if key == "-" else str(size),
            str(rng.randrange(1, 5000)),
            "-" if rng.random() < 0.2 else str(rng.randrange(1, 300)),
            '"-"' if rng.random() < 0.7 else f'"https://example.com/p/{rng.randrange(1000)}"',
            rng.choice(AGENTS), version,
            _b64(rng, 76) + "=",
            rng.choice(["SigV4", "SigV2", "-"]),
            rng.choice(["TLS_AES_128_GCM_SHA256", "ECDHE-RSA-AES128-GCM-SHA256", "-"]),
            rng.choice(["AuthHeader", "QueryString", "-"]),
            f"{self.bucket}.s3.us-east-1.amazonaws.com",
            rng.choice(["TLSv1.2", "TLSv1.3", "-"]),
            "-", rng.choice(["-", "Yes"]),
        ]
        if rng.random() < 0.1:  # newer log versions append fields
            fields.append(rng.choice(["-", "s3.amazonaws.com", "Yes"]))
        if count:
            self.request_ids.append(reqid)
            if bytes_sent is not None:
                self.bytes_sent += bytes_sent
            self.min_t = t if self.min_t is None or t < self.min_t else self.min_t
            self.max_t = t if self.max_t is None or t > self.max_t else self.max_t
        return " ".join(fields)

    def manifest(self):
        return {"bucket": self.bucket, "day": self.day.isoformat(),
                "rows": self.rows, "blank_lines": self.blank,
                "malformed_lines": self.malformed,
                "sum_bytes_sent": self.bytes_sent,
                "min_request_time": self.min_t.isoformat(sep=" "),
                "max_request_time": self.max_t.isoformat(sep=" "),
                "raw_bytes": self.raw_bytes}


def write_bucket_day(root, bucket, day, files, lines, seed):
    """Write one bucket-day of raw log files and return its manifest, with
    the dead-letter count re-derived through the reference pattern."""
    rng = random.Random(f"{seed}/{bucket}/{day.isoformat()}")
    d = _Day(rng, bucket, day)
    out_dir = os.path.join(root, bucket, f"{day:%Y/%m/%d}")
    os.makedirs(out_dir, exist_ok=True)
    searched_bad = 0
    for i, n in enumerate(_split_counts(rng, files, lines)):
        text = []
        while n > 0:
            ln = d.line()
            text.append(ln)
            if ln.strip():
                n -= 1
                searched_bad += S3_PATTERN.search(ln.strip()) is None
        data = ("\n".join(text) + "\n").encode()
        d.raw_bytes += len(data)
        name = f"{bucket}-{day:%Y-%m-%d}-{i:05d}-{_token(rng, ALNUM, 6)}.log"
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(data)
    m = d.manifest()
    if searched_bad != m["malformed_lines"]:
        raise AssertionError(
            f"generator bookkeeping says {m['malformed_lines']} malformed lines, "
            f"the reference pattern rejects {searched_bad}")
    m["request_ids_sample"] = rng.sample(d.request_ids, min(64, len(d.request_ids)))
    return m


def _bucket_day(job):
    return write_bucket_day(*job)


def write_logs(root, workload, seed, workers=4):
    """All bucket-days of a workload (in parallel: each bucket-day has its
    own random stream, so the output does not depend on scheduling)."""
    from concurrent.futures import ProcessPoolExecutor
    days = ETL_DAYS if workload == "etl_compact" else QUERY_DAYS
    jobs = []
    for b, (files, lines, n_days) in BUCKET_SHAPES[workload].items():
        logged = sorted(random.Random(f"{seed}/{b}/days").sample(days, n_days))
        jobs += [(root, b, d, files, lines, seed) for d in logged]
    with ProcessPoolExecutor(max_workers=workers) as pool:
        manifests = list(pool.map(_bucket_day, jobs))
    with open(os.path.join(root, "manifest.json"), "w") as f:
        json.dump({"days": [d.isoformat() for d in days],
                   "buckets": list(BUCKET_SHAPES[workload]),
                   "bucket_days": manifests}, f, indent=1)
    if workload == "log_query":
        write_queries(root, seed, manifests, days)


QUERY_CLASSES = ["day_rollup", "hour_window", "request_lookup", "week_range",
                 "dead_letter"]


def write_queries(root, seed, manifests, days, n_rounds=200):
    """The client's query sequence: rounds of one query per class in a
    seeded order, each with seeded parameters."""
    rng = random.Random(f"{seed}/queries")
    ids = {(m["bucket"], m["day"]): m["request_ids_sample"] for m in manifests}
    logged = {b: sorted(d for bb, d in ids if bb == b) for b, _ in ids}
    buckets = sorted(logged)
    rows = ["class\tbucket\tday\thour\trequest_id"]
    for _ in range(n_rounds):
        for c in rng.sample(QUERY_CLASSES, len(QUERY_CLASSES)):
            b = rng.choice(buckets)
            d = days[0].isoformat() if c == "week_range" else rng.choice(logged[b])
            rid = rng.choice(ids[(b, d)]) if c == "request_lookup" else ""
            rows.append(f"{c}\t{b}\t{d}\t{rng.randrange(24):02d}\t{rid}")
    with open(os.path.join(root, "queries.tsv"), "w") as f:
        f.write("\n".join(rows) + "\n")


# --- gate tables: what the pipeline operators read -----------------------

VOCAB_SIZE = 240
GATE_DOCS = 1200
GATE_VECTORS = 3000
GATE_DIMS = 16
CLONE_OFFSET = 100000


def write_gate_tables(root, seed):
    """``documents`` (doc_id, text) and ``embeddings`` (vec_id, FLOAT[])
    shaped like the TESTDATA.md tables, as one parquet file each.

    Texts are lower-case words joined by single spaces, so every engine
    splits them alike. Every 20th document has an exact copy at
    ``doc_id + CLONE_OFFSET``: identical text gives an identical MinHash
    signature, so each such pair must be an LSH candidate. Vector
    components are multiples of 1/64, exact in FLOAT and in six decimals,
    so cosine scores are exact sums in either engine.
    """
    import duckdb
    rng = random.Random(f"{seed}/gates")
    vocab = sorted({_token(rng, "abcdefghijklmnopqrstuvwxyz", rng.randrange(3, 9))
                    for _ in range(VOCAB_SIZE)})
    weights = [1.0 / (i + 1) for i in range(len(vocab))]  # Zipf-like
    docs = []
    for i in range(GATE_DOCS):
        words = rng.choices(vocab, weights, k=rng.randrange(8, 40))
        docs.append((i, " ".join(words)))
    docs += [(i + CLONE_OFFSET, t) for i, t in docs if i % 20 == 0]
    vecs = [(i, [rng.randrange(-64, 65) / 64 for _ in range(GATE_DIMS)])
            for i in range(GATE_VECTORS)]
    out = os.path.join(root, "gates")
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO embeddings VALUES (?, ?)", vecs)
    for t in ("documents", "embeddings"):
        con.execute(f"COPY (SELECT * FROM {t} ORDER BY 1) TO "
                    f"'{os.path.join(out, t + '.parquet')}' (FORMAT PARQUET)")
    con.close()


def generate(root, workload, seed):
    os.makedirs(root, exist_ok=True)
    write_logs(root, workload, seed)
    if workload == "etl_compact":
        write_gate_tables(root, seed)

if __name__ == "__main__":
    import sys
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]))
