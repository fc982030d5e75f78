#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the harness from
source (once per source tree), generates the workload's inputs from the
seed, runs one JVM that sets up, measures and (with --trace 1) traces,
checks every output with DuckDB, and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything it writes stays under perfbench/work and perfbench/target.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("etl_compact", "log_query")
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "source.stamp")
JVM_TIMEOUT_S = 150
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, logfile, cwd=None, env=None):
    """Run a child in its own process group; on timeout kill the group and
    wait for it, so no process outlives the benchmark."""
    with open(logfile, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit(f"{cmd[0]} timed out after {timeout} s; see {logfile}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    log("building program + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Xmx2g -XX:-UsePerfData"
    t0 = time.time()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "compile", "writeClasspath"], 850,
                   os.path.join(WORK, "build.log"), cwd=HERE, env=env)
    if rc != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"build failed (rc={rc}); see perfbench/work/build.log")
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def inputs(workload, seed):
    """Generated inputs, cached by (workload, seed); older seeds of the
    same workload are removed to bound disk use."""
    base = os.path.join(WORK, "inputs")
    path = os.path.join(base, f"{workload}-{seed}")
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(base):
        if d.startswith(workload + "-") and d != os.path.basename(path):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    gen.generate(path, workload, seed)
    open(os.path.join(path, "DONE"), "w").close()
    return path


def run_jvm(workload, inp, run_dir, seconds, trace):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "harness.json")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
              "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Harness",
              "--workload", workload, "--input", inp, "--work", run_dir,
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--out", out])
    rc = run_child(cmd, JVM_TIMEOUT_S, os.path.join(run_dir, "jvm.log"), cwd=run_dir)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit(f"harness failed (rc={rc}); see {run_dir}/jvm.log")
    with open(out) as f:
        return json.load(f)


def pct(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def evaluate(workload, inp, run_dir, h):
    """Correctness checks. Returns (attempted, failed, facts)."""
    con = checks.connect()
    with open(os.path.join(inp, "manifest.json")) as f:
        manifest = json.load(f)
    dest = os.path.join(run_dir, "etl-out" if workload == "etl_compact" else "table")
    fails, facts = checks.check_compacted(con, dest, manifest, h["schema_ok"])
    n_days = len(manifest["bucket_days"])
    bad_days = len({f.split(":")[0] for f in fails})
    if workload == "etl_compact":
        # every backfill rewrites the same bucket-days; the last one is checked
        ops = len(h["op_s"]) + len(h.get("traced_op_s", []))
        attempted, failed = ops * n_days, ops * bad_days
        if os.path.exists(os.path.join(run_dir, "gate_tfidf.json")):
            g_att, g_fails = checks.check_gates(con, os.path.join(inp, "gates"), run_dir)
            attempted, failed = attempted + g_att, failed + len(g_fails)
            fails += g_fails
    else:
        queries = checks.read_queries(os.path.join(inp, "queries.tsv"))
        q_att, q_fails = checks.check_queries(
            con, dest, queries, os.path.join(run_dir, "query_results.tsv"))
        attempted, failed = q_att + n_days, len(q_fails) + bad_days
        fails += q_fails
    for f in fails[:20]:
        log(f"CHECK FAILED: {f}")
    return attempted, failed, facts


def metric(v, unit):
    return {"value": v, "unit": unit}


# Bench's healthy single-thread spin-probe time: the reference core speed
# latencies are scaled to
REF_PROBE_MS = 55.0


def op_p50_norm_ms(h):
    """Median operation latency scaled to the reference core speed: the
    host's speed drifts by ~20% over minutes, and the spin probes taken
    just before and just after the window track it."""
    return (statistics.median(h["op_s"]) * 1e3
            * REF_PROBE_MS / statistics.median(h["probe_ms"]))


def end_to_end(h, facts):
    return {
        # the first set-up is the cold JVM's; the warm ones repeat
        "setup_s": metric(statistics.median(h["setup_s"][1:]), "s"),
        "op_p50_norm_ms": metric(op_p50_norm_ms(h), "ms"),
        "peak_rss_mb": metric(h["peak_rss_mb"], "MB"),
        "bytes_ratio": metric(facts["output_bytes"] / facts["raw_bytes"], "ratio"),
    }


def per_layer(workload, h, facts):
    """Every per-layer metric BENCHMARK.json names; a layer the workload
    does not exercise reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    v = {k: 0.0 for k in units}
    med = statistics.median
    v["session.start_s"] = med(h["session_start_s"][1:])
    v["session.warmup_s"] = med(h["session_warmup_s"][1:])
    v["session.cold_setup_s"] = h["setup_s"][0]
    v["session.calib_ms"] = max(h["calib_ms"])
    v["session.calib_par_ms"] = max(h["calib_par_ms"])
    v["session.probe_ms"] = med(h["probe_ms"])
    v["op.p50_raw_ms"] = med(h["op_s"]) * 1e3
    v["trace.overhead_frac"] = med(h["traced_op_s"]) / med(h["op_s"]) - 1.0
    for k in units:
        if k in h:
            v[k] = h[k]
    v["logetl.output_bytes"] = facts["output_bytes"]
    v["logetl.row_groups"] = facts["row_groups"]
    v["sources.dead_letter_rows"] = facts["dead_letter_rows"]
    v["sources.rows_parsed"] = h["logetl.records_written"]
    if workload == "etl_compact":
        v["logetl.lines_per_s"] = facts["rows"] / med(h["op_s"])
    if workload == "log_query":
        v["logtable.query_p95_ms"] = pct(h["op_s"], 95) * 1e3
    return {k: metric(x, units[k]) for k, x in v.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources at src/main/scala/graft: "
                         "run from the root of a full checkout")
    os.makedirs(WORK, exist_ok=True)
    build()
    t0 = time.time()
    inp = inputs(a.workload, a.seed)
    log(f"inputs ready in {time.time() - t0:.1f} s")
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t0 = time.time()
    h = run_jvm(a.workload, inp, run_dir, a.seconds, a.trace == 1)
    log(f"jvm done in {time.time() - t0:.1f} s")
    attempted, failed, facts = evaluate(a.workload, inp, run_dir, h)
    metrics = per_layer(a.workload, h, facts) if a.trace else end_to_end(h, facts)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "time": time.time(), "attempted": attempted,
              "failed": failed, "metrics": metrics,
              "calib_ms": h["calib_ms"], "calib_par_ms": h["calib_par_ms"],
              "raw": h}
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{int(time.time() * 1000)}-{a.workload}-"
                                 f"{a.seed}-{a.trace}.json"), "w") as f:
        json.dump(record, f)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
