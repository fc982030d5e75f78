#!/usr/bin/env python3
"""Steadiness check: do two sets of runs of the same code agree within the
benchmark's own bounds?

    python3 perfbench/steady.py [--runs 10] [--first-seed 1]

Runs two sets of ``run.py`` runs of every workload at BENCHMARK.json's
``run_seconds``: ``--runs`` per workload per set, each run with its own seed
counting up from ``--first-seed``. For every end-to-end metric it reports:

* spread: the distance between the first and third quartile of a set's
  values (``statistics.quantiles(n=4)``) as a share of its median, which
  must stay within the metric's bound;
* drift: how much worse the second set's median is than the first's, which
  must stay within the bound too.

Every run's calibration probe (``calib_ms``/``calib_par_ms`` before and after)
is stored with it, so a noisy window can be told from a regression. The
report goes to perfbench/work/steady/<time>.json.
"""
import argparse
import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


SETS = 2


def one_run(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.time() - t0
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    runs = sorted(glob.glob(os.path.join(HERE, "work", "runs",
                                         f"*-{workload}-{seed}-0.json")))
    with open(runs[-1]) as f:
        rec = json.load(f)
    return {"seed": seed, "wall_s": wall, "correct": result["correct"],
            "attempted": result["attempted"], "failed": result["failed"],
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "calib_ms": rec["calib_ms"], "calib_par_ms": rec["calib_par_ms"]}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse_by(first, second, better):
    m1, m2 = statistics.median(first), statistics.median(second)
    return (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    report = {"bounds": bounds, "sets": []}
    seed = a.first_seed
    for s in range(SETS):
        runs = {}
        for w in workloads:
            runs[w] = []
            for _ in range(a.runs):
                r = one_run(w, seed, bench["run_seconds"])
                seed += 1
                runs[w].append(r)
                print(f"set {s + 1} {w} seed {r['seed']}: " + " ".join(
                    f"{k}={v:.4g}" for k, v in r["metrics"].items()) +
                    f" calib={max(r['calib_ms']):.0f}/{max(r['calib_par_ms']):.0f}ms"
                    f" wall={r['wall_s']:.0f}s failed={r['failed']}/{r['attempted']}",
                    flush=True)
        report["sets"].append(runs)

    ok = True
    print("\nworkload      metric          bound   " +
          "  ".join(f"med{s + 1}     spread{s + 1}" for s in range(SETS)) + "  drift")
    for w in workloads:
        for name, m in bounds.items():
            vals = [[r["metrics"][name] for r in st[w]] for st in report["sets"]]
            cols = []
            for v in vals:
                sp = spread(v)
                ok &= sp <= m["bound"]
                cols.append(f"{statistics.median(v):<9.4g} {sp:6.3f}{'!' if sp > m['bound'] else ' '}")
            d = worse_by(vals[0], vals[1], m["better"])
            ok &= d <= m["bound"]
            drift = f"{d:+.3f}{'!' if d > m['bound'] else ''}"
            print(f"{w:<13} {name:<15} {m['bound']:<6}  " + "  ".join(cols) + "  " + drift)
    failed = sum(r["failed"] for st in report["sets"] for rs in st.values() for r in rs)
    ok &= failed == 0
    print(f"\n{'STEADY' if ok else 'NOT STEADY'} (failed operations: {failed})")
    out = os.path.join(HERE, "work", "steady")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{int(time.time())}.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
