#!/usr/bin/env python3
"""Reads benchmark result files (.bench_build/results/*.json).

    python3 perfbench/report.py table [result.json ...]   # per-layer table per workload
    python3 perfbench/report.py diff A.json B.json        # metric-by-metric diff
    python3 perfbench/report.py spans run.spans.jsonl     # call wall vs job time per layer

`table` with no files reads every traced result in .bench_build/results.
"""
import collections
import glob
import json
import os
import statistics
import sys

LAYERS = ["ops", "text", "similarity", "multimodal", "sim", "streaming", "store",
          "session", "trace"]
MODULES = ["ops", "text", "similarity", "multimodal", "sim", "streaming", "store", "session"]


def load(path):
    with open(path) as fh:
        return json.load(fh)


def table(paths):
    if not paths:
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        paths = sorted(glob.glob(os.path.join(here, ".bench_build", "results", "*trace1*.json")))
    by_wl = collections.defaultdict(list)
    for p in paths:
        r = load(p)
        by_wl[r["workload"]].append(r)
    for wl, runs in sorted(by_wl.items()):
        print(f"== {wl} ({len(runs)} traced run(s); medians; per pass)")
        for layer in LAYERS:
            keys = sorted({k for r in runs for k in r["metrics"] if k.startswith(layer + ".")})
            vals = {k: statistics.median(r["metrics"][k] for r in runs if k in r["metrics"])
                    for k in keys}
            if not any(vals.values()):
                continue
            cells = "  ".join(f"{k.split('.', 1)[1]}={v:.4g}" for k, v in vals.items() if v)
            print(f"  {layer:<11} {cells}")


def diff(a_path, b_path):
    a, b = load(a_path)["metrics"], load(b_path)["metrics"]
    print(f"{'metric':<34} {'A':>12} {'B':>12} {'B-A':>12} {'B/A':>8}")
    for k in sorted(set(a) | set(b)):
        x, y = a.get(k), b.get(k)
        if x is None or y is None:
            print(f"{k:<34} {str(x):>12} {str(y):>12}")
            continue
        ratio = f"{y / x:8.3f}" if x else "       -"
        print(f"{k:<34} {x:12.5g} {y:12.5g} {y - x:12.5g} {ratio}")


def spans(path):
    """Per layer: call wall time, the part of it covered by Spark jobs, and
    the rest (self time outside jobs: planning, collects, scheduling gaps)."""
    ss = [json.loads(l) for l in open(path)]
    jobs = collections.defaultdict(list)
    for s in ss:
        if s["kind"] == "job" and s["parent"]:
            jobs[s["parent"]].append((s["start_ms"], s["end_ms"]))
    acc = collections.defaultdict(lambda: [0, 0.0, 0.0])
    for s in ss:
        if s["kind"] != "call":
            continue
        covered, last = 0.0, s["start_ms"]
        for st, en in sorted(jobs[s["id"]]):
            st, en = max(st, last), min(en, s["end_ms"])
            if en > st:
                covered += en - st
                last = en
        row = acc[MODULES[int(s.get("module", 0))]]
        row[0] += 1
        row[1] += (s["end_ms"] - s["start_ms"]) / 1000.0
        row[2] += covered / 1000.0
    print(f"{'layer':<11} {'calls':>6} {'wall_s':>9} {'in_jobs_s':>10} {'self_s':>9}")
    for m, (n, wall, cov) in sorted(acc.items()):
        print(f"{m:<11} {n:>6} {wall:9.3f} {cov:10.3f} {wall - cov:9.3f}")


if __name__ == "__main__":
    cmd, args = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 1 else ("table", [])
    if cmd == "table":
        table(args)
    elif cmd == "diff" and len(args) == 2:
        diff(*args)
    elif cmd == "spans" and len(args) == 1:
        spans(args[0])
    else:
        sys.exit(__doc__)
