#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (a few minutes).

    python3 perfbench/selftest.py

For every workload, an untraced and a traced run at `--size tiny` must pass
every answer check and print every metric BENCHMARK.json names, with its
unit. A wrong expected checksum and a dropped stream row must each count as
a failed operation. Run without the program's sources, the benchmark must
exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

import run

FAILS = []


def bench(*args, cwd=run.ROOT, script=os.path.join(run.HERE, "run.py")):
    p = subprocess.run([sys.executable, script, "--seconds", "1", "--seed", "7"] + list(args),
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        res = json.loads(last)
    except ValueError:
        res = None
    return p.returncode, res, p


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILS.append(what)


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in [x["name"] for x in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res, p = bench("--workload", w, "--trace", str(trace), "--size", "tiny")
            what = f"{w} trace={trace}"
            if code != 0 or res is None:
                expect(False, f"{what}: exit {code}; stderr tail: {p.stderr[-400:]}")
                continue
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] > 0,
                   f"{what}: correct, {res['attempted']} attempted, {res['failed']} failed")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(got == want, f"{what}: prints all {len(want)} metrics with their units")
            expect(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                   f"{what}: every value is a number")

    code, res, _ = bench("--workload", "sweep", "--trace", "0", "--size", "tiny",
                         "--fault", "checksum")
    expect(res is not None and not res["correct"] and res["failed"] >= 1,
           "a wrong expected checksum counts as a failure")
    code, res, _ = bench("--workload", "capture_to_answer", "--trace", "0", "--size", "tiny",
                         "--fault", "drop-row")
    expect(res is not None and not res["correct"] and res["failed"] >= 1,
           "a dropped stream row counts as a failure")

    bare = os.path.join(run.build_dir(), "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=lambda d, names: [n for n in names if n in ("target", "__pycache__")
                                             or (n == "project" and d.endswith("project"))])
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    env_free = dict(os.environ)
    env_free.pop("CARGO_TARGET_DIR", None)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sweep", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=180, env=env_free)
    expect(p.returncode != 0 and not p.stdout.strip(),
           f"without the program's sources: exit {p.returncode}, no result printed")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(FAILS)} failure(s)")
    sys.exit(1 if FAILS else 0)


if __name__ == "__main__":
    main()
