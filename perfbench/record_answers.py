#!/usr/bin/env python3
"""Records the expected answers of the `sweep` workload (answers.json).

Dump every query's result on the sweep's tables (perfbench/data/) with
`graft.Verify`, compare the dump with DuckDB through `tools/check.py`
(every query with an oracle must pass), then let the harness checksum both
the live results and the dump (they must agree) and write the answers.

    python3 perfbench/record_answers.py            # answers.json (full size)
    python3 perfbench/record_answers.py --tiny     # answers_tiny.json (self-test)

Run from the repository root after a change that alters query answers or
the tables.
"""
import argparse
import json
import os
import subprocess
import sys

import run

SIZES = {
    # workload: (data sf, Monte Carlo iterations)
    "full": {"sweep": (0.01, 10000)},
    "tiny": {"sweep": (0.001, 2000)},
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiny", action="store_true")
    a = ap.parse_args()
    size = "tiny" if a.tiny else "full"
    bdir = run.build_dir()
    cp = run.build(bdir)
    out = {}
    for workload, (sf, mc) in SIZES[size].items():
        data = run.data_dir(sf)
        work = os.path.join(bdir, "work", f"record-{workload}-{size}")
        os.makedirs(work, exist_ok=True)
        part = os.path.join(work, "answers.json")
        rec = ["--record", workload, "--data", data, "--work", work, "--answers-out", part,
               "--mc-iterations", str(mc)]
        # the operation list comes from the harness; dump exactly those queries
        code, _ = run.run_jvm(cp, rec, os.path.join(work, "list.log"))
        if code != 0:
            sys.exit(f"recording {workload} failed (see {work}/list.log)")
        names = [o["name"] for o in json.load(open(part))["ops"] if o["module"] != "sim"]
        dump = os.path.join(work, "verify")
        subprocess.run(["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in run.ADD_OPENS] +
                       ["-Xmx3g", "-cp", cp, "graft.Verify", data, dump, ",".join(names)],
                       check=True, cwd=run.ROOT)
        for n in names:
            chk = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                                  data, dump, n], capture_output=True, text=True, cwd=run.ROOT)
            print(chk.stdout.splitlines()[0] if chk.stdout else f"{n}: no output")
            if chk.returncode != 0:
                sys.exit(f"{n}: the dump does not match DuckDB")
        code, _ = run.run_jvm(cp, rec + ["--verify-dump", dump], os.path.join(work, "record.log"))
        if code != 0:
            sys.exit(f"recording {workload} failed (see {work}/record.log)")
        rec_json = json.load(open(part))
        out[workload] = {"data_sf": sf, "mc_iterations": rec_json["mc_iterations"],
                         "ops": rec_json["ops"]}
    path = os.path.join(run.HERE, "answers_tiny.json" if a.tiny else "answers.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
