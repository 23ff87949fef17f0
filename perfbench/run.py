#!/usr/bin/env python3
"""Benchmark runner: builds the program and harness, runs one workload in its
own JVM and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads and metrics are listed in
BENCHMARK.json. `--trace 0` prints the end-to-end metrics, `--trace 1` the
per-layer metrics of a traced run (spans land in .bench_build/results/).
The last stdout line is one JSON object:
    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value", "unit"}}}

Extra flags for the self-test: `--size tiny` (small inputs) and
`--fault checksum|drop-row` (inject a wrong expected answer / a lost event).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")] + \
        [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, dns, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(dp, r).split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(bdir):
    """sbt build of the harness (and, through it, the program); returns the
    runtime classpath. Skipped when the sources are unchanged."""
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    # no hsperfdata file in the system temp dir: the run writes only here
    opts = [f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):  # an offline toolchain with a local repository list
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}",
                 "-Dsbt.offline=true"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.startswith("/")]
    if p.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + lines[-1])
    return lines[-1]


def data_dir(sf):
    """The batch tables at scale factor `sf`: copies of the project's seed-42
    TESTDATA tables, committed under perfbench/data/."""
    return os.path.join(HERE, "data", f"sf{sf:g}")


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):  # e.g. an exported checkout
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_times():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cp, args, log_path):
    """Runs the harness JVM; returns (exit code, peak RSS in MB)."""
    cmd = ["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] + [
        "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(build_dir(), 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
        deadline = time.time() + JVM_TIMEOUT_S
        while True:
            pid, status, usage = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, usage.ru_maxrss / 1024.0
            if time.time() > deadline:
                p.send_signal(signal.SIGKILL)
                p.wait()
                return -9, 0.0
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--fault", choices=("checksum", "drop-row"))
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the program's sources (build.sbt, src/main/scala/graft) are not here")
    with open(bench_json) as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")

    bdir = build_dir()
    os.makedirs(os.path.join(bdir, "results"), exist_ok=True)
    cp = build(bdir)

    answers = os.path.join(HERE, "answers_tiny.json" if a.size == "tiny" else "answers.json")
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--size", a.size, "--answers", answers]
    if a.workload != "capture_to_answer":
        with open(answers) as fh:
            sf = json.load(fh)[a.workload]["data_sf"]
        jargs += ["--data", data_dir(sf)]
    if a.fault:
        jargs += ["--fault", a.fault]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + (f"-{a.size}" if a.size != "full" else "")
    work = os.path.join(bdir, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(bdir, "results", tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    jargs += ["--work", work, "--out", out]

    cpu0 = cpu_times()
    code, rss_mb = run_jvm(cp, jargs, os.path.join(bdir, "results", tag + ".log"))
    cpu1 = cpu_times()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        die(f"harness exited with {code} (log: {os.path.join(bdir, 'results', tag + '.log')})")
    with open(out) as fh:
        res = json.load(fh)
    res["metrics"]["jvm.peak_rss_mb"] = rss_mb
    res["host"]["commit"] = git_commit()
    if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
        # the share of CPU time the hypervisor gave to others during the run
        res["host"]["steal_share"] = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in names if m["name"] not in res["metrics"]]
    if missing:
        die(f"harness did not report {missing}")
    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in names}
    res["reported"] = metrics
    with open(out, "w") as fh:
        json.dump(res, fh, indent=1)

    host = res["host"]
    print(f"# {a.workload} seed={a.seed} trace={a.trace} commit={host['commit']} "
          f"nproc={host['nproc']} heap_mb={host['heap_mb']} spark={host['spark']} "
          f"scala={host['scala']} canary cpu {host.get('canary_cpu_s_before')}"
          f"->{host.get('canary_cpu_s_after')} s, scan {host.get('canary_scan_s_before')}"
          f"->{host.get('canary_scan_s_after')} s, steal {host.get('steal_share', 0):.3f}")
    for name, m in metrics.items():
        print(f"#   {name} = {m['value']:.6g} {m['unit']}")
    for f in res["failures"]:
        print(f"# FAILED: {f}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
