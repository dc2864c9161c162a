#!/usr/bin/env python3
"""Benchmark of the CDC replica pipeline and the analyst queries over it.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 4 --trace 0

Run from the repository root. The first run builds the program and the
benchmark with sbt (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run starts one JVM (graft.perfbench.Main)
that sets up, measures and checks the ingest against an independent fold of
the change files it generated from --seed, or runs the analyst queries over
the fixture corpus in fixture/sf0.01 (the same for every seed); run.py then
checks every timed query's output against its DuckDB oracle SQL with
tools/check.py, and prints one JSON record as the last line of stdout: the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer metrics
with --trace 1. Lines before it record the host state, sample counts and
anything that failed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
HEAP = "3g"
RUN_BUDGET_S = 170  # a run after the build, checks included, ends within this

# the program's sf0.01 fixture corpus (seed 42), byte for byte; SHA256SUMS
# pins each file
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
WORKLOADS = ("cdc_ingest", "analyst_mix")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt unless target/launch.txt matches the sources."""
    stamp = sources_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Dsbt.server.autostart=false -Djava.io.tmpdir={tmp}"
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeLauncher"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def check_fixture():
    for line in open(os.path.join(FIXTURE, "SHA256SUMS")):
        digest, name = line.split()
        with open(os.path.join(FIXTURE, name), "rb") as fh:
            if hashlib.sha256(fh.read()).hexdigest() != digest:
                fail(f"fixture file {name} differs from SHA256SUMS")


def loadavg():
    try:
        return " ".join(open("/proc/loadavg").read().split()[:3])
    except OSError:
        return "n/a"


def oracle_failures(corpus, dump, timeout):
    """Queries whose dumped result differs from their DuckDB oracle SQL,
    compared cell-exact by tools/check.py."""
    try:
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), corpus, dump],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        print("oracle check did not finish in time")
        return ["oracle_check"]
    fails = re.findall(r"^FAIL (\S+): (.*)$", r.stdout, re.M)
    for name, msg in fails:
        print(f"oracle mismatch {name}: {msg[:300]}")
    if r.returncode != 0 and not fails:
        sys.stdout.write(r.stdout[-2000:])
        return ["oracle_check"]
    return [name for name, _ in fails]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "check.py"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the repository")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    build()
    lines = open(LAUNCH).read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]

    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}")
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    load_before = loadavg()

    corpus = FIXTURE if a.workload == "analyst_mix" else ""
    if corpus:
        check_fixture()
    setup_start = time.time()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, *jvm_opts, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}", "-cp", classpath, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--cores", str(cores), "--work", work, "--corpus", corpus]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                timeout=setup_start + RUN_BUDGET_S - 10 - time.time()).returncode
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM did not finish in time (log: {log.name})")
    load_after = loadavg()
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    res = json.load(open(result_file))

    failures = list(res["failures"])
    dump = os.path.join(work, "dump")
    if corpus:
        failures += oracle_failures(corpus, dump, max(1.0, setup_start + RUN_BUDGET_S - time.time()))
    failures = sorted(set(failures))

    values = dict(res["e2e"], setup_s=res["setup_end_ms"] / 1000.0 - setup_start)
    print("host " + json.dumps({
        "nproc": os.cpu_count(), "spark_master": f"local[{cores}]", "xmx": HEAP,
        "seed": a.seed, "loadavg_before": load_before, "loadavg_after": load_after,
        "gen_lag_max_s": res["gen_lag_max_s"], "samples": res["samples"]}))
    print("failed " + json.dumps(failures))
    if a.trace:
        values = res["layers"]
        names = spec["per_layer"]
    else:
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
