#!/usr/bin/env python3
"""Benchmark of the graft engine: one named workload, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program and the harness from source and prepares the scaled
fixture on first use (both cached in .bench_build/), then starts one JVM
that runs the workload's queries as a closed loop on a local[4] Spark
session: whole passes for about S seconds, at least three. The seed sets
the order of the queries within each pass. Every execution's output row count is checked
against the count committed in workloads.json.

Prints the end-to-end metrics by name with units, then, as the last
line, one JSON object {"correct", "attempted", "failed", "metrics"}:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics of a traced run (spans are written to .bench_build/traces/).
Exits 0 only when every execution succeeded with the expected row count.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(BENCH, "harness")
# one run must end within 180 s; the first one may also build
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# a fixed heap: the per-query full collection would otherwise shrink it
# and the next query would pay to grow it again
HEAP = ["-Xms4g", "-Xmx4g"]

# the program's build and sources, and the harness's
BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/harness"]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def load_spec():
    with open(os.path.join(BENCH, "workloads.json")) as f:
        return json.load(f)


def source_stamp():
    h = hashlib.sha256()
    for top in BUILD_INPUTS:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, n) for d, subdirs, names in os.walk(path)
            for n in names if "target" not in os.path.relpath(d, path).split(os.sep))
        for p in files:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Returns (classpath, jvm options) of the harness, building if the
    sources changed since the last build in this checkout."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    stamp = source_stamp()
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        repos = os.path.expanduser("~/.sbt/repositories")
        if "SBT_OPTS" not in env and os.path.exists(repos):
            env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                               f"-Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
        t0 = time.time()
        log("building the program and the harness")
        tmp = os.path.join(BUILD, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # sbt keeps its scratch files under java.io.tmpdir; keep them here
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            f"-Djava.io.tmpdir={tmp}", "launcher"],
                           cwd=HARNESS, env=env, stdout=sys.stderr,
                           stderr=sys.stderr, timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            fail(f"build failed (sbt exit {r.returncode})")
        os.makedirs(BUILD, exist_ok=True)
        shutil.copyfile(os.path.join(HARNESS, "target", "launch.txt"), launch)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"build_s {time.time() - t0:.1f}")
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def parquet_shape(path):
    import pyarrow.parquet as pq
    md = pq.ParquetFile(path).metadata
    return [md.num_rows, md.num_row_groups]


def fixture(spec, name):
    """Directory of the named fixture; the scaled one is made once per
    checkout by the repository's tools/scaleup.py and checked each run."""
    if name == "sf0.1":
        return os.path.join(BENCH, "data", "sf0.1")
    scaled = spec["fixtures"][name]
    dst = os.path.join(BUILD, "data", name)
    if not os.path.isdir(dst):
        tmp = dst + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "scaleup.py"),
                            os.path.join(BENCH, "data", "sf0.1"), tmp,
                            str(scaled["factor"])],
                           stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            fail(f"scaleup.py failed (exit {r.returncode})")
        os.rename(tmp, dst)
        # fixture preparation, reported on its own and not in setup_s
        print(f"fixture_prep_s {time.time() - t0:.3f} s ({name})", flush=True)
    for table, want in scaled["tables"].items():
        got = parquet_shape(os.path.join(dst, f"{table}.parquet"))
        if got != want:
            fail(f"fixture {name}: {table} has [rows, row groups] {got}, expected {want}")
    return dst


def harness(cp, jvm_opts, spec, name, w, seed, seconds, trace, deadline, expected=None):
    """Runs the harness JVM once and returns its result. `expected` maps
    each query to its committed row count (default: the workload's)."""
    work = os.path.join(BUILD, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spec_file = os.path.join(work, "queries.txt")
    with open(spec_file, "w") as f:
        for q, rows in (expected or w["queries"]).items():
            f.write(f"{q} {rows}\n")
    out = os.path.join(work, "result.json")
    cmd = (["java"] + jvm_opts + HEAP + [f"-Djava.io.tmpdir={work}/tmp",
            "-cp", cp, "perfbench.Harness",
            "--workload", name, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--mode", w["mode"], "--data", fixture(spec, w["data"]),
            "--warm-data", fixture(spec, "sf0.1"),
            "--layouts", ",".join(w["layouts"]),
            "--spec", spec_file, "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    # a stop request to this process also stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
    try:
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail("the harness ran past the time limit and was stopped")
        if rc != 0 or not os.path.exists(out):
            fail(f"the harness failed (exit {rc})")
        res = json.load(open(out))
        if trace:
            traces = os.path.join(BUILD, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copyfile(out.replace(".json", ".spans.json"),
                            os.path.join(traces, f"{name}-{seed}.spans.json"))
        return res
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def check_checkout():
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("the program's sources are not here; run from the root of a checkout")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.time() + RUN_LIMIT_S

    check_checkout()
    spec = load_spec()
    if a.workload not in spec["workloads"]:
        fail(f"unknown workload {a.workload}; known: {', '.join(spec['workloads'])}")
    w = spec["workloads"][a.workload]
    cp, jvm_opts = build()
    for name in spec["fixtures"]:
        fixture(spec, name)
    # building and fixture preparation happen once per checkout
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 30)
    res = harness(cp, jvm_opts, spec, a.workload, w, a.seed, a.seconds, a.trace, deadline)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    units = {m["name"]: m["unit"] for m in
             declared["end_to_end"] + declared["per_layer"]}
    info = res["info"]
    print(f"workload {a.workload} seed {a.seed} passes {info['passes']} "
          f"executions {res['attempted']} failed {res['failed']}")
    for k, v in res["metrics"].items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"failed_frac {info['failed_frac']:.6g} fraction")
    for q, r in res["queries"].items():
        print(f"query {q} median_s {r['median_s']:.4f} build_s {r['build_s']:.4f} "
              f"rows {r['rows']} expected {r['expected']} failed {r['failed']}")
    print("info " + json.dumps(info))
    print(f"query_tail_s is p{info['query_tail_pct']:.1f} of {info['query_samples']} samples")
    metrics = res["layers"] if a.trace else res["metrics"]
    names = [m["name"] for m in declared["per_layer" if a.trace else "end_to_end"]]
    if a.trace:
        for k in names:
            print(f"{k} {metrics[k]:.6g} {units[k]}")
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in names}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
