#!/usr/bin/env python3
"""Runs the benchmark over several seeds and records the baseline.

Usage (from the root of a checkout):
  python3 perfbench/sweep.py --seeds 1-10 [--workloads a,b] [--out DIR]
  python3 perfbench/sweep.py --summarize DIR [DIR2 ...]

For each seed, runs every workload once untraced (seeds outer, so the
workloads interleave in time), then one traced run per workload on the
first seed. Writes DIR/runs.jsonl (every run's output) and
DIR/BASELINE.md: per workload, the median and quartiles of each
end-to-end metric with its spread (interquartile range / median) against
its bound, then the traced per-layer table and the tracing overhead.
--summarize rewrites DIR/BASELINE.md from DIR/runs.jsonl; for each further
set's directory, it adds how far that set's medians are from the first's.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
           "elapsed_s": round(time.time() - t0, 1),
           "result": json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None,
           "lines": lines[:-1]}
    print(f"{workload} seed {seed} trace {trace} rc {p.returncode} "
          f"{rec['elapsed_s']} s", file=sys.stderr, flush=True)
    return rec


def quartiles(v):
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0]] * 3
    return q[0], statistics.median(v), q[2]


def load(d):
    with open(os.path.join(d, "runs.jsonl")) as f:
        return [json.loads(line) for line in f]


def good_runs(recs, w):
    return [r for r in recs if r["workload"] == w and not r["trace"]
            and r["rc"] == 0 and r["result"] and r["result"]["correct"]]


def summarize(declared, recs, others):
    names = [w["name"] for w in declared["workloads"]]
    ss = sorted({r["seed"] for r in recs if not r["trace"]})
    traced_seed = next((r["seed"] for r in recs if r["trace"]), None)
    md = ["# Baseline", "",
          f"`local[4]` on a 4-core host, `--seconds {declared['run_seconds']}`, "
          f"seeds {ss[0]}-{ss[-1]}, one run per seed and workload; traced runs "
          f"on seed {traced_seed}.", ""]
    ok = True
    for w in names:
        runs = [r for r in recs if r["workload"] == w and not r["trace"]]
        good = good_runs(recs, w)
        ok &= len(good) == len(runs)
        md += [f"## {w}", "",
               f"{len(good)} of {len(runs)} runs correct; "
               f"{sum(r['result']['attempted'] for r in good)} timed executions, "
               f"{sum(r['result']['failed'] for r in good)} failed.", "",
               "| metric | unit | q1 | median | q3 | spread | bound |",
               "| --- | --- | --- | --- | --- | --- | --- |"]
        for m in declared["end_to_end"]:
            v = [r["result"]["metrics"][m["name"]]["value"] for r in good]
            if not v:
                continue
            q1, med, q3 = quartiles(v)
            md.append(f"| `{m['name']}` | {m['unit']} | {q1:.4g} | {med:.4g} | {q3:.4g} "
                      f"| {(q3 - q1) / med:.3f} | {m['bound']} |")
        traced = [r for r in recs if r["workload"] == w and r["trace"] and r["result"]]
        if traced:
            lm = traced[0]["result"]["metrics"]
            wall = statistics.median(r["result"]["metrics"]["wall_s"]["value"] for r in good)
            md += ["", f"Traced run: tracing overhead "
                   f"{lm['trace.wall_s']['value'] - wall:+.3f} s per pass "
                   f"(traced `wall_s` {lm['trace.wall_s']['value']:.3f} s against "
                   f"the untraced median {wall:.3f} s).", "",
                   "| layer metric | value | unit |", "| --- | --- | --- |"]
            md += [f"| `{k}` | {v['value']:.4g} | {v['unit']} |" for k, v in lm.items()]
        md.append("")
    for second in others:
        s2 = sorted({r["seed"] for r in second if not r["trace"]})
        md += [f"## Seeds {s2[0]}-{s2[-1]}", "",
               "Another set, same settings: each median and its change from "
               "the first set's, as a share of the first.", "",
               "| workload | metric | first | this set | change | bound | spread |",
               "| --- | --- | --- | --- | --- | --- | --- |"]
        for w in names:
            g1, g2 = good_runs(recs, w), good_runs(second, w)
            ok &= len(g2) == len([r for r in second if r["workload"] == w and not r["trace"]])
            for m in declared["end_to_end"]:
                v1 = [r["result"]["metrics"][m["name"]]["value"] for r in g1]
                v2 = [r["result"]["metrics"][m["name"]]["value"] for r in g2]
                m1, (q1, m2, q3) = statistics.median(v1), quartiles(v2)
                md.append(f"| {w} | `{m['name']}` | {m1:.4g} | {m2:.4g} | "
                          f"{(m2 - m1) / m1:+.3f} | {m['bound']} | {(q3 - q1) / m2:.3f} |")
        md.append("")
    return "\n".join(md), ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default=os.path.join(BENCH, "baseline"))
    ap.add_argument("--summarize", nargs="+", metavar="DIR")
    a = ap.parse_args()
    declared = json.load(open("BENCHMARK.json"))
    if a.summarize:
        out = a.summarize[0]
        recs = load(out)
        others = [load(d) for d in a.summarize[1:]]
    else:
        names = (a.workloads.split(",") if a.workloads
                 else [w["name"] for w in declared["workloads"]])
        ss = seeds(a.seeds)
        out = a.out
        os.makedirs(out, exist_ok=True)
        recs = []
        with open(os.path.join(out, "runs.jsonl"), "w") as f:
            for s in ss:
                for w in names:
                    recs.append(run_once(w, s, declared["run_seconds"], 0))
                    f.write(json.dumps(recs[-1]) + "\n")
            for w in names:
                recs.append(run_once(w, ss[0], declared["run_seconds"], 1))
                f.write(json.dumps(recs[-1]) + "\n")
        others = []
    md, ok = summarize(declared, recs, others)
    with open(os.path.join(out, "BASELINE.md"), "w") as f:
        f.write(md)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
