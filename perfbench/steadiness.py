#!/usr/bin/env python3
"""Record how steady the end-to-end metrics are, into perfbench/STEADINESS.json.

    python3 perfbench/steadiness.py --seeds 10 --sets 2

Run from the repository root. For each workload in BENCHMARK.json it runs
`--sets` sets of `--seeds` runs (seeds 1..N, workloads interleaved) and
records each set's medians, quartiles and spread (quartile distance ÷
median, as `statistics.quantiles(values, n=4)` gives them). It then
records one reference run at `local[1]` and one traced run per workload;
the traced run's latency minus the untraced median of the same seed is
the tracing overhead.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace=0, cores=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if cores:
        cmd += ["--cores", str(cores)]
    t0 = time.time()
    r = subprocess.run(cmd, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        return {"error": r.stderr.strip().splitlines()[-1:], "seed": seed}
    out = json.loads(lines[-1])
    out["wall_s"] = round(time.time() - t0, 1)
    out["seed"] = seed
    for line in lines:
        if line.startswith("workload "):
            out["input"] = json.loads(line.split("input ", 1)[1])
        if line.startswith("latency_ms_tail "):
            out["latency_ms_tail"] = line.split(" ", 1)[1]
    return out


def summarize(runs, names):
    s = {}
    for k in names:
        xs = [r["metrics"][k]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        s[k] = {"median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else None}
    s["failed"] = sum(r["failed"] for r in runs)
    s["attempted"] = sum(r["attempted"] for r in runs)
    return s


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    names = [m["name"] for m in bench["end_to_end"]]
    workloads = [w["name"] for w in bench["workloads"]]
    raw = {w: [] for w in workloads}
    for s in range(a.sets):
        sets = {w: [] for w in workloads}
        for seed in range(1, a.seeds + 1):
            for w in workloads:
                r = run(w, seed, seconds)
                print(w, s, seed, json.dumps(r.get("metrics", r)), flush=True)
                if "error" in r:
                    raise SystemExit(f"{w} seed {seed} failed: {r['error']}")
                sets[w].append(r)
        for w in workloads:
            raw[w].append(sets[w])
    record = {"host": f"{os.cpu_count()} cores", "run_seconds": seconds,
              "seeds": list(range(1, a.seeds + 1)), "workloads": {}}
    for w in workloads:
        ref = run(w, 1, seconds, cores=1)
        traced = run(w, 1, seconds, trace=1)
        untraced = statistics.median(r["metrics"]["latency_ms_p50"]["value"]
                                     for runs in raw[w] for r in runs if r["seed"] == 1)
        overhead = {"untraced_p50": untraced, "traced": traced}
        if "error" not in traced:
            overhead["traced_p50"] = traced_latency(w)
            overhead["overhead"] = overhead["traced_p50"] - untraced
            del overhead["traced"]
        why = next(x["why"] for x in bench["workloads"] if x["name"] == w)
        record["workloads"][w] = {
            "purpose": why,
            "input": raw[w][0][0]["input"],
            "sets": [{"summary": summarize(runs, names), "runs": runs} for runs in raw[w]],
            "reference_local1": ref,
            "tracing_overhead_ms": overhead,
        }
        print(w, "reference", json.dumps(ref), "tracing", json.dumps(overhead), flush=True)
    with open(os.path.join(HERE, "STEADINESS.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")


def traced_latency(workload):
    """The traced run's latency_ms_p50, from the result the engine wrote."""
    with open(os.path.join(HERE, "work", "result.json")) as f:
        res = json.load(f)
    assert res["workload"] == workload
    return statistics.median(o["ms"] for o in res["ops"])


if __name__ == "__main__":
    main()
