#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload monitor_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark driver with sbt (offline); later runs reuse the build while the
sources are unchanged. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the span file is written to perfbench/work/spans.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")
DEADLINE_S = 170
HEAP = "3g"
WORKLOADS = ("monitor_cycle", "ingest_stream", "dedup_join")
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every input of the build: the engine's and the driver's."""
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(root, "project"), os.path.join(HERE, "project")):
        paths += sorted(os.path.join(proj, f) for f in os.listdir(proj)
                        if os.path.isfile(os.path.join(proj, f)))
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile with sbt once per source state; returns the classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"engine sources not found ({need}); run from the repository root")
    stamp = source_stamp(root)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("perfbench: building with sbt ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        log(r.stdout[-4000:], r.stderr[-2000:])
        raise SystemExit("sbt build failed")
    cp = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def tail(latencies):
    """The highest ladder percentile (nearest rank) with at least 10
    samples beyond it, or None when even the median lacks them."""
    xs = sorted(latencies)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(round(p * len(xs) / 100.0, 9)))
        if len(xs) - k >= 10:
            return p, xs[k - 1], len(xs)
    return None


def run_jvm(cp, args, budget):
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK}/tmp",
            "-Dlog4j2.level=WARN"]
           + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(f"{WORK}/tmp", exist_ok=True)
    with open(f"{WORK}/engine.log", "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            raise SystemExit("engine run exceeded its time budget")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count())
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()

    cp = build(root)
    t_built = time.time()
    cleanup()
    for f in ("result.json", "spans.json"):
        if os.path.exists(os.path.join(WORK, f)):
            os.remove(os.path.join(WORK, f))
    data = os.path.join(WORK, "data")
    info = gen.GENERATORS[a.workload](a.seed, data)

    t_gen = time.time()
    budget = DEADLINE_S - (time.time() - t_start)
    rc = run_jvm(cp, ["--workload", a.workload, "--data", data, "--work", WORK,
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--cores", str(a.cores)], budget)
    if rc != 0 or not os.path.exists(f"{WORK}/result.json"):
        with open(f"{WORK}/engine.log") as f:
            log(f.read()[-4000:])
        raise SystemExit(f"engine exited with {rc}")
    with open(f"{WORK}/result.json") as f:
        res = json.load(f)

    t_jvm = time.time()
    ops = res["ops"]
    failures = oracle.check(a.workload, data, WORK, info, res)
    log(f"perfbench: build {t_built - t_start:.1f}s  generate {t_gen - t_built:.1f}s  "
        f"engine {t_jvm - t_gen:.1f}s  check {time.time() - t_jvm:.1f}s")
    failed = sum(1 for i, o in enumerate(ops) if o["err"] or i in failures["ops"]
                 or failures["all"])
    attempted = len(ops)
    for msg in failures["messages"][:20]:
        log("check:", msg)
    for i, o in enumerate(ops):
        if o["err"]:
            log(f"op {i} failed: {o['err']}")

    lat = [o["ms"] for o in ops]
    wall_s = res["loop_ms"] / 1000.0
    rows = sum(o["rows"] for o in ops if not o["err"])
    e2e = {
        "setup_s": (res["setup_ms"] / 1000.0, "s"),
        "latency_ms_p50": (statistics.median(lat), "ms"),
        "throughput_rows_per_s": (rows / wall_s if wall_s > 0 else 0.0, "rows/s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    tl = tail(lat)
    extra = {"error_ratio": (failed / attempted, "ratio")}
    lake = oracle.lake_stats(a.workload, data, WORK, res)
    extra.update({k: (v, u) for k, (v, u) in lake.items()})

    print(f"workload {a.workload}  seed {a.seed}  input {json.dumps(info, sort_keys=True)}")
    print(f"input_hash {gen.input_hash(data)[:16]}  cores {a.cores}  trace {a.trace}")
    print(f"op_ms {[round(x) for x in lat]}")
    for k, (v, u) in list(e2e.items()) + list(extra.items()):
        print(f"{k} {v:.6g} {u}")
    if tl:
        print(f"latency_ms_tail {tl[1]:.6g} ms (p{tl[0]:g} of {tl[2]} samples)")
    else:
        print(f"latency_ms_tail absent ms (only {len(lat)} samples; needs 10 beyond a percentile)")

    if a.trace:
        layers = dict(res["layers"])
        layers.update(oracle.layer_extras(a.workload, WORK, res))
        for k in ("lake.files_per_partition", "lake.bytes_per_input_byte"):
            layers[k] = lake.get(k.replace(".", "_"), (0.0, ""))[0]
        for k, u in layer_units(a.workload):
            print(f"{k} {layers[k]:.6g} {u}")
        metrics = {k: {"value": layers[k], "unit": unit(k)} for k in PER_LAYER}
        print(f"spans {os.path.relpath(os.path.join(WORK, 'spans.json'), root)}")
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    cleanup()
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


PIPELINE = ("q_dedup_substring_global", "q_entity_resolution", "q_embed_neardup",
            "q_dup_attribution")
PER_LAYER = (
    ["registry.busy_ms"]
    + [f"catalog.{k}" for k in ("busy_ms", "files_read", "bytes_read", "rows_read")]
    + [f"metrics.{k}" for k in ("run_ms", "publish_ms", "jobs", "published_rows")]
    + [f"operators.statagg.{k}" for k in ("construct_ms", "exec_ms", "jobs",
       "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes", "windows_out")]
    + [f"operators.alarm.{k}" for k in ("construct_ms", "exec_ms", "jobs",
       "shuffle_write_bytes", "slots_out", "windows_in", "useful_ratio", "transitions")]
    + [f"operators.publish.{k}" for k in ("exec_ms", "files_written")]
    + [f"operators.partition.{k}" for k in ("compact_ms", "compactions", "files_before",
       "files_after", "retention_ms", "partitions_dropped")]
    + [f"streaming.ingest.{k}" for k in ("trigger_ms", "addbatch_ms", "wait_ms",
       "input_rows", "corrupt_rows", "files_written", "bytes_written", "batches")]
    + [f"streaming.alarm.{k}" for k in ("trigger_ms", "state_rows", "state_memory_bytes",
       "state_update_ms", "state_commit_ms", "dropped_by_watermark", "transitions")]
    + [f"spark.{k}" for k in ("jobs", "tasks", "task_run_ms", "gc_ms", "core_idle_ratio")]
    + ["lake.files_per_partition", "lake.bytes_per_input_byte"])
# dedup_join only; printed by its traced run, not part of the result line
PIPELINE_LAYER = [f"pipeline.{q}.{k}" for q in PIPELINE for k in (
    "ms", "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
    "peak_exec_mem_bytes", "gc_ms", "rows_out")]


def unit(name):
    if name.endswith(("_ratio", "_per_input_byte")):
        return "ratio"
    if name.endswith(("_ms", ".ms")):
        return "ms"
    return "bytes" if "bytes" in name.rsplit(".", 1)[-1] else "count"


def layer_units(workload):
    names = PER_LAYER + (PIPELINE_LAYER if workload == "dedup_join" else [])
    return [(k, unit(k)) for k in names]


def cleanup():
    """Scratch lake, checkpoints and landing files go between runs."""
    for d in ("data", "out", "landing", "lake", "errors", "ckpt", "transitions", "tmp",
              "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


if __name__ == "__main__":
    main()
