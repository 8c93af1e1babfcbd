"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, output directory): the same
seed writes byte-identical files, and `input_hash` fingerprints them.
The engine under test only ever sees the files written here.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed event-time origin: 2026-03-01T00:00:00Z. Seed-independent so the
# partition layout (days, hours) is the same shape for every seed.
T0 = 1772323200
DAY = 86400

# monitor_cycle sizing: 1,000 series. The lake holds the 6 hours before
# the as-of instant plus 3 hours from three days earlier, which the
# 2-day minute TTL prunes at scan time.
MONITOR = dict(series=1000, recent_hours=6, old_hours=3,
               regions=("us-east-1", "eu-west-1"),
               hot_share=0.01, hot_factor=10,
               # (frequency, period s, share of series, sample interval s)
               mix=(("minute", 60, 0.01, 60), ("hour", 3600, 0.69, 900),
                    ("day", 86400, 0.30, 7200)),
               lineitem=60000, orders=15000, customer=1500, part=2000,
               supplier=100)
MONITOR_TTL_DAYS = 2  # PartitionOps.retentionDays("minute")

# ingest_stream sizing: 150 series, one point each 10 min. A step carries
# 6 h of event time and steps start 30 h apart, so three steps already
# cross the 2-day minute TTL. One file per step: a step lands atomically,
# so its late records never straddle two micro-batches.
INGEST = dict(series=150, steps=24, step_seconds=6 * 3600, stride=30 * 3600,
              interval=600, corrupt_share=0.01, late_share=0.3, late_window=1200)
INGEST_WATERMARK_S = 3600

# dedup_join sizing.
DEDUP = dict(documents=1200, embeddings=800, customer=1500,
             doc_families=60, emb_families=40)

STATS = ("Average", "Sum", "Maximum", "p50", "p90", "p99")
OPS = ("GreaterThanThreshold", "GreaterThanOrEqualToThreshold",
       "LessThanThreshold", "LessThanOrEqualToThreshold")
OP_NAMES = {"GreaterThanThreshold": "GREATER_THAN_THRESHOLD",
            "GreaterThanOrEqualToThreshold": "GREATER_THAN_OR_EQUAL_TO_THRESHOLD",
            "LessThanThreshold": "LESS_THAN_THRESHOLD",
            "LessThanOrEqualToThreshold": "LESS_THAN_OR_EQUAL_TO_THRESHOLD"}
MISSING = ("BREACHING", "NOT_BREACHING", "IGNORE", "MISSING")
M_OF_N = ((1, 1), (2, 2), (2, 3), (3, 5), (1, 3))
WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join customer the lake metric alarm series "
         "record window shard index cache plan stage task").split()
LANGS = ("en", "de", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def input_hash(root):
    """sha256 over every file under `root` (relative path + bytes)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(root)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _tpch(rng, out, n):
    """The tables the registry's business metrics query."""
    li = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(float)),
        "l_extendedprice": pa.array(rng.integers(90000, 10500000, li) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
    }), f"{out}/lineitem.parquet")
    o = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], o), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], o, p=[.49, .49, .02])),
        "o_totalprice": pa.array(rng.integers(85000, 55000000, o) / 100.0),
    }), f"{out}/orders.parquet")
    _customer(rng, out, n["customer"])
    p = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
    }), f"{out}/part.parquet")
    s = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_acctbal": pa.array(rng.integers(-99999, 999999, s) / 100.0),
    }), f"{out}/supplier.parquet")


def _customer(rng, out, c):
    _write(pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(rng.integers(-99999, 999999, c) / 100.0),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c)),
    }), f"{out}/customer.parquet")


def _balanced(rng, n, choices, shares=None):
    """`n` draws from `choices` in fixed proportions, in seeded order: the
    seed decides which series get which, never how many, so every seed
    costs the engine the same work."""
    shares = np.ones(len(choices)) if shares is None else np.asarray(shares, float)
    counts = np.floor(shares / shares.sum() * n).astype(int)
    counts[: n - counts.sum()] += 1
    return [choices[i] for i in rng.permutation(np.repeat(np.arange(len(choices)), counts))]


def _series_defs(rng, n, mix, prefix, namespace):
    """Series definitions with one seeded SLA each. Returns a list of
    dicts; thresholds sit between a series' normal level and its
    incident level so every policy sees both states."""
    kinds = _balanced(rng, n, mix, [m[2] for m in mix])
    stats = _balanced(rng, n, STATS)
    ops = _balanced(rng, n, OPS)
    m_of_n = _balanced(rng, n, M_OF_N)
    missing = _balanced(rng, n, MISSING)
    out = []
    for i in range(n):
        freq, period, _, interval = kinds[i]
        stat, op = stats[i], ops[i]
        m, nn = m_of_n[i]
        level = float(rng.integers(20, 400))
        greater = op.startswith("Greater")
        per_window = max(1, period // interval)
        scale = per_window if stat == "Sum" else 1
        thr = level * (1.5 if greater else 0.7) * scale
        out.append(dict(
            unique_id=f"{prefix}-{i:05d}-{freq}", namespace=namespace,
            name=f"m{i:05d}", statistic=stat, period=period, frequency=freq,
            interval=interval, level=level, greater=greater,
            threshold=float(round(thr, 2)), comparison_operator=OP_NAMES[op],
            datapoints_to_alarm=m, evaluation_periods=nn,
            treat_missing_data=missing[i],
            sns_enabled=bool(rng.random() < 0.6),
            severity=("2", "3", "4")[rng.integers(3)]))
    return out


def _defs_tables(defs, out):
    _write(pa.table({
        "unique_id": [d["unique_id"] for d in defs],
        "namespace": [d["namespace"] for d in defs],
        "name": [d["name"] for d in defs],
        "statistic": [d["statistic"] for d in defs],
        "period": pa.array([d["period"] for d in defs], pa.int32()),
        "frequency": [d["frequency"] for d in defs],
        "metadata": [json.dumps({"function": f"ingest_{d['name']}"}) for d in defs],
        "dimensions": [json.dumps({"Series": d["name"]}) for d in defs],
    }), f"{out}/defs.parquet")
    _write(pa.table({
        "series_id": [d["unique_id"] for d in defs],
        "period": pa.array([d["period"] for d in defs], pa.int32()),
        "threshold": pa.array([d["threshold"] for d in defs], pa.float64()),
        "comparison_operator": [d["comparison_operator"] for d in defs],
        "datapoints_to_alarm": pa.array([d["datapoints_to_alarm"] for d in defs], pa.int32()),
        "evaluation_periods": pa.array([d["evaluation_periods"] for d in defs], pa.int32()),
        "treat_missing_data": [d["treat_missing_data"] for d in defs],
        "statistic": [d["statistic"] for d in defs],
        "sns_enabled": [d["sns_enabled"] for d in defs],
        "severity": [d["severity"] for d in defs],
        "short_description": [f"{d['name']} out of range" for d in defs],
        "details": [f"{d['name']} {d['statistic']} vs {d['threshold']}" for d in defs],
    }), f"{out}/slas.parquet")


def _points(rng, d, t_start, t_end, hot):
    """One series' datapoints in [t_start, t_end): jittered samples, a
    few missing slots and one incident run where values shift past the
    SLA threshold. Values are multiples of 1/4, exact in float32."""
    step = d["interval"] // (MONITOR["hot_factor"] if hot else 1)
    ts = np.arange(t_start, t_end, step, dtype=np.int64)
    ts = ts + rng.integers(0, step, ts.size)
    slot = (ts - t_start) // d["period"]
    nslots = int(slot.max()) + 1 if ts.size else 0
    missing = rng.random(nslots) < 0.05
    if nslots > 8:
        g0 = rng.integers(0, nslots - 4)
        missing[g0:g0 + rng.integers(1, 4)] = True
    keep = ~missing[slot]
    ts = ts[keep]
    n = ts.size
    vals = d["level"] * (1 + 0.2 * rng.standard_normal(n))
    if n:
        i0 = rng.integers(0, n)
        run = max(1, n // 10)
        vals[i0:i0 + run] *= 2.0 if d["greater"] else 0.4
    vals = np.round(np.maximum(vals, 0.25) * 4) / 4
    return ts, vals


def gen_monitor(seed, out):
    rng = np.random.default_rng([seed, 1])
    cfg = MONITOR
    _tpch(rng, out, cfg)
    defs = _series_defs(rng, cfg["series"], cfg["mix"], "mon", "Bench/Monitor")
    _defs_tables(defs, out)
    t_end = T0 + 3 * DAY
    spans = ((T0, T0 + cfg["old_hours"] * 3600),
             (t_end - cfg["recent_hours"] * 3600, t_end))
    hot = set(rng.choice(len(defs), max(1, int(len(defs) * cfg["hot_share"])),
                         replace=False).tolist())
    sid, tss, vs, reg = [], [], [], []
    for i, d in enumerate(defs):
        ts, v = (np.concatenate(x) for x in zip(
            *(_points(rng, d, a, b, i in hot) for a, b in spans)))
        sid.append(np.full(ts.size, i, np.int32))
        tss.append(ts)
        vs.append(v)
        reg.append(np.full(ts.size, i % len(cfg["regions"]), np.int8))
    sid, tss, vs, reg = (np.concatenate(x) for x in (sid, tss, vs, reg))
    names = np.array([d["unique_id"] for d in defs])
    hour_idx = (tss - T0) // 3600
    order = np.lexsort((tss, sid, hour_idx, reg))
    sid, tss, vs, reg, hour_idx = (x[order] for x in (sid, tss, vs, reg, hour_idx))
    root = f"{out}/datapoints.parquet"
    bounds = np.flatnonzero(np.diff(hour_idx * 8 + reg)) + 1
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, sid.size]):
        h = int(hour_idx[lo])
        t = np.datetime64(T0 + h * 3600, "s").astype(object)
        part = (f"{root}/region={cfg['regions'][reg[lo]]}/year={t.year}"
                f"/month={t.month}/day={t.day}/hour={t.hour}")
        _write(pa.table({
            "series_id": pa.array(names[sid[lo:hi]]),
            "ts": pa.array(tss[lo:hi] * 1_000_000, pa.timestamp("us", tz="UTC")),
            "value": pa.array(vs[lo:hi], pa.float64()),
        }), f"{part}/part-00.parquet")
    info = dict(workload="monitor_cycle", datapoints=int(sid.size),
                series=len(defs), as_of=int(t_end),
                ttl_days=MONITOR_TTL_DAYS)
    with open(f"{out}/info.json", "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


def _iso(t):
    return str(np.datetime64(int(t), "s"))


def gen_ingest(seed, out):
    """Landing files, one directory per step, plus a parquet manifest of
    the valid records each step carries. Each step draws from its own
    seeded stream, so a step's content does not depend on how many
    steps are generated."""
    rng = np.random.default_rng([seed, 2])
    cfg = INGEST
    mix = (("minute", 300, 0.3, cfg["interval"]), ("hour", 3600, 0.7, cfg["interval"]))
    defs = _series_defs(rng, cfg["series"], mix, "ing", "Bench/Ingest")
    _defs_tables(defs, out)
    nser = len(defs)
    level = np.array([d["level"] for d in defs])
    shift_to = np.array([2.0 if d["greater"] else 0.4 for d in defs])
    static = [
        (f'"namespace": "{d["namespace"]}", "name": "{d["name"]}", '
         f'"period": {d["period"]}, "frequency": "{d["frequency"]}", '
         f'"statistic": "{d["statistic"]}", '
         f'"metadata": {json.dumps(json.dumps({"function": "ingest_" + d["name"]}))}, '
         f'"dimensions": {json.dumps(json.dumps({"Series": d["name"]}))}, '
         f'"accountid": "000000000001", "id": "{d["unique_id"]}", '
         f'"label": "{d["name"]}"')
        for d in defs]
    per = cfg["step_seconds"] // cfg["interval"]
    held = (np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0))
    for step in range(cfg["steps"]):
        srng = np.random.default_rng([seed, 2, step])
        t_lo = T0 + step * cfg["stride"]
        t_hi = t_lo + cfg["step_seconds"]
        sid = np.repeat(np.arange(nser), per)
        ts = (t_lo + np.tile(np.arange(per), nser) * cfg["interval"]
              + srng.integers(0, cfg["interval"], sid.size))
        v = level[sid] * (1 + 0.2 * srng.standard_normal(sid.size))
        shifted = srng.random(sid.size) < 0.1
        v[shifted] *= shift_to[sid[shifted]]
        v = np.round(np.maximum(v, 0.25) * 4) / 4
        keep = srng.random(sid.size) >= 0.03
        # out of order, within the watermark: `late_share` of this step's
        # last `late_window` seconds arrives with the next step
        late = ((ts >= t_hi - cfg["late_window"])
                & (srng.random(sid.size) < cfg["late_share"]) & keep)
        now = keep & ~late
        sid_n = np.r_[held[0], sid[now]]
        ts_n = np.r_[held[1], ts[now]]
        v_n = np.r_[held[2], v[now]]
        held = (sid[late], ts[late], v[late])
        corrupt = srng.random(sid_n.size) < cfg["corrupt_share"]
        cut = srng.random(sid_n.size)
        ctime = _iso(t_hi)
        iso = np.datetime_as_string(ts_n.astype("datetime64[s]"), unit="s")
        lines = []
        for j in range(sid_n.size):
            line = (f'{{"collectiontime": "{ctime}", {static[sid_n[j]]}, '
                    f'"metrictimestamp": "{iso[j]}", "metricvalue": {v_n[j]!r}}}')
            if corrupt[j]:
                line = line[:1 + int(cut[j] * (len(line) - 2))]
            lines.append(line)
        perm = srng.permutation(len(lines))
        sdir = f"{out}/steps/{step:04d}"
        os.makedirs(sdir, exist_ok=True)
        with open(f"{sdir}/part-0.json", "w") as f:
            f.write("\n".join(lines[j] for j in perm) + "\n")
        ok = ~corrupt
        _write(pa.table({
            "id": pa.array([defs[i]["unique_id"] for i in sid_n[ok]]),
            "metrictimestamp": pa.array(iso[ok]),
            "metricvalue": pa.array(v_n[ok], pa.float32()),
            "step": pa.array(np.full(int(ok.sum()), step), pa.int32()),
        }), f"{out}/manifest/{step:04d}.parquet")
        with open(f"{sdir}.count", "w") as f:
            json.dump({"lines": len(lines), "valid": int(ok.sum()),
                       "corrupt": int(corrupt.sum()),
                       "bytes": sum(len(l) + 1 for l in lines),
                       "max_ts": int(ts_n.max())}, f)
    info = dict(workload="ingest_stream", series=nser, steps=cfg["steps"],
                step_seconds=cfg["step_seconds"], stride=cfg["stride"],
                watermark_seconds=INGEST_WATERMARK_S,
                ttl_days=MONITOR_TTL_DAYS)
    with open(f"{out}/info.json", "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


def _text(rng, lo, hi):
    n = int(rng.integers(lo, hi))
    z = np.minimum(rng.zipf(1.6, n) - 1, len(WORDS) - 1)
    return " ".join(WORDS[i] for i in z)


def gen_dedup(seed, out):
    """documents + embeddings with injected near-duplicate families;
    customer for the record-linkage query."""
    rng = np.random.default_rng([seed, 3])
    cfg = DEDUP
    n = cfg["documents"]
    texts = [_text(rng, 8, 100) for _ in range(n)]
    texts[1] = _text(rng, 60, 100)  # the substring-dedup source doc
    for _ in range(cfg["doc_families"]):
        src = int(rng.integers(0, n))
        for _ in range(int(rng.integers(1, 4))):
            dst = int(rng.integers(0, n))
            if dst in (1, src):
                continue
            toks = texts[src].split()
            j = int(rng.integers(0, len(toks)))
            toks[j] = WORDS[int(rng.integers(len(WORDS)))]
            texts[dst] = " ".join(toks)
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, n, p=[.52, .14, .12, .12, .1])),
        "source": [f"src{i}" for i in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    m = cfg["embeddings"]
    v = rng.standard_normal((m, 64)).astype(np.float32) * 0.1
    for _ in range(cfg["emb_families"]):
        src = int(rng.integers(0, m))
        for _ in range(int(rng.integers(1, 4))):
            dst = int(rng.integers(0, m))
            v[dst] = v[src] + rng.standard_normal(64).astype(np.float32) * 0.002
    _write(pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    }), f"{out}/embeddings.parquet")
    _customer(rng, out, cfg["customer"])
    info = dict(workload="dedup_join", documents=n, embeddings=m,
                customer=cfg["customer"])
    with open(f"{out}/info.json", "w") as f:
        json.dump(info, f, sort_keys=True)
    return info


GENERATORS = {"monitor_cycle": gen_monitor, "ingest_stream": gen_ingest,
              "dedup_join": gen_dedup}
