"""Correctness checks: every workload's outputs against DuckDB over the
same generated inputs. They run after the engine has exited, outside the
timed window. `check` returns the failed operations."""
import datetime
import glob
import json
import math
import os

import duckdb

OPERATORS = {"GREATER_THAN_THRESHOLD": ">", "GREATER_THAN_OR_EQUAL_TO_THRESHOLD": ">=",
             "LESS_THAN_THRESHOLD": "<", "LESS_THAN_OR_EQUAL_TO_THRESHOLD": "<="}


def _norm(v):
    """Sortable, type-tagged, bit-exact representation."""
    if v is None:
        return ("0",)
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    return (type(v).__name__, v)


def _rows(con, sql):
    return sorted(tuple(_norm(x) for x in r) for r in con.execute(sql).fetchall())


def _cutoff(as_of, ttl_days):
    d = datetime.datetime.fromtimestamp(as_of, datetime.timezone.utc).date()
    return (d - datetime.timedelta(days=ttl_days)).isoformat()


def _windows_sql(points):
    """StatWindowAgg in SQL: exact decimal sums, and pNN as the
    ceil(p * n)-th smallest value (percentile_approx at accuracy 1e5 is
    exact below 1e5 values per window)."""
    return f"""
    SELECT d.unique_id AS series_id, d.statistic, d.period, d.frequency,
      CAST(floor(p.t / d.period) * d.period AS BIGINT) AS window_start,
      CASE d.statistic
        WHEN 'Sum' THEN CAST(SUM(CAST(p.value AS DECIMAL(28,8))) AS DOUBLE)
        WHEN 'Average' THEN CAST(SUM(CAST(p.value AS DECIMAL(28,8))) AS DOUBLE) / COUNT(p.value)
        WHEN 'Maximum' THEN MAX(p.value)
        WHEN 'Minimum' THEN MIN(p.value)
        WHEN 'SampleCount' THEN CAST(COUNT(p.value) AS DOUBLE)
        ELSE list_sort(list(p.value))[CAST(ceil(
          CAST(substr(d.statistic, 2) AS DOUBLE) / 100.0 * COUNT(p.value)) AS BIGINT)]
      END AS metricvalue
    FROM ({points}) p JOIN defs d ON p.series_id = d.unique_id
    GROUP BY 1, 2, 3, 4, 5"""


def _alarm_tables(con):
    """AlarmStateMachine in SQL over table `win`: densify each series
    between its first and last window, vote per slot by the missing-data
    policy, count breaches among the last N votes, and derive states and
    transitions. Creates table `alarm`."""
    con.execute("""
    CREATE OR REPLACE TEMP TABLE bounds AS
    SELECT w.series_id, s.period, s.threshold, s.comparison_operator AS op,
      s.datapoints_to_alarm AS m, s.evaluation_periods AS n,
      s.treat_missing_data AS tmd, min(w.window_start) AS lo, max(w.window_start) AS hi
    FROM win w JOIN slas s USING (series_id) GROUP BY 1, 2, 3, 4, 5, 6, 7""")
    vote = " ".join(f"WHEN op = '{k}' THEN d.metricvalue {v} threshold"
                    for k, v in OPERATORS.items())
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE voted AS
    SELECT d.*, CASE WHEN d.metricvalue IS NOT NULL THEN (CASE {vote} END)
      WHEN tmd = 'BREACHING' THEN TRUE WHEN tmd = 'NOT_BREACHING' THEN FALSE
      END AS vote
    FROM (SELECT b.*, w.metricvalue FROM
          (SELECT *, unnest(generate_series(lo, hi, CAST(period AS BIGINT))) AS window_start
           FROM bounds) b
          LEFT JOIN win w ON w.series_id = b.series_id AND w.window_start = b.window_start) d""")
    parts = []
    for (n,) in con.execute("SELECT DISTINCT n FROM bounds ORDER BY n").fetchall():
        parts.append(f"""
        SELECT v.*, coalesce(last_value(c.bc IGNORE NULLS) OVER (PARTITION BY v.series_id
            ORDER BY v.window_start ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS bc,
          max(CASE WHEN v.metricvalue IS NOT NULL THEN 1 ELSE 0 END) OVER (
            PARTITION BY v.series_id ORDER BY v.window_start
            ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW) = 1 AS any_real
        FROM voted v LEFT JOIN (
          SELECT series_id, window_start, sum(CASE WHEN vote THEN 1 ELSE 0 END) OVER (
            PARTITION BY series_id ORDER BY window_start
            ROWS BETWEEN {n - 1} PRECEDING AND CURRENT ROW) AS bc
          FROM voted WHERE n = {n} AND vote IS NOT NULL) c
          ON v.series_id = c.series_id AND v.window_start = c.window_start
        WHERE v.n = {n}""")
    con.execute(f"""
    CREATE OR REPLACE TEMP TABLE alarm AS
    SELECT *, lag(state) OVER (PARTITION BY series_id ORDER BY window_start) AS prev_state
    FROM (SELECT *, CASE WHEN tmd = 'MISSING' AND NOT any_real THEN 'INSUFFICIENT_DATA'
                   WHEN bc >= m THEN 'ALARM' ELSE 'OK' END AS state
          FROM ({' UNION ALL '.join(parts)}))""")


def _connect(data, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def _check_monitor(data, work, info, res):
    con = _connect(data, ["lineitem", "orders", "customer", "part", "supplier",
                          "defs", "slas"])
    cutoff = _cutoff(info["as_of"], info["ttl_days"])
    points = (f"SELECT series_id, CAST(epoch(ts) AS BIGINT) AS t, value FROM "
              f"read_parquet('{data}/datapoints.parquet/**/*.parquet', hive_partitioning=true) "
              f"WHERE make_date(CAST(year AS BIGINT), CAST(month AS BIGINT), CAST(day AS BIGINT)) "
              f">= DATE '{cutoff}'")
    con.execute(f"CREATE TEMP TABLE win AS {_windows_sql(points)}")
    _alarm_tables(con)

    published = []
    for bm in res["finish"]["business_metrics"]:
        v = con.execute(f"SELECT CAST(({bm['query']}) AS DOUBLE)").fetchone()[0]
        if v is not None:
            published.append((_norm(bm["namespace"]), _norm(bm["name"]), _norm(v)))
    want = {
        "metrics_published": sorted(published),
        "metrics_records": _rows(con, """
            SELECT series_id, strftime(make_timestamp(window_start * 1000000), '%Y-%m-%dT%H:%M:%S'),
              CAST(metricvalue AS FLOAT) FROM win"""),
        "sla_records": _rows(con, """
            SELECT series_id, state, prev_state || ' -> ' || state || ' at ' || window_start
            FROM alarm WHERE prev_state IS NOT NULL AND prev_state <> state"""),
        "incidents": _rows(con, """
            SELECT d.name || '-' || d.name || '-' || d.frequency FROM alarm a
            JOIN slas s USING (series_id) JOIN defs d ON d.unique_id = a.series_id
            WHERE a.prev_state IS NOT NULL AND a.prev_state <> a.state
              AND a.state = 'ALARM' AND s.sns_enabled"""),
    }
    got_sql = {
        "metrics_published": "SELECT namespace, name, metricvalue FROM read_parquet('{d}/*.parquet')",
        "metrics_records": "SELECT id, metrictimestamp, metricvalue FROM "
                           "read_parquet('{d}/**/*.parquet', hive_partitioning=true)",
        "sla_records": "SELECT alarmname, statevalue, statereason FROM "
                       "read_parquet('{d}/**/*.parquet', hive_partitioning=true)",
        "incidents": "SELECT unique_id FROM read_parquet('{d}/*.parquet')",
    }
    failed, messages = set(), []
    for i in range(len(res["ops"])):
        for k, sql in got_sql.items():
            d = f"{work}/out/op_{i}/{k}"
            try:
                got = _rows(con, sql.format(d=d))
            except duckdb.Error as e:
                got = str(e).splitlines()[0]
            if got != want[k]:
                failed.add(i)
                messages.append(f"op {i}: {k} differs from the DuckDB oracle ("
                                f"{got if isinstance(got, str) else len(got)} vs "
                                f"{len(want[k])} rows)")
    return {"ops": failed, "all": False, "messages": messages}


def _step_counts(data, n):
    out = []
    for s in range(n):
        with open(f"{data}/steps/{s:04d}.count") as f:
            out.append(json.load(f))
    return out


def _check_ingest(data, work, info, res):
    fin = res["finish"]
    messages = []
    if "finish_error" in fin:
        return {"ops": set(), "all": True, "messages": [fin["finish_error"]]}
    n = fin["landed_steps"]
    counts = _step_counts(data, n)
    con = _connect(data, ["defs", "slas"])
    cutoff = _cutoff(fin["max_ts"], info["ttl_days"])
    manifest = ",".join(f"'{data}/manifest/{s:04d}.parquet'" for s in range(n))
    con.execute(f"CREATE TEMP TABLE man AS SELECT * FROM read_parquet([{manifest}])")
    lake = f"read_parquet('{work}/lake/**/*.parquet', hive_partitioning=true)"
    kept = (f"SELECT id, metrictimestamp, metricvalue FROM man WHERE "
            f"CAST(CAST(metrictimestamp AS TIMESTAMP) AS DATE) >= DATE '{cutoff}'")
    missing, extra, n_kept = con.execute(f"""
        SELECT (SELECT count(*) FROM ({kept} EXCEPT ALL
                  SELECT id, metrictimestamp, metricvalue FROM {lake})),
               (SELECT count(*) FROM (SELECT id, metrictimestamp, metricvalue FROM {lake}
                  EXCEPT ALL {kept})),
               (SELECT count(*) FROM ({kept}))""").fetchone()
    if missing or extra:
        messages.append(f"lake differs from the manifest: {missing} missing, {extra} extra")
    if fin["lake_rows"] != n_kept:
        messages.append(f"the engine read back {fin['lake_rows']} lake rows, expected {n_kept}")
    corrupt = sum(c["corrupt"] for c in counts)
    if fin["corrupt_rows"] != corrupt:
        messages.append(f"corrupt rows {fin['corrupt_rows']} != generated {corrupt}")
    if fin["dropped_by_watermark"] != 0:
        messages.append(f"{fin['dropped_by_watermark']} rows dropped by the watermark")
    # the batch machine over exactly the points the stream saw; compared
    # on each series' windows after its first, up to its last, that the
    # final watermark has closed
    points = ("SELECT id AS series_id, CAST(epoch(CAST(metrictimestamp AS TIMESTAMP)) AS BIGINT)"
              " AS t, CAST(metricvalue AS DOUBLE) AS value FROM man")
    con.execute(f"CREATE TEMP TABLE win AS {_windows_sql(points)}")
    _alarm_tables(con)
    wm = fin["final_watermark_ms"] // 1000

    def closed(w):
        return f"{w} > b.lo AND {w} <= b.hi AND {w} + b.period < {wm}"
    stream = _rows(con, f"""SELECT t.seriesId, t.windowStart, t.prevState, t.newState
        FROM read_parquet('{work}/transitions/*.parquet') t
        JOIN bounds b ON b.series_id = t.seriesId WHERE {closed('t.windowStart')}""")
    batch = _rows(con, f"""SELECT a.series_id, a.window_start, a.prev_state, a.state
        FROM alarm a JOIN bounds b USING (series_id)
        WHERE a.prev_state IS NOT NULL AND a.prev_state <> a.state
          AND {closed('a.window_start')}""")
    if stream != batch or not batch:
        messages.append(f"stream transitions ({len(stream)}) != batch machine ({len(batch)})")
    return {"ops": set(), "all": bool(messages), "messages": messages}


def _check_dedup(data, work, info, res):
    fin = res["finish"]
    if "finish_error" in fin:
        return {"ops": set(), "all": True, "messages": [fin["finish_error"]]}
    con = _connect(data, ["documents", "embeddings", "customer"])
    messages, want_rows = [], {}
    for q, sql in sorted(fin["oracle_sql"].items()):
        got = con.execute(f"SELECT * FROM read_parquet('{work}/out/{q}/*.parquet')")
        gcols = [d[0] for d in got.description]
        g = got.fetchall()
        want = con.execute(sql)
        wcols = [d[0] for d in want.description]
        w = want.fetchall()
        gi = sorted(range(len(gcols)), key=lambda i: gcols[i])
        wi = sorted(range(len(wcols)), key=lambda i: wcols[i])
        gs = sorted(tuple(_norm(r[i]) for i in gi) for r in g)
        ws = sorted(tuple(_norm(r[i]) for i in wi) for r in w)
        want_rows[q] = len(ws)
        if sorted(gcols) != sorted(wcols) or gs != ws:
            messages.append(f"{q}: {len(gs)} rows differ from the DuckDB oracle ({len(ws)} rows)")
    if messages:
        return {"ops": set(), "all": True, "messages": messages}
    failed = set()
    for q, counts in fin["rows_out"].items():
        for i, c in enumerate(counts):
            if c != want_rows[q]:
                failed.add(i)
                messages.append(f"op {i}: {q} returned {c} rows, oracle {want_rows[q]}")
    return {"ops": failed, "all": False, "messages": messages}


def check(workload, data, work, info, res):
    return {"monitor_cycle": _check_monitor, "ingest_stream": _check_ingest,
            "dedup_join": _check_dedup}[workload](data, work, info, res)


def lake_stats(workload, data, work, res):
    """Parquet files per lake partition and lake bytes per landed JSON
    byte, after compaction and retention (ingest_stream only). The
    landed bytes count only records whose partitions retention keeps."""
    if workload != "ingest_stream" or "landed_steps" not in res["finish"]:
        return {}
    n = res["finish"]["landed_steps"]
    counts = _step_counts(data, n)
    with open(f"{data}/info.json") as f:
        info = json.load(f)
    files, nbytes = [], 0
    for part in glob.glob(f"{work}/lake/region=*/year=*/month=*/day=*/hour=*"):
        pq = glob.glob(f"{part}/*.parquet")
        files.append(len(pq))
        nbytes += sum(os.path.getsize(p) for p in pq)
    cutoff = _cutoff(res["finish"]["max_ts"], info["ttl_days"])
    manifest = ",".join(f"'{data}/manifest/{s:04d}.parquet'" for s in range(n))
    kept, total = duckdb.connect().execute(f"""SELECT count(*) FILTER (WHERE CAST(CAST(
        metrictimestamp AS TIMESTAMP) AS DATE) >= DATE '{cutoff}'), count(*)
        FROM read_parquet([{manifest}])""").fetchone()
    landed = sum(c["bytes"] for c in counts) * kept / max(total, 1)
    return {"lake_files_per_partition": (sum(files) / len(files) if files else 0.0, "files"),
            "lake_bytes_per_input_byte": (nbytes / landed if landed else 0.0, "ratio")}


def layer_extras(workload, work, res):
    """Per-layer values read from the outputs rather than the engine."""
    fin = res["finish"]
    if workload != "ingest_stream" or "landed_steps" not in fin:
        return {"streaming.ingest.corrupt_rows": 0.0, "streaming.alarm.transitions": 0.0}
    steps = max(fin["landed_steps"], 1)
    t = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{work}/transitions/*.parquet')").fetchone()[0]
    return {"streaming.ingest.corrupt_rows": fin["corrupt_rows"] / steps,
            "streaming.alarm.transitions": t / steps}
