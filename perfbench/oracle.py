"""Correctness checks in DuckDB over the same parquet and CSV files the
program read. They run after the timed loop; each returns how many
operations produced a wrong result, which the runner counts as failed.
"""

from __future__ import annotations

import glob
import math
import os
from datetime import datetime

import duckdb
import pandas as pd


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    return con


def _norm(v):
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).strftime("%Y-%m-%d %H:%M:%S")
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    return v


def same_rows(got: list[tuple], want: list[tuple], tol: float = 2e-6) -> bool:
    """Ordered row equality; floats agree within ``tol`` absolute (both
    engines round averages to 6 places, but may sum in another order)."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(map(_norm, g), map(_norm, w)):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=tol):
                    return False
            elif a != b:
                return False
    return True


# --- dashboard -----------------------------------------------------------------

_HOURLY = """
    SELECT date_trunc('hour', time) AS bucket, ROUND(AVG(v), 6), MIN(v), MAX(v), COUNT(*)
    FROM {src} WHERE v IS NOT NULL GROUP BY 1 ORDER BY 1
"""

DASHBOARD_SQL = {
    "hourly_agg": _HOURLY.format(src="base"),
    "histogram_bin_index": """
        WITH r AS (SELECT MIN(v) AS mn, (MAX(v) - MIN(v)) / 50 AS w FROM base WHERE v IS NOT NULL),
        b AS (SELECT v, mn, w, CASE WHEN w = 0 THEN 0
                                    ELSE LEAST(49, FLOOR((v - mn) / NULLIF(w, 0))) END AS i
              FROM base, r WHERE v IS NOT NULL)
        SELECT CAST(i AS BIGINT), mn + i * w, mn + (i + 1) * w, COUNT(*), ROUND(AVG(v), 6)
        FROM b GROUP BY i, mn, w ORDER BY 1
    """,
    "percentile_trim": """
        WITH p AS (SELECT PERCENTILE_CONT(0.01) WITHIN GROUP (ORDER BY v) AS lo,
                          PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY v) AS hi
                   FROM base WHERE v IS NOT NULL),
        trimmed AS (SELECT time, v FROM base, p WHERE v BETWEEN p.lo AND p.hi)
    """ + _HOURLY.format(src="trimmed"),
    "topn_others": """
        WITH c AS (SELECT v AS category, COUNT(*) AS n FROM base WHERE v IS NOT NULL GROUP BY 1),
        r AS (SELECT category, n, ROW_NUMBER() OVER (ORDER BY n DESC, category ASC) AS rk FROM c),
        f AS (SELECT CASE WHEN rk <= 10 THEN category ELSE 'Others' END AS category,
                     CAST(SUM(n) AS BIGINT) AS n FROM r GROUP BY 1)
        SELECT category, n FROM f
        ORDER BY CASE WHEN category = 'Others' THEN 1 ELSE 0 END, n DESC, category ASC
    """,
}


def dashboard_expected(con, files: list[str], op: str, col: str, window) -> list[tuple]:
    con.execute(f"""
        CREATE OR REPLACE TEMP VIEW base AS
        SELECT CAST(time AS TIMESTAMP) AS time, {col} AS v
        FROM read_parquet({files!r})
        WHERE CAST(time AS TIMESTAMP) BETWEEN TIMESTAMP '{window[0]}' AND TIMESTAMP '{window[1]}'
    """)
    return con.execute(DASHBOARD_SQL[op]).fetchall()


def check_dashboard(files: list[str], outputs: list) -> int:
    """Every distinct chart result against DuckDB over the input rows the
    store was written from; returns the number of wrong requests."""
    con = connect()
    expected: dict = {}
    verdict: dict = {}
    bad = 0
    for op, col, window, rows in outputs:
        key = (op, col, tuple(window))
        if key not in expected:
            expected[key] = dashboard_expected(con, files, op, col, window)
        vkey = (key, repr(rows))
        if vkey not in verdict:
            verdict[vkey] = same_rows(rows, expected[key])
        bad += not verdict[vkey]
    return bad


# --- ingest ---------------------------------------------------------------------

WIDE_COLS = ["time", "submit_time", "start_time", "end_time", "timelimit", "nhosts",
             "ncores", "account", "queue", "host", "jid", "unit", "jobname", "exitcode",
             "host_list", "username", "value_cpuuser", "value_gpu", "value_memused",
             "value_memused_minus_diskcache", "value_nfs", "value_block"]
_TS_COLS = {"time", "submit_time", "start_time", "end_time"}


def _select_wide(src: str) -> str:
    cols = [f"CAST({c} AS TIMESTAMP) AS {c}" if c in _TS_COLS else c for c in WIDE_COLS]
    return f"SELECT {', '.join(cols)} FROM {src}"


def _keys(ts: str) -> str:
    return f"""
        regexp_replace(COALESCE(jobID, 'unknown'), 'jobID', 'JOB', 'g') AS job,
        COALESCE(node, 'unknown') AS node,
        try_strptime({ts}, '%m/%d/%Y %H:%M:%S') AS ts
    """


def _rate(delta: str, scale: str) -> str:
    return (f"CASE WHEN tds IS NOT NULL AND tds >= 0.1 AND {delta} IS NOT NULL "
            f"AND {delta} >= 0 THEN {delta} * {scale} / tds ELSE 0.0 END")


#: the four HPC transformers restated in SQL over the raw CSV strings
ETL_SQL = {
    "block": f"""
        WITH p AS (
            SELECT {_keys('timestamp')}, COALESCE(device, 'unknown') AS dev,
                   TRY_CAST(rd_sectors AS DOUBLE) + TRY_CAST(wr_sectors AS DOUBLE) AS tot
            FROM raw WHERE TRY_CAST(rd_sectors AS DOUBLE) IS NOT NULL
                       AND TRY_CAST(wr_sectors AS DOUBLE) IS NOT NULL),
        d AS (SELECT job, node, ts,
                     epoch_us(ts) / 1e6 - lag(epoch_us(ts) / 1e6) OVER w AS tds,
                     tot - lag(tot) OVER w AS sd
              FROM p WHERE ts IS NOT NULL WINDOW w AS (PARTITION BY job, node, dev ORDER BY ts))
        SELECT job, node, 'block', SUM({_rate('sd', '(512 * (1.0 / 1073741824))')}), 'GB/s', ts
        FROM d GROUP BY job, node, ts
    """,
    "cpu": f"""
        WITH c AS (
            SELECT {_keys('timestamp')}, COALESCE(device, 'unknown') AS dev,
                   TRY_CAST("user" AS DOUBLE) AS u, TRY_CAST(nice AS DOUBLE) AS n,
                   TRY_CAST(system AS DOUBLE) AS s, TRY_CAST(idle AS DOUBLE) AS i,
                   TRY_CAST(iowait AS DOUBLE) AS io, TRY_CAST(irq AS DOUBLE) AS ir,
                   TRY_CAST(softirq AS DOUBLE) AS si
            FROM raw),
        p AS (SELECT job, node, dev, ts, u, n, u + n + s + i + io + ir + si AS tot FROM c
              WHERE u IS NOT NULL AND n IS NOT NULL AND s IS NOT NULL AND i IS NOT NULL
                AND io IS NOT NULL AND ir IS NOT NULL AND si IS NOT NULL AND ts IS NOT NULL),
        d AS (SELECT job, node, ts, u - lag(u) OVER w AS ud, n - lag(n) OVER w AS nd,
                     tot - lag(tot) OVER w AS td
              FROM p WINDOW w AS (PARTITION BY job, node, dev ORDER BY ts)),
        a AS (SELECT job, node, ts, SUM(ud) AS ud, SUM(nd) AS nd, SUM(td) AS td FROM d
              WHERE td IS NOT NULL AND td > 0 AND ud IS NOT NULL AND nd IS NOT NULL
                AND ud >= 0 AND nd >= 0
              GROUP BY job, node, ts)
        SELECT job, node, 'cpuuser',
               LEAST(GREATEST(CASE WHEN td > 0 THEN (ud + nd) / td * 100.0 ELSE 0.0 END,
                              0.0), 100.0),
               'CPU %', ts
        FROM a
    """,
    "mem": f"""
        WITH c AS (
            SELECT {_keys('timestamp')},
                   GREATEST(TRY_CAST(MemTotal AS DOUBLE), 0.0) AS mt,
                   GREATEST(TRY_CAST(MemFree AS DOUBLE), 0.0) AS mf,
                   GREATEST(TRY_CAST(FilePages AS DOUBLE), 0.0) AS fp
            FROM raw WHERE TRY_CAST(MemTotal AS DOUBLE) IS NOT NULL
                       AND TRY_CAST(MemFree AS DOUBLE) IS NOT NULL
                       AND TRY_CAST(FilePages AS DOUBLE) IS NOT NULL),
        r AS (SELECT job, node, ts, mt, fp, mt - LEAST(mf, mt) AS used FROM c
              WHERE ts IS NOT NULL)
        SELECT job, node, 'memused', used * (1.0 / 1073741824), 'GB', ts FROM r
        UNION ALL
        SELECT job, node, 'memused_minus_diskcache',
               (used - LEAST(fp, mt, used)) * (1.0 / 1073741824), 'GB', ts FROM r
    """,
    "llite": f"""
        WITH p AS (
            SELECT {_keys('timestamp')},
                   TRY_CAST(read_bytes AS DOUBLE) + TRY_CAST(write_bytes AS DOUBLE) AS tot
            FROM raw WHERE TRY_CAST(read_bytes AS DOUBLE) IS NOT NULL
                       AND TRY_CAST(write_bytes AS DOUBLE) IS NOT NULL),
        d AS (SELECT job, node, ts,
                     epoch_us(ts) / 1e6 - lag(epoch_us(ts) / 1e6) OVER w AS tds,
                     tot - lag(tot) OVER w AS bd
              FROM p WHERE ts IS NOT NULL WINDOW w AS (PARTITION BY job, node ORDER BY ts))
        SELECT job, node, 'nfs', {_rate('bd', '(1.0 / 1048576)')}, 'MB/s', ts
        FROM d WHERE tds IS NOT NULL
    """,
}


def etl_mismatches(con, raw_dir: str, out_dir: str, kind: str) -> int:
    """Rows that differ between the pipeline's parquet output and the SQL
    restatement over the same CSV files (missing, extra or off in value)."""
    con.execute(f"""CREATE OR REPLACE TEMP VIEW raw AS
                    SELECT * FROM read_csv('{raw_dir}/*.csv', header = true, all_varchar = true)""")
    con.execute(f"CREATE OR REPLACE TEMP TABLE want AS {ETL_SQL[kind]}")
    con.execute(f"""CREATE OR REPLACE TEMP TABLE got AS
                    SELECT "Job Id", "Host", "Event", "Value", "Units", CAST("Timestamp" AS TIMESTAMP)
                    FROM read_parquet('{out_dir}/*.parquet')""")
    want = con.execute("SELECT * FROM want").fetchall()
    got = con.execute("SELECT * FROM got").fetchall()
    key = lambda r: (r[0], r[1], r[2], str(r[5]))  # noqa: E731
    w = {key(r): r for r in want}
    g = {key(r): r for r in got}
    bad = len(set(w) ^ set(g)) + (len(want) - len(w)) + (len(got) - len(g))
    for k in set(w) & set(g):
        a, b = w[k][3], g[k][3]
        if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12):
            bad += 1
    return bad


def replay_store(con, m: dict, n_batches: int, on_batch=None) -> None:
    """Table ``state``: the base rows with the first ``n_batches`` CDC
    batches applied (row identity is (jid, hour), upserts replace)."""
    base = f"read_parquet({m['base_files']!r})"
    con.execute(f"CREATE OR REPLACE TEMP TABLE state AS {_select_wide(base)}")
    for b in range(n_batches):
        f = m["cdc_files"][b]
        con.execute(f"CREATE OR REPLACE TEMP TABLE cdc AS SELECT *, "
                    f"CAST(time AS TIMESTAMP) AS t FROM read_parquet('{f}')")
        con.execute("""DELETE FROM state WHERE EXISTS (
                           SELECT 1 FROM cdc WHERE cdc.jid = state.jid
                           AND date_trunc('hour', cdc.t) = date_trunc('hour', state.time))""")
        con.execute(f"INSERT INTO state {_select_wide('cdc')} WHERE op = 'upsert'")
        if on_batch:
            on_batch(b)


def fresh_read(con, m: dict) -> list[tuple]:
    """The hourly chart of the CDC window over the current ``state``."""
    lo, hi = m["cdc_window"]
    return con.execute(f"""
        SELECT date_trunc('hour', time), ROUND(AVG(value_cpuuser), 6), MIN(value_cpuuser),
               MAX(value_cpuuser), COUNT(*)
        FROM state WHERE time BETWEEN TIMESTAMP '{lo}' AND TIMESTAMP '{hi}'
          AND value_cpuuser IS NOT NULL
        GROUP BY 1 ORDER BY 1""").fetchall()


def check_ingest(m: dict, store: str, etl_dir: str, n_batches: int, reads: list) -> int:
    """ETL outputs of every applied batch, every fresh read, and the final
    store against a DuckDB replay of base rows plus CDC batches."""
    con = connect()
    bad = 0
    for b in range(n_batches):
        for kind, raw_dir in m["raw_dirs"][b].items():
            bad += etl_mismatches(con, raw_dir, os.path.join(etl_dir, f"b{b}", kind), kind) > 0
    reads = dict(reads)
    failed_reads = []

    def on_batch(b):
        if b in reads and not same_rows(reads[b], fresh_read(con, m)):
            failed_reads.append(b)

    replay_store(con, m, n_batches, on_batch)
    bad += len(failed_reads)
    files = glob.glob(os.path.join(store, "year=*", "month=*", "day=*", "hour=*", "*.parquet"))
    src = f"read_parquet({files!r}, hive_partitioning = false)"
    con.execute(f"CREATE OR REPLACE TEMP TABLE stored AS {_select_wide(src)}")
    diff = con.execute("""SELECT (SELECT COUNT(*) FROM (SELECT * FROM stored EXCEPT ALL
                                                         SELECT * FROM state)),
                                 (SELECT COUNT(*) FROM (SELECT * FROM state EXCEPT ALL
                                                         SELECT * FROM stored))""").fetchone()
    bad += (diff[0] + diff[1]) > 0
    return bad


def live_rows(store: str) -> int:
    files = glob.glob(os.path.join(store, "year=*", "month=*", "day=*", "hour=*", "*.parquet"))
    return connect().execute(f"SELECT COUNT(*) FROM read_parquet({files!r})").fetchone()[0]


# --- curation -------------------------------------------------------------------


def check_curation(inputs: dict, passes: list[dict]) -> int:
    """Per pass: the curated documents are exactly the originals with their
    boilerplate stripped, every quality verdict matches the generator's,
    every exact copy sits in its original's fingerprint group and is
    emptied by span removal, and every near-duplicate shares its
    original's cluster. Returns the number of wrong passes."""
    con = connect()
    con.execute(f"CREATE TEMP TABLE truth AS SELECT * FROM read_parquet('{inputs['truth']}')")
    want_curated = con.execute(
        "SELECT doc_id, content FROM truth WHERE kind = 'orig' ORDER BY doc_id").fetchall()
    bad = 0
    for out in passes:
        frames = {
            "spans": pd.DataFrame(out["spans"], columns=["doc_id", "n_tokens", "n_removed"]),
            "groups": pd.DataFrame(out["groups"], columns=["canonical_id", "n_copies"]),
            "quality": pd.DataFrame(out["quality"], columns=["doc_id", "kept"]),
            "clusters": pd.DataFrame(out["clusters"], columns=["doc", "cluster_id"]),
        }
        for name, df in frames.items():
            con.register(name, df)
        problems = con.execute("""
            SELECT
              (SELECT COUNT(*) FROM truth t LEFT JOIN quality q USING (doc_id)
               WHERE q.kept IS DISTINCT FROM t.quality_ok),
              (SELECT COUNT(*) FROM truth t WHERE kind = 'exact' AND NOT EXISTS (
                   SELECT 1 FROM groups g WHERE g.canonical_id = t.orig_id AND g.n_copies = 2)),
              (SELECT COUNT(*) FROM truth t WHERE kind = 'exact' AND NOT EXISTS (
                   SELECT 1 FROM spans s WHERE s.doc_id = t.doc_id
                   AND s.n_removed = s.n_tokens AND s.n_tokens > 0)),
              (SELECT COUNT(*) FROM truth t WHERE kind = 'near' AND NOT EXISTS (
                   SELECT 1 FROM clusters a, clusters b
                   WHERE a.doc = t.doc_id AND b.doc = t.orig_id AND a.cluster_id = b.cluster_id))
        """).fetchone()
        for name in frames:
            con.unregister(name)
        curated = sorted(out["curated"])
        bad += sum(problems) > 0 or curated != want_curated
    return bad
