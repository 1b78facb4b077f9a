"""Seeded input generators for the three workloads.

Everything here is numpy + pyarrow/pandas and never touches Spark: the
program under test only ever sees the files these functions write. One
``seed`` derives every input of a workload, so the same seed always
produces byte-identical files and a different seed produces different
rows, windows, batches and documents.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STORE_START = datetime(2024, 3, 1)

# --- sizes -----------------------------------------------------------------
# Kept small on purpose: every run starts a JVM, sets up three times and
# measures for a few seconds, and the whole suite of runs must fit in under
# an hour on a 4-core host. README.md records them against RAM and cache.
# Only the sizes the benchmark's own tests shrink are dataclass fields.

#: store length in days for dashboard, and for ingest's base store
DASH_DAYS = 2
INGEST_DAYS = 1
#: what the dashboard charts, the metric alternating by window
DASH_METRICS = ("value_cpuuser", "value_memused")
#: raw CSV and CDC batches generated, more than any run can finish
INGEST_BATCHES = 6
#: corpus sources, and boilerplate lines per source
SOURCES = 4
BOILERPLATE_PER_SOURCE = 3


@dataclass(frozen=True)
class DashboardSize:
    rows: int = 20_000


@dataclass(frozen=True)
class IngestSize:
    base_rows: int = 8_000
    raw_rows: int = 1_000  # per kind per batch
    cdc_rows: int = 120
    cdc_hours: int = 4  # CDC touches only the most recent hours


@dataclass(frozen=True)
class CurationSize:
    originals: int = 500
    exact_copies: int = 30
    near_dups: int = 30
    low_quality: int = 30


#: sizes for the benchmark's own tests (``run.py --size tiny``)
TINY = {
    "dashboard": DashboardSize(rows=2_000),
    "ingest": IngestSize(base_rows=1_000, raw_rows=200, cdc_rows=40, cdc_hours=3),
    "curation": CurationSize(originals=60, exact_copies=5, near_dups=5, low_quality=5),
}
FULL = {"dashboard": DashboardSize(), "ingest": IngestSize(), "curation": CurationSize()}


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, purpose) so adding a draw to one
    input never shifts another."""
    key = [seed] + [ord(c) for c in stream]
    return np.random.default_rng(np.random.SeedSequence(key))


# --- wide job rows ----------------------------------------------------------

QUEUES = ["normal", "long", "gpu", "debug", "large"]
ACCOUNTS = [f"TG-{i:04d}" for i in range(12)]


def wide_rows(rng: np.random.Generator, n: int, start: datetime, days: int,
              jid_prefix: str = "j") -> pd.DataFrame:
    """``n`` rows of the 22-column wide job schema over ``days`` days."""
    secs = rng.integers(0, days * 86400, n)
    t0 = np.datetime64(start, "us")
    time = t0 + (secs * 1_000_000).astype("timedelta64[us]")
    wait = rng.integers(0, 7200, n)
    run = rng.integers(60, 48 * 3600, n)
    start_t = time - (rng.integers(0, 3600, n) * 1_000_000).astype("timedelta64[us]")
    nhosts = rng.integers(1, 9, n)
    user = rng.zipf(1.4, n) % 300
    return pd.DataFrame({
        "time": time,
        "submit_time": start_t - (wait * 1_000_000).astype("timedelta64[us]"),
        "start_time": start_t,
        "end_time": start_t + (run * 1_000_000).astype("timedelta64[us]"),
        "timelimit": rng.choice([3600.0, 14400.0, 86400.0, 172800.0], n),
        "nhosts": nhosts,
        "ncores": nhosts * 16,
        "account": rng.choice(ACCOUNTS, n),
        "queue": rng.choice(QUEUES, n, p=[0.5, 0.2, 0.15, 0.1, 0.05]),
        "host": np.char.add("NODE", rng.integers(0, 128, n).astype(str)),
        "jid": np.char.add(jid_prefix, np.arange(n).astype(str)),
        "unit": "node",
        "jobname": np.char.add("job", rng.integers(0, 500, n).astype(str)),
        "exitcode": np.where(rng.random(n) < 0.9, "0", "1"),
        "host_list": np.char.add("NODE", rng.integers(0, 128, n).astype(str)),
        "username": np.char.add("user", user.astype(str)),
        "value_cpuuser": np.round(rng.beta(2, 3, n) * 100, 6),
        "value_gpu": np.round(rng.random(n) * 100, 6),
        "value_memused": np.round(rng.gamma(2.0, 20.0, n), 6),
        "value_memused_minus_diskcache": np.round(rng.gamma(2.0, 12.0, n), 6),
        "value_nfs": np.round(rng.exponential(5.0, n), 6),
        "value_block": np.round(rng.exponential(0.5, n), 6),
    })


def utc(df: pd.DataFrame) -> pd.DataFrame:
    """Mark naive timestamp columns as UTC, so parquet stores them as
    instants and Spark reads them as TIMESTAMP like the wide job schema
    (naive ones would come back as TIMESTAMP_NTZ)."""
    return df.assign(**{c: df[c].dt.tz_localize("UTC") for c in df.columns
                        if pd.api.types.is_datetime64_dtype(df[c])})


def write_parquet(df: pd.DataFrame, path: str, n_files: int = 1) -> list[str]:
    """Write ``df`` as ``n_files`` row-chunked parquet files in ``path``."""
    os.makedirs(path, exist_ok=True)
    df = utc(df)
    out = []
    for i, chunk in enumerate(np.array_split(np.arange(len(df)), n_files)):
        f = os.path.join(path, f"part-{i:03d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(df.iloc[chunk], preserve_index=False), f,
            compression="snappy",
        )
        out.append(f)
    return out


def fmt(ts: datetime) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S")


# --- dashboard ----------------------------------------------------------------


CHART_OPS = ("hourly_agg", "histogram_bin_index", "percentile_trim", "topn_others")
TOPN_COLUMNS = ("username", "queue")


#: dashboard window lengths in hours, one per window: a short one and a
#: half-day one, the same for every seed so every seed asks the same work
DASH_WINDOW_HOURS = (3, 12)


def dashboard_inputs(seed: int, root: str, size: DashboardSize = DashboardSize()) -> dict:
    """The store rows (one parquet file) and one window per entry of
    ``DASH_WINDOW_HOURS``, each with the four charts an analyst asks for
    on it. The seed moves the rows and where the windows end, skewed
    toward the newest data."""
    rng = rng_for(seed, "dashboard.rows")
    rows = wide_rows(rng, size.rows, STORE_START, DASH_DAYS)
    files = write_parquet(rows, os.path.join(root, "rows"))

    wr = rng_for(seed, "dashboard.windows")
    end_of_store = STORE_START + timedelta(days=DASH_DAYS)
    windows: list[tuple[str, str]] = []
    charts: list[list[tuple[str, str]]] = []
    for i, length in enumerate(DASH_WINDOW_HOURS):
        back_h = int(min(wr.exponential(18.0), DASH_DAYS * 24 - length))
        end = end_of_store - timedelta(hours=back_h)
        windows.append((fmt(end - timedelta(hours=length)), fmt(end - timedelta(seconds=1))))
        metric = DASH_METRICS[i % len(DASH_METRICS)]
        charts.append([(op, metric) for op in CHART_OPS[:3]]
                      + [("topn_others", TOPN_COLUMNS[int(wr.integers(0, 2))])])
    manifest = {
        "rows": size.rows, "days": DASH_DAYS, "hours": DASH_DAYS * 24,
        "files": files, "windows": windows, "charts": charts,
        "input_bytes": sum(os.path.getsize(f) for f in files),
    }
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


# --- ingest -------------------------------------------------------------------

RAW_KINDS = ("block", "cpu", "mem", "llite")
_RAW_COUNTERS = {
    "block": ["rd_sectors", "wr_sectors"],
    "cpu": ["user", "nice", "system", "idle", "iowait", "irq", "softirq"],
    "mem": ["MemTotal", "MemFree", "FilePages"],
    "llite": ["read_bytes", "write_bytes"],
}
_HAS_DEVICE = {"block": "dev", "cpu": "cpu"}


def raw_batch(rng: np.random.Generator, kind: str, n: int, t0: datetime) -> pd.DataFrame:
    """One raw TACC-stats CSV frame: monotone counters per series, with
    counter resets, unparseable timestamps and non-numeric counters.
    Timestamps are unique within each series so lag order is total."""
    n_series = max(1, n // 25)
    series = rng.integers(0, n_series, n)
    order = np.argsort(series, kind="stable")
    series = series[order]
    pos = np.zeros(n, dtype=np.int64)
    starts = np.r_[0, np.flatnonzero(np.diff(series)) + 1]
    for s, e in zip(starts, np.r_[starts[1:], n]):
        pos[s:e] = np.arange(e - s)
    secs = pos * 60 + series % 60
    ts = pd.Timestamp(t0) + pd.to_timedelta(secs, unit="s")
    out = {
        "jobID": np.char.add("jobID", (series % 7).astype(str)),
        "node": np.char.add("c", (series // 7).astype(str)),
    }
    if kind in _HAS_DEVICE:
        out["device"] = np.char.add(_HAS_DEVICE[kind], (series % 3).astype(str))
    tstr = np.asarray(ts.strftime("%m/%d/%Y %H:%M:%S"), dtype=object)
    tstr[rng.random(n) < 0.01] = "not a date"
    out["timestamp"] = tstr
    for c in _RAW_COUNTERS[kind]:
        if kind == "mem":
            scale = {"MemTotal": 64e6, "MemFree": 40e6, "FilePages": 20e6}[c]
            v = np.round(rng.random(n) * scale).astype(np.int64)
        else:
            step = rng.integers(0, 5000, n)
            v = np.zeros(n, dtype=np.int64)
            for s, e in zip(starts, np.r_[starts[1:], n]):
                v[s:e] = np.cumsum(step[s:e])
            reset = rng.random(n) < 0.02  # counter wrapped / node rebooted
            v[reset] = rng.integers(0, 100, reset.sum())
        col = v.astype(str).astype(object)
        col[rng.random(n) < 0.01] = "garbage"
        out[c] = col
    return pd.DataFrame(out)


def ingest_inputs(seed: int, root: str, size: IngestSize = IngestSize()) -> dict:
    """Base store rows, raw CSV batches (one directory per batch and kind)
    and CDC batches whose inserts, corrections and deletes hit the most
    recent ``cdc_hours`` hours of the base rows."""
    rng = rng_for(seed, "ingest.base")
    base = wide_rows(rng, size.base_rows, STORE_START, INGEST_DAYS, "b")
    base_files = write_parquet(base, os.path.join(root, "base"))
    rr = rng_for(seed, "ingest.raw")
    raw_dirs = []
    for b in range(INGEST_BATCHES):
        t0 = STORE_START + timedelta(days=INGEST_DAYS, hours=b)
        kinds = {}
        for kind in RAW_KINDS:
            d = os.path.join(root, "raw", f"b{b:02d}", kind)
            os.makedirs(d, exist_ok=True)
            raw_batch(rr, kind, size.raw_rows, t0).to_csv(
                os.path.join(d, f"{kind}.csv"), index=False)
            kinds[kind] = d
        raw_dirs.append(kinds)

    cr = rng_for(seed, "ingest.cdc")
    end = STORE_START + timedelta(days=INGEST_DAYS)
    recent_lo = np.datetime64(end - timedelta(hours=size.cdc_hours), "us")
    live = base[base["time"] >= recent_lo].copy()
    cdc_files = []
    for b in range(INGEST_BATCHES):
        n_ins = size.cdc_rows // 2
        n_upd = size.cdc_rows // 4
        n_del = size.cdc_rows - n_ins - n_upd
        ins = wide_rows(cr, n_ins, end, 1, f"late{b}_")
        ins["time"] = recent_lo + (
            cr.integers(0, size.cdc_hours * 3600, n_ins) * 1_000_000
        ).astype("timedelta64[us]")
        pick = cr.choice(len(live), n_upd + n_del, replace=False)
        upd = live.iloc[pick[:n_upd]].copy()
        upd["value_cpuuser"] = np.round(cr.random(n_upd) * 100, 6)
        upd["exitcode"] = "2"
        dele = live.iloc[pick[n_upd:]].copy()
        batch = pd.concat([
            ins.assign(op="upsert"), upd.assign(op="upsert"), dele.assign(op="delete"),
        ], ignore_index=True)
        batch = batch.iloc[cr.permutation(len(batch))].reset_index(drop=True)
        f = os.path.join(root, "cdc", f"b{b:02d}.parquet")
        os.makedirs(os.path.dirname(f), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(utc(batch), preserve_index=False), f)
        cdc_files.append(f)
        gone = set(dele["jid"])
        live = live[~live["jid"].isin(gone) & ~live["jid"].isin(set(upd["jid"]))]
        live = pd.concat([live, upd, ins], ignore_index=True)
    manifest = {
        "base_rows": size.base_rows, "base_days": INGEST_DAYS,
        "base_files": base_files, "raw_dirs": raw_dirs, "cdc_files": cdc_files,
        "raw_rows_per_batch": size.raw_rows * len(RAW_KINDS),
        "cdc_window": [fmt(end - timedelta(hours=size.cdc_hours)),
                       fmt(end - timedelta(seconds=1))],
    }
    with open(os.path.join(root, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


# --- curation -----------------------------------------------------------------

_STOP = ["the", "of", "and", "to", "in", "is", "for", "with"]


def _words(rng: np.random.Generator, k: int, vocab: int = 20_000) -> list[str]:
    """``k`` words: Zipf-ranked ``w<rank>`` tokens with stopwords mixed in."""
    u = rng.random(k)
    rank = np.floor(np.power(float(vocab), u)).astype(int)
    words = np.char.add("w", rank.astype(str)).astype(object)
    stop = rng.random(k) < 0.15
    words[stop] = rng.choice(_STOP, stop.sum())
    return list(words)


def _doc_lines(rng: np.random.Generator, n_lines: int) -> list[str]:
    """Content lines, each holding at least one stopword."""
    lines = []
    for _ in range(n_lines):
        words = _words(rng, int(rng.integers(10, 17)))
        words[int(rng.integers(0, len(words)))] = str(rng.choice(_STOP))
        lines.append(" ".join(words))
    return lines


def curation_inputs(seed: int, root: str, size: CurationSize = CurationSize()) -> dict:
    """A Zipf corpus ``(doc_id, source, lang, text)`` with per-source
    boilerplate lines, exact copies, near-duplicates (a few words swapped)
    and low-quality documents, plus the ground truth ``truth.parquet``:
    for every document its kind, the original it copies and whether it
    should pass the quality rules."""
    rng = rng_for(seed, "curation")
    boiler = {
        s: [" ".join(["site", f"s{s}"] + _words(rng, 6)) for _ in range(BOILERPLATE_PER_SOURCE)]
        for s in range(SOURCES)
    }
    docs, truth = [], []
    for i in range(size.originals):
        src = int(rng.integers(0, SOURCES))
        content = _doc_lines(rng, int(rng.integers(5, 9)))
        lines = list(content)
        for b in boiler[src]:
            if rng.random() < 0.7:
                lines.insert(int(rng.integers(0, len(lines) + 1)), b)
        docs.append((i, f"src{src}", "en", lines, content))
        truth.append((i, "orig", i, True))
    n = size.originals
    originals = rng.permutation(size.originals)
    exact = originals[: size.exact_copies]
    near = originals[size.exact_copies: size.exact_copies + size.near_dups]
    for o in exact:
        _, src, lang, lines, content = docs[o]
        docs.append((n, src, lang, list(lines), content))
        truth.append((n, "exact", int(o), True))
        n += 1
    for o in near:
        _, src, lang, lines, content = docs[o]
        new_content = [line.split(" ") for line in content]
        # one swapped word: 3-shingle Jaccard stays near 0.9, so LSH with
        # 16 bands of 4 misses such a pair with odds below 1e-6
        li = int(rng.integers(0, len(new_content)))
        wi = int(rng.integers(0, len(new_content[li])))
        new_content[li][wi] = f"x{int(rng.integers(0, 10**6))}"
        new_content = [" ".join(w) for w in new_content]
        swap = dict(zip(content, new_content))
        docs.append((n, src, lang, [swap.get(x, x) for x in lines], new_content))
        truth.append((n, "near", int(o), True))
        n += 1
    for _ in range(size.low_quality):
        src = int(rng.integers(0, SOURCES))
        if rng.random() < 0.5:  # declared non-English
            content = _doc_lines(rng, 4)
            docs.append((n, f"src{src}", "de", content, content))
        else:  # too short to pass min_words
            content = [" ".join(_words(rng, 9))]
            docs.append((n, f"src{src}", "en", content, content))
        truth.append((n, "lowq", n, False))
        n += 1
    corpus = pd.DataFrame({
        "doc_id": np.array([d[0] for d in docs], dtype=np.int64),
        "source": [d[1] for d in docs],
        "lang": [d[2] for d in docs],
        "text": ["\n".join(d[3]) for d in docs],
    })
    truth_df = pd.DataFrame(truth, columns=["doc_id", "kind", "orig_id", "quality_ok"])
    truth_df["content"] = ["\n".join(d[4]) for d in docs]
    bp = pd.DataFrame([(f"src{s}", line) for s, ls in boiler.items() for line in ls],
                      columns=["source", "line"])
    os.makedirs(root, exist_ok=True)
    paths = {k: os.path.join(root, f"{k}.parquet") for k in ("corpus", "truth", "boilerplate")}
    for k, df in (("corpus", corpus), ("truth", truth_df), ("boilerplate", bp)):
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), paths[k])
    return {"docs": len(corpus), **paths}
