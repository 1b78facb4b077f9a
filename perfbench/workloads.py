"""The three closed-loop workloads, driven through the public functions of
``fresco_hpc_spark``.

Each workload has ``setup`` (repeated by the runner to time set-up),
``warmup`` (untimed, lets the JVM compile the hot paths), ``run`` (the
timed loop) and ``check`` (DuckDB, after the run). Every call into a
layer sits in a span named ``<layer>.<call>``; the spans time the
end-to-end metrics and, in a traced run, carry the Spark counters.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

from fresco_hpc_spark.etl.pipeline import run_batch_pipeline
from fresco_hpc_spark.functions.dedup import dup_clusters, exact_dedup, minhash_dup_pairs
from fresco_hpc_spark.functions.text import (
    boilerplate_remove,
    quality_rules,
    remove_duplicate_ngram_spans,
)
from fresco_hpc_spark.operators.histogram import histogram_bin_index
from fresco_hpc_spark.operators.percentiles import percentile_trim
from fresco_hpc_spark.operators.timeseries import hourly_agg
from fresco_hpc_spark.operators.topn import topn_others
from fresco_hpc_spark.plans import planner
from fresco_hpc_spark.plans.cache import QueryCache
from fresco_hpc_spark.plans.store import compact_store, merge_into_store, write_partitioned_store
from fresco_hpc_spark.sources.readers import read_parquet

import gen
import oracle


@dataclass
class Result:
    """What a timed run hands to the report: samples per timing, counts,
    and the raw outputs the correctness check needs."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    items: float = 0.0  # requests / raw rows / documents completed
    elapsed_s: float = 0.0
    outputs: list = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def add(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)


def store_files(path: str) -> tuple[int, int, int]:
    """(parquet files, hour partitions, bytes) of a store on local disk."""
    files = hours = size = 0
    for d, _dirs, names in os.walk(path):
        pq_names = [n for n in names if n.endswith(".parquet")]
        if pq_names and "hour=" in d and "._" not in d:
            hours += 1
            files += len(pq_names)
            size += sum(os.path.getsize(os.path.join(d, n)) for n in pq_names)
    return files, hours, size


def keep_going(t0: float, seconds: float, last_s: float) -> bool:
    """Closed-loop stop rule: start another operation while the run is
    short of ``seconds`` and the operation is expected to end before
    1.5 x ``seconds`` (so one slow operation cannot double a run)."""
    elapsed = time.time() - t0
    return elapsed < seconds and elapsed + last_s <= 1.5 * seconds


def window_sql(window: tuple[str, str], cols: str = "*") -> str:
    return f"SELECT {cols} FROM s3_fresco WHERE time BETWEEN '{window[0]}' AND '{window[1]}'"


# --- dashboard ------------------------------------------------------------------

def _trimmed_hourly(df, col):
    return hourly_agg(percentile_trim(df, col), col)


CHARTS = {
    "hourly_agg": lambda df, col: hourly_agg(df, col),
    "histogram_bin_index": lambda df, col: histogram_bin_index(df, col, bins=50),
    "percentile_trim": _trimmed_hourly,
    "topn_others": lambda df, col: topn_others(df, col, n=10),
}


class Dashboard:
    """C analyst clients over one store, in rounds of fixed work. In a
    round client ``c`` opens window ``c`` (one ``plan_query``, then its four
    chart requests, all missing the shared ``QueryCache``) and opens it
    again (a new plan, the same charts from the cache). The cache is
    cleared between rounds, so every round, and every run however fast the
    program, holds the same requests with the same hits and misses."""

    name = "dashboard"
    clients = len(gen.DASH_WINDOW_HOURS)  # client c opens window c
    visits = 2  # opens of its window per client per round

    def __init__(self, seed: int, work: str, tracer, size: gen.DashboardSize) -> None:
        self.seed, self.work, self.tracer, self.size = seed, work, tracer, size
        if tracer.enabled:
            tracer.count_returned(planner, "list_partition_files", "files_listed")

    def setup(self, spark, rep: int) -> None:
        d = os.path.join(self.work, f"setup{rep}")
        self.inputs = gen.dashboard_inputs(self.seed, os.path.join(d, "in"), self.size)
        self.store = os.path.join(d, "store")
        with self.tracer.span("sources.read_parquet", "sources"):
            rows = read_parquet(spark, self.inputs["files"])
        with self.tracer.span("store.write_partitioned_store", "store"):
            write_partitioned_store(rows, self.store)

    def _chart(self, spark, cache, window, op, col, rid, res, outputs):
        sql = window_sql(window, "time, " + col)
        key = QueryCache.key(op, col=col, window=window)
        computed = []

        def compute():
            computed.append(True)
            with self.tracer.span("planner.execute", "planner"):
                df = planner.execute(spark, sql, self.store)
            with self.tracer.span(f"operators.{op}.build", "operators", op=op):
                return CHARTS[op](df, col)

        with self.tracer.span("request.chart", "client", request=rid) as req:
            with self.tracer.span("cache.get_or_compute", "cache"):
                out = cache.get_or_compute(key, compute)
            with self.tracer.span(f"operators.{op}.action", "operators", op=op):
                rows = out.collect()
        req["hit"] = not computed
        req["rows"] = len(rows)
        res.add("chart_ms", req.ms)
        res.add("chart_hit_ms" if req["hit"] else "chart_miss_ms", req.ms)
        outputs.append((op, col, window, [tuple(r) for r in rows]))
        return req["hit"]

    def _client(self, spark, cache, rnd, res, outputs, errors, cid):
        """One round of client ``cid``: ``visits`` opens of window ``cid``."""
        window = tuple(self.inputs["windows"][cid])
        charts = self.inputs["charts"][cid]
        for visit in range(self.visits):
            rid = f"r{rnd}c{cid}v{visit}"
            try:
                with self.tracer.span("request.view", "client") as view:
                    with self.tracer.span("planner.plan_query", "planner", request=rid) as sp:
                        plan = planner.plan_query(spark, window_sql(window), self.store)
                    sp["chunks"] = len(plan.chunks)
                    res.add("plan_ms", sp.ms)
                    hits = [self._chart(spark, cache, window, op, col, f"{rid}.{j}", res, outputs)
                            for j, (op, col) in enumerate(charts)]
                if not any(hits):
                    res.add("view_ms", view.ms)  # a new window: plan + uncached charts
            except Exception as e:  # noqa: BLE001 - counted as a failed request
                errors.append(repr(e))

    def warmup(self, spark) -> None:
        """Every chart once on a throwaway cache."""
        res, cache = Result(), QueryCache()
        window = self.inputs["windows"][-1]
        for op in CHARTS:
            col = "username" if op == "topn_others" else "value_cpuuser"
            self._chart(spark, cache, window, op, col, "warmup", res, [])
        cache.clear()

    def run(self, spark, seconds: float) -> Result:
        res, outputs, errors = Result(), [], []
        cache = QueryCache()
        # own temp-view namespace per analyst
        sessions = [spark.newSession() for _ in range(self.clients)]
        t0 = time.time()
        rnd, last = 0, 0.0
        while keep_going(t0, seconds, last):
            started = time.time()
            threads = [
                threading.Thread(target=self._client,
                                 args=(sessions[c], cache, rnd, res, outputs, errors, c))
                for c in range(self.clients)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            cache.clear()
            last = time.time() - started
            rnd += 1
        res.elapsed_s = time.time() - t0
        n = len(res.samples.get("plan_ms", [])) + len(res.samples.get("chart_ms", []))
        res.attempted = n + len(errors)
        res.failed = len(errors)
        res.items = n
        res.outputs = outputs
        res.info["errors"] = errors[:5]
        res.info["rounds"] = rnd
        res.info["cache_hits"] = len(res.samples.get("chart_hit_ms", []))
        res.info["store_files"] = store_files(self.store)
        return res

    def check(self, res: Result) -> int:
        return oracle.check_dashboard(self.inputs["files"], res.outputs)


# --- ingest -----------------------------------------------------------------------


class Ingest:
    """One writer: per batch, the four ETL pipelines, one CDC merge, a
    compaction and one uncached read of the merged hours."""

    name = "ingest"

    def __init__(self, seed: int, work: str, tracer, size: gen.IngestSize) -> None:
        self.seed, self.work, self.tracer, self.size = seed, work, tracer, size
        self.batch = 0

    def setup(self, spark, rep: int) -> None:
        d = os.path.join(self.work, f"setup{rep}")
        self.dir = d
        self.m = gen.ingest_inputs(self.seed, os.path.join(d, "in"), self.size)
        self.store = os.path.join(d, "store")
        with self.tracer.span("sources.read_parquet", "sources"):
            rows = read_parquet(spark, self.m["base_files"])
        with self.tracer.span("store.write_partitioned_store", "store"):
            write_partitioned_store(rows, self.store)
        self.batch = 0

    def _batch(self, spark, res: Result) -> None:
        b = self.batch
        self.batch += 1
        rid = f"b{b}"
        with self.tracer.span("request.batch", "client", request=rid) as bs:
            for kind in gen.RAW_KINDS:
                src = os.path.join(self.m["raw_dirs"][b][kind], "*.csv")
                with self.tracer.span(f"etl.run_batch_pipeline.{kind}", "etl", kind=kind) as es:
                    run_batch_pipeline(spark, src, kind, os.path.join(self.dir, "etl", rid, kind))
                res.add(f"etl_{kind}_ms", es.ms)
            with self.tracer.span("sources.read_parquet", "sources"):
                changes = read_parquet(spark, self.m["cdc_files"][b])
            with self.tracer.span("store.merge_into_store", "store",
                                  changed_bytes=os.path.getsize(self.m["cdc_files"][b])) as ms:
                swapped = merge_into_store(spark, self.store, changes, ["jid"])
            ms["partitions"] = len(swapped)
            res.add("merge_ms", ms.ms)
            with self.tracer.span("store.compact_store", "store") as cs:
                rewritten = compact_store(spark, self.store)
            cs["partitions"] = len(rewritten)
            with self.tracer.span("request.fresh_read", "client") as rs:
                with self.tracer.span("planner.execute", "planner"):
                    df = planner.execute(spark, window_sql(self.m["cdc_window"]), self.store)
                with self.tracer.span("operators.hourly_agg.build", "operators", op="hourly_agg"):
                    out = hourly_agg(df, "value_cpuuser")
                with self.tracer.span("operators.hourly_agg.action", "operators", op="hourly_agg"):
                    rows = out.collect()
            rs["rows"] = len(rows)
            res.add("fresh_read_ms", rs.ms)
        res.add("batch_ms", bs.ms)
        res.outputs.append((b, [tuple(r) for r in rows]))

    def warmup(self, spark) -> None:
        self._batch(spark, Result())

    def run(self, spark, seconds: float) -> Result:
        res = Result()
        t0 = time.time()
        last = 0.0
        while keep_going(t0, seconds, last) and self.batch < len(self.m["cdc_files"]):
            res.attempted += 1
            started = time.time()
            try:
                self._batch(spark, res)
                res.items += self.m["raw_rows_per_batch"]
            except Exception as e:  # noqa: BLE001 - counted as a failed batch
                res.failed += 1
                res.info.setdefault("errors", []).append(repr(e))
            last = time.time() - started
        res.elapsed_s = time.time() - t0
        res.info["store_files"] = store_files(self.store)
        return res

    def check(self, res: Result) -> int:
        return oracle.check_ingest(self.m, self.store, os.path.join(self.dir, "etl"),
                                   self.batch, res.outputs)


# --- curation ---------------------------------------------------------------------


class Curation:
    """One pass at a time: boilerplate → n-gram span removal → exact dedup
    → quality rules → MinHash pairs → duplicate clusters."""

    name = "curation"

    def __init__(self, seed: int, work: str, tracer, size: gen.CurationSize) -> None:
        self.seed, self.work, self.tracer, self.size = seed, work, tracer, size

    def setup(self, spark, rep: int) -> None:
        self.inputs = gen.curation_inputs(
            self.seed, os.path.join(self.work, f"setup{rep}"), self.size)
        with self.tracer.span("sources.read_parquet", "sources"):
            read_parquet(spark, self.inputs["corpus"]).schema  # noqa: B018 - footer read

    def _fn(self, name, thunk):
        with self.tracer.span(f"functions.{name}", "functions") as s:
            out = thunk()
        self.pass_ms[name] = s.ms
        return out

    def _pass(self, spark, res: Result, p: int) -> None:
        from pyspark.sql import functions as F

        self.pass_ms = {}
        with self.tracer.span("request.pass", "client", request=f"p{p}") as ps:
            with self.tracer.span("sources.read_parquet", "sources"):
                corpus = read_parquet(spark, self.inputs["corpus"])
            bp = self._fn("boilerplate_remove", lambda: boilerplate_remove(
                corpus, group_col="source").localCheckpoint())
            with self.tracer.span("glue.attach_lang", "client"):
                docs = bp.select("doc_id", "source", F.col("clean_text").alias("text")).join(
                    corpus.select("doc_id", "lang"), "doc_id").localCheckpoint()
            spans = self._fn("remove_duplicate_ngram_spans", lambda: remove_duplicate_ngram_spans(
                docs, n=10).select("doc_id", "n_tokens", "n_removed").collect())
            groups = self._fn("exact_dedup", lambda: exact_dedup(docs).collect())
            quality = self._fn("quality_rules", lambda: quality_rules(docs).select(
                "doc_id", "kept").collect())
            pairs = self._fn("minhash_dup_pairs", lambda: minhash_dup_pairs(docs).localCheckpoint())
            clusters = self._fn("dup_clusters", lambda: dup_clusters(pairs).collect())
            n_pairs = pairs.count()
            canonical = {r["canonical_id"] for r in groups}
            cluster_of = {r["doc"]: r["cluster_id"] for r in clusters}
            survivors = sorted(
                r["doc_id"] for r in quality
                if r["kept"] and r["doc_id"] in canonical
                and cluster_of.get(r["doc_id"], r["doc_id"]) == r["doc_id"])
            with self.tracer.span("request.curated_collect", "client"):
                curated = docs.filter(F.col("doc_id").isin(survivors)).select(
                    "doc_id", "text").collect()
        res.add("pass_ms", ps.ms)
        for k, v in self.pass_ms.items():
            res.add(f"{k}_ms", v)
        res.info.setdefault("pairs", []).append(n_pairs)
        res.outputs.append({
            "spans": [tuple(r) for r in spans],
            "groups": [(r["canonical_id"], r["n_copies"]) for r in groups],
            "quality": [(r["doc_id"], bool(r["kept"])) for r in quality],
            "clusters": list(cluster_of.items()),
            "curated": [(r["doc_id"], r["text"]) for r in curated],
        })

    def warmup(self, spark) -> None:
        self._pass(spark, Result(), -1)

    def run(self, spark, seconds: float) -> Result:
        res = Result()
        t0 = time.time()
        p, last = 0, 0.0
        while keep_going(t0, seconds, last):
            res.attempted += 1
            started = time.time()
            try:
                self._pass(spark, res, p)
                res.items += self.inputs["docs"]
            except Exception as e:  # noqa: BLE001 - counted as a failed pass
                res.failed += 1
                res.info.setdefault("errors", []).append(repr(e))
            last = time.time() - started
            p += 1
        res.elapsed_s = time.time() - t0
        return res

    def check(self, res: Result) -> int:
        return oracle.check_curation(self.inputs, res.outputs)


WORKLOADS = {w.name: w for w in (Dashboard, Ingest, Curation)}
