"""Per-layer metrics of a traced run, computed from the spans and the Spark
counters ``spans.attribute`` assigned to them.

``catalog()`` is the single list of per-layer metrics: BENCHMARK.json's
``per_layer`` block is generated from it and a traced run prints every
entry for every workload. A layer a workload never calls reports 0.
Counters named ``<layer>.spark.*`` and ``<layer>.driver_ms`` cover the
timed loop only and are divided by the workload's operations (chart
requests, ingest batches or curation passes).
"""

from __future__ import annotations

import statistics

from gen import CHART_OPS
from gen import RAW_KINDS as ETL_KINDS
from spans import LAYERS, SPARK_COUNTERS

FUNCTIONS = ("boilerplate_remove", "remove_duplicate_ngram_spans", "exact_dedup",
             "quality_rules", "minhash_dup_pairs", "dup_clusters")
UNIT_OP = {"dashboard": "request.chart", "ingest": "request.batch", "curation": "request.pass"}
REQUESTS = ("request.chart", "request.fresh_read")

_COUNTER_UNITS = {"jobs": "count/op", "tasks": "count/op", "shuffle_bytes": "bytes/op",
                  "spill_bytes": "bytes/op"}


def catalog() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    m = [
        ("session.get_spark_ms", "ms", "lower"),
        ("session.cold_get_spark_ms", "ms", "lower"),
        ("sources.generate_ms", "ms", "lower"),
        ("store.write_ms", "ms", "lower"),
        ("planner.plan_query_ms", "ms", "lower"),
        ("planner.plan_files_listed", "count", "lower"),
        ("planner.plan_chunks_kept_ratio", "ratio", "higher"),
        ("planner.execute_build_ms", "ms", "lower"),
        ("planner.files_read_per_request", "count", "lower"),
        ("planner.partitions_read_per_request", "count", "lower"),
        ("planner.rows_scanned_per_row_returned", "ratio", "lower"),
        ("cache.hit_ratio", "ratio", "higher"),
        ("cache.hit_ms", "ms", "lower"),
        ("cache.miss_ms", "ms", "lower"),
    ]
    for op in CHART_OPS:
        m += [(f"operators.{op}.build_ms", "ms", "lower"),
              (f"operators.{op}.action_ms", "ms", "lower")]
    m += [("operators.jobs_per_request", "count", "lower"),
          ("operators.tasks_per_request", "count", "lower")]
    m += [(f"etl.{k}.pipeline_ms", "ms", "lower") for k in ETL_KINDS]
    m += [("etl.jobs_per_call", "count", "lower"),
          ("etl.input_records_per_raw_row", "ratio", "lower"),
          ("etl.shuffle_bytes_per_raw_row", "bytes", "lower"),
          ("store.merge_ms", "ms", "lower"),
          ("store.merge_driver_ms", "ms", "lower"),
          ("store.compact_ms", "ms", "lower"),
          ("store.compact_driver_ms", "ms", "lower"),
          ("store.bytes_written_per_changed_byte", "ratio", "lower"),
          ("store.partitions_rewritten", "count/op", "lower"),
          ("store.files_per_hour", "count", "lower")]
    m += [(f"functions.{f}_ms", "ms", "lower") for f in FUNCTIONS]
    m += [("functions.shuffle_bytes_per_doc", "bytes", "lower"),
          ("functions.spill_bytes", "bytes/op", "lower"),
          ("functions.minhash_join_rows_per_pair", "ratio", "lower"),
          ("trace.overhead_ms", "ms", "lower")]
    for layer in LAYERS:
        m += [(f"{layer}.spark.{c}", _COUNTER_UNITS.get(c, "ms/op"), "lower")
              for c in SPARK_COUNTERS]
        m.append((f"{layer}.driver_ms", "ms/op", "lower"))
    return m


def _med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def per_layer(workload: str, tracer, counters: dict, n_setup: int, res, untraced) -> dict:
    setup, run = tracer.spans[:n_setup], tracer.spans[n_setup:]

    def named(spans, name):
        return [s for s in spans if s["name"] == name]

    def total(spans, key):
        return sum(counters[s["id"]][key] for s in spans)

    by_id = {s["id"]: s for s in tracer.spans}

    def request_of(s):
        while s is not None and s["name"] not in REQUESTS:
            s = by_id.get(s["parent"])
        return s

    units = named(run, UNIT_OP[workload])
    n_ops = max(1, len(units))
    v: dict[str, float] = {}
    starts = named(setup, "session.get_spark")
    v["session.get_spark_ms"] = _med(s.ms for s in starts)
    v["session.cold_get_spark_ms"] = starts[0].ms if starts else 0.0
    n_setups = max(1, len(named(setup, "session.get_spark")))
    v["sources.generate_ms"] = sum(s.ms for s in setup if s["layer"] == "sources") / n_setups
    v["store.write_ms"] = _med(s.ms for s in named(setup, "store.write_partitioned_store"))

    files, hours, _size = res.info.get("store_files", (0, 0, 0))
    plans = named(run, "planner.plan_query")
    v["planner.plan_query_ms"] = _med(s.ms for s in plans)
    listed = sum(s.get("files_listed", 0) for s in plans)
    v["planner.plan_files_listed"] = _ratio(listed, len(plans))
    v["planner.plan_chunks_kept_ratio"] = _ratio(sum(s["chunks"] for s in plans), listed)
    v["planner.execute_build_ms"] = _med(s.ms for s in named(run, "planner.execute"))
    reqs = [s for s in run if s["name"] in REQUESTS]
    scan = {"scan_files": 0.0, "scan_partitions": 0.0, "scan_rows": 0.0}
    for s in run:
        if request_of(s) is not None:
            for k in scan:
                scan[k] += counters[s["id"]][k]
    v["planner.files_read_per_request"] = _ratio(scan["scan_files"], len(reqs))
    v["planner.partitions_read_per_request"] = _ratio(scan["scan_partitions"], len(reqs))
    v["planner.rows_scanned_per_row_returned"] = _ratio(
        scan["scan_rows"], sum(s.get("rows", 0) for s in reqs))

    charts = named(run, "request.chart")
    hits = [s for s in charts if s["hit"]]
    v["cache.hit_ratio"] = _ratio(len(hits), len(charts))
    v["cache.hit_ms"] = _med(s.ms for s in hits)
    v["cache.miss_ms"] = _med(s.ms for s in charts if not s["hit"])
    for op in CHART_OPS:
        v[f"operators.{op}.build_ms"] = _med(s.ms for s in named(run, f"operators.{op}.build"))
        v[f"operators.{op}.action_ms"] = _med(s.ms for s in named(run, f"operators.{op}.action"))
    ops = [s for s in run if s["layer"] == "operators"]
    v["operators.jobs_per_request"] = _ratio(total(ops, "jobs"), len(reqs))
    v["operators.tasks_per_request"] = _ratio(total(ops, "tasks"), len(reqs))

    raw_rows = res.items if workload == "ingest" else 0
    etl = [s for s in run if s["layer"] == "etl"]
    for k in ETL_KINDS:
        v[f"etl.{k}.pipeline_ms"] = _med(s.ms for s in named(run, f"etl.run_batch_pipeline.{k}"))
    v["etl.jobs_per_call"] = _ratio(total(etl, "jobs"), len(etl))
    v["etl.input_records_per_raw_row"] = _ratio(total(etl, "input_records"), raw_rows)
    v["etl.shuffle_bytes_per_raw_row"] = _ratio(total(etl, "shuffle_bytes"), raw_rows)

    merges, compacts = named(run, "store.merge_into_store"), named(run, "store.compact_store")
    v["store.merge_ms"] = _med(s.ms for s in merges)
    v["store.merge_driver_ms"] = _med(counters[s["id"]]["driver_ms"] for s in merges)
    v["store.compact_ms"] = _med(s.ms for s in compacts)
    v["store.compact_driver_ms"] = _med(counters[s["id"]]["driver_ms"] for s in compacts)
    v["store.bytes_written_per_changed_byte"] = _ratio(
        total(merges, "output_bytes"), sum(s["changed_bytes"] for s in merges))
    v["store.partitions_rewritten"] = _ratio(
        sum(s["partitions"] for s in merges + compacts), len(units)) if merges else 0.0
    v["store.files_per_hour"] = _ratio(files, hours)

    docs = res.items if workload == "curation" else 0
    fns = [s for s in run if s["layer"] == "functions"]
    for f in FUNCTIONS:
        v[f"functions.{f}_ms"] = _med(s.ms for s in named(run, f"functions.{f}"))
    v["functions.shuffle_bytes_per_doc"] = _ratio(total(fns, "shuffle_bytes"), docs)
    v["functions.spill_bytes"] = _ratio(total(fns, "spill_bytes"), len(units)) if fns else 0.0
    v["functions.minhash_join_rows_per_pair"] = _ratio(
        total(named(run, "functions.minhash_dup_pairs"), "join_rows"),
        sum(res.info.get("pairs", [])))

    unit_samples = {"dashboard": "view_ms", "ingest": "batch_ms", "curation": "pass_ms"}[workload]
    v["trace.overhead_ms"] = (_med(res.samples.get(unit_samples, []))
                              - _med(untraced.samples.get(unit_samples, [])))
    for layer in LAYERS:
        spans = [s for s in run if s["layer"] == layer]
        for c in SPARK_COUNTERS + ("driver_ms",):
            key = f"{layer}.spark.{c}" if c != "driver_ms" else f"{layer}.driver_ms"
            v[key] = total(spans, c) / n_ops
    return {name: (v[name], unit) for name, unit, _ in catalog()}


def top_spans(tracer, counters: dict, n_setup: int, limit: int = 10) -> list[str]:
    """Report lines: span names of the timed loop ranked by total driver
    self time (self time not covered by the span's own Spark jobs)."""
    agg: dict[str, list[float]] = {}
    for s in tracer.spans[n_setup:]:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0, 0.0])
        c = counters[s["id"]]
        a[0] += 1
        a[1] += c["driver_ms"]
        a[2] += c["self_ms"]
        a[3] += c["jobs"]
    lines = ["# top spans by driver self time (timed loop):",
             f"#   {'span':<40} {'calls':>6} {'driver_ms':>10} {'self_ms':>10} {'jobs':>6}"]
    for name, (n, drv, self_ms, jobs) in sorted(agg.items(), key=lambda kv: -kv[1][1])[:limit]:
        lines.append(f"#   {name:<40} {n:>6} {drv:>10.1f} {self_ms:>10.1f} {int(jobs):>6}")
    return lines
