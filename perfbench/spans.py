"""Spans around every call the benchmark makes into a layer, and the
Spark job, stage and SQL-node counters assigned to them.

A span records name, layer, start, end, parent span and request id. In a
traced run each span also sets a Spark job group, so every job Spark runs
while the span is innermost on its thread carries the span's id; after
the run (and before each session restart) the UI's REST API is read and
each job, with its stages and SQL executions, is assigned to its span.
With tracing off a span only takes the two clock readings the workloads
use for their end-to-end timings.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

LAYERS = ("session", "sources", "etl", "planner", "cache", "store", "operators", "functions")
SPARK_COUNTERS = ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
                  "shuffle_bytes", "spill_bytes", "queue_wait_ms")
GROUP_PREFIX = "pb-"

#: confs a traced session needs so the REST API keeps every job of a run
TRACE_CONFS = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}


class Span(dict):
    @property
    def ms(self) -> float:
        return (self["end"] - self["start"]) * 1000.0


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.jobs: dict[tuple[str, int], dict] = {}
        self.stages: list[dict] = []
        self.sql: list[dict] = []
        self._sc = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()

    def bind(self, spark) -> None:
        """Set job groups on ``spark``'s context (None: a stopped one)."""
        self._sc = spark.sparkContext if spark is not None and self.enabled else None

    def _stack(self) -> list[Span]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, layer: str, request: str | None = None, **attrs):
        """Time a call. ``start``/``end`` are epoch seconds so they line up
        with Spark's job timestamps."""
        rec = Span(name=name, layer=layer, **attrs)
        if not self.enabled:
            rec["start"] = time.time()
            try:
                yield rec
            finally:
                rec["end"] = time.time()
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec["id"] = next(self._ids)
        rec["parent"] = parent["id"] if parent else None
        rec["request"] = request or (parent["request"] if parent else None)
        rec["thread"] = threading.get_ident()
        stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._set_group(parent)
            with self._lock:
                self.spans.append(rec)

    def count_returned(self, module, attr: str, key: str) -> None:
        """Wrap ``module.attr`` (a name the module looks up at call time) so
        that each call adds the length of what it returns to ``key`` of
        the innermost span on the calling thread."""
        fn = getattr(module, attr)

        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            stack = self._stack()
            if stack:
                stack[-1][key] = stack[-1].get(key, 0) + len(out)
            return out

        setattr(module, attr, counted)

    def _set_group(self, rec: Span | None) -> None:
        if self._sc is None:
            return
        if rec is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{rec['id']}", rec["name"])

    # --- REST harvest -------------------------------------------------------

    def harvest(self, spark) -> None:
        """Read jobs, stages and SQL executions of the current context from
        its REST API. Call before the context stops."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        jobs = _settled_jobs(base)
        app = sc.applicationId
        for j in jobs:
            self.jobs[(app, j["jobId"])] = j
        for s in _get(f"{base}/stages?details=false"):
            s["app"] = app
            self.stages.append(s)
        for e in _get(f"{base}/sql?details=true&planDescription=false&offset=0&length=1000000"):
            e["app"] = app
            self.sql.append(e)

    def dump(self, path: str, counters: dict[int, dict]) -> None:
        """Write every span with its Spark counters, self and driver time."""
        with open(path, "w") as fh:
            json.dump({"spans": [dict(s, **counters.get(s["id"], {})) for s in self.spans]}, fh)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _settled_jobs(base: str) -> list[dict]:
    """The listener bus updates the UI store asynchronously: wait until no
    job is running and the job count stops changing."""
    last = None
    for _ in range(50):
        jobs = _get(f"{base}/jobs")
        key = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
        if key == last and key[1] == 0:
            return jobs
        last = key
        time.sleep(0.2)
    return jobs


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc).timestamp()


def _num(v: str) -> float:
    try:
        return float(str(v).split(" ")[0].replace(",", ""))
    except ValueError:
        return 0.0


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(tracer: Tracer) -> dict[int, dict]:
    """Per-span Spark counters, self time and driver time.

    Every job belongs to the span whose id its job group carries; every
    executed stage belongs to the first job that lists it; every SQL
    execution (and its scan and join node metrics) to the span of its
    first job. ``self_ms`` is the span's time not covered by child spans;
    ``driver_ms`` is its self time not covered by its own jobs either.
    """
    by_id = {s["id"]: s for s in tracer.spans}
    out = {sid: {c: 0.0 for c in SPARK_COUNTERS} | {
        "scan_files": 0.0, "scan_partitions": 0.0, "scan_rows": 0.0,
        "join_rows": 0.0, "input_records": 0.0, "output_bytes": 0.0,
        "job_intervals": []} for sid in by_id}
    job_span: dict[tuple[str, int], int] = {}
    for key, j in tracer.jobs.items():
        g = j.get("jobGroup") or ""
        if not g.startswith(GROUP_PREFIX):
            continue
        sid = int(g[len(GROUP_PREFIX):])
        if sid not in out:
            continue
        job_span[key] = sid
        o = out[sid]
        o["jobs"] += 1
        sub, end = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
        if sub and end:
            o["job_intervals"].append((sub, end))
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    for key in sorted(job_span):
        for st in tracer.jobs[key].get("stageIds", []):
            stage_job.setdefault((key[0], st), key)
    first_launch: dict[tuple[str, int], float] = {}
    for s in tracer.stages:
        if s.get("status") == "SKIPPED":
            continue
        jk = stage_job.get((s["app"], s["stageId"]))
        if jk is None:
            continue
        o = out[job_span[jk]]
        o["tasks"] += s.get("numCompleteTasks", 0) + s.get("numFailedTasks", 0)
        o["executor_run_ms"] += s.get("executorRunTime", 0)
        o["executor_cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
        o["gc_ms"] += s.get("jvmGcTime", 0)
        o["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
        o["spill_bytes"] += s.get("diskBytesSpilled", 0)
        o["input_records"] += s.get("inputRecords", 0)
        o["output_bytes"] += s.get("outputBytes", 0)
        t = _ts(s.get("firstTaskLaunchedTime"))
        if t:
            first_launch[jk] = min(first_launch.get(jk, t), t)
    for jk, t in first_launch.items():
        sub = _ts(tracer.jobs[jk].get("submissionTime"))
        if sub:
            out[job_span[jk]]["queue_wait_ms"] += max(0.0, (t - sub) * 1000.0)
    for e in tracer.sql:
        ids = sorted(e.get("successJobIds", []) + e.get("failedJobIds", []))
        sid = next((job_span[(e["app"], j)] for j in ids if (e["app"], j) in job_span), None)
        if sid is None:
            continue
        o = out[sid]
        for node in e.get("nodes", []):
            name = node.get("nodeName", "")
            m = {x["name"]: x["value"] for x in node.get("metrics", [])}
            if name.startswith("Scan"):
                o["scan_files"] += _num(m.get("number of files read", 0))
                o["scan_partitions"] += _num(m.get("number of partitions read", 0))
                o["scan_rows"] += _num(m.get("number of output rows", 0))
            elif name.endswith("Join") and "number of output rows" in m:
                o["join_rows"] += _num(m["number of output rows"])
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for sid, s in by_id.items():
        o = out[sid]
        kids = [(c["start"], c["end"]) for c in children.get(sid, [])]
        dur = s["end"] - s["start"]
        covered = _union(kids, s["start"], s["end"])
        o["self_ms"] = (dur - covered) * 1000.0
        o["driver_ms"] = (dur - _union(kids + o["job_intervals"], s["start"], s["end"])) * 1000.0
        del o["job_intervals"]
    return out
