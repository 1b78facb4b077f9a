"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer ones. The lines before it are a readable
report (``# name value unit (n=samples)``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # a fixed set of JIT compiler threads, alive for the whole run, so
    # their CPU can be read per thread (see runtime_s)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UseDynamicNumberOfCompilerThreads")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ["PYSPARK_PYTHON"] = sys.executable


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stat_ticks(path: str, fields: slice) -> int:
    try:
        with open(path) as fh:
            return sum(int(x) for x in fh.read().rsplit(")", 1)[1].split()[fields])
    except OSError:
        return 0


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` (and their reaped children)."""
    return sum(_stat_ticks(f"/proc/{pid}/stat", slice(11, 15)) for pid in pids) / os.sysconf(
        "SC_CLK_TCK")


def thread_cpu_s(pid: int) -> collections.Counter:
    """User + system CPU seconds of ``pid``'s live threads, by thread name
    with its trailing number dropped (``C2 CompilerThre``, ``GC Thread``)."""
    out: collections.Counter = collections.Counter()
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/comm") as fh:
                name = re.sub(r"[#-]?\d+$", "", fh.read().strip())
        except OSError:
            continue
        out[name] += _stat_ticks(f"/proc/{pid}/task/{task}/stat", slice(11, 13)) / os.sysconf(
            "SC_CLK_TCK")
    return out


#: the JVM's own threads: JIT compilers, garbage collectors and services
JVM_RUNTIME_THREADS = re.compile(
    r"C[12] CompilerThre|GC Thread|G1 |VM Thread|VM Periodic|Service Thread|Sweeper thread"
    r"|Monitor Deflati|Common-Cleaner|Finalizer|Reference Handl|Signal Dispatch|Notification")


def runtime_s(threads: collections.Counter) -> float:
    """CPU seconds of the JVM's own threads in ``thread_cpu_s`` output."""
    return sum(v for k, v in threads.items() if JVM_RUNTIME_THREADS.match(k))


def steal_s() -> float:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and the Python workers
    it forked) to exit."""
    from pyspark import SparkContext

    proc = jvm_proc()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - still alive: make sure it ends
            proc.kill()
            proc.wait()


def pct(values: list[float], q: float) -> float | None:
    """Nearest-rank percentile, or None when fewer than ten samples lie
    beyond it (the median needs no such margin)."""
    if not values:
        return None
    if q == 0.5:
        return statistics.median(values)
    if len(values) * (1 - q) < 10:
        return None
    s = sorted(values)
    return s[max(0, int(-(-q * len(s) // 1)) - 1)]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Report:
    def __init__(self) -> None:
        self.lines: list[str] = []

    def add(self, name: str, value, unit: str, n: int | None = None) -> None:
        shown = "n/a (fewer than 10 samples beyond it)" if value is None else f"{value:.6g} {unit}"
        self.lines.append(f"# {name:<34} {shown}" + (f"  (n={n})" if n is not None else ""))


def workload_report(name: str, res, setups: list[float], rss_mb: float,
                    loop_cpu_s: float, loop_runtime_s: float) -> tuple[dict, Report]:
    """The end-to-end metrics of BENCHMARK.json plus the workload's own
    named metrics for the readable report."""
    s = res.samples
    rep = Report()
    rate = res.items / res.elapsed_s if res.elapsed_s > 0 else 0.0
    err = res.failed / res.attempted if res.attempted else 1.0
    # operations the CPU is shared over: every request on dashboard (a
    # fixed mix of plans, misses and hits), every batch or pass otherwise
    n_ops = res.items if name == "dashboard" else len(s.get(
        "batch_ms" if name == "ingest" else "pass_ms", []))
    cpu_ms = loop_cpu_s * 1000 / max(1, n_ops)
    rep.add("setup_s", median(setups), "s", len(setups))
    rep.add("cold_setup_s", setups[0], "s", 1)
    rep.add("cpu_ms_per_op", cpu_ms, "ms", int(n_ops))
    rep.add("jvm_runtime_cpu_ms_per_op", loop_runtime_s * 1000 / max(1, n_ops), "ms", int(n_ops))
    rep.add("error_rate", err, "ratio", res.attempted)
    rep.add("peak_rss_mb", rss_mb, "MB")
    if name == "dashboard":
        op = s.get("view_ms", [])
        charts, misses = s.get("chart_ms", []), s.get("chart_miss_ms", [])
        rep.add("view_p50_ms", pct(op, 0.5), "ms", len(op))
        rep.add("chart_p50_ms", pct(charts, 0.5), "ms", len(charts))
        rep.add("chart_p95_ms", pct(charts, 0.95), "ms", len(charts))
        rep.add("chart_miss_p50_ms", pct(misses, 0.5), "ms", len(misses))
        rep.add("plan_p50_ms", pct(s.get("plan_ms", []), 0.5), "ms", len(s.get("plan_ms", [])))
        rep.add("dash_requests_per_s", rate, "1/s", int(res.items))
        rep.add("cache_hit_ratio", res.info["cache_hits"] / max(1, len(charts)), "ratio",
                len(charts))
        rep.add("rounds", res.info["rounds"], "count")
    elif name == "ingest":
        op = s.get("batch_ms", [])
        rep.add("ingest_batch_p50_s", pct(op, 0.5) and pct(op, 0.5) / 1000, "s", len(op))
        rep.add("ingest_raw_rows_per_s", rate, "1/s", int(res.items))
        m = s.get("merge_ms", [])
        rep.add("merge_p50_s", pct(m, 0.5) and pct(m, 0.5) / 1000, "s", len(m))
        r = s.get("fresh_read_ms", [])
        rep.add("fresh_read_p50_ms", pct(r, 0.5), "ms", len(r))
        files, hours, size = res.info["store_files"]
        rep.add("store_bytes_per_row", size / max(1, res.info["live_rows"]), "B/row",
                res.info["live_rows"])
        for k in sorted(s):
            if k.startswith("etl_"):
                rep.add(f"{k[:-3]}_p50_ms", pct(s[k], 0.5), "ms", len(s[k]))
    else:
        op = s.get("pass_ms", [])
        rep.add("curation_pass_p50_s", pct(op, 0.5) and pct(op, 0.5) / 1000, "s", len(op))
        rep.add("curation_docs_per_s", rate, "1/s", int(res.items))
        for k in sorted(s):
            if k != "pass_ms":
                rep.add(f"{k[:-3]}_p50_ms", pct(s[k], 0.5), "ms", len(s[k]))
    rep.add("op_p50_ms", median(op), "ms", len(op))
    rep.add("items_per_s", rate, "1/s", int(res.items))
    metrics = {"setup_s": (median(setups), "s"), "cpu_ms_per_op": (cpu_ms, "ms")}
    return metrics, rep


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="input sizes; tiny is for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "fresco_hpc_spark")):
        fail(f"no fresco_hpc_spark package next to {HERE}; run from a full checkout")
    sys.path.insert(0, ROOT)
    import fresco_hpc_spark

    if not os.path.abspath(fresco_hpc_spark.__file__).startswith(ROOT + os.sep):
        fail("fresco_hpc_spark resolved outside the checkout")

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)

    from fresco_hpc_spark.session import get_spark

    import gen
    import spans as tr
    from workloads import WORKLOADS

    tracer = tr.Tracer(enabled=bool(args.trace))
    sizes = gen.TINY if args.size == "tiny" else gen.FULL
    wl = WORKLOADS[args.workload](args.seed, work, tracer, sizes[args.workload])
    confs = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        confs.update(tr.TRACE_CONFS)

    setups: list[float] = []
    phases: dict[str, float] = {}
    spark = None
    try:
        for rep in range(SETUP_REPS):
            if spark is not None:
                tracer.harvest(spark)
                tracer.bind(None)
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            with tracer.span("session.get_spark", "session"):
                spark = get_spark(extra_confs=confs)
            spark.sparkContext.setLogLevel("ERROR")
            tracer.bind(spark)
            wl.setup(spark, rep)
            setups.append(time.perf_counter() - t0)
            if rep == 0:
                # warm up right after the first set-up: the JIT keeps
                # compiling in the background while the next set-ups run
                tracer.enabled = False
                t0 = time.perf_counter()
                wl.warmup(spark)
                phases["warmup"] = time.perf_counter() - t0
                tracer.enabled = bool(args.trace)
        n_setup_spans = len(tracer.spans)
        phases["setup"] = sum(setups)

        tracer.enabled = False
        t0 = time.perf_counter()
        untraced = None
        if args.trace:
            untraced = wl.run(spark, args.seconds)
            tracer.enabled = True
        pids = [os.getpid()] + ([jvm_proc().pid] if jvm_proc() else [])
        jvm_pid = pids[-1]
        cpu0, th0, steal0, wall0 = cpu_s(pids), thread_cpu_s(jvm_pid), steal_s(), time.perf_counter()
        res = wl.run(spark, args.seconds)
        jvm_threads = thread_cpu_s(jvm_pid)
        jvm_threads.subtract(th0)
        loop = {"cpu": cpu_s(pids) - cpu0, "jvm_runtime": runtime_s(jvm_threads),
                "steal": steal_s() - steal0, "wall": time.perf_counter() - wall0}
        tracer.harvest(spark)
        proc = jvm_proc()
        rss_mb = (vm_hwm_kb(os.getpid()) + (vm_hwm_kb(proc.pid) if proc else 0)) / 1024
        if args.workload == "ingest":
            import oracle

            res.info["live_rows"] = oracle.live_rows(wl.store)
        phases["run"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        wrong = wl.check(res)
        if untraced is not None:
            wrong_untraced = wl.check(untraced)
            res.attempted += untraced.attempted
            res.failed += untraced.failed + wrong_untraced
        res.failed = min(res.attempted, res.failed + wrong)
        phases["check"] = time.perf_counter() - t0
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    metrics, report = workload_report(args.workload, res, setups, rss_mb,
                                      loop["cpu"] - loop["jvm_runtime"], loop["jvm_runtime"])
    if args.trace:
        import layers

        counters = tr.attribute(tracer)
        out = layers.per_layer(args.workload, tracer, counters, n_setup_spans, res, untraced)
        trace_file = os.path.join(base, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(trace_file, counters)
        report.lines += layers.top_spans(tracer, counters, n_setup_spans)
        report.lines.append(f"# spans written to {os.path.relpath(trace_file, ROOT)}")
        metrics = out
    report.lines.append("# phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()))
    report.lines.append("# timed loop " + " ".join(f"{k}={v:.2f}s" for k, v in loop.items()))
    report.lines.append("# timed loop JVM threads " + ", ".join(
        f"{k}={v:.2f}s" for k, v in jvm_threads.most_common(8)))
    if "store_files" in res.info:
        files, hours, size = res.info["store_files"]
        report.lines.append(f"# store files={files} hours={hours} bytes={size}")
    errors = res.info.get("errors") or []
    for e in errors[:3]:
        report.lines.append(f"# error: {e[:300]}")
    print("\n".join(report.lines))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
