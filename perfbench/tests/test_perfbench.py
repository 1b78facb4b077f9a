"""The benchmark's own tests, at tiny size.

    python -m pytest perfbench/tests -q            # all (about 5 minutes)
    python -m pytest perfbench/tests -q -m "not spark"   # DuckDB-only checks

- every metric of BENCHMARK.json is printed with its unit on every workload;
- a corrupted result is caught by each workload's correctness check;
- the same seed gives identical inputs, another seed different ones;
- outside a full checkout the runner fails without printing a result.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parents[1]
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402

GENERATORS = {
    "dashboard": gen.dashboard_inputs,
    "ingest": gen.ingest_inputs,
    "curation": gen.curation_inputs,
}


def _digest(root: Path) -> str:
    """Hash of every data file (manifests hold absolute paths, so skip them)."""
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file() and p.suffix != ".json":
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_seed_determines_inputs(tmp_path, name):
    size = gen.TINY[name]
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        GENERATORS[name](seed, str(tmp_path / sub), size)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")


def _bump(rows: list[tuple], col: int = -1) -> list[tuple]:
    first = list(rows[0])
    first[col] = first[col] + 1
    return [tuple(first)] + list(rows[1:])


def test_dashboard_check_catches_corruption(tmp_path):
    inp = gen.dashboard_inputs(3, str(tmp_path), gen.TINY["dashboard"])
    files = inp["files"]
    con = oracle.connect()
    outputs = [
        (op, col, window, oracle.dashboard_expected(con, files, op, col, window))
        for window, charts in zip(inp["windows"], inp["charts"]) for op, col in charts
    ]
    assert oracle.check_dashboard(files, outputs) == 0
    op, col, window, rows = outputs[0]
    assert oracle.check_dashboard(files, outputs + [(op, col, window, _bump(rows))]) == 1


def _fake_ingest_outputs(m: dict, root: Path, n_batches: int) -> tuple[str, str, dict]:
    """What a correct program would leave behind, built in DuckDB: the ETL
    outputs, the fresh reads and the final hour-partitioned store."""
    con = oracle.connect()
    etl = root / "etl"
    names = ["Job Id", "Host", "Event", "Value", "Units", "Timestamp"]
    for b in range(n_batches):
        for kind, raw_dir in m["raw_dirs"][b].items():
            con.execute(f"CREATE OR REPLACE TEMP VIEW raw AS SELECT * FROM read_csv("
                        f"'{raw_dir}/*.csv', header = true, all_varchar = true)")
            df = con.execute(oracle.ETL_SQL[kind]).df()
            df.columns = names
            out = etl / f"b{b}" / kind
            out.mkdir(parents=True)
            df.to_parquet(out / "part-0.parquet", index=False)
    reads = {}
    oracle.replay_store(con, m, n_batches,
                        lambda b: reads.__setitem__(b, oracle.fresh_read(con, m)))
    store = root / "store"
    con.execute(f"""COPY (SELECT *, year(time) AS year, month(time) AS month,
                                 day(time) AS day, hour(time) AS hour FROM state)
                    TO '{store}' (FORMAT PARQUET, PARTITION_BY (year, month, day, hour))""")
    return str(store), str(etl), reads


def test_ingest_check_catches_corruption(tmp_path):
    m = gen.ingest_inputs(5, str(tmp_path / "in"), gen.TINY["ingest"])
    store, etl, reads = _fake_ingest_outputs(m, tmp_path, 2)
    assert oracle.check_ingest(m, store, etl, 2, list(reads.items())) == 0

    bad_reads = dict(reads)
    bad_reads[1] = _bump(reads[1])
    assert oracle.check_ingest(m, store, etl, 2, list(bad_reads.items())) == 1

    f = next(Path(etl, "b1", "mem").glob("*.parquet"))
    df = pd.read_parquet(f)
    df.loc[0, "Value"] += 1.0
    df.to_parquet(f, index=False)
    assert oracle.check_ingest(m, store, etl, 2, list(reads.items())) == 1

    shutil.rmtree(Path(etl, "b1", "mem"))
    _s, etl, _r = _fake_ingest_outputs(m, tmp_path / "again", 2)
    f = next(Path(store).rglob("*.parquet"))
    df = pd.read_parquet(f)
    df.iloc[1:].to_parquet(f, index=False)  # one stored row lost
    assert oracle.check_ingest(m, store, etl, 2, list(reads.items())) >= 1


def _perfect_curation(truth: pd.DataFrame) -> dict:
    copies = truth[truth.kind != "orig"]
    exact = truth[truth.kind == "exact"]
    exact_origs = set(exact.orig_id)
    return {
        "spans": [(int(d), 10, 10 if k == "exact" else 0) for d, k in zip(truth.doc_id, truth.kind)],
        "groups": [(int(d), 2 if d in exact_origs else 1)
                   for d, k in zip(truth.doc_id, truth.kind) if k != "exact"],
        "quality": [(int(d), bool(q)) for d, q in zip(truth.doc_id, truth.quality_ok)],
        "clusters": [(int(d), int(o)) for d, o in zip(copies.doc_id, copies.orig_id)
                     if d != o] + [(int(o), int(o)) for o in set(copies.orig_id)],
        "curated": [(int(d), c) for d, c, k in zip(truth.doc_id, truth.content, truth.kind)
                    if k == "orig"],
    }


def test_curation_check_catches_corruption(tmp_path):
    inputs = gen.curation_inputs(11, str(tmp_path), gen.TINY["curation"])
    truth = pd.read_parquet(inputs["truth"])
    good = _perfect_curation(truth)
    assert oracle.check_curation(inputs, [good]) == 0

    near = int(truth[truth.kind == "near"].doc_id.iloc[0])
    missed = dict(good, clusters=[c for c in good["clusters"] if c[0] != near])
    assert oracle.check_curation(inputs, [good, missed]) == 1

    doc, text = good["curated"][0]
    garbled = dict(good, curated=[(doc, text + " extra")] + good["curated"][1:])
    assert oracle.check_curation(inputs, [garbled]) == 1


def test_refuses_to_run_outside_a_checkout(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dashboard", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert r.returncode != 0
    assert '"metrics"' not in r.stdout


@pytest.mark.spark
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["dashboard", "ingest", "curation"])
def test_every_metric_printed_with_its_unit(workload, trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"})
    assert r.returncode == 0, r.stderr[-3000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared}
