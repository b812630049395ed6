"""Self-tests of the benchmark: run with ``python3 -m pytest perfbench -q``.

- BENCHMARK.json has the shape its consumers expect, and the metric
  names the runner computes are exactly the ones it declares;
- the seeded generators are deterministic;
- a tiny-size smoke run of every workload is correct and reports every
  declared metric.
"""

from __future__ import annotations

import hashlib
import json
import re
import subprocess
import sys
from pathlib import Path

import pytest

import inputs
import run
import workloads

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["command"][:2] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    names = [w["name"] for w in SPEC["workloads"]]
    assert 2 <= len(names) <= 8
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in SPEC["workloads"])
    assert set(names) <= set(workloads.WORKLOADS)
    assert set(run.WORKLOADS) == set(workloads.WORKLOADS)
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
    assert all(NAME.match(n) for n in all_names)
    assert all(UNIT.match(m["unit"]) and m["better"] in ("lower", "higher") for m in metrics)
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in SPEC["end_to_end"])
    assert all(set(m) == {"name", "unit", "better"} for m in SPEC["per_layer"])
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")


def _fake_pass(traced: bool) -> dict:
    from probes import TRACE_KEYS, OpTrace

    trace = OpTrace("w:pass0:op", metrics={k: 1.0 for k in TRACE_KEYS})
    return {
        "traced": traced, "rows": 10, "oracle_s": 0.5, "wall_s": 2.0,
        "op_s": {"op": 2.0}, "traces": [trace] if traced else [],
        "host": {"host.busy_frac": 0.5, "host.steal_frac": 0.0},
    }


def test_computed_metrics_are_the_declared_ones():
    setup = {"import_s": 1.0, "start_s": 1.0, "first_python_job_s": 1.0, "warmup_s": 1.0, "total_s": 4.0}
    e2e = run.end_to_end_metrics(setup, [_fake_pass(False)] * 2)
    assert set(e2e) == set(run.declared_metrics(trace=False))
    layers = run.layer_metrics(setup, [_fake_pass(True), _fake_pass(False)], 100.0)
    assert set(layers) == set(run.declared_metrics(trace=True))


def _digest(path: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(path.rglob("*")):
        if f.is_file():
            h.update(f.relative_to(path).as_posix().encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def _write_all(seed: int, out: Path) -> None:
    inputs.write_frame(inputs.reference_frame(seed, 0, 500), out / "reference")
    inputs.write_frame(inputs.series_frame(seed, 3, 500), out / "series")
    inputs.write_frame(inputs.time_frame(seed, 4, 500), out / "time")
    inputs.corpus_tables(seed, 0, 0.5, out / "corpus")


def test_generators_are_seed_deterministic(tmp_path):
    _write_all(7, tmp_path / "a")
    _write_all(7, tmp_path / "b")
    _write_all(8, tmp_path / "c")
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    for sub in ("reference", "series", "time", "corpus"):
        assert _digest(tmp_path / "a" / sub) != _digest(tmp_path / "c" / sub)


def test_time_frame_has_no_ties():
    ts = inputs.time_frame(1, 0, 5000).ts
    assert ts.is_monotonic_increasing and ts.is_unique


def test_corpus_query_tables():
    """CORPUS_QUERIES names every table each query loads."""
    from pandarallel_spark.workload import REGISTRY, _load_all

    _load_all()
    for query, tables in workloads.CORPUS_QUERIES.items():
        oracle = REGISTRY[query].oracle
        mentioned = {t for t in inputs.FACT_TABLES + inputs.DIM_TABLES if re.search(rf"\b{t}\b", oracle)}
        assert mentioned <= set(tables), query


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_run(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke", "--workload", workload,
         "--seed", "3", "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert set(result["metrics"]) == set(run.declared_metrics(trace=True))


def test_refuses_to_run_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("run.py", "inputs.py", "workloads.py", "probes.py"):
        (bench / f).write_bytes((ROOT / "perfbench" / f).read_bytes())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "reference_udf",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
