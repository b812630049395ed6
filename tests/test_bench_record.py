"""bench.py's record: host steal and busy shares measured from
``/proc/stat`` around the headline window and around each query.

No Spark session needed: the queries, the session and ``/proc/stat``
are stand-ins that advance a synthetic CPU-time counter.
"""

from __future__ import annotations

import importlib.util
import sys
from itertools import count
from pathlib import Path
from types import SimpleNamespace

import pytest

# bench.py lives at the repo root, not in the package
_BENCH = Path(__file__).resolve().parent.parent / "bench.py"
spec = importlib.util.spec_from_file_location("_bench_under_test", _BENCH)
bench = importlib.util.module_from_spec(spec)
sys.modules.setdefault("_bench_under_test", bench)
spec.loader.exec_module(bench)

# /proc/stat "cpu" row fields: user nice system idle iowait irq softirq
# steal guest guest_nice
_TICKS_PER_DRAW = 1000


def test_host_window_fractions_from_two_stat_rows():
    before = [100, 5, 50, 800, 20, 1, 2, 10, 0, 0]
    after = [400, 5, 150, 1250, 70, 1, 2, 110, 0, 0]
    # deltas: user 300, system 100, idle 450, iowait 50, steal 100
    assert bench._host_window(before, after) == {
        "host_steal_frac": 0.1,
        "host_busy_frac": 0.5,
    }


class _Host:
    """A ``/proc/stat`` cpu row that each query draw advances by
    ``_TICKS_PER_DRAW`` ticks, ``steal`` of them stolen."""

    def __init__(self):
        self.row = [0] * 10

    def read(self) -> list[int]:
        return list(self.row)

    def draw(self, steal: int) -> None:
        self.row[0] += _TICKS_PER_DRAW - steal
        self.row[7] += steal


def _run(monkeypatch, steal_ticks: dict[str, int]):
    host = _Host()
    monkeypatch.setattr(bench.HostCpu, "read", staticmethod(host.read))
    # every draw takes exactly 1 s, so no query gets a tiebreak draw
    clock = count()
    monkeypatch.setattr(bench, "time", SimpleNamespace(perf_counter=lambda: next(clock)))
    spark = SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: None),
        sparkContext=SimpleNamespace(
            _jvm=SimpleNamespace(System=SimpleNamespace(gc=lambda: None))
        ),
    )

    def query(steal):
        frame = SimpleNamespace(count=lambda: host.draw(steal))
        return lambda spark, sf_dir: frame

    qs = {name: query(steal) for name, steal in steal_ticks.items()}
    timings, bands, by_query, headline, suspects = bench._time_queries(
        spark, qs, list(qs), "/data/sf0.01"
    )
    assert bands == {name: [1, 1] for name in qs}
    summary = bench._summary("/data/sf0.01", timings, headline, suspects, {})
    return by_query, summary


def test_quiet_host_is_not_contended(monkeypatch):
    by_query, summary = _run(monkeypatch, {"a": 0, "b": 30})
    # 0.03 exactly is at the bar, not over it
    assert by_query == {
        "a": {"host_steal_frac": 0.0, "host_busy_frac": 1.0},
        "b": {"host_steal_frac": 0.03, "host_busy_frac": 1.0},
    }
    assert summary["host_steal_frac"] == 0.015
    assert summary["contended"] is False
    assert summary["suspect_queries"] == []


def test_steal_over_the_bar_flags_the_record_and_its_queries(monkeypatch):
    by_query, summary = _run(monkeypatch, {"a": 0, "b": 31, "c": 200, "d": 30})
    assert by_query["b"]["host_steal_frac"] == 0.031
    assert summary["host_steal_frac"] == pytest.approx(261 / 4000, abs=1e-4)
    assert summary["contended"] is True
    assert summary["suspect_queries"] == ["b", "c"]


def test_one_stolen_query_in_a_quiet_run_is_suspect_only(monkeypatch):
    _, summary = _run(monkeypatch, {"a": 0, "b": 0, "c": 0, "d": 100})
    assert summary["host_steal_frac"] == 0.025
    assert summary["contended"] is False
    assert summary["suspect_queries"] == ["d"]


def test_summary_keys(monkeypatch):
    _, summary = _run(monkeypatch, {"a": 0})
    assert set(summary) == {
        "metric", "value", "unit", "queries", "sf", "contended",
        "host_steal_frac", "host_busy_frac", "suspect_queries",
        "vs_pandas_speedup",
    }
    assert summary["sf"] == 0.01
    assert summary["value"] == 1
