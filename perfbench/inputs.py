"""Seeded input generation for the three benchmark workloads.

Everything here is pure numpy/pandas/pyarrow: no Spark session is
needed, so inputs are written before the set-up clock starts. The same
seed gives byte-identical files (``test_perfbench.py`` pins this).

``SIZES`` are the sizes BENCHMARK.json and LAYERS.md state;
``SMOKE_SIZES`` shrink them for ``run.py --smoke``.
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BASE_DIR = Path(__file__).resolve().parent / "base"

# Fact tables get a seeded row subset and permutation; dimension tables
# are copied unchanged so every join key still resolves.
FACT_TABLES = ("lineitem", "orders", "events", "documents", "embeddings")
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")

# Files per generated frame: Spark plans one input partition per small
# file, so this fixes the scan parallelism independently of file size.
N_FILES = 8


@dataclass(frozen=True)
class Sizes:
    reference_rows: int = 30_000
    first_call_rows: int = 20_000
    first_call_infer_rows: int = 4_000
    warmup_rows: int = 2_000
    corpus_fraction: float = 0.8


SIZES = Sizes()
SMOKE_SIZES = Sizes(
    reference_rows=600, first_call_rows=600, first_call_infer_rows=300,
    warmup_rows=300, corpus_fraction=0.3,
)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def write_frame(pdf: pd.DataFrame, path: Path) -> None:
    """Write ``pdf`` as ``N_FILES`` parquet parts under directory ``path``."""
    if path.exists():
        shutil.rmtree(path)
    path.mkdir(parents=True)
    bounds = np.linspace(0, len(pdf), N_FILES + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        table = pa.Table.from_pandas(pdf.iloc[lo:hi], preserve_index=False)
        pq.write_table(table, path / f"part-{i:03d}.parquet")


def reference_frame(seed: int, stream: int, n: int) -> pd.DataFrame:
    """The notebook-shaped frame every ``reference_udf`` op reads: ``a``
    ints in [1, 8), ``b`` floats in [0, 1), ``x`` floats in [1, 2) and
    two group keys with 300 and 30 000 distinct values."""
    rng = _rng(seed, 1, stream)
    return pd.DataFrame(
        {
            "idx": np.arange(n, dtype=np.int64),
            "a": rng.integers(1, 8, n),
            "b": rng.random(n),
            "x": rng.random(n) + 1.0,
            "g300": rng.integers(0, 300, n),
            "g30k": rng.integers(0, 30_000, n),
        }
    )


def series_frame(seed: int, stream: int, n: int) -> pd.DataFrame:
    """Ordered numeric frame for the window ops of ``first_call``."""
    rng = _rng(seed, 2, stream)
    return pd.DataFrame(
        {
            "idx": np.arange(n, dtype=np.int64),
            "a": rng.integers(1, 8, n),
            "b": rng.random(n) * 100.0,
            "g": rng.integers(0, 200, n),
        }
    )


def time_frame(seed: int, stream: int, n: int) -> pd.DataFrame:
    """Strictly increasing timestamps (1-59 s apart) for the time-based
    rolling window, so no two rows tie on the order key."""
    rng = _rng(seed, 3, stream)
    steps = rng.integers(1, 60, n).cumsum()
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(steps, unit="s")
    return pd.DataFrame(
        {"ts": ts.values.astype("datetime64[us]"), "b": rng.random(n) * 100.0}
    )


def corpus_tables(seed: int, stream: int, fraction: float, out_dir: Path) -> None:
    """Seed-derived variant of the base tables under ``out_dir``: each
    fact table keeps a seeded ``fraction`` of its rows in a seeded
    order."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for i, name in enumerate(FACT_TABLES + DIM_TABLES):
        table = pq.read_table(BASE_DIR / f"{name}.parquet")
        if name in FACT_TABLES:
            rng = _rng(seed, 4, stream, i)
            keep = round(fraction * table.num_rows)
            table = table.take(rng.permutation(table.num_rows)[:keep])
        pq.write_table(table, out_dir / f"{name}.parquet")


def write_once(path: Path, make) -> Path:
    """Create ``path`` with ``make(path)`` unless it is already complete
    (a ``.done`` marker guards against a half-written earlier run)."""
    marker = path.with_name(path.name + ".done")
    if not marker.exists():
        make(path)
        marker.touch()
    return path
