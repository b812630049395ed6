"""The three workloads: their operations, inputs and correctness oracles.

An ``Op`` is one call a user would make: ``read`` opens its input (if
the op does not read it itself), ``build`` goes through the library's
facade (``parallelize``) or its query registry and returns a DataFrame;
the runner writes it with ``sources.write_parquet`` and then hands the
written rows to ``check``, which raises on any mismatch.

- ``reference_udf`` — the reference notebook's eight ``parallel_*``
  operators with its ``math.*`` UDFs, plus the arithmetic row apply that
  takes the vectorized fast path; every pass re-reads the same inputs
  after a warm call, so build-time memos hit.
- ``first_call`` — builtin-aggregate window operators and
  schema-inferring operators; every op of every pass reads a file no
  earlier call has read, so every build-time memo misses.
- ``corpus_pipeline`` — text, dedup, similarity and join queries from
  the workload registry on a seed-derived variant of the base tables,
  checked against each query's DuckDB oracle.

Oracles run single-threaded in pandas (DuckDB for the corpus, pinned to
one thread) outside every timed span; their results are cached in the
scratch directory per seed.
"""

from __future__ import annotations

import math
import pickle
import time
from collections.abc import Callable
from dataclasses import dataclass
from functools import cached_property
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs

# Float outputs may differ from pandas in the last few ulps: the
# vectorized fast path reorders arithmetic and grouped sums add in
# partition order. Integer and string outputs must match exactly.
RTOL = 1e-9
ATOL = 1e-12


class Mismatch(AssertionError):
    pass


@dataclass
class Op:
    name: str
    rows: int  # input rows the op reads
    read: Callable | None  # (spark) -> input DataFrame
    build: Callable  # (spark, input DataFrame or None) -> DataFrame
    check: Callable  # (written pandas frame) -> None; raises Mismatch


@dataclass
class Pass:
    ops: list[Op]
    oracle_s: float  # single-threaded reference time of this pass's oracles

    @property
    def rows(self) -> int:
        return sum(op.rows for op in self.ops)


# -- comparison -------------------------------------------------------------


def _compare_columns(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    if len(got) != len(want):
        raise Mismatch(f"{name}: {len(got)} rows, expected {len(want)}")
    for col in want.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if w.dtype.kind == "f" or g.dtype.kind == "f":
            g, w = g.astype(float), w.astype(float)
            ok = np.isclose(g, w, rtol=RTOL, atol=ATOL, equal_nan=True)
        else:
            ok = g == w
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            raise Mismatch(f"{name}.{col}: row {i} is {g[i]!r}, expected {w[i]!r}")


def keyed_check(name: str, key: str, want: pd.DataFrame) -> Callable:
    """Check the columns of ``want`` after aligning both sides on ``key``."""
    want = want.sort_values(key, kind="mergesort").reset_index(drop=True)

    def check(got: pd.DataFrame) -> None:
        missing = set(want.columns) - set(got.columns)
        if missing:
            raise Mismatch(f"{name}: missing columns {sorted(missing)}")
        got = got[list(want.columns)].sort_values(key, kind="mergesort")
        _compare_columns(name, got.reset_index(drop=True), want)

    return check


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns by name, list cells as
    text, timestamps as naive ns, rows sorted on every column."""
    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        s = out[c]
        if str(s.dtype).startswith("datetime64"):
            s = pd.to_datetime(s)
            if s.dt.tz is not None:
                s = s.dt.tz_localize(None)
            out[c] = s.astype("datetime64[ns]")
        elif s.dtype == object and any(
            isinstance(v, (list, tuple, np.ndarray)) for v in s.dropna()
        ):
            out[c] = s.map(
                lambda v: str(np.asarray(v).tolist())
                if isinstance(v, (list, tuple, np.ndarray))
                else v
            )
    return out.sort_values(list(out.columns), kind="mergesort").reset_index(drop=True)


def table_check(name: str, want: pd.DataFrame) -> Callable:
    want = _normalize(want)

    def check(got: pd.DataFrame) -> None:
        if sorted(got.columns) != list(want.columns):
            raise Mismatch(f"{name}: columns {sorted(got.columns)}, expected {list(want.columns)}")
        _compare_columns(name, _normalize(got), want)

    return check


def _cached(path: Path, compute: Callable) -> tuple[object, float]:
    """``compute()`` and its wall time, cached as a pickle at ``path``."""
    if path.exists():
        with open(path, "rb") as f:
            return pickle.load(f)
    t0 = time.perf_counter()
    value = compute()
    result = (value, time.perf_counter() - t0)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    with open(tmp, "wb") as f:
        pickle.dump(result, f)
    tmp.replace(path)
    return result


# -- the reference notebook's UDFs -----------------------------------------


def row_func(row):
    return math.sin(row.a**2) + math.sin(row.b**2)


def row_arith(row):
    return row.a * 2 + row.b / 3 - 1


def cell_func(x):
    return math.sin(x**2) - math.cos(x**2)


def series_func(x):
    return math.log10(math.sqrt(math.exp(x**2)))


def window_func(x):
    return x[0] + x[1] ** 2 + x[2] ** 3 + x[3] ** 4


def expanding_func(x):
    return float(np.sum(x)) / len(x)


def group_func(g):
    return sum(math.log10(math.sqrt(math.exp(x**2))) for x in g.b)


def group_range(g):
    return float(g.b.max() - g.b.min())


def row_scaled(row):
    return row.a * row.b + 1.0


# -- workloads --------------------------------------------------------------


def parallelize(*args, **kwargs):
    """The library's facade, imported at the first call: preparing the
    inputs in a child process must not import the library."""
    from pandarallel_spark import parallelize

    return parallelize(*args, **kwargs)


class Workload:
    """A workload hands out passes: ``warmup_pass()`` for the set-up and
    ``measured_pass(k)`` for the ``k``-th measured pass."""

    name: str

    def __init__(self, scratch: Path, seed: int, sizes: inputs.Sizes):
        self.scratch = scratch
        self.seed = seed
        self.sizes = sizes
        self.in_dir = scratch / "inputs" / self.name / f"seed{seed}"
        self.oracle_dir = scratch / "oracle" / self.name / f"seed{seed}"

    def warmup_pass(self) -> Pass:
        raise NotImplementedError

    def measured_pass(self, k: int) -> Pass:
        raise NotImplementedError


class ReferenceUdf(Workload):
    name = "reference_udf"

    def warmup_pass(self) -> Pass:
        # the warm call: every measured pass repeats it on the same inputs
        return self._pass

    def measured_pass(self, k: int) -> Pass:
        return self._pass

    @cached_property
    def _pass(self) -> Pass:
        n = self.sizes.reference_rows

        def pdf():
            return inputs.reference_frame(self.seed, 0, n)

        path = str(inputs.write_once(self.in_dir / f"n{n}", lambda p: inputs.write_frame(pdf(), p)))
        wants, oracle_s = _cached(self.oracle_dir / f"n{n}.pkl", lambda: self._oracle(pdf()))
        full = "idx bigint, a bigint, b double, x double, g300 bigint, g30k bigint, result double"

        def read(spark):
            return spark.read.parquet(path)

        def groupby_apply(key):
            return lambda _, df: parallelize(df.select(key, "b")).groupby(key).parallel_apply(
                group_func, schema=f"{key} bigint, result double", mode="scalar"
            )

        builds = {
            "row_apply": lambda _, df: parallelize(df).parallel_apply(row_func, axis=1, schema=full),
            "row_apply_arith": lambda _, df: parallelize(df).parallel_apply(row_arith, axis=1, schema=full),
            "applymap": lambda _, df: parallelize(df).parallel_applymap(cell_func, columns=["b", "x"]),
            "series_map": lambda _, df: parallelize(df).series("x")
            .parallel_map(series_func, return_type="double"),
            "series_apply": lambda _, df: parallelize(df).series("x")
            .parallel_apply(series_func, return_type="double"),
            "grouped_rolling": lambda _, df: parallelize(df, "idx").groupby("g300").series("b")
            .rolling(4).parallel_apply(window_func, raw=True, output_col="r"),
            "grouped_expanding": lambda _, df: parallelize(df, "idx").groupby("g300").series("b")
            .expanding(4).parallel_apply(expanding_func, raw=True, output_col="r"),
            "series_rolling": lambda _, df: parallelize(df, "idx").series("x").rolling(4)
            .parallel_apply(window_func, raw=True, output_col="r"),
            "groupby_apply_300": groupby_apply("g300"),
            "groupby_apply_30k": groupby_apply("g30k"),
        }
        keys = {"groupby_apply_300": "g300", "groupby_apply_30k": "g30k"}
        ops = [
            Op(name, n, read, build, keyed_check(name, keys.get(name, "idx"), wants[name]))
            for name, build in builds.items()
        ]
        return Pass(ops, oracle_s)

    @staticmethod
    def _oracle(pdf: pd.DataFrame) -> dict[str, pd.DataFrame]:
        def keyed(col: str, s: pd.Series) -> pd.DataFrame:
            return pd.DataFrame({"idx": pdf.idx, col: s.sort_index().to_numpy()})

        w = {
            "row_apply": keyed("result", pdf.apply(row_func, axis=1)),
            "row_apply_arith": keyed("result", pdf.apply(row_arith, axis=1)),
            "applymap": pd.concat([pdf[["idx"]], pdf[["b", "x"]].map(cell_func)], axis=1),
            "series_map": keyed("x_mapped", pdf.x.map(series_func)),
            "series_apply": keyed("x_applied", pdf.x.apply(series_func)),
            "grouped_rolling": keyed(
                "r", pdf.groupby("g300").b.rolling(4).apply(window_func, raw=True).droplevel(0)
            ),
            "grouped_expanding": keyed(
                "r", pdf.groupby("g300").b.expanding(4).apply(expanding_func, raw=True).droplevel(0)
            ),
            "series_rolling": keyed("r", pdf.x.rolling(4).apply(window_func, raw=True)),
        }
        for key, name in (("g300", "groupby_apply_300"), ("g30k", "groupby_apply_30k")):
            s = pdf.groupby(key)[["b"]].apply(group_func)
            w[name] = pd.DataFrame({key: s.index.to_numpy(), "result": s.to_numpy()})
        return w


class FirstCall(Workload):
    name = "first_call"

    def warmup_pass(self) -> Pass:
        # throwaway files, smaller than the measured ones: set-up warms
        # the JVM and the Python workers on the same code paths
        return self._make_pass("w", 1000 * 16, self.sizes.warmup_rows)

    def measured_pass(self, k: int) -> Pass:
        return self._make_pass(f"p{k}", k * 16, self.sizes.first_call_rows)

    def _make_pass(self, tag: str, stream: int, n: int) -> Pass:
        """One never-read file per op; files of op ``i`` use ``stream + i``."""
        n_infer = min(n, self.sizes.first_call_infer_rows)
        makes = {
            "rolling_mean": lambda i: inputs.series_frame(self.seed, i, n),
            "expanding_max": lambda i: inputs.series_frame(self.seed, i, n),
            "ewm_mean": lambda i: inputs.series_frame(self.seed, i, n),
            "ewm_var": lambda i: inputs.series_frame(self.seed, i, n),
            "time_rolling_sum_1h": lambda i: inputs.time_frame(self.seed, i, n),
            "groupby_apply_infer": lambda i: inputs.series_frame(self.seed, i, n_infer)[["g", "b"]],
            "row_apply_infer": lambda i: inputs.series_frame(self.seed, i, n_infer)[["idx", "a", "b"]],
        }
        pdfs, paths = {}, {}
        for i, (name, make) in enumerate(makes.items()):
            pdfs[name] = pdf = make(stream + i)
            path = inputs.write_once(self.in_dir / f"{tag}-n{n}" / name, lambda p, pdf=pdf: inputs.write_frame(pdf, p))
            paths[name] = str(path)
        wants, oracle_s = _cached(self.oracle_dir / f"{tag}-n{n}.pkl", lambda: self._oracle(pdfs))

        def series(df, order="idx"):
            return parallelize(df, order_by=order).series("b")

        builds = {
            "rolling_mean": lambda _, df: series(df).rolling(50).parallel_apply("mean", output_col="r"),
            "expanding_max": lambda _, df: series(df).expanding(1).parallel_apply("max", output_col="r"),
            "ewm_mean": lambda _, df: series(df).ewm(span=20).mean(output_col="r"),
            "ewm_var": lambda _, df: series(df).ewm(span=20).var(output_col="r"),
            "time_rolling_sum_1h": lambda _, df: series(df, "ts").rolling("1h")
            .parallel_apply("sum", output_col="r"),
            "groupby_apply_infer": lambda _, df: parallelize(df).groupby("g").parallel_apply(group_range),
            "row_apply_infer": lambda _, df: parallelize(df).parallel_apply(row_scaled, axis=1),
        }
        keys = {"time_rolling_sum_1h": "ts", "groupby_apply_infer": "g"}
        ops = [
            Op(
                name,
                len(pdfs[name]),
                lambda s, path=paths[name]: s.read.parquet(path),
                build,
                keyed_check(name, keys.get(name, "idx"), wants[name]),
            )
            for name, build in builds.items()
        ]
        return Pass(ops, oracle_s)

    @staticmethod
    def _oracle(pdfs: dict[str, pd.DataFrame]) -> dict[str, pd.DataFrame]:
        def by_idx(name: str, r: pd.Series) -> pd.DataFrame:
            return pd.DataFrame({"idx": pdfs[name].idx, "r": r})

        t = pdfs["time_rolling_sum_1h"]
        g = pdfs["groupby_apply_infer"].groupby("g")[["b"]].apply(group_range)
        r = pdfs["row_apply_infer"]
        return {
            "rolling_mean": by_idx("rolling_mean", pdfs["rolling_mean"].b.rolling(50).mean()),
            "expanding_max": by_idx("expanding_max", pdfs["expanding_max"].b.expanding(1).max()),
            "ewm_mean": by_idx("ewm_mean", pdfs["ewm_mean"].b.ewm(span=20).mean()),
            "ewm_var": by_idx("ewm_var", pdfs["ewm_var"].b.ewm(span=20).var()),
            "time_rolling_sum_1h": pd.DataFrame(
                {"ts": t.ts, "r": t.set_index("ts").b.rolling("1h").sum().to_numpy()}
            ),
            "groupby_apply_infer": pd.DataFrame({"g": g.index.to_numpy(), "result": g.to_numpy()}),
            "row_apply_infer": pd.DataFrame({"idx": r.idx, "result": r.apply(row_scaled, axis=1)}),
        }


# query -> the tables it reads (pinned by test_perfbench.py)
CORPUS_QUERIES = {
    "text_stats": ("documents",),
    "dedup_minhash_lsh": ("documents",),
    "dedup_ngram_jaccard": ("documents",),
    "corpus_cleanup_pipeline": ("documents",),
    "bm25_topk": ("documents", "embeddings"),
    "similarity_ivf_topk": ("embeddings",),
    "embedding_cosine_pairs": ("embeddings",),
    "join_revenue_per_nation": (
        "orders", "customer", "nation", "lineitem", "supplier", "part", "region",
    ),
}


class CorpusPipeline(Workload):
    name = "corpus_pipeline"

    def warmup_pass(self) -> Pass:
        # every measured pass re-reads the same tables; warm up on them
        return self._pass

    def measured_pass(self, k: int) -> Pass:
        return self._pass

    @cached_property
    def _pass(self) -> Pass:
        import duckdb

        from pandarallel_spark.workload import REGISTRY, _load_all

        _load_all()
        fraction = self.sizes.corpus_fraction
        tag = f"f{fraction}"
        sf_dir = self.in_dir / tag
        inputs.write_once(sf_dir, lambda p: inputs.corpus_tables(self.seed, 0, fraction, p))
        rows = {p.stem: pq.ParquetFile(p).metadata.num_rows for p in sf_dir.glob("*.parquet")}

        def oracle() -> dict[str, pd.DataFrame]:
            conn = duckdb.connect(config={"threads": 1})
            for t in rows:
                conn.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            return {q: conn.execute(REGISTRY[q].oracle).df() for q in CORPUS_QUERIES}

        wants, oracle_s = _cached(self.oracle_dir / f"{tag}.pkl", oracle)
        ops = [
            Op(
                q,
                sum(rows[t] for t in tables),
                None,  # registry queries open their tables themselves
                lambda s, _, q=q: REGISTRY[q].fn(s, str(sf_dir)),
                table_check(q, wants[q]),
            )
            for q, tables in CORPUS_QUERIES.items()
        ]
        return Pass(ops, oracle_s)


WORKLOADS = {w.name: w for w in (ReferenceUdf, FirstCall, CorpusPipeline)}
