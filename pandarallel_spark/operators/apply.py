"""DataFrame.parallel_apply (axis=0/1) and parallel_applymap.

Reference semantics (pandarallel ``data_types/dataframe.py:13-75``,
patched at ``core.py:522-530``):
- axis=1: ``func(row)`` per row; scalar result → Series, Series result →
  DataFrame. Chunked by contiguous row ranges.
- axis=0: ``func(column)`` per whole column; chunked by columns.
- applymap: ``func(cell)`` for every cell.

Spark-first mapping (SURVEY.md §2.1 #1-#3):
- If the caller hands a **Column expression** (or a dict of them) we just
  ``select`` — Catalyst plans it, whole-stage codegen runs it, no Python.
  This is the fast path and the recommended API.
- Black-box Python ``func`` for axis=1 / applymap → ``mapInPandas``:
  Arrow-batched, per-partition, embarrassingly parallel — exactly the
  reference's scatter, minus the driver round-trip.
- Black-box axis=0 is *whole-column* semantics: a reducing func uses a
  grouped-agg pandas UDF (column gathered to one worker — same data
  movement the reference does); a transform func (sniffed from a sampled
  same-length Series result, like the reference's reduce-time check)
  runs as a scalar pandas UDF per column, batch-parallel.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandarallel_spark.plans.schema import (
    infer_schema_from_pandas,
    pandas_dtype_to_spark,
)
from pandarallel_spark.session import _patch_worker_zipimport

_SAMPLE_ROWS = 100


def _widen(df: DataFrame) -> DataFrame:
    """Ensure enough partitions to keep every core busy through a Python
    UDF stage. Parquet scans of small-ish files land in one input split
    (fine for codegen'd scans, fatal for row-at-a-time Python); the
    shuffle cost is amortized many times over by the per-row UDF cost.
    Only used on black-box-UDF paths — expression paths stay un-shuffled.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _sample_pdf(df: DataFrame, n: int = _SAMPLE_ROWS) -> pd.DataFrame:
    pdf = df.limit(n).toPandas()
    if pdf.empty:
        # build a typed empty frame so dtype-based inference still works
        pdf = pd.DataFrame(
            {f.name: pd.Series(dtype="object") for f in df.schema.fields}
        )
    return pdf


def apply_rows(
    df: DataFrame,
    func: Callable[..., Any] | Column | Mapping[str, Column],
    schema: T.StructType | str | None = None,
    *,
    args: tuple = (),
    kwargs: dict | None = None,
    include_input: bool = True,
    result_name: str = "result",
    vectorize: bool = True,
) -> DataFrame:
    """``df.parallel_apply(func, axis=1)``.

    Fast path: ``func`` as a Column / mapping of name→Column → pure
    ``select`` (JVM, codegen). Slow path: Python callable over rows via
    ``mapInPandas`` (Arrow batches; schema declared or inferred from a
    sampled prefix).

    ``vectorize``: inside each Arrow batch, scalar-returning row UDFs
    are first tried ONCE against the whole batch (a DataFrame quacks
    like a row: ``row["c"]``/``row.c`` become column Series, so
    elementwise arithmetic computes every row at once), validated
    bit-exact against per-row calls on a spread sample, with automatic
    per-row fallback — same design (and same last-ulp caveat for
    pow/transcendentals) as the rolling fast path
    (``operators/window.py:_vectorized_rolling``).
    """
    kwargs = kwargs or {}
    # include_input: result columns SHADOW same-named input columns
    # (pandas ``df.apply(axis=1)`` returns only the result; carrying the
    # input alongside is this engine's extension, and a duplicate name
    # must resolve result-wins rather than produce a two-`a` schema that
    # blows up in mapInPandas — review finding r4)
    if isinstance(func, Column):
        keep = [c for c in df.columns if c != result_name]
        cols = [*keep, func.alias(result_name)] if include_input else [func.alias(result_name)]
        return df.select(*cols)
    if isinstance(func, Mapping):
        exprs = [c.alias(n) for n, c in func.items()]
        keep = [c for c in df.columns if c not in func]
        return df.select(*keep, *exprs) if include_input else df.select(*exprs)

    in_cols = list(df.columns)
    if schema is None:
        sample = _sample_pdf(df)
        res = sample.apply(lambda row: func(row, *args, **kwargs), axis=1) if len(sample) else pd.Series(dtype="float64")
        if isinstance(res, pd.DataFrame):
            out_schema = infer_schema_from_pandas(res)
            result_frame = True
        else:
            non_null = res.dropna()
            sample_val = non_null.iloc[0] if len(non_null) else None
            out_schema = T.StructType(
                [T.StructField(result_name, pandas_dtype_to_spark(res.dtype, sample_val), True)]
            )
            result_frame = False
        if include_input:
            res_names = {f.name for f in out_schema.fields}
            out_schema = T.StructType(
                [f for f in df.schema.fields if f.name not in res_names]
                + list(out_schema.fields)
            )
    else:
        out_schema = T.StructType(schema) if not isinstance(schema, str) else T.StructType.fromDDL(schema)
        result_frame = None  # decided per batch

    out_names = [f.name for f in out_schema.fields]

    from pandarallel_spark.operators._vectorize import fast_path_type

    eligible_out, integral_out = fast_path_type(out_schema[out_names[-1]].dataType)

    def try_vectorized(pdf: pd.DataFrame) -> pd.Series | None:
        from pandarallel_spark.operators._vectorize import validated_vectorized

        vecf = validated_vectorized(
            len(pdf),
            # copies everywhere: a mutating UDF must not corrupt the
            # batch we emit as passthrough or hand to the fallback
            lambda i: func(pdf.iloc[i].copy(), *args, **kwargs),
            lambda: func(pdf.copy(), *args, **kwargs),
            integral_out=integral_out,
            exact_out=not eligible_out,
        )
        return None if vecf is None else pd.Series(vecf, index=pdf.index)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _patch_worker_zipimport()
        fallback = not vectorize  # sticky: one rejection stops retrying
        for pdf in batches:
            if pdf.empty:
                continue
            res = None
            if not fallback:
                res = try_vectorized(pdf)
                fallback = res is None
            if res is None:
                res = pdf.apply(lambda row: func(row, *args, **kwargs), axis=1)
            if isinstance(res, pd.DataFrame):
                if include_input:
                    shadowed = [c for c in res.columns if c in pdf.columns]
                    out = pd.concat([pdf.drop(columns=shadowed), res], axis=1)
                else:
                    out = res
            else:
                if include_input:
                    out = pdf.copy()
                    out[out_names[-1]] = res
                else:
                    out = res.to_frame(name=out_names[-1])
            yield out[out_names]

    _ = (in_cols, result_frame)
    return _widen(df).mapInPandas(run, out_schema)


_COLUMN_AGGS: dict[str, Callable] = {
    "sum": F.sum,
    "mean": F.avg,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,
    "var": F.var_samp,
}


def apply_columns(
    df: DataFrame,
    func: Callable[[pd.Series], Any] | str,
    columns: list[str] | None = None,
    *,
    args: tuple = (),
    kwargs: dict | None = None,
    elementwise: bool | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """``df.parallel_apply(func, axis=0)`` — func sees each whole column.

    ``func`` as a builtin name ("sum", "max", ...) routes to JVM
    aggregates — map-side partial aggregation, no column gather, the
    form that scales (VERDICT r2 #5: an opaque reducing callable
    necessarily moves the whole column to one task, exactly the data
    movement the reference's column chunks make — prefer the builtin
    spelling for reductions Spark already knows).

    Reducing func (column → scalar, e.g. ``lambda x: x.max() - x.min()``,
    reference test ``tests/test_pandarallel.py:31-35``) → one output row,
    computed with a grouped-agg pandas UDF per column; Spark evaluates all
    column aggregates in a single pass, so column-parallelism is free.

    Transform func (column → same-length column) → scalar pandas UDF per
    column, batch-parallel (correct whenever the func is elementwise or
    batch-stable, which covers every reference test). Whole-column
    non-elementwise transforms don't shard by definition; callers
    needing them should restructure as grouped apply.

    ``elementwise=None`` (default) auto-detects transform-vs-reduce the
    way the reference does at reduce time (``data_types/dataframe.py:
    44-51`` picks the concat axis from the sampled result type): the
    func runs on a sampled prefix of EVERY selected column (dtype-
    dependent behavior is caught per column, not guessed from the
    first), and a same-length Series result means transform, anything
    else reduce. Columns that disagree raise — Spark output is one
    relation, so a mixed transform/reduce apply has no single schema;
    split the columns into two calls. Pass ``True``/``False`` to pin
    the mode (e.g. a transform whose output length coincidentally
    differs on the 100-row sample is impossible, but a reduce returning
    a same-length Series is — pin it then).

    PROBE CAVEAT: plan construction executes ``func`` up to three times
    per column on sampled data (mode probe, batch-stability probe,
    output-dtype inference — the dtype run is skipped when ``schema=``
    pins it). Side-effecting funcs should treat these extra sample-time
    invocations as part of the contract; a func that raises on some
    column's dtype fails at build time with the column named.
    """
    columns = columns or list(df.columns)
    if isinstance(func, str):
        if func not in _COLUMN_AGGS:
            raise ValueError(
                f"unknown builtin reduction {func!r}; one of {sorted(_COLUMN_AGGS)}"
            )
        if args or kwargs:
            raise ValueError(
                f"builtin reduction {func!r} does not forward args/kwargs "
                "(e.g. ddof) — pass a callable for parameterized reductions"
            )
        return df.agg(*[_COLUMN_AGGS[func](F.col(c)).alias(c) for c in columns])

    if args or kwargs:
        # args/kwargs forwarding, reference core.py:212-213
        _inner, _a, _k = func, tuple(args), dict(kwargs or {})
        func = lambda s: _inner(s, *_a, **_k)  # noqa: E731

    sample = _sample_pdf(df.select(*columns))

    _probes: dict[str, Any] = {}

    def _probe(c: str):
        """func on column c's sample, memoized — probe results feed both
        mode detection and dtype inference without re-invoking func."""
        if c not in _probes:
            try:
                _probes[c] = func(sample[c])
            except Exception as exc:  # noqa: BLE001 — reframe with context
                raise ValueError(
                    f"axis=0 probe of column {c!r} raised "
                    f"{type(exc).__name__}: {exc}. The func is executed on "
                    "a sampled prefix of every selected column at plan-build "
                    "time to infer transform-vs-reduce and output dtypes; "
                    "pass elementwise=True/False (and schema= for reduce "
                    "dtypes) to pin what the probe can't learn, or restrict "
                    "columns= to the dtypes the func accepts"
                ) from exc
        return _probes[c]

    if elementwise is None:
        if len(sample):
            modes = {
                c: isinstance(p, pd.Series) and len(p) == len(sample)
                for c in columns
                for p in [_probe(c)]
            }
            if len(set(modes.values())) > 1:
                t_cols = [c for c in columns if modes[c]]
                r_cols = [c for c in columns if not modes[c]]
                raise ValueError(
                    f"axis=0 func is a transform on {t_cols} but a reduce on "
                    f"{r_cols} (probed on sampled data): one relation can't "
                    "hold both shapes — split into two apply_columns calls, "
                    "or pin elementwise=True/False"
                )
            elementwise = next(iter(modes.values()))
            if elementwise and len(sample) >= 2:
                # batch-stability probe (per column): the transform runs
                # per Arrow batch, so func(suffix) must equal the suffix
                # of func(whole) — order-dependent transforms (cumsum,
                # diff, rank) restart at batch boundaries and would
                # return plausible-looking WRONG data; fail loudly
                # instead (review finding r3).
                k = len(sample) // 2
                for c in columns:
                    tail = func(sample[c].iloc[k:])
                    stable = (
                        isinstance(tail, pd.Series)
                        and len(tail) == len(sample) - k
                        and tail.reset_index(drop=True).equals(
                            _probe(c).iloc[k:].reset_index(drop=True)
                        )
                    )
                    if not stable:
                        raise ValueError(
                            f"axis=0 transform is not batch-stable on column "
                            f"{c!r} (func(suffix) != suffix of func(whole) on "
                            "the sampled column — e.g. cumsum/diff/rank): a "
                            "per-batch evaluation would silently restart at "
                            "every Arrow batch. Restructure as a window/"
                            "grouped operation, or pass elementwise=True to "
                            "override if the func is genuinely elementwise."
                        )
        else:
            elementwise = False

    def per_column(s):
        _patch_worker_zipimport()
        return func(s)

    if elementwise:
        out_cols = []
        for c in columns:
            res = _probe(c) if len(sample) else pd.Series(dtype="float64")
            out_t = pandas_dtype_to_spark(
                res.dtype, res.dropna().iloc[0] if len(res.dropna()) else None
            )
            udf = F.pandas_udf(per_column, returnType=out_t)
            out_cols.append(udf(F.col(c)).alias(c))
        return df.select(*out_cols)

    # reducing path: column → scalar
    agg_cols = []
    for c in columns:
        if schema is not None:
            out_t = schema[c].dataType
        else:
            val = _probe(c) if len(sample) else None
            out_t = pandas_dtype_to_spark(getattr(val, "dtype", type(val)), val)
        udf = F.pandas_udf(
            per_column, returnType=out_t, functionType=F.PandasUDFType.GROUPED_AGG
        )
        agg_cols.append(udf(F.col(c)).alias(c))
    return df.agg(*agg_cols)


def applymap(
    df: DataFrame,
    func: Callable[[Any], Any],
    columns: list[str] | None = None,
    schema: T.StructType | None = None,
    vectorize: bool = True,
) -> DataFrame:
    """``df.parallel_applymap(func)`` — elementwise over every cell
    (reference ``data_types/dataframe.py:53-75``).

    One ``mapInPandas`` pass using ``pandas.DataFrame.map``; elementwise by
    contract, so batch execution is exact. Prefer Column expressions via
    ``apply_rows`` when the func is expressible — that path never leaves
    the JVM. ``vectorize``: arithmetic cell funcs are tried once per
    whole column with sampled bit-exact validation and per-cell fallback
    (``operators/_vectorize.py``).
    """
    columns = columns or list(df.columns)
    passthrough = [c for c in df.columns if c not in columns]

    if schema is None:
        sample = _sample_pdf(df)
        mapped = sample[columns].map(func) if len(sample) else sample[columns]
        inferred = infer_schema_from_pandas(mapped)
        by_name = {f.name: f for f in inferred.fields}
        fields = [
            by_name[c] if c in by_name else df.schema[c] for c in df.columns
        ]
        out_schema = T.StructType(fields)
    else:
        out_schema = schema
    out_names = [f.name for f in out_schema.fields]

    from pandarallel_spark.operators._vectorize import fast_path_type

    _fpt = {f.name: fast_path_type(f.dataType) for f in out_schema.fields}
    integral_cols = {n for n, (_, integ) in _fpt.items() if integ}
    ineligible_cols = {n for n, (elig, _) in _fpt.items() if not elig}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _patch_worker_zipimport()
        from pandarallel_spark.operators._vectorize import validated_vectorized

        fallback = {c: not vectorize for c in columns}  # sticky per column
        for pdf in batches:
            if pdf.empty:
                continue
            out = pdf.copy()
            for c in columns:
                res = None
                if not fallback[c]:
                    import copy as _copy

                    s = pdf[c]
                    vecf = validated_vectorized(
                        len(s),
                        # copy the sampled cell: a mutating UDF must not
                        # pre-mutate cells the fallback then maps again
                        lambda i, _s=s: func(_copy.copy(_s.iloc[i])),
                        lambda _s=s: func(_s.copy()),
                        integral_out=c in integral_cols,
                        exact_out=c in ineligible_cols,
                    )
                    fallback[c] = vecf is None
                    if vecf is not None:
                        res = pd.Series(vecf, index=s.index)
                if res is None:
                    res = pdf[c].map(func)
                out[c] = res
            yield out[out_names]

    _ = passthrough
    return _widen(df).mapInPandas(run, out_schema)
