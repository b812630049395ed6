"""Series.parallel_apply and Series.parallel_map.

Reference semantics (pandarallel ``data_types/series.py:10-60``, patched
at ``core.py:548-551``):
- ``s.parallel_apply(func, *args, **kwargs)`` — func(scalar) per element,
  args/kwargs forwarded (tested with ``args=(2,), bias=3`` at
  ``tests/test_pandarallel.py:248-253``).
- ``s.parallel_map(arg)`` — callable → same as apply; dict/Series →
  lookup-substitution, unmatched keys → NaN.

Spark-first mapping (SURVEY.md §2.1 #4-#5):
- callable → Arrow-vectorized scalar ``pandas_udf`` running
  ``Series.apply`` per batch (elementwise by contract, so batch
  execution is exact); Column expression → plain ``select``.
- dict/Series mapping → **no Python at all**: a literal ``F.create_map``
  lookup for small mappings (constant-folded, codegen'd), a broadcast
  hash join against a mapping table for large ones. Unmatched → NULL,
  matching pandas NaN semantics. This is the reference's only join-like
  operator, and broadcast-hash-join is exactly its distributed form.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from itertools import chain
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandarallel_spark.plans.schema import pandas_dtype_to_spark
from pandarallel_spark.session import _patch_worker_zipimport

# above this many entries a literal create_map stops being sensible plan-side;
# switch to a broadcast-join against a real (distributed-planner-visible) table
_MAP_LITERAL_MAX = 1024


def series_apply(
    df: DataFrame,
    col: str,
    func: Callable[..., Any] | Column,
    *,
    args: tuple = (),
    kwargs: dict | None = None,
    output_col: str | None = None,
    return_type: T.DataType | str | None = None,
    vectorize: bool = True,
) -> DataFrame:
    """``s.parallel_apply(func, *args, **kwargs)`` on column ``col``.

    ``vectorize``: elementwise-arithmetic funcs are tried once against
    the whole Arrow batch (one call instead of len(batch)), validated
    bit-exact on a spread sample with automatic per-element fallback —
    same design and last-ulp caveat as ``operators/window.py``'s rolling
    fast path."""
    kwargs = kwargs or {}
    output_col = output_col or f"{col}_applied"
    if isinstance(func, Column):
        return df.withColumn(output_col, func)

    if return_type is None:
        sample = df.select(col).limit(100).toPandas()[col]
        res = sample.apply(func, args=args, **kwargs) if len(sample) else pd.Series(dtype="float64")
        non_null = res.dropna()
        return_type = pandas_dtype_to_spark(
            res.dtype, non_null.iloc[0] if len(non_null) else None
        )

    from pandarallel_spark.operators._vectorize import fast_path_type

    _rt = (
        T.StructType.fromDDL(f"x {return_type}")[0].dataType
        if isinstance(return_type, str)
        else return_type
    )
    _eligible, integral_out = fast_path_type(_rt)
    exact_out = not _eligible

    def try_vectorized(s: pd.Series) -> pd.Series | None:
        from pandarallel_spark.operators._vectorize import validated_vectorized

        import copy as _copy

        vecf = validated_vectorized(
            len(s),
            # copies on both: object cells are references, and a
            # mutating UDF must not poison the fallback's input
            lambda i: func(_copy.copy(s.iloc[i]), *args, **kwargs),
            lambda: func(s.copy(), *args, **kwargs),
            integral_out=integral_out,
            exact_out=exact_out,
        )
        return None if vecf is None else pd.Series(vecf, index=s.index)

    state = {"fallback": not vectorize}  # sticky across batches per worker

    def batch_fn(s: pd.Series) -> pd.Series:
        _patch_worker_zipimport()
        if len(s) == 0:  # don't let an empty batch decide anything
            return s.apply(func, args=args, **kwargs)
        res = None
        if not state["fallback"]:
            res = try_vectorized(s)
            state["fallback"] = res is None
        if res is None:
            res = s.apply(func, args=args, **kwargs)
        return res

    udf = F.pandas_udf(batch_fn, returnType=return_type)
    return df.withColumn(output_col, udf(F.col(col)))


def series_map(
    df: DataFrame,
    col: str,
    arg: Callable[..., Any] | Mapping | pd.Series,
    *,
    output_col: str | None = None,
    return_type: T.DataType | str | None = None,
    vectorize: bool = True,
    na_action: str | None = None,
) -> DataFrame:
    """``s.parallel_map(arg, na_action=)`` on column ``col``.

    dict / pd.Series → broadcast lookup (builtin, JVM-side); callable →
    ``series_apply`` (including its ``vectorize`` fast path / opt-out).
    ``na_action='ignore'`` skips the callable on NULL/NaN inputs and
    propagates NULL, exactly pandas ``Series.map(na_action='ignore')``
    (the lookup paths already propagate NULL for NULL keys, matching
    pandas dict-map behavior under BOTH na_action settings).
    """
    if na_action not in (None, "ignore"):
        raise ValueError(f"na_action must be None or 'ignore', got {na_action!r}")
    output_col = output_col or f"{col}_mapped"
    if callable(arg) and not isinstance(arg, Mapping):
        if na_action == "ignore":
            base = arg
            arg = lambda x: None if pd.isna(x) else base(x)  # noqa: E731
        return series_apply(
            df, col, arg, output_col=output_col, return_type=return_type,
            vectorize=vectorize,
        )

    mapping = dict(arg.items()) if isinstance(arg, pd.Series) else dict(arg)
    if not mapping:
        return df.withColumn(output_col, F.lit(None).cast(return_type or "string"))

    if len(mapping) <= _MAP_LITERAL_MAX:
        lit_map = F.create_map(
            *chain.from_iterable((F.lit(k), F.lit(v)) for k, v in mapping.items())
        )
        # element_at on a map yields NULL for missing keys == pandas NaN
        return df.withColumn(output_col, F.element_at(lit_map, F.col(col)))

    spark = df.sparkSession
    map_df = spark.createDataFrame(
        [(k, v) for k, v in mapping.items()], schema=["__map_key__", output_col]
    )
    joined = df.join(
        F.broadcast(map_df), on=F.col(col) == F.col("__map_key__"), how="left"
    ).drop("__map_key__")
    return joined
