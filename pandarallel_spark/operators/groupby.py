"""DataFrameGroupBy.parallel_apply.

Reference semantics (pandarallel ``data_types/dataframe_groupby.py:11-81``,
patched at ``core.py:533-535``): ``func(group_df)`` per group; scalar
result → Series indexed by key; DataFrame result → stacked frame with the
group keys. The reference ships *whole groups* to workers round-robin and
re-assembles with pandas-private ``_wrap_applied_output``.

Spark-first mapping (SURVEY.md §2.1 #7): ``df.groupBy(keys)
.applyInPandas(func, schema)`` — the closest primitive in the whole
mapping. The shuffle hash-partitions rows by key (the reference's
"whole groups to one worker" for free), AQE handles group-count/size
skew, and the fragile reassembly step disappears because the schema is
declared. Result-shape polymorphism is replicated as three declared
modes — ``scalar`` / ``series`` / ``frame`` — inferred from a sampled
group when not stated (SURVEY.md §7 "what's hard" #3).

Fast path: ``grouped_agg`` for aggregations expressible as Column
expressions — stays JVM-side with partial (map-side) aggregation, which
is what you want on 100 TB: the shuffle then carries one partial row per
(partition × group) instead of every input row.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from pandarallel_spark.operators._memo import bucketed_apply
from pandarallel_spark.operators._skew import warn_on_group_skew
from pandarallel_spark.plans.schema import (
    infer_schema_from_pandas,
    _python_value_to_spark,
)

_SAMPLE_ROWS = 500


def grouped_agg(df: DataFrame, keys: list[str], exprs: Mapping[str, Column]) -> DataFrame:
    """Builtin-expression aggregation: ``groupBy(keys).agg(...)``."""
    return df.groupBy(*keys).agg(*[c.alias(n) for n, c in exprs.items()])


def _sample_group(df: DataFrame, keys: list[str]) -> pd.DataFrame:
    """One (possibly truncated) group as pandas, for shape/schema inference."""
    pdf = df.limit(_SAMPLE_ROWS).toPandas()
    if pdf.empty:
        return pdf
    first_key = pdf[keys].iloc[0]
    mask = (pdf[keys] == first_key.values).all(axis=1)
    return pdf[mask].reset_index(drop=True)


def grouped_apply(
    df: DataFrame,
    keys: str | list[str],
    func: Callable[..., Any],
    schema: T.StructType | str | None = None,
    *,
    args: tuple = (),
    kwargs: dict | None = None,
    mode: str | None = None,
    result_name: str = "result",
) -> DataFrame:
    """``df.groupby(keys).parallel_apply(func)`` via ``applyInPandas``.

    ``mode`` ∈ {"scalar", "series", "frame", None}. None → inferred by
    running ``func`` on one sampled group (documented extra job; pass
    ``schema`` + ``mode`` explicitly in production to skip it).

    Independent of inference, file-backed inputs also pay ONE sampled
    group-skew probe job per distinct plan (r10): applyInPandas lands a
    whole group per Python task, so the probe estimates the max group
    size and warns above ``spark.pandarallel_spark.groupSkew.rowBound``
    naming the decomposable ``grouped_agg`` alternative. Advisory only
    — disable by zeroing that conf (or
    ``...groupSkew.sampleFraction``); strictLazy sessions skip it
    automatically. See ``operators/_skew.py``.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    kwargs = kwargs or {}
    key_fields = [df.schema[k] for k in keys]

    # infer when either the mode or the schema is missing (review
    # finding r4: mode="frame" with schema=None previously skipped the
    # block and crashed on schema.fields; a PINNED mode was also
    # silently overwritten by the sampled shape)
    if mode is None or schema is None:
        sample = _sample_group(df, keys)
        if sample.empty:
            raise ValueError(
                "cannot infer grouped_apply output on an empty frame; pass schema= and mode="
            )
        before = sample.copy(deep=True)
        out = func(sample, *args, **kwargs)
        if out is None:
            # pandas semantics: a None-returning func yields an EMPTY
            # result even if it mutated the group in place (verified on
            # pandas 2.x; the reference's mutated-group machinery,
            # dataframe_groupby.py:37 + utils.py:61-85, served pandas
            # 1.x conventions that no longer exist). Mutating UDFs must
            # return the frame — fail loudly instead of emitting junk.
            mutated = not sample.equals(before)
            raise ValueError(
                "grouped_apply func returned None on the sampled group"
                + (
                    " after mutating it in place — in-place mutation without "
                    "returning the frame produces an EMPTY result in pandas; "
                    "return the mutated frame instead"
                    if mutated
                    else "; pass schema= and mode= if this is intentional"
                )
            )
        if isinstance(out, pd.DataFrame):
            inf_mode = "frame"
            inferred = infer_schema_from_pandas(out)
        elif isinstance(out, pd.Series):
            inf_mode = "series"
            inferred = T.StructType(
                [T.StructField(str(i), _python_value_to_spark(v), True) for i, v in out.items()]
            )
        else:
            inf_mode = "scalar"
            inferred = T.StructType([T.StructField(result_name, _python_value_to_spark(out), True)])
        if mode is None:
            mode = inf_mode
        if schema is None:
            if mode != inf_mode:
                raise ValueError(
                    f"pinned mode={mode!r} but the sampled group returned a "
                    f"{inf_mode}-shaped result; the inferred schema would not "
                    "fit — pass schema= alongside the pinned mode"
                )
            extra = [f for f in inferred.fields if f.name not in keys]
            schema = T.StructType([*key_fields, *extra])

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    out_names = [f.name for f in schema.fields]
    value_names = [n for n in out_names if n not in keys]

    # 100×-scale guard (r9 verdict task 1): applyInPandas materializes
    # one WHOLE group per Python task — probe the max group size and
    # warn with the decomposable alternative named. Advisory only.
    warn_on_group_skew(
        df,
        keys,
        op_name="grouped_apply",
        alternative="grouped_agg with decomposable builtin Column "
        "aggregates (map-side partial, never a whole group in Python)",
    )

    def group_row(key: tuple, pdf: pd.DataFrame) -> dict:
        """scalar/series modes: one output row per group."""
        res = func(pdf, *args, **kwargs)
        row = dict(zip(keys, key))
        if mode == "scalar":
            row[value_names[0]] = res
        else:
            row.update({str(i): v for i, v in res.items()})
        return row

    def group_frame(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        """frame mode: the func's frame with missing key columns added."""
        out = func(pdf, *args, **kwargs).copy()
        for k, v in zip(keys, key):
            if k not in out.columns:
                out[k] = v
        return out[out_names]

    # COARSE-bucketed boundary (r15, the r14 §6 pattern applied to the
    # flagship op): grouped ``applyInPandas`` pays a fixed per-GROUP
    # Arrow-framing/invocation cost (see ``_memo.coarse_group_count``),
    # so keying the Python stage on the raw group makes many-tiny-group
    # corpora pay the boundary, not the UDF. The stage is instead keyed
    # on a deterministic hash of the group keys into
    # ``coarse_group_count`` buckets (4× shuffle partitions) and each
    # call loops its REAL groups through the unchanged per-group
    # wrapper. ``bucketed_apply`` pins the stage to one task per shuffle
    # partition — AQE would otherwise coalesce a small bucketed shuffle
    # into ONE task, whatever the group count. A giant group still lands
    # whole in one task, which is what warn_on_group_skew above warns
    # about. dropna=False mirrors Spark's NULL-key grouping.
    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        # index = position within the group: each group arrives
        # labelled 0..n-1 in input order, for one vectorized pass per
        # bucket instead of one index copy per group
        pdf.index = pdf.groupby(keys, sort=False, dropna=False).cumcount().to_numpy()
        groups = (
            (key if isinstance(key, tuple) else (key,), g)
            for key, g in pdf.groupby(keys, sort=False, dropna=False)
        )
        if mode == "frame":
            outs = [group_frame(k, g) for k, g in groups]
            return pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(columns=out_names)
        # scalar/series: accumulate row dicts and build ONE frame per
        # bucket (30k single-row frames + concat measured ~2× the
        # remaining per-group cost)
        return pd.DataFrame([group_row(k, g) for k, g in groups], columns=out_names)

    return bucketed_apply(df, per_bucket, schema, keys=keys)
