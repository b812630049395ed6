"""Drop-in pandarallel API shim: the reference's public surface, Spark
execution underneath.

A user of the reference (pandarallel v1.6.5) migrates by changing one
import — everything else they run today keeps running:

    # from pandarallel import pandarallel
    from pandarallel_spark.compat import pandarallel
    pandarallel.initialize(progress_bar=False, nb_workers=8)

    df.parallel_apply(func, axis=1)          # pandas in, pandas out
    df.groupby("k").parallel_apply(func)
    s.rolling(4).parallel_apply(func)

This mirrors the patch surface of reference ``core.py:522-556`` (all 8
``parallel_*`` methods) with pandas-exact outputs: index/MultiIndex
restoration, scalar→Series / frame→stacked-DataFrame groupby shapes,
args/kwargs forwarding, and original exception types re-raised.

Execution contract:
- Data already lives in driver memory (that is the reference's model),
  so the shim ships it through Arrow into Spark, computes distributed,
  and reassembles pandas objects positionally (a ``__pos__`` column
  reifies pandas row order — SURVEY.md §4 "deterministic order
  reconstruction").
- Inputs smaller than ``_LOCAL_THRESHOLD`` rows run stock pandas
  directly: the reference's own empty/1-row special cases
  (``utils.py:34-38``) exist because tiny inputs don't amortize a
  scatter; neither do they amortize a Spark job.
- Exceptions: Spark wraps worker errors in ``PythonException``; the
  shim re-raises the original builtin exception type (reference
  behavior, tested at ``tests/test_pandarallel.py:167-174``).
"""

from __future__ import annotations

import builtins
import re
from collections.abc import Callable, Mapping
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from pandarallel_spark.session import _patch_worker_zipimport

_LOCAL_THRESHOLD = 64
_SPARK: SparkSession | None = None
_PROGRESS = False
_IDX = "__idx__"
_POS = "__pos__"
_VAL = "__val__"


def _require_spark() -> SparkSession:
    if _SPARK is None:
        raise RuntimeError("call pandarallel.initialize() first")
    return _SPARK


def _reraise_original(exc: Exception):
    """Surface the worker's original builtin exception type, like the
    reference does (driver re-raises via ``results_promise.get()``)."""
    for m in re.finditer(r"(\w+(?:Error|Exception|Warning|Interrupt))(?::| Traceback)", str(exc)):
        etype = getattr(builtins, m.group(1), None)
        if etype is not None and issubclass(etype, BaseException):
            raise etype(str(exc)) from exc
    raise


def _to_spark(pdf: pd.DataFrame, cols: list[str]):
    """Ship (index, position, cols...) through Arrow; returns (sdf, index_name)."""
    spark = _require_spark()
    ship = pdf[cols].copy()
    ship[_IDX] = pdf.index.to_numpy()
    ship[_POS] = np.arange(len(pdf))
    return spark.createDataFrame(ship), pdf.index.name


def _to_pandas(sdf) -> pd.DataFrame:
    """Single funnel for shim actions: renders StatusTracker progress
    when ``initialize(progress_bar=True)`` asked for it (the reference's
    per-chunk bars, reborn as per-stage task bars — progress.py)."""
    import contextlib

    if _PROGRESS and _SPARK is not None:
        from pandarallel_spark.progress import spark_progress

        ctx = spark_progress(_SPARK)
    else:
        ctx = contextlib.nullcontext()
    with ctx:
        return sdf.toPandas()


def _collect_sorted(sdf) -> pd.DataFrame:
    out = _to_pandas(sdf).sort_values(_POS, kind="mergesort").reset_index(drop=True)
    return out


class _Facade:
    """`pandarallel.initialize()` — patches the 8 methods, like reference
    ``core.py:522-556``, onto live pandas classes."""

    @classmethod
    def initialize(
        cls,
        shm_size_mb: int | None = None,
        nb_workers: int | None = None,
        progress_bar: bool = False,
        verbose: int = 2,
        use_memory_fs: bool | None = None,
    ) -> None:
        global _SPARK, _PROGRESS
        _SPARK = _get_session(nb_workers)
        _PROGRESS = bool(progress_bar)
        if verbose >= 2:
            n = _SPARK.sparkContext.defaultParallelism
            print(f"INFO: Pandarallel (Spark engine) will run on {n} workers.")
        _patch()


def _get_session(nb_workers: int | None) -> SparkSession:
    from pandarallel_spark.session import get_spark

    return get_spark("pandarallel_compat", cpus=nb_workers)


pandarallel = _Facade


# ---------------------------------------------------------------------------
# op implementations (pandas in, pandas out)
# ---------------------------------------------------------------------------


def _local_only(index: pd.Index) -> bool:
    """MultiIndexed inputs run stock pandas: a tuple-labeled index has no
    faithful single-column Arrow shipping (review finding r4 — the old
    path mis-typed the tuples and crashed in createDataFrame). Exact by
    definition, just not distributed."""
    return isinstance(index, pd.MultiIndex)


def _df_parallel_apply(self: pd.DataFrame, func, *args, **kwargs):
    axis = kwargs.pop("axis", 0)
    if not callable(func):
        # pandas accepts string/list aggregation specs; those are
        # metadata-cheap locally — no distribution value
        return self.apply(func, *args, axis=axis, **kwargs)
    if (
        len(self) <= _LOCAL_THRESHOLD
        or _local_only(self.index)
        or (axis in (0, "index") and len(self.columns) <= 4)
    ):
        return self.apply(func, *args, axis=axis, **kwargs)
    if axis in (1, "columns"):
        return _row_apply(self, func, args, kwargs)
    if axis in (0, "index"):
        return _col_apply(self, func, args, kwargs)
    raise ValueError(f"No axis named {axis} for object type DataFrame")


def _row_apply(pdf: pd.DataFrame, func, args, kwargs):
    sample = pdf.head(5).apply(func, *args, axis=1, **kwargs)
    frame_out = isinstance(sample, pd.DataFrame)
    sdf, idx_name = _to_spark(pdf, list(pdf.columns))
    res_cols = list(sample.columns) if frame_out else ["__r__"]

    in_names = list(pdf.columns)

    def run(batches):
        _patch_worker_zipimport()
        for b in batches:
            res = b[in_names].apply(func, *args, axis=1, **kwargs)
            out = res if frame_out else res.to_frame("__r__")
            out = out.copy()
            out[_IDX] = b[_IDX].to_numpy()
            out[_POS] = b[_POS].to_numpy()
            yield out

    out_sample = (sample if frame_out else sample.to_frame("__r__")).copy()
    schema = _infer_ddl(out_sample, extra={_IDX: pdf.index, _POS: None})
    try:
        got = _collect_sorted(sdf.mapInPandas(run, schema))
    except Exception as e:  # noqa: BLE001
        _reraise_original(e)
    got = got.set_index(_IDX).drop(columns=[_POS])
    got.index.name = idx_name
    if frame_out:
        return got[res_cols]
    return got["__r__"].rename(None)


def _col_apply(pdf: pd.DataFrame, func, args, kwargs):
    """axis=0: whole columns to workers (reference chunks BY COLUMN,
    ``data_types/dataframe.py:21-22``) — melt to (col, pos, value),
    one group per column. Only homogeneous-numeric frames distribute
    (melt unifies dtypes); anything else runs stock pandas locally,
    which is also what the tiny-input path does.

    Column labels ride ``__c__`` stringified (the declared field is
    string; integer-labeled frames — the pandas default RangeIndex
    columns — previously crashed on Arrow int→string, review finding
    r4) and map back to the originals on assembly. Result dtypes come
    from a per-column local sample, not a hardcoded double: pandas
    keeps int reductions int (a forced float corrupted int64 sums past
    2^53) and per-column transform dtypes are restored after the pivot.
    """
    if not all(np.issubdtype(d, np.number) for d in pdf.dtypes):
        return pdf.apply(func, *args, axis=0, **kwargs)
    # sample EVERY column on a short prefix: the unified result dtype
    # (what pd.concat of the per-column results would produce) is the
    # shipping type; 256 rows × n_cols locally is noise next to the
    # distributed pass this path exists for (>4 columns)
    samples = {
        c: func(pdf[c].iloc[:256].rename(c), *args, **kwargs) for c in pdf.columns
    }
    first = next(iter(samples.values()))
    scalar_out = np.isscalar(first) or first is None

    spark = _require_spark()
    dtypes = {str(c): str(t) for c, t in pdf.dtypes.items()}
    orig_of = {str(c): c for c in pdf.columns}
    long = pdf.melt(var_name="__c__", value_name=_VAL, ignore_index=False)
    long["__c__"] = long["__c__"].astype(str)
    long[_POS] = np.tile(np.arange(len(pdf)), len(pdf.columns))
    sdf = spark.createDataFrame(long.reset_index(drop=True))

    col_order = {str(c): i for i, c in enumerate(pdf.columns)}

    if scalar_out:
        unified = pd.Series(list(samples.values()))
        out_schema = f"__c__ string, __r__ {_ddl_type(unified)}"
        ship_scalar = unified.to_numpy().dtype

        def per_col(key, b):
            _patch_worker_zipimport()
            s = (
                b.sort_values(_POS)[_VAL]
                .reset_index(drop=True)
                .astype(dtypes[key[0]])  # undo melt's upcast
                .rename(orig_of.get(key[0], key[0]))
            )
            r = _fit_dtype(
                [func(s, *args, **kwargs)], ship_scalar,
                f"parallel_apply(axis=0) column {key[0]!r}",
            )
            return pd.DataFrame({"__c__": [key[0]], "__r__": r})

        try:
            got = _to_pandas(sdf.groupBy("__c__").applyInPandas(per_col, out_schema))
        except Exception as e:  # noqa: BLE001
            _reraise_original(e)
        got = got.sort_values("__c__", key=lambda s: s.map(col_order))
        out = pd.Series(
            got["__r__"].to_numpy(),
            index=[orig_of[c] for c in got["__c__"]],
        ).astype(unified.dtype)
        out.index.name = None
        return out

    unified = pd.concat([pd.Series(v) for v in samples.values()])
    out_schema = f"__c__ string, {_POS} bigint, __r__ {_ddl_type(unified)}"
    ship_dtype = unified.to_numpy().dtype

    def per_col_t(key, b):
        _patch_worker_zipimport()
        b = b.sort_values(_POS)
        s = (
            b[_VAL].reset_index(drop=True)
            .astype(dtypes[key[0]])
            .rename(orig_of.get(key[0], key[0]))
        )
        r = func(s, *args, **kwargs)
        return pd.DataFrame(
            {
                "__c__": key[0],
                _POS: b[_POS].to_numpy(),
                "__r__": _fit_dtype(
                    r, ship_dtype,
                    f"parallel_apply(axis=0) column {key[0]!r}",
                ),
            }
        )

    try:
        got = _to_pandas(sdf.groupBy("__c__").applyInPandas(per_col_t, out_schema))
    except Exception as e:  # noqa: BLE001
        _reraise_original(e)
    wide = got.pivot(index=_POS, columns="__c__", values="__r__").sort_index()
    wide = wide[[str(c) for c in pdf.columns]]
    wide.columns = list(pdf.columns)
    # restore pandas' per-column result dtypes (the shuffle shipped the
    # unified type); guarded — a full column whose values outgrew the
    # prefix-sampled dtype must fail loudly, not truncate
    for c in pdf.columns:
        wide[c] = pd.Series(
            _fit_dtype(
                wide[c].to_numpy(), samples[c].dtype,
                f"parallel_apply(axis=0) column {c!r}",
            ),
            index=wide.index,
        )
    wide.index = pdf.index
    wide.columns.name = None
    return wide


def _df_parallel_applymap(self: pd.DataFrame, func, na_action=None, **kwargs):
    # na_action and **kwargs forward to the func exactly like pandas
    # DataFrame.map (review finding r4: they were silently dropped)
    if len(self) <= _LOCAL_THRESHOLD or _local_only(self.index):
        return self.map(func, na_action=na_action, **kwargs)
    sdf, idx_name = _to_spark(self, list(self.columns))
    in_names = list(self.columns)
    sample = self.head(5).map(func, na_action=na_action, **kwargs)
    schema = _infer_ddl(sample, extra={_IDX: self.index, _POS: None})

    def run(batches):
        _patch_worker_zipimport()
        for b in batches:
            out = b[in_names].map(func, na_action=na_action, **kwargs)
            out[_IDX] = b[_IDX].to_numpy()
            out[_POS] = b[_POS].to_numpy()
            yield out

    try:
        got = _collect_sorted(sdf.mapInPandas(run, schema))
    except Exception as e:  # noqa: BLE001
        _reraise_original(e)
    got = got.set_index(_IDX).drop(columns=[_POS])[in_names]
    got.index.name = idx_name
    return got


def _series_parallel_apply(self: pd.Series, func, *args, **kwargs):
    # reference signature passes args as a KEYWORD: parallel_apply(f, args=(2,), bias=3)
    fargs = tuple(kwargs.pop("args", args))
    if len(self) <= _LOCAL_THRESHOLD or _local_only(self.index):
        return self.apply(func, args=fargs, **kwargs)
    pdf = self.to_frame(_VAL)
    sdf, idx_name = _to_spark(pdf, [_VAL])
    sample = self.head(5).apply(func, args=fargs, **kwargs)
    schema = f"__r__ {_ddl_type(sample)}, {_IDX} {_ddl_of_index(self.index)}, {_POS} bigint"

    def run(batches):
        _patch_worker_zipimport()
        for b in batches:
            yield pd.DataFrame(
                {
                    "__r__": b[_VAL].apply(func, args=fargs, **kwargs),
                    _IDX: b[_IDX].to_numpy(),
                    _POS: b[_POS].to_numpy(),
                }
            )

    try:
        got = _collect_sorted(sdf.mapInPandas(run, schema))
    except Exception as e:  # noqa: BLE001
        _reraise_original(e)
    out = pd.Series(got["__r__"].to_numpy(), index=got[_IDX].to_numpy(), name=self.name)
    out.index.name = idx_name
    return out


def _series_parallel_map(self: pd.Series, arg, na_action=None):
    # the reference worker calls data.map(arg, **kwargs)
    # (data_types/series.py:52-56), so na_action= must pass through
    if na_action not in (None, "ignore"):
        raise ValueError(f"na_action must be None or 'ignore', got {na_action!r}")
    if callable(arg) and not isinstance(arg, Mapping):
        if na_action == "ignore":
            base = arg
            arg = lambda x: x if pd.isna(x) else base(x)  # noqa: E731
        return _series_parallel_apply(self, arg)
    # dict / Series lookup: delegate to pandas locally — a driver-memory
    # lookup table maps to a broadcast join in the engine API
    # (operators/series.py); here the data is already local
    return self.map(arg, na_action=na_action)


def _wrap_window_func(func, args, kwargs):
    """Forward extra positional/keyword args into the window UDF, the
    way pandas rolling.apply(func, args=, kwargs=) does."""
    fargs = tuple(kwargs.pop("args", None) or args)
    fkwargs = dict(kwargs.pop("kwargs", None) or {})
    fkwargs.update(kwargs)
    kwargs.clear()
    if not fargs and not fkwargs:
        return func
    return lambda x: func(x, *fargs, **fkwargs)


def _series_rolling_parallel_apply(self, func, *args, **kwargs):
    obj = self.obj if isinstance(self.obj, pd.Series) else None
    if obj is None or len(obj) <= _LOCAL_THRESHOLD or _local_only(obj.index):
        return self.apply(func, *args, **kwargs)
    raw = kwargs.pop("raw", False)
    func = _wrap_window_func(func, args, kwargs)
    window = self.window
    min_periods = self.min_periods
    center = self.center
    # full attribute replay (reference series_rolling.py:22-28): closed
    # forwards; weighted windows reject loudly in the engine
    closed = getattr(self, "closed", None)
    win_type = getattr(self, "win_type", None)
    pdf = obj.to_frame(_VAL)
    from pandarallel_spark import parallelize

    sdf, idx_name = _to_spark(pdf, [_VAL])
    try:
        got = (
            parallelize(sdf, order_by=_POS)
            .series(_VAL)
            .rolling(
                window, min_periods=min_periods, center=center,
                closed=closed, win_type=win_type,
            )
            # vectorize=False: the shim's contract is bit-parity with the
            # stock pandas loop (the reference's own differential tests
            # assert res.equals), which the SIMD fast path can't promise
            # for pow/transcendental UDFs
            .parallel_apply(
                func, raw=raw, index_col=_IDX, output_col="__r__",
                return_type="double", vectorize=False,
            )
        )
        got = _to_pandas(got)
    except Exception as e:  # noqa: BLE001
        _reraise_original(e)
    got = got.sort_values(_POS, kind="mergesort")
    out = pd.Series(got["__r__"].to_numpy(), index=got[_IDX].to_numpy(), name=obj.name)
    out.index.name = idx_name
    return out


def _groupby_parallel_apply(self, func, *args, **kwargs):
    pdf: pd.DataFrame = self.obj
    keys = self.keys if isinstance(self.keys, list) else [self.keys]
    if len(pdf) <= _LOCAL_THRESHOLD or _local_only(pdf.index):
        return self.apply(func, *args, **kwargs)

    first_key = next(iter(self.groups))
    sample_grp = self.get_group(first_key).head(256)
    sample_out = func(sample_grp, *args, **kwargs)
    if sample_out is None:
        # pandas: None-returning funcs (incl. in-place mutators) yield an
        # empty result — run stock pandas locally, exact by definition
        # (reference mutation detection dataframe_groupby.py:37 existed
        # for pandas 1.x assembly conventions)
        return self.apply(func, *args, **kwargs)
    from pandarallel_spark.operators.groupby import grouped_apply

    sdf, idx_name = _to_spark(pdf, list(pdf.columns))

    if isinstance(sample_out, pd.DataFrame):
        value_cols = [c for c in sample_out.columns]
        # pandas shape rule: a transform-like result (index == group
        # index) keeps the original labels; anything else (row subsets,
        # reorders, aggregated indexes) stacks under a
        # (key..., result_label) MultiIndex. The worker reports each
        # result row's ACTUAL label — the old first-len(r) positional
        # reattachment silently mislabeled subset/reordered results
        # (review finding r4).
        transform_like = len(sample_out) == len(sample_grp) and (
            sample_out.index.equals(sample_grp.index)
        )
        schema_pdf = sample_out.reset_index(drop=True).copy()
        schema_pdf[_IDX] = sample_out.index.to_numpy()
        schema_pdf[_POS] = np.int64(0)
        ddl = _infer_ddl(schema_pdf, lead=keys, lead_src=pdf)

        def gf(g):
            g = g.sort_values(_POS, kind="mergesort")  # pandas group order
            body = g[list(pdf.columns)].copy()
            # func must see the group's true pandas labels, not the
            # Arrow batch's RangeIndex
            body.index = pd.Index(g[_IDX].to_numpy())
            r = func(body, *args, **kwargs).copy()
            r[_IDX] = r.index.to_numpy()
            r[_POS] = np.arange(len(r), dtype="int64")  # func's row order
            return r

        try:
            got = _to_pandas(
                grouped_apply(sdf, keys, gf, schema=ddl, mode="frame")
            ).sort_values([*keys, _POS], kind="mergesort")
        except Exception as e:  # noqa: BLE001
            _reraise_original(e)
        if transform_like:
            out = got.set_index(_IDX)[value_cols]
            out.index.name = idx_name
        else:
            out = got[value_cols].copy()
            out.index = pd.MultiIndex.from_arrays(
                [got[k].to_numpy() for k in keys] + [got[_IDX].to_numpy()],
                names=[*keys, idx_name],
            )
        return out

    if isinstance(sample_out, pd.Series):
        # pandas: Series-per-group → DataFrame whose columns are the
        # Series labels, indexed by the group key(s) (the old code fell
        # into the scalar path and shipped a whole Series in one double
        # cell — review finding r4)
        res_labels = list(sample_out.index)
        str_labels = [f"__s{i}__" for i in range(len(res_labels))]
        key_fields = ", ".join(f"{k} {_ddl_type(pdf[k])}" for k in keys)
        # per-LABEL types: a describe-like Series mixes an int count
        # with float stats (or a string mode) — one whole-Series type
        # would mis-cast or fail at the Arrow boundary (ADVICE r5).
        # Homogeneous Series get the same types as before.
        ddl = f"{key_fields}, " + ", ".join(
            f"{n} {_ddl_type(sample_out.iloc[i])}"
            for i, n in enumerate(str_labels)
        )

        def gv(g):
            g = g.sort_values(_POS, kind="mergesort")
            body = g[list(pdf.columns)].copy()
            body.index = pd.Index(g[_IDX].to_numpy())
            s = func(body, *args, **kwargs)
            # one column per label so each keeps its natural dtype
            # (a single row of a mixed list would ship as object)
            return pd.DataFrame(
                {n: [v] for n, v in zip(str_labels, s.to_numpy())}
            )

        try:
            got = _to_pandas(
                grouped_apply(sdf, keys, gv, schema=ddl, mode="frame")
            ).sort_values(keys, kind="mergesort")
        except Exception as e:  # noqa: BLE001
            _reraise_original(e)
        if len(keys) == 1:
            idx = pd.Index(got[keys[0]].to_numpy(), name=keys[0])
        else:
            idx = pd.MultiIndex.from_frame(got[keys])
        # keep per-label dtypes (a .to_numpy() round trip would smear a
        # mixed result to one object/float matrix)
        out = got[str_labels].copy()
        out.columns = res_labels
        out.index = idx
        out.columns.name = sample_out.index.name
        return out

    # scalar per group → Series indexed by key(s), keys sorted (pandas
    # default); result type from the sampled scalar, not a forced double
    key_fields = ", ".join(f"{k} {_ddl_type(pdf[k])}" for k in keys)
    ddl = f"{key_fields}, __r__ {_ddl_type(sample_out)}"

    def gs(g):
        g = g.sort_values(_POS, kind="mergesort")  # pandas group order
        body = g[list(pdf.columns)].copy()
        body.index = pd.Index(g[_IDX].to_numpy())
        return func(body, *args, **kwargs)

    try:
        got = _to_pandas(
            grouped_apply(sdf, keys, gs, schema=ddl, mode="scalar", result_name="__r__")
        ).sort_values(keys, kind="mergesort")
    except Exception as e:  # noqa: BLE001
        _reraise_original(e)
    if len(keys) == 1:
        idx = pd.Index(got[keys[0]].to_numpy(), name=keys[0])
    else:
        idx = pd.MultiIndex.from_frame(got[keys])
    return pd.Series(got["__r__"].to_numpy(), index=idx)


def _make_grouped_window_apply(kind: str):
    def _apply(self, func, *args, **kwargs):
        raw = kwargs.pop("raw", False)
        func = _wrap_window_func(func, args, kwargs)
        grouper = self._grouper
        obj = self.obj  # selection applied: the rolled Series (or frame)
        if not isinstance(obj, pd.Series):
            raise ValueError("shim supports single-column grouped windows")
        col = obj.name or _VAL
        keys = [g.name for g in grouper.groupings]
        src = obj.to_frame(col)
        for k, g in zip(keys, grouper.groupings):
            src[k] = np.asarray(g.grouping_vector)
        if len(src) <= _LOCAL_THRESHOLD or _local_only(src.index):
            return self.apply(func, raw=raw)

        from pandarallel_spark import parallelize

        sdf, idx_name = _to_spark(src, [*keys, col])
        pf = parallelize(sdf, order_by=_POS).groupby(*keys).series(col)
        wnd = (
            pf.rolling(
                self.window, min_periods=self.min_periods, center=self.center,
                closed=getattr(self, "closed", None),
                win_type=getattr(self, "win_type", None),
            )
            if kind == "rolling"
            else pf.expanding(min_periods=self.min_periods or 1)
        )
        # rolling only: force the stock pandas loop (bit-parity contract;
        # see _series_rolling_parallel_apply). Expanding has no fast path.
        # No index_col: pandas GroupBy.rolling hands raw=False UDFs a
        # group-positional RangeIndex, which is the engine default.
        extra = {"vectorize": False} if kind == "rolling" else {}
        try:
            got = _to_pandas(
                wnd.parallel_apply(
                    func, raw=raw, output_col="__r__", return_type="double", **extra
                )
            ).sort_values([*keys, _POS], kind="mergesort")
        except Exception as e:  # noqa: BLE001
            _reraise_original(e)
        idx = pd.MultiIndex.from_arrays(
            [got[k].to_numpy() for k in keys] + [got[_IDX].to_numpy()],
            names=[*keys, idx_name],
        )
        return pd.Series(got["__r__"].to_numpy(), index=idx, name=col)

    return _apply


# ---------------------------------------------------------------------------
# schema helpers
# ---------------------------------------------------------------------------

def _fit_dtype(arr, dtype, what: str) -> np.ndarray:
    """Cast to the sampled shipping dtype ONLY when value-preserving.

    axis=0 result dtypes are inferred from a 256-row prefix; a full
    column whose natural result dtype differs (float where the prefix
    looked int, int64 past 2^53 riding a float unified type) would
    otherwise be coerced SILENTLY (ADVICE r5). A cast that doesn't
    round-trip raises with the column named instead of corrupting."""
    arr = np.asarray(arr)
    if dtype == object or arr.dtype == dtype:
        return arr
    try:
        cast = arr.astype(dtype)
        back = cast.astype(arr.dtype)
    except (ValueError, TypeError) as e:
        raise ValueError(
            f"{what}: result dtype {arr.dtype} does not fit the dtype "
            f"{dtype} inferred from the 256-row sample prefix ({e}); make "
            "the function return a consistent dtype across the whole column"
        ) from None
    with np.errstate(invalid="ignore"):
        same = (back == arr) | (pd.isna(back) & pd.isna(arr))
    if not bool(np.all(same)):
        raise ValueError(
            f"{what}: result values of dtype {arr.dtype} would be changed "
            f"by casting to the dtype {dtype} inferred from the 256-row "
            "sample prefix; make the function return a consistent dtype "
            "across the whole column"
        )
    return cast


def _ddl_type(obj) -> str:
    from pandarallel_spark.plans.schema import pandas_dtype_to_spark

    if hasattr(obj, "dtype"):
        sample = obj.iloc[0] if hasattr(obj, "iloc") and len(obj) else None
        return pandas_dtype_to_spark(obj.dtype, sample).simpleString()
    return pandas_dtype_to_spark(pd.Series([obj]).dtype, obj).simpleString()


def _ddl_of_index(idx: pd.Index) -> str:
    from pandarallel_spark.plans.schema import pandas_dtype_to_spark

    sample = idx[0] if len(idx) else None
    return pandas_dtype_to_spark(idx.dtype, sample).simpleString()


def _infer_ddl(sample: pd.DataFrame, extra: dict | None = None, lead: list[str] | None = None, lead_src: pd.DataFrame | None = None) -> str:
    parts = []
    for k in lead or []:
        parts.append(f"{k} {_ddl_type(lead_src[k])}")
    for c in sample.columns:
        if lead and c in lead:
            continue
        if extra and c in extra:
            continue
        parts.append(f"{c} {_ddl_type(sample[c])}")
    for name, src in (extra or {}).items():
        if name == _POS:
            parts.append(f"{_POS} bigint")
        elif name == _IDX:
            parts.append(f"{_IDX} {_ddl_of_index(src)}")
    return ", ".join(parts)


# ---------------------------------------------------------------------------
# patching (reference core.py:522-556)
# ---------------------------------------------------------------------------


def _patch() -> None:
    from pandas.core.groupby.groupby import GroupBy
    from pandas.core.window.expanding import ExpandingGroupby
    from pandas.core.window.rolling import Rolling, RollingGroupby

    pd.DataFrame.parallel_apply = _df_parallel_apply
    pd.DataFrame.parallel_applymap = _df_parallel_applymap
    pd.Series.parallel_apply = _series_parallel_apply
    pd.Series.parallel_map = _series_parallel_map
    GroupBy.parallel_apply = _groupby_parallel_apply
    Rolling.parallel_apply = _series_rolling_parallel_apply
    RollingGroupby.parallel_apply = _make_grouped_window_apply("rolling")
    ExpandingGroupby.parallel_apply = _make_grouped_window_apply("expanding")
