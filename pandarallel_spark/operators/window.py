"""Rolling and expanding windows, global and grouped.

Reference semantics (pandarallel ``data_types/series_rolling.py``,
``rolling_groupby.py``, ``expanding_groupby.py``; patched at
``core.py:538-556``):
- ``s.rolling(w, min_periods).parallel_apply(func, raw=...)`` — UDF over
  each length-``w`` positional window; first ``min_periods-1`` rows NULL
  (pandas default ``min_periods = w`` for rolling, 1 for expanding).
- grouped variants run per group, output keyed by (group key, original
  position).

Builtin aggregates (sum/mean/min/max/...) stay JVM-side in the window
exec:

    Window.partitionBy(keys).orderBy(order).rowsBetween(-(w-1), 0)

Scale notes:
- *Grouped* windows partition by key → fully parallel; this is the
  easy 100 TB path. AQE splits skewed keys' partitions for the builtin
  path; arbitrary UDFs run stock pandas rolling inside ``applyInPandas``.
- *Global* (ungrouped) UDF windows run one of two Python plans: one
  task over the whole sorted frame (``_single_partition``), or one
  ``_memo.bucketed_apply`` stage over order-key range buckets. Fixed
  UDF rolling runs the reference's own overlap-chunk design
  (``series_rolling.py:16,47`` over-reads ``window`` rows per chunk
  and drops them post-compute) as that stage: range-bucket on the
  order column (sampled quantile boundaries), union each bucket's
  neighbouring ``window-1`` rows in as tagged context rows, run pandas
  rolling per bucket, drop the context rows. Linear, one shuffle,
  parallel in the bucket count.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandarallel_spark.operators._memo import (
    bucket_keys,
    bucket_partitioned,
    bucketed_apply,
    constant_partition_key,
    fresh_column,
    memo_put,
    plan_data_key,
    range_bucket_count,
    strict_lazy,
)
from pandarallel_spark.session import _patch_worker_zipimport

# _halo_rolling memo: plan_data_key(df, ord, col, ix, pair, n, frame,
# temp column names) →
# {"bexpr": bucket-assignment Column, "ctx_union": per-bucket boundary
# context rows as a small pandas frame, "ctx_sdf": its Spark-side form,
# "starts"/"npre": per-bucket first global row index and context rows
# before the bucket (weighted var/std)}. Bounded FIFO;
# entries are session-scoped (Columns hold py4j refs) like any cached
# plan fragment. Keys include the input FILE LIST, so overwriting the
# same path with new data misses the memo (see _memo.plan_data_key).
_HALO_MEMO: dict = {}

# order-column types range buckets can sample (as a numeric view)
_ORDERABLE = (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)

# symbolic-window memo: (plan key items..., func digest) → gated Column
# or None ("tried, not expressible") — the validation probe is a small
# Spark job worth paying once per (plan, func), not per re-build.
_SYM_MEMO: dict = {}


class _SlotProxy:
    """Window handed to a rolling UDF, with Columns in the slots.

    ``x[i]`` is the lag/lead of the value column at frame offset
    ``lo + i`` — so a slot-arithmetic UDF (``x[0] + x[1]**2``, the shape
    of the reference's own rolling benchmarks, pandarallel docs cells
    46-49) composes into a pure JVM window expression and the whole
    rolling runs without Python workers or Arrow transfer. Anything
    non-arithmetic self-rejects: reductions (``x.sum()``/``np.sum``) hit
    missing attributes or the blocked iterator, conditionals raise on
    ``Column.__bool__``, ``math.*`` raises TypeError — and a numeric
    probe validates the survivors against pandas before use.
    """

    def __init__(self, col_d: Column, n_slots: int, lo: int, over) -> None:
        self._col_d = col_d
        self._n = n_slots
        self._lo = lo
        self._over = over

    def __getitem__(self, i):
        if not isinstance(i, (int, np.integer)):
            raise TypeError("slot proxy supports integer indexing only")
        if i < 0:
            i += self._n
        if not 0 <= i < self._n:
            raise IndexError(i)
        off = self._lo + int(i)
        c = F.lead(self._col_d, off) if off > 0 else F.lag(self._col_d, -off)
        return c.over(self._over)

    def __len__(self) -> int:
        return self._n

    def __iter__(self):
        raise TypeError("slot proxy is not iterable")


def _symbolic_rolling_expr(
    df: DataFrame,
    func: Callable,
    col: str,
    ord_col: str,
    window: int,
    min_periods: int,
    center: bool,
    closed: str | None,
    lo: int,
    hi: int,
    bkt: str,
) -> Column | None:
    """Try to express ``func`` as a gated JVM window expression over
    lag/lead slots within each bucket (column ``bkt``); validate
    numerically against pandas on a 64-row probe (NaN included) before
    accepting. Returns None when the func isn't slot-arithmetic or the
    probe disagrees beyond float ulp tolerance (``vectorize=False``
    callers never get here — they keep strict pandas bit parity on the
    Python path)."""
    n_slots = hi - lo + 1
    over = Window.partitionBy(*bucket_keys(df, bkt)).orderBy(F.col(ord_col))
    framed = over.rowsBetween(lo, hi)
    col_d = F.col(col).cast("double")
    try:
        res = func(_SlotProxy(col_d, n_slots, lo, over))
    except Exception:  # noqa: BLE001 — any failure means "not symbolic"
        return None
    if isinstance(res, (int, float)):
        res = F.lit(float(res))
    if not isinstance(res, Column):
        return None
    if min_periods == n_slots:
        # the common gate (pandas default min_periods == window): "every
        # slot non-null, non-NaN" as a conjunction over the same lag/lead
        # slots the result uses — no sliding-frame count aggregate in
        # the window exec (measured ~8% of the whole pipeline at 4M rows)
        ok = None
        for i in range(n_slots):
            off = lo + i
            s = (F.lead(col_d, off) if off > 0 else F.lag(col_d, -off)).over(over)
            c = s.isNotNull() & ~F.isnan(s)
            ok = c if ok is None else (ok & c)
        gated = F.when(ok, res).cast("double")
    else:
        cnt = F.count(F.when(~F.isnan(col_d), F.lit(1))).over(framed)
        gated = F.when(cnt >= F.lit(min_periods), res).cast("double")
    try:
        rng = np.random.default_rng(11)
        vals = rng.standard_normal(64)
        vals[37] = np.nan
        probe = pd.DataFrame(
            {ord_col: np.arange(64, dtype="int64"), col: vals, bkt: 0}
        )
        exp = (
            probe[col]
            .rolling(window, min_periods=min_periods, center=center, closed=closed)
            .apply(func, raw=True)
            .to_numpy(dtype="float64")
        )
        got = (
            df.sparkSession.createDataFrame(probe)
            .select(F.col(ord_col), gated.alias("__r__"))
            .orderBy(ord_col)
            .toPandas()["__r__"]
            .to_numpy(dtype="float64")
        )
        if not np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True):
            return None
    except Exception:  # noqa: BLE001 — probe failure means "don't trust it"
        return None
    return gated


def _vectorized_rolling(
    vals: np.ndarray,
    window: int,
    min_periods: int,
    center: bool,
    func: Callable,
) -> np.ndarray | None:
    """Evaluate a raw rolling UDF once over the strided ``(w, m)`` window
    matrix instead of m Python calls — the express-or-fallback layer
    (SURVEY.md §4.2b) applied to windows.

    Most real rolling UDFs are elementwise arithmetic of the window
    slots (``x[0] + x[1]**2 …``); on the transposed
    ``sliding_window_view`` each ``x[i]`` is the length-m vector of slot
    i, so the same expression computes every window at once with
    identical IEEE semantics (elementwise float ops are bit-exact vs the
    scalar loop). Funcs this can't serve reject themselves: reductions
    (``np.sum(x)``) change shape, conditionals raise on array truth
    value, ``math.*`` raises TypeError — and a sampled bit-exact check
    against the scalar evaluation guards the rest. Returns None → caller
    falls back to ``pandas.rolling.apply``.
    """
    n = len(vals)
    if n < window:
        return None
    lead = (window - 1) // 2 if center else 0
    start = window - 1 - lead

    # everything derived from pristine vals happens BEFORE the batch
    # call: vals is this function's private copy, but a mutating UDF
    # handed the strided view could otherwise corrupt these
    if np.isnan(vals).any():
        # pandas skips windows with < min_periods non-NaN values
        cnt = np.lib.stride_tricks.sliding_window_view(
            (~np.isnan(vals)).astype("int64"), window
        ).sum(axis=1)
    else:
        cnt = None
    head = (
        pd.Series(vals[: window - 1].copy())
        .rolling(window, min_periods=min_periods, center=center)
        .apply(func, raw=True)
        .to_numpy()
        if start
        else None
    )
    tail = (
        pd.Series(vals[-(window - 1):].copy())
        .rolling(window, min_periods=min_periods, center=center)
        .apply(func, raw=True)
        .to_numpy()
        if lead
        else None
    )

    sw = np.lib.stride_tricks.sliding_window_view(vals, window)
    m = sw.shape[0]
    from pandarallel_spark.operators._vectorize import sample_indices

    # spread sample + finite requirement: a head-only or all-NaN sample
    # would vacuously "match" any shape-(m,) function
    idxs = sample_indices(m, 16)
    try:
        scalar = np.asarray([func(sw[i].copy()) for i in idxs], dtype="float64")
        vec = np.asarray(func(sw.T))
        if vec.shape != (m,):
            return None
        vecf = vec.astype("float64")
    except Exception:  # noqa: BLE001 — any failure means "not vectorizable"
        return None
    if not np.isfinite(scalar).any():
        return None
    if not np.array_equal(vecf[idxs], scalar, equal_nan=True):
        return None
    out = np.full(n, np.nan)
    out[start : start + m] = vecf
    if cnt is not None:
        out[start : start + m] = np.where(cnt < min_periods, np.nan, out[start : start + m])
    # edge positions with truncated frames, precomputed above from
    # pristine vals (frames there only see those boundary rows)
    if head is not None:
        out[:start] = head[:start]
    if tail is not None:
        out[-lead:] = tail[-lead:]
    return out


def _warn_single_partition(what: str, qualifies: str) -> None:
    """A GLOBAL window is about to execute as a single-partition
    total-order scan. Correct, but one task does all the work — at
    cluster scale that is a silent straggler (review finding r7: the
    strictLazy fallbacks gave no signal). Warn with the qualifying
    bucketed alternative; ``plans.audit.scale_audit`` counts the same
    condition statically."""
    import warnings

    warnings.warn(
        f"{what} is executing as a SINGLE-PARTITION total-order scan — "
        f"correct, but one task does all the work and it will not scale. "
        f"The bucket-partitioned plan applies when {qualifies}.",
        UserWarning,
        stacklevel=3,
    )


def _frame_bounds(window: int, center: bool, closed: str | None) -> tuple[int, int]:
    """pandas fixed-window frame offsets (inclusive rowsBetween bounds)
    for a given ``closed``: 'right' (default) = [-(w-1-lead), lead];
    'left' shifts both bounds by −1, 'both' extends the left bound,
    'neither' trims the right — matching pandas' FixedWindowIndexer
    (differentially verified in tests/test_window.py)."""
    lead = (window - 1) // 2 if center else 0
    lo, hi = -(window - 1 - lead), lead
    if closed == "left":
        lo, hi = lo - 1, hi - 1
    elif closed == "both":
        lo -= 1
    elif closed == "neither":
        hi -= 1
    return lo, hi


def _rolling_series(
    s: pd.Series,
    window: int,
    min_periods: int,
    center: bool,
    func: Callable,
    raw: bool,
    vectorize: bool = True,
    closed: str | None = None,
) -> pd.Series:
    """Rolling-apply a Series: vectorized fast path, pandas fallback.

    ``vectorize=False`` forces the stock pandas scalar loop: the fast
    path is elementwise-identical for +,-,*,/ but ``**`` and
    transcendentals may differ from the scalar loop in the last ulp
    (numpy's SIMD pow vs scalar pow) — callers that promise pandas bit
    parity (the compat shim) turn it off. Non-default ``closed`` frames
    always take the pandas path (the strided fast path assumes
    right-closed windows).
    """
    if raw and vectorize and closed in (None, "right"):
        # private copy: to_numpy may hand back a view of the Arrow
        # buffer, and _vectorized_rolling exposes strided views of vals
        # to the UDF
        vals = np.array(s.to_numpy(dtype="float64"), dtype="float64")
        fast = _vectorized_rolling(vals, window, min_periods, center, func)
        if fast is not None:
            return pd.Series(fast, index=s.index)
    return s.rolling(
        window, min_periods=min_periods, center=center, closed=closed
    ).apply(func, raw=raw)

# Weight generators for pandas ``win_type`` weighted windows. Formulas
# are the public symmetric window definitions (scipy.signal.windows /
# numpy); hamming/hann/blackman/bartlett/kaiser delegate to numpy's own
# implementations so the shapes are independently maintained.
def _w_gaussian(M: int, std: float) -> np.ndarray:
    n = np.arange(M) - (M - 1) / 2
    return np.exp(-0.5 * (n / std) ** 2)


def _w_triang(M: int) -> np.ndarray:
    n = np.arange(1, (M + 1) // 2 + 1)
    if M % 2 == 0:
        w = (2 * n - 1.0) / M
        return np.concatenate([w, w[::-1]])
    w = 2 * n / (M + 1.0)
    return np.concatenate([w, w[-2::-1]])


def _w_exponential(M: int, tau: float = 1.0, center: float | None = None) -> np.ndarray:
    c = (M - 1) / 2 if center is None else center
    return np.exp(-np.abs(np.arange(M) - c) / tau)


def _w_cosine_sum(coefs: tuple[float, ...]) -> Callable[[int], np.ndarray]:
    """Generalized cosine-sum window w[n] = Σ_k (−1)^k a_k cos(2πkn/(M−1))
    — the family scipy derives nuttall/blackmanharris/flattop from."""

    def gen(M: int) -> np.ndarray:
        if M == 1:
            return np.ones(1)
        n = np.arange(M)
        w = np.zeros(M)
        for k, a in enumerate(coefs):
            w += (-1) ** k * a * np.cos(2 * np.pi * k * n / (M - 1))
        return w

    return gen


def _w_bohman(M: int) -> np.ndarray:
    if M == 1:
        return np.ones(1)
    fac = np.abs(np.linspace(-1, 1, M))
    return (1 - fac) * np.cos(np.pi * fac) + np.sin(np.pi * fac) / np.pi


def _w_parzen(M: int) -> np.ndarray:
    n = np.arange(M) - (M - 1) / 2.0
    na = np.abs(n)
    half = M / 2.0
    w = np.where(
        na <= (M - 1) / 4.0,
        1 - 6 * (na / half) ** 2 + 6 * (na / half) ** 3,
        2 * (1 - na / half) ** 3,
    )
    return w


def _w_cosine(M: int) -> np.ndarray:
    return np.sin(np.pi * (np.arange(M) + 0.5) / M)


def _w_barthann(M: int) -> np.ndarray:
    if M == 1:
        return np.ones(1)
    fac = np.abs(np.arange(M) / (M - 1.0) - 0.5)
    return 0.62 - 0.48 * fac + 0.38 * np.cos(2 * np.pi * fac)


def _w_tukey(M: int, alpha: float = 0.5) -> np.ndarray:
    if M == 1:
        return np.ones(1)
    if alpha <= 0:
        return np.ones(M)
    if alpha >= 1:
        return np.hanning(M)
    n = np.arange(M)
    width = int(np.floor(alpha * (M - 1) / 2.0))
    w = np.ones(M)
    left = n[: width + 1]
    w[: width + 1] = 0.5 * (
        1 + np.cos(np.pi * (-1 + 2.0 * left / alpha / (M - 1)))
    )
    right = n[M - width - 1:]
    w[M - width - 1:] = 0.5 * (
        1 + np.cos(np.pi * (-2.0 / alpha + 1 + 2.0 * right / alpha / (M - 1)))
    )
    return w


def _w_general_gaussian(M: int, p: float, sig: float) -> np.ndarray:
    n = np.arange(M) - (M - 1) / 2.0
    return np.exp(-0.5 * np.abs(n / sig) ** (2 * p))


WEIGHT_GENERATORS: dict[str, Callable[..., np.ndarray]] = {
    "boxcar": lambda M: np.ones(M),
    "triang": _w_triang,
    "bartlett": lambda M: np.bartlett(M),
    "hamming": lambda M: np.hamming(M),
    "hann": lambda M: np.hanning(M),
    "blackman": lambda M: np.blackman(M),
    "kaiser": lambda M, beta: np.kaiser(M, beta),
    "gaussian": _w_gaussian,
    "exponential": _w_exponential,
    # r9: the rest of the closed-form scipy.signal.windows surface
    # pandas accepts as win_type (symmetric forms, scipy definitions)
    "bohman": _w_bohman,
    "parzen": _w_parzen,
    "cosine": _w_cosine,
    "barthann": _w_barthann,
    "tukey": _w_tukey,
    "nuttall": _w_cosine_sum((0.3635819, 0.4891775, 0.1365995, 0.0106411)),
    "blackmanharris": _w_cosine_sum((0.35875, 0.48829, 0.14128, 0.01168)),
    "flattop": _w_cosine_sum(
        (0.21557895, 0.41663158, 0.277263158, 0.083578947, 0.006947368)
    ),
    "general_gaussian": _w_general_gaussian,
}


def weighted_rolling_agg(
    df: DataFrame,
    col: str,
    window: int,
    agg: str,
    win_type: str,
    order_by: Sequence[str | Column],
    *,
    partition_by: Sequence[str] = (),
    min_periods: int | None = None,
    center: bool = False,
    win_args: dict | None = None,
    output_col: str | None = None,
    ddof: int = 1,
) -> DataFrame:
    """pandas ``rolling(win_type=...).sum()/.mean()/.var()/.std()`` as a
    pure JVM window expression (reference replays ``win_type`` through
    rolling ``_attributes``, ``data_types/series_rolling.py:22-28``).

    Exact pandas weighted semantics (differentially tested against
    pandas' own cython path in tests/test_window.py): weight ``w[j]``
    multiplies the value at frame offset ``j`` counted from the OLDEST
    row; leading truncated windows use the TAIL of the weight vector
    (missing slots contribute nothing); NaN/null values are skipped,
    with the mean renormalized by the weights of surviving slots only;
    ``min_periods`` (default ``window``, floor 1) counts surviving
    slots; ``center=True`` shifts the frame forward by ``(w-1)//2``.

    ``var``/``std`` replicate pandas ``roll_weighted_var`` exactly,
    including its quirk that the weight paired with a value is indexed
    by the value's ABSOLUTE row position mod ``window`` (rotating
    alignment — different from sum/mean's frame-relative alignment),
    its ``nobs > ddof`` gate, and ``nobs == 1 → 0.0``. ``ddof``
    defaults to 1 like pandas.

    Plan shape: ``window`` lag/lead slot expressions over ONE window
    spec — whole-stage codegen, no Python workers, no collect_list.
    Grouped (``partition_by``) scales per key. The GLOBAL form (r8)
    routes through the same range-bucket + boundary-context (halo)
    machinery as the unweighted global builtins: rows hash into
    contiguous order-key buckets, each bucket evaluates the slot
    expressions in parallel, and ``window − 1`` context rows carried
    across bucket boundaries complete the truncated leading frames —
    zero single-partition exchanges. It falls back to a total-order
    window (single sort task, with a ``UserWarning`` naming the
    bucketed alternative) only when the halo path can't run: one range
    bucket, a non-orderable order key, or strictLazy forbidding the
    bucket-boundary build job on a cold memo. Windows wider than 512
    slots are rejected (the expression tree and codegen cost grow
    linearly; use a grouped UDF path at that width).
    """
    if agg not in ("sum", "mean", "var", "std"):
        raise NotImplementedError(
            f"weighted windows support sum/mean/var/std, got {agg!r} "
            "(the full pandas win_type aggregation surface)"
        )
    if win_type not in WEIGHT_GENERATORS:
        raise NotImplementedError(
            f"win_type={win_type!r} not implemented; available: "
            f"{sorted(WEIGHT_GENERATORS)}"
        )
    if window > 512:
        raise NotImplementedError(
            f"weighted window of {window} slots would generate a "
            f"{window}-term codegen expression; widen in a grouped "
            "pandas UDF instead"
        )
    wt = np.asarray(
        WEIGHT_GENERATORS[win_type](window, **(win_args or {})), dtype="float64"
    )
    minp = max(min_periods if min_periods is not None else window, 1)
    offset = (window - 1) // 2 if center else 0
    order_by = [order_by] if not isinstance(order_by, (list, tuple)) else list(order_by)
    output_col = output_col or f"{col}_rolling_{agg}"

    if not partition_by:
        # GLOBAL weighted window: ride the same range-bucket + boundary-
        # context machinery as the unweighted global builtins (r8 —
        # previously the one always-single-partition path). The slot
        # expressions evaluate per bucket; context rows complete frames
        # across bucket boundaries. Falls back to the total-order window
        # below when the shape doesn't qualify (an input that fits one
        # task, non-orderable order key, strictLazy cold build).
        halo = _halo_rolling(
            df, col, order_by, output_col, "double",
            window=window, min_periods=minp, center=center, closed=None,
            func=agg, raw=True, vectorize=False,
            weighted={"wt": wt, "minp": minp, "offset": offset, "ddof": ddof},
        )
        if halo is not None:
            return halo
        if range_bucket_count(df) > 1:
            _warn_single_partition(
                f"global weighted (win_type={win_type!r}) rolling {agg}",
                "the order column is numeric/date/timestamp and the plan "
                "can run its bounded build jobs (pre-build once outside "
                "strict-lazy scope)",
            )
    ws = _window_spec(order_by, partition_by)
    # current row's 0-based position within its ordering scope — the
    # var/std rotating weight alignment consumes it
    gidx = F.row_number().over(ws) - F.lit(1)
    res = _weighted_window_expr(
        ws, col, window, wt, minp, offset, agg, ddof, gidx
    )
    if not partition_by:
        res = _checked_order(df, order_by, _rolling_null_msg(order_by), res)
    return df.withColumn(output_col, res)


def _weighted_window_expr(
    ws,
    col: str,
    window: int,
    wt: np.ndarray,
    minp: int,
    offset: int,
    agg: str,
    ddof: int,
    gidx: Column,
) -> Column:
    """The weighted-window aggregate as slot lag/lead expressions over
    window spec ``ws`` (no frame — slots are explicit lags/leads).
    ``gidx`` is the current row's GLOBAL 0-based index in the total
    order (var/std's rotating weight alignment pairs the value at
    absolute index m with ``weights[m % window]``); sum/mean never
    evaluate it. For a bucket-partitioned spec the caller supplies a
    gidx that restores the global position from per-bucket offsets."""
    col_d = F.col(col).cast("double")
    slots = []
    for j in range(window):
        k = (window - 1) - j - offset
        c = F.lag(col_d, k) if k >= 0 else F.lead(col_d, -k)
        slots.append(c.over(ws))
    valid = [s.isNotNull() & ~F.isnan(s) for s in slots]
    zero = F.lit(0.0)
    cnt = sum((F.when(v, 1).otherwise(0) for v in valid), F.lit(0))
    if agg == "sum":
        wsum = sum(
            (F.when(v, F.lit(float(wt[j])) * s).otherwise(zero)
             for j, (s, v) in enumerate(zip(slots, valid))),
            zero,
        )
        return F.when(cnt >= minp, wsum)
    if agg == "mean":
        wsum = sum(
            (F.when(v, F.lit(float(wt[j])) * s).otherwise(zero)
             for j, (s, v) in enumerate(zip(slots, valid))),
            zero,
        )
        totw = sum(
            (F.when(v, F.lit(float(wt[j]))).otherwise(zero)
             for j, v in enumerate(valid)),
            zero,
        )
        return F.when((cnt >= minp) & (totw != 0), wsum / totw)
    # var / std — pandas roll_weighted_var semantics, faithfully:
    # pandas pairs the value at ABSOLUTE index m with
    # ``weights[m % window]`` (aggregations.pyx roll_weighted_var's
    # add/remove both index ``weights[i % win_n]``), so the
    # weight-to-slot alignment ROTATES with the row position —
    # unlike sum/mean's frame-relative alignment. Replicated here
    # with a literal weight array indexed by pmod(m, window); the
    # variance itself is the algebraic two-moment form
    # t = Σw·x² − (Σw·x)²/Σw, scaled by pandas' calc_weighted_var
    # factor win·t/((win−ddof)·Σw), with nobs==1 → 0 and the
    # nobs > ddof gate.
    wt_arr = literal_array([float(x) for x in wt])
    # slot j's value has absolute 0-based index m = gidx − (w−1) +
    # offset + j
    base = gidx - F.lit(window - 1 - offset)
    wcols = [
        F.element_at(
            wt_arr, (F.pmod(base + F.lit(j), F.lit(window)) + 1).cast("int")
        )
        for j in range(window)
    ]
    totw = sum(
        (F.when(v, wc).otherwise(zero) for v, wc in zip(valid, wcols)), zero
    )
    wx = sum(
        (F.when(v, wc * s).otherwise(zero)
         for s, v, wc in zip(slots, valid, wcols)),
        zero,
    )
    wx2 = sum(
        (F.when(v, wc * s * s).otherwise(zero)
         for s, v, wc in zip(slots, valid, wcols)),
        zero,
    )
    t_dev = wx2 - (wx * wx) / totw
    var_e = t_dev * F.lit(float(window)) / (F.lit(float(window - ddof)) * totw)
    # pandas calc_weighted_var clamps result < 0 -> 0: the two-moment
    # form goes slightly negative under FP cancellation on constant
    # windows (e.g. a run of identical/ffilled values), which would
    # otherwise make std = sqrt(negative) = NaN.
    var_e = F.greatest(var_e, zero)
    var_e = F.when(cnt == 1, zero).otherwise(var_e)
    return F.when(
        (cnt >= minp) & (cnt > ddof),
        F.sqrt(var_e) if agg == "std" else var_e,
    )


_BUILTIN_AGGS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "mean": F.avg,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "std": F.stddev_samp,
    "var": F.var_samp,
}

# everything servable as a JVM window aggregate, incl. the order
# statistics and moment aggs that need composition (see _builtin_over)
BUILTIN_WINDOW_FUNCS = frozenset(_BUILTIN_AGGS) | {
    "median", "skew", "kurt", "quantile", "rank", "sem", "cov", "corr",
}


def _pairwise_over(
    func: str, col: str, spec, min_periods: int, args: dict | None
) -> Column:
    """Two-column window moments: pandas ``rolling.cov(other, ddof)`` /
    ``rolling.corr(other)`` over any frame (rows, range, expanding).

    pandas semantics, probed on 2.2: observations are PAIRWISE-complete
    (a row counts only when BOTH columns are non-null non-NaN — the
    min_periods gate counts pairs, not either column alone); cov is
    (Σxy − Σx·Σy/n)/(n − ddof), NaN when n ≤ ddof (so min_periods=1
    with the default ddof=1 still yields NaN on single-pair windows,
    and ddof=0 yields exactly 0.0 there); corr is the sample
    correlation, NaN when either window variance is zero (constant
    stretch) — the variance terms are clamped ≥ 0 so FP cancellation on
    near-constant windows degrades to pandas' NaN rather than
    sqrt(negative). All JVM expressions, whole-stage codegen'd; scale
    mirrors the single-column builtins (grouped → one shuffle on the
    key; global → total-order window).
    """
    args = args or {}
    if "other" not in args:
        raise ValueError(
            f"rolling {func} needs the other column in win_args, e.g. "
            f'parallel_apply("{func}", win_args={{"other": "y"}})'
        )
    x = F.col(col).cast("double")
    y = F.col(str(args["other"])).cast("double")
    valid = x.isNotNull() & ~F.isnan(x) & y.isNotNull() & ~F.isnan(y)
    xv, yv = F.when(valid, x), F.when(valid, y)
    n = F.count(xv).over(spec).cast("double")
    sx, sy = F.sum(xv).over(spec), F.sum(yv).over(spec)
    sxy = F.sum(xv * yv).over(spec)
    minp = F.lit(float(max(min_periods, 1)))
    # try_divide: NULL on a zero divisor (pandas NaN) — plain `/`
    # throws DIVIDE_BY_ZERO under Spark 4's default ANSI mode
    if func == "cov":
        ddof = float(int(args.get("ddof", 1)))
        return F.when(
            (n >= minp) & (n > F.lit(ddof)),
            F.try_divide(sxy - F.try_divide(sx * sy, n), n - F.lit(ddof)),
        )
    sxx, syy = F.sum(xv * xv).over(spec), F.sum(yv * yv).over(spec)
    vx = F.greatest(n * sxx - sx * sx, F.lit(0.0))
    vy = F.greatest(n * syy - sy * sy, F.lit(0.0))
    # den == 0 (zero variance, or n < 2) divides to NULL → pandas NaN
    return F.when(
        n >= minp, F.try_divide(n * sxy - sx * sy, F.sqrt(vx) * F.sqrt(vy))
    )


def _builtin_over(func: str, v: Column, spec, args: dict | None = None) -> Column:
    """Builtin aggregate over a window spec, replicating pandas'
    bias-corrected moments: pandas ``rolling.skew`` is the adjusted
    Fisher-Pearson G1 = g1·√(n(n−1))/(n−2) over Spark's population
    skewness g1, ``rolling.kurt`` the bias-corrected excess
    G2 = ((n+1)·g2 + 6)·(n−1)/((n−2)(n−3)) over Spark's excess
    kurtosis g2 (standard public formulas, verified numerically in
    tests/test_window.py). pandas conventions on degenerate windows,
    probed on 2.2: skew needs ≥3 non-NaN obs and is 0.0 on a
    zero-variance window; kurt needs ≥4 and is −3.0 there."""
    args = args or {}
    if func in ("median", "quantile"):
        # Spark's median/percentile aggregates reject window FRAMES
        # (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC) — sort the frame's
        # non-null values and interpolate like pandas (linear, the
        # pandas default). O(w log w) per row; fine for the moderate
        # windows rolling order statistics live on.
        if func == "quantile":
            if "q" not in args:
                raise ValueError(
                    'rolling quantile needs the quantile in win_args, e.g. '
                    'parallel_apply("quantile", win_args={"q": 0.75})'
                )
            q = float(args["q"])
            if not 0.0 <= q <= 1.0:
                raise ValueError(f"quantile q must be in [0, 1], got {q}")
        else:
            q = 0.5
        arr = F.array_sort(F.collect_list(v.cast("double")).over(spec))
        m = F.size(arr)
        pos = (m - 1).cast("double") * F.lit(q)
        frac = pos - F.floor(pos)
        lo_e = F.element_at(arr, (F.floor(pos) + 1).cast("int"))
        hi_e = F.element_at(arr, (F.ceil(pos) + 1).cast("int"))
        return F.when(m > 0, lo_e * (F.lit(1.0) - frac) + hi_e * frac)
    if func == "rank":
        # pandas rolling.rank: rank of the CURRENT value among the
        # frame's non-NaN values; method average|min|max, pct divides
        # by the frame's non-NaN count. NaN current value → NaN (the
        # scrubbed v is null there, gated below).
        method = args.get("method", "average")
        if method not in ("average", "min", "max"):
            raise ValueError(f"rank method must be average|min|max, got {method!r}")
        arr = F.collect_list(v.cast("double")).over(spec)
        cur = v.cast("double")
        cnt_lt = F.size(F.filter(arr, lambda e: e < cur))
        cnt_le = F.size(F.filter(arr, lambda e: e <= cur))
        rank = {
            "average": (cnt_lt + cnt_le + 1).cast("double") / 2.0,
            "min": (cnt_lt + 1).cast("double"),
            "max": cnt_le.cast("double"),
        }[method]
        if args.get("pct", False):
            rank = rank / F.size(arr)
        return F.when(cur.isNotNull(), rank)
    if func == "sem":
        # pandas rolling.sem (probed, 2.2): ALWAYS the sample std,
        # divided by sqrt(nobs − ddof), ddof default 1
        ddof = int(args.get("ddof", 1))
        nobs = F.count(v).over(spec).cast("double")
        return F.stddev_samp(v).over(spec) / F.sqrt(nobs - F.lit(float(ddof)))
    if func in ("skew", "kurt"):
        nobs = F.count(v).over(spec)
        n = nobs.cast("double")
        flat = F.var_pop(v).over(spec) == 0
        if func == "skew":
            corrected = F.skewness(v).over(spec) * F.sqrt(n * (n - 1.0)) / (n - 2.0)
            return F.when(nobs >= 3, F.when(flat, F.lit(0.0)).otherwise(corrected))
        corrected = (
            ((n + 1.0) * F.kurtosis(v).over(spec) + 6.0)
            * (n - 1.0)
            / ((n - 2.0) * (n - 3.0))
        )
        return F.when(nobs >= 4, F.when(flat, F.lit(-3.0)).otherwise(corrected))
    return _BUILTIN_AGGS[func](v).over(spec)


def _window_spec(order_by: Sequence[str | Column], partition_by: Sequence[str | Column]):
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def _minp0_sum_fix(result: Column, func, min_periods) -> Column:
    """pandas rolling/expanding/time-rolling ``sum`` with an EXPLICIT
    ``min_periods=0`` returns 0.0 on zero-observation windows (all-NaN
    frames and empty frames alike — probed, pandas 2.2); the gated Spark
    aggregate yields NULL there. Only sum has this identity-element
    behavior (mean stays NaN: 0/0). Defaults never hit this branch.
    The zero is an INT literal so coalesce's type coercion preserves the
    aggregate's own dtype (a 0.0 would widen integer sums)."""
    if func == "sum" and min_periods == 0:
        return F.coalesce(result, F.lit(0))
    return result


def _gated_builtin(
    df: DataFrame, col: str, func: str, spec, min_periods: int,
    args: dict | None, *, offset_frames: bool = False,
) -> Column:
    """Builtin window aggregate ``func`` of ``col`` over ``spec`` with
    pandas' missing-value rules (probed, pandas 2.2): the aggregate
    SKIPS NaN (a NaN in frame must not poison a Spark SUM/AVG) and the
    ``min_periods`` gate counts non-NaN observations — except count,
    whose gate counts frame ROWS (pandas counts NaN rows toward
    min_periods there; NaN/NULL are one missing concept here).
    Time-offset frames (``offset_frames``) can be empty, and pandas
    leaves empty frames NaN: count's gate floors at one row, and with
    ``min_periods=0`` the other aggs need one frame row. cov/corr carry
    their own pairwise-complete gate (floored at 1 for offset frames).
    """
    if func in ("cov", "corr"):
        minp = max(min_periods, 1) if offset_frames else min_periods
        return _pairwise_over(func, col, spec, minp, args)
    v = F.col(col)
    if isinstance(df.schema[col].dataType, (T.DoubleType, T.FloatType)):
        v = F.when(~F.isnan(v), v)
    nobs = F.count(v).over(spec)
    nrows = F.count(F.lit(1)).over(spec)
    if func == "count":
        gate = nrows >= (max(min_periods, 1) if offset_frames else min_periods)
    elif offset_frames and min_periods == 0:
        gate = nrows >= 1
    else:
        gate = nobs >= min_periods
    agg = _builtin_over(func, v, spec, args)
    return _minp0_sum_fix(F.when(gate, agg), func, min_periods)


def _over_buckets(
    df: DataFrame, data: DataFrame, bkt: str, output_col: str, res: Column,
    keep_rows: Column | None = None,
) -> DataFrame:
    """Evaluate ``res`` per range bucket of ``data`` and return ``df``'s
    columns plus ``output_col`` (replaced in place when ``df`` has it,
    like ``withColumn``), keeping only ``keep_rows``. The input is
    ``_memo.bucket_partitioned`` — the partition rule of every bucketed
    stage: the window's own exchange would be AQE-coalesced toward the
    advisory partition size (few partitions for narrow data), strangling
    sort parallelism. ``res`` windows over ``_memo.bucket_keys(df,
    bkt)``, which reuse that exchange."""
    out = bucket_partitioned(data, bkt).withColumn(output_col, res)
    if keep_rows is not None:
        out = out.filter(keep_rows)
    return out.select(*df.columns, *([] if output_col in df.columns else [output_col]))


def _bad_order_key(df: DataFrame, order_cols: Sequence[str]) -> Column:
    """True on a row whose key in any of the named ``order_cols`` is
    NULL, or NaN in a float column: window membership is undefined for
    such rows."""
    bad = F.lit(False)
    for c in order_cols:
        bad = bad | F.col(c).isNull()
        if isinstance(df.schema[c].dataType, (T.DoubleType, T.FloatType)):
            bad = bad | F.isnan(F.col(c))
    return bad


def _checked_order(
    df: DataFrame, order_by: Sequence, null_msg: str, value: Column
) -> Column:
    """``value``, raising ``null_msg`` when the row executes with a bad
    key (``_bad_order_key``) in a named order column: the global builtin
    windows' one-task plan keeps the contract the bucketed build checks
    in its boundary aggregate."""
    names = [c for c in order_by if isinstance(c, str)]
    if not names:
        return value
    return F.when(_bad_order_key(df, names), F.raise_error(F.lit(null_msg))).otherwise(
        value
    )


def _out_schema(df: DataFrame, field: T.StructField) -> T.StructType:
    """``df``'s schema with ``field`` replacing the column of that name
    in place, or appended — the column contract of ``withColumn``."""
    fields = [field if f.name == field.name else f for f in df.schema.fields]
    if field.name not in df.columns:
        fields.append(field)
    return T.StructType(fields)


def _udf_order_cols(df: DataFrame, order_by: Sequence, what: str) -> list[str]:
    """The order columns of a global UDF window, which pandas sorts in
    its task: named columns of atomic types, else ``TypeError``."""
    if not order_by or not all(
        isinstance(c, str) and isinstance(df.schema[c].dataType, T.AtomicType)
        for c in order_by
    ):
        raise TypeError(f"{what} needs named order columns of atomic types")
    return list(order_by)


def _single_partition(
    df: DataFrame, order_cols: list[str], null_msg: str,
    field: T.StructField, compute: Callable[[pd.DataFrame], np.ndarray],
) -> DataFrame:
    """The one-task plan of every global range-bucket window (an input
    that fits one task, a strictLazy cold build, shapes the buckets
    don't cover): all of ``df`` in one partition, merge-sorted by
    ``order_cols``, with ``field`` set to ``compute(sorted_pdf)`` —
    replacing a column of that name in place. Lazy, and exact against
    stock pandas. NULL/NaN order keys raise ``ValueError(null_msg)`` in
    the task, as the bucketed build does at build time."""
    out_schema = _out_schema(df, field)
    out_names = [f.name for f in out_schema.fields]

    def run(batches):
        _patch_worker_zipimport()
        parts = [b for b in batches if len(b)]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if pdf[order_cols].isna().any().any():
            raise ValueError(null_msg)
        pdf = pdf.sort_values(order_cols, kind="mergesort", ignore_index=True)
        pdf[field.name] = compute(pdf)
        yield pdf[out_names]

    return df.repartition(1).mapInPandas(run, out_schema)


def rolling_apply(
    df: DataFrame,
    col: str,
    window: int,
    func: str | Callable,
    order_by: str | Column | Sequence,
    *,
    partition_by: Sequence[str] = (),
    min_periods: int | None = None,
    center: bool = False,
    closed: str | None = None,
    win_type: str | None = None,
    win_args: dict | None = None,
    raw: bool = True,
    index_col: str | None = None,
    output_col: str | None = None,
    return_type: T.DataType | str = "double",
    vectorize: bool = True,
) -> DataFrame:
    """Rolling fixed-width positional window ending at (or centered on)
    the current row.

    ``func``: name of a builtin ("sum", "mean", ...) → JVM window agg;
    Python callable → stock pandas ``rolling.apply`` per range bucket
    or per group (``raw=True`` hands it a numpy array, else a pd.Series
    — mirroring pandas ``rolling.apply(raw=...)``). A global UDF window
    sorts its order columns in pandas: they must be named columns of
    atomic types (``TypeError`` otherwise), and a first order column
    that is not numeric/date/timestamp runs in one task. ``center=True`` matches pandas:
    the frame spans ``[-(w-1-(w-1)//2), +(w-1)//2]`` around each row.

    ``closed`` ('right'|'left'|'both'|'neither') replays pandas frame
    endpoint semantics (reference replays full rolling ``_attributes``,
    ``series_rolling.py:22-28``). ``win_type`` (weighted windows) routes
    builtin "sum"/"mean"/"var"/"std" to ``weighted_rolling_agg`` (pure
    JVM lag expressions, pandas-differential-tested; ``win_args``
    carries the scipy-style shape kwargs like ``std=`` plus pandas'
    ``ddof=`` for var/std); UDFs under ``win_type`` are rejected
    loudly — pandas itself refuses ``rolling.apply`` there.

    ``index_col``: for ``raw=False`` UDFs, the column whose values index
    the window Series handed to the UDF (pandas UDFs read ``.index``);
    defaults to the order column. ``raw=True`` windows are plain numpy
    arrays either way.

    ``vectorize`` (raw funcs only): evaluate the UDF once over the
    strided window matrix when a sampled bit-exact check admits it —
    ~50× on arithmetic UDFs; ``**``/transcendentals may differ from the
    pandas scalar loop in the last ulp. Set False for strict pandas bit
    parity.

    Build-time behavior (global windows): an input of at most 1 MiB
    (the optimized plan's ``sizeInBytes``; ``_memo.range_bucket_count``
    gives one bucket) runs as one task and constructing its plan runs
    no Spark job. A larger input's build runs bounded Spark jobs (one
    aggregate that samples the bucket boundaries and flags NULL/NaN
    order keys, then boundary-context extraction), memoized per
    plan+data so re-building the same rolling is free. NULL order keys
    raise ``ValueError`` — window membership is undefined for them and
    pandas/Spark disagree on where nulls sort — at build on the bucketed
    plan, when the one-task plan executes. Under strictLazy a cold build
    of a larger input runs no job: it warns ``SINGLE-PARTITION`` and
    returns the lazy single-partition plan.
    """
    if not isinstance(window, (int, np.integer)):
        # time-offset window (pandas rolling("1h") / Timedelta): builtin
        # aggs ride a JVM RANGE frame; UDFs run stock pandas per group
        if win_type is not None:
            raise ValueError(
                "win_type is not supported with a time-offset window "
                "(pandas raises here too)"
            )
        window = str(window) if not isinstance(window, str) else window
        if isinstance(func, str):
            return time_rolling_agg(
                df, col, window, func, order_by,
                partition_by=partition_by, min_periods=min_periods,
                closed=closed, center=center, output_col=output_col
                or f"{col}_rolling_{func}",
                agg_args=win_args,
            )
        if partition_by:
            ord_name = order_by if isinstance(order_by, str) else None
            if ord_name is None:
                raise TypeError("time-offset rolling needs a named order column")
            # explicit min_periods=0 passes through: pandas applies the
            # UDF to zero-observation windows there (probed — emits the
            # func's value, not NaN); only the None default maps to 1
            minp = min_periods if min_periods is not None else 1
            return _grouped_pandas_window(
                df, col, [ord_name], partition_by,
                output_col or f"{col}_rolling_apply", return_type,
                lambda s: s.rolling(
                    pd.Timedelta(window), min_periods=minp, center=center,
                    closed=closed,
                ).apply(func, raw=raw),
                index_col=ord_name,
            )
        # GLOBAL time-offset rolling UDF: explode-to-reachable-buckets
        # with stock pandas per target bucket; lazy single-partition
        # scan when the bucketed shape doesn't qualify (strictLazy cold
        # build, one range bucket, span ≲ one window)
        ord_name = order_by if isinstance(order_by, str) else None
        if ord_name is None:
            raise TypeError("time-offset rolling needs a named order column")
        ord_dtype = df.schema[ord_name].dataType
        if not isinstance(
            ord_dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)
        ):
            raise TypeError(
                f"time-offset rolling needs a timestamp/date order column, "
                f"got {ord_dtype.simpleString()} for {ord_name!r}"
            )
        minp = min_periods if min_periods is not None else 1  # 0 passes through
        out_col = output_col or f"{col}_rolling_apply"
        d = int(pd.Timedelta(window).value // 1000)  # microseconds
        if d <= 0:
            raise ValueError(f"window offset must be positive, got {window!r}")
        return _global_time_rolling_udf(
            df, col, window, func, ord_name, d, minp, closed, raw,
            out_col, return_type, center=center,
        )
    if win_type is not None:
        if isinstance(func, str):
            if closed is not None:
                raise NotImplementedError(
                    "closed= is not supported with win_type (pandas "
                    "weighted windows have no closed parameter)"
                )
            wa = dict(win_args or {})
            ddof = wa.pop("ddof", 1)  # pandas Window.var/std kwarg; the
            # rest are scipy-style shape kwargs for the weight generator
            return weighted_rolling_agg(
                df, col, window, func, win_type, order_by,
                partition_by=partition_by, min_periods=min_periods,
                center=center, win_args=wa, output_col=output_col
                or f"{col}_rolling_{func}", ddof=ddof,
            )
        raise NotImplementedError(
            f"win_type={win_type!r} with a rolling UDF is not supported; "
            "pandas evaluates weighted aggregations, not rolling.apply "
            "UDFs, under win_type — use func='sum'/'mean'/'var'/'std' "
            "or drop win_type"
        )
    if closed not in (None, "right", "left", "both", "neither"):
        raise ValueError(f"closed must be right|left|both|neither, got {closed!r}")
    if min_periods is None:
        min_periods = window  # pandas rolling default
    order_by = [order_by] if not isinstance(order_by, (list, tuple)) else list(order_by)
    output_col = output_col or f"{col}_rolling_{func if isinstance(func, str) else 'apply'}"

    frame = _frame_bounds(window, center, closed)
    spec = _window_spec(order_by, partition_by).rowsBetween(*frame)

    if isinstance(func, str):
        if func in ("cov", "corr"):
            other = (win_args or {}).get("other")
            if not partition_by and isinstance(other, str) and other in df.columns:
                # GLOBAL two-column moments ride the bucket machinery
                # too — context rows carry BOTH value columns
                halo = _halo_rolling(
                    df, col, order_by, output_col, "double",
                    window=window, min_periods=min_periods, center=center,
                    closed=closed, func=func, raw=True, vectorize=False,
                    win_args=win_args, pair_col=other,
                )
                if halo is not None:
                    return halo
        elif not partition_by:
            # GLOBAL builtin: not a single-partition total-order window —
            # ride the range-bucket + boundary-context machinery as a
            # bucket-partitioned JVM window (falls back below when the
            # input fits one task or the shape doesn't qualify:
            # non-orderable first order column, strictLazy cold build)
            halo = _halo_rolling(
                df, col, order_by, output_col, "double",
                window=window, min_periods=min_periods, center=center,
                closed=closed, func=func, raw=True, vectorize=False,
                win_args=win_args,
            )
            if halo is not None:
                return halo
            if range_bucket_count(df) > 1:
                _warn_single_partition(
                    f"global rolling({window}) builtin {func!r}",
                    "the order columns are named, the first is numeric/"
                    "date/timestamp, and the plan can run its bounded "
                    "build jobs (pre-build once outside strict-lazy "
                    "scope)",
                )
        res = _gated_builtin(df, col, func, spec, min_periods, win_args)
        if not partition_by:
            res = _checked_order(df, order_by, _rolling_null_msg(order_by), res)
        return df.withColumn(output_col, res)

    if partition_by:
        # grouped UDF windows: stock pandas rolling per group (exact
        # reference semantics, no per-row collect_list arrays)
        return _grouped_pandas_window(
            df, col, order_by, partition_by, output_col, return_type,
            lambda s: _rolling_series(
                s, window, min_periods, center, func, raw, vectorize, closed
            ),
            index_col=None if raw else index_col,
        )

    return _halo_rolling(
        df, col, order_by, output_col, return_type,
        window=window, min_periods=min_periods, center=center, closed=closed,
        func=func, raw=raw, vectorize=vectorize,
        index_col=None if raw else index_col,
    )


def time_rolling_agg(
    df: DataFrame,
    col: str,
    window: str,
    func: str,
    order_by: str | Column,
    *,
    partition_by: Sequence[str] = (),
    min_periods: int | None = None,
    closed: str | None = None,
    center: bool = False,
    output_col: str | None = None,
    agg_args: dict | None = None,
) -> DataFrame:
    """Time-offset rolling (pandas ``s.rolling("1h")``) as a pure JVM
    RANGE-frame window — builtin aggs only.

    ``center=True`` matches pandas: the frame becomes
    ``(t - window/2, t + window/2]`` (probed: the ``closed`` variants
    toggle the same endpoints as the backward frame). Half a window may
    be a fractional microsecond, so the centered frame rides a DOUBLED
    axis (``2·unix_micros``) where both bounds are exact integers.

    pandas offset-window semantics, replicated exactly (probed
    differentially): default frame is ``(t-window, t]`` (``closed=
    'right'`` — unlike positional windows, the left edge is OPEN by
    default), ``min_periods`` defaults to 1, NaN values neither count
    toward min_periods nor poison sums. The frame rides
    ``rangeBetween`` over ``unix_micros(ts)``, so each ``closed``
    variant is an exact integer-microsecond interval:
    right ``(-(d-1), 0]``→``[-(d-1), 0]``, both ``[-d, 0]``,
    left ``[-d, -1]``, neither ``[-(d-1), -1]``.

    DIVERGENCE, documented: Spark range frames are VALUE-based, so all
    rows sharing one timestamp see the same frame (including each
    other); pandas ends each duplicate-timestamp row's window at its
    POSITION, so the earlier duplicate doesn't see the later one.
    Identical whenever (keys, ts) are unique — pre-aggregate duplicate
    timestamps if they matter.

    Scale: grouped (``partition_by``) → one shuffle on the key, fully
    parallel, whole-stage codegen. Global → explode-to-reachable-buckets
    partitioned plan (``_explode_to_time_buckets``) with a lazy
    total-order RANGE fallback for shapes that don't qualify. Rolling
    UDFs over time offsets run per group via stock pandas
    (``rolling_apply`` routes them); the global UDF form runs per
    target bucket over the same explode machinery
    (``_global_time_rolling_udf``).
    """
    if func not in BUILTIN_WINDOW_FUNCS:
        raise NotImplementedError(
            f"time-offset rolling supports builtin aggs "
            f"{sorted(BUILTIN_WINDOW_FUNCS)}, got {func!r}"
        )
    closed = closed or "right"
    if closed not in ("right", "left", "both", "neither"):
        raise ValueError(f"closed must be right|left|both|neither, got {closed!r}")
    if min_periods is not None:
        minp = min_periods
    else:
        # pandas offset-window default is 1 — except count, whose
        # effective default is 0 (all-NaN windows count 0, not NaN)
        minp = 0 if func == "count" else 1
    d = int(pd.Timedelta(window).value // 1000)  # microseconds
    if d <= 0:
        raise ValueError(f"window offset must be positive, got {window!r}")
    ord_col = order_by if isinstance(order_by, str) else None
    if ord_col is None:
        raise TypeError("time-offset rolling needs a named order column")
    ord_type = df.schema[ord_col].dataType
    if not isinstance(ord_type, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        raise TypeError(
            f"time-offset rolling needs a timestamp/date order column, got "
            f"{ord_type.simpleString()} for {ord_col!r}"
        )
    t_us = F.unix_micros(F.col(ord_col).cast("timestamp"))
    if center:
        # (t-d/2, t+d/2] on the doubled axis: half-window = d half-micros
        ord_axis = t_us * 2
        lo, hi = {
            "right": (-(d - 1), d),
            "both": (-d, d),
            "left": (-d, d - 1),
            "neither": (-(d - 1), d - 1),
        }[closed]
    else:
        ord_axis = t_us
        lo, hi = {
            "right": (-(d - 1), 0),
            "both": (-d, 0),
            "left": (-d, -1),
            "neither": (-(d - 1), -1),
        }[closed]
    output_col = output_col or f"{col}_rolling_{func}"
    # GLOBAL: not a single-partition total-order range window — each row
    # explodes into every range bucket whose frames its timestamp can
    # reach, the agg runs per target bucket as a JVM RANGE window, and
    # the duplicates filter back out. The lazy total-order RANGE window
    # below serves the shapes that don't qualify.
    ex = None if partition_by else _explode_to_time_buckets(
        df, ord_col, d, center, f"global time-offset rolling({window!r}) {func!r}"
    )
    if ex is None:
        spec = _window_spec([ord_axis], partition_by).rangeBetween(lo, hi)
        res = _gated_builtin(df, col, func, spec, minp, agg_args, offset_frames=True)
        if not partition_by:
            res = _checked_order(df, [ord_col], _time_rolling_null_msg(ord_col), res)
        return df.withColumn(output_col, res)
    data, src, tgt = ex
    spec = Window.partitionBy(*bucket_keys(df, tgt)).orderBy(ord_axis).rangeBetween(lo, hi)
    res = _gated_builtin(df, col, func, spec, minp, agg_args, offset_frames=True)
    return _over_buckets(df, data, tgt, output_col, res, F.col(tgt) == F.col(src))


def _rolling_null_msg(order_cols: Sequence) -> str:
    return (
        f"global rolling over order columns {list(order_cols)!r} with "
        "NULL or NaN values is not supported: window membership "
        "is undefined for them (and pandas/Spark disagree on "
        "where they sort). Filter or fill those order keys first."
    )


def _expanding_null_msg(order_cols: Sequence) -> str:
    key = order_cols[0] if len(order_cols) == 1 else list(order_cols)
    return (
        f"global expanding over order column {key!r} with NULL or "
        "NaN values is not supported: scan position is undefined for "
        "them. Filter or fill those order keys first."
    )


def _time_rolling_null_msg(ord_col: str) -> str:
    return (
        f"global time-offset rolling over order column {ord_col!r} "
        "with NULL values is not supported: window membership is "
        "undefined for them. Filter or fill those order keys first."
    )


def _explode_to_time_buckets(
    df: DataFrame, ord_col: str, d: int, center: bool, what: str
) -> tuple[DataFrame, str, str] | None:
    """The explode-to-reachable-buckets step of global time-offset
    rolling (builtin aggs and UDFs), instead of a single-partition
    total-order RANGE window.

    Backward frames: a row at time t participates only in frames of
    rows in ``[t, t + d]`` — whose buckets span ``bucket_of(t) ..
    bucket_of(t + d)``, both O(1) literal-boundary assignments
    (monotone, so the span is a contiguous ``sequence``). Centered
    frames reach BOTH ways: the row serves anchors in
    ``[t - d/2, t + d/2]``, so the span starts at
    ``bucket_of(t - ceil(d/2))``. Each row duplicates into that span
    (whole-row copies, so two-column cov/corr work too); column ``src``
    holds the row's own bucket and ``tgt`` the copy's target bucket.
    The caller evaluates per target bucket (frames complete by
    construction) and keeps only the ``src == tgt`` copies. The
    duplicate factor is ≈1 + window/bucket-span, capped at 2 (3
    centered) by ``_offset_bucket_exprs``.

    The bucket count is ``_memo.range_bucket_count``, from the input's
    size alone. Returns ``(data, src, tgt)``, or None when that count
    is 1 (at most 1 MiB by the plan's ``sizeInBytes`` — one task, no
    build job runs), under a strictLazy cold build, or when the data
    spans ≲ one window; the last two warn ``SINGLE-PARTITION``
    (``what`` names the window) because the caller then runs its lazy
    single-partition plan. NULL order keys are rejected at build.
    """
    n_buckets = range_bucket_count(df)
    if n_buckets == 1:
        return None
    memo = _range_bucket_build(
        df, [ord_col], n_buckets, micros=True,
        null_msg=_time_rolling_null_msg(ord_col),
    )
    back_off = (d + 1) // 2 if center else 0
    fwd_off = (d + 1) // 2 if center else d
    t_us = F.unix_micros(F.col(ord_col).cast("timestamp"))
    exprs = None if memo is None else _offset_bucket_exprs(memo, t_us, fwd_off, back_off)
    if exprs is None:
        _warn_single_partition(
            what,
            "the data spans more than about one window and the plan can "
            "run its bounded build jobs (pre-build once outside "
            "strict-lazy scope; the boundaries are memoized per plan+data)",
        )
        return None
    start, own, fwd = exprs
    src, tgt = fresh_column(df, "__src__"), fresh_column(df, "__tgt__")
    data = df.withColumn(src, own).withColumn(
        tgt,
        F.explode(
            F.sequence(start, fwd) if back_off else F.sequence(F.col(src), fwd)
        ),
    )
    return data, src, tgt


def _offset_bucket_exprs(memo: dict, t_us: Column, fwd_off: int, back_off: int = 0):
    """Bucket assignments for a time-offset reach of ``fwd_off``
    microseconds forward and ``back_off`` back (0 for backward-looking
    frames, ``ceil(d/2)`` each way for centered), with the explode
    duplicate factor CAPPED (ADVICE r6): when the reach spans multiple
    quantile buckets (dense bursts, wide windows), every row would fan
    out into O(window/bucket-span) copies. Coarsen by a greedy
    cumulative-span walk over the stored quantile boundaries (a subset
    of quantiles, so load stays balanced within a factor of the walk;
    no extra job) so that every coarse bucket spans ≥ the total reach
    and the per-row fan-out is GUARANTEED ≤ 2 (≤ 3 centered). Returns
    ``(start_expr, own_expr, fwd_expr)``, memoized per reach, or
    ``None`` when the coarsened span has < 2 buckets (the whole data
    span is ≲ one window — every frame covers most of the data, and the
    caller's lazy single-partition RANGE window is the honest plan)."""
    d = fwd_off + back_off
    ck = f"offset_{fwd_off}_{back_off}"
    cached = memo.get(ck)
    if cached is not None:
        return None if cached == "fallback" else cached
    bnds, vlo, vhi = memo["bnds"], memo["vlo"], memo["vhi"]
    widths = np.diff(np.r_[vlo, bnds, vhi]) if bnds else np.array([])
    if bnds and widths.size and float(np.min(widths)) < d:
        # greedy cumulative-span walk: keep a boundary only once ≥ d of
        # span has accumulated since the last kept one, so EVERY coarse
        # bucket (except possibly the final one, which has nothing
        # beyond it to fan into) spans ≥ d — a guaranteed fan-out cap,
        # unlike count-based subsampling (quantile widths are balanced
        # by rows, not span; a run of narrow buckets would break the
        # cap on bursty data)
        coarse = []
        last = vlo
        for b in bnds:
            if b - last >= d:
                coarse.append(b)
                last = b
        if not coarse:
            memo[ck] = "fallback"
            return None
        own = bucket_assignment_expr(
            t_us.cast("double"), coarse, vlo, vhi
        ).cast("int")
        fwd = bucket_assignment_expr(
            (t_us + F.lit(fwd_off)).cast("double"), coarse, vlo, vhi
        ).cast("int")
        start = (
            bucket_assignment_expr(
                (t_us - F.lit(back_off)).cast("double"), coarse, vlo, vhi
            ).cast("int")
            if back_off
            else own
        )
    else:
        own = memo["bexpr"].cast("int")
        # shifted assignment over the SAME stored boundaries (the LUT
        # literal costs one py4j round trip — memoized per reach)
        fwd = bucket_assignment_expr(
            (t_us + F.lit(fwd_off)).cast("double"), bnds, vlo, vhi
        ).cast("int")
        start = (
            bucket_assignment_expr(
                (t_us - F.lit(back_off)).cast("double"), bnds, vlo, vhi
            ).cast("int")
            if back_off
            else own
        )
    memo[ck] = (start, own, fwd)
    return (start, own, fwd)


def _global_time_rolling_udf(
    df: DataFrame,
    col: str,
    window: str,
    func: Callable,
    ord_col: str,
    d: int,
    minp: int,
    closed: str | None,
    raw: bool,
    output_col: str,
    return_type: T.DataType | str,
    center: bool = False,
) -> DataFrame:
    """GLOBAL time-offset rolling UDF: the same
    explode-to-reachable-buckets shape as the builtin aggs
    (``_explode_to_time_buckets``), but each target bucket runs STOCK
    pandas ``rolling(Timedelta).apply`` over its sorted slice — exactly
    how grouped time-offset UDFs run stock pandas per group (reference
    op #6 is UDF-first, ``series_rolling.py:10-51``). Frames are
    complete by construction; halo copies compute throwaway values and
    filter out. One shuffle on the target bucket. When the explode step
    returns None, the same pandas roll runs over the whole frame in one
    task (``_single_partition``)."""
    field = T.StructField(output_col, _to_dtype(return_type), True)
    td = pd.Timedelta(window)

    def roll(pdf: pd.DataFrame) -> np.ndarray:
        s = pd.Series(
            np.asarray(pdf[col].to_numpy(), dtype="float64"),
            index=pd.DatetimeIndex(pdf[ord_col]),
        )
        return s.rolling(
            td, min_periods=minp, center=center, closed=closed
        ).apply(func, raw=raw).to_numpy()

    ex = _explode_to_time_buckets(
        df, ord_col, d, center, f"global time-offset rolling({window!r}) UDF"
    )
    if ex is None:
        return _single_partition(
            df, [ord_col], _time_rolling_null_msg(ord_col), field, roll
        )
    data, src, tgt = ex
    out_schema = _out_schema(df, field)
    out_names = [f.name for f in out_schema.fields]

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ord_col, kind="mergesort", ignore_index=True)
        pdf[output_col] = roll(pdf)
        return pdf[pdf[src] == pdf[tgt]][out_names]

    return bucketed_apply(data, per_bucket, out_schema, bucket=tgt)


def literal_array(vals: Sequence) -> Column:
    """Literal int/double array in ONE py4j round trip. ``F.lit(list)``
    makes a gateway call PER ELEMENT (~0.7 ms each — an 8192-entry
    bucket LUT cost ~6 s of driver time per plan build, measured r6);
    a single parsed SQL ``array(...)`` is one call and constant-folds
    identically. Ints emit as int literals, floats with the ``D``
    suffix (plain decimals would parse as DECIMAL, not DOUBLE);
    ``repr(float)`` round-trips exactly through the parser. Non-finite
    floats need CAST tokens — ``repr()+'D'`` would emit unparseable
    ``infD``/``nanD`` (e.g. extreme win_type weight parameters)."""
    import math

    if all(isinstance(v, (int, np.integer)) for v in vals):
        body = ",".join(str(int(v)) for v in vals)
    else:
        def tok(v: float) -> str:
            if math.isfinite(v):
                return f"{v!r}D"
            if math.isnan(v):
                return "CAST('NaN' AS DOUBLE)"
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"

        body = ",".join(tok(float(v)) for v in vals)
    return F.expr(f"array({body})")


def bucket_assignment_expr(
    ord_num: Column, bnds: list[float], vlo: float, vhi: float
) -> Column:
    """value → range-bucket id. O(1) per row: uniform micro-bucket via
    ``width_bucket`` + a constant-folded literal lookup array mapping
    micro → quantile-coarse bucket (a chained CASE WHEN over the
    boundaries is O(boundaries) per row and measured ~6× the entire
    rest of the pipeline at 4M rows). Any monotone value→bucket map
    is CORRECT (ties always share a micro bucket); the quantile
    boundaries only steer balance, and the micro quantization moves
    at most 1/8192 of the value range per boundary. Falls back to
    the chained form when the value range is degenerate/non-finite.

    Shared by every range-bucket window and the global (key-less) as-of
    join (operators/join.py), through ``range_boundaries`` — all
    range-bucket a numeric view of an order column with literal
    boundaries so every consumer buckets identically BY CONSTRUCTION.
    """
    import bisect
    import math

    if not bnds:
        return F.lit(0)
    if (
        math.isfinite(vlo)
        and math.isfinite(vhi)
        and vhi > vlo
        and len(bnds) < 4096
    ):
        k = min(8192, max(1024, 32 * len(bnds)))
        w = (vhi - vlo) / k
        lut = [
            bisect.bisect_right(bnds, vlo + (m + 0.5) * w) for m in range(k)
        ]
        micro = F.least(
            F.lit(k),
            F.greatest(
                F.lit(1),
                F.width_bucket(ord_num, F.lit(vlo), F.lit(vhi), F.lit(k)),
            ),
        ).cast("int")
        return F.element_at(literal_array(lut), micro)
    return sum(
        (F.when(ord_num > F.lit(b), 1).otherwise(0) for b in bnds),
        F.lit(0),
    )


def range_boundaries(
    df: DataFrame, cols: Sequence[str], n_buckets: int, *, micros: bool = False,
    accuracy: int = 10_000, bad: Column | None = None,
) -> tuple[list[dict], bool]:
    """Sample ``n_buckets`` range buckets over a numeric view of each of
    ``cols`` in ONE aggregate (one Spark action, however many columns):
    the number itself, epoch seconds for dates and timestamps, or epoch
    µs with ``micros``. Each view goes to ``percentile_approx`` at
    ``accuracy`` (Spark's default 10,000: relative error
    ``1/accuracy``, far below one bucket) with NaN mapped to NULL, so
    the sketch skips NULL and NaN alike; ``probs`` crosses py4j once,
    as a ``literal_array``. At ``accuracy = n_buckets`` 35 buckets of
    a 2M-row input came back as 33, the largest 2.6× the mean.
    Returns one dict per column — ``{"num", "bnds", "vlo", "vhi",
    "bexpr"}``: the numeric view, the sorted distinct inner boundaries,
    the exact min/max (sketch endpoints at probs 0 and 1, which the
    O(1) assignment map needs; NaN for an empty view) and the
    ``bucket_assignment_expr`` Column of ``num`` — and whether any row
    matches ``bad`` (``bool_or`` in the same aggregate; False without
    it). Only bucket ASSIGNMENT uses the numeric view; windows still
    order by the original column. The library's one boundary sampler:
    every range-bucket window, the global as-of join and
    ``zorder_key`` bucket the same way."""
    views = []
    for c in cols:
        v = F.col(c)
        if micros:
            views.append(F.unix_micros(v.cast("timestamp")).cast("double"))
        elif isinstance(df.schema[c].dataType, T.NumericType):
            views.append(v.cast("double"))
        else:
            views.append(v.cast("timestamp").cast("double"))
    probs = literal_array([i / n_buckets for i in range(n_buckets + 1)])
    acc = F.lit(accuracy)
    aggs = [F.percentile_approx(F.when(~F.isnan(n), n), probs, acc) for n in views]
    row = df.agg(*aggs, F.bool_or(bad if bad is not None else F.lit(False))).first()
    out = []
    for num, qs in zip(views, row):
        qs = qs or []
        vlo, vhi = (qs[0], qs[-1]) if qs else (float("nan"), float("nan"))
        bnds = sorted(set(qs[1:-1]))
        out.append({
            "num": num, "bnds": bnds, "vlo": vlo, "vhi": vhi,
            "bexpr": bucket_assignment_expr(num, bnds, vlo, vhi),
        })
    return out, bool(row[-1])


def _halo_rolling(
    df: DataFrame,
    col: str,
    order_by: Sequence,
    output_col: str,
    return_type: T.DataType | str,
    *,
    window: int,
    min_periods: int,
    center: bool,
    func: Callable | str,
    raw: bool,
    vectorize: bool = True,
    closed: str | None = None,
    index_col: str | None = None,
    win_args: dict | None = None,
    pair_col: str | None = None,
    weighted: dict | None = None,
) -> DataFrame | None:
    """Parallel global rolling: literal range buckets + boundary fixup.

    ``weighted`` (r8): a dict ``{wt, minp, offset, ddof}`` routes the
    builtin branch through ``_weighted_window_expr`` — the global
    ``win_type`` window becomes a bucket-partitioned slot expression
    instead of the former always-single-partition total order. var/std's
    rotating weight alignment needs each row's GLOBAL position; it is
    reconstructed from exact per-bucket row counts, which the context
    collect already carries on every context row, plus the per-bucket
    context-row offsets.

    Shape (the reference's overlap-chunk design, ``series_rolling.py:
    16,47``, restructured so the FULL source lineage is evaluated exactly
    once — the r3 form re-evaluated it three times: boundary sampling,
    the big pass, and a JVM edge branch that re-scanned everything and
    paid four full-width window sorts; at bench scale that tripled the
    source cost and erased the parallelism win):

    BUILD time (all memoized per plan+data, run once):

    1. ``_range_bucket_build`` rejects NULL (and float NaN) order keys
       with ``ValueError`` up front — window membership is undefined
       for them, and pandas and Spark disagree on where nulls sort —
       and samples bucket boundaries, embedded as literals, so every
       consumer buckets identically BY CONSTRUCTION — correctness never
       rides on Catalyst exchange reuse. Ties share a bucket (strict
       ``>`` against boundaries), like ``repartitionByRange``.
    2. Each bucket's boundary CONTEXT rows — the first/last ``edge``
       rows by per-bucket row_number, ≈ buckets × 2(window−1) narrow
       rows total — are collected to the driver. From them the driver
       assembles, for every bucket, the ``halo_before`` rows that
       globally precede it and the ``halo_after`` rows that follow it
       (chained across buckets smaller than the halo, so context is
       complete by induction). This is the reference's overlap-chunk
       over-read (``series_rolling.py:16,47``) hoisted to build time.
       The extraction is a narrow-projection shuffle + per-bucket sort
       over ``_memo.range_bucket_count`` buckets, clamped so the
       collected context stays ≤ ~2M rows even for very large windows.

    EXECUTE time — ONE job, one shuffle, one Python pass: the context
    rows union in as tagged extra rows (``_with_ctx``, the same way the
    JVM builtin, weighted and symbolic paths reach across boundaries),
    and one ``_memo.bucketed_apply`` stage sorts each bucket, rolls it
    and drops the tagged rows. Every input row is emitted exactly once
    with its final value: there is no drop/fix reconciliation between
    branches (the r3 design's row-loss hazard on tied or null order
    keys), no second lineage evaluation, no join.

    When the input is one range bucket (at most 1 MiB by the plan's
    ``sizeInBytes``) the bucket machinery is skipped entirely and no
    build job runs: a single partition already sees the whole order.
    So is it under a strictLazy cold build, warned ``SINGLE-PARTITION``
    for UDFs (the caller warns for builtins). A UDF then rolls the
    whole sorted frame in one task (``_single_partition``).

    MULTI-COLUMN order keys (r7): buckets are assigned from the FIRST
    order column alone — bucket-of-first-column is monotone under the
    lexicographic order because ties on the first column always share a
    bucket (strict ``>`` against boundaries) — while every sort (window
    specs, context extraction, per-bucket pandas) uses the full tuple.
    The first column must be numeric/date/timestamp to be bucketed (it
    feeds the quantile sampling); later columns may be any atomic
    orderable type. A constant first column degenerates to one bucket —
    correct, effectively single-partition. A UDF over any other first
    column of an atomic type rolls in one task; a ``Column`` order
    expression or a non-atomic order column raises ``TypeError``.

    Returns None for builtins when the bucket machinery is skipped or
    the shape doesn't qualify — caller falls back to the
    single-partition window form.
    The order tuple should be a total order; ties make window
    composition nondeterministic (same caveat as pandas on a non-unique
    index) — which tied rows land in a boundary context set is likewise
    arbitrary, affecting window VALUES on ties only, never row
    membership.
    """
    try:
        order_cols = _udf_order_cols(df, order_by, "global rolling UDF")
    except TypeError:
        if isinstance(func, str):
            return None  # the caller's unpartitioned window
        raise
    ord_col = order_cols[0]

    spark = df.sparkSession
    n_buckets = range_bucket_count(df)
    one_task = n_buckets == 1
    bucketable = not one_task and isinstance(df.schema[ord_col].dataType, _ORDERABLE)
    lo, hi = _frame_bounds(window, center, closed)
    halo_before = -lo  # rows whose frame reaches into the previous bucket
    halo_after = max(hi, 0)
    edge = halo_before + halo_after  # context rows needed per boundary

    out_field = T.StructField(output_col, _to_dtype(return_type), True)
    out_schema = _out_schema(df, out_field)
    out_names = [f.name for f in out_schema.fields]
    ix = index_col if (index_col and not raw) else ord_col
    null_msg = _rolling_null_msg(order_cols)
    # the columns a context row carries
    narrow_cols = list(dict.fromkeys([*order_cols, col, ix] + ([pair_col] if pair_col else [])))

    def roll_bucket(g: pd.DataFrame) -> np.ndarray:
        s = pd.Series(g[col].to_numpy(), index=g[ix].to_numpy())
        return _rolling_series(
            s, window, min_periods, center, func, raw, vectorize, closed
        ).to_numpy()

    # ---- BUILD time (memoized): boundaries, null check, context rows
    bkt, is_ctx = fresh_column(df, "__bkt__"), fresh_column(df, "__ctx__")
    memo = plan_key = None
    if bucketable:
        # clamped so the collected context stays bounded even for very
        # large windows (≈ n_buckets × 2·edge narrow rows)
        if edge:
            n_buckets = max(2, min(n_buckets, 2_000_000 // (2 * edge)))
        # Memo key = plan identity AND data identity (semanticHash alone
        # would hit on overwritten paths and serve STALE context rows —
        # review finding r4, confirmed by repro); None → never memoize.
        # The temp column names are part of the key: the memoized
        # context frame carries them.
        plan_key = plan_data_key(
            df, tuple(order_cols), col, ix, pair_col, n_buckets, lo, hi,
            bkt, is_ctx,
        )
        memo = _HALO_MEMO.get(plan_key) if plan_key is not None else None
    if memo is None and bucketable and not strict_lazy(spark):
        bounds = _range_bucket_build(df, order_cols, n_buckets, null_msg=null_msg)
        bucket_expr = bounds["bexpr"]
        # per-bucket boundary context rows → driver. A bucket's tail
        # ``halo_before`` rows serve every LATER bucket's
        # before-context (chained when buckets are smaller than the
        # halo: such buckets collect entirely), head ``halo_after``
        # rows serve earlier buckets' after-context. Which tied rows
        # are picked is arbitrary (row_number), affecting tie VALUES
        # only — membership of real rows is decided in the big pass
        # alone.
        # weighted var/std's global row index reads per-bucket offsets:
        # with one bucket, or no context rows (window 1: weights
        # indexed mod 1), the zero offsets leave the plain row_number
        n_b = len(bounds["bnds"]) + 1
        ctx_union, starts, npre = None, [0] * n_b, [0] * n_b
        if edge and bounds["bnds"]:
            # one ascending row_number and the bucket's row count pick
            # both ends: a second, descending row_number would cost a
            # second sort, and on tied keys its positions need not
            # mirror the ascending ones
            na, cnt = fresh_column(df, "__na__"), fresh_column(df, "__cnt__")
            w_a = Window.partitionBy(bkt).orderBy(*[F.col(c) for c in order_cols])
            ctx_pdf = (
                df.select(*narrow_cols)
                .withColumn(bkt, bucket_expr)
                .withColumn(na, F.row_number().over(w_a))
                .withColumn(cnt, F.count(F.lit(1)).over(Window.partitionBy(bkt)))
                .filter(
                    (F.col(na) <= halo_after)
                    | (F.col(na) > F.col(cnt) - F.lit(halo_before))
                )
                .select(*narrow_cols, bkt, cnt)
                .toPandas()
                .sort_values([bkt, *order_cols], kind="mergesort")
            )
            bkts = ctx_pdf[bkt].to_numpy()
            # every non-empty bucket has a context row carrying its row
            # count: the global row index needs no count job
            first = ctx_pdf.drop_duplicates(bkt)
            counts = np.zeros(n_b, dtype="int64")
            counts[first[bkt].to_numpy()] = first[cnt].to_numpy()
            starts = np.concatenate([[0], np.cumsum(counts)[:-1]]).tolist()
            npre, union_parts = [], []
            for b in range(n_b):
                # bkts is sorted: per-bucket slices via binary search,
                # not an O(ctx_rows) scan per bucket (O(buckets ×
                # ctx_rows) total was a review finding at the clamp)
                pos_l = np.searchsorted(bkts, b, side="left")
                pos_r = np.searchsorted(bkts, b, side="right")
                pre = np.arange(max(0, pos_l - halo_before), pos_l)
                post = np.arange(pos_r, min(len(bkts), pos_r + halo_after))
                npre.append(len(pre))
                if len(pre) or len(post):
                    sel = ctx_pdf.iloc[np.concatenate([pre, post])][narrow_cols].copy()
                    sel[bkt] = b
                    union_parts.append(sel)
            if union_parts:
                ctx_union = pd.concat(union_parts, ignore_index=True)
        # the Column itself is memoized: building the micro-bucket
        # lookup literal costs a py4j round trip per element, which
        # would tax every re-build of the same plan. With
        # plan_key=None, memo stays a build-local dict (no caching
        # across builds — data identity couldn't be established).
        memo = {
            "bexpr": bucket_expr, "ctx_union": ctx_union,
            "starts": starts, "npre": npre,
        }
        if plan_key is not None:
            memo_put(_HALO_MEMO, plan_key, memo)
    if memo is None:
        # an input that fits one task (a single partition already sees
        # the whole order), a first order column the buckets can't
        # sample, or a strictLazy cold build. Builtin aggs take the
        # caller's plain unpartitioned window; UDFs roll the whole frame
        # in one task. The NULL/NaN order-key contract still holds,
        # checked in the task — behavior must not diverge on the input
        # size.
        if isinstance(func, str):
            return None
        if not one_task:
            _warn_single_partition(
                f"global rolling({window}) UDF",
                "the first order column is numeric/date/timestamp and the "
                "plan can run its bounded build jobs (pre-build once "
                "outside strict-lazy scope; the result is memoized per "
                "plan+data)",
            )
        return _single_partition(df, order_cols, null_msg, out_field, roll_bucket)
    ctx_union = memo["ctx_union"]

    # ---- EXECUTE
    bucketed = df.withColumn(bkt, memo["bexpr"].cast("int"))

    def _with_ctx(data: DataFrame) -> DataFrame:
        """Union the boundary-context rows in as tagged extra rows so
        frames reach across bucket boundaries (they filter back out
        after the window). The context DataFrame is memoized alongside
        the plan fragments: re-building the same rolling otherwise pays
        a driver-side createDataFrame (~0.15 s at 128 buckets) per
        build."""
        data = data.withColumn(is_ctx, F.lit(False))
        if ctx_union is None:
            return data
        ctx_sdf = memo.get("ctx_sdf")
        if ctx_sdf is None:
            ctx_sdf = spark.createDataFrame(ctx_union)
            for c in narrow_cols:
                ctx_sdf = ctx_sdf.withColumn(c, F.col(c).cast(df.schema[c].dataType))
            ctx_sdf = (
                ctx_sdf.withColumn(bkt, F.col(bkt).cast("int"))
                .withColumn(is_ctx, F.lit(True))
            )
            memo["ctx_sdf"] = ctx_sdf
        return data.unionByName(ctx_sdf, allowMissingColumns=True)

    if isinstance(func, str):
        # builtin agg: the single-partition total-order window becomes a
        # bucket-partitioned JVM window — same agg/gate expressions as
        # the unpartitioned form (pandas NaN-skip, count's row gate),
        # frames completed across boundaries by the context rows. One
        # shuffle on the bucket id, whole-stage codegen, no Python.
        spec = Window.partitionBy(*bucket_keys(df, bkt)).orderBy(*[F.col(c) for c in order_cols])
        if weighted is None:
            res = _gated_builtin(
                df, col, func, spec.rowsBetween(lo, hi), min_periods, win_args
            )
        else:
            # var/std's rotating weight alignment reads each real row's
            # GLOBAL 0-based index: (rows in earlier buckets) +
            # (per-bucket row_number, which counts the prepended
            # context rows) − (context rows before this bucket's real
            # rows) − 1.
            gidx = F.lit(0)  # sum/mean never evaluate it
            if func in ("var", "std"):
                bix = (F.col(bkt) + F.lit(1)).cast("int")
                gidx = (
                    F.element_at(literal_array(memo["starts"]), bix)
                    + F.row_number().over(spec)
                    - F.element_at(literal_array(memo["npre"]), bix)
                    - F.lit(1)
                )
            res = _weighted_window_expr(
                spec, col, window, weighted["wt"], weighted["minp"],
                weighted["offset"], func, weighted["ddof"], gidx,
            )
        return _over_buckets(df, _with_ctx(bucketed), bkt, output_col, res, ~F.col(is_ctx))

    # JVM path first: slot-arithmetic UDFs become a bucketed window
    # expression — context rows union in as tagged extra rows so frames
    # reach across bucket boundaries, then drop back out. No Python
    # workers, no Arrow, whole-stage codegen end to end.
    w2 = hi - lo + 1
    # (single-column orders only: the slot lag/lead window and its
    # validation probe are built over the one order column)
    if (
        raw and vectorize and callable(func) and min_periods >= w2
        and len(order_cols) == 1
    ):
        # cache the probe result only when BOTH the plan and the func
        # are identifiable — an id()-based fallback key could collide
        # after GC address reuse and serve another func's expression
        # (review finding r4)
        try:
            func_key = hash(__import__("cloudpickle").dumps(func))
        except Exception:  # noqa: BLE001 — unpicklable func: probe fresh
            func_key = None
        sym_key = (
            (plan_key, func_key, window, min_periods, center, closed)
            if plan_key is not None and func_key is not None
            else None
        )
        if sym_key is not None and sym_key in _SYM_MEMO:
            sym = _SYM_MEMO[sym_key]
        elif strict_lazy(spark):
            # the validation probe is a (tiny, local-relation) Spark job
            # — under strictLazy skip it WITHOUT memoizing, falling back
            # to the pandas halo path, which is bit-exact: same
            # semantics, no job. Reachable only on a boundary-memo hit
            # (a cold boundary build already fell back upstream).
            sym = None
        else:
            sym = _symbolic_rolling_expr(
                df, func, col, ord_col, window,
                min_periods, center, closed, lo, hi, bkt,
            )
            if sym_key is not None:
                memo_put(_SYM_MEMO, sym_key, sym)
        if sym is not None:
            return _over_buckets(
                df, _with_ctx(bucketed), bkt, output_col,
                sym.cast(_to_dtype(return_type)), ~F.col(is_ctx),
            )

    # Python path: one bucketed stage over the same tagged union. Ties
    # on the first order key share a bucket, so a bucket's context rows
    # sort strictly before or after its own rows: each bucket rolls its
    # own rows with the context at both ends, then drops the context.
    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort", ignore_index=True)
        pdf[output_col] = roll_bucket(pdf)
        return pdf[~pdf[is_ctx]][out_names]

    return bucketed_apply(_with_ctx(bucketed), per_bucket, out_schema, bucket=bkt)


_EXPANDING_COMPOSABLE = frozenset(
    {"sum", "count", "mean", "avg", "min", "max", "std", "var"}
)
# range-bucket memo: plan+data key → boundaries (_range_bucket_build) or
# expanding moment seeds
_EXPB_MEMO: dict = {}


def _range_bucket_build(
    df: DataFrame,
    order_cols: Sequence[str],
    n_buckets: int,
    *,
    null_msg: str,
    micros: bool = False,
) -> dict | None:
    """The one boundary build of every global range-bucket window (halo
    rolling, expanding carry, global time rolling, the ewm carry
    scans): samples ``range_boundaries`` over the first of
    ``order_cols`` (epoch µs with ``micros``) and, in the same
    aggregate, flags NULL order keys — and NaN in float ones — in any
    of them, raising ``ValueError(null_msg)``. One aggregate straight
    off ``df`` (two jobs under AQE), no persist (caching the narrow
    column costs one more job than the rescan it saves), memoized per
    plan+data. Callers needing a shifted assignment (e.g.
    ``bucket_of(t + d)``) build it from the stored boundaries via
    ``bucket_assignment_expr``. Under strictLazy a cold build returns
    None (callers fall back to the lazy single-partition form); memo
    hits never run jobs.
    """
    plan_key = plan_data_key(df, "range_buckets", *order_cols, micros, n_buckets)
    memo = _EXPB_MEMO.get(plan_key) if plan_key is not None else None
    if memo is not None:
        return memo
    if strict_lazy(df.sparkSession):
        return None
    (memo,), has_bad = range_boundaries(
        df, order_cols[:1], n_buckets, micros=micros,
        bad=_bad_order_key(df, order_cols),
    )
    if has_bad:
        raise ValueError(null_msg)
    if plan_key is not None:
        memo_put(_EXPB_MEMO, plan_key, memo)
    return memo


def _bucketed_expanding(
    df: DataFrame, col: str, ord_col: str, func: str,
    min_periods: int, output_col: str,
) -> DataFrame | None:
    """Distributed exact GLOBAL expanding for composable builtin aggs.

    An expanding aggregate is a prefix scan; for aggs whose state
    composes (sum/count/min/max, mean from sum+count) it needs no
    total-order window: bucket rows on literal range boundaries (the
    same ``bucket_assignment_expr`` machinery as halo rolling and the
    global as-of join), run the expanding agg per bucket as a
    bucket-partitioned JVM window, and fold in each bucket's CARRY —
    the aggregate of all earlier buckets, from a per-bucket totals
    frame (≤ n_buckets rows) whose own prefix scan is a window over
    that tiny frame — broadcast-joined back on the bucket id. All JVM,
    one main shuffle plus one narrow totals scan. Integer sums compose
    exactly; float sums re-associate (last-ulp drift vs a sequential
    scan, same contract as the global ewm seed folds).

    std/var (ddof=1, like the single-partition F.var_samp form) also
    ride the buckets, but NOT via the cancellation-prone Σx² sums:
    per-bucket (n, mean, M2) fold into seeds on the driver with Chan's
    parallel-variance merge (≤ n_buckets rows collected at build,
    memoized — the ewm seed-chain pattern), and each row does one
    expression-level Chan step: seed ⊕ within-bucket prefix. The
    non-decomposable order statistics (median/quantile/rank/sem/
    skew/kurt) keep the single-partition form. Under strictLazy a cold
    build returns None (the single-partition window is correct and
    fully lazy). NULL/NaN order keys are rejected, as in halo rolling.

    The bucket count is ``_memo.range_bucket_count``, from the input's
    size alone. Returns None when that count is 1 (at most 1 MiB by the
    plan's ``sizeInBytes``; the caller's unpartitioned window then runs
    with no build job) or when the shape doesn't qualify.
    """
    spark = df.sparkSession
    n_buckets = range_bucket_count(df)
    if n_buckets == 1 or not isinstance(df.schema[ord_col].dataType, _ORDERABLE):
        return None
    memo = _range_bucket_build(
        df, [ord_col], n_buckets, null_msg=_expanding_null_msg([ord_col])
    )
    if memo is None:
        return None

    v = F.col(col)
    if isinstance(df.schema[col].dataType, (T.DoubleType, T.FloatType)):
        v = F.when(~F.isnan(v), v)
    bkt = fresh_column(df, "__bkt__")
    data = df.withColumn(bkt, memo["bexpr"].cast("int"))
    wb = (
        Window.partitionBy(*bucket_keys(df, bkt))
        .orderBy(F.col(ord_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    if func in ("std", "var"):
        # moments don't compose as plain window sums without the
        # cancellation-prone Σx² form — instead fold each bucket's
        # (n, mean, M2) into per-bucket SEEDS on the driver with Chan's
        # parallel-variance merge (numerically stable; ≤ n_buckets rows
        # collected, the ewm seed-chain pattern), ship them as literal
        # lookup arrays, and do ONE Chan step per row in expressions:
        # seed ⊕ within-bucket expanding prefix.
        seeds_key = plan_data_key(df, "expanding_moments", ord_col, col, n_buckets)
        seeds = _EXPB_MEMO.get(seeds_key) if seeds_key is not None else None
        if seeds is None:
            if strict_lazy(spark):
                return None
            rows = (
                data.groupBy(bkt)
                .agg(
                    F.count(v).alias("n"),
                    F.avg(v).alias("m"),
                    F.var_pop(v).alias("vp"),
                )
                .collect()  # bounded: ≤ n_buckets rows by construction
            )
            per = {int(r[bkt]): r for r in rows}
            n0, m0, M0 = 0.0, 0.0, 0.0
            max_b = max(per) if per else 0
            ns, ms, m2s = [], [], []
            for b in range(max_b + 2):  # seed for bucket b = state BEFORE b
                ns.append(n0)
                ms.append(m0)
                m2s.append(M0)
                r = per.get(b)
                if r is None or not r["n"]:
                    continue
                nb, mb = float(r["n"]), float(r["m"])
                m2b = float(r["vp"] or 0.0) * nb
                tot_n = n0 + nb
                delta = mb - m0
                M0 = M0 + m2b + delta * delta * n0 * nb / tot_n
                m0 = m0 + delta * nb / tot_n
                n0 = tot_n
            seeds = {"ns": ns, "ms": ms, "m2s": m2s}
            if seeds_key is not None:
                memo_put(_EXPB_MEMO, seeds_key, seeds)
        bi = (F.col(bkt) + 1).cast("int")
        s_n = F.element_at(literal_array(seeds["ns"]), bi)
        s_m = F.element_at(literal_array(seeds["ms"]), bi)
        s_m2 = F.element_at(literal_array(seeds["m2s"]), bi)
        n_w = F.count(v).over(wb).cast("double")
        m_w = F.avg(v).over(wb)
        m2_w = F.coalesce(F.var_pop(v).over(wb), F.lit(0.0)) * n_w
        n_t = s_n + n_w
        delta = m_w - s_m
        chan = s_m2 + m2_w + F.try_divide(delta * delta * s_n * n_w, n_t)
        m2_t = (
            F.when(s_n == 0, m2_w)
            .when(n_w == 0, s_m2)
            .otherwise(chan)
        )
        var_e = F.try_divide(m2_t, n_t - F.lit(1.0))  # ddof=1, as the
        # single-partition F.var_samp/stddev_samp form (n=1 → NULL)
        res = F.when(
            n_t >= F.lit(float(max(min_periods, 1))),
            F.sqrt(var_e) if func == "std" else var_e,
        )
        return _over_buckets(df, data, bkt, output_col, res)
    tot = data.groupBy(bkt).agg(
        F.count(v).alias("__n__"),
        F.count(F.lit(1)).alias("__rows__"),
        F.sum(v).alias("__s__"),
        F.min(v).alias("__mn__"),
        F.max(v).alias("__mx__"),
    )
    # prefix carry over the tiny totals frame (≤ n_buckets rows — the
    # one intentionally single-partition window here; constant-keyed so
    # WindowExec's no-partition warning stays meaningful, r11 verdict;
    # see _memo.constant_partition_key)
    wc = Window.partitionBy(constant_partition_key(bkt)).orderBy(
        bkt
    ).rowsBetween(Window.unboundedPreceding, -1)
    # the carry columns join onto the user's rows: fresh names
    cn, crows, cs, cmn, cmx = (
        fresh_column(data, c) for c in ("__cn__", "__crows__", "__cs__", "__cmn__", "__cmx__")
    )
    carry = tot.select(
        bkt,
        F.sum("__n__").over(wc).alias(cn),
        F.sum("__rows__").over(wc).alias(crows),
        F.sum("__s__").over(wc).alias(cs),
        F.min("__mn__").over(wc).alias(cmn),
        F.max("__mx__").over(wc).alias(cmx),
    )
    data = data.join(F.broadcast(carry), bkt, "left")
    n_tot = F.coalesce(F.col(cn), F.lit(0)) + F.count(v).over(wb)
    rows_tot = F.coalesce(F.col(crows), F.lit(0)) + F.count(F.lit(1)).over(wb)

    def _add_keep_null(a: Column, b: Column) -> Column:
        # NULL-skipping sum composition that preserves the agg dtype
        # (coalesce-to-0.0 would silently widen integer sums)
        return F.when(a.isNull(), b).when(b.isNull(), a).otherwise(a + b)

    if func == "count":
        val = n_tot
    elif func == "sum":
        val = _add_keep_null(F.col(cs), F.sum(v).over(wb))
    elif func in ("mean", "avg"):
        s_tot = _add_keep_null(F.col(cs), F.sum(v).over(wb))
        val = F.try_divide(s_tot.cast("double"), n_tot.cast("double"))
    elif func == "min":
        val = F.least(F.col(cmn), F.min(v).over(wb))
    else:  # max
        val = F.greatest(F.col(cmx), F.max(v).over(wb))
    gate = (rows_tot if func == "count" else n_tot) >= F.lit(min_periods)
    res = _minp0_sum_fix(F.when(gate, val), func, min_periods)
    return _over_buckets(df, data, bkt, output_col, res)


def _grouped_pandas_window(
    df: DataFrame,
    col: str,
    order_by: Sequence[str],
    partition_by: Sequence[str],
    output_col: str,
    return_type: T.DataType | str,
    pandas_op,
    index_col: str | None = None,
) -> DataFrame:
    """Arbitrary-UDF grouped window: run the stock pandas
    rolling/expanding op inside each group — the exact semantics the
    reference implements per group (``rolling_groupby.py:63-67``),
    with linear state instead of ``collect_list``'s O(frame) arrays per
    row.

    Scale shape (r7): ``applyInPandas`` is keyed on a COARSE bucket of
    the group keys (``_memo.bucketed_apply``) and each bucket call runs
    the pandas op over its real groups in one loop. Keying on the raw
    group would pay one Arrow round trip + UDF invocation PER GROUP
    (see ``_memo.coarse_group_count``): with many tiny groups that
    overhead IS the runtime (a 100 TB corpus has billions of such
    groups). The stage runs one task per shuffle partition whatever
    the group count — without that rule AQE coalesced a small bucketed
    shuffle into one task — and a giant group is one task either way.

    ``index_col``: values to use as the rolled Series' index. Default
    (None) is a group-positional RangeIndex — which is exactly what
    pandas ``GroupBy.rolling`` hands ``raw=False`` UDFs (verified
    differentially: pandas re-indexes each group positionally before
    rolling, regardless of the frame's index).
    """
    keys = list(partition_by)
    # 100×-scale guard (r9 verdict task 1): the bucketed applyInPandas
    # still lands a giant GROUP whole in one task — probe and warn with
    # the JVM alternative named. Advisory only.
    from pandarallel_spark.operators._skew import warn_on_group_skew

    warn_on_group_skew(
        df,
        keys,
        op_name="grouped pandas window (rolling/expanding UDF branch)",
        alternative="a builtin func name (sum/mean/min/max/...) — those "
        "run as JVM window aggregates that never hold a whole group in "
        "Python",
    )
    order_cols = [c if isinstance(c, str) else c._jc.toString() for c in order_by]
    out_schema = _out_schema(
        df, T.StructField(output_col, _to_dtype(return_type), True)
    )
    out_names = [f.name for f in out_schema.fields]

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [*keys, *order_cols], kind="mergesort", ignore_index=True
        )
        outs = []
        # dropna=False: Spark groups NULL keys; pandas would drop them.
        # sort=False over the pre-sorted frame keeps groups in frame
        # order, so the concatenated results align row-for-row.
        for _, g in pdf.groupby(keys, sort=False, dropna=False):
            idx = (
                g[index_col].to_numpy()
                if index_col is not None
                else np.arange(len(g))
            )
            s = pd.Series(g[col].to_numpy(), index=idx)
            outs.append(pandas_op(s).to_numpy())
        if not outs:
            pdf[output_col] = []
            return pdf[out_names]
        pdf[output_col] = np.concatenate(outs)
        return pdf[out_names]

    return bucketed_apply(df, per_bucket, out_schema, keys=keys)


def _to_dtype(t: T.DataType | str) -> T.DataType:
    if isinstance(t, str):
        return T.StructType.fromDDL(f"x {t}")[0].dataType
    return t


def expanding_apply(
    df: DataFrame,
    col: str,
    func: str | Callable,
    order_by: str | Column | Sequence,
    *,
    partition_by: Sequence[str] = (),
    min_periods: int = 1,
    raw: bool = True,
    output_col: str | None = None,
    return_type: T.DataType | str = "double",
    win_args: dict | None = None,
) -> DataFrame:
    """Expanding (cumulative) window: unboundedPreceding → current row.

    pandas default ``min_periods=1``; the reference's expanding tests use
    ``expanding(min_periods)`` with a weighted-sum UDF
    (``tests/test_pandarallel.py:308-345``).

    Scale note: the reference only patches *grouped* expanding
    (``core.py:538-545``) — that path partitions by key and scales.
    The ungrouped form with an opaque UDF is inherently a total order
    whose every row depends on the full prefix: it runs stock pandas
    ``expanding(min_periods).apply(func, raw=raw)`` over the whole
    frame in one task (``_single_partition``, indexed by the first
    order column, warned ``SINGLE-PARTITION`` above 1 MiB), exactly
    what pandas pays serially. NULL/NaN order keys raise
    ``ValueError`` there, as in the builtin paths. Builtin aggregates
    stay linear and bucketed, JVM-side.
    """
    order_by = [order_by] if not isinstance(order_by, (list, tuple)) else list(order_by)
    output_col = output_col or f"{col}_expanding_{func if isinstance(func, str) else 'apply'}"

    spec = _window_spec(order_by, partition_by).rowsBetween(Window.unboundedPreceding, 0)

    if isinstance(func, str):
        if (
            not partition_by
            and func in _EXPANDING_COMPOSABLE
            and len(order_by) == 1
            and isinstance(order_by[0], str)
        ):
            # GLOBAL composable builtin: bucket + carry instead of a
            # single-partition total-order window (falls back below
            # when the shape doesn't qualify or under strictLazy)
            out = _bucketed_expanding(
                df, col, order_by[0], func, min_periods, output_col
            )
            if out is not None:
                return out
            if range_bucket_count(df) > 1:
                _warn_single_partition(
                    f"global expanding {func!r}",
                    "the order column is numeric/date/timestamp and the "
                    "plan can run its bounded build jobs (pre-build once "
                    "outside strict-lazy scope)",
                )
        res = _gated_builtin(df, col, func, spec, min_periods, win_args)
        if not partition_by:
            res = _checked_order(df, order_by, _expanding_null_msg(order_by), res)
        return df.withColumn(output_col, res)

    if partition_by:
        # collect_list over an expanding frame is O(n²) state per group;
        # run pandas expanding inside each group instead (linear, exact)
        return _grouped_pandas_window(
            df, col, order_by, partition_by, output_col, return_type,
            lambda s: s.expanding(min_periods=min_periods).apply(func, raw=raw),
        )

    # GLOBAL UDF: every row depends on the whole prefix — stock pandas
    # expanding over the sorted frame in one task
    order_cols = _udf_order_cols(df, order_by, "global expanding UDF")
    if range_bucket_count(df) > 1:
        _warn_single_partition(
            "global expanding UDF",
            "func is a composable builtin name "
            f"({'/'.join(sorted(_EXPANDING_COMPOSABLE))}) over one order column",
        )

    def expand(pdf: pd.DataFrame) -> np.ndarray:
        s = pd.Series(pdf[col].to_numpy(), index=pdf[order_cols[0]].to_numpy())
        return s.expanding(min_periods=min_periods).apply(func, raw=raw).to_numpy()

    return _single_partition(
        df, order_cols, _expanding_null_msg(order_cols),
        T.StructField(output_col, _to_dtype(return_type), True), expand,
    )


# ewm carry-scan memo: plan_data_key(...) → {bucket-assignment Column, per-bucket seeds}
_EWM_MEMO: dict = {}


def resolve_ewm_alpha(
    com: float | None = None,
    span: float | None = None,
    halflife: float | None = None,
    alpha: float | None = None,
) -> float:
    """pandas' decay parameterizations, one resolved alpha (exactly the
    published formulas): com → 1/(1+com), span → 2/(span+1),
    halflife → 1 − exp(ln(0.5)/halflife)."""
    import math

    given = [p is not None for p in (com, span, halflife, alpha)]
    if sum(given) != 1:
        raise ValueError("pass exactly one of com, span, halflife, alpha")
    if alpha is not None:
        a = float(alpha)
    elif com is not None:
        a = 1.0 / (1.0 + float(com))
    elif span is not None:
        a = 2.0 / (float(span) + 1.0)
    else:
        a = 1.0 - math.exp(math.log(0.5) / float(halflife))
    if not 0.0 < a <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {a}")
    return a


def _ewm_scan(
    vals: np.ndarray,
    alpha: float,
    adjust: bool,
    ignore_na: bool,
    seed: dict | None = None,
) -> tuple[np.ndarray, dict]:
    """ewm-mean scan for one chunk, mirroring pandas ewm.pyx (verified
    differentially): per observation, the carried weight decays by
    (1−α)^δ — δ = positions since the previous observation for
    ignore_na=False (NaN rows keep decaying), 1 for ignore_na=True —
    then mean' = (old_wt·mean + new_wt·x)/(old_wt + new_wt) with
    new_wt = 1 (adjust) or α; adjust accumulates old_wt += new_wt,
    non-adjust renormalizes old_wt back to 1. NaN rows re-emit the
    running mean. ``seed`` carries the scan state across chunks:
    {w, old_wt, obs, pend} (pend = rows since the last observation at
    the chunk boundary). Returns (means, end_state).

    adjust=True (the pandas default) runs VECTORIZED — the per-row
    Python loop dominated the executor scan at scale (VERDICT r6) —
    via ``_ewm_scan_adjust_vec``; the loop below serves adjust=False,
    whose renormalizing recurrence isn't a linear fold."""
    if adjust:
        return _ewm_scan_adjust_vec(vals, alpha, ignore_na, seed)
    one_minus = 1.0 - alpha
    new_wt = 1.0 if adjust else alpha
    s = seed or {}
    w = float(s.get("w", np.nan))
    old_wt = float(s.get("old_wt", 1.0))
    obs = int(s.get("obs", 0))
    pend = int(s.get("pend", 0))
    out = np.empty(len(vals), dtype="float64")
    for j, x in enumerate(vals):
        if np.isnan(x):
            if not ignore_na:
                pend += 1
            out[j] = w if obs else np.nan
            continue
        if obs == 0:
            w, old_wt = float(x), 1.0
        else:
            delta = (pend + 1) if not ignore_na else 1
            old_wt *= one_minus**delta
            w = (old_wt * w + new_wt * x) / (old_wt + new_wt)
            old_wt = (old_wt + new_wt) if adjust else 1.0
        obs += 1
        pend = 0
        out[j] = w
    return out, {"w": w, "old_wt": old_wt, "obs": obs, "pend": pend}


def _ewm_decay_cutoff(alpha: float) -> int:
    """Steps after which (1−α)^s underflows to EXACTLY 0.0 in float64
    (smallest denormal ≈ 5e-324, −ln ≈ 745): beyond this, a carried
    seed contributes bit-exact nothing to the scan."""
    import math

    return int(np.ceil(745.0 / -math.log1p(-alpha)))


def _ewm_scan_adjust_vec(
    vals: np.ndarray,
    alpha: float,
    ignore_na: bool,
    seed: dict | None = None,
) -> tuple[np.ndarray, dict]:
    """adjust=True chunk scan with no per-row Python loop (VERDICT r6):
    the seeded mean at observation i is an affine correction of the
    UNSEEDED scan, mean_i = (num_u(i) + M·W·dec_i)/(den_u(i) + W·dec_i),
    with (num_u, den_u) the unnormalized numerator/denominator of the
    unseeded recurrence, (M, W) the incoming seed's (mean, old_wt), and
    dec_i = (1−α)^(pend + p_i + 1) the seed's decay to observation i
    (observation COUNT exponent for ignore_na=True). dec underflows to
    exactly 0.0 past ``_ewm_decay_cutoff`` steps, so the correction is
    computed only on that prefix (pandas' C ``ewm.sum`` over the slice);
    the rest of the chunk IS pandas' C ``ewm.mean`` — the whole scan
    costs one pandas ewm pass regardless of chunk size. Re-associates
    the same sums as the sequential recurrence — agreement to float
    ulps (differential tests pin rtol 1e-9). NaN rows forward-fill;
    rows before the first local observation emit the seed mean."""
    n = len(vals)
    s = seed or {}
    W = float(s.get("old_wt", 1.0))
    M = float(s.get("w", np.nan))
    sobs = int(s.get("obs", 0))
    pend = int(s.get("pend", 0))
    if n == 0:
        return np.empty(0, dtype="float64"), {
            "w": M, "old_wt": W, "obs": sobs, "pend": pend,
        }
    isnan = np.isnan(vals)
    obs_idx = np.nonzero(~isnan)[0]
    nobs = len(obs_idx)
    if nobs == 0:
        out = np.full(n, M if sobs else np.nan)
        if not ignore_na:
            pend += n
        return out, {"w": M, "old_wt": W, "obs": sobs, "pend": pend}
    kw = dict(alpha=alpha, adjust=True, ignore_na=ignore_na)
    one_minus = 1.0 - alpha
    cutoff = _ewm_decay_cutoff(alpha)
    end_pend = (n - 1 - int(obs_idx[-1])) if not ignore_na else 0
    # den_u at the LAST observation via the suffix that hasn't
    # underflown (terms beyond cutoff are exactly 0.0)
    if ignore_na:
        tail = min(nobs, cutoff + 1)
        d_last = float(np.sum(one_minus ** np.arange(tail, dtype="float64")))
    else:
        p_last = int(obs_idx[-1])
        tail_idx = obs_idx[obs_idx >= p_last - cutoff]
        d_last = float(
            np.sum(one_minus ** (p_last - tail_idx).astype("float64"))
        )
    out = pd.Series(vals).ewm(**kw).mean().to_numpy()
    if sobs == 0:
        # unseeded: pandas' own mean IS the scan (bit-exact C recurrence)
        return out, {
            "w": float(out[obs_idx[-1]]),
            "old_wt": d_last,
            "obs": nobs,
            "pend": end_pend,
        }
    # prefix where the seed still contributes: steps_i ≤ cutoff
    if ignore_na:
        k = min(nobs, max(0, cutoff))
        steps_p = np.arange(1, k + 1, dtype="float64")
    else:
        k = int(np.searchsorted(obs_idx, cutoff - 1 - pend, side="right"))
        steps_p = (obs_idx[:k] + 1 + pend).astype("float64")
    dec_last = 0.0
    if k:
        pe = int(obs_idx[k - 1])
        pre = vals[: pe + 1]
        n_u_p = pd.Series(pre).ewm(**kw).sum().to_numpy()[obs_idx[:k]]
        d_u_p = (
            pd.Series(np.where(np.isnan(pre), np.nan, 1.0))
            .ewm(**kw)
            .sum()
            .to_numpy()[obs_idx[:k]]
        )
        dec_p = one_minus**steps_p
        sm_p = (n_u_p + M * W * dec_p) / (d_u_p + W * dec_p)
        filled = np.full(pe + 1, np.nan)
        filled[obs_idx[:k]] = sm_p
        out[: pe + 1] = pd.Series(filled).ffill().to_numpy()
        # NaN rows after the last corrected obs carry ITS seeded value
        nxt = int(obs_idx[k]) if k < nobs else n
        out[pe + 1 : nxt] = sm_p[-1]
        if k == nobs:
            dec_last = float(dec_p[-1])
    out[: obs_idx[0]] = M
    return out, {
        "w": float(out[obs_idx[-1]]),
        "old_wt": d_last + W * dec_last,
        "obs": sobs + nobs,
        "pend": end_pend,
    }


def _ewm_bucket_summary(
    vals: np.ndarray, alpha: float, adjust: bool, ignore_na: bool
) -> dict:
    """Per-bucket facts pass 1 ships to the driver so chunk scans chain
    EXACTLY without seeing each other's rows. The state map of a whole
    bucket is closed-form in the incoming state:

    - adjust=True — (num, den) = (w·old_wt, old_wt) accumulate linearly:
      incoming state decays by (1−α)^D (D = the bucket's rows for
      ignore_na=False, observations for True) and the bucket's local
      unseeded (num, den) adds on.
    - adjust=False — old_wt renormalizes to 1 after every observation,
      so the bucket acts on the incoming MEAN as a composition of
      affines w ← a_i·w + b_i, one per observation, with
      a_i = f_i/(f_i+α), b_i = α·x_i/(f_i+α), f_i = (1−α)^{δ_i}. Only
      the FIRST observation's δ depends on the incoming pending gap, so
      it ships raw (x_first, leading_gap) and the driver composes it
      with the pre-composed (A_rest, B_rest) of observations 2..k.
    """
    obs_mask = ~np.isnan(vals)
    nobs = int(obs_mask.sum())
    d: dict = {
        "rows": len(vals), "nobs": nobs,
        "lead_gap": 0, "x_first": float("nan"), "A_rest": 1.0, "B_rest": 0.0,
    }
    # unseeded local scan: the truth for the bucket holding the global
    # first observation
    means, end = _ewm_scan(vals, alpha, adjust, ignore_na)
    d["end_w"], d["end_old_wt"], d["end_pend"] = (
        end["w"], end["old_wt"], end["pend"],
    )
    if not nobs:
        return d
    one_minus = 1.0 - alpha
    idx = np.nonzero(obs_mask)[0]
    d["lead_gap"] = int(idx[0]) if not ignore_na else 0
    d["x_first"] = float(vals[idx[0]])
    if adjust:
        return d
    # affine composition of observations 2..k (local deltas are known)
    A, B = 1.0, 0.0
    prev = idx[0]
    for i in idx[1:]:
        delta = int(i - prev) if not ignore_na else 1
        f = one_minus**delta
        a_i = f / (f + alpha)
        b_i = alpha * float(vals[i]) / (f + alpha)
        A, B = a_i * A, a_i * B + b_i
        prev = i
    d["A_rest"], d["B_rest"] = A, B
    return d


def ewm_moment(
    df: DataFrame,
    col: str,
    order_by: str | Column,
    func: str,
    *,
    partition_by: Sequence[str] = (),
    com: float | None = None,
    span: float | None = None,
    halflife: float | None = None,
    alpha: float | None = None,
    adjust: bool = True,
    ignore_na: bool = False,
    min_periods: int = 0,
    bias: bool = False,
    output_col: str | None = None,
) -> DataFrame:
    """pandas ``s.ewm(...).var()`` / ``.std()`` (``bias=False`` sample
    default).

    Grouped: stock pandas inside each group — bit-exact reference
    semantics, one shuffle on the key, fully parallel.

    Global + adjust=True (the pandas default): distributed via a
    FOUR-moment bucket carry on the same ``_carry_scan`` as
    ``ewm_mean`` — per bucket, the unnormalized weighted moments
    (N1=Σwx, N2=Σwx², W1=Σw, W2=Σw²) fold linearly under decay
    (W2 by the decay SQUARED), so each bucket ships one summary row,
    the driver chains seeds in order, and a second per-bucket pass
    computes var = debias·(N2/W1 − (N1/W1)²) with
    debias = W1²/(W1²−W2) for ``bias=False``. Values are centered per
    bucket by the bucket's own first observation before the moment
    sums, with affine re-shifts between buckets on the driver (var is
    shift-invariant; raw Σx² would cancel catastrophically when
    std ≪ mean — measured 8e-4 relative error at a 1e6 offset without
    centering, 1e-15 with). DIVERGENCE, documented: on NaN rows after a SINGLE
    total observation with ``bias=False``, pandas' float recurrence
    drifts its zero debias denominator and emits an artifact 0.0;
    the analytic formula emits NaN (exact den = 0). From the second
    observation on, results match to rtol ~1e-7.

    Global + adjust=False: the renormalizing recurrence isn't a linear
    moment fold — runs stock pandas in ONE partition (correct and
    lazy; adjust=True is the pandas default and the scale path).
    """
    if func not in ("var", "std"):
        raise ValueError(f"ewm_moment supports var/std, got {func!r}")
    a = resolve_ewm_alpha(com, span, halflife, alpha)
    output_col = output_col or f"{col}_ewm_{func}"

    def pandas_op(s: pd.Series) -> pd.Series:
        return getattr(
            s.ewm(alpha=a, adjust=adjust, ignore_na=ignore_na,
                  min_periods=min_periods),
            func,
        )(bias=bias)

    if partition_by:
        return _grouped_pandas_window(
            df, col,
            list(order_by) if isinstance(order_by, (list, tuple)) else [order_by],
            partition_by, output_col, "double", pandas_op,
        )
    ord_col = order_by if isinstance(order_by, str) else None
    if ord_col is None:
        raise TypeError("global ewm needs a named order column")
    if not adjust:
        return _ewm_single_partition(df, col, ord_col, output_col, pandas_op)

    one_minus = 1.0 - a
    kw = dict(alpha=a, adjust=True, ignore_na=ignore_na)
    # alpha whose weights are w²
    kw2 = dict(alpha=1.0 - one_minus * one_minus, adjust=True, ignore_na=ignore_na)
    minp_eff = max(min_periods, 1)
    zero = {"N1": 0.0, "N2": 0.0, "W1": 0.0, "W2": 0.0, "obs": 0, "pend": 0, "c": 0.0}

    def var_from(N1, N2, W1, W2):
        with np.errstate(divide="ignore", invalid="ignore"):
            m = N1 / W1
            vb = np.maximum(N2 / W1 - m * m, 0.0)
            if bias:
                return vb
            den = W1 * W1 - W2
            return np.where(den > 0, vb * W1 * W1 / den, np.nan)

    def summarize(q: np.ndarray, vals: np.ndarray) -> dict:
        # moments are shipped SHIFTED BY THE BUCKET'S OWN first
        # observation: shifting on the driver from raw sums
        # (N2 − 2c·N1 + c²·W1 with N2 ~ W·x²) cancels
        # catastrophically for data with a large common offset —
        # measured 8e-4 relative error at offset 1e6, vs 1e-15
        # with per-bucket shifts (re-shifts between buckets move by
        # data drift, not by the offset)
        isnan = np.isnan(vals)
        obs_idx = np.nonzero(~isnan)[0]
        d = {
            "rows": len(vals), "nobs": len(obs_idx),
            "end_pend": 0, "x_first": float("nan"),
            "N1e": 0.0, "N2e": 0.0, "W1e": 0.0, "W2e": 0.0,
        }
        if len(obs_idx):
            last = int(obs_idx[-1])
            d["end_pend"] = len(vals) - 1 - last if not ignore_na else 0
            c_b = float(vals[obs_idx[0]])
            d["x_first"] = c_b
            sv = pd.Series(vals - c_b)
            ind = pd.Series(np.where(isnan, np.nan, 1.0))
            d["N1e"] = float(sv.ewm(**kw).sum().to_numpy()[last])
            d["N2e"] = float((sv * sv).ewm(**kw).sum().to_numpy()[last])
            d["W1e"] = float(ind.ewm(**kw).sum().to_numpy()[last])
            d["W2e"] = float(ind.ewm(**kw2).sum().to_numpy()[last])
        return d

    def chain(rows):
        # The running state is kept at the CURRENT bucket's shift:
        # entering bucket b, re-shift from the previous shift c_prev to
        # c_b via the affine transform N1' = N1 − δ·W1,
        # N2' = N2 − 2δ·N1 + δ²·W1 with δ = c_b − c_prev (adjacent
        # decay-relevant buckets have close first observations, so δ is
        # data-drift-sized and the transform is well-conditioned). The
        # seed of b is the state AT shift c_b, plus c_b for pass 2.
        st = dict(zero)
        for row in rows:
            if row["nobs"] == 0:
                yield dict(st)
                if not ignore_na:
                    st["pend"] += int(row["rows"])
                continue
            c_b = float(row["x_first"])
            delta = c_b - st["c"] if st["obs"] else 0.0
            if delta:
                st = {
                    **st,
                    "N1": st["N1"] - delta * st["W1"],
                    "N2": st["N2"] - 2.0 * delta * st["N1"]
                    + delta * delta * st["W1"],
                }
            st["c"] = c_b
            yield dict(st)
            total_decay = (
                int(row["rows"]) - int(row["end_pend"])
                if not ignore_na
                else int(row["nobs"])
            )
            dec = one_minus ** (st["pend"] + total_decay)
            st = {
                "N1": row["N1e"] + st["N1"] * dec,
                "N2": row["N2e"] + st["N2"] * dec,
                "W1": row["W1e"] + st["W1"] * dec,
                "W2": row["W2e"] + st["W2"] * dec * dec,
                "obs": st["obs"] + int(row["nobs"]),
                "pend": int(row["end_pend"]),
                "c": c_b,
            }

    def apply(pdf: pd.DataFrame, sd: dict | None) -> np.ndarray:
        sd = sd or zero
        vals = pdf[col].to_numpy(dtype="float64")
        n = len(vals)
        isnan = np.isnan(vals)
        obs_idx = np.nonzero(~isnan)[0]
        out = np.full(n, np.nan)
        # rows before the first local obs emit the seed's var (the
        # debiased form is invariant under the uniform weight decay)
        seed_v = (
            float(var_from(*[np.asarray([sd[k]]) for k in ("N1", "N2", "W1", "W2")])[0])
            if sd["obs"] >= minp_eff
            else np.nan
        )
        if len(obs_idx) == 0:
            out[:] = seed_v
        else:
            # seed moments arrive at THIS bucket's shift (the local
            # first observation's value in the build data); express the
            # local sums at the same shift. A memo-stale shift is
            # benign like the mean path's boundaries: any common c
            # cancels exactly in the var formula — conditioning, not
            # correctness, rides on it.
            xs = vals - sd["c"] if sd["obs"] else vals - vals[obs_idx[0]]
            sv = pd.Series(xs)
            ind = pd.Series(np.where(isnan, np.nan, 1.0))
            n_u = sv.ewm(**kw).sum().to_numpy()[obs_idx]
            q_u = (sv * sv).ewm(**kw).sum().to_numpy()[obs_idx]
            w1_u = ind.ewm(**kw).sum().to_numpy()[obs_idx]
            w2_u = ind.ewm(**kw2).sum().to_numpy()[obs_idx]
            steps = (
                (obs_idx + 1 + sd["pend"]).astype("float64")
                if not ignore_na
                else np.arange(1, len(obs_idx) + 1, dtype="float64")
            )
            dec = one_minus**steps
            v = var_from(
                n_u + sd["N1"] * dec,
                q_u + sd["N2"] * dec,
                w1_u + sd["W1"] * dec,
                w2_u + sd["W2"] * dec * dec,
            )
            cum = sd["obs"] + np.arange(1, len(obs_idx) + 1)
            v = np.where(cum >= minp_eff, v, np.nan)
            filled = np.full(n, np.nan)
            filled[obs_idx] = v
            out = pd.Series(filled).ffill().to_numpy()
            out[: obs_idx[0]] = seed_v
        if func == "std":
            with np.errstate(invalid="ignore"):
                out = np.sqrt(out)
        return out

    return _carry_scan(
        df, col, ord_col, output_col,
        tag=("var/std", a, ignore_na),
        summarize=summarize,
        summary_schema="rows bigint, nobs bigint, end_pend bigint, "
        "x_first double, N1e double, N2e double, W1e double, W2e double",
        chain=chain, apply=apply, single=pandas_op,
    )


def _ewm_null_msg(ord_col: str, times: bool) -> str:
    what = (
        f"ewm times column {ord_col!r} with NULL/NaT values"
        if times
        else f"ewm over order column {ord_col!r} with NULL/NaN values"
    )
    return f"{what} is not supported: scan position is undefined for them"


def _ewm_single_partition(
    df: DataFrame, col: str, ord_col: str, output_col: str, pandas_op,
    times: bool = False,
) -> DataFrame:
    """One-task global ewm (``_single_partition``): stock pandas over
    the whole sorted frame — exact, lazy; used where the distributed
    fold doesn't apply, e.g. adjust=False var/std, and as the
    sequential reference branch of graded contract rows. With
    ``times``, ``pandas_op`` receives ``(values, DatetimeIndex of
    ord_col)`` so times-mode references run the same way."""

    def compute(pdf: pd.DataFrame) -> np.ndarray:
        vals = pd.Series(np.asarray(pdf[col].to_numpy(), dtype="float64"))
        if not times:
            return pandas_op(vals).to_numpy()
        return pandas_op(vals, pd.DatetimeIndex(pd.to_datetime(pdf[ord_col]))).to_numpy()

    return _single_partition(
        df, [ord_col], _ewm_null_msg(ord_col, times),
        T.StructField(output_col, T.DoubleType(), True), compute,
    )


def _carry_scan(
    df: DataFrame,
    col: str,
    ord_col: str,
    output_col: str,
    *,
    tag: tuple,
    summarize: Callable[[np.ndarray, np.ndarray], dict],
    summary_schema: str,
    chain: Callable,
    apply: Callable[[pd.DataFrame, dict | None], np.ndarray],
    single: Callable,
    times: bool = False,
) -> DataFrame:
    """Distributed exact global ewm: the range-bucket carry scan shared
    by ``ewm_mean``, ``ewm_sum``, ``ewm_moment`` and ``ewm_mean_times``.
    Each variant brings only its own math:

    - ``summarize(q, v)``: one bucket's facts (a dict matching
      ``summary_schema``) from its order values ``q`` and column values
      ``v``, both float64 and sorted by ``q``;
    - ``chain(rows)``: walks the summary rows in bucket order on the
      driver and yields each bucket's incoming seed (the scan state
      after all earlier buckets);
    - ``apply(pdf, seed)``: the output column for one bucket's rows,
      sorted by ``ord_col``, given its seed (None for a bucket absent
      from the build);
    - ``single``: the stock-pandas op for the one-task path.

    The order column is viewed as epoch seconds (numeric, date or
    timestamp), or epoch µs for ``times``. Build: range boundaries from
    ``_range_bucket_build`` over ``_memo.range_bucket_count`` buckets
    (NULL/NaN order keys raise), then one bounded summary row per
    bucket (≤ 1024 collected, by construction) and the seed chain,
    memoized per plan+data and ``tag``. Execute: one ``applyInPandas``
    keyed on the bucket id. Two linear passes, parallel in the bucket
    count. When the input is one bucket (at most 1 MiB by the plan's
    ``sizeInBytes``) no build job runs, and ``single`` runs over the
    whole frame in one task — exact and lazy; so it does on a cold
    build under strictLazy, warned ``SINGLE-PARTITION``.
    """
    spark = df.sparkSession
    ord_type = df.schema[ord_col].dataType
    if not times and not isinstance(ord_type, _ORDERABLE):
        raise TypeError(
            f"global ewm needs a numeric/timestamp order column, got "
            f"{ord_type.simpleString()}"
        )
    memo = None
    n_buckets = range_bucket_count(df)
    if n_buckets > 1:
        key = plan_data_key(df, *tag, ord_col, col, n_buckets)
        memo = _EWM_MEMO.get(key) if key is not None else None
        if memo is None:
            bounds = _range_bucket_build(
                df, [ord_col], n_buckets, micros=times,
                null_msg=_ewm_null_msg(ord_col, times),
            )
            # checked again: the boundaries may have been a memo hit
            if bounds is not None and not strict_lazy(spark):
                def bucket_summary(pdf: pd.DataFrame) -> pd.DataFrame:
                    pdf = pdf.sort_values("__q__", kind="mergesort")
                    d = summarize(
                        pdf["__q__"].to_numpy(dtype="float64"),
                        pdf["__v__"].to_numpy(dtype="float64"),
                    )
                    return pd.DataFrame([{**d, "__bkt__": int(pdf["__bkt__"].iloc[0])}])

                rows = sorted(
                    bucketed_apply(
                        df.select(
                            bounds["bexpr"].cast("int").alias("__bkt__"),
                            bounds["num"].alias("__q__"),
                            F.col(col).alias("__v__"),
                        ),
                        bucket_summary,
                        f"{summary_schema}, __bkt__ int",
                        bucket="__bkt__",
                    ).collect(),  # bounded: ≤ n_buckets ≤ 1024 rows
                    key=lambda r: r["__bkt__"],
                )
                seeds = dict(zip((int(r["__bkt__"]) for r in rows), chain(rows)))
                memo = {"bexpr": bounds["bexpr"], "seeds": seeds}
                if key is not None:
                    memo_put(_EWM_MEMO, key, memo)
        if memo is None:
            _warn_single_partition(
                f"global ewm {tag[0]}",
                "the plan can run its bounded build jobs (pre-build once "
                "outside strict-lazy scope; the seeds are memoized per "
                "plan+data)",
            )
    if memo is None:
        return _ewm_single_partition(df, col, ord_col, output_col, single, times)

    seeds = memo["seeds"]
    bkt = fresh_column(df, "__bkt__")
    out_schema = _out_schema(df, T.StructField(output_col, T.DoubleType(), True))
    out_names = [f.name for f in out_schema.fields]
    in_names = [f.name for f in df.schema.fields]

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ord_col, kind="mergesort")
        out = pdf[in_names].copy()
        out[output_col] = apply(pdf, seeds.get(int(pdf[bkt].iloc[0])))
        return out[out_names]

    return bucketed_apply(
        df.withColumn(bkt, memo["bexpr"].cast("int")), per_bucket, out_schema, bucket=bkt
    )


def ewm_mean(
    df: DataFrame,
    col: str,
    order_by: str | Column,
    *,
    partition_by: Sequence[str] = (),
    com: float | None = None,
    span: float | None = None,
    halflife: float | None = None,
    alpha: float | None = None,
    adjust: bool = True,
    ignore_na: bool = False,
    min_periods: int = 0,
    output_col: str | None = None,
) -> DataFrame:
    """Exponentially weighted mean, pandas ``s.ewm(...).mean()``.

    Grouped (``partition_by``): stock pandas ewm inside each group —
    bit-exact reference semantics, one shuffle on the key, fully
    parallel (the 100 TB path, like the reference's grouped windows).

    Global: ewm is a SCAN (every row depends on the full prefix), which
    a naive implementation runs single-partition. Instead it runs on
    ``_carry_scan``: range-bucket the order column (quantile
    boundaries, memoized per plan+data — the same machinery as the
    expanding carry and global time rolling), summarize each bucket's
    state map in ONE bounded row (≤1024 collected, by construction),
    chain the seeds on the driver in exact sequential order — linear
    (num, den) algebra for adjust=True, affine mean composition for
    adjust=False (see ``_ewm_bucket_summary``) — and hand each bucket's
    seed to a second per-bucket pass. Two linear passes, parallel in
    the bucket count. Within a bucket the float op order matches
    pandas' sequential recurrence; the seed folds re-associate the same
    sums, so results can differ from single-core pandas in the last
    few ulps (differential tests assert rtol 1e-9).

    NULL/NaN order keys raise (scan position undefined); NaN VALUES
    follow pandas: they emit the running mean and, for the default
    ``ignore_na=False``, still decay the weights by their row position.
    ``min_periods`` gates on cumulative observation count. Duplicate
    order-key values make the within-tie scan order arbitrary (same
    caveat as pandas on an unsorted index).
    """

    a = resolve_ewm_alpha(com, span, halflife, alpha)
    output_col = output_col or f"{col}_ewm_mean"

    def pandas_op(s: pd.Series) -> pd.Series:
        return s.ewm(
            alpha=a, adjust=adjust, ignore_na=ignore_na, min_periods=min_periods,
        ).mean()

    if partition_by:
        return _grouped_pandas_window(
            df, col,
            list(order_by) if isinstance(order_by, (list, tuple)) else [order_by],
            partition_by, output_col, "double", pandas_op,
        )

    ord_col = order_by if isinstance(order_by, str) else None
    if ord_col is None:
        raise TypeError("global ewm needs a named order column")
    one_minus = 1.0 - a

    def chain(rows):
        st = {"w": float("nan"), "old_wt": 1.0, "obs": 0, "pend": 0}
        for row in rows:
            yield dict(st)
            if row["nobs"] == 0:
                if not ignore_na:
                    st["pend"] += int(row["rows"])
                continue
            if st["obs"] == 0:
                # bucket holds the global first obs: its unseeded end
                # state is the truth
                st = {
                    "w": row["end_w"], "old_wt": row["end_old_wt"],
                    "obs": int(row["nobs"]), "pend": int(row["end_pend"]),
                }
                continue
            delta1 = (st["pend"] + int(row["lead_gap"]) + 1) if not ignore_na else 1
            f1 = one_minus**delta1
            if adjust:
                # linear (num, den) fold: the incoming state decays once
                # per row (ignore_na=False) or per observation (True)
                # from ITS last observation to the bucket's LAST
                # observation — trailing NaN rows stay deferred in
                # end_pend, exactly like the sequential recurrence
                total_decay = (
                    int(row["rows"]) - int(row["end_pend"])
                    if not ignore_na
                    else int(row["nobs"])
                )
                dec = one_minus ** (st["pend"] + total_decay)
                num = row["end_w"] * row["end_old_wt"] + st["w"] * st["old_wt"] * dec
                den = row["end_old_wt"] + st["old_wt"] * dec
                st = {
                    "w": num / den, "old_wt": den,
                    "obs": st["obs"] + int(row["nobs"]),
                    "pend": int(row["end_pend"]),
                }
            else:
                w1 = (f1 * st["w"] + a * row["x_first"]) / (f1 + a)
                w_end = row["A_rest"] * w1 + row["B_rest"]
                st = {
                    "w": w_end, "old_wt": 1.0,
                    "obs": st["obs"] + int(row["nobs"]),
                    "pend": int(row["end_pend"]),
                }

    def apply(pdf: pd.DataFrame, seed: dict | None) -> np.ndarray:
        vals = pdf[col].to_numpy(dtype="float64")
        means, _ = _ewm_scan(vals, a, adjust, ignore_na, seed)
        s_obs = int(seed["obs"]) if seed else 0
        cum_obs = s_obs + np.cumsum(~np.isnan(vals))
        return np.where(cum_obs >= max(min_periods, 1), means, np.nan)

    return _carry_scan(
        df, col, ord_col, output_col,
        tag=("mean", a, adjust, ignore_na),
        summarize=lambda q, v: _ewm_bucket_summary(v, a, adjust, ignore_na),
        summary_schema="rows bigint, nobs bigint, end_w double, "
        "end_old_wt double, end_pend bigint, lead_gap bigint, "
        "x_first double, A_rest double, B_rest double",
        chain=chain, apply=apply, single=pandas_op,
    )


def ewm_sum(
    df: DataFrame,
    col: str,
    order_by: str | Column,
    *,
    partition_by: Sequence[str] = (),
    com: float | None = None,
    span: float | None = None,
    halflife: float | None = None,
    alpha: float | None = None,
    adjust: bool = True,
    ignore_na: bool = False,
    min_periods: int = 0,
    output_col: str | None = None,
) -> DataFrame:
    """pandas ``s.ewm(...).sum()``: the UNNORMALIZED exponentially
    weighted scan ``S_t = (1-α)·S_{t-1} + x_t`` (NaN rows decay but add
    nothing for the default ``ignore_na=False``; with ``ignore_na=True``
    they neither decay nor add — probed, pandas 2.2). pandas raises for
    ``adjust=False`` and so do we.

    Grouped: stock pandas per key — one shuffle, fully parallel.

    Global: the sum recurrence is a LINEAR fold, so its ``_carry_scan``
    is simpler than ``ewm_mean``'s (num, den) carry: per range bucket
    ship (end_sum, decay_count, nobs) — one bounded row each — chain
    ``seed_{b+1} = S_b + seed_b·(1-α)^{D_b}`` on the driver, then a
    second per-bucket pass computes the UNSEEDED scan with pandas' C
    ``ewm.sum`` and adds the affine seed correction
    ``seed·(1-α)^{e_t}`` (e = row position for ignore_na=False,
    observation count for True) — fully vectorized, no per-row Python.
    min_periods gates on cumulative observations exactly like
    ``ewm_mean``. Same caveats: NULL/NaN order keys raise; duplicate
    order keys make within-tie scan order arbitrary.
    """
    if not adjust:
        raise NotImplementedError(
            "sum is not implemented with adjust=False"  # pandas' own error
        )
    a = resolve_ewm_alpha(com, span, halflife, alpha)
    output_col = output_col or f"{col}_ewm_sum"

    def pandas_op(s: pd.Series) -> pd.Series:
        return s.ewm(alpha=a, ignore_na=ignore_na, min_periods=min_periods).sum()

    if partition_by:
        return _grouped_pandas_window(
            df, col,
            list(order_by) if isinstance(order_by, (list, tuple)) else [order_by],
            partition_by, output_col, "double", pandas_op,
        )
    ord_col = order_by if isinstance(order_by, str) else None
    if ord_col is None:
        raise TypeError("global ewm needs a named order column")
    one_minus = 1.0 - a

    def summarize(q: np.ndarray, v: np.ndarray) -> dict:
        nobs = int((~np.isnan(v)).sum())
        scan = pd.Series(v).ewm(
            alpha=a, ignore_na=ignore_na, min_periods=0
        ).sum().to_numpy()
        return {
            "nobs": nobs,
            "end_sum": float(scan[-1]) if nobs else 0.0,
            "decays": len(v) if not ignore_na else nobs,
        }

    def chain(rows):
        st = {"sum": 0.0, "obs": 0}
        for row in rows:
            yield st
            st = {
                "sum": row["end_sum"] + st["sum"] * one_minus ** row["decays"],
                "obs": st["obs"] + int(row["nobs"]),
            }

    def apply(pdf: pd.DataFrame, seed: dict | None) -> np.ndarray:
        seed = seed or {"sum": 0.0, "obs": 0}
        vals = pdf[col].to_numpy(dtype="float64")
        obs = ~np.isnan(vals)
        u = pd.Series(vals).ewm(
            alpha=a, ignore_na=ignore_na, min_periods=0
        ).sum().to_numpy()
        # pre-first-local-obs rows are NaN in the unseeded scan but the
        # seeded truth there is the pure decayed seed — zero them before
        # the correction (the min_periods gate re-NaNs unseeded rows)
        u = np.nan_to_num(u, nan=0.0)
        e = (
            np.arange(1, len(vals) + 1, dtype="float64")
            if not ignore_na
            else np.cumsum(obs, dtype="float64")
        )
        res = u + seed["sum"] * one_minus**e
        cum_obs = seed["obs"] + np.cumsum(obs)
        return np.where(cum_obs >= max(min_periods, 1), res, np.nan)

    return _carry_scan(
        df, col, ord_col, output_col,
        tag=("sum", a, ignore_na),
        summarize=summarize,
        summary_schema="nobs bigint, end_sum double, decays bigint",
        chain=chain, apply=apply, single=pandas_op,
    )


# ---------------------------------------------------------------------------
# ewm with times= (wall-clock halflife decay)
# ---------------------------------------------------------------------------


def _resolve_halflife_us(halflife) -> float:
    """pandas' times-mode halflife: a timedelta-convertible (str,
    datetime.timedelta, np.timedelta64) → microseconds as float.
    Spark timestamps are µs-precision and epoch-µs fits float64
    exactly (< 2^53 until year ~2255), so µs doubles are lossless."""
    try:
        td = pd.Timedelta(halflife)
    except (ValueError, TypeError) as exc:
        raise ValueError(
            "halflife must be a timedelta convertible object"
        ) from exc
    us = td.value / 1000.0  # .value is integer nanoseconds
    if not us > 0:
        raise ValueError(f"halflife must be positive, got {halflife!r}")
    return us


def _ewm_times_scan(
    vals: np.ndarray, r: np.ndarray, seed_num: float, seed_den: float
) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (num, den) ewm scan over a transformed time axis ``r``
    (units of HALFLIVES, non-decreasing, measured from the seed's
    position): num_i = Σ_{j≤i obs} x_j·2^{−(r_i−r_j)} + seed_num·2^{−r_i},
    den the same with x≡1. Vectorized by segmented power prefixes:
    within a segment of span ≤ 500 halflives, 2^{r_j} stays ≤ 2^500
    (finite in float64), so the scan is cumsum(x·2^{r})·2^{−r} — one
    numpy pass; segments chain by a carried (num, den) whose decay
    across the gap may underflow to exactly 0.0, which is the correct
    limit (the sequential recurrence's product of per-step decays
    underflows the same way). No per-row Python."""
    n = len(vals)
    num = np.empty(n, dtype="float64")
    den = np.empty(n, dtype="float64")
    obs = ~np.isnan(vals)
    x = np.where(obs, vals, 0.0)
    o = obs.astype("float64")
    carry_n, carry_d, rc = float(seed_num), float(seed_den), 0.0
    start = 0
    while start < n:
        r0 = float(r[start])
        end = int(np.searchsorted(r, r0 + 500.0, side="right"))
        rs = r[start:end] - r0
        inv = np.exp2(-rs)
        p = np.exp2(rs)
        f0 = np.exp2(-(r0 - rc))  # → 0.0 on huge gaps: correct limit
        num[start:end] = np.cumsum(x[start:end] * p) * inv + carry_n * f0 * inv
        den[start:end] = np.cumsum(o[start:end] * p) * inv + carry_d * f0 * inv
        carry_n, carry_d, rc = float(num[end - 1]), float(den[end - 1]), float(r[end - 1])
        start = end
    return num, den


def ewm_mean_times(
    df: DataFrame,
    col: str,
    times: str,
    halflife,
    *,
    partition_by: Sequence[str] = (),
    ignore_na: bool = False,
    min_periods: int = 0,
    output_col: str | None = None,
) -> DataFrame:
    """pandas ``s.ewm(halflife=<timedelta>, times=<datetime>).mean()``:
    exponential decay over WALL-CLOCK gaps instead of row positions —
    the form a real event stream needs (irregular arrival times).

    Semantics (probed, pandas 2.2): each observation decays the carried
    (num, den) by ``0.5^(Δt/halflife)`` where Δt is the gap to the
    PREVIOUS ROW — for the default ``ignore_na=False`` the per-step
    decays telescope to pure elapsed time; for ``ignore_na=True``
    pandas SKIPS the decay step on NaN rows (their gap is dropped from
    the clock), which this implementation reproduces via a transformed
    time axis ``r = Σ Δt·[obs or not ignore_na]``. pandas restricts
    times-mode to ``mean()`` with ``adjust=True`` (its own
    NotImplementedError for adjust=False; var/std/sum SILENTLY fall
    back to positional decay, ignoring times — a trap we refuse loudly
    instead of replicating, see ``ParallelEwm``).

    Grouped: stock pandas per group (bit-exact), coarse-bucketed —
    one shuffle, the 100 TB path.

    Global: the same ``_carry_scan`` as ``ewm_mean``, over epoch-µs
    boundaries — per bucket one summary row (end num/den on the local
    transformed axis, boundary timestamps), a driver chain of ≤1024
    seeds, then a seeded per-bucket pass 2; within buckets the scan is
    the segmented vectorized fold of ``_ewm_times_scan``. Two linear
    passes, parallel in the bucket count, no driver collect beyond the
    bounded summary.

    NULL/NaT times raise (scan position undefined). Rows are ordered BY
    the times column; duplicate timestamps (Δt = 0, no decay) make the
    within-tie order arbitrary, same caveat as positional ewm.
    Differential tests pin rtol 1e-9 vs single-core pandas.
    """
    h_us = _resolve_halflife_us(halflife)
    output_col = output_col or f"{col}_ewm_mean"
    t_type = df.schema[times].dataType
    if not isinstance(t_type, (T.DateType, T.TimestampType, T.TimestampNTZType)):
        raise TypeError(
            f"ewm times column must be date/timestamp, got "
            f"{t_type.simpleString()} (pandas requires datetime64 times)"
        )

    if partition_by:
        hl_td = pd.Timedelta(halflife)

        def op(s: pd.Series) -> pd.Series:
            t = pd.DatetimeIndex(s.index)
            if t.isna().any():
                raise ValueError(_ewm_null_msg(times, True))
            return pd.Series(s.to_numpy()).ewm(
                halflife=hl_td, times=t, ignore_na=ignore_na,
                min_periods=min_periods,
            ).mean()

        return _grouped_pandas_window(
            df, col, [times], partition_by, output_col, "double", op,
            index_col=times,
        )

    minp_eff = max(min_periods, 1)

    def summarize(t: np.ndarray, v: np.ndarray) -> dict:
        o = ~np.isnan(v)
        g = o | (not ignore_na)
        dt = np.diff(t, prepend=t[0])  # first row's gap: chain-time
        lax = np.cumsum(dt * g) / h_us
        num, den = _ewm_times_scan(v, lax, 0.0, 0.0)
        return {
            "rows": len(v), "nobs": int(o.sum()),
            "t_first": float(t[0]), "t_last": float(t[-1]),
            "obs_first": bool(o[0]), "l_end": float(lax[-1]),
            "num_end": float(num[-1]), "den_end": float(den[-1]),
        }

    def chain(rows):
        st = {"num": 0.0, "den": 0.0, "obs": 0, "t_prev": None}
        for row in rows:
            yield st
            d1 = 0.0
            if st["t_prev"] is not None and (
                row["obs_first"] or not ignore_na
            ):
                d1 = (row["t_first"] - st["t_prev"]) / h_us
            dec = float(np.exp2(-(d1 + row["l_end"])))
            st = {
                "num": st["num"] * dec + row["num_end"],
                "den": st["den"] * dec + row["den_end"],
                "obs": st["obs"] + int(row["nobs"]),
                "t_prev": row["t_last"],
            }

    def apply(pdf: pd.DataFrame, seed: dict | None) -> np.ndarray:
        seed = seed or {"num": 0.0, "den": 0.0, "obs": 0, "t_prev": None}
        if pdf[times].isna().any():
            raise ValueError(_ewm_null_msg(times, True))
        ns = pd.to_datetime(pdf[times]).to_numpy(dtype="datetime64[ns]")
        t = (ns.astype("int64") // 1000).astype("float64")
        v = pdf[col].to_numpy(dtype="float64")
        o = ~np.isnan(v)
        g = o | (not ignore_na)
        dt = np.diff(t, prepend=t[0])
        d1 = 0.0
        if seed["t_prev"] is not None and bool(g[0]):
            d1 = (t[0] - seed["t_prev"]) / h_us
        r = np.cumsum(dt * g) / h_us + d1
        num, den = _ewm_times_scan(v, r, seed["num"], seed["den"])
        with np.errstate(invalid="ignore", divide="ignore"):
            means = num / den
        cum_obs = seed["obs"] + np.cumsum(o)
        return np.where((cum_obs >= minp_eff) & (den > 0.0), means, np.nan)

    return _carry_scan(
        df, col, times, output_col,
        tag=("mean(times=)", h_us, ignore_na),
        summarize=summarize,
        summary_schema="rows bigint, nobs bigint, t_first double, "
        "t_last double, obs_first boolean, l_end double, num_end double, "
        "den_end double",
        chain=chain, apply=apply,
        single=lambda s, t: s.ewm(
            halflife=pd.Timedelta(halflife), times=t,
            ignore_na=ignore_na, min_periods=min_periods,
        ).mean(),
        times=True,
    )
