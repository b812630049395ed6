"""Point-in-time joins Spark lacks as builtins: as-of and range joins.

The reference has no joins at all beyond dict-map lookup (SURVEY.md
§2.2); these are the time-series staples a migrating pandas user expects
(``pd.merge_asof``) and a training-data pipeline needs for event
alignment.

``asof_join`` is implemented as the *union + keyed window* pattern, not a
point-in-time cross join: tag both sides, union, then one
``last(ignorenulls)`` window per right column over
``partitionBy(keys).orderBy(ts, side)``. Cost = one shuffle on the key —
linear, skew-handled by AQE, no range-explosion. This is the standard
scalable PIT-join design on Spark.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandarallel_spark.operators._memo import (
    constant_partition_key,
    fits_one_task,
    memo_put,
    plan_data_key,
    shuffle_partitions,
    strict_lazy,
)

# global (key-less) as-of: memoized bucket boundaries per (plan, data)
# identity — same contract as the halo-rolling memo (operators/_memo.py)
_ASOF_MEMO: dict = {}


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str] | None,
    left_ts: str,
    right_ts: str | None = None,
    value_cols: list[str] | None = None,
    *,
    direction: str = "backward",
    tolerance: Column | None = None,
    allow_exact_matches: bool = True,
    suffix: str = "_asof",
) -> DataFrame:
    """``pd.merge_asof``-shaped join. Per left row and key:

    - ``direction="backward"`` — the latest right row with
      ``right_ts <= left_ts`` (ties at equal ts match);
    - ``direction="forward"`` — the earliest right row with
      ``right_ts >= left_ts``;
    - ``direction="nearest"`` — whichever of the two is closest in
      absolute distance; ties prefer the backward match (pandas rule).

    ``allow_exact_matches=False`` makes the comparisons strict
    (``<`` / ``>``), exactly pandas — implemented purely by flipping
    the side-tag sort inside the same window (equal-ts right rows land
    outside the frame), so the plan shape and cost don't change.

    ``tolerance`` (e.g. ``F.expr("INTERVAL 1 HOUR")``) nulls out matches
    farther than the tolerance in the search direction; for "nearest" it
    bounds each side independently before the closest eligible match is
    chosen — exactly ``pd.merge_asof`` semantics (differential-tested in
    tests/test_join.py).

    All three directions stay the union + keyed-window design (one
    shuffle on the key, no range explosion): backward is a
    ``last(ignorenulls)`` over (unbounded-preceding, current), forward a
    ``first(ignorenulls)`` over (current, unbounded-following) with the
    side tag sorted so equal-ts right rows land inside the frame;
    nearest evaluates both frames over the same shuffle and picks
    per row with plain expressions.

    Right rows must be unique per (key, ts) for deterministic output —
    the same contract pandas merge_asof imposes ("left" keeps the last).

    ``on=None`` (or ``[]``) is the GLOBAL as-of — ``pd.merge_asof``
    without ``by=``, the most common pandas call shape. A naive keyed
    window would run single-partition; instead the union is
    range-bucketed on the timestamp (literal sampled-quantile
    boundaries, same machinery as the halo rolling in
    operators/window.py) and each bucket's cross-boundary match is a
    per-bucket CARRY row: the last/first right row of the preceding/
    following buckets, computed with one tiny spine aggregation (one
    row per bucket — no driver collect) and broadcast-joined back. The
    windows then partition by the bucket id — fully parallel, still one
    main shuffle. NULL (and float NaN) left timestamps get NULL matches;
    NULL-timestamp right rows never match (pandas rejects NaN keys
    outright). Boundary sampling is one bounded build-time job, memoized
    per (plan, data); under the strictLazy conf a cold build runs none
    and takes the one-bucket plan with a ``SINGLE-PARTITION`` warning,
    like the global windows.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward | forward | nearest, got {direction!r}"
        )
    if on is None:
        keys = []
    else:
        keys = [on] if isinstance(on, str) else list(on)
    right_ts = right_ts or left_ts
    value_cols = value_cols or [
        c for c in right.columns if c not in keys and c != right_ts
    ]

    left_payload = [c for c in left.columns if c not in keys and c != left_ts]

    # output names must be unique against keys, the left ts, the left
    # payload, AND each other; the old fallback re-appended '_asof',
    # which is a no-op for the default suffix and never checked keys —
    # duplicate column names then blew up in unionByName (review
    # finding r4). Keep appending the suffix until the name is free.
    taken = set(keys) | {left_ts, *left_payload}

    def out_name(base: str) -> str:
        cand = f"{base}{suffix}"
        while cand in taken:  # suffix may be '' — always append non-empty
            cand += suffix or "_asof"
        taken.add(cand)
        return cand

    out_ts = out_name(right_ts)
    out_vals = [out_name(c) for c in value_cols]

    l_tagged = left.select(
        *keys,
        F.col(left_ts).alias("__t__"),
        F.lit(1).alias("__side__"),
        *[F.col(c) for c in left_payload],
        *[F.lit(None).cast(right.schema[c].dataType).alias(v) for c, v in zip(value_cols, out_vals)],
        F.lit(None).cast(right.schema[right_ts].dataType).alias(out_ts),
    )
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias("__t__"),
        F.lit(0).alias("__side__"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        *[F.col(c).alias(v) for c, v in zip(value_cols, out_vals)],
        F.col(right_ts).alias(out_ts),
    )

    # backward: right rows (side=0) sort BEFORE left at equal ts → the
    # (unbounded-preceding, current) frame includes rt == lt ("<=").
    # forward: sort side DESC so right rows land AFTER left at equal ts
    # → the (current, unbounded-following) frame includes rt == lt.
    # allow_exact_matches=False flips each side sort, pushing equal-ts
    # right rows OUT of the frame → strict "<" / ">".
    side = F.col("__side__")
    b_tie, f_tie = (side, side.desc()) if allow_exact_matches else (side.desc(), side)
    unioned = l_tagged.unionByName(r_tagged)

    part_cols: list = list(keys)
    has_carry = False
    if not keys:
        unioned, has_carry = _global_asof_buckets(unioned, out_ts, out_vals)
        if has_carry:
            part_cols = ["__bkt__"]
    w_b = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("__t__"), b_tie)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_f = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("__t__"), f_tie)
        .rowsBetween(0, Window.unboundedFollowing)
    )

    # fill the matched right row as ONE struct (non-null for every right
    # row), then extract fields: per-column ignorenulls fills would skip
    # a matched row's NULL value and pair the matched ts with a value
    # from an OLDER right row — pd.merge_asof keeps the matched row's
    # NULL (review finding r3).
    right_row = F.when(
        F.col("__side__") == 0,
        F.struct(F.col(out_ts).alias("ts"), *[F.col(v).alias(v) for v in out_vals]),
    )
    fills = []
    if direction in ("backward", "nearest"):
        fb = F.last(right_row, ignorenulls=True).over(w_b)
        if has_carry:
            # no in-bucket match → the latest right row of EARLIER
            # buckets (strictly earlier in ts: ties always share a
            # bucket, so carry rows are eligible for both exact-match
            # modes)
            fb = F.coalesce(fb, F.col("__carry_b__"))
        fills.append(fb.alias("__b__"))
    if direction in ("forward", "nearest"):
        fq = F.first(right_row, ignorenulls=True).over(w_f)
        if has_carry:
            fq = F.coalesce(fq, F.col("__carry_f__"))
        fills.append(fq.alias("__q__"))
    out = unioned.select("*", *fills).filter(F.col("__side__") == 1)
    if direction in ("backward", "nearest"):
        out = out.select(
            "*",
            F.col("__b__.ts").alias("__b_ts__"),
            *[F.col(f"__b__.{v}").alias(f"__b_{v}__") for v in out_vals],
        )
    if direction in ("forward", "nearest"):
        out = out.select(
            "*",
            F.col("__q__.ts").alias("__q_ts__"),
            *[F.col(f"__q__.{v}").alias(f"__q_{v}__") for v in out_vals],
        )

    lt = F.col("__t__")
    if direction == "backward":
        ts_m, pref = F.col("__b_ts__"), "__b_"
        elig = ts_m.isNotNull()
        if tolerance is not None:
            elig = elig & (ts_m >= lt - tolerance)
        val_sel = [F.when(elig, F.col(f"{pref}{v}__")).alias(v) for v in out_vals]
        ts_sel = F.when(elig, ts_m).alias(out_ts)
    elif direction == "forward":
        ts_m, pref = F.col("__q_ts__"), "__q_"
        elig = ts_m.isNotNull()
        if tolerance is not None:
            elig = elig & (ts_m <= lt + tolerance)
        val_sel = [F.when(elig, F.col(f"{pref}{v}__")).alias(v) for v in out_vals]
        ts_sel = F.when(elig, ts_m).alias(out_ts)
    else:  # nearest — tolerance bounds each side, then closest wins
        ts_b, ts_f = F.col("__b_ts__"), F.col("__q_ts__")
        elig_b = ts_b.isNotNull()
        elig_f = ts_f.isNotNull()
        if tolerance is not None:
            elig_b = elig_b & (ts_b >= lt - tolerance)
            elig_f = elig_f & (ts_f <= lt + tolerance)
        # ties (equal distance) prefer backward, matching pandas
        use_b = elig_b & (~elig_f | ((lt - ts_b) <= (ts_f - lt)))
        use_f = elig_f & ~use_b
        val_sel = [
            F.when(use_b, F.col(f"__b_{v}__"))
            .when(use_f, F.col(f"__q_{v}__"))
            .alias(v)
            for v in out_vals
        ]
        ts_sel = F.when(use_b, ts_b).when(use_f, ts_f).alias(out_ts)

    return out.select(
        *keys,
        F.col("__t__").alias(left_ts),
        *[F.col(c) for c in left_payload],
        ts_sel,
        *val_sel,
    )


def _global_asof_buckets(
    unioned: DataFrame, out_ts: str, out_vals: list[str]
) -> tuple[DataFrame, bool]:
    """Range-bucket the key-less as-of union and attach per-bucket carry.

    Returns ``(unioned', has_carry)``. When ``has_carry`` the frame
    carries three extra columns:

    - ``__bkt__`` — range-bucket id from literal sampled-quantile
      boundaries over the timestamp (``window.range_boundaries``,
      shared with the range-bucket windows). NULL/NaN left timestamps route to bucket
      ``-1`` (→ NULL match); NULL/NaN right timestamps are dropped.
      Ties always share a bucket (monotone map), so cross-bucket carry
      rows are strictly earlier/later in ts than every row they serve.
    - ``__carry_b__`` / ``__carry_f__`` — the latest right-row struct of
      all EARLIER buckets / earliest of all LATER buckets, computed by a
      per-bucket ``max_by``/``min_by`` aggregation joined to a
      ``spark.range`` spine (one row per bucket — empty buckets chain
      through the spine's running fill) and broadcast back. No driver
      collect; the spine window sorts ≤1024 rows.

    Only the boundary sampling runs at build time (bounded, memoized per
    plan+data). When the union fits one task (``_memo.fits_one_task``:
    one shuffle partition, or at most 1 MiB by the plan's
    ``sizeInBytes``), the timestamp type is not orderable, or a cold
    build runs under strictLazy (warned ``SINGLE-PARTITION``), the
    sampling is skipped: no build job runs, and a single bucket keeps
    exact single-partition semantics (bucket ``-1`` still routes
    undefined timestamps). Memo hits keep the bucketed plan.
    """
    spark = unioned.sparkSession
    ts_type = unioned.schema["__t__"].dataType
    t = F.col("__t__")
    orderable = isinstance(
        ts_type, (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)
    )
    is_float = isinstance(ts_type, (T.DoubleType, T.FloatType))
    bad = t.isNull() | (F.isnan(t) if is_float else F.lit(False))
    unioned = unioned.filter((F.col("__side__") == 1) | ~bad)
    memo = None
    if orderable and not fits_one_task(unioned):
        n_buckets = max(2, min(1024, shuffle_partitions(spark) * 8))
        key = plan_data_key(unioned, "__global_asof__", n_buckets)
        memo = _ASOF_MEMO.get(key) if key is not None else None
        if memo is None and strict_lazy(spark):
            from pandarallel_spark.operators.window import _warn_single_partition

            _warn_single_partition(
                "key-less as-of join",
                "the plan can run its one boundary aggregate (pre-build "
                "once outside strict-lazy scope; boundaries are memoized "
                "per plan+data)",
            )
        elif memo is None:
            from pandarallel_spark.operators.window import range_boundaries

            # the sampler skips NULL/NaN timestamps itself
            (memo,), _ = range_boundaries(unioned, ["__t__"], n_buckets)
            if key is not None:
                memo_put(_ASOF_MEMO, key, memo)
    bnds, bexpr = (memo["bnds"], memo["bexpr"]) if memo else ([], F.lit(0))

    u = unioned.withColumn(
        "__bkt__", F.when(~bad, bexpr).otherwise(F.lit(-1)).cast("int")
    )
    # identical construction to the fill's right_row struct → identical
    # struct type, so COALESCE(window fill, carry) analyzes cleanly
    rstruct = F.struct(
        F.col(out_ts).alias("ts"), *[F.col(v).alias(v) for v in out_vals]
    )
    summ = (
        u.filter(F.col("__side__") == 0)
        .groupBy("__bkt__")
        .agg(
            F.max_by(rstruct, t).alias("__last_r__"),
            F.min_by(rstruct, t).alias("__first_r__"),
        )
    )
    spine = spark.range(len(bnds) + 1).select(
        F.col("id").cast("int").alias("__bkt__")
    )
    # constant-keyed single-partition windows over the ≤ n_buckets+1
    # boundary rows — deliberate (and tiny); an empty partition spec
    # would spam WindowExec's no-partition warning (r11 verdict; see
    # _memo.constant_partition_key)
    _k = constant_partition_key("__bkt__")
    w_prev = Window.partitionBy(_k).orderBy("__bkt__").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_next = Window.partitionBy(_k).orderBy("__bkt__").rowsBetween(
        1, Window.unboundedFollowing
    )
    carry = spine.join(summ, "__bkt__", "left").select(
        "__bkt__",
        F.last("__last_r__", ignorenulls=True).over(w_prev).alias("__carry_b__"),
        F.first("__first_r__", ignorenulls=True).over(w_next).alias("__carry_f__"),
    )
    return u.join(F.broadcast(carry), "__bkt__", "left"), True


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    condition: Column,
    how: str = "inner",
) -> DataFrame:
    """Equi-keys + range predicate join (e.g. ``r.ts BETWEEN l.ts AND
    l.ts + INTERVAL 1 HOUR``). The equi-key part hash-partitions both
    sides (no cross product); the range predicate filters within key
    groups. For key-free range joins prefer bucketing the range into
    join keys first — a key-free range join is a cross join at scale.
    """
    keys = [on] if isinstance(on, str) else list(on)
    cond = None
    for k in keys:
        eq = left[k] == right[k]
        cond = eq if cond is None else cond & eq
    return left.join(right, cond & condition, how)
