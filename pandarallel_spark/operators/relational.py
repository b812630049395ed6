"""Relational utilities beyond the reference's surface: top-k per group,
skew-safe distinct counting, grouping-set rollups, set operations.

The reference has none of these (SURVEY.md §2.2 — "sort/limit/top-k, set
ops: none"), but a complete engine needs them, and each has a distinct
scale story spelled out below.
"""

from __future__ import annotations

import warnings
from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandarallel_spark.operators._memo import truncate_lineage
from pandarallel_spark.session import _patch_worker_zipimport


def _key_restore(orig_type, src_name: str, out_name: str) -> Column:
    """Cast a sketch's internal string key back to the source column's
    type when the string round-trip is lossless (numeric, boolean,
    date/timestamp, string). Binary and complex keys stay strings —
    their string form is not re-parseable — and that is documented on
    the callers."""
    safe = (
        T.NumericType,
        T.BooleanType,
        T.StringType,
        T.DateType,
        T.TimestampType,
        T.TimestampNTZType,
    )
    c = F.col(src_name)
    if isinstance(orig_type, safe):
        c = c.cast(orig_type)
    return c.alias(out_name)


def topk_per_group(
    df: DataFrame,
    keys: list[str],
    order_by: Column,
    k: int,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Top-k rows per group via a ranking window — one shuffle on the
    keys; Spark's window exec only keeps the frame, never sorts globally.
    Pass ``tiebreak`` columns to make ranking total (deterministic)."""
    order = [order_by, *[F.col(c) for c in (tiebreak or [])]]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def rrf_fuse(
    ranked: Mapping[str, DataFrame],
    id_col: str,
    rank_col: str = "rank",
    k: int = 60,
    weights: Mapping[str, float] | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of named ranked lists (Cormack et al.,
    SIGIR'09) — the standard hybrid-retrieval combiner: a document's
    fused score is ``Σ_systems w_s / (k + rank_s)``, with a system that
    did not retrieve the document contributing 0. The classic ``k=60``
    damps the head so one system's #1 cannot drown the others.

    ``ranked`` maps system name → DataFrame carrying ``id_col`` and
    ``rank_col`` (1-based; e.g. a BM25 top-k and an ANN top-k over the
    same id space). Output: ``(id_col, rank_<name>… [nullable], score,
    rank)``, ranked by (score desc, id) — a total order, deterministic.

    Determinism contract: the score is ONE fixed-shape expression (the
    systems' terms added left-to-right in ``ranked``'s iteration
    order), never a float SUM aggregation — float addition is not
    associative, so a groupBy-sum's cross-partition merge order could
    flip last-ulp bits between runs and engines. Fixed-order division
    and addition are correctly-rounded IEEE ops, so an external SQL
    replay of the same expression matches bit-for-bit (pass ``dict``s,
    which preserve insertion order).

    Precondition: each ranked list carries ONE row per id (what any
    retrieval top-k emits). A duplicated id would multiply rows through
    the full-outer join fold and contribute one term PER COPY, silently
    inflating fused scores — so each list is guarded with a lazy
    per-id count and the plan raises a named error at execution time
    if a duplicate appears (lazy, so the strictLazy contract holds;
    the window runs over the k-sized list, not a corpus) (ADVICE r11).

    Scale shape: inputs are top-k candidate LISTS, not corpora — the
    fold of full-outer equi-joins runs over k-sized frames (full outer
    cannot broadcast in Spark, but AQE coalesces these tiny shuffles);
    the corpus-sized work already happened inside the retrieval systems
    being fused."""
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    names = list(ranked)
    reserved = {"score", "rank", *(f"rank_{n}" for n in names)}
    if id_col in reserved:
        raise ValueError(
            f"id_col {id_col!r} collides with an rrf_fuse output column "
            f"({sorted(reserved)}) — rename the id column first"
        )
    weights = dict(weights or {})
    unknown = set(weights) - set(names)
    if unknown:
        raise ValueError(
            f"weights name systems not being fused: {sorted(unknown)}"
        )
    fused: DataFrame | None = None
    for name in names:
        df = ranked[name]
        for c in (id_col, rank_col):
            if c not in df.columns:
                raise ValueError(
                    f"ranked list {name!r} is missing column {c!r}"
                )
        dup_cnt = F.count(F.lit(1)).over(Window.partitionBy(id_col))
        guarded_rank = F.when(
            dup_cnt > 1,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"rrf_fuse: ranked list {name!r} contains a "
                        f"duplicate {id_col}="
                    ),
                    F.col(id_col).cast("string"),
                    F.lit(
                        " — each list must carry one row per id "
                        "(duplicates would inflate fused scores)"
                    ),
                )
            ).cast(dict(df.dtypes)[rank_col]),
        ).otherwise(F.col(rank_col))
        side = df.select(
            id_col, guarded_rank.alias(f"rank_{name}")
        )
        fused = side if fused is None else fused.join(
            side, id_col, "full_outer"
        )
    terms = [
        F.coalesce(
            F.lit(float(weights.get(name, 1.0)))
            / (F.lit(k).cast("double") + F.col(f"rank_{name}").cast("double")),
            F.lit(0.0),
        )
        for name in names
    ]
    score = terms[0]
    for t in terms[1:]:
        score = score + t
    # constant partition key: same single-partition execution over the
    # (tiny, k-sized) fused list, but the plan declares the partition
    # deliberate — an EMPTY partition spec here would spam WindowExec's
    # no-partition warning and bury a future genuine total-order
    # regression in known-benign noise (r11 verdict; see
    # _memo.constant_partition_key for why a bare lit(0) won't survive
    # the optimizer)
    from pandarallel_spark.operators._memo import constant_partition_key

    w = Window.partitionBy(constant_partition_key(id_col)).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    out = (
        fused.withColumn("score", score)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
    )
    if top_k is not None:
        out = out.filter(F.col("rank") <= top_k)
    return out


def skew_safe_count_distinct(
    df: DataFrame, keys: list[str], col: str
) -> DataFrame:
    """Exact distinct count per key in two mergeable stages:
    groupBy(keys, col) → groupBy(keys). Each stage gets map-side partial
    aggregation, so a hot key's duplicates collapse *before* the shuffle
    — the classic fix for COUNT(DISTINCT) skew. (Spark's built-in
    count_distinct expands internally to the same shape; this form lets
    you salt stage one explicitly if a single (key, value) pair is hot.)

    NULL semantics match ``COUNT(DISTINCT col)``: NULL values don't
    count, and a key whose values are all NULL still appears with count
    0 (stage two counts only non-null value groups, review finding r4 —
    the previous form counted NULL as its own distinct value).
    """
    return (
        df.groupBy(*keys, col)
        .agg(F.lit(1).alias("__one__"))
        .groupBy(*keys)
        .agg(
            F.count(F.when(F.col(col).isNotNull(), F.lit(1))).alias(
                f"{col}_distinct"
            )
        )
    )


def rollup_agg(
    df: DataFrame, keys: list[str], exprs: Mapping[str, Column]
) -> DataFrame:
    """GROUP BY ROLLUP: per-key subtotals + grand total in one pass
    (Spark expands grouping sets map-side; no extra scan per level)."""
    return df.rollup(*keys).agg(*[c.alias(n) for n, c in exprs.items()])


def union_distinct(a: DataFrame, b: DataFrame) -> DataFrame:
    """Set union by column NAME (unionByName guards against positional
    mistakes); distinct is one hash shuffle."""
    return a.unionByName(b).distinct()


def intersect_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.intersect(b)


def except_rows(a: DataFrame, b: DataFrame) -> DataFrame:
    """SQL EXCEPT (set difference, distinct output): rows of ``a`` that
    appear nowhere in ``b``. ``subtract`` is Spark's set-EXCEPT; the
    previous ``exceptAll().distinct()`` kept any row whose multiplicity
    in ``a`` exceeded its multiplicity in ``b`` — wrong whenever both
    sides hold duplicates of a shared row (review finding r4)."""
    return a.subtract(b)


def sketch_rollup(
    df: DataFrame,
    keys: list[str],
    col: str,
    lgk: int = 12,
    sketch_col: str | None = None,
) -> DataFrame:
    """Per-key HLL sketch PARTIALS — the incremental-rollup primitive
    (Apache DataSketches HLL via Spark's ``hll_sketch_agg``): compute
    once per ingest partition (e.g. per day), persist the binary sketch
    column next to the key, and answer any COARSER distinct-count
    rollup later by merging sketches instead of re-scanning raw data.
    That is the mergeable-summaries contract (Agarwal et al., PODS'12)
    the exact aggregate can never offer: a 100 TB backfill becomes a
    merge over ~|keys| kilobyte-sized sketches.

    ``lgk`` is the DataSketches log2(k) accuracy knob (relative
    standard error ≈ 1.04/√2^lgk; 12 → ~1.6%). Sketch insertion is
    hash-based and order-independent, so partials are deterministic
    under repartitioning. NULL values are ignored (SQL convention).
    """
    sketch_col = sketch_col or f"{col}_hll"
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(col), F.lit(lgk)).alias(sketch_col)
    )


def sketch_rollup_merge(
    partials: DataFrame,
    keys: list[str],
    sketch_col: str,
    estimate_col: str | None = None,
) -> DataFrame:
    """Merge HLL sketch partials up to a coarser key set and estimate:
    ``hll_union_agg`` over the binary sketch column, then
    ``hll_sketch_estimate``. Input is the (tiny) partials table from
    :func:`sketch_rollup` — the raw data never participates. Pass
    ``keys=[]`` for the grand total."""
    estimate_col = estimate_col or f"{sketch_col}_estimate"
    merged = partials.groupBy(*keys).agg(
        F.hll_union_agg(F.col(sketch_col)).alias("__u__")
    )
    return merged.select(
        *keys, F.hll_sketch_estimate(F.col("__u__")).alias(estimate_col)
    )


# fault-tolerant pin cap for small build-time sets: ~256k (string,long)
# rows is a few MB of driver memory — far below any sane driver heap
_PIN_COLLECT_CAP = 1 << 18


def _pin_small(small: DataFrame, schema: str, cap: int = _PIN_COLLECT_CAP):
    """Materialize a small build-time DataFrame FAULT-TOLERANTLY.

    ``localCheckpoint`` pins blocks on executors: executor loss or a
    dynamic-allocation scale-down discards them and the returned plan
    fails at execution time (ADVICE r8). For genuinely small sets the
    robust form is a bounded collect + local re-create — the data lives
    with the driver/plan and survives any executor churn. A
    ``limit(cap+1)`` probe bounds the collect; an over-cap set (possible
    when a threshold sits barely above the decrement budget) falls back
    to a lineage truncation (``localCheckpoint`` with the scale-down
    hazard accepted rather than risking driver memory; reliable
    ``checkpoint()`` under the ``reliableCheckpoint`` opt-in). The input is persisted across the probe
    so the over-cap fallback reuses the blocks the probe computed
    instead of re-running the whole plan (ADVICE r9); the pin is
    released once either outcome has materialized."""
    small = small.persist()
    try:
        rows = small.limit(cap + 1).collect()
        if len(rows) <= cap:
            return small.sparkSession.createDataFrame(rows, schema=schema)
        return truncate_lineage(small, eager=True)
    finally:
        small.unpersist()


def mg_trim(counts, capacity: int):
    """One Misra-Gries batch trim over a pandas Series of counts:
    subtract the (capacity+1)-th largest, drop non-positive. Returns
    (trimmed counts, subtracted amount). Shared by the batch summary
    pass below and the streaming keyed-state twin
    (``streaming.stateful.streaming_heavy_hitters``) so the envelope
    math lives in exactly one place."""
    if len(counts) <= capacity:
        return counts, 0
    sub = int(counts.nlargest(capacity + 1).iloc[-1])
    return counts[counts > sub] - sub, sub


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_count=None,
    capacity: int = 4096,
    exact: bool = True,
    min_share: float | None = None,
    include_bounds: bool = False,
) -> DataFrame:
    """Frequent items (heavy hitters) without ever shuffling the full
    key universe: the Misra-Gries summary, run map-side per partition
    and merged — the classic MERGEABLE frequency sketch (Misra &
    Gries '82; mergeability per Agarwal et al., "Mergeable Summaries",
    PODS '12: combine counters, subtract the (capacity+1)-th largest,
    drop non-positive).

    Why not ``groupBy(col).count()``: at 100 TB the key universe (e.g.
    every distinct token of a web corpus) is itself huge — the exact
    aggregate shuffles ALL of it to find the few hot keys. Here each
    partition keeps ≤ ``capacity`` counters (bounded memory regardless
    of input), ships ≤ capacity+1 bounded rows, and only the merged
    CANDIDATE set — a superset of every key with true count ≥
    min_count whenever min_count exceeds the total decrement (a key's
    merged lower bound undercounts by at most Σ_p decr_p ≤
    N/(capacity+1); precondition checked below) — touches a shuffle
    again.

    ``exact=True`` (default) adds the classic second pass: an exact
    count restricted to candidates (broadcast semi-join pushes the key
    filter into the scan), so the output EQUALS
    ``groupBy(col).count().filter(count >= min_count)`` bit-for-bit —
    verifiable against any SQL oracle — while the full universe still
    never pays a shuffle. ``exact=False`` returns one row per candidate
    with the sketch's bounds: (key, lower_bound, upper_bound) where
    lower ≤ true ≤ upper is guaranteed.

    The threshold is either ``min_count`` (an absolute int) or
    ``min_share`` (a fraction of total non-null rows — computed from
    the SAME summary pass, no extra scan, so it stays scale-invariant).
    ``include_bounds=True`` attaches the sketch envelope
    (lower_bound, upper_bound) to each exact row — what an
    error-contract oracle asserts.

    **Superset precondition** (review finding r7): the candidate set is
    guaranteed to contain every key with true count ≥ T only when
    T > Σ_p decr_p (the merged total decrement, ≤ N/(capacity+1)) — a
    key whose count is at or below the total decrement can be evicted
    from EVERY partition summary and never surface as a candidate. The
    total decrement is known after the (bounded) summary pass, so this
    function checks it eagerly: when decr ≥ T it emits a
    ``UserWarning`` and transparently falls back to the exact
    ``groupBy(col).count()`` plan — results stay bit-exact for ANY
    capacity, but the fallback shuffles the full key universe, so for
    the sketch's scale benefit pick capacity ≳ N/min_count (equivalently
    ≳ 1/min_share). In fallback bounds degenerate to
    lower = upper = count (still a valid envelope).

    The returned key column keeps the source column's type for atomic
    types (numeric/boolean/date/timestamp/string); binary and complex
    keys are returned as their string form.

    NULL keys are ignored (SQL aggregate convention). The bounded
    summary is persisted only within this call (unpersisted before
    returning; the small candidate set is collected and re-created as a
    driver-local DataFrame — fault-tolerant under executor loss and
    dynamic-allocation scale-down, unlike a localCheckpoint — so the
    returned plan never references the summary cache; see
    ``_pin_small`` for the bounded-collect cap and its fallback).
    Build-time behavior: calling this function runs the summary scan
    EAGERLY (the superset check needs the total decrement) — guarded by
    strictLazy like every eager build site — and the pinned candidates
    are a build-time snapshot: if the source mutates before the
    returned plan executes, the recount sees current data against
    frozen candidates (the standard staleness caveat of every memoized
    build here).
    """
    if capacity < 1:
        raise ValueError(f"capacity must be ≥ 1, got {capacity}")
    if (min_count is None) == (min_share is None):
        raise ValueError("pass exactly one of min_count, min_share")
    if isinstance(min_count, Column):
        raise ValueError(
            "min_count must be a plain int (the r8 superset guard "
            "compares it against the summary's total decrement at build "
            "time); use min_share for a data-relative threshold"
        )
    from pandarallel_spark.operators._memo import eager_build_guard

    eager_build_guard(
        df.sparkSession,
        "heavy-hitters MG summary pass + superset-precondition check "
        "(one bounded-output scan, then the small candidate checkpoint)",
        "Run outside strict-lazy scope, or use "
        "df.groupBy(col).count().filter(...) directly for a fully lazy "
        "exact plan.",
    )
    import pandas as pd

    orig_type = df.schema[col].dataType
    key_out = _key_restore(orig_type, "__k__", col)
    src = df.select(F.col(col).cast("string").alias("__k__")).filter(
        F.col("__k__").isNotNull()
    )

    def mg_partition(pdf_iter):
        _patch_worker_zipimport()
        counts = pd.Series(dtype="int64")
        decr = 0
        nrows = 0
        seen = False
        for pdf in pdf_iter:
            seen = True
            nrows += len(pdf)
            vc = pdf["__k__"].value_counts()
            counts = counts.add(vc, fill_value=0).astype("int64")
            counts, sub = mg_trim(counts, capacity)
            decr += sub
        if not seen:
            return
        out = pd.DataFrame(
            {"__k__": counts.index.astype(str), "__c__": counts.to_numpy()}
        )
        out["__n__"] = 0
        # one NULL-key row per partition carries its total decrement —
        # the additive term of the global error bound — and the
        # partition's row count (so a share-based threshold needs no
        # second scan)
        out = pd.concat(
            [out, pd.DataFrame({"__k__": [None], "__c__": [decr], "__n__": [nrows]})],
            ignore_index=True,
        )
        yield out

    # the summary is consumed twice (error totals, then merge) —
    # persist the ≤ partitions×(capacity+1) bounded rows so the sketch
    # pass scans the input once, not twice; unpersisted below once the
    # (small) candidate set is materialized
    summ = src.mapInPandas(
        mg_partition, "__k__ string, __c__ long, __n__ long"
    ).persist()
    decr, nn = summ.filter(F.col("__k__").isNull()).agg(
        F.coalesce(F.sum("__c__"), F.lit(0)),
        F.coalesce(F.sum("__n__"), F.lit(0)),
    ).first()
    decr, nn = int(decr), int(nn)
    import math

    thr = (
        int(math.ceil(nn * float(min_share)))
        if min_share is not None
        else int(min_count)
    )
    if decr >= thr:
        # superset guarantee void: a key with true count in
        # [thr, decr] may have been evicted everywhere. Fall back to
        # the exact plan — correct for any capacity, at the cost of
        # shuffling the key universe. (An EMPTY input trivially lands
        # here with thr = decr = 0 — the fallback is still right, but
        # a "raise capacity" warning would be noise.)
        summ.unpersist()
        if nn > 0:
            warnings.warn(
                f"heavy_hitters: total MG decrement {decr} ≥ threshold "
                f"{thr}; the sketch cannot guarantee a candidate "
                f"superset. Falling back to exact groupBy — raise "
                f"capacity above ~N/threshold (N={nn}) to keep the "
                f"sketch's scale benefit.",
                UserWarning,
                stacklevel=2,
            )
        counted = src.groupBy("__k__").agg(
            F.count(F.lit(1)).alias("count")
        ).filter(F.col("count") >= thr)
        if not exact:
            return counted.select(
                key_out,
                F.col("count").alias("lower_bound"),
                F.col("count").alias("upper_bound"),
            )
        extra = (
            [
                F.col("count").alias("lower_bound"),
                F.col("count").alias("upper_bound"),
            ]
            if include_bounds
            else []
        )
        return counted.select(key_out, "count", *extra)

    merged = (
        summ.filter(F.col("__k__").isNotNull())
        .groupBy("__k__")
        .agg(F.sum("__c__").alias("__lb__"))
    )
    # candidate gate: true ≤ lb + decr, so true ≥ T ⇒ lb ≥ T − decr
    # (> 0, so every qualifying key survives in the merged summary).
    # Pin the small post-gate set fault-tolerantly (bounded collect +
    # local re-create — ADVICE r8; previously localCheckpoint): its
    # lineage detaches from the summary cache, letting us unpersist the
    # summary NOW instead of leaking it for the session (r7), and the
    # pinned rows survive executor loss / dynamic-allocation scale-down.
    candidates = _pin_small(
        merged.filter(F.col("__lb__") >= F.lit(thr - decr)),
        "__k__ string, __lb__ bigint",
    )
    summ.unpersist()
    if not exact:
        return candidates.select(
            key_out,
            F.col("__lb__").alias("lower_bound"),
            (F.col("__lb__") + F.lit(decr)).alias("upper_bound"),
        )
    cand_keys = candidates.select("__k__")
    counted = (
        src.join(F.broadcast(cand_keys), "__k__", "left_semi")
        .groupBy("__k__")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if include_bounds:
        # include_bounds: attach the sketch's envelope to each exact
        # row, so a caller (or an error-contract oracle) can assert
        # lower ≤ exact ≤ upper — guaranteed by MG regardless of
        # partitioning, hence deterministic
        counted = counted.join(F.broadcast(candidates), "__k__")
        extra = [
            F.col("__lb__").alias("lower_bound"),
            (F.col("__lb__") + F.lit(decr)).alias("upper_bound"),
        ]
    else:
        extra = []
    return counted.filter(F.col("count") >= thr).select(
        key_out, "count", *extra
    )


def grouped_heavy_hitters(
    df: DataFrame,
    group_col: str,
    col: str,
    min_count: int | None = None,
    capacity: int = 4096,
    min_share: float | None = None,
) -> DataFrame:
    """Per-group frequent items — e.g. top tokens per language of a
    multilingual corpus. The Misra-Gries summary runs over the
    COMPOSITE (group, key): one global capacity bounds executor memory
    regardless of how many groups exist, and the merged lower bound
    undercounts any composite by at most Σ_p decr_p ≤ N/(capacity+1) —
    the same superset guarantee as ``heavy_hitters``, with the error
    budget shared across groups (size capacity generously when one
    group dominates the row count).

    The threshold is per GROUP: ``min_count`` absolute, or ``min_share``
    of the group's total rows. Group totals piggyback on the summary
    pass (each partition emits its exact per-group row counts next to
    its sketch rows — assumes |groups| ≪ N, the same assumption any
    map-side-combined group total makes), so ``src`` is scanned exactly
    twice: summary + candidate recount. Output is always exact:
    candidates are recounted behind a broadcast semi join, so the
    result EQUALS ``groupBy(group, key).count().filter(count >= T_g)``.

    **Superset precondition** (review finding r7): as in
    ``heavy_hitters``, the guarantee needs T_g > Σ_p decr_p for every
    group — the decrement budget is GLOBAL (one capacity across
    groups), so the binding constraint is the SMALLEST per-group
    threshold. Checked eagerly after the summary pass; on violation a
    ``UserWarning`` fires and the exact groupBy plan runs instead
    (bit-exact for any capacity, at universe-shuffle cost).

    Group/key columns keep their source types for atomic types; binary
    and complex values are returned as strings. NULL groups or keys are
    ignored. The bounded summary is unpersisted before returning.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be ≥ 1, got {capacity}")
    if (min_count is None) == (min_share is None):
        raise ValueError("pass exactly one of min_count, min_share")
    if isinstance(min_count, Column):
        raise ValueError(
            "min_count must be a plain int (the superset guard compares "
            "it against the summary's total decrement at build time); "
            "use min_share for a data-relative threshold"
        )
    from pandarallel_spark.operators._memo import eager_build_guard

    eager_build_guard(
        df.sparkSession,
        "grouped heavy-hitters MG summary pass + superset-precondition "
        "check (one bounded-output scan, then the small candidate "
        "checkpoint)",
        "Run outside strict-lazy scope, or use "
        "df.groupBy(group, key).count().filter(...) directly for a "
        "fully lazy exact plan.",
    )
    import math

    import pandas as pd

    g_out = _key_restore(df.schema[group_col].dataType, "__g__", group_col)
    k_out = _key_restore(df.schema[col].dataType, "__k__", col)
    src = df.select(
        F.col(group_col).cast("string").alias("__g__"),
        F.col(col).cast("string").alias("__k__"),
    ).filter(F.col("__g__").isNotNull() & F.col("__k__").isNotNull())

    def mg_partition(pdf_iter):
        _patch_worker_zipimport()
        counts = None  # lazily a MultiIndex (group, key) → count Series
        gcounts = pd.Series(dtype="int64")  # exact per-group row counts
        decr = 0
        seen = False
        for pdf in pdf_iter:
            seen = True
            gcounts = gcounts.add(
                pdf["__g__"].value_counts(), fill_value=0
            ).astype("int64")
            vc = pdf[["__g__", "__k__"]].value_counts()
            counts = (
                vc.astype("int64")
                if counts is None
                else counts.add(vc, fill_value=0).astype("int64")
            )
            counts, sub = mg_trim(counts, capacity)
            decr += sub
        if not seen or counts is None:
            return
        idx = counts.index
        out = pd.DataFrame({
            "__g__": idx.get_level_values(0).astype(str),
            "__k__": idx.get_level_values(1).astype(str),
            "__c__": counts.to_numpy(),
        })
        # NULL-key rows: per-group exact totals (group, NULL, n_g) plus
        # one (NULL, NULL, decr) row carrying the partition's total
        # decrement — group totals ride the sketch pass for free
        gtot_rows = pd.DataFrame({
            "__g__": gcounts.index.astype(str),
            "__k__": None,
            "__c__": gcounts.to_numpy(),
        })
        decr_row = pd.DataFrame(
            {"__g__": [None], "__k__": [None], "__c__": [decr]}
        )
        yield pd.concat([out, gtot_rows, decr_row], ignore_index=True)

    summ = src.mapInPandas(
        mg_partition, "__g__ string, __k__ string, __c__ long"
    ).persist()
    # ONE eager job fetches the total decrement AND the total row count
    # (the latter only gates the fallback warning — a separate
    # emptiness probe would be a whole extra job, review finding r8)
    decr, total_rows = summ.agg(
        F.coalesce(
            F.sum(F.when(F.col("__g__").isNull(), F.col("__c__"))), F.lit(0)
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__k__").isNull() & F.col("__g__").isNotNull(),
                    F.col("__c__"),
                )
            ),
            F.lit(0),
        ),
    ).first()
    decr, total_rows = int(decr), int(total_rows)
    gtot = (
        summ.filter(F.col("__k__").isNull() & F.col("__g__").isNotNull())
        .groupBy("__g__")
        .agg(F.sum("__c__").alias("__gn__"))
    )
    if min_share is not None:
        thr = F.ceil(F.col("__gn__") * F.lit(float(min_share))).cast("long")
        min_thr = gtot.agg(
            F.min(F.ceil(F.col("__gn__") * F.lit(float(min_share))))
        ).first()[0]
        min_thr = 0 if min_thr is None else int(min_thr)
    else:
        thr = F.lit(int(min_count))
        min_thr = int(min_count)

    if decr >= min_thr:
        # smallest per-group threshold is inside the global decrement
        # budget — a qualifying (group, key) may have been evicted
        # everywhere. Run the exact plan instead.
        # pin fault-tolerantly, cutting lineage off summ (ADVICE r8)
        gtot = _pin_small(gtot, "__g__ string, __gn__ bigint")
        summ.unpersist()
        if total_rows > 0:  # empty input lands here trivially
            warnings.warn(
                f"grouped_heavy_hitters: total MG decrement {decr} ≥ "
                f"smallest per-group threshold {min_thr}; the sketch "
                f"cannot guarantee a candidate superset. Falling back "
                f"to exact groupBy — raise capacity above ~N/threshold "
                f"to keep the sketch's scale benefit.",
                UserWarning,
                stacklevel=2,
            )
        return (
            src.groupBy("__g__", "__k__")
            .agg(F.count(F.lit(1)).alias("count"))
            .join(F.broadcast(gtot), "__g__")
            .filter(F.col("count") >= thr)
            .select(g_out, k_out, "count")
        )

    merged = (
        summ.filter(F.col("__k__").isNotNull())
        .groupBy("__g__", "__k__")
        .agg(F.sum("__c__").alias("__lb__"))
    )
    candidates = _pin_small(  # small; lets the summary cache go, and
        # survives executor churn unlike localCheckpoint (ADVICE r8)
        merged.join(F.broadcast(gtot), "__g__")
        .filter(F.col("__lb__") + F.lit(decr) >= thr)
        .select("__g__", "__k__", "__gn__"),
        "__g__ string, __k__ string, __gn__ bigint",
    )
    summ.unpersist()
    counted = (
        src.join(F.broadcast(candidates.select("__g__", "__k__")),
                 ["__g__", "__k__"], "left_semi")
        .groupBy("__g__", "__k__")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return (
        counted.join(F.broadcast(candidates), ["__g__", "__k__"])
        .filter(F.col("count") >= thr)
        .select(g_out, k_out, "count")
    )
