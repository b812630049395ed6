"""Custom stateful streaming operators via ``applyInPandasWithState``.

The reference has no streaming at all (SURVEY.md §2.2); these are the
north-star extensions a training-data pipeline runs on a live feed:
cross-batch exact dedup (keep the first occurrence of a key, forever)
and per-key running counters. State is per-key and bounded by the
distinct-key count; on a real cluster state lives in the state store
(RocksDB/HDFS-checkpointed), so a 100 TB/day stream holds only keys,
not data, in memory.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pandarallel_spark.session import _patch_worker_zipimport


def dedup_stream(stream: DataFrame, key_cols: list[str]) -> DataFrame:
    """Cross-micro-batch exact dedup: emits each key's first-seen row
    once, drops every later arrival (any batch, forever).

    ``dropDuplicates`` on a stream needs a watermark to bound state and
    forgets keys past it; this keeps keys indefinitely — the semantics
    exact dedup of a training corpus actually needs.
    """
    out_schema = stream.schema
    out_names = [f.name for f in out_schema.fields]

    def first_seen(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        _patch_worker_zipimport()
        if state.exists:
            for _ in pdfs:  # drain; key already emitted in a past batch
                pass
            return
        first = None
        for pdf in pdfs:
            if first is None and len(pdf):
                first = pdf.iloc[[0]][out_names]
        state.update((True,))
        if first is not None:
            yield first

    return stream.groupBy(*key_cols).applyInPandasWithState(
        first_seen,
        outputStructType=out_schema,
        stateStructType=T.StructType([T.StructField("seen", T.BooleanType())]),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_counts(stream: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-key cumulative event count, emitted once per micro-batch the
    key appears in — a stateful counter ``groupBy().count()`` can't
    express in append mode."""
    key_fields = [stream.schema[k] for k in key_cols]
    out_schema = T.StructType(
        [*key_fields, T.StructField("n_events_total", T.LongType())]
    )

    def counter(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        _patch_worker_zipimport()
        n = state.get[0] if state.exists else 0
        batch_n = sum(len(pdf) for pdf in pdfs)
        n += batch_n
        state.update((n,))
        row = dict(zip(key_cols, key))
        row["n_events_total"] = n
        yield pd.DataFrame([row])

    return stream.groupBy(*key_cols).applyInPandasWithState(
        counter,
        outputStructType=out_schema,
        stateStructType=T.StructType([T.StructField("n", T.LongType())]),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def content_dedup_stream(
    stream: DataFrame, text_col: str, fp_col: str = "__fp__"
) -> DataFrame:
    """Streaming content dedup: the streaming twin of
    ``operators/dedup.fingerprint_dedup``. The bag-of-words fingerprint
    (sorted-distinct-token md5 — a pure Column expression, computed in
    the scan) keys the same cross-batch first-seen state as
    ``dedup_stream``: the first document with a given normalized content
    is emitted, every later arrival (same batch or any future one) is
    dropped. State holds one boolean per distinct fingerprint — bounded
    by corpus vocabulary of contents, not stream volume."""
    from pandarallel_spark.operators.text import fingerprint

    if fp_col in stream.columns:
        raise ValueError(
            f"content_dedup_stream: input already has a column named "
            f"{fp_col!r}; pass fp_col= to avoid clobbering it"
        )
    with_fp = stream.withColumn(fp_col, fingerprint(text_col))
    return dedup_stream(with_fp, [fp_col]).drop(fp_col)


def streaming_heavy_hitters(
    stream: DataFrame,
    col: str,
    capacity: int = 4096,
    n_buckets: int = 32,
    emit: str = "snapshot",
    top_k: int | None = None,
) -> DataFrame:
    """Streaming frequent items (r9) — the streaming twin of
    ``operators/relational.heavy_hitters``: a Misra-Gries summary held
    in keyed state, updated per micro-batch, cumulative over the whole
    stream.

    Keys hash into ``n_buckets`` state groups (each key lives in
    exactly ONE bucket, so per-bucket guarantees compose globally);
    each bucket's state is ≤ ``capacity`` (key, lower-bound count)
    counters plus its total decrement. Per micro-batch each updated
    bucket emits a snapshot row per surviving candidate:
    (key, lower_bound, decr, bucket, n_seen) with the standard MG
    envelope lower_bound ≤ true-count-AT-SNAPSHOT ≤ lower_bound + decr;
    ``n_seen`` (the bucket's cumulative processed rows) strictly
    increases per emitted snapshot, so the LATEST state per bucket is
    the rows with its maximum ``n_seen`` — the recency handle a
    foreachBatch upsert keys on (the envelope binds counts as of that
    snapshot; an evicted key's older snapshots go stale by design, as
    in any sketch). State memory
    is bounded at n_buckets × capacity counters no matter the stream
    volume or key universe — the property that makes top-K over an
    unbounded feed feasible at all. Downstream consumers keep the
    LATEST snapshot per key (e.g. a foreachBatch upsert); candidates
    below any target threshold are filtered with the same
    T > Σ decr precondition as the batch operator.

    NULL keys are ignored. State never times out (cumulative
    semantics, like ``dedup_stream``).

    ``emit`` (r10 — r9 verdict task 7: the full snapshot is
    n_buckets × capacity rows EVERY micro-batch, which dominates a
    long-running sink) picks the per-batch emission:

    - ``"snapshot"`` (default) — the full candidate snapshot per
      updated bucket, as before. Latest-per-bucket = rows at its max
      ``n_seen``.
    - ``"topk"`` — only each updated bucket's ``top_k``
      highest-lower-bound candidates (ties → lexicographically smaller
      key). Right for dashboards that only render the head; a key that
      falls OUT of the top-k simply stops updating (stale by design,
      like any evicted sketch candidate).
    - ``"changed"`` — only candidates whose lower bound changed in
      this batch (new, incremented, or trim-decremented), plus a
      TOMBSTONE row (``lower_bound = -1``) for each candidate the
      batch's trims evicted. A batch whose trims moved the bucket's
      ``decr`` re-emits that bucket's whole candidate list — every
      surviving row's error envelope (true ≤ lower + decr) changed,
      including rows whose count the trim left coincidentally equal —
      so the savings apply to the trim-free steady state, which is
      where a long-running sink lives. An upsert consumer keyed on
      (bucket, key), applying rows in ``n_seen`` order and deleting on
      the -1 sentinel, reconstructs EXACTLY the snapshot mode's latest
      state — pinned by pytest — while each batch ships only its
      delta.
    """
    if capacity < 1:
        raise ValueError(f"capacity must be ≥ 1, got {capacity}")
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be ≥ 1, got {n_buckets}")
    if emit not in ("snapshot", "topk", "changed"):
        raise ValueError(
            f"emit must be 'snapshot', 'topk' or 'changed', got {emit!r}"
        )
    if emit == "topk" and (top_k is None or top_k < 1):
        raise ValueError("emit='topk' requires top_k ≥ 1")
    if emit != "topk" and top_k is not None:
        raise ValueError(f"top_k only applies to emit='topk' (emit={emit!r})")
    from pyspark.sql import functions as F

    # the SAME trim as the batch operator (shared helper — the envelope
    # math must not diverge between twins). Imported ONCE here, outside
    # the per-chunk hot path (ADVICE r9); the closure pickles the
    # module-level function by reference.
    from pandarallel_spark.operators.relational import mg_trim

    src = (
        stream.select(F.col(col).cast("string").alias("__k__"))
        .filter(F.col("__k__").isNotNull())
        .withColumn("__b__", F.pmod(F.xxhash64("__k__"), F.lit(n_buckets)))
    )
    out_schema = T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("lower_bound", T.LongType()),
        T.StructField("decr", T.LongType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("decr", T.LongType()),
        T.StructField("n_seen", T.LongType()),
    ])

    def mg_update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        _patch_worker_zipimport()
        bucket = int(key[0])
        if state.exists:
            keys, counts, decr, n_seen = state.get
            summ = dict(zip(keys, counts))
        else:
            summ, decr, n_seen = {}, 0, 0
        # start-of-batch counts, consumed only by delta emission — the
        # snapshot/topk hot path must not pay an up-to-capacity dict
        # copy per micro-batch for nothing
        before = dict(summ) if emit == "changed" else None
        decr_before = decr
        seen = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            seen = True
            n_seen += len(pdf)
            for k, c in pdf["__k__"].value_counts().items():
                summ[k] = summ.get(k, 0) + int(c)
            if len(summ) > capacity:
                trimmed, sub = mg_trim(pd.Series(summ), capacity)
                summ = {k: int(v) for k, v in trimmed.items()}
                decr += sub
        if not seen:
            return
        state.update(
            (list(summ.keys()), [int(v) for v in summ.values()], decr, n_seen)
        )
        if emit == "snapshot":
            out_keys = list(summ.keys())
            out_counts = [int(summ[k]) for k in out_keys]
        elif emit == "topk":
            head = sorted(summ.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
            out_keys = [k for k, _ in head]
            out_counts = [int(v) for _, v in head]
        else:  # changed: delta rows + -1 tombstones for trim evictions
            if decr != decr_before:
                # a trim moved the bucket-level decr, which every
                # surviving row's error envelope (true ≤ lower + decr)
                # depends on — a key whose count happens to be unchanged
                # (increments exactly cancelled by the trim) still needs
                # re-emitting or the consumer's stored decr goes stale
                # and its envelope turns false. Trim batches therefore
                # re-emit the whole candidate list; the delta savings
                # apply to the steady state, where trims are rare.
                out_keys = list(summ.keys())
            else:
                out_keys = [k for k, v in summ.items() if before.get(k) != v]
            out_counts = [int(summ[k]) for k in out_keys]
            gone = [k for k in before if k not in summ]
            out_keys += gone
            out_counts += [-1] * len(gone)
        if not out_keys:
            return
        yield pd.DataFrame({
            "key": out_keys,
            "lower_bound": out_counts,
            "decr": decr,
            "bucket": bucket,
            "n_seen": n_seen,
        })

    return src.groupBy("__b__").applyInPandasWithState(
        mg_update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
