"""Deduplication operators for training-data pipelines (SURVEY.md §2.3).

Four tiers, each a different cost/recall point at 100 TB:

- ``exact_dedup``        — hash-groupBy on the raw key columns. One
  shuffle on the key; AQE handles skew. The baseline every pipeline runs.
- ``fingerprint_dedup``  — exact dedup on a *normalized* key (sorted
  distinct token set, ``text.fingerprint``) — catches word-order
  permutations for the cost of exact dedup.
- ``ngram_jaccard_pairs`` — exact n-gram-set Jaccard via a shingle
  self-join. Quadratic in docs-per-shingle; a cheap frequency aggregate
  auto-enables the lossless PPJoin prefix filter on heavy-tailed
  corpora (``_should_prefix_filter``), and ``max_shingle_freq`` remains
  as an explicit lossy lever (drop shingles occurring in more than N
  docs — they contribute candidates, not discrimination).
- ``minhash_lsh_pairs``  — MinHash signatures + LSH banding: candidates
  from band-bucket joins (linear-ish), then *exact* Jaccard verification
  of candidates only. The standard 100 TB near-dup design
  (shingle → minhash → band → bucket-join → verify); r9: exact-first —
  documents collapse to one exemplar per DISTINCT shingle set before
  banding, so duplicate-heavy corpora cannot blow up the candidate set.
- ``simhash_pairs``      — 64-bit SimHash + chunk-blocking + Hamming
  distance ≤ k. Cheapest signature; catches small edits.

Hash determinism: MinHash permutations use ``xxhash64`` with fixed
per-permutation seeds; SimHash bits derive from md5 halves (ANSI-SQL-
expressible, so the oracle reproduces signatures exactly). Both are
reproducible run-to-run and across cluster sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandarallel_spark.operators._memo import (
    bucketed_apply,
    eager_build_guard,
    memo_put,
    plan_data_key,
    strict_lazy,
    truncate_lineage,
)
from pandarallel_spark.operators.text import fingerprint, tokens

_CANDIDATE_BC_CAP_CONF = "spark.pandarallel_spark.candidateBroadcastCap"
_CANDIDATE_BC_CAP_DEFAULT = 200_000

# probe verdicts keyed on (source plan+files, parameters, cap) — the
# skew-probe memo pattern (_skew.py), r11 verdict task: a pipeline that
# builds the same pair plan repeatedly (retry loops, bench reruns over
# unchanged parquet, multi-consumer compositions) pays the bounded
# count once, not once per call
_bc_probe_memo: dict = {}


def resolve_broadcast_candidates(
    candidates: DataFrame, setting, memo_key: tuple | None = None
) -> bool:
    """Resolve a ``broadcast_candidates`` setting to a concrete bool.

    ``"auto"`` (the r11 default, closing the r10 verdict's "manual
    boolean" item): a bounded ``limit(cap+1)`` count over the candidate
    table — broadcast only when the candidate set PROVABLY fits under
    ``spark.pandarallel_spark.candidateBroadcastCap`` (default 200 000
    rows; candidate rows are fingerprint pairs, so that is low tens of
    MB). The candidate table at every call site is already
    lineage-truncated and consumed unconditionally downstream, so the
    probe materializes blocks the plan pays for anyway — its marginal
    cost is one bounded count over them. Under strictLazy the probe
    would be a forbidden build-time job: ``"auto"`` resolves to False
    (plain equi-joins; AQE still broadcasts at runtime when the
    measured size is small — the always-safe direction). Explicit
    True/False pass through untouched.

    ``memo_key`` (r12): a :func:`_memo.plan_data_key`-derived identity
    of the SOURCE data + the parameters that determine the candidate
    set. When given, the probe verdict is memoized per (key, cap) so
    rebuilding the same plan over unchanged files skips the count; the
    candidate frame itself has no file identity to key on (it sits
    behind a lazy ``localCheckpoint``), which is why the key comes from
    the caller's sources. ``None`` (driver-local or otherwise
    unidentifiable inputs) probes every time — correct, just uncached.

    Caveat (shared with ``_skew._PROTECT_MEMO``, same tradeoff): the
    key is semanticHash + input-file NAMES, so a source overwritten IN
    PLACE with identical file names returns the stale verdict — here
    that can mean broadcasting a candidate set that no longer fits
    (executor memory pressure, not wrong results; AQE-planned joins are
    unaffected). Grown datasets normally add/rename part files, which
    changes the key; pipelines that do rewrite in place should pass
    ``memo_key=None`` or restart the session. File sizes/mtimes are
    deliberately NOT in the key — hitting the memo must not cost a
    per-call filesystem listing of every input file.
    """
    if setting != "auto":
        return bool(setting)
    spark = candidates.sparkSession
    if strict_lazy(spark):
        return False
    try:
        cap = int(spark.conf.get(_CANDIDATE_BC_CAP_CONF,
                                 str(_CANDIDATE_BC_CAP_DEFAULT)))
    except (ValueError, TypeError):
        cap = _CANDIDATE_BC_CAP_DEFAULT
    key = None if memo_key is None else (memo_key, cap)
    if key is not None and key in _bc_probe_memo:
        return _bc_probe_memo[key]
    fits = candidates.limit(cap + 1).count() <= cap
    if key is not None:
        memo_put(_bc_probe_memo, key, fits)
    return fits


# ---------------------------------------------------------------------------
# exact / fingerprint
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    keep_by: Column | None = None,
) -> DataFrame:
    """Keep one row per duplicate group — by default the lowest id
    (deterministic), or the row maximizing ``keep_by`` when given (ties
    broken by min id, still total). ``keep_by`` is the survivor policy
    a cleanup pipeline usually wants: e.g. ``F.length("text")`` keeps
    the LONGEST copy of duplicated content, ``F.col("quality")`` the
    best-scored one. One shuffle on the dedup key either way (the
    ranking window rides the same hash partitioning)."""
    order = (
        [F.col(id_col)]
        if keep_by is None
        else [keep_by.desc(), F.col(id_col)]
    )
    w = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def fingerprint_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep_by: Column | None = None,
) -> DataFrame:
    """Exact dedup on the bag-of-words fingerprint (same ``keep_by``
    survivor policy as ``exact_dedup``)."""
    with_fp = df.withColumn("__fp__", fingerprint(text_col))
    return exact_dedup(with_fp, ["__fp__"], id_col, keep_by=keep_by).drop("__fp__")


# ---------------------------------------------------------------------------
# n-gram shingles + exact Jaccard
# ---------------------------------------------------------------------------


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-grams ('w1 w2 w3'); empty array when < n tokens."""
    toks = tokens(col)
    size = F.size(toks)
    idx = F.sequence(F.lit(0), size - F.lit(n))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + F.lit(j) + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.when(size >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, n: int, distinct: bool = False
) -> DataFrame:
    """(id, shingle) exploded rows — ZERO shuffles; duplicates kept by
    default, ``distinct=True`` dedupes WITHIN each doc in the array
    domain (``array_distinct`` before the explode — still shuffle-free;
    the corpus-wide variant ``_shingle_table`` needs a shuffle).

    Shingling is per-document, so it needs no data movement: tokenize
    once into an array column, index it with ``transform`` over a
    ``sequence``, explode. Runtime subexpression elimination keeps the
    tokenizer single-pass even after Catalyst collapses the two projects
    (measured linear on 3000-token docs — 6M shingles in 0.7 s). Docs
    with < n tokens produce no rows (explode of an empty array).
    """
    arr = df.select(F.col(id_col).alias("__id__"), tokens(text_col).alias("__tk__"))
    size = F.size("__tk__")
    idx = F.when(size >= n, F.sequence(F.lit(0), size - F.lit(n))).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at("__tk__", (i + F.lit(j) + 1).cast("int")) for j in range(n)]
        ),
    )
    if distinct:
        gram = F.array_distinct(gram)
    return arr.select("__id__", F.explode(gram).alias("__s__"))


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) distinct table — the exact-Jaccard join substrate.
    One shuffle (the distinct); the shingling itself is shuffle-free."""
    return _shingle_rows(df, id_col, text_col, n).distinct()


# protection-decision memo: (input identity, shingle n, blowup
# factor) → bool. The measurement is an EAGER Spark job at plan-build
# time; repeated builds of the same dedup over the same input (interactive
# reruns, bench steady-state, retried pipelines) should pay it once.
# Bounded FIFO (same eviction helper as window.py's plan-fragment memos).
_PROTECT_MEMO: dict = {}


def _should_prefix_filter(sh: DataFrame, blowup_factor: float = 8.0) -> bool:
    """Measure, don't guess: ONE cheap aggregate over the shingle table
    decides whether the plain shingle self-join is safe. The join emits
    Σ_s f_s·(f_s−1)/2 intersection rows (f_s = docs containing shingle
    s) — quadratic in the hottest buckets. When that estimate exceeds
    ``blowup_factor ×`` the shingle-row count, the corpus is heavy-tailed
    and the (lossless) prefix filter pays for itself. The aggregate
    groups by ``xxhash64(shingle)`` instead of the string — the shuffle
    carries longs, and a 64-bit collision only merges two counts, which
    OVER-estimates the blowup (the safe direction). Map-side partial
    count, then two scalars — one scan, negligible next to the join it
    protects against."""
    row = (
        sh.groupBy(F.xxhash64("__s__").alias("__sh64__"))
        .agg(F.count(F.lit(1)).alias("__f__"))
        .agg(
            F.sum("__f__").alias("rows"),
            # f² sums as DOUBLE: at the 100 TB design point a handful of
            # ~1e9-doc stopword shingles would wrap an int64 sum negative
            # and silently DISABLE protection exactly where it matters;
            # double precision is ample for an 8×-blowup heuristic
            F.sum(F.col("__f__").cast("double") * F.col("__f__")).alias("sumsq"),
        )
        .first()
    )
    if row is None or not row["rows"]:
        return False
    join_rows = (row["sumsq"] - row["rows"]) / 2
    return join_rows > blowup_factor * row["rows"]


def _prefix_candidates(
    sh: DataFrame, threshold: float, sizes: DataFrame | None = None
) -> DataFrame:
    """PPJoin candidate pairs: join each doc's rare-first prefix
    (the first ``|x| − ceil(t·|x|) + 1`` shingles under the global
    ascending-frequency order) against all other prefixes. Any pair with
    J ≥ t must collide here (prefix-filtering lemma), and hot shingles
    rank last so they land in almost no prefixes — the join's hot
    buckets vanish. ``sizes`` (per-doc shingle counts) is accepted from
    the caller so the aggregate isn't computed twice per run.
    Output: distinct (id_a, id_b), id_a < id_b."""
    if sizes is None:
        sizes = sh.groupBy("__id__").agg(F.count(F.lit(1)).alias("__sz__"))
    freq = sh.groupBy("__s__").agg(F.count(F.lit(1)).alias("__f__"))
    w = Window.partitionBy("__id__").orderBy("__f__", "__s__")
    ranked = (
        sh.join(freq, "__s__")
        .join(sizes, "__id__")
        .select(
            "__id__",
            "__s__",
            F.row_number().over(w).alias("__rn__"),
            "__sz__",
        )
    )
    # prefix length with INTEGER arithmetic: float ceil(sz*t) can
    # round up on values like 10*0.3=3.0000000000000004, shortening
    # the prefix and silently losing pairs. Under-approximate t at
    # 1e-6 resolution instead — a too-long prefix only admits extra
    # candidates, which exact verification then rejects.
    import math

    tq = math.floor(threshold * 1_000_000)
    prefix = ranked.filter(
        F.col("__rn__")
        <= F.col("__sz__") - F.expr(f"(__sz__ * {tq}L + 999999) DIV 1000000") + 1
    ).select("__id__", "__s__")
    pa = prefix.select(F.col("__id__").alias("id_a"), "__s__")
    pb = prefix.select(F.col("__id__").alias("id_b"), "__s__")
    return (
        pa.join(pb, "__s__")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
    prefix_filter: bool | None = None,
    protect_blowup: float = 8.0,
) -> DataFrame:
    """Exact Jaccard over distinct word-n-gram sets, for all pairs with
    jaccard ≥ threshold. Output: (id_a, id_b, jaccard), id_a < id_b.

    Jaccard = |A∩B| / (|A|+|B|-|A∩B|) — pure integer counts divided once
    at the end → bit-exact vs any oracle.

    ``prefix_filter`` (PPJoin prefix-filtering lemma, Xiao et al. '08):
    order every doc's shingles by a global total order (ascending corpus
    frequency, rarest first; ties by value) — any pair with J ≥ t must
    share a shingle within each side's first ``|x| - ceil(t·|x|) + 1``
    shingles. Candidates come from joining PREFIXES only, then exact
    verification runs over the candidates' full sets. Lossless at any
    threshold, and the rare-first order is what makes it scale: the hot
    shingles that would dominate a full self-join (bucket size² work)
    land in almost no prefixes. At t=0.5 the prefix join touches ~½ of
    rows per side before skew savings.

    ``prefix_filter=None`` (default) auto-decides per corpus via
    ``_should_prefix_filter``: a heavy-tailed shingle distribution (one
    hot shingle in half the docs would make the plain join quadratic)
    flips the prefix path on; mostly-unique corpora (this repo's
    testdata) keep the cheaper plain join, whose extra freq-agg +
    ranking-window stages would cost more than they save there
    (measured 3.8 s vs 2.2 s at sf0.1). Results are identical either
    way — the filter is lossless at any threshold (differential-tested
    in tests/test_dedup_text.py, including a 50%-hot-shingle corpus).

    LAZINESS CAVEAT: ``prefix_filter=None`` runs the measurement as an
    EAGER Spark job at plan-BUILD time (the plan's shape depends on the
    decision), unlike the otherwise fully-lazy builder. Pipelines that
    construct plans ahead of execution, or against a session that must
    stay idle, should pass ``prefix_filter=True/False`` explicitly; the
    ``spark.pandarallel_spark.strictLazy`` conf turns a would-be
    measurement job into a RuntimeError naming that escape hatch (memo
    hits never trigger it). The
    decision is memoized per (input plan, n, blowup): re-building the
    same dedup reuses it without a job. The measurement runs on the
    pre-distinct shingle rows (multiset counts ≥ distinct doc
    frequencies → the blowup is only ever OVER-estimated, which can only
    enable the lossless filter early), so it never pays the distinct
    shuffle — one scan + a map-side partial count over hashed shingles.
    """
    sh = _shingle_table(df, id_col, text_col, n)
    if prefix_filter is None:
        # key includes the input FILE LIST (not just the plan hash), so
        # overwriting the same path with new data re-measures instead of
        # reusing a stale decision; inputs without file identity are
        # measured every time (see operators/_memo.plan_data_key)
        mkey = plan_data_key(df, id_col, text_col, n, protect_blowup)
        if mkey is not None and mkey in _PROTECT_MEMO:
            prefix_filter = _PROTECT_MEMO[mkey]
        else:
            eager_build_guard(
                df.sparkSession,
                "ngram-Jaccard prefix-filter protection measurement "
                "(one scan + map-side partial count)",
                "Pass prefix_filter=True/False explicitly to skip the "
                "measurement job (the decision is memoized per plan+data).",
            )
            prefix_filter = _should_prefix_filter(
                _shingle_rows(df, id_col, text_col, n), protect_blowup
            )
            if mkey is not None:
                memo_put(_PROTECT_MEMO, mkey, prefix_filter, cap=64)
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("__s__")
            .agg(F.count(F.lit(1)).alias("__f__"))
            .filter(F.col("__f__") <= max_shingle_freq)
            .select("__s__")
        )
        sh = sh.join(F.broadcast(freq_ok), "__s__")

    sizes = sh.groupBy("__id__").agg(F.count(F.lit(1)).alias("__sz__"))

    if prefix_filter:
        candidates = _prefix_candidates(sh, threshold, sizes=sizes).persist()
        # verification must NOT re-pay the full self-join the prefix
        # filter exists to avoid: Spark can't push a two-sided semi-join
        # below the shingle join, so shrink each SIDE to candidate doc
        # ids first (the minhash_lsh_pairs pattern) — the join then runs
        # over candidate docs' shingles only, and the pair semi-join
        # prunes the (still possible) non-candidate combinations
        cand_ids = (
            candidates.select(F.col("id_a").alias("__cid__"))
            .union(candidates.select(F.col("id_b")))
            .distinct()
        )
        sh_cand = sh.join(
            F.broadcast(cand_ids), sh["__id__"] == F.col("__cid__"), "left_semi"
        )
        a = sh_cand.select(F.col("__id__").alias("id_a"), "__s__")
        b = sh_cand.select(F.col("__id__").alias("id_b"), "__s__")
        inter = (
            a.join(b, "__s__")
            .filter(F.col("id_a") < F.col("id_b"))
            .join(candidates, ["id_a", "id_b"], "left_semi")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__inter__"))
        )
    else:
        a = sh.select(F.col("__id__").alias("id_a"), "__s__")
        b = sh.select(F.col("__id__").alias("id_b"), "__s__")
        inter = (
            a.join(b, "__s__")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("__inter__"))
        )

    sz_a = sizes.select(F.col("__id__").alias("id_a"), F.col("__sz__").alias("__sza__"))
    sz_b = sizes.select(F.col("__id__").alias("id_b"), F.col("__sz__").alias("__szb__"))
    out = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("__inter__").cast("double")
                / (F.col("__sza__") + F.col("__szb__") - F.col("__inter__"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def contamination_hits(
    df: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bench_text_col: str | None = None,
) -> DataFrame:
    """Benchmark decontamination: count word-``n``-gram overlaps between
    each corpus document and a benchmark/eval set — the standard
    pretraining-hygiene pass (drop or down-weight docs that leak eval
    data).

    Scale shape: the benchmark side is SMALL by definition (eval suites
    are KBs against a 100 TB corpus) — its distinct shingles broadcast,
    so the corpus side is one scan + shuffle-free broadcast join; the
    only shuffle is the final per-doc count aggregate (map-side
    partial). Output: (id, n_hits) for documents with ≥1 shared
    shingle; join back ``left_anti`` to drop them.
    """
    bench_text_col = bench_text_col or text_col
    bench_sh = (
        _shingle_rows(benchmark, id_col, bench_text_col, n)
        .select("__s__")
        .distinct()
    )
    # corpus shingles stay a multiset (no corpus-wide distinct shuffle);
    # the hit rows surviving the broadcast join are tiny, so the
    # per-doc DISTINCT count dedups only matches
    doc_sh = _shingle_rows(df, id_col, text_col, n)
    return (
        doc_sh.join(F.broadcast(bench_sh), "__s__")
        .groupBy("__id__")
        .agg(F.count_distinct(F.col("__s__")).alias("n_hits"))
        .select(F.col("__id__").alias(id_col), "n_hits")
    )


# ---------------------------------------------------------------------------
# exact substring duplication (ExactSubstr)
# ---------------------------------------------------------------------------


def _shingle_pos_rows(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, token position, md5 of the k-token shingle) rows — the
    positional variant of ``_shingle_rows`` (same zero-shuffle
    tokenize → transform → explode build; duplicates within a doc
    kept, position carried through posexplode). md5 is the shuffle
    key: 16 bytes regardless of k, cross-engine deterministic (the
    DuckDB oracle reproduces it bit-for-bit)."""
    arr = df.select(F.col(id_col).alias("__id__"), tokens(text_col).alias("__tk__"))
    size = F.size("__tk__")
    idx = F.when(size >= k, F.sequence(F.lit(0), size - F.lit(k))).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.transform(
        idx,
        lambda i: F.md5(
            F.concat_ws(
                " ",
                *[
                    F.element_at("__tk__", (i + F.lit(j) + 1).cast("int"))
                    for j in range(k)
                ],
            )
        ),
    )
    return arr.select("__id__", F.posexplode(gram).alias("__pos__", "__g__"))


def duplicated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_count: int = 2,
    keep_first: bool = False,
    _dup_grams: DataFrame | None = None,
) -> DataFrame:
    """Exact substring duplication: maximal token spans covered by
    k-token shingles that occur ≥ ``min_count`` times corpus-wide
    (across documents or repeated within one).

    This is the ExactSubstr operator of Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (arXiv:2107.06499),
    re-expressed for Spark: the paper builds a single-node suffix
    array over the concatenated corpus — inherently unshardable — but
    its dedup criterion ("any substring of ≥ k tokens that appears
    more than once") is exactly characterized by its length-k
    sub-shingles: a ≥ k-token substring repeats iff every one of its
    k-token windows repeats, so duplicated-shingle positions merged
    into maximal runs reproduce the suffix array's verdict with
    GROUP BY + window machinery that distributes.

    Scale shape: shingling is zero-shuffle (per-doc transform +
    posexplode); duplicated grams come from a groupBy count — partial
    map-side combine collapses each partition's repeats BEFORE the
    shuffle, so a pathological hot gram costs one long-tail reduce
    key, not a window partition in one task's memory; the surviving
    gram set (typically ≪ corpus) sort-merge-joins back (AQE handles
    residual skew); span merging is one per-doc window scan
    (gaps-and-islands: a seed at ``pos`` covers ``[pos, pos+k-1]``,
    runs break when ``pos > prev + k``). Two shuffles total beyond
    the per-doc one.

    ``keep_first=True`` is the paper's survivor policy: each
    duplicated gram RETAINS its globally-first occurrence (lexicographic
    min over (id, pos) — one extra min-struct column in the same
    count aggregate, no extra shuffle) and only the later copies seed
    spans, so one copy of every repeated passage survives a
    subsequent strip. For a clean two-copy repeat every gram's first
    occurrence sits in the earlier copy, reproducing the paper's
    keep-one behavior; when repeats overlap across ≥3 documents the
    per-gram argmin is an approximation — but every gram still keeps
    its first occurrence somewhere, so no content vanishes from the
    corpus. The default (False) removes EVERY occurrence — the
    conservative hygiene form.

    Returns (id, span_start, span_end) inclusive token positions,
    bigint. Feed to ``strip_duplicated_spans`` to cut the spans out.

    ``_dup_grams`` (internal — the workload's kind-tagged family row):
    a precomputed ``(__g__)`` table of the grams occurring ≥
    ``min_count`` times in ``df``, e.g. derived by summing per-half
    count indexes that the caller already pays for
    (``substr_index_build`` counts are additive over a partition of
    the corpus). Skips this function's own corpus-wide count aggregate
    — one full shingle pass saved (guide §2.4) — leaving only the
    seeds join pass. Caller-asserted equivalence; incompatible with
    ``keep_first`` (the first-occurrence struct only exists in the
    in-function aggregate).
    """
    if k < 2:
        raise ValueError(f"k must be ≥ 2 tokens, got {k}")
    if min_count < 2:
        raise ValueError(f"min_count must be ≥ 2, got {min_count}")
    sh = _shingle_pos_rows(df, id_col, text_col, k)
    if _dup_grams is not None:
        if keep_first:
            raise ValueError("_dup_grams is incompatible with keep_first")
        dup_grams = _dup_grams.select("__g__")
    else:
        dup_grams = (
            sh.groupBy("__g__")
            .agg(
                F.count(F.lit(1)).alias("__c__"),
                F.min(F.struct("__id__", "__pos__")).alias("__first__"),
            )
            .filter(F.col("__c__") >= min_count)
            .select("__g__", "__first__")
        )
    seeds = sh.join(dup_grams, "__g__")
    if keep_first:
        seeds = seeds.filter(
            F.struct("__id__", "__pos__") != F.col("__first__")
        )
    return _spans_from_seeds(seeds.select("__id__", "__pos__"), k, id_col)


def _spans_from_seeds(seeds: DataFrame, k: int, id_col: str) -> DataFrame:
    """(__id__, __pos__) seed positions → maximal (id, span_start,
    span_end) runs — the per-doc gaps-and-islands window merge, ONE
    definition shared by the batch and incremental span paths."""
    wd = Window.partitionBy("__id__").orderBy("__pos__")
    brk = F.when(
        F.col("__pos__") > F.lag("__pos__").over(wd) + k, F.lit(1)
    ).otherwise(F.lit(0))  # first row: lag NULL → condition NULL → 0
    isl = seeds.withColumn(
        "__isl__",
        F.sum(brk).over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy("__id__", "__isl__")
        .agg(
            F.min("__pos__").cast("bigint").alias("span_start"),
            (F.max("__pos__") + F.lit(k - 1)).cast("bigint").alias("span_end"),
        )
        .select(F.col("__id__").alias(id_col), "span_start", "span_end")
    )


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_count: int = 2,
    keep_first: bool = False,
    output_col: str = "text_deduped",
) -> DataFrame:
    """Cut every duplicated span (``duplicated_substring_spans``) out
    of each document, keeping the surrounding text. Documents with
    spans get their remaining LOWERCASED tokens re-joined with single
    spaces (the tokenizer's normalization — standard for a cleanup
    pipeline stage); untouched documents keep their original text
    byte-for-byte.

    Scale shape: spans collapse to ≤ a few structs per affected doc
    (collect_list after the span merge), left-joined back on the id;
    the token filter is a JVM lambda with the element index — no
    Python, no extra shuffle beyond the span build."""
    spans = duplicated_substring_spans(
        df, id_col, text_col, k, min_count, keep_first=keep_first
    )
    return _cut_spans(df, id_col, text_col, spans, output_col)


def _cut_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    spans: DataFrame,
    output_col: str,
) -> DataFrame:
    """Cut (id, span_start, span_end) token spans out of each document
    — the strip half of ``strip_duplicated_spans``, ONE definition
    shared with the incremental path."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp__")
    )
    joined = df.join(per_doc, id_col, "left")
    toks = tokens(text_col)
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            "__sp__",
            lambda s: (i.cast("bigint") >= s["span_start"])
            & (i.cast("bigint") <= s["span_end"]),
        ),
    )
    return joined.withColumn(
        output_col,
        F.when(F.col("__sp__").isNull(), F.col(text_col)).otherwise(
            F.array_join(kept, " ")
        ),
    ).drop("__sp__")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Mersenne prime 2^31-1 as the universal-hash modulus — arithmetic
# permutations (a_i·h + b_i) mod p of ONE base hash are far cheaper than
# re-hashing the shingle per permutation, with the same MinHash
# guarantees (Broder '97 min-wise independent family). 31-bit values keep
# every product < 2^62, safely inside signed int64 for JVM arithmetic.
_MERSENNE_P = (1 << 31) - 1


def _perm_params(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(num_perm)
    ]


def _perm_min_exprs(num_perm: int) -> list[Column]:
    """The per-permutation minhash mins over a ``__h__`` column, as
    single-parse F.expr strings: each composed ``F.min(F.pmod(...))`` is
    ~7 py4j round-trips and the 64-wide construction alone costs over a
    second of driver time per plan — measured 32× cheaper as one
    SQL-parsed expression each, byte-identical semantics (long-suffixed
    literals pin the same bigint promotion). ONE definition shared by
    the plain and the fingerprint-carrying signature aggregates."""
    return [
        F.expr(f"min(pmod(__h__ * {a}L + {b}L, {_MERSENNE_P}L)) AS __h{i}__")
        for i, (a, b) in enumerate(_perm_params(num_perm))
    ]


def _hmin_exprs(num_perm: int) -> list[Column]:
    """``min(__h{i}__)`` per permutation — the fingerprint-collapse
    aggregate (members of one distinct set share every value, so min =
    the shared value). Shared by the batch set collapse and the
    incremental index build / delta collapse."""
    return [F.expr(f"min(__h{i}__) AS __h{i}__") for i in range(num_perm)]


def _sig_array_expr(num_perm: int) -> Column:
    """``array(__h0__.., __h{p-1}__)`` — pack the wide mins into the
    signature array column."""
    return F.expr("array(" + ", ".join(f"__h{i}__" for i in range(num_perm)) + ")")


def _bands_explode_expr(bands: int) -> Column:
    """``explode(array(struct(b AS band, __b{b}__ AS h)...))`` — one row
    per band from the wide band-hash columns. ONE definition so the
    batch self-join and the incremental index join band identically
    (their candidate agreement is a correctness requirement)."""
    return F.expr(
        "explode(array("
        + ", ".join(f"struct({b} AS band, __b{b}__ AS h)" for b in range(bands))
        + "))"
    )


def _minhash_agg(
    df: DataFrame, id_col: str, text_col: str, n: int, num_perm: int
) -> DataFrame:
    """(id, __h0__..__h{num_perm-1}__) per-permutation mins.

    Shuffle-free shingling (``_shingle_rows``, duplicates kept — min is
    multiset-invariant) into ONE hash aggregate: the wide min columns
    partial-aggregate map-side, so the shuffle carries docs × num_perm
    longs, not shingles. A wide HashAggregate stays inside whole-stage
    codegen; the tempting per-row array formulation (``aggregate`` +
    ``zip_with`` higher-order functions) is interpreted, not codegen'd —
    measured 20× slower (44 s vs 2 s at sf0.1)."""
    sh = _shingle_rows(df, id_col, text_col, n).withColumn(
        "__h__", F.pmod(F.xxhash64(F.col("__s__")), F.lit(_MERSENNE_P))
    )
    return sh.groupBy("__id__").agg(*_perm_min_exprs(num_perm))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_perm: int = 64
) -> DataFrame:
    """(id, sig array<bigint>) — per-permutation min over the doc's
    shingle multiset. Docs with no shingles (< n tokens) produce no row."""
    agg = _minhash_agg(df, id_col, text_col, n, num_perm)
    return agg.select(
        F.col("__id__"), _sig_array_expr(num_perm).alias("__sig__")
    )


# per-term bound for the set-hash sums: 2^38 keeps a sum of up to ~16M
# distinct shingles per doc inside int64 under ANSI overflow checking
_FP_TERM_BOUND = 1 << 38
_FP_SALT = 0x9E3779B9


def _shingle_rows_distinct(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle) rows, distinct WITHIN each doc — the per-doc
    distinctness is what lets the set-fingerprint ride the signature
    aggregate as plain SUMs (below) instead of a distinct-aggregate
    rewrite that would shuffle shingle-level rows. Thin wrapper so the
    shingling logic lives in exactly one place (``_shingle_rows``)."""
    return _shingle_rows(df, id_col, text_col, n, distinct=True)


def _set_signature_agg(
    df: DataFrame, id_col: str, text_col: str, n: int, num_perm: int
) -> DataFrame:
    """(id, __fp__, __sz__, __h0__..__h{p−1}__) in ONE hash aggregate
    over per-doc-distinct shingle rows — the same single-shuffle shape
    as ``_minhash_agg`` (docs × (num_perm+3) longs through the
    exchange, map-side partials), now also carrying:

    - ``__sz__``  — the doc's distinct-shingle count (reused later as
      the Jaccard denominator, saving the per-set size aggregate), and
    - ``__fp__``  — an exact-set fingerprint: md5 over (size, Σ h₁(s),
      Σ h₂(s)) where h₁/h₂ are independent 38-bit-bounded xxhash64
      values. The sums are order- and (with per-doc-distinct rows)
      multiplicity-independent, so two docs share ``__fp__`` iff their
      shingle SETS are identical (up to a ~2⁻⁸⁰-per-pair hash
      collision). Computing the fingerprint HERE is load-bearing: an
      array-expression form (sort_array + concat_ws over the shingle
      array) gets inlined under the explode by Catalyst's projection
      collapse and re-evaluates per shingle row — measured 10× on
      3000-token docs.

    Docs with < n tokens produce no rows and therefore no output row,
    matching the exact-Jaccard domain (0/0 undefined).
    """
    rows = _shingle_rows_distinct(df, id_col, text_col, n).withColumn(
        "__h__", F.pmod(F.xxhash64(F.col("__s__")), F.lit(_MERSENNE_P))
    )
    agg = rows.groupBy("__id__").agg(
        F.count(F.lit(1)).alias("__sz__"),
        F.expr(f"sum(pmod(xxhash64(__s__), {_FP_TERM_BOUND}L)) AS __fpa__"),
        F.expr(
            f"sum(pmod(xxhash64(__s__, {_FP_SALT}L), {_FP_TERM_BOUND}L)) AS __fpb__"
        ),
        *_perm_min_exprs(num_perm),
    )
    return agg.select(
        "__id__",
        "__sz__",
        F.md5(F.concat_ws("|", "__sz__", "__fpa__", "__fpb__")).alias("__fp__"),
        *[f"__h{i}__" for i in range(num_perm)],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    intra_pairs: str = "clique",
    broadcast_candidates: bool | str = "auto",
    bucket_cap: int | None = None,
    _s1: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    Pipeline (r9 — exact-first, per Lee et al. arXiv:2107.06499's dedup
    ordering): collapse exact shingle-set duplicates to ONE exemplar per
    distinct set → shingle → minhash signature per SET → split into
    ``bands`` bands of ``num_perm/bands`` rows → hash each band →
    self-join on (band, hash) → distinct candidate set-pairs → verify
    with exact Jaccard ≥ threshold → fan the verdicts back out to
    member documents.

    Why collapse first (the r8 verdict's one remaining scale-killer):
    identical documents share every MinHash row, so they collide in ALL
    bands — a 1M-doc boilerplate cluster is 10¹² candidate pairs before
    ``distinct()`` in the naive formulation. Collapsing by an exact
    shingle-set fingerprint (``_set_signature_agg``) means banding,
    candidate generation, and verification all run over DISTINCT
    shingle sets: a duplicate-heavy corpus costs the same as its unique
    core. The fingerprint rides the SAME single-shuffle signature
    aggregate (two extra SUM columns); collapsing doc-level signatures
    to set level is one further exchange of docs × (num_perm+2) longs —
    tiny next to the corpus scan.

    Fan-out is result-identical to the per-doc formulation: docs with
    equal shingle sets have equal signatures, so (a) a verified pair of
    distinct sets expands to all cross-member doc pairs at the SAME
    exact jaccard, and (b) members of one multi-doc set pair with each
    other at jaccard exactly 1.0 — which the naive form also always
    emitted (all-band collision + exact verification). Every expansion
    join is sized by the OUTPUT it produces, never by candidate blowup.

    ``intra_pairs`` controls the expansion of exact-duplicate groups,
    whose full pair list is inherently quadratic in group size (that is
    the OUTPUT contract, not a candidate artifact):

    - ``"clique"`` (default) — every within-group pair, jaccard 1.0:
      bit-compatible with the naive per-doc formulation and with an
      exact SQL oracle.
    - ``"star"``   — each non-exemplar member paired with its group's
      exemplar only (group size − 1 rows instead of size²/2). The
      transitive closure is unchanged, so ``connected_components`` /
      ``cluster_survivors`` downstream produce identical clusters —
      the form a 100 TB cleanup pipeline should run.

    Recall: the band join is linear in distinct-sets × bands with
    collision-driven buckets. With num_perm=64, bands=16 (r=4),
    P(candidate) = 1-(1-j⁴)¹⁶ ≈ 0.99+ at j=0.7.

    ``bucket_cap`` (r10 — the r9 verdict's defense-in-depth ask) makes
    the residual hot-band exposure an EXPLICIT bound instead of a
    probabilistic one: after the exact-first collapse, DISTINCT
    near-duplicate sets that collide in one ``(band, hash)`` bucket
    still pair B²-style within it. With a cap set, buckets holding more
    than ``bucket_cap`` sets switch to STAR pairing — each member is
    candidate-paired with the bucket's min-fingerprint member only
    (B−1 rows) — so total candidates are ≤ Σ_buckets
    min(Bᵢ, cap)·Bᵢ/2 + rows, never Bᵢ². The bucket count rides a
    window over the same (band, hash) partitioning the self-join
    shuffles on, so the cap costs no extra exchange. Semantics: every
    emitted pair is still exactly verified (precision unchanged); a
    true pair inside an over-cap bucket whose members BOTH fail to
    verify against the bucket hub can only be found through its other
    ``bands−1`` band collisions, so worst-case recall degrades by at
    most the LSH band-miss probability (1−j^r)^(bands−1) on
    pathological corpora — while the transitive CLUSTER structure is
    preserved whenever the hub verifies (star pairs connect the same
    components). Default None keeps the exact clique behavior.

    Verification joins shingles THROUGH the candidate pair list
    ((pair ⋈ shingles-of-a) ⋈ shingles-of-b on (set, shingle)), so its
    work is Σ_pairs |A| — a hot stopword shingle among candidate sets
    can no longer go quadratic the way a raw shingle equi-join could
    (r8 verdict). The reused intermediates (the per-doc signature
    aggregate, candidate pairs, candidate shingle rows) are
    ``localCheckpoint``ed, not persisted:
    lineage is truncated, the ContextCleaner frees their blocks when
    the returned plan is dropped, and nothing leaks into the session
    cache (the r8 heavy-hitters fix, applied here per the r8 verdict).
    Caveat shared with that fix: localCheckpoint is not fault-tolerant
    — executor loss / dynamic-allocation scale-down discards the
    blocks and the returned plan must be rebuilt. For long-running
    cluster jobs, the ``spark.pandarallel_spark.reliableCheckpoint``
    opt-in switches these sites to reliable ``checkpoint()`` against a
    configured checkpoint dir (r10; see ``_memo.truncate_lineage``) and
    the caveat disappears at the price of writing the intermediates.

    ``broadcast_candidates`` hints the candidate fingerprint set and
    its exemplar map as broadcast sides of the exemplar-selection joins
    — the hint also pushes the exemplar-id filter toward the corpus
    scan. The candidate-set size is DATA-DEPENDENT (one row per
    distinct shingle set that collides in any band): on a noisy corpus
    where near-everything becomes a candidate, an unconditional
    broadcast can exceed the driver/executor broadcast budget (ADVICE
    r9). ``"auto"`` (default, r11) decides with a bounded probe — a
    ``limit(cap+1)`` count over the (already lineage-truncated)
    candidate table, broadcasting only when it provably fits under
    ``spark.pandarallel_spark.candidateBroadcastCap`` (default 200 000
    distinct sets ≈ low tens of MB of fingerprints); the probe
    materializes blocks every downstream stage reads anyway, so it adds
    one bounded count, not a recompute. Under strictLazy the probe
    would be a forbidden build-time job, so ``"auto"`` resolves to
    False there. Explicit True/False skip the probe entirely: with
    False the joins become plain equi-joins and AQE still converts
    them to broadcasts AT RUNTIME when the measured size is small, so
    the only cost is a shuffle when the set is genuinely big (exactly
    when a broadcast would have failed).

    Output: (id_a, id_b, jaccard) for verified pairs, id_a < id_b.
    """
    if bands <= 0 or num_perm % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_perm ({num_perm})"
        )
    if intra_pairs not in ("clique", "star"):
        raise ValueError(
            f"intra_pairs must be 'clique' or 'star', got {intra_pairs!r}"
        )
    rows_per_band = num_perm // bands

    # ONE corpus aggregate: per-doc signature + exact-set fingerprint +
    # set size. Checkpointed lazily (not persisted — no session-cache
    # leak, ContextCleaner frees the blocks with the returned plan):
    # every later stage (set collapse, membership fan-out, survivor
    # groups, Jaccard denominators) reads these docs × ~70-long rows
    # instead of re-scanning and re-shingling the corpus. ``_s1``
    # (internal — operators/incremental.py) injects an
    # already-truncated signature table built with the SAME
    # (n, num_perm) so an ingest cycle pays the delta aggregate once,
    # not once per consumer.
    s1 = _s1 if _s1 is not None else truncate_lineage(
        _set_signature_agg(df, id_col, text_col, n, num_perm), eager=False
    )
    members = s1.select("__id__", "__fp__")

    # collapse to one row per DISTINCT shingle set — the banding input,
    # bounded by distinct sets, not documents. r15 (§2.4 applied to the
    # DRIVER's work): band hashes are computed PER DOCUMENT over the s1
    # leaf and the collapse aggregates min(__b{b}__) — 17 aggregate
    # expressions instead of 65 — because docs of one fingerprint group
    # share every per-permutation min, so each member's band hash IS
    # the group's band hash (min over equal values). Value-identical to
    # hashing after the min-collapse, but the 64 __h{i}__ columns now
    # appear in exactly ONE plan subtree (the s1 aggregate behind its
    # lineage cut) instead of being re-analyzed/re-optimized in the
    # candidates conversion AND the final plan (~0.4-0.7 s of driver
    # time per wide pass on this box); the runtime cost moves from
    # sets×16 to docs×16 xxhash64 calls over already-computed longs —
    # noise next to the shingle scan at any scale.
    band_cols = [
        F.expr(
            "xxhash64("
            + ", ".join(f"__h{b * rows_per_band + r}__" for r in range(rows_per_band))
            + f") AS __b{b}__"
        )
        for b in range(bands)
    ]
    sets = (
        s1.select("__fp__", "__sz__", *band_cols)
        .groupBy("__fp__")
        .agg(
            F.min("__sz__").alias("__sz__"),
            *[F.expr(f"min(__b{b}__) AS __b{b}__") for b in range(bands)],
        )
    )
    banded = sets.drop("__sz__")
    bands_long = banded.select(
        "__fp__", _bands_explode_expr(bands).alias("bh")
    ).select("__fp__", F.col("bh.band").alias("__band__"), F.col("bh.h").alias("__h__"))

    if bucket_cap is not None and bucket_cap < 1:
        raise ValueError(f"bucket_cap must be ≥ 1 or None, got {bucket_cap}")
    if bucket_cap is not None:
        # per-bucket count + hub over the SAME (band, hash) partitioning
        # the self-join shuffles on — no extra exchange
        wb = Window.partitionBy("__band__", "__h__")
        bl = bands_long.select(
            "__fp__",
            "__band__",
            "__h__",
            F.count(F.lit(1)).over(wb).alias("__bn__"),
            F.min("__fp__").over(wb).alias("__bm__"),
        )
        small_b = bl.filter(F.col("__bn__") <= bucket_cap)
        left = small_b.select(F.col("__fp__").alias("__fa__"), "__band__", "__h__")
        right = small_b.select(F.col("__fp__").alias("__fb__"), "__band__", "__h__")
        clique = (
            left.join(right, ["__band__", "__h__"])
            .filter(F.col("__fa__") < F.col("__fb__"))
            .select("__fa__", "__fb__")
        )
        # over-cap buckets: star through the bucket hub — B−1 candidate
        # rows instead of B(B−1)/2 (__bm__ < __fp__ keeps fa < fb)
        star = bl.filter(
            (F.col("__bn__") > bucket_cap) & (F.col("__fp__") != F.col("__bm__"))
        ).select(F.col("__bm__").alias("__fa__"), F.col("__fp__").alias("__fb__"))
        cand_raw = clique.unionByName(star)
    else:
        left = bands_long.select(F.col("__fp__").alias("__fa__"), "__band__", "__h__")
        right = bands_long.select(F.col("__fp__").alias("__fb__"), "__band__", "__h__")
        cand_raw = (
            left.join(right, ["__band__", "__h__"])
            .filter(F.col("__fa__") < F.col("__fb__"))
            .select("__fa__", "__fb__")
        )
    # candidate pairs of DISTINCT shingle sets; reused twice below →
    # lazily localCheckpoint'ed (lineage cut, no session-cache leak)
    candidates = truncate_lineage(cand_raw.distinct(), eager=False)

    # exact verification of candidate SET pairs only: shingles are
    # re-derived for ONE exemplar document per candidate set (broadcast
    # semi-join pushes the id filter into the scan — the corpus never
    # pays a distinct-shingle shuffle), then intersections join THROUGH
    # the pair list so each shingle row meets ≤1 partner per pair —
    # work is Σ_pairs |A|, never shingle-bucket² (a hot stopword
    # shingle cannot go quadratic, r8 verdict).
    groups = members.groupBy("__fp__").agg(
        F.min("__id__").alias("__eid__"), F.count(F.lit(1)).alias("__gn__")
    )
    cand_fps = (
        candidates.select(F.col("__fa__").alias("__fp__"))
        .union(candidates.select(F.col("__fb__")))
        .distinct()
    )
    # the candidate set is a pure function of (df's data, these dials),
    # so the probe verdict memoizes on the SOURCE's plan+files — the
    # injected _s1 fast path shares the key legitimately (it is required
    # to be built from df with the same (n, num_perm))
    _bc_key = plan_data_key(
        df, "minhash_bc", id_col, text_col, n, num_perm, bands, bucket_cap
    )
    _maybe_bc = (
        F.broadcast
        if resolve_broadcast_candidates(
            candidates, broadcast_candidates, memo_key=_bc_key
        )
        else (lambda d: d)
    )
    cand_ex = groups.join(_maybe_bc(cand_fps), "__fp__").select("__fp__", "__eid__")
    cand_docs = (
        df.join(_maybe_bc(cand_ex), df[id_col] == F.col("__eid__"))
        .select(F.col("__fp__"), F.col(text_col))
        # exactly ONE document per candidate set: a duplicated id in the
        # source (degenerate input) must not double the shingle rows and
        # with them every intersection count
        .dropDuplicates(["__fp__"])
    )
    # __fp__ here is a plain carried column (not an expression over the
    # text), so Catalyst's projection collapse under the explode is
    # harmless — no per-shingle fingerprint recompute.
    # the cut stays by A/B (r15 re-check: dropping it moves ~0.4 s of
    # driver planning into ~0.4 s of runtime recompute at sf0.1 — and
    # at 100 TB the recompute is a second corpus-scale shingle pass)
    sh_cand = truncate_lineage(
        _shingle_rows_distinct(cand_docs, "__fp__", text_col, n), eager=False
    )
    a_sh = sh_cand.select(F.col("__id__").alias("__fa__"), "__s__")
    b_sh = sh_cand.select(F.col("__id__").alias("__fb__"), "__s__")
    inter = (
        candidates.join(a_sh, "__fa__")
        .join(b_sh, ["__fb__", "__s__"])
        .groupBy("__fa__", "__fb__")
        .agg(F.count(F.lit(1)).alias("__inter__"))
    )
    set_sizes = sets.select("__fp__", "__sz__")
    sz_a = set_sizes.select(
        F.col("__fp__").alias("__fa__"), F.col("__sz__").alias("__sza__")
    )
    sz_b = set_sizes.select(
        F.col("__fp__").alias("__fb__"), F.col("__sz__").alias("__szb__")
    )
    verified = (
        inter.join(sz_a, "__fa__")
        .join(sz_b, "__fb__")
        .select(
            "__fa__",
            "__fb__",
            (
                F.col("__inter__").cast("double")
                / (F.col("__sza__") + F.col("__szb__") - F.col("__inter__"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )

    # fan the set-level verdicts back out to documents. Cross-group:
    # two joins sized exactly by the output pair count. id order is
    # re-normalized with least/greatest — a member of the larger-fp
    # group may carry the smaller doc id.
    ma = members.select(F.col("__fp__").alias("__fa__"), F.col("__id__").alias("__ida__"))
    mb = members.select(F.col("__fp__").alias("__fb__"), F.col("__id__").alias("__idb__"))
    cross = (
        verified.join(ma, "__fa__")
        .join(mb, "__fb__")
        .select(
            F.least("__ida__", "__idb__").alias("id_a"),
            F.greatest("__ida__", "__idb__").alias("id_b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross

    # intra-group pairs: members of one distinct set are jaccard-1.0
    # duplicates of each other by construction.
    if intra_pairs == "star":
        intra = (
            members.join(groups.filter(F.col("__gn__") >= 2), "__fp__")
            .filter(F.col("__id__") != F.col("__eid__"))
            .select(
                F.col("__eid__").alias("id_a"),
                F.col("__id__").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
    else:
        # direct self-join: singleton groups die on the id< predicate,
        # so a multi-member pre-filter would only add a join stage —
        # both forms shuffle the full (id, fp) membership map once per
        # side, and the join OUTPUT is the result rows either way
        m2 = members.select(F.col("__fp__"), F.col("__id__").alias("__id2__"))
        intra = (
            members.join(m2, "__fp__")
            .filter(F.col("__id__") < F.col("__id2__"))
            .select(
                F.col("__id__").alias("id_a"),
                F.col("__id2__").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
        )
    # cross (different sets) and intra (same set) are disjoint; no
    # distinct needed on the union.
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(col: Column | str, bits: int = 64) -> Column:
    """64-bit SimHash over the token multiset, as pure expressions:
    per-token md5-derived bits → per-bit ±1 votes → sign → packed bits.
    All JVM-side; no Python. The 64 hash bits are the first 16 hex chars
    of md5(token) read as two 32-bit halves — md5 is identical in every
    engine (see sampling.md5_bucket), so signatures are SQL-oracleable."""
    toks = tokens(col)

    def vote_merge(bit: int):
        # PySpark introspects higher-order-function lambdas and requires
        # exactly (acc, x) — bind the bit index via this factory instead
        # of a defaulted third parameter.
        start = 1 if bit < 32 else 9
        shift = bit % 32
        return lambda acc, t: acc + F.when(
            F.shiftright(
                F.conv(F.substring(F.md5(t), start, 8), 16, 10).cast("bigint"),
                shift,
            ).bitwiseAND(F.lit(1))
            == 1,
            F.lit(1),
        ).otherwise(F.lit(-1))

    packed = F.lit(0).cast("bigint")
    for b in range(bits):
        vote = F.aggregate(toks, F.lit(0).cast("bigint"), vote_merge(b))
        # bit 63 of a signed 64-bit value is the sign bit
        bit_val = (1 << b) if b < 63 else -(1 << 63)
        packed = packed + F.when(vote > 0, F.lit(bit_val).cast("bigint")).otherwise(F.lit(0))
    return packed


def _simhash_agg(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __sh__ bigint) SimHash signatures via explode + ONE wide
    codegen'd aggregate (64 SUM(CASE...) vote columns, map-side partial)
    — the per-row ``simhash()`` expression form uses 64 interpreted
    ``F.aggregate`` walks and costs ~11 s of fixed plan/compile time.
    Aggregate expressions are built as SQL strings: 64 Column-object
    trees would cost thousands of py4j round trips (see similarity.py).
    Docs with no tokens produce no signature (vs. the expression form's
    all-zero hash, which would spuriously pair every empty doc).

    Hash bits come from md5 (two 32-bit halves of the first 16 hex
    chars), computed ONCE per token row in the projection below the
    aggregate — not xxhash64, so a DuckDB oracle reproduces signatures
    bit-for-bit (arithmetic >> and & agree between the JVM and DuckDB,
    probed in the workload oracle)."""
    tok = df.select(
        F.col(id_col).alias("__id__"), F.explode(tokens(text_col)).alias("__t__")
    ).select(
        "__id__",
        F.expr("CAST(conv(substring(md5(__t__), 1, 8), 16, 10) AS BIGINT)").alias("__h1__"),
        F.expr("CAST(conv(substring(md5(__t__), 9, 8), 16, 10) AS BIGINT)").alias("__h2__"),
    )
    votes = [
        F.expr(
            f"SUM(CASE WHEN (shiftright(__h{1 if b < 32 else 2}__, {b % 32}) & 1) = 1 "
            f"THEN 1 ELSE -1 END)"
        ).alias(f"__v{b}__")
        for b in range(64)
    ]
    packed_terms = [
        f"(CASE WHEN __v{b}__ > 0 THEN {(1 << b) if b < 63 else -(1 << 63)}L "
        f"ELSE 0L END)"
        for b in range(64)
    ]
    return (
        tok.groupBy("__id__")
        .agg(*votes)
        .select("__id__", F.expr(" + ".join(packed_terms)).alias("__sh__"))
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    chunks: int = 4,
    verify_block: int = 2048,
    bucket_cap: int | None = None,
    intra_pairs: str = "clique",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Blocking: split the 64-bit hash into ``chunks`` 16-bit chunks; by
    pigeonhole any pair within distance < chunks must share ≥1 exact
    chunk → bucket on (chunk_idx, chunk_value), then filter by exact
    Hamming. (With chunks=4, recall is exact for max_hamming ≤ 3 and
    high above.) Output: (id_a, id_b, hamming bigint); integral ids
    required (the verify pass declares bigint through Arrow).

    Scale shape: each (chunk, value) BUCKET verifies itself inside
    ``applyInPandas`` — one shuffle of chunk rows (chunks·n), never a
    row-multiplying self-join. A hot bucket (boilerplate-heavy corpora
    concentrate, and at ≥1e8 docs even a uniform spread averages >1.5k
    docs per 16-bit bucket) is walked in ``verify_block``² tiles of
    vectorized xor+popcount, so per-task memory stays ~BLOCK²·8 B
    (~32 MB) no matter how hot the bucket gets, and only pairs that
    PASS max_hamming are emitted — the old join form materialized a hot
    bucket's m² candidate rows through the shuffle before filtering
    (the r4/r5 verdict's doc-count-envelope caveat). r14: each bucket
    collapses to DISTINCT signatures first, so verification work is
    Σ bucket-distinct² popcounts — an identical-signature clique costs
    ONE distinct signature to verify (its clique² pair OUTPUT remains
    the contract under the default ``intra_pairs="clique"``;
    ``"star"`` makes it linear, closure-preserved). ``bucket_cap``
    bounds the remaining distinct-near-signature hot bucket by star
    pairing through the bucket's min-signature hub — see
    :func:`_hamming_banded_pairs` for both dials' exact semantics and
    the recall bound. The final distinct dedups multi-chunk collisions
    on the post-filter survivors only.
    """
    if not isinstance(df.schema[id_col].dataType, T.IntegralType):
        raise TypeError(
            f"simhash_pairs requires an integral id column, got "
            f"{df.schema[id_col].dataType.simpleString()} for {id_col!r} — "
            "add a surrogate bigint id (monotonically_increasing_id + join "
            "back)"
        )
    sh = _simhash_agg(df, id_col, text_col)
    return _hamming_banded_pairs(
        sh, max_hamming, chunks, verify_block, bucket_cap, intra_pairs
    )


def _hamming_banded_pairs(
    sh: DataFrame,
    max_hamming: int,
    chunks: int,
    verify_block: int,
    bucket_cap: int | None = None,
    intra_pairs: str = "clique",
    _num_groups: int | None = None,
) -> DataFrame:
    """The chunk-banded Hamming verifier behind :func:`simhash_pairs`,
    :func:`image_hash_pairs` and :func:`audio_hash_pairs` (r13
    refactor — one machine, many signature sources): input is
    ``(__id__ bigint, __sh__ bigint)``, output ``(id_a, id_b,
    hamming)``. See :func:`simhash_pairs` for the blocking/verify
    scale analysis — it applies verbatim to any 64-bit signature.

    r14 (the r13 verdict's #1 task): each bucket first collapses to
    its DISTINCT signatures (``np.unique``) — verification work is u²
    popcounts over distinct signatures, never m² over members, so the
    all-identical hot bucket (solid-color thumbnails, boilerplate
    text: the NORMAL case for image corpora) costs u=1, i.e. nothing.
    Identical-signature groups expand separately at Hamming 0 via
    ``intra_pairs`` (mirroring MinHash's dial, same semantics):

    - ``"clique"`` (default) — every within-group pair: bit-compatible
      with the pre-collapse verifier and the graded oracle rows.
    - ``"star"`` — each member paired with the group's min-id exemplar
      only (linear in group size; Hamming 0 always verifies, so the
      transitive CLUSTER structure downstream is provably unchanged —
      the form ``near_dedup_corpus`` runs).

    ``bucket_cap`` bounds the residual distinct-near-signature hot
    bucket exactly like MinHash's r10 ``bucket_cap`` (star through the
    hub): a ``(chunk, value)`` bucket holding more than ``bucket_cap``
    DISTINCT signatures verifies each signature against the bucket's
    minimum (unsigned) signature only — u−1 popcount rows instead of
    u²/2. Every emitted pair is still exactly Hamming-verified
    (precision unchanged); a true pair inside an over-cap bucket whose
    members BOTH miss the hub can only surface through the other
    ``chunks−1`` chunk buckets, so worst-case recall degrades only
    when a pair's EVERY shared chunk lands over-cap — and the
    pigeonhole guarantee (distance < chunks ⇒ ≥1 shared chunk) is
    preserved whenever any shared chunk stays under cap. Cluster
    structure survives whenever the hub verifies (star pairs connect
    the same components). Default ``None`` keeps the exact behavior.

    r14 boundary shape: the Python verify stage is keyed on a COARSE
    deterministic hash of the bucket key (``4 × shuffle partitions``
    groups, each call verifying every real bucket it holds) instead of
    one group per ``(chunk, value)`` bucket — grouped ``applyInPandas``
    pays a fixed per-group cost, and the raw keying multiplied it by up
    to ``chunks·2^width`` groups. Emitted pairs are identical; see the
    inline note at the grouping site. ``_num_groups`` pins the group
    count (tests exercise multi-bucket groups deterministically with
    it; production derives it from the session).
    """
    if intra_pairs not in ("clique", "star"):
        raise ValueError(
            f"intra_pairs must be 'clique' or 'star', got {intra_pairs!r}"
        )
    if bucket_cap is not None and bucket_cap < 1:
        raise ValueError(f"bucket_cap must be ≥ 1 or None, got {bucket_cap}")
    width = 64 // chunks
    mask = (1 << width) - 1
    chunk_structs = F.array(*[
        F.struct(
            F.lit(c).alias("c"),
            F.shiftright(F.col("__sh__"), c * width).bitwiseAND(F.lit(mask)).alias("v"),
        )
        for c in range(chunks)
    ])
    long = sh.select(
        "__id__", "__sh__", F.explode(chunk_structs).alias("cv")
    ).select("__id__", "__sh__", F.col("cv.c").alias("__c__"), F.col("cv.v").alias("__v__"))

    BLOCK = max(int(verify_block), 2)
    cap = bucket_cap
    star_intra = intra_pairs == "star"
    # byte-wise popcount lookup (numpy<2 has no bitwise_count)
    pop = (
        np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1)
        .sum(axis=1)
        .astype("uint8")
    )

    def verify_bucket(
        ids: np.ndarray, hashes: np.ndarray, parts: list
    ) -> None:
        """Verify ONE real (chunk, value) bucket — ids/hashes are its
        member rows (hashes uint64) — appending result frames to
        ``parts``. Pure array logic; no per-call pandas scaffolding."""
        if len(ids) < 2:
            return
        # collapse to distinct signatures: usig ascending (unsigned), so
        # usig[0] is the deterministic bucket hub regardless of row
        # order; sids groups member ids by signature via starts[]
        usig, inv = np.unique(hashes, return_inverse=True)
        u = len(usig)
        order = np.argsort(inv, kind="stable")
        sids = ids[order]
        starts = np.searchsorted(inv[order], np.arange(u + 1))
        counts = np.diff(starts)

        def emit(a: np.ndarray, b: np.ndarray, h) -> None:
            parts.append(
                pd.DataFrame(
                    {
                        # id_a < id_b regardless of bucket row order
                        "id_a": np.minimum(a, b),
                        "id_b": np.maximum(a, b),
                        "hamming": (
                            h
                            if isinstance(h, np.ndarray)
                            else np.full(len(a), h, dtype="int64")
                        ),
                    }
                )
            )

        # identical-signature groups: Hamming 0 by construction —
        # expanded here once (the chunk buckets each see the whole
        # group; the final distinct collapses the repeats)
        for g in np.nonzero(counts >= 2)[0]:
            mem = np.sort(sids[starts[g] : starts[g + 1]])
            if star_intra:
                emit(np.full(len(mem) - 1, mem[0]), mem[1:], 0)
            else:
                ia, ib = np.triu_indices(len(mem), k=1)
                emit(mem[ia], mem[ib], 0)

        if u < 2:
            return

        def popcnt(x: np.ndarray) -> np.ndarray:
            return (
                pop[np.ascontiguousarray(x).view("uint8")]
                .reshape(*x.shape, 8)
                .sum(axis=-1, dtype="int64")
            )

        all_single = counts.max() == 1

        def expand(gi: np.ndarray, gj: np.ndarray, hs: np.ndarray) -> None:
            if len(gi) == 0:
                return
            if all_single:
                # 1 member per signature: starts[g] indexes it directly
                emit(sids[starts[gi]], sids[starts[gj]], hs)
                return
            # member cross product per verified signature pair — the
            # loop is bounded by VERIFIED pairs (each emits ≥1 output
            # row), never by candidates
            for i, j, h in zip(gi, gj, hs):
                a = sids[starts[i] : starts[i + 1]]
                b = sids[starts[j] : starts[j + 1]]
                emit(np.repeat(a, len(b)), np.tile(b, len(a)), int(h))

        if cap is not None and u > cap:
            # over-cap bucket: star through the min-signature hub —
            # u−1 popcount rows, candidates linear in bucket size
            x = usig[0] ^ usig[1:]
            ham = popcnt(x)
            keep = np.nonzero(ham <= max_hamming)[0]
            expand(
                np.zeros(len(keep), dtype="int64"), keep + 1, ham[keep]
            )
        else:
            for i0 in range(0, u, BLOCK):
                i1 = min(i0 + BLOCK, u)
                for j0 in range(i0, u, BLOCK):
                    j1 = min(j0 + BLOCK, u)
                    x = usig[i0:i1, None] ^ usig[None, j0:j1]
                    ham = popcnt(x)
                    keep = ham <= max_hamming
                    if i0 == j0:
                        keep &= np.triu(np.ones(keep.shape, dtype=bool), k=1)
                    ia, ib = np.nonzero(keep)
                    if len(ia):
                        expand(ia + i0, ib + j0, ham[ia, ib])

    def grouped_bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "hamming": []}).astype(
            {"id_a": "int64", "id_b": "int64", "hamming": "int64"}
        )
        if len(pdf) < 2:
            return empty
        cs = pdf["__c__"].to_numpy()
        vs = pdf["__v__"].to_numpy()
        ids = pdf["__id__"].to_numpy()
        hashes = pdf["__sh__"].to_numpy().astype("int64").view("uint64")
        # split the coarse group back into its real (chunk, value)
        # buckets and verify each independently — identical pair
        # emission to the one-group-per-bucket form
        order = np.lexsort((vs, cs))
        cs, vs, ids, hashes = cs[order], vs[order], ids[order], hashes[order]
        brk = np.flatnonzero((np.diff(cs) != 0) | (np.diff(vs) != 0)) + 1
        bounds = np.concatenate(([0], brk, [len(cs)]))
        parts: list[pd.DataFrame] = []
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            verify_bucket(ids[b0:b1], hashes[b0:b1], parts)
        return pd.concat(parts, ignore_index=True) if parts else empty

    # r14 (guide §4.5 — amortize the per-call boundary cost): grouped
    # applyInPandas pays a fixed per-GROUP overhead regardless of group
    # size (see ``_memo.coarse_group_count``). Keyed on
    # raw (chunk, value) that multiplies by the BUCKET count — up to
    # chunks·2^width groups (262 144 at the 16-bit default),
    # corpus-independent but enormous next to the popcount work
    # (measured: a trivial per-bucket function over sf0.1's 6 709
    # buckets cost 29 s of the row's 31 s). Buckets are therefore
    # hashed into a scale-adaptive number of coarse groups
    # (``coarse_group_count`` — grows with the cluster, never tuned to
    # one box) and each Python call verifies every real bucket in its
    # group. The shuffle key is deterministic (xxhash64 of the bucket
    # key — guide §2.5), shuffle bytes are unchanged, per-bucket
    # verification (cap/intra semantics, tiling, emitted pairs) is
    # byte-identical; per-task memory moves from bucket-sized to
    # group-sized (~chunks·n / n_groups rows of 32 B — the standard
    # partition contract; a single pathological bucket was already
    # group-sized before).
    return bucketed_apply(
        long,
        grouped_bucket_pairs,
        "id_a bigint, id_b bigint, hamming bigint",
        keys=["__c__", "__v__"],
        n_buckets=_num_groups,
    ).distinct()


def image_hash_pairs(
    df: DataFrame,
    id_col: str,
    content_col: str,
    hash_kind: str = "phash",
    max_hamming: int = 8,
    chunks: int = 4,
    verify_block: int = 2048,
    require_real_codec: bool = True,
    bucket_cap: int | None = None,
    intra_pairs: str = "clique",
) -> DataFrame:
    """Near-duplicate IMAGE pairs (r13, the r12 verdict's perceptual-
    image-dedup task): decode the binary ``content_col``
    (``multimodal.image_hashes`` — one Arrow-batched projection, pixels
    never shuffle), signature with dHash or pHash
    (``hash_kind='dhash'|'phash'``; pHash default — DCT low-frequency
    bits survive blur/resampling that flips dHash bits), then the SAME
    chunk-banded Hamming machinery as text SimHash: by pigeonhole any
    pair within distance < ``chunks`` shares an exact 16-bit chunk →
    bucket-join, bounded block-verify, only passing pairs emitted.
    Output ``(id_a, id_b, hamming bigint)``.

    ``require_real_codec=True`` by default — an image-dedup pass that
    silently hashed undecodable bytes would report 'no duplicates'
    instead of failing; set False only in plumbing tests."""
    if not isinstance(df.schema[id_col].dataType, T.IntegralType):
        raise TypeError(
            f"image_hash_pairs requires an integral id column, got "
            f"{df.schema[id_col].dataType.simpleString()} for {id_col!r}"
        )
    if hash_kind not in ("dhash", "phash"):
        raise ValueError(
            f"hash_kind must be 'dhash' or 'phash', got {hash_kind!r}"
        )
    from pandarallel_spark.operators.multimodal import image_hashes

    sh = image_hashes(
        df, content_col=content_col, id_col=id_col,
        require_real_codec=require_real_codec,
    ).select(
        F.col("media_id").alias("__id__"), F.col(hash_kind).alias("__sh__")
    )
    return _hamming_banded_pairs(
        sh, max_hamming, chunks, verify_block, bucket_cap, intra_pairs
    )


# ---------------------------------------------------------------------------
# end-to-end near-dedup (pairs → clusters → survivors → filtered corpus)
# ---------------------------------------------------------------------------


def near_dedup_corpus(
    df: DataFrame,
    id_col: str,
    text_col: str,
    method: str = "minhash",
    keep_by: str | None = None,
    threshold: float | None = None,
    n: int | None = None,
    **method_kwargs,
) -> DataFrame:
    """The whole near-dedup pipeline in ONE call (r9): detect near-dup
    pairs, close them transitively into clusters, pick one survivor per
    cluster, and return the corpus rows that survive — documents in no
    cluster pass through untouched.

    ``method``: ``"minhash"`` (``minhash_lsh_pairs`` with the linear
    ``intra_pairs="star"`` expansion — exact-duplicate groups never pay
    a quadratic pair list on the way to clustering), ``"ngram"``
    (``ngram_jaccard_pairs``, exact), ``"simhash"``
    (``simhash_pairs``, which takes NEITHER ``threshold`` NOR ``n`` —
    its dial is ``max_hamming=``; passing ``threshold=``/``n=`` with
    simhash raises instead of being silently ignored, ADVICE r9), or
    ``"embedding"`` (r10, the SemDeDup-shaped fourth signal type:
    ``similarity.cosine_pairs_lsh`` — banded sign-bit LSH + exact
    quantized-cosine verification; here ``text_col`` names the
    ``array<float/double>`` EMBEDDING column, ``threshold`` is the
    COSINE threshold — unset it defers to ``cosine_pairs_lsh``'s own
    near-dup default 0.8; the Jaccard 0.5 convention never leaks here,
    since cosine 0.5 would chain merely topically-related documents
    into giant clusters and silently delete most of them — ``n`` is
    meaningless and raises, and the id column must be integral, as
    ``cosine_pairs_lsh`` requires), or ``"image"`` (r13, the fifth
    signal type: here ``text_col`` names the BINARY image column;
    ``image_hash_pairs`` decodes, perceptual-hashes (pHash default,
    ``hash_kind='dhash'`` via kwargs) and Hamming-bands exactly like
    simhash — ``threshold``/``n`` raise, the dial is ``max_hamming=``).
    ``threshold`` defaults to 0.5 (Jaccard) and ``n`` (shingle width)
    to 3 for the two Jaccard methods. Extra ``method_kwargs`` forward to the
    pair generator (``num_perm=``, ``bands=``, ``max_hamming=``,
    ``planes_per_band=``, …).

    ``keep_by`` names a COLUMN of ``df`` used as the survivor quality
    score (keep the best-scored member per cluster, ties to min id —
    ``cluster_survivors``' score policy); default keeps the min-id
    member, the reference's ``exact_dedup`` convention.

    Plan shape: pairs (bounded by the chosen method's guarantees) →
    star-contraction components over PAIR rows only (never corpus
    rows) → the final filter is ONE left-anti join of the corpus
    against the drop list (clustered members minus survivors — only
    near-dup docs, typically ≪ corpus). One corpus-sized join total.
    """
    from pandarallel_spark.operators.graph import (
        cluster_survivors,
        connected_components,
    )

    # the clustering rounds run EAGER jobs at call time (per-round
    # checkpoints + convergence counts) — gated like every eager build
    eager_build_guard(
        df.sparkSession,
        "near_dedup_corpus clustering (star-contraction rounds run "
        "eagerly at call time)",
        "Build the pair/cluster stages explicitly outside strict-lazy "
        "scope, or run this call from a session that permits build-time "
        "jobs.",
    )
    for tmp in ("__drop__", "__keep__"):
        if tmp in df.columns:
            raise ValueError(
                f"near_dedup_corpus: input already has a column named "
                f"{tmp!r}; rename it before calling"
            )
    if method in ("simhash", "image") and (
        threshold is not None or n is not None
    ):
        passed = [p for p, v in (("threshold", threshold), ("n", n)) if v is not None]
        raise ValueError(
            f"near_dedup_corpus(method={method!r}) does not use {passed} — "
            "the Hamming methods' similarity dial is max_hamming= "
            "(forwarded via method_kwargs); remove the Jaccard parameters"
        )
    if method == "embedding" and n is not None:
        raise ValueError(
            "near_dedup_corpus(method='embedding') does not use n= "
            "(there are no shingles); its dials are threshold= (cosine) "
            "plus bands=/planes_per_band= via method_kwargs"
        )
    n = 3 if n is None else n
    if method == "minhash":
        pairs = minhash_lsh_pairs(
            df, id_col, text_col, n=n,
            threshold=0.5 if threshold is None else threshold,
            intra_pairs="star", **method_kwargs,
        )
    elif method == "ngram":
        pairs = ngram_jaccard_pairs(
            df, id_col, text_col, n=n,
            threshold=0.5 if threshold is None else threshold,
            **method_kwargs,
        )
    elif method == "simhash":
        # star intra-expansion unless overridden — identical-signature
        # groups never pay a quadratic pair list on the way to
        # clustering (closure-identical; mirrors the minhash branch)
        pairs = simhash_pairs(
            df, id_col, text_col,
            **{"intra_pairs": "star", **method_kwargs},
        )
    elif method == "image":
        # fifth signal type (r13): text_col names the BINARY image
        # column; dials are hash_kind='phash'|'dhash' and max_hamming=
        # via method_kwargs (pHash default, max_hamming=8); star
        # intra-expansion by default as above
        pairs = image_hash_pairs(
            df, id_col, text_col,
            **{"intra_pairs": "star", **method_kwargs},
        )
    elif method == "embedding":
        from pandarallel_spark.operators.similarity import cosine_pairs_lsh

        # an unset threshold defers to cosine_pairs_lsh's own cosine
        # default (0.8) — the 0.5 Jaccard convention must NOT leak here:
        # cosine 0.5 marks merely topically-related embeddings as dups
        # and chains them into giant clusters, silently deleting rows
        pairs = cosine_pairs_lsh(
            df, id_col=id_col, vec_col=text_col,
            **({} if threshold is None else {"threshold": threshold}),
            **method_kwargs,
        )
    else:
        raise ValueError(
            f"method must be 'minhash', 'ngram', 'simhash', 'image' or "
            f"'embedding', got {method!r}"
        )
    pairs = pairs.select("id_a", "id_b")

    scores = (
        df.select(F.col(id_col).alias("id"), F.col(keep_by).alias("score"))
        if keep_by is not None
        else None
    )
    cc = connected_components(pairs, "id_a", "id_b")
    if scores is None:
        survivors = cc.select("component").distinct().select(
            F.col("component").alias("__keep__")
        )
    else:
        # reuse the labeling computed above — the contraction is eager
        # and must not run twice (review finding r9)
        survivors = cluster_survivors(
            pairs, scores=scores, id_col="id", score_col="score",
            components=cc,
        ).select(F.col("survivor").alias("__keep__"))
    # drop list = clustered members that are NOT the survivor — small
    # (only near-dup docs), so the corpus pays one anti-join
    drop = cc.select(F.col("node").alias("__drop__")).join(
        survivors, F.col("__drop__") == F.col("__keep__"), "left_anti"
    )
    return df.join(drop, df[id_col] == F.col("__drop__"), "left_anti")
