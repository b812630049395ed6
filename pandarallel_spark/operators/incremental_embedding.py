"""Incremental embedding near-dedup against a persistable LSH index —
the SemDeDup-shaped twin of ``incremental.py``'s MinHash ingest path.

``near_dedup_corpus(method="embedding")`` answers "dedup THIS corpus"
with one batch run of ``similarity.cosine_pairs_lsh``; a production
ingest loop instead asks, per delta, "which of these NEW embeddings
near-duplicate anything we already keep?" — and at 100 TB the corpus
side of that question must come from a precomputed artifact.

The artifact is the **embedding signature index**: one row per
DISTINCT quantized vector in the retained corpus —

    (__fp__, __eid__, __members__, __qv__, __n2__, __bits__,
     __idx_dim__, __idx_planes__, __idx_seed__)

vector fingerprint (``xxhash64`` of the quantized vector), exemplar
(min) doc id, member count, the quantized int64 vector + its exact
squared norm, the packed random-hyperplane sign bits (little-endian
64-bit words, bit p = sign of plane p, the SAME ``>= 0`` rule and
``plane_ints``/``_np_quant`` constants as ``cosine_pairs_lsh``), and
three constant metadata columns (RLE'd to ~nothing in parquet) that
pin the vector width, total plane count, and plane seed the index was
built with. Unlike MinHash — where band hashes derive from the stored
signature — the PLANES are the baked-in property here, but the
``(bands, rows-per-band)`` SPLIT of those planes still derives at
query time from the stored bit words (pure ``shiftright``/``&``
codegen), so banding remains a recall/cost dial. Size: the index IS
the distinct quantized vectors plus one machine word of bits per 64
planes — for documents-with-embeddings corpora that is the embedding
table itself, a small fraction of the document bytes.

Because the index carries the vectors, verification is ALWAYS exact
(one integer dot product per candidate pair) and the old corpus is
never read at all — there is no ``verify="estimate"`` compromise and
no exemplar re-read; the MinHash path needs those only because
shingle sets are too big to store per row.

The delta query (``embedding_pairs_incremental``) touches:

- the DELTA, fully (one Arrow-batched matmul pass computing quantized
  vectors, norms, and packed sign bits — shared by the exact-dup join,
  the banding, and the index update);
- the INDEX, via one fingerprint equi-join (exact duplicates: identical
  quantized vectors, cosine 1.0 by construction, excluded from
  banding so boilerplate never pays B² buckets) plus one
  (band, signature) equi-join — both sized by the index, with hot
  buckets boundable by ``bucket_cap`` exactly like the MinHash twin.

Reference frame: the reference (pandarallel) has no dedup surface at
all — this module extends the LLM-pipeline tier (SURVEY.md §2.3),
re-expressed Spark-first; the retained-content-wins ingest policy is
shared verbatim with the MinHash path
(``incremental._retained_wins_closure``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandarallel_spark.operators._memo import (
    bucketed_apply,
    eager_build_guard,
    truncate_lineage,
)
from pandarallel_spark.operators.dedup import (
    _bands_explode_expr,
    resolve_broadcast_candidates,
)
from pandarallel_spark.operators.incremental import _retained_wins_closure
from pandarallel_spark.operators.similarity import (
    _infer_dim,
    _np_quant,
    _require_integral_ids,
    plane_ints,
)
from pandarallel_spark.session import _patch_worker_zipimport

_EMB_META_COLS = ("__idx_dim__", "__idx_planes__", "__idx_seed__")
_SIG_SCHEMA = (
    "__id__ bigint, __qv__ array<bigint>, __n2__ bigint, __bits__ array<bigint>"
)


def _vec_signatures(
    df: DataFrame, id_col: str, vec_col: str, dim: int, planes: int, seed: int
) -> DataFrame:
    """The delta's (id, fp, qv, n2, bits) table — ONE Arrow-batched
    int64 matmul pass over the vectors (quantization, exact norms, and
    all plane sign bits together), lineage-truncated so every consumer
    (exact join, banding, member fan-out, index update) reads the one
    computed table. Sign rule and constants are shared with
    ``cosine_pairs_lsh`` (bit p = (q · plane_p) >= 0), so candidates
    generated from these bits agree exactly with the batch operator."""
    _require_integral_ids("embedding index/pairs", id_col, df)
    if not 0 <= seed < 2**31:
        # the metadata column stores seed as int32; a wider value would
        # silently wrap there, and later cycles would project the delta
        # onto DIFFERENT planes than the index's stored bits — band
        # joins then match ~nothing (review finding r11)
        raise ValueError(
            f"seed must fit a 32-bit non-negative int (got {seed}) — it "
            "is persisted in the index's __idx_seed__ metadata column"
        )
    p_mat = np.asarray(plane_ints(planes, dim, seed), dtype="int64")
    n_words = (planes + 63) // 64

    def sig_batches(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            qm = _np_quant(np.stack(pdf[vec_col].apply(np.asarray).to_numpy()))
            bits = ((qm @ p_mat.T) >= 0).astype("uint64")  # (n, planes)
            packed = np.zeros((len(pdf), n_words), dtype="uint64")
            for p in range(planes):
                packed[:, p // 64] |= bits[:, p] << np.uint64(p % 64)
            yield pd.DataFrame(
                {
                    "__id__": pdf[id_col].to_numpy(),
                    "__qv__": list(qm),
                    "__n2__": (qm * qm).sum(axis=1),
                    "__bits__": list(packed.view("int64")),
                }
            )

    from pandarallel_spark.operators.apply import _widen

    sigs = (
        _widen(df.select(id_col, vec_col))
        .mapInPandas(sig_batches, _SIG_SCHEMA)
        .withColumn("__fp__", F.xxhash64("__qv__"))
    )
    return truncate_lineage(sigs, eager=False)


def _index_from_vec_signatures(
    sv: DataFrame, dim: int, planes: int, seed: int
) -> DataFrame:
    """Signature table → index rows: collapse identical quantized
    vectors to one row carrying the MIN member id as exemplar (qv, n2,
    and bits are identical per fingerprint by construction)."""
    return sv.groupBy("__fp__").agg(
        F.min("__id__").alias("__eid__"),
        F.count(F.lit(1)).alias("__members__"),
        F.first("__qv__").alias("__qv__"),
        F.first("__n2__").alias("__n2__"),
        F.first("__bits__").alias("__bits__"),
    ).select(
        "__fp__", "__eid__", "__members__", "__qv__", "__n2__", "__bits__",
        F.lit(dim).cast("int").alias("__idx_dim__"),
        F.lit(planes).cast("int").alias("__idx_planes__"),
        F.lit(seed).cast("int").alias("__idx_seed__"),
    )


def embedding_index_build(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: int = 64,
    seed: int = 202,
    dim: int | None = None,
) -> DataFrame:
    """Build the embedding signature index for a (retained) corpus.

    One corpus scan (the Arrow matmul pass), one shuffle (the
    fingerprint collapse). The result is a plain DataFrame — persist it
    with ``.write.parquet(...)`` and reload with ``spark.read.parquet``
    for the next ingest cycle; everything downstream checks the
    embedded metadata columns instead of trusting the caller to
    remember ``dim``/``planes``/``seed``. ``dim`` is inferred from the
    first row when omitted (a bounded build-time job — pass it
    explicitly under strictLazy or for an empty bootstrap index)."""
    if dim is None:
        dim = _infer_dim(df, vec_col, "embedding_index_build")
    return _index_from_vec_signatures(
        _vec_signatures(df, id_col, vec_col, dim, planes, seed),
        dim, planes, seed,
    )


def _check_emb_index_schema(index: DataFrame) -> None:
    for c in (*_EMB_META_COLS, "__fp__", "__eid__", "__qv__", "__n2__",
              "__bits__"):
        if c not in index.columns:
            raise ValueError(
                f"not an embedding signature index: missing column {c!r} "
                "(build one with embedding_index_build)"
            )


def _emb_index_meta(index: DataFrame) -> tuple[int, int, int] | None:
    """(dim, planes, seed) from the index's constant metadata columns,
    via a ONE-ROW bounded probe. None for an empty index. Strict-lazy
    sessions must pass the parameters explicitly instead."""
    _check_emb_index_schema(index)
    eager_build_guard(
        index.sparkSession,
        "embedding index metadata probe (one-row bounded collect)",
        "Pass dim=/planes=/seed= explicitly to skip the probe.",
    )
    row = index.select(*_EMB_META_COLS).limit(1).collect()
    if not row:
        return None
    r = row[0]
    return (
        int(r["__idx_dim__"]),
        int(r["__idx_planes__"]),
        int(r["__idx_seed__"]),
    )


def _resolve_emb_meta(
    index: DataFrame,
    dim: int | None,
    planes: int | None,
    seed: int | None,
) -> tuple[int, int, int]:
    """The (dim, planes, seed) an incremental call must use: explicit
    parameters win (and skip the probe — the strict-lazy path);
    otherwise the index's embedded metadata; the build defaults
    (planes=64, seed=202) only for an EMPTY index with nothing explicit
    — and then ``dim`` is still required, because a wrong vector width
    is unrecoverable. Explicit+probe-allowed still validates: a delta
    projected onto different planes silently matches nothing."""
    given = (dim, planes, seed)
    if all(v is not None for v in given):
        _check_emb_index_schema(index)
        try:
            meta = _emb_index_meta(index)
        except RuntimeError:  # strict-lazy: trust the explicit params
            return dim, planes, seed
        if meta is not None and meta != given:
            raise ValueError(
                f"explicit (dim, planes, seed) = {given} contradicts the "
                f"index's embedded metadata {meta} — an index only matches "
                "deltas quantized and projected exactly the way it was built"
            )
        return dim, planes, seed
    if any(v is not None for v in given):
        raise ValueError(
            "pass ALL of dim=/planes=/seed= or none — a half-specified "
            "projection scheme cannot be checked against the index"
        )
    meta = _emb_index_meta(index)
    if meta is None:
        raise ValueError(
            "the index is empty and no (dim, planes, seed) were given — "
            "pass them explicitly (dim has no safe default)"
        )
    return meta


def embedding_index_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union two indexes built with the same (dim, planes, seed),
    collapsing shared fingerprints — ``merge(build(A), build(B))``
    row-for-row equals ``build(A ∪ B)`` (qv/n2/bits agree per
    fingerprint by construction; exemplar = min of mins; member counts
    add). One fingerprint-keyed aggregate; a metadata mismatch raises
    up front. Under strictLazy the one-row probes are forbidden: the
    check degrades to a plan-only column-type comparison plus a loud
    ``UserWarning`` (same contract as ``minhash_index_merge``)."""
    _check_emb_index_schema(a)
    _check_emb_index_schema(b)
    try:
        ma, mb = _emb_index_meta(a), _emb_index_meta(b)
    except RuntimeError:
        ta = {f.name: f.dataType for f in a.schema.fields}
        tb = {f.name: f.dataType for f in b.schema.fields}
        mismatched = sorted(c for c in set(ta) & set(tb) if ta[c] != tb[c])
        if mismatched:
            raise ValueError(
                f"index schema mismatch on column(s) {mismatched}: "
                f"{[(c, str(ta[c]), str(tb[c])) for c in mismatched]} — "
                "these indexes were not built the same way"
            )
        import warnings

        warnings.warn(
            "embedding_index_merge under strictLazy cannot read the "
            "indexes' embedded (dim, planes, seed) metadata — the merge "
            "is UNVALIDATED beyond column types; merging indexes built "
            "with different widths, plane counts, or seeds silently "
            "corrupts the result. Verify compatibility out-of-band or "
            "merge outside strict-lazy scope.",
            stacklevel=2,
        )
        return _emb_merge_unchecked(a, b)
    if ma is not None and mb is not None and ma != mb:
        raise ValueError(
            f"index metadata mismatch: (dim, planes, seed) {ma} vs {mb} — "
            "indexes must be built with identical vector width, plane "
            "count, and seed to be mergeable"
        )
    return _emb_merge_unchecked(a, b)


def _emb_merge_unchecked(a: DataFrame, b: DataFrame) -> DataFrame:
    return (
        a.unionByName(b)
        .groupBy("__fp__")
        .agg(
            F.min("__eid__").alias("__eid__"),
            F.sum("__members__").alias("__members__"),
            F.first("__qv__").alias("__qv__"),
            F.first("__n2__").alias("__n2__"),
            F.first("__bits__").alias("__bits__"),
            F.first("__idx_dim__").alias("__idx_dim__"),
            F.first("__idx_planes__").alias("__idx_planes__"),
            F.first("__idx_seed__").alias("__idx_seed__"),
        )
        .select(
            "__fp__", "__eid__", "__members__", "__qv__", "__n2__",
            "__bits__", *_EMB_META_COLS,
        )
    )


def _band_sig_cols(bits_col: str, bands: int, r: int) -> list:
    """Per-band signatures from the packed bit words — bit p lives at
    word p//64, offset p%64; band b's signature is Σ_pos bit(b·r+pos)
    << pos, the SAME packing ``cosine_pairs_lsh`` computes in numpy
    (plane b·r+pos weighted 2^pos), so the three candidate generators
    (batch numpy, this codegen, the SQL oracle) band identically.
    Single-parse F.expr strings, like every wide block in this family."""
    cols = []
    for b in range(bands):
        terms = []
        for pos in range(r):
            p = b * r + pos
            terms.append(
                f"shiftleft(shiftright(element_at({bits_col}, {p // 64 + 1}),"
                f" {p % 64}) & 1, {pos})"
            )
        cols.append(F.expr("(" + " + ".join(terms) + f") AS __b{b}__"))
    return cols


def _emb_bands_long(
    df: DataFrame, key: str, bits_col: str, bands: int, r: int
) -> DataFrame:
    banded = df.select(key, *_band_sig_cols(bits_col, bands, r))
    return banded.select(key, _bands_explode_expr(bands).alias("bh")).select(
        key, F.col("bh.band").alias("__band__"), F.col("bh.h").alias("__h__")
    )


def sigs_long_from_sv(sv: DataFrame, bands: int, r: int) -> DataFrame:
    """A signature table → the long (__id__, __qv__, __n2__, __band__,
    __sig__) frame ``cosine_pairs_lsh`` builds with its own Arrow pass —
    derived here from the packed bits by pure codegen, value-identical
    by the shared sign rule and packing weights. Lets one Arrow matmul
    pass feed BOTH the delta×index banding and the delta's batch
    self-pairing (and the graded row's batch kind)."""
    banded = sv.select(
        "__id__", "__qv__", "__n2__", *_band_sig_cols("__bits__", bands, r)
    )
    return banded.select(
        "__id__", "__qv__", "__n2__", _bands_explode_expr(bands).alias("bh")
    ).select(
        "__id__",
        "__qv__",
        "__n2__",
        F.col("bh.band").alias("__band__"),
        F.col("bh.h").alias("__sig__"),
    )


def _dot_arrays_sql(a_col: str, b_col: str, dim: int) -> str:
    """Unrolled exact-int64 dot of two ALREADY-QUANTIZED array<bigint>
    columns — codegen-friendly at near-dup dims (≤ a few hundred), and
    IEEE-identical to the SQL oracle's list_sum (integer numerator, one
    double division at the end)."""
    return " + ".join(
        f"element_at({a_col}, {i + 1})*element_at({b_col}, {i + 1})"
        for i in range(dim)
    )


def embedding_pairs_incremental(
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    index: DataFrame,
    threshold: float = 0.8,
    bands: int = 16,
    dim: int | None = None,
    planes: int | None = None,
    seed: int | None = None,
    include_new_pairs: bool = True,
    broadcast_candidates: bool | str = "auto",
    bucket_cap: int | None = None,
    candidate_verify: str = "pairs",
    verify_block: int = 1024,
    _sv: DataFrame | None = None,
    _meta: tuple[int, int, int] | None = None,
    **new_pair_kwargs,
) -> DataFrame:
    """Embedding near-dup pairs between a DELTA and an indexed corpus —
    without reading the corpus (the index carries the vectors).

    Output: ``(id_a, id_b, cosine, src)`` where

    - ``src="old"``: ``id_a`` is the matched index entry's EXEMPLAR doc
      id, ``id_b`` the new doc id. Fingerprint-identical vectors (the
      same int64 quantization) pair at cosine 1.0 through ONE equi-join
      and never enter banding; the rest collide through the
      (band, signature) join and are verified with an exact int64 dot
      against the index's stored vector — every emitted cosine is
      exact, there is no estimate mode.
    - ``src="new"``: both ids are new docs
      (``similarity.cosine_pairs_lsh`` over the delta, fed the SAME
      signature pass through ``sigs_long_from_sv`` — the per-band ints
      derive from the packed bits by codegen, so the delta rides the
      Arrow matmul exactly once and the two candidate generators band
      identically; skipped with ``include_new_pairs=False``; extra
      ``new_pair_kwargs`` — ``verify_block=``, … — forward to it).

    ``bands`` splits the index's baked-in planes at QUERY time
    (``planes % bands == 0``); collision probability per band is
    (1 − θ/π)^(planes/bands). ``bucket_cap`` bounds hot buckets on the
    delta×index join exactly like the MinHash twin: over-cap buckets
    pair each delta vector with the bucket's min-fingerprint index
    entry only — candidates stay linear in the delta, recall loss is
    bounded by the band-miss probability, precision is unchanged
    (every candidate is verified). ``dim``/``planes``/``seed`` default
    to the index's embedded metadata (a one-row probe); pass all three
    explicitly under strictLazy.

    ``candidate_verify`` picks the verification strategy — same pair
    set, bit-identical cosines (differential pytest): ``"pairs"`` (the
    default, the 100 TB-ingest shape) materializes the candidate
    (fp, ofp) list from signature-only band rows (~24 B/row through the
    index-side shuffle) and joins vectors onto CANDIDATES only — right
    when banding prunes well (real near-dup thresholds ≥ 0.8).
    ``"buckets"`` verifies inside the (band, signature) buckets with
    one int64 matmul per bucket (``cosine_pairs_lsh``'s measured
    design; ``verify_block`` bounds per-task memory) — right when the
    threshold is low enough that candidate lists grow toward
    |delta|×|index| and the pair-level vector join would dominate; the
    trade is the index's vectors riding the band explode.

    Scale shape: the delta pays one Arrow matmul pass; the index side
    pays one fp equi-join plus one (band, h) equi-join, both sized by
    the index; candidate verification restricts the index through a
    candidate semi-join (broadcast when the auto probe proves the
    candidate set fits), so the index is scanned, never shuffled, and
    nothing is quadratic in either corpus. All-zero vectors verify to
    NULL cosine (0/0) and are dropped by the threshold filter — except
    against an identical all-zero vector, which is an exact
    fingerprint match (cosine reported 1.0 by the identity convention).
    """
    if _meta is not None:
        dim, planes, seed = _meta
    else:
        dim, planes, seed = _resolve_emb_meta(index, dim, planes, seed)
    if bands <= 0 or planes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must be positive and evenly divide the "
            f"index's plane count ({planes})"
        )
    r = planes // bands

    sv = (
        _sv
        if _sv is not None
        else _vec_signatures(new_df, id_col, vec_col, dim, planes, seed)
    )
    members = sv.select("__id__", "__fp__")
    new_sets = sv.select("__fp__", "__qv__", "__n2__", "__bits__").dropDuplicates(
        ["__fp__"]
    )

    idx = index.select(
        F.col("__fp__").alias("__ofp__"),
        F.col("__eid__").alias("__oeid__"),
        F.col("__qv__").alias("__oqv__"),
        F.col("__n2__").alias("__on2__"),
        F.col("__bits__").alias("__obits__"),
    )

    # 1 — exact duplicates: one fingerprint equi-join, fanned to every
    # delta member (identical quantized vectors ⇒ cosine 1.0)
    exact_pairs = members.join(idx, members["__fp__"] == idx["__ofp__"]).select(
        F.col("__oeid__").alias("id_a"),
        F.col("__id__").alias("id_b"),
        F.lit(1.0).alias("cosine"),
        F.lit("old").alias("src"),
    )

    # 2 — near duplicates: band join between the delta's UNMATCHED
    # vectors and the index, candidates verified exactly from the
    # index's stored vectors
    fresh = new_sets.join(
        idx.select("__ofp__"),
        new_sets["__fp__"] == F.col("__ofp__"),
        "left_anti",
    )
    if bucket_cap is not None and bucket_cap < 1:
        raise ValueError(f"bucket_cap must be ≥ 1 or None, got {bucket_cap}")
    if candidate_verify not in ("pairs", "buckets"):
        raise ValueError(
            f"candidate_verify must be 'pairs' or 'buckets', got "
            f"{candidate_verify!r}"
        )
    if candidate_verify == "buckets":
        near = _bucket_verify(
            fresh, idx, bands, r, threshold, bucket_cap, verify_block
        )
        near_pairs = near.join(members, "__fp__").select(
            F.col("__oeid__").alias("id_a"),
            F.col("__id__").alias("id_b"),
            "cosine",
            F.lit("old").alias("src"),
        )
        out = exact_pairs.unionByName(near_pairs)
        if include_new_pairs:
            out = out.unionByName(
                _delta_self_pairs(
                    new_df, id_col, vec_col, sv, threshold, bands, r, seed,
                    dim, {"verify_block": verify_block, **new_pair_kwargs},
                )
            )
        return out
    nb = _emb_bands_long(fresh, "__fp__", "__bits__", bands, r)
    ob = _emb_bands_long(
        idx.select("__ofp__", "__obits__"), "__ofp__", "__obits__", bands, r
    )
    if bucket_cap is not None:
        # hot-bucket bound — same mechanics as the MinHash twin
        # (incremental.minhash_pairs_incremental): per-bucket INDEX-side
        # count + hub ride a window over the SAME (band, hash)
        # partitioning the join shuffles on. Over-cap buckets pair each
        # delta vector with the bucket's min-fingerprint entry ONLY;
        # recall loss is bounded by (1−cosθ-collision)^(bands−1), and
        # precision is unchanged (every candidate is verified).
        wb = Window.partitionBy("__band__", "__h__")
        obl = ob.select(
            "__ofp__",
            "__band__",
            "__h__",
            F.count(F.lit(1)).over(wb).alias("__obn__"),
            F.min("__ofp__").over(wb).alias("__obm__"),
        )
        small_idx = obl.filter(F.col("__obn__") <= bucket_cap).select(
            "__ofp__", "__band__", "__h__"
        )
        hub_idx = (
            obl.filter(F.col("__obn__") > bucket_cap)
            .select("__band__", "__h__", F.col("__obm__").alias("__ofp__"))
            .distinct()
        )
        cand_raw = nb.join(
            small_idx.unionByName(hub_idx), ["__band__", "__h__"]
        ).select("__fp__", "__ofp__")
    else:
        cand_raw = nb.join(ob, ["__band__", "__h__"]).select("__fp__", "__ofp__")
    candidates = truncate_lineage(cand_raw.distinct(), eager=False)

    # exact verification: the candidate fp sets (broadcast when the
    # bounded probe proves they fit) restrict the INDEX through a
    # semi-join, so the index is scanned once and never shuffled; the
    # surviving sides are all candidate/delta-bounded before the dot
    _maybe_bc = (
        F.broadcast
        if resolve_broadcast_candidates(candidates, broadcast_candidates)
        else (lambda d: d)
    )
    idx_c = idx.select("__ofp__", "__oeid__", "__oqv__", "__on2__").join(
        _maybe_bc(candidates.select("__ofp__").distinct()), "__ofp__"
    )
    near = (
        candidates.join(fresh.select("__fp__", "__qv__", "__n2__"), "__fp__")
        .join(idx_c, "__ofp__")
        .select(
            "__fp__",
            "__oeid__",
            (
                F.expr(_dot_arrays_sql("__qv__", "__oqv__", dim)).cast("double")
                / (
                    F.sqrt(F.col("__n2__").cast("double"))
                    * F.sqrt(F.col("__on2__").cast("double"))
                )
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    near_pairs = near.join(members, "__fp__").select(
        F.col("__oeid__").alias("id_a"),
        F.col("__id__").alias("id_b"),
        "cosine",
        F.lit("old").alias("src"),
    )

    out = exact_pairs.unionByName(near_pairs)
    if include_new_pairs:
        # verify_block forwards to the self-pairing's bucket verify in
        # BOTH strategies (review finding r11 — it previously reached
        # only the "buckets" path)
        out = out.unionByName(
            _delta_self_pairs(
                new_df, id_col, vec_col, sv, threshold, bands, r, seed, dim,
                {"verify_block": verify_block, **new_pair_kwargs},
            )
        )
    return out


def _delta_self_pairs(
    new_df, id_col, vec_col, sv, threshold, bands, r, seed, dim, kwargs
) -> DataFrame:
    """The delta's self-pairing (``src="new"``), reusing the one Arrow
    pass: ``cosine_pairs_lsh``'s (band, sig) frame derives from sv's
    packed bits by codegen, value-identical to the batch operator's own
    projection."""
    from pandarallel_spark.operators.similarity import cosine_pairs_lsh

    return cosine_pairs_lsh(
        new_df, id_col=id_col, vec_col=vec_col, threshold=threshold,
        bands=bands, planes_per_band=r, seed=seed, dim=dim,
        _sigs=sigs_long_from_sv(sv, bands, r),
        **kwargs,
    ).select("id_a", "id_b", "cosine", F.lit("new").alias("src"))


def _bucket_verify(
    fresh: DataFrame,
    idx: DataFrame,
    bands: int,
    r: int,
    threshold: float,
    bucket_cap: int | None,
    verify_block: int,
) -> DataFrame:
    """``candidate_verify="buckets"``: verify delta×index candidates
    INSIDE the (band, signature) buckets with one int64 matmul per
    bucket (``cosine_pairs_lsh``'s measured design), instead of
    materializing a candidate pair list and joining vectors onto it.
    Wins when banding prunes weakly (low thresholds → candidate lists
    grow toward |delta|×|index| and the pair-level vector join
    dominates); the trade is that the index side's VECTORS ride the
    band explode (bands× duplication through the shuffle) instead of
    24-byte signature rows. Same pair set, bit-identical cosines, same
    ``bucket_cap`` hub semantics (an over-cap bucket pairs the delta
    against its min-fingerprint index entry only).

    Returns (__fp__, __oeid__, cosine) with cosine ≥ threshold,
    deduplicated across buckets."""
    new_long = fresh.select(
        F.lit(True).alias("__isnew__"),
        F.col("__fp__").alias("__key__"),
        F.lit(0).cast("bigint").alias("__keid__"),
        "__qv__",
        "__n2__",
        *_band_sig_cols("__bits__", bands, r),
    )
    old_long = idx.select(
        F.lit(False).alias("__isnew__"),
        F.col("__ofp__").alias("__key__"),
        F.col("__oeid__").alias("__keid__"),
        F.col("__oqv__").alias("__qv__"),
        F.col("__on2__").alias("__n2__"),
        *_band_sig_cols("__obits__", bands, r),
    )
    both = new_long.unionByName(old_long).select(
        "__isnew__", "__key__", "__keid__", "__qv__", "__n2__",
        _bands_explode_expr(bands).alias("bh"),
    ).select(
        "__isnew__", "__key__", "__keid__", "__qv__", "__n2__",
        F.col("bh.band").alias("__band__"), F.col("bh.h").alias("__h__"),
    )
    BLOCK = max(int(verify_block), 2)

    def verify_bucket(nw: pd.DataFrame, od: pd.DataFrame, parts: list) -> None:
        """Verify ONE real (band, signature) bucket's delta×index
        candidates — appending result frames to ``parts``."""
        if bucket_cap is not None and len(od) > bucket_cap:
            od = od[od["__key__"] == od["__key__"].min()]
        qn = np.stack(nw["__qv__"].apply(np.asarray).to_numpy()).astype("int64")
        qo = np.stack(od["__qv__"].apply(np.asarray).to_numpy()).astype("int64")
        norm_n = np.sqrt(nw["__n2__"].to_numpy().astype("float64"))
        norm_o = np.sqrt(od["__n2__"].to_numpy().astype("float64"))
        fps = nw["__key__"].to_numpy()
        ofps = od["__key__"].to_numpy()
        oeids = od["__keid__"].to_numpy()
        for i0 in range(0, len(nw), BLOCK):
            i1 = min(i0 + BLOCK, len(nw))
            for j0 in range(0, len(od), BLOCK):
                j1 = min(j0 + BLOCK, len(od))
                dots = qn[i0:i1] @ qo[j0:j1].T  # exact int64
                cos = dots.astype("float64") / (
                    norm_n[i0:i1, None] * norm_o[None, j0:j1]
                )
                ia, ib = np.nonzero(cos >= threshold)
                if len(ia) == 0:
                    continue
                parts.append(
                    pd.DataFrame(
                        {
                            "__fp__": fps[ia + i0],
                            "__ofp__": ofps[ib + j0],
                            "__oeid__": oeids[ib + j0],
                            "cosine": cos[ia, ib],
                        }
                    )
                )

    def grouped_bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"__fp__": [], "__ofp__": [], "__oeid__": [], "cosine": []}
        ).astype(
            {"__fp__": "int64", "__ofp__": "int64", "__oeid__": "int64",
             "cosine": "float64"}
        )
        if pdf.empty:
            return empty
        parts: list[pd.DataFrame] = []
        for (_b, _h), bucket in pdf.groupby(["__band__", "__h__"], sort=False):
            nw = bucket[bucket["__isnew__"]]
            od = bucket[~bucket["__isnew__"]]
            if nw.empty or od.empty:
                continue
            verify_bucket(nw, od, parts)
        return pd.concat(parts, ignore_index=True) if parts else empty

    # r14 boundary shape (guide §4.5, mirroring cosine_pairs_lsh /
    # dedup._hamming_banded_pairs): coarse deterministic hash of the
    # (band, signature) bucket key instead of one Python call per raw
    # bucket — same pair set, same bucket_cap hub semantics (applied
    # per REAL bucket inside the call), fewer fixed per-group costs.
    return (
        bucketed_apply(
            both,
            grouped_bucket_pairs,
            "__fp__ bigint, __ofp__ bigint, __oeid__ bigint, cosine double",
            keys=["__band__", "__h__"],
        )
        .dropDuplicates(["__fp__", "__ofp__"])
        .select("__fp__", "__oeid__", "cosine")
    )


def incremental_dedup_embeddings(
    new_df: DataFrame,
    id_col: str,
    vec_col: str,
    index: DataFrame,
    threshold: float = 0.8,
    bands: int = 16,
    dim: int | None = None,
    planes: int | None = None,
    seed: int | None = None,
    keep_by: str | None = None,
    **pair_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """One embedding ingest cycle: ``(kept_new_docs, updated_index)``.

    Policy and shape are the MinHash cycle's
    (``incremental.incremental_dedup_corpus``), with the shared
    retained-content-wins closure: the delta's self-pair graph is
    clustered first, any cluster touching retained content drops WHOLE,
    old-free clusters keep one survivor (min id or best ``keep_by``).
    The updated index merges the old index with the KEPT docs' rows,
    built from the cycle's already-computed signature table — the delta
    rides the Arrow matmul pass exactly once per cycle. Unlike the
    MinHash cycle there is no ``old_docs`` parameter: verification is
    always exact from the index's stored vectors.

    The returned frames are lazy apart from the clustering rounds
    (eager, strictLazy-gated); a production loop writes ``kept`` to the
    corpus and ``updated_index`` to a NEW index path, then swaps.
    """
    for tmp in ("__hit__", "__drop__", "__keep__"):
        if tmp in new_df.columns:
            raise ValueError(
                f"incremental_dedup_embeddings: input already has a column "
                f"named {tmp!r}; rename it before calling"
            )
    eager_build_guard(
        new_df.sparkSession,
        "incremental_dedup_embeddings clustering (star-contraction rounds "
        "run eagerly at call time)",
        "Build the pair/cluster stages explicitly outside strict-lazy "
        "scope, or run this call from a session that permits build-time "
        "jobs.",
    )
    dim, planes, seed = _resolve_emb_meta(index, dim, planes, seed)
    sv = _vec_signatures(new_df, id_col, vec_col, dim, planes, seed)
    # the pair list is read three times by the closure — cut the lineage
    # so the band joins run once, not three times
    pairs = truncate_lineage(
        embedding_pairs_incremental(
            new_df, id_col, vec_col, index, threshold=threshold, bands=bands,
            include_new_pairs=True, _sv=sv, _meta=(dim, planes, seed),
            **pair_kwargs,
        ),
        eager=False,
    )
    kept = _retained_wins_closure(new_df, id_col, pairs, keep_by)
    # the kept docs' signatures are already in sv — one semi-join, no
    # second Arrow pass. Unchecked merge: the fresh index is built with
    # the OLD index's own (dim, planes, seed) by construction.
    kept_sv = sv.join(
        kept.select(F.col(id_col).alias("__kid__")),
        sv["__id__"] == F.col("__kid__"),
    ).drop("__kid__")
    updated = _emb_merge_unchecked(
        index, _index_from_vec_signatures(kept_sv, dim, planes, seed)
    )
    return kept, updated
