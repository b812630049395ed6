"""Similarity search over embedding columns (SURVEY.md §2.3).

Two physical strategies for top-k retrieval:

- ``topk_expr``  — declarative crossJoin + JVM-side dot product
  (``F.zip_with``/``F.aggregate``) + ranking window. Catalyst broadcasts
  the small query side; fine for modest corpora and the reference
  baseline for correctness.
- ``topk_numpy`` — the scale path: queries are collected (they are small
  by definition) and closed over; the corpus streams through
  ``mapInPandas`` where one int64 matmul per Arrow batch scores
  batch × queries; per-batch top-k is emitted and a final window keeps
  global top-k. Shuffle carries only candidates (batch_count × k rows),
  never the corpus — at 100 TB this is the difference between a scan
  and a blowup.
- ``lsh_bucketed_topk`` — random-hyperplane LSH: sign-bit signatures
  bucket the corpus; search only the query's bucket (and optionally
  neighboring probes). Approximate; recall tunable by planes/probes.

Scoring is the quantized inner product: q = round(x*10000) as int64,
score = Σ q_i·c_i — exact integer arithmetic, reproducible across
engines (the DuckDB oracle reproduces it bit-for-bit), and within
1e-4 relative of the float dot product for unit-scale embeddings.
Cosine variants divide by the (exact-int-derived) norms afterwards.
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
)
from pandarallel_spark.session import _patch_worker_zipimport

# vector-width inference memo: plan_data_key(df, vec_col) → int
_DIM_MEMO: dict = {}


def _infer_dim(df: DataFrame, vec_col: str, what: str) -> int:
    """Vector width from the first row — a bounded (one-row) build-time
    job, memoized per (plan, data) and guarded by the strictLazy conf
    like every other eager build site. Pass ``dim=`` to skip entirely."""
    key = plan_data_key(df, "__dim__", vec_col)
    if key is not None and key in _DIM_MEMO:
        return _DIM_MEMO[key]
    eager_build_guard(
        df.sparkSession,
        f"{what} vector-width inference (one-row first())",
        "Pass dim= explicitly to skip the inference job.",
    )
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError(f"{what}: input is empty (pass dim= to skip inference)")
    d = len(first[0])
    if key is not None:
        memo_put(_DIM_MEMO, key, d, cap=64)
    return d


QUANT = 10000


def _np_quant(mat: np.ndarray) -> np.ndarray:
    """Quantize float vectors to int64 exactly like SQL ``round``:
    half-AWAY-from-zero. ``np.round`` is half-to-even and would disagree
    with the DuckDB oracles (and the JVM rerank expressions) on values
    landing exactly on .5 — a flipped low bit there can move a vector to
    a different LSH bucket or IVF list than the oracle computes."""
    x = mat.astype("float64") * QUANT
    return np.trunc(x + np.copysign(0.5, x)).astype("int64")


def quantize(col: Column) -> Column:
    """array<float> → array<bigint> at 1e-4 resolution."""
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("bigint"))


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def topk_expr(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k by quantized dot product, declarative form.
    Output: (q_id, c_id, score bigint, rank). Ties broken by c_id."""
    q = queries.select(
        F.col(id_col).alias("q_id"), quantize(F.col(vec_col)).alias("__qv__")
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"), quantize(F.col(vec_col)).alias("__cv__")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select("q_id", "c_id", dot_q(F.col("__qv__"), F.col("__cv__")).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _require_integral_ids(op: str, id_col: str, *dfs: DataFrame) -> None:
    """The numpy scale paths emit ids through a declared bigint Arrow
    schema; a non-integral id would die deep in an executor with a
    cryptic cast failure — fail at build time with guidance instead
    (review finding r4; cosine_pairs_lsh always had this guard)."""
    for df in dfs:
        if not isinstance(df.schema[id_col].dataType, T.IntegralType):
            raise TypeError(
                f"{op} requires an integral id column, got "
                f"{df.schema[id_col].dataType.simpleString()} for {id_col!r}"
                " — use the expression form (topk_expr/cosine_pairs_q) or"
                " add a surrogate bigint id (monotonically_increasing_id"
                " + join back)"
            )


DEFAULT_MAX_QUERIES = 65536


def _collect_queries(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    op: str,
    max_queries: int,
) -> pd.DataFrame:
    """Bounded driver-side collect of the query table.

    Every numpy scale path closes the query side over the executors
    ("queries are small by contract") — but a contract that isn't
    enforced is a driver OOM with a useless stack trace when a caller
    passes a corpus-sized table (review finding r8). The collect is a
    ``limit(max+1)`` probe: Spark stops the scan after max+1 rows, so
    an oversized input costs one bounded job and an actionable error,
    never a full materialization. Also the single strictLazy gate for
    these inherently-eager builders (ADVICE r8: ``ivf_pq_topk`` ran
    eager driver jobs unguarded when ``dim`` was passed explicitly).
    """
    if max_queries < 1:
        raise ValueError(f"{op}: max_queries must be ≥ 1, got {max_queries}")
    eager_build_guard(
        queries.sparkSession,
        f"{op} query-side collect (bounded limit({max_queries + 1}) probe)",
        f"{op} is an eager index builder by design — the query table is "
        "scored on the driver and broadcast. Under strictLazy, build the "
        "plan from a session that permits build-time jobs.",
    )
    qpdf = queries.select(id_col, vec_col).limit(max_queries + 1).toPandas()
    if len(qpdf) > max_queries:
        raise ValueError(
            f"{op}: query table exceeds max_queries={max_queries} rows. "
            "The numpy scale paths collect and broadcast the QUERY side — "
            "they are built for small-query/huge-corpus retrieval. For a "
            "large query set, raise max_queries= (driver memory "
            "permitting), split the queries into bounded chunks, or use "
            "an all-pairs formulation (cosine_pairs_lsh) instead."
        )
    return qpdf


def topk_numpy(
    spark_queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """Scale-path top-k: int64 matmul per Arrow batch, per-batch top-k,
    global top-k window. Same output contract as ``topk_expr`` (exact
    integer scores → identical results); integral ids required (the
    Arrow schema declares bigint)."""
    _require_integral_ids("topk_numpy", id_col, spark_queries, corpus)
    qpdf = _collect_queries(
        spark_queries, id_col, vec_col, "topk_numpy", max_queries
    )
    if qpdf.empty:
        return spark_queries.sparkSession.createDataFrame(
            [], "q_id bigint, c_id bigint, score bigint, rank integer"
        )
    q_ids = qpdf[id_col].to_numpy()
    q_mat = _np_quant(
        np.stack(qpdf[vec_col].apply(np.asarray).to_numpy())
    )  # (nq, dim)

    def score_batches(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = _np_quant(
                np.stack(pdf[vec_col].apply(np.asarray).to_numpy())
            )
            scores = q_mat @ c_mat.T  # (nq, nbatch) exact int64
            n_keep = min(k, scores.shape[1])
            # per-batch top-k per query: sort by (-score, c_id)
            order = np.lexsort((c_ids[None, :].repeat(len(q_ids), 0), -scores), axis=1)
            top = order[:, :n_keep]
            out = pd.DataFrame(
                {
                    "q_id": np.repeat(q_ids, n_keep),
                    "c_id": c_ids[top.ravel()],
                    "score": np.take_along_axis(scores, top, axis=1).ravel(),
                }
            )
            yield out

    from pandarallel_spark.operators.apply import _widen

    candidates = _widen(corpus.select(id_col, vec_col)).mapInPandas(
        score_batches, "q_id bigint, c_id bigint, score bigint"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        candidates.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _qel_sql(col_sql: str, i: int) -> str:
    """Quantized element i (1-based SQL index) as a SQL fragment."""
    return f"CAST(round(CAST(element_at({col_sql}, {i + 1}) AS DOUBLE)*{QUANT}) AS BIGINT)"


def _dot_sql(a_sql: str, b_sql: str, dim: int) -> str:
    return " + ".join(f"{_qel_sql(a_sql, i)}*{_qel_sql(b_sql, i)}" for i in range(dim))


def cosine_pairs_q(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    dim: int | None = None,
) -> DataFrame:
    """All pairs with quantized-cosine ≥ threshold (embedding near-dup).
    cos = dot_q / (sqrt(norm_q_a) * sqrt(norm_q_b)) — numerator and the
    squared norms are exact integers; one sqrt+division at the end keeps
    the value deterministic across engines.

    Dot products are single unrolled ``F.expr`` strings over the raw
    vector columns: the HOF form (``dot_q``) is interpreted and cost
    ~12 s on a 2M-pair crossJoin where this form runs in ~2 s, codegen'd
    (and a Column-op loop would pay a py4j round trip per term).
    Output: (id_a, id_b, cosine double)."""
    if dim is None:
        dim = _infer_dim(df, vec_col, "cosine_pairs_q")
    v = df.select(
        F.col(id_col).alias("__id__"),
        F.col(vec_col).alias("__v__"),
        F.expr(_dot_sql(vec_col, vec_col, dim)).alias("__n2__"),
    )
    a = v.select(
        F.col("__id__").alias("id_a"), F.col("__v__").alias("__va__"), F.col("__n2__").alias("__na__")
    )
    b = v.select(
        F.col("__id__").alias("id_b"), F.col("__v__").alias("__vb__"), F.col("__n2__").alias("__nb__")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.expr(_dot_sql("__va__", "__vb__", dim)).cast("double")
                / (F.sqrt(F.col("__na__").cast("double")) * F.sqrt(F.col("__nb__").cast("double")))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    bands: int = 16,
    planes_per_band: int = 4,
    seed: int = 202,
    dim: int | None = None,
    verify_block: int = 1024,
    _sigs: DataFrame | None = None,
) -> DataFrame:
    """Embedding near-dup pairs, the scale path: banded sign-bit LSH
    candidate generation + exact quantized-cosine verification. Output
    contract as ``cosine_pairs_q`` (id_a < id_b, cosine double)
    restricted to candidate pairs that collide in ≥1 band; unlike the
    all-pairs form, the id column must be integral (bigint rides the
    Arrow signature pass).

    Shape (the reason this replaces the all-pairs crossJoin): one pass
    computes ``bands × planes_per_band`` sign bits per vector (one
    Arrow-batched int64 matmul per batch, packed to one ``bigint``
    signature per band) plus the exact int64 norm²; pre-quantized
    vectors ride the band explode (``bands ×`` duplication of the
    corpus — rows, not pairs), and each (band, signature) BUCKET
    verifies itself with one exact int64 matmul inside
    ``applyInPandas``, filtering by the threshold before anything else
    moves. The distinct (a pair may collide in several bands) runs on
    the post-threshold survivors — tiny — never on the raw candidate
    set, whose vector-carrying re-join would otherwise dominate. Work
    is Σ bucket² dot products, never n²; no CartesianProduct /
    BroadcastNestedLoopJoin anywhere in the plan.

    Recall tuning (hyperplane LSH collision: P = (1 − θ/π)^r per band):
    near-dup thresholds ≥0.8 want r = 8–16 with 16–32 bands (strong
    candidate pruning); loose thresholds like the 0.4 used on the
    synthetic testdata (max pairwise cosine there is ~0.51) need small
    r — pruning is weak at such low similarity, which is a property of
    the threshold, not the operator. All sign decisions are exact int64
    sums over shared ``plane_ints`` constants, so a generated SQL oracle
    reproduces the candidate set and values bit-for-bit.
    """
    if not isinstance(df.schema[id_col].dataType, T.IntegralType):
        raise TypeError(
            f"cosine_pairs_lsh requires an integral id column, got "
            f"{df.schema[id_col].dataType.simpleString()} — use "
            "cosine_pairs_q or add a surrogate bigint id (e.g. "
            "monotonically_increasing_id + join back)"
        )
    if dim is None:
        dim = _infer_dim(df, vec_col, "cosine_pairs_lsh")
    r = planes_per_band
    p_mat = np.asarray(plane_ints(bands * r, dim, seed), dtype="int64")
    pw = (1 << np.arange(r)).astype("int64")

    def sig_batches(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            qm = _np_quant(np.stack(pdf[vec_col].apply(np.asarray).to_numpy()))
            bits = (qm @ p_mat.T) >= 0  # (n, bands*r)
            sigs = bits.reshape(len(pdf), bands, r) @ pw  # (n, bands)
            yield pd.DataFrame(
                {
                    "__id__": pdf[id_col].to_numpy(),
                    # pre-quantized ints: the verify dot then needs one
                    # multiply per term, not two cast-round-cast chains
                    "__qv__": list(qm),
                    "__n2__": (qm * qm).sum(axis=1),
                    "__sigs__": list(sigs),
                }
            )

    from pandarallel_spark.operators.apply import _widen

    if _sigs is not None:
        # internal: a precomputed (__id__, __qv__, __n2__, __band__,
        # __sig__) frame — the incremental-embedding index path derives
        # identical ints from its packed plane bits, letting a caller
        # that already paid the Arrow matmul pass (incremental_embedding
        # .sigs_long_from_sv) share it instead of re-projecting here
        sigs = _sigs
    else:
        sigs = (
            _widen(df.select(id_col, vec_col))
            .mapInPandas(
                sig_batches,
                "__id__ bigint, __qv__ array<bigint>, __n2__ bigint, __sigs__ array<bigint>",
            )
            .select(
                "__id__", "__qv__", "__n2__",
                F.posexplode("__sigs__").alias("__band__", "__sig__"),
            )
        )
    # per-bucket verification: one exact int64 matmul per (band, sig)
    # group instead of an unrolled per-pair expression — BLAS does the
    # bucket's size² × dim MACs in microseconds where per-row codegen
    # pays ~128 element_at calls per pair (measured 8.6 s → ~1 s at
    # sf0.1). cosine = exact-int dot / (sqrt·sqrt) with the same IEEE
    # tree as the SQL oracle → bit-identical doubles.
    # block-pair tiling bounds per-task memory at BLOCK² doubles
    # (~8 MB) no matter how hot a (band, signature) bucket gets —
    # low-entropy or duplicate-heavy embeddings can land millions of
    # rows in one bucket, and an m×m matrix there would OOM the
    # executor. Same exact int64 dots, same Σ bucket² work; only the
    # matmul is chunked. (verify_block is exposed mainly so tests can
    # exercise multi-block tiling on small buckets.)
    BLOCK = max(int(verify_block), 2)

    def verify_bucket(
        ids: np.ndarray, q: np.ndarray, norms: np.ndarray, parts: list
    ) -> None:
        """Verify ONE real (band, signature) bucket — appending result
        frames to ``parts``; same tiled exact-int64 matmul as before."""
        m = len(ids)
        for i0 in range(0, m, BLOCK):
            i1 = min(i0 + BLOCK, m)
            for j0 in range(i0, m, BLOCK):
                j1 = min(j0 + BLOCK, m)
                dots = q[i0:i1] @ q[j0:j1].T  # exact int64
                cos = dots.astype("float64") / (
                    norms[i0:i1, None] * norms[None, j0:j1]
                )
                keep = cos >= threshold
                if i0 == j0:
                    keep &= np.triu(np.ones(keep.shape, dtype=bool), k=1)
                ia, ib = np.nonzero(keep)
                if len(ia) == 0:
                    continue
                ga, gb = ids[ia + i0], ids[ib + j0]
                # id_a < id_b contract regardless of bucket row order
                parts.append(
                    pd.DataFrame(
                        {
                            "id_a": np.minimum(ga, gb),
                            "id_b": np.maximum(ga, gb),
                            "cosine": cos[ia, ib],
                        }
                    )
                )

    def grouped_bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )
        if len(pdf) < 2:
            return empty
        bnd = pdf["__band__"].to_numpy()
        sg = pdf["__sig__"].to_numpy()
        order = np.lexsort((sg, bnd))
        bnd, sg = bnd[order], sg[order]
        ids = pdf["__id__"].to_numpy()[order]
        n2 = pdf["__n2__"].to_numpy()[order]
        qv = pdf["__qv__"].to_numpy()[order]
        brk = np.flatnonzero((np.diff(bnd) != 0) | (np.diff(sg) != 0)) + 1
        bounds = np.concatenate(([0], brk, [len(bnd)]))
        parts: list[pd.DataFrame] = []
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            if b1 - b0 < 2:
                continue
            q = np.stack([np.asarray(x) for x in qv[b0:b1]]).astype("int64")
            norms = np.sqrt(n2[b0:b1].astype("float64"))
            verify_bucket(ids[b0:b1], q, norms, parts)
        return pd.concat(parts, ignore_index=True) if parts else empty

    # r14 boundary shape (guide §4.5, mirroring dedup._hamming_banded_
    # pairs): grouped applyInPandas pays a fixed per-GROUP cost, so the
    # verify stage is keyed on a coarse deterministic hash of the
    # (band, signature) bucket key — ``coarse_group_count`` groups,
    # each call verifying every real bucket it holds (bands × 2^r raw
    # buckets otherwise, e.g. 256 at the graded row's dials ≈ 0.5 s of
    # pure per-group overhead per pass at local[32]). Emitted pairs
    # identical; shuffle bytes unchanged.
    return bucketed_apply(
        sigs,
        grouped_bucket_pairs,
        "id_a bigint, id_b bigint, cosine double",
        keys=["__band__", "__sig__"],
    ).distinct()


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    dim: int | None = None,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """IVF-Flat approximate top-k: partition the corpus into inverted
    lists by nearest centroid, probe only the query's ``nprobe`` closest
    lists, exact-rerank inside them.

    Centroids here are the first ``n_centroids`` corpus vectors by id —
    deterministic (so the DuckDB oracle reproduces the exact candidate
    set); a production index would run k-means|| (`pyspark.ml.clustering
    .KMeans`) over a sample and persist ``(centroid_id, vec)`` as a
    bucketed table, but the query-time plan is identical.

    Scale shape: assignment is a pure projection over the corpus scan
    (no shuffle — one Arrow-batched int64 matmul against the centroid
    matrix, then an argmax); the probe table is
    queries×nprobe rows, broadcast; the only shuffle is the final top-k
    window over candidates (corpus/n_centroids × nprobe × queries rows),
    never the corpus. At 100 TB the assignment would be precomputed once
    at ingest and the probe join prunes by partition.

    All scores are the exact int64 quantized dot product (see module
    docstring) → bit-identical across engines. Ties: centroid assignment
    → smaller centroid id; top-k → smaller candidate id.
    """
    _require_integral_ids("ivf_topk", id_col, queries, corpus)
    # the bounded query-side collect doubles as the strictLazy gate for
    # this eager index builder (ADVICE r8: the guard must fire even when
    # dim= is passed explicitly); run it before the head-row collect so
    # strictLazy sessions never launch the corpus TakeOrdered either
    qpdf = _collect_queries(queries, id_col, vec_col, "ivf_topk", max_queries)
    if qpdf.empty:
        # nothing to probe — skip the dim-inference and centroid jobs
        return queries.sparkSession.createDataFrame(
            [], "q_id bigint, c_id bigint, score bigint, rank integer"
        )
    if dim is None:
        dim = _infer_dim(corpus, vec_col, "ivf_topk")
    c_mat, cent_ids, _ = _ivf_centroids(
        corpus, id_col, vec_col, n_centroids, "ivf_topk"
    )
    vec_type = dict(corpus.dtypes)[vec_col]
    c = _ivf_assign(corpus, id_col, vec_col, c_mat, cent_ids, vec_type)
    return _ivf_probe_and_rerank(
        queries.sparkSession, qpdf, id_col, vec_col, c_mat, cent_ids, c,
        vec_type, dim, k, nprobe,
    )


def _ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int, op: str
) -> tuple[np.ndarray, np.ndarray, list[list[float]]]:
    """The deterministic centroid rule shared by the inline op and the
    index builder: first ``n_centroids`` corpus vectors by id (so the
    DuckDB oracle reproduces the exact candidate set; a production
    index would run k-means|| over a sample — the query-time plan is
    identical). Rows come back in ascending id order, so np.argmax's
    first-occurrence tie-break = smallest centroid id. Returns the
    quantized matrix, the ids, and the RAW vectors (the index builder
    persists the raw form so recovery re-quantizes through the same
    ``_np_quant``)."""
    cent_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_centroids).collect()
    )
    if not cent_rows:
        raise ValueError(f"{op}: corpus is empty")
    raw = [list(r[vec_col]) for r in cent_rows]
    c_mat = _np_quant(np.array(raw))
    cent_ids = np.array([r[id_col] for r in cent_rows], dtype="int64")
    return c_mat, cent_ids, raw


def _ivf_maxmin_init(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    sample_cap: int = 4096,
) -> list[list[float]]:
    """Deterministic spread init for the coarse k-means: greedy
    farthest-point (max-min euclidean distance) over a bounded
    hash-ordered sample. A head-biased init (e.g. the first-n-by-id
    anchors, which may all sit in one region) leaves Lloyd stuck —
    near-identical centroids split points by quantization noise and
    every mean collapses toward the global mixture — so the init must
    break symmetry BEFORE the rounds. The sample is the first
    ``sample_cap`` rows by ``(xxhash64(id), id)`` order (bounded
    collect, deterministic under reruns and insertion order); the
    greedy pick is the classic 2-approximation to the k-center spread,
    ties to the smaller id. Production trainers (FAISS) init from a
    sample the same way."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(sample_cap)
        .collect()
    )
    if not rows:
        raise ValueError("ivf k-means init: corpus is empty")
    ids = np.array([r[id_col] for r in rows], dtype="int64")
    mat = _np_quant(np.stack([np.asarray(list(r[vec_col])) for r in rows]))
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    chosen = [0]  # smallest sample id
    d2 = ((mat - mat[0]) ** 2).sum(axis=1)
    while len(chosen) < min(n_centroids, len(ids)):
        if d2.max() == 0:
            # fewer DISTINCT vectors than n_centroids: every remaining
            # point coincides with a chosen centroid, so argmax would
            # silently re-pick index 0 (a duplicate slot that survives
            # when kmeans_iters=0 skips the reseed) — stop here and let
            # the tile-to-size path below handle the degenerate case in
            # one place (ADVICE r11)
            break
        nxt = int(d2.argmax())  # first occurrence = smallest id on ties
        chosen.append(nxt)
        d2 = np.minimum(d2, ((mat - mat[nxt]) ** 2).sum(axis=1))
    init = mat[chosen].astype("float64") / QUANT
    if len(init) < n_centroids:  # degenerate tiny corpus: tile to size
        reps = -(-n_centroids // len(init))
        init = np.concatenate([init] * reps)[:n_centroids]
    return [[float(x) for x in v] for v in init]


def _ivf_kmeans_refine(
    corpus: DataFrame,
    vec_col: str,
    init_raw: list[list[float]],
    iters: int,
) -> list[list[float]]:
    """Distributed Lloyd refinement of the COARSE centroids, using the
    index's own assignment rule (argmax dot product on the int64
    quantization grid — the FAISS inner-product-metric recipe: assign
    by the search metric, update each list to its members' mean).
    ``init_raw`` must be SPREAD (``_ivf_maxmin_init``): near-identical
    inits split points by quantization noise and every mean collapses
    toward the global mixture — Lloyd cannot recover symmetry it was
    never given.

    Scale shape per round (``iters`` rounds, ONE Spark job each): the
    corpus streams through ``mapInPandas`` with the current quantized
    centroids in the closure (n_centroids × dim ints ≈ KBs); each
    partition emits n_centroids partial rows (count, int64 sum-vector)
    plus one least-covered candidate row; a JVM ``groupBy`` reduces
    them to ≤ n_centroids + 1 rows before the driver updates. The
    shuffle carries partitions × (n_centroids + 1) tiny rows — the
    corpus never moves, same discipline as ``_pq_kmeans_dist_codebooks``.
    Everything through the shuffle is exact int64 (quantized vectors,
    dot products, partial sums), so cross-partition merge order cannot
    perturb a mean and the refinement is deterministic on a real
    cluster. Empty lists re-seed to the globally least-covered vector
    (min over a (best-dot, vector…) struct — deterministic tie-break).
    """
    raw = np.array(init_raw, dtype="float64")
    n_cent, dim = raw.shape
    src = corpus.select(vec_col)
    s_cols = [f"s{i}" for i in range(dim)]
    schema = "c int, cnt bigint, bd bigint, " + ", ".join(
        f"{s} bigint" for s in s_cols
    )
    for _ in range(iters):
        cb_i = _np_quant(raw)  # closure snapshot: int grid, exact argmax

        def partials(batches, cb_i=cb_i):
            _patch_worker_zipimport()
            sums = np.zeros((n_cent, dim), dtype="int64")
            cnts = np.zeros(n_cent, dtype="int64")
            low: tuple | None = None  # (best_dot, vec-tuple): lexicographic min
            seen = False
            for pdf in batches:
                if pdf.empty:
                    continue
                seen = True
                b = _np_quant(np.stack(pdf[vec_col].apply(np.asarray).to_numpy()))
                dots = b @ cb_i.T
                a = np.argmax(dots, axis=1)  # first occurrence = smallest slot
                np.add.at(sums, a, b)
                np.add.at(cnts, a, 1)
                bd = dots.max(axis=1)
                # ties on best-dot break LEXICOGRAPHICALLY on the
                # vector, matching the cross-partition struct-min rule
                # exactly — a positional argmin would make the reseed
                # depend on Arrow batch layout
                bdmin = int(bd.min())
                tied = b[bd == bd.min()]
                vec = min(tuple(int(x) for x in row) for row in tied)
                cand = (bdmin, vec)
                if low is None or cand < low:
                    low = cand
            if not seen:
                return
            rows = [(c, int(cnts[c]), 0, *sums[c]) for c in range(n_cent)]
            rows.append((-1, 0, low[0], *low[1]))
            yield pd.DataFrame(rows, columns=["c", "cnt", "bd", *s_cols])

        agg = (
            src.mapInPandas(partials, schema)
            .groupBy("c")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.min(F.struct("bd", *s_cols)).alias("low"),
                *[F.sum(s).alias(s) for s in s_cols],
            )
            .collect()
        )
        reseed = None
        for r in agg:
            if r["c"] == -1:
                reseed = (
                    np.array([r["low"][s] for s in s_cols], dtype="float64")
                    / QUANT
                )
        for r in agg:
            c = r["c"]
            if c == -1:
                continue
            if r["cnt"] > 0:
                raw[c] = np.array(
                    [r[s] for s in s_cols], dtype="float64"
                ) / (float(r["cnt"]) * QUANT)
            elif reseed is not None:
                raw[c] = reseed
    return [[float(x) for x in v] for v in raw]


def _snap_to_vec_type(raw: list[list[float]], vec_type: str) -> list[list[float]]:
    """Round centroid values to the index's element precision BEFORE
    they are used for assignment: k-means means are float64, but the
    metadata column stores them cast to ``vec_type`` — if that is
    ``array<float>``, a reloaded index would re-quantize the float32
    values and could disagree with a float64-built assignment in the
    last ulp, breaking the 'stored assignments were made with exactly
    these centroids' invariant. Anchor centroids are actual corpus
    vectors and survive the cast bit-for-bit, so this only matters for
    trained centroids."""
    if vec_type == "array<float>":
        return [[float(np.float32(x)) for x in v] for v in raw]
    return raw


def _ivf_assign(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    c_mat: np.ndarray,
    cent_ids: np.ndarray,
    vec_type: str,
) -> DataFrame:
    """corpus → (c_id, __cvec__, __cid__): one Arrow-batched int64
    matmul per batch (batch × n_centroids) + argmax — a pure corpus
    scan, no shuffle. A 1024-term unrolled codegen expression was tried
    first: 9 MiB task binaries and ~20 s of Janino; the vectorized
    matmul is the honest form of this projection at any scale. ONE
    definition shared by the inline op and the index builder, so their
    assignments cannot drift."""

    def assign_batches(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            b = _np_quant(np.stack(pdf[vec_col].apply(np.asarray).to_numpy()))
            idx = np.argmax(b @ c_mat.T, axis=1)
            yield pd.DataFrame(
                {
                    "c_id": pdf[id_col].to_numpy(),
                    "__cvec__": pdf[vec_col],
                    "__cid__": cent_ids[idx],
                }
            )

    from pandarallel_spark.operators.apply import _widen

    return _widen(corpus.select(id_col, vec_col)).mapInPandas(
        assign_batches, f"c_id bigint, __cvec__ {vec_type}, __cid__ bigint"
    )


def _ivf_probe_and_rerank(
    spark,
    qpdf: pd.DataFrame,
    id_col: str,
    vec_col: str,
    c_mat: np.ndarray,
    cent_ids: np.ndarray,
    assigned: DataFrame,
    vec_type: str,
    dim: int,
    k: int,
    nprobe: int,
) -> DataFrame:
    """The IVF query tail shared by the inline and the persisted-index
    paths: queries → nprobe nearest lists, scored on the driver (the
    caller's bounded collect) and broadcast as (q_id, qvec, cid) probe
    rows; exact rerank inside the probed lists."""
    if qpdf.empty:
        return spark.createDataFrame(
            [], "q_id bigint, c_id bigint, score bigint, rank integer"
        )
    q_mat = _np_quant(np.stack(qpdf[vec_col].apply(np.asarray).to_numpy()))
    qs = q_mat @ c_mat.T  # (nq, n_centroids)
    order = np.argsort(-qs, axis=1, kind="stable")[:, :nprobe]  # ties → smaller cid
    # the probed-list ids are KNOWN here on the driver — push them as a
    # LITERAL IN filter on the list side. Against a __cid__-partitioned
    # persisted index this is STATIC partition pruning at the parquet
    # scan (strictly better than hoping dynamic pruning fires for an
    # unfiltered broadcast side): only nprobe-ish of n_centroids
    # partitions are read. Result-neutral — the equi-join would drop
    # every other list anyway.
    probed_cids = sorted({int(c) for c in cent_ids[order.ravel()]})
    assigned = assigned.filter(F.col("__cid__").isin(probed_cids))
    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                "q_id": np.repeat(qpdf[id_col].to_numpy(), order.shape[1]),
                "__qvec__": [
                    qpdf[vec_col].iloc[i]
                    for i in range(len(qpdf))
                    for _ in range(order.shape[1])
                ],
                "__cid__": cent_ids[order.ravel()],
            }
        ),
        schema=f"q_id bigint, __qvec__ {vec_type}, __cid__ bigint",
    )

    # exact rerank inside probed lists: unrolled single-expr-string dot
    # (64 terms — stays in whole-stage codegen; HOFs are interpreted)
    score = F.expr(
        " + ".join(f"{_qel_sql('__qvec__', i)}*{_qel_sql('__cvec__', i)}" for i in range(dim))
    )
    scored = (
        F.broadcast(probes)
        .join(assigned, "__cid__")
        .select("q_id", "c_id", score.alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_index_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    dim: int | None = None,
    train: str = "anchors",
    kmeans_iters: int = 8,
) -> DataFrame:
    """The persistable IVF index: every corpus vector tagged with its
    inverted-list id, plus constant metadata columns — the ANN twin of
    ``dedup.incremental``'s signature index. At 100 TB the coarse
    assignment (one Arrow-batched matmul pass over the corpus) is the
    expensive part of every ``ivf_topk`` call; building it ONCE at
    ingest and persisting

        index.write.partitionBy("__cid__").parquet(path)

    turns each query into a read of only the probed lists:
    ``ivf_topk_indexed`` pushes the probed-list ids as a LITERAL
    partition filter, so the parquet scan reads ~nprobe/n_centroids of
    the index bytes and none of the raw corpus.

    Output: ``(c_id, __cvec__, __cid__, __ivf_dim__, __ivf_cids__,
    __ivf_cvecs__)`` — one row per corpus vector. The centroids (ids
    AND raw vectors) ride along as constant metadata columns —
    dictionary/RLE-encoded to ~one copy per parquet row group — so the
    query side recovers the AUTHORITATIVE centroid set from a single
    row: a later-filtered/compacted index keeps answering correctly
    (its stored ``__cid__`` assignments were made with exactly these
    centroids), and no per-query scan over the index is needed to find
    them. Grow the index with :func:`ivf_index_append` — it assigns new
    vectors with the index's OWN stored centroids, so the result stays
    self-consistent. Do NOT union two independently BUILT indexes:
    their centroid sets differ and a single-row metadata read cannot
    represent both. Eager on the driver (the centroid collect),
    strictLazy-gated like every eager index builder here.

    Row size note: the metadata columns cost ~one copy per parquet row
    group on DISK (dictionary/RLE), but each written row still carries
    them through the in-memory projection/write path — at large
    ``n_centroids × dim`` prefer :func:`ivf_index_write` /
    :func:`ivf_index_read`, which persist the centroid set ONCE as a
    sidecar next to the partitioned lists.

    ``train="anchors"`` (default) picks the deterministic first-
    ``n_centroids``-by-id centroids — SQL-reproducible, so an external
    oracle can replay the index. ``train="kmeans"`` trains real
    centroids: a deterministic farthest-point init over a bounded
    hash-ordered sample, then ``kmeans_iters`` distributed Lloyd
    rounds over the FULL corpus (one Spark job per round, the corpus
    never moves — ``_ivf_kmeans_refine``), assigning by the index's
    own argmax-dot rule; deterministic but not SQL-expressible — the
    production choice when the corpus head is not representative of
    the distribution (and what :func:`ivf_index_rebuild` runs when
    :func:`ivf_drift_check` recommends re-centering). Trained list ids
    are synthetic slots ``0..n_centroids-1``."""
    _require_integral_ids("ivf_index_build", id_col, corpus)
    if train not in ("anchors", "kmeans"):
        raise ValueError(f"train must be 'anchors' or 'kmeans', got {train!r}")
    eager_build_guard(
        corpus.sparkSession,
        "ivf_index_build centroid collect (bounded orderBy/limit probe)",
        "Index building is eager by design — run it from a session that "
        "permits build-time jobs.",
    )
    if dim is None:
        dim = _infer_dim(corpus, vec_col, "ivf_index_build")
    vec_type = dict(corpus.dtypes)[vec_col]
    if train == "kmeans":
        # spread init (farthest-point over a bounded hash-ordered
        # sample) + distributed Lloyd rounds; list ids are synthetic
        # slots 0..n-1 — trained centroids are means, not corpus rows
        cent_raw = _snap_to_vec_type(
            _ivf_kmeans_refine(
                corpus,
                vec_col,
                _ivf_maxmin_init(corpus, id_col, vec_col, n_centroids),
                kmeans_iters,
            ),
            vec_type,
        )
        c_mat = _np_quant(np.array(cent_raw))
        cent_ids = np.arange(len(cent_raw), dtype="int64")
    else:
        c_mat, cent_ids, cent_raw = _ivf_centroids(
            corpus, id_col, vec_col, n_centroids, "ivf_index_build"
        )
    assigned = _ivf_assign(corpus, id_col, vec_col, c_mat, cent_ids, vec_type)
    # the RAW centroid vectors (not the quantized matrix) persist in the
    # metadata — recovery re-quantizes through the same _np_quant the
    # build used, keeping one source of truth for the rounding
    return assigned.select(
        "c_id",
        "__cvec__",
        "__cid__",
        *_ivf_meta_cols(dim, cent_ids, cent_raw, vec_type),
    )


def ivf_topk_indexed(
    queries: DataFrame,
    index: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """``ivf_topk`` against a prebuilt (usually parquet-persisted)
    index: identical results row-for-row, and the corpus is never
    touched. The AUTHORITATIVE centroids come from the index's
    single-row metadata (``__ivf_cids__``/``__ivf_cvecs__``) — an O(1)
    read, never a scan over the index, and still correct after the
    index is filtered or compacted (the stored assignments were made
    with exactly these centroids). With the index written
    ``partitionBy("__cid__")``, the probed-list ids are pushed as a
    LITERAL partition filter: the parquet scan reads ONLY the probed
    lists' partitions (plan- and pytest-checked), which is the point of
    persisting the assignment at 100 TB."""
    _check_ivf_index(index)
    _require_integral_ids("ivf_topk_indexed", id_col, queries)
    qpdf = _collect_queries(queries, id_col, vec_col, "ivf_topk_indexed", max_queries)
    if qpdf.empty:
        # nothing to probe — skip the metadata job entirely
        return queries.sparkSession.createDataFrame(
            [], "q_id bigint, c_id bigint, score bigint, rank integer"
        )
    dim, cent_ids, c_mat, _ = _ivf_index_meta(index, "ivf_topk_indexed")
    vec_type = dict(index.dtypes)["__cvec__"]
    return _ivf_probe_and_rerank(
        queries.sparkSession, qpdf, id_col, vec_col, c_mat, cent_ids,
        index.select("c_id", "__cvec__", "__cid__"), vec_type, dim, k, nprobe,
    )


_IVF_COLS = (
    "c_id", "__cvec__", "__cid__", "__ivf_dim__", "__ivf_cids__",
    "__ivf_cvecs__",
)


def _check_ivf_index(index: DataFrame) -> None:
    for c in _IVF_COLS:
        if c not in index.columns:
            raise ValueError(
                f"not an IVF index: missing column {c!r} "
                "(build one with ivf_index_build)"
            )


def _ivf_index_meta(index: DataFrame, op: str):
    """Recover the AUTHORITATIVE centroid set from the index's
    single-row metadata: ``(dim, cent_ids, quantized c_mat, raw
    centroid vectors)``. One bounded row, never a scan; re-quantizes
    the stored raw vectors through ``_np_quant`` — the same rounding
    the build used."""
    meta = index.select("__ivf_dim__", "__ivf_cids__", "__ivf_cvecs__").limit(
        1
    ).collect()
    if not meta:
        raise ValueError(f"{op}: the index is empty")
    dim = int(meta[0]["__ivf_dim__"])
    cent_ids = np.array(list(meta[0]["__ivf_cids__"]), dtype="int64")
    raw = [list(v) for v in meta[0]["__ivf_cvecs__"]]
    return dim, cent_ids, _np_quant(np.array(raw)), raw


def _ivf_meta_cols(dim: int, cent_ids, cent_raw, vec_type: str) -> list:
    """The three constant metadata columns, one definition shared by
    the builder and the appender so appended rows are byte-identical
    in metadata to the rows they join."""
    return [
        F.lit(int(dim)).cast("int").alias("__ivf_dim__"),
        F.lit([int(i) for i in cent_ids])
        .cast("array<bigint>")
        .alias("__ivf_cids__"),
        F.lit([[float(x) for x in v] for v in cent_raw])
        .cast(f"array<{vec_type}>")
        .alias("__ivf_cvecs__"),
    ]


def ivf_index_append(
    index: DataFrame,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Index rows for NEW vectors, assigned with the index's OWN stored
    centroids — the ANN twin of ``incremental.minhash_index_merge``:
    the ingest loop indexes the whole corpus once and each delta pays
    only its own assignment pass (one Arrow-batched matmul over the
    delta, no shuffle), never a rebuild.

    Returns ONLY the new rows, schema-identical to the index (same
    ``__cid__`` space, byte-identical metadata columns recovered from
    the index's single-row metadata and re-quantized through the same
    ``_np_quant`` the build used). The two ways to use them:

    - persisted index: ``appended.write.mode("append")
      .partitionBy("__cid__").parquet(path)`` — old partitions are
      untouched; new files land inside the probed-list layout so
      ``ivf_topk_indexed``'s static partition pruning keeps holding.
    - in-memory: ``index.unionByName(appended)`` is row-for-row what
      ``ivf_index_build`` would produce over the union IF the union's
      centroid rule picked the same centroids (it does whenever the
      original corpus's first ``n_centroids`` ids stay the smallest).

    Centroids are NOT re-trained: recall against the new vectors
    degrades gracefully as the appended distribution drifts from the
    one the centroids were built on (the standard IVF trade) — rebuild
    on whatever cadence the drift warrants. Eager on the driver (the
    one-row metadata collect), strictLazy-gated like the builder."""
    _check_ivf_index(index)
    _require_integral_ids("ivf_index_append", id_col, new_corpus)
    eager_build_guard(
        new_corpus.sparkSession,
        "ivf_index_append metadata recovery (one-row bounded collect)",
        "Appending is eager by design — run it from a session that "
        "permits build-time jobs.",
    )
    dim, cent_ids, c_mat, cent_raw = _ivf_index_meta(index, "ivf_index_append")
    got = _infer_dim(new_corpus, vec_col, "ivf_index_append")
    if got != dim:
        raise ValueError(
            f"ivf_index_append: the index was built on {dim}-wide vectors "
            f"but the new corpus's {vec_col!r} vectors are {got}-wide — "
            "re-embed the delta or rebuild the index"
        )
    vec_type = dict(index.dtypes)["__cvec__"]
    assigned = _ivf_assign(new_corpus, id_col, vec_col, c_mat, cent_ids, vec_type)
    return assigned.select(
        "c_id", "__cvec__", "__cid__",
        *_ivf_meta_cols(dim, cent_ids, cent_raw, vec_type),
    )


def ivf_index_rebuild(
    index: DataFrame,
    n_centroids: int | None = None,
    train: str = "kmeans",
    kmeans_iters: int = 8,
) -> DataFrame:
    """Re-train the centroids over the index's OWN stored vectors and
    re-assign every row — the action :func:`ivf_drift_check`'s
    ``rebuild_recommended`` verdict calls for, without touching the raw
    corpus (the index carries the full vectors, so a rebuild reads the
    index alone: centroid refinement + one Arrow-batched assignment
    matmul over the index rows).

    ``train="kmeans"`` (default — a rebuild exists to RE-CENTER)
    retrains from scratch over the CURRENT vectors: farthest-point
    init + distributed Lloyd rounds, exactly ``ivf_index_build``'s
    trained path. Deliberately NOT a warm start from the stored
    centroids — when the stored set is degenerate (e.g. head-biased
    anchors, the very condition that triggers the rebuild), Lloyd
    cannot escape a near-identical init, so re-initializing is the
    only rebuild that reliably fixes what the drift check flagged.
    Consequence: list ids are a NEW slot space (``0..n-1``) — reset
    any per-``__cid__`` drift baseline after a rebuild.
    ``train="anchors"`` gives the SQL-reproducible rule instead.
    ``n_centroids`` defaults to the old index's list count.

    Pass the append-grown index (``ivf_index_read(path,
    include_deltas=True)`` for the streaming loop's layout) and persist
    the result with :func:`ivf_index_write` to a NEW path, then swap —
    the old index stays readable until the new one commits, the same
    write-new-then-swap discipline as the dedup index versions. Eager
    on the driver like every index builder, strictLazy-gated inside
    the build."""
    _check_ivf_index(index)
    if train not in ("anchors", "kmeans"):
        raise ValueError(f"train must be 'anchors' or 'kmeans', got {train!r}")
    eager_build_guard(
        index.sparkSession,
        "ivf_index_rebuild metadata recovery + centroid retrain",
        "Rebuilding is eager by design — run it from a session that "
        "permits build-time jobs.",
    )
    dim, cent_ids, _, _ = _ivf_index_meta(index, "ivf_index_rebuild")
    return ivf_index_build(
        index.select("c_id", "__cvec__"),
        id_col="c_id",
        vec_col="__cvec__",
        n_centroids=n_centroids if n_centroids is not None else len(cent_ids),
        dim=dim,
        train=train,
        kmeans_iters=kmeans_iters,
    )


_PQ_META_COLS = (
    "__pq_dim__", "__pq_m__", "__pq_ncodes__", "__pq_resid__",
    "__pq_vtype__", "__pq_cids__", "__pq_cmat__", "__pq_cb__",
)


def pq_index_build(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    dim: int | None = None,
    train: str = "anchors",
    by_residual: bool = True,
    seed: int = 0,
    kmeans_iters: int = 8,
    sample_n: int = 4096,
    kmeans_dist_fraction: float = 1.0,
    store_vectors: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """The persistable IVF-PQ index — the compression twin of
    :func:`ivf_index_build`, and the form that actually matters at
    100 TB: ``ivf_pq_topk`` re-trains codebooks and re-encodes the
    WHOLE corpus on every call, while this builds the encoded lists
    once at ingest. Returns ``(lists, meta)``:

    - ``lists`` — one row per corpus vector: ``(c_id[, __cvec__],
      __cid__, __codes__)``. With ``store_vectors=False`` the true
      vectors are dropped and each row is ~m bytes of codes — the 32×
      compression layout (queries then rank by ADC alone, no exact
      rerank: the faiss ``IVFPQ``-without-refine trade).
    - ``meta`` — ONE row holding everything a query needs: the
      QUANTIZED centroid matrix and flattened codebooks (exact int64 —
      nothing is re-derived, so a reloaded index scores bit-identically),
      dims, and the layout flags.

    The metadata is deliberately a separate one-row frame (sidecar
    layout via :func:`pq_index_write`), never per-row constant columns:
    codebooks are ``m × n_codes × sub`` ints (~KBs) — the ADVICE-r10
    projection-cost lesson from the Flat index applied from day one.

    Persist with :func:`pq_index_write` (lists partitioned by
    ``__cid__`` — :func:`pq_topk_indexed` pushes the probed-list ids
    as a LITERAL partition filter, so a query reads ~nprobe/n_centroids
    of the code bytes). Same training dials as ``ivf_pq_topk``
    (``train="anchors"|"kmeans"|"kmeans_dist"``). Eager on the driver
    (the head collect), strictLazy-gated."""
    if train not in ("anchors", "kmeans", "kmeans_dist"):
        raise ValueError(
            f"train must be 'anchors', 'kmeans' or 'kmeans_dist', got {train!r}"
        )
    _require_integral_ids("pq_index_build", id_col, corpus)
    if dim is not None and dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    eager_build_guard(
        corpus.sparkSession,
        "pq_index_build head collect (bounded orderBy/limit)",
        "Index building is eager by design — run it from a session that "
        "permits build-time jobs.",
    )
    if dim is None:
        dim = _infer_dim(corpus, vec_col, "pq_index_build")
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    c_mat, cent_ids, cb = _pq_train(
        corpus, id_col, vec_col, n_centroids, m, n_codes, train,
        by_residual, seed, kmeans_iters, sample_n, kmeans_dist_fraction,
        "pq_index_build", expect_dim=dim,
    )
    vec_type = dict(corpus.dtypes)[vec_col]
    lists = _pq_encode(
        corpus, id_col, vec_col, c_mat, cent_ids, cb, by_residual,
        vec_type, store_vectors=store_vectors,
    )
    meta = corpus.sparkSession.range(1).select(
        F.lit(int(dim)).cast("int").alias("__pq_dim__"),
        F.lit(int(m)).cast("int").alias("__pq_m__"),
        F.lit(int(n_codes)).cast("int").alias("__pq_ncodes__"),
        F.lit(bool(by_residual)).alias("__pq_resid__"),
        F.lit(vec_type).alias("__pq_vtype__"),
        F.lit([int(i) for i in cent_ids]).cast("array<bigint>").alias("__pq_cids__"),
        F.lit([[int(x) for x in row] for row in c_mat])
        .cast("array<array<bigint>>")
        .alias("__pq_cmat__"),
        F.lit([int(x) for x in cb.ravel()])
        .cast("array<bigint>")
        .alias("__pq_cb__"),
    )
    return lists, meta


def _pq_index_meta(meta: DataFrame, op: str):
    for c in _PQ_META_COLS:
        if c not in meta.columns:
            raise ValueError(
                f"{op}: not a PQ index metadata frame — missing column "
                f"{c!r} (build one with pq_index_build)"
            )
    rows = meta.limit(1).collect()
    if not rows:
        raise ValueError(f"{op}: the PQ metadata frame is empty")
    r = rows[0]
    dim, m, n_codes = int(r["__pq_dim__"]), int(r["__pq_m__"]), int(r["__pq_ncodes__"])
    cent_ids = np.array(list(r["__pq_cids__"]), dtype="int64")
    c_mat = np.array([list(v) for v in r["__pq_cmat__"]], dtype="int64")
    cb = np.array(list(r["__pq_cb__"]), dtype="int64").reshape(
        m, n_codes, dim // m
    )
    return dim, m, n_codes, bool(r["__pq_resid__"]), str(r["__pq_vtype__"]), cent_ids, c_mat, cb


def pq_topk_indexed(
    queries: DataFrame,
    lists: DataFrame,
    meta: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 32,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """``ivf_pq_topk`` against a prebuilt (usually parquet-persisted)
    PQ index: identical results row-for-row when the index stores true
    vectors; ADC-only ranking when it was built with
    ``store_vectors=False``. The corpus is never touched — centroids
    and codebooks come from the ONE metadata row (exact int64, so a
    reloaded index scores bit-identically), and the probed-list ids go
    down as a LITERAL partition filter against a
    ``partitionBy("__cid__")`` lists layout."""
    _require_integral_ids("pq_topk_indexed", id_col, queries)
    qpdf = _collect_queries(
        queries, id_col, vec_col, "pq_topk_indexed", max_queries
    )
    if qpdf.empty:
        return queries.sparkSession.createDataFrame(
            [], "q_id bigint, c_id bigint, score bigint, rank bigint"
        )
    dim, m, n_codes, by_residual, vec_type, cent_ids, c_mat, cb = _pq_index_meta(
        meta, "pq_topk_indexed"
    )
    for c in ("c_id", "__cid__", "__codes__"):
        if c not in lists.columns:
            raise ValueError(
                f"pq_topk_indexed: not a PQ index lists frame — missing "
                f"column {c!r} (build one with pq_index_build)"
            )
    sel = ["c_id", "__cid__", "__codes__"]
    if "__cvec__" in lists.columns:
        sel.insert(1, "__cvec__")
    return _pq_probe_and_score(
        queries.sparkSession, qpdf, id_col, vec_col,
        lists.select(*sel).withColumn(
            "__cid__", F.col("__cid__").cast("bigint")
        ),
        c_mat, cent_ids, cb, dim, by_residual, k, nprobe, rerank, vec_type,
    )


def pq_index_append(
    lists: DataFrame,
    meta: DataFrame,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encoded rows for NEW vectors, produced with the index's OWN
    stored centroids and codebooks — the PQ analog of
    :func:`ivf_index_append`: the ingest loop encodes the corpus once
    and each delta pays only its own one-Arrow-pass encode, never a
    re-train or re-encode. Returns ONLY the new rows, schema-identical
    to ``lists`` (including the ``store_vectors`` choice — the layout
    flag lives in the lists schema itself). Append with
    ``.write.mode("append").partitionBy("__cid__")`` against
    ``{path}/lists``: old partitions are untouched and
    :func:`pq_topk_indexed`'s static probed-list pruning keeps
    holding. Codebooks are NOT re-trained — ADC quality against the
    appended distribution degrades as it drifts from the trained one
    (the standard PQ trade); rebuild with :func:`pq_index_build` on
    whatever cadence the drift warrants. Eager on the driver (the
    one-row metadata collect), strictLazy-gated like the builder."""
    _require_integral_ids("pq_index_append", id_col, new_corpus)
    eager_build_guard(
        new_corpus.sparkSession,
        "pq_index_append metadata recovery (one-row bounded collect)",
        "Appending is eager by design — run it from a session that "
        "permits build-time jobs.",
    )
    dim, m, n_codes, by_residual, vec_type, cent_ids, c_mat, cb = _pq_index_meta(
        meta, "pq_index_append"
    )
    for c in ("c_id", "__cid__", "__codes__"):
        if c not in lists.columns:
            raise ValueError(
                "pq_index_append: not a PQ index lists frame — missing "
                f"column {c!r} (build one with pq_index_build)"
            )
    got = _infer_dim(new_corpus, vec_col, "pq_index_append")
    if got != dim:
        raise ValueError(
            f"pq_index_append: the index was built on {dim}-wide vectors "
            f"but the new corpus's {vec_col!r} vectors are {got}-wide — "
            "re-embed the delta or rebuild the index"
        )
    return _pq_encode(
        new_corpus, id_col, vec_col, c_mat, cent_ids, cb, by_residual,
        vec_type, store_vectors="__cvec__" in lists.columns,
    )


def pq_index_rebuild(
    lists: DataFrame,
    meta: DataFrame,
    n_centroids: int | None = None,
    m: int | None = None,
    n_codes: int | None = None,
    train: str = "kmeans",
    kmeans_iters: int = 8,
    seed: int = 0,
    sample_n: int = 4096,
    kmeans_dist_fraction: float = 1.0,
    store_vectors: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Re-train the PQ codebooks (and re-pick the coarse centroids)
    over the index's OWN stored vectors and re-encode every row — the
    action :func:`pq_list_stats` + :func:`ivf_drift_check`'s
    ``rebuild_recommended`` verdict calls for, without touching the raw
    corpus: the Flat rebuild's twin (:func:`ivf_index_rebuild`), closing
    the lifecycle the r11 monitoring opened (a drifted-append index's
    reconstruction error measures CODEBOOK staleness — the fix is a
    codebook retrain, which only existed inline until now).

    Requires a ``store_vectors=True`` index: a codes-only index has no
    true vectors to retrain from — it refuses loudly (re-encode from
    the raw corpus with :func:`pq_index_build` instead). Returns a
    fresh ``(lists, meta)`` pair; persist with :func:`pq_index_write`
    to a NEW path, then swap — the old index stays readable until the
    new one commits, the same write-new-then-swap discipline as the
    dedup index versions.

    ``train="kmeans"`` (default — a rebuild exists to RE-FIT the
    quantizer) retrains codebooks from scratch over the CURRENT
    vectors, deliberately cold-start for the same reason as
    :func:`ivf_index_rebuild`: a degenerate codebook is an init Lloyd
    cannot escape, and stale codebooks are the very condition that
    triggered the rebuild. Coarse centroids follow the PQ builder's
    own rule (first ``n_centroids`` rows by id over the index's
    ``c_id``s — SQL-reproducible), so list ids are a NEW ``__cid__``
    space: reset any per-list drift baseline (re-snapshot
    ``pq_list_stats``) after a rebuild. Geometry dials (``m``,
    ``n_codes``, ``n_centroids``) and ``by_residual`` default to the
    old index's metadata. Eager on the driver like every index
    builder, strictLazy-gated inside the build."""
    for c in ("c_id", "__cid__", "__codes__"):
        if c not in lists.columns:
            raise ValueError(
                "pq_index_rebuild: not a PQ index lists frame — missing "
                f"column {c!r} (build one with pq_index_build)"
            )
    if "__cvec__" not in lists.columns:
        raise ValueError(
            "pq_index_rebuild requires a store_vectors=True index — a "
            "codes-only index has no true vectors to retrain from; "
            "rebuild from the raw corpus with pq_index_build instead"
        )
    eager_build_guard(
        lists.sparkSession,
        "pq_index_rebuild metadata recovery + codebook retrain",
        "Rebuilding is eager by design — run it from a session that "
        "permits build-time jobs.",
    )
    dim, old_m, old_ncodes, by_residual, _vt, cent_ids, _cm, _cb = (
        _pq_index_meta(meta, "pq_index_rebuild")
    )
    return pq_index_build(
        lists.select("c_id", "__cvec__"),
        id_col="c_id",
        vec_col="__cvec__",
        n_centroids=n_centroids if n_centroids is not None else len(cent_ids),
        m=m if m is not None else old_m,
        n_codes=n_codes if n_codes is not None else old_ncodes,
        dim=dim,
        train=train,
        by_residual=by_residual,
        seed=seed,
        kmeans_iters=kmeans_iters,
        sample_n=sample_n,
        kmeans_dist_fraction=kmeans_dist_fraction,
        store_vectors=store_vectors,
    )


def pq_list_stats(lists: DataFrame, meta: DataFrame) -> DataFrame:
    """Per-inverted-list health stats for a PQ index: ``(__cid__,
    n_vectors, mean_sq_dist)`` — the SAME contract :func:`ivf_list_stats`
    emits, so :func:`ivf_drift_check` consumes both unchanged and the
    PQ index gets the identical rebuild-cadence loop.

    ``mean_sq_dist`` here is the PQ RECONSTRUCTION error — the mean
    squared L2 distance between each vector and ``centroid +
    codebook[codes]`` (or just the codebook reconstruction without
    residual encoding), in quantized units. It measures what Flat's
    stat cannot: codebook staleness. Appended vectors drawn from a
    drifted distribution code poorly against the trained codebooks
    even when their coarse lists stay balanced, degrading ADC ranking
    quality silently — this stat makes it visible. Snapshot it at
    build time, persist next to the index, and compare after appends.

    Scale shape: one Arrow-batched pass over the lists (per-partition
    int64 partial sums per list, like the k-means rounds — the
    shuffle carries partitions × n_centroids tiny rows), exact
    integer arithmetic throughout. Requires a ``store_vectors=True``
    index: a codes-only index has no true vectors to measure
    reconstruction error against — snapshot stats before dropping
    vectors, or keep them."""
    if "__cvec__" not in lists.columns:
        raise ValueError(
            "pq_list_stats requires a store_vectors=True index — a "
            "codes-only index has no vectors to measure reconstruction "
            "error against; snapshot stats at build time before "
            "dropping vectors"
        )
    # guard BEFORE the metadata collect: under strictLazy the refusal
    # must fire before any Spark job runs (ADVICE r11 — the other PQ
    # entry points already order it this way)
    eager_build_guard(
        lists.sparkSession,
        "pq_list_stats metadata recovery (one-row bounded collect)",
        "Collect the metadata row yourself outside strict-lazy scope.",
    )
    (dim, m, n_codes, by_residual, _vt, cent_ids, c_mat, cb) = _pq_index_meta(
        meta, "pq_list_stats"
    )
    sub = dim // m
    cid_to_slot = {int(c): i for i, c in enumerate(cent_ids)}
    n_cent = len(cent_ids)
    src = lists.select("__cvec__", "__cid__", "__codes__")

    def partials(batches):
        _patch_worker_zipimport()
        cnts = np.zeros(n_cent, dtype="int64")
        errs = np.zeros(n_cent, dtype="int64")
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            b = _np_quant(np.stack(pdf["__cvec__"].apply(np.asarray).to_numpy()))
            codes = np.stack(
                pdf["__codes__"].apply(np.asarray).to_numpy()
            ).astype("int64")
            mapped = pdf["__cid__"].map(cid_to_slot)
            if mapped.isna().any():
                stray = sorted(
                    int(c) for c in pdf["__cid__"][mapped.isna()].unique()
                )[:5]
                raise ValueError(
                    "pq_list_stats: lists rows carry __cid__ values "
                    f"absent from the metadata frame (e.g. {stray}) — "
                    "the (lists, meta) pair is mismatched; pass the "
                    "metadata frame the lists were built/appended with"
                )
            slots = mapped.to_numpy().astype("int64")
            recon = cb[np.arange(m)[None, :], codes, :].reshape(len(b), dim)
            if by_residual:
                recon = recon + c_mat[slots]
            err = ((b - recon) ** 2).sum(axis=1)
            np.add.at(cnts, slots, 1)
            np.add.at(errs, slots, err)
        if not seen:
            return
        yield pd.DataFrame(
            {"__cid__": cent_ids, "cnt": cnts, "err": errs}
        )

    agg = (
        src.mapInPandas(partials, "__cid__ bigint, cnt bigint, err bigint")
        .groupBy("__cid__")
        .agg(F.sum("cnt").alias("n_vectors"), F.sum("err").alias("__err__"))
    )
    present = agg.select(
        "__cid__",
        "n_vectors",
        F.when(
            F.col("n_vectors") > 0, F.col("__err__") / F.col("n_vectors")
        ).alias("mean_sq_dist"),
    )
    # the centroid universe comes from the metadata, so empty lists
    # appear as n_vectors=0 (same rationale as ivf_list_stats)
    universe = meta.select(F.explode("__pq_cids__").alias("__cid__"))
    return universe.join(present, "__cid__", "left").select(
        "__cid__",
        F.coalesce(F.col("n_vectors"), F.lit(0)).alias("n_vectors"),
        "mean_sq_dist",
    )


def pq_index_write(
    lists: DataFrame, meta: DataFrame, path: str, mode: str = "error"
) -> None:
    """Persist a PQ index: ``{path}/lists`` partitioned by ``__cid__``
    (so the indexed query's literal probed-list filter statically
    prunes the scan) and ``{path}/meta`` as one sidecar row."""
    for c in _PQ_META_COLS:
        if c not in meta.columns:
            raise ValueError(
                f"pq_index_write: not a PQ metadata frame — missing {c!r}"
            )
    lists.write.mode(mode).partitionBy("__cid__").parquet(f"{path}/lists")
    meta.coalesce(1).write.mode(mode).parquet(f"{path}/meta")


def pq_index_read(
    spark, path: str, include_deltas: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Load a PQ index persisted by :func:`pq_index_write`; returns
    ``(lists, meta)`` ready for :func:`pq_topk_indexed`. Lazy — the
    metadata row is read when a query needs it.

    ``include_deltas=True`` additionally unions the COMMITTED
    ``delta/b=`` dirs written by the continuous PQ ingest loop
    (``streaming.ingest_ann.stream_ingest_pq``) — each delta dir is
    itself ``__cid__``-partitioned, so the probed-list pruning holds
    across the union."""
    lists = spark.read.parquet(f"{path}/lists")
    if include_deltas:
        from pandarallel_spark.streaming.ingest_ann import read_pq_deltas

        deltas = read_pq_deltas(spark, path, list(lists.columns))
        if deltas is not None:
            lists = lists.withColumn(
                "__cid__", F.col("__cid__").cast("bigint")
            ).unionByName(deltas)
    return lists, spark.read.parquet(f"{path}/meta")


def ivf_index_write(index: DataFrame, path: str, mode: str = "error") -> None:
    """Persist an IVF index with the centroid set stored ONCE as a
    sidecar instead of per-row constant columns (ADVICE r10): the
    in-row metadata costs ~nothing on disk (RLE) but every written row
    still materializes the O(n_centroids × dim) arrays through the
    projection/write path — at production centroid counts that
    dominates the write. Layout:

    - ``{path}/lists/``  — ``(c_id, __cvec__)`` partitioned by
      ``__cid__``, so ``ivf_topk_indexed``'s literal probed-list filter
      statically prunes to ~nprobe/n_centroids of the bytes;
    - ``{path}/meta/``   — ONE row holding ``(__ivf_dim__,
      __ivf_cids__, __ivf_cvecs__)``.

    Reload with :func:`ivf_index_read`. Append deltas with
    ``ivf_index_append(...)​.write.mode("append")`` against
    ``{path}/lists`` via ``ivf_index_read`` + a fresh write, or
    directly: the lists dir is a plain partitioned parquet table."""
    _check_ivf_index(index)
    spark = index.sparkSession
    dim, cent_ids, c_mat, cent_raw = _ivf_index_meta(index, "ivf_index_write")
    vec_type = dict(index.dtypes)["__cvec__"]
    index.select("c_id", "__cvec__", "__cid__").write.mode(mode).partitionBy(
        "__cid__"
    ).parquet(f"{path}/lists")
    spark.range(1).select(
        *_ivf_meta_cols(dim, cent_ids, cent_raw, vec_type)
    ).coalesce(1).write.mode(mode).parquet(f"{path}/meta")


def ivf_index_read(spark, path: str, include_deltas: bool = False) -> DataFrame:
    """Load an index persisted by :func:`ivf_index_write`: the centroid
    sidecar is read once (one-row driver collect, strictLazy-gated) and
    re-attached as constant LITERAL columns, so the result is drop-in
    compatible with ``ivf_topk_indexed`` — whose query plan prunes the
    literal metadata columns away and keeps the static partition
    pruning over ``lists/__cid__=...``; the per-row arrays never leave
    the driver.

    ``include_deltas=True`` additionally unions the COMMITTED
    ``delta/b=`` dirs written by the continuous ingest loop
    (``streaming.ingest_ann.stream_ingest_ann``) — each delta dir is
    itself ``__cid__``-partitioned, so the probed-list pruning holds
    across the union."""
    eager_build_guard(
        spark,
        "ivf_index_read centroid sidecar read (one-row bounded collect)",
        "Load the lists and sidecar explicitly outside strict-lazy scope.",
    )
    dim, cent_ids, _, cent_raw = _ivf_index_meta(
        spark.read.parquet(f"{path}/meta"), "ivf_index_read"
    )
    lists = spark.read.parquet(f"{path}/lists")
    rows = lists.select(
        "c_id", "__cvec__", F.col("__cid__").cast("bigint").alias("__cid__")
    )
    if include_deltas:
        from pandarallel_spark.streaming.ingest_ann import read_ivf_deltas

        deltas = read_ivf_deltas(spark, path)
        if deltas is not None:
            rows = rows.unionByName(deltas)
    vec_type = dict(lists.dtypes)["__cvec__"]
    return rows.select(
        "c_id",
        "__cvec__",
        "__cid__",
        *_ivf_meta_cols(dim, cent_ids, cent_raw, vec_type),
    )


def ivf_list_stats(index: DataFrame, dim: int | None = None) -> DataFrame:
    """Per-inverted-list health stats: ``(__cid__, n_vectors,
    mean_sq_dist)`` — one index scan, one small aggregation. EVERY
    centroid appears (the universe comes from the one-row metadata):
    empty lists carry ``n_vectors=0`` and a NULL ``mean_sq_dist``, so
    total concentration into few lists reads as the imbalance it is.

    ``mean_sq_dist`` is the mean squared L2 distance of each list's
    vectors to their OWN assigned centroid, in quantized units
    (Σ (q_i − c_i)² over the exact int64 grid, averaged as double) —
    the IVF quantization distortion. Both signals of a stale index
    live here:

    - **drift**: appended vectors landing far from every centroid push
      ``mean_sq_dist`` up — the centroids no longer describe the
      distribution (``ivf_index_append`` assigns with the ORIGINAL
      centroids by design);
    - **imbalance**: ``n_vectors`` concentrating in few lists destroys
      the nprobe/n_centroids pruning ratio — a probe of the hot list
      approaches a full scan.

    The centroid vector comes from each row's own metadata columns
    (``array_position`` + ``element_at`` — pure codegen, no join, no
    driver centroid collect beyond the one-row ``dim`` probe; pass
    ``dim=`` to skip it under strictLazy). Persist the build-time
    frame next to the index and hand both to :func:`ivf_drift_check`
    on whatever cadence the ingest loop warrants.
    """
    _check_ivf_index(index)
    if dim is None:
        eager_build_guard(
            index.sparkSession,
            "ivf_list_stats dim probe (one-row bounded collect)",
            "Pass dim= explicitly to skip the probe.",
        )
        row = index.select("__ivf_dim__").limit(1).collect()
        if not row:
            raise ValueError("ivf_list_stats: the index is empty")
        dim = int(row[0]["__ivf_dim__"])
    with_cent = index.withColumn(
        "__centv__",
        F.element_at(
            F.col("__ivf_cvecs__"),
            F.array_position(F.col("__ivf_cids__"), F.col("__cid__")).cast(
                "int"
            ),
        ),
    )
    sq = F.expr(
        " + ".join(
            f"({_qel_sql('__cvec__', i)} - {_qel_sql('__centv__', i)})"
            f" * ({_qel_sql('__cvec__', i)} - {_qel_sql('__centv__', i)})"
            for i in range(dim)
        )
    )
    present = (
        with_cent.select("__cid__", sq.alias("__sq__"))
        .groupBy("__cid__")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.avg("__sq__").alias("mean_sq_dist"),
        )
    )
    # EMPTY lists must appear as zero rows: total concentration into one
    # list with the rest empty is exactly the imbalance pathology, and a
    # stats frame built only from present rows would report it as
    # perfectly balanced (review finding r11). The full centroid
    # universe comes from the one-row metadata, not a scan.
    universe = (
        index.select("__ivf_cids__")
        .limit(1)
        .select(F.explode("__ivf_cids__").alias("__cid__"))
    )
    return universe.join(present, "__cid__", "left").select(
        "__cid__",
        F.coalesce(F.col("n_vectors"), F.lit(0)).alias("n_vectors"),
        "mean_sq_dist",
    )


def ivf_drift_check(
    current: DataFrame,
    baseline: DataFrame | None = None,
    max_imbalance: float = 4.0,
    max_distortion_ratio: float = 2.0,
) -> dict:
    """Decide whether an append-grown IVF index warrants a rebuild —
    the missing half of ``ivf_index_append``'s "rebuild on whatever
    cadence the drift warrants" contract.

    ``current`` (and optionally ``baseline``, persisted at build time)
    are :func:`ivf_list_stats` frames. Eager by design (two bounded
    collects over n_centroids-sized frames; strictLazy sessions should
    collect the stats themselves). Returns::

        {"imbalance": max(n)/mean(n),
         "mean_sq_dist": corpus-wide mean distortion,
         "distortion_ratio": current/baseline mean distortion
                             (None without a baseline),
         "rebuild_recommended": bool, "reasons": [...]}

    and WARNS loudly when a bound is exceeded. Thresholds are the
    standard operational defaults, not magic: imbalance > ~4 means the
    hot list already costs ≥ 4 lists' worth of every probe; distortion
    growing past ~2× the build-time level means appended vectors sit
    systematically farther from every centroid than the trained
    distribution did. Recall degrades smoothly, so these bound COST
    and STALENESS, not correctness — ``ivf_topk_indexed`` stays exact
    within its probed lists either way.
    """
    for c in ("__cid__", "n_vectors", "mean_sq_dist"):
        if c not in current.columns:
            raise ValueError(
                f"not an ivf_list_stats frame: missing column {c!r}"
            )
    eager_build_guard(
        current.sparkSession,
        "ivf_drift_check stats collect (n_centroids-sized)",
        "Collect the ivf_list_stats frames yourself outside strict-lazy "
        "scope.",
    )
    rows = current.collect()
    if not rows:
        raise ValueError("ivf_drift_check: current stats are empty")
    # empty lists carry n_vectors=0 / mean_sq_dist NULL: they weigh
    # nothing in the distortion mean but DO drag the imbalance
    # denominator down — that is the point
    counts = np.array([r["n_vectors"] for r in rows], dtype="float64")
    dists = np.array(
        [r["mean_sq_dist"] or 0.0 for r in rows], dtype="float64"
    )
    if counts.sum() == 0:
        raise ValueError("ivf_drift_check: the index holds no vectors")
    imbalance = float(counts.max() / counts.mean())
    mean_sq = float((dists * counts).sum() / counts.sum())
    reasons = []
    if imbalance > max_imbalance:
        reasons.append(
            f"list imbalance {imbalance:.2f} > {max_imbalance} (hot list "
            f"holds {int(counts.max())} of {int(counts.sum())} vectors)"
        )
    ratio = None
    if baseline is not None:
        brows = baseline.collect()
        if not brows:
            raise ValueError("ivf_drift_check: baseline stats are empty")
        bcounts = np.array([r["n_vectors"] for r in brows], dtype="float64")
        if bcounts.sum() == 0:
            raise ValueError(
                "ivf_drift_check: the baseline stats hold no vectors — "
                "snapshot ivf_list_stats over the POPULATED build-time index"
            )
        bdists = np.array(
            [r["mean_sq_dist"] or 0.0 for r in brows], dtype="float64"
        )
        bmean = float((bdists * bcounts).sum() / bcounts.sum())
        if bmean > 0:
            ratio = mean_sq / bmean
            if ratio > max_distortion_ratio:
                reasons.append(
                    f"quantization distortion grew {ratio:.2f}× over the "
                    f"build-time baseline (> {max_distortion_ratio}×) — "
                    "the appended distribution has drifted from the "
                    "trained centroids"
                )
    out = {
        "imbalance": imbalance,
        "mean_sq_dist": mean_sq,
        "distortion_ratio": ratio,
        "rebuild_recommended": bool(reasons),
        "reasons": reasons,
    }
    if reasons:
        import warnings

        warnings.warn(
            "IVF index rebuild recommended: " + "; ".join(reasons),
            stacklevel=2,
        )
    return out


def _pq_kmeans_init(sub_mat: np.ndarray, n_codes: int, seed: int) -> np.ndarray:
    """Seeded initial centroids for one subspace: a uniform draw of
    ``n_codes`` distinct sample rows, id-order-stable (indices sorted),
    float64. Shared by the driver trainer and the distributed trainer
    so ``train="kmeans"`` and ``train="kmeans_dist"`` start identically
    at equal seeds."""
    rng = np.random.default_rng(seed)
    n = len(sub_mat)
    init = rng.choice(n, size=min(n_codes, n), replace=False)
    cent = sub_mat[np.sort(init)].astype("float64")
    if len(cent) < n_codes:  # degenerate tiny corpus: pad by repeating
        cent = np.concatenate([cent, cent[: n_codes - len(cent)]])
    return cent


def _pq_kmeans_codebooks(
    sub_mat: np.ndarray, n_codes: int, iters: int, seed: int
) -> np.ndarray:
    """Plain seeded Lloyd over one subspace's residual rows, centroids
    rounded back to the int64 quantization grid at the end so every
    downstream distance/ADC term stays exact integer arithmetic.
    Deterministic for fixed data/seed/iters (numpy ops, argmin
    first-occurrence ties), but not SQL-reproducible — use
    ``train="anchors"`` when an external oracle must replay the index.
    Empty clusters re-seed to the farthest point (classic fix)."""
    cent = _pq_kmeans_init(sub_mat, n_codes, seed)
    x = sub_mat.astype("float64")
    for _ in range(iters):
        d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        a = d.argmin(axis=1)
        for c in range(n_codes):
            mask = a == c
            if mask.any():
                cent[c] = x[mask].mean(axis=0)
            else:
                cent[c] = x[d.min(axis=1).argmax()]
    return np.trunc(cent + np.copysign(0.5, cent)).astype("int64")


def _pq_kmeans_dist_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    c_mat: np.ndarray,
    cb0: np.ndarray,
    m: int,
    sub: int,
    n_codes: int,
    iters: int,
    by_residual: bool,
    fraction: float,
) -> np.ndarray:
    """Distributed Lloyd refinement of PQ codebooks over the FULL
    corpus (or a deterministic hash-sample of it) — the k-means||-style
    trainer the r8 verdict asked for: the driver-sample trainer's
    codebook quality degrades when the corpus head isn't representative
    of the tail; this one sees everything.

    Scale shape per round (``iters`` rounds total, each ONE Spark job):
    executors stream the corpus through ``mapInPandas`` with the
    current float64 codebooks in the closure (m × n_codes × sub ≈ KBs),
    emit per-partition partial rows — (subspace, code, count,
    sum-vector) plus one (subspace, −1) farthest-point candidate — and
    a JVM ``groupBy(j, c)`` reduces them to ≤ m×(n_codes+1) rows before
    the driver sees anything. The shuffle carries partitions×m×
    (n_codes+1) tiny rows, never vectors-per-row; the corpus itself
    never moves. Empty clusters re-seed to the globally farthest point
    (max over a (distance, vector…) struct — deterministic tie-break).
    Centroids stay float64 across rounds and round to the int64
    quantization grid once at the end, exactly like the driver trainer.
    """
    if not 0.0 < fraction <= 1.0:
        raise ValueError(
            f"kmeans_dist_fraction must be in (0, 1], got {fraction} — a "
            "non-positive fraction would silently train on nothing and "
            "return the seeded head-sample codebooks untouched"
        )
    src = corpus.select(id_col, vec_col)
    if fraction < 1.0:
        cut = int(fraction * 1_000_000)
        src = src.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000)) < F.lit(cut)
        )
    src = src.select(vec_col)
    s_cols = [f"s{i}" for i in range(sub)]
    # everything through the shuffle is EXACT integers (residuals are
    # int64-quantized; squared distances and partial sums stay int64),
    # so the cross-partition merge is associative and the trainer is
    # deterministic on a real cluster — a float64 partial-sum merge
    # would vary in the last ulp with shuffle-fetch order and could
    # flip an argmin in the next round (review finding r9)
    schema = "j int, c int, cnt bigint, fd bigint, " + ", ".join(
        f"{s} bigint" for s in s_cols
    )
    cb = cb0.astype("float64")
    for _ in range(iters):
        cb_b = cb.copy()  # closure snapshot for this round

        def partials(batches, cb_b=cb_b):
            _patch_worker_zipimport()
            sums = np.zeros((m, n_codes, sub), dtype="int64")
            cnts = np.zeros((m, n_codes), dtype="int64")
            far_d = np.full(m, -1, dtype="int64")
            far_v = np.zeros((m, sub), dtype="int64")
            # assignment uses the int-rounded snapshot so per-row argmin
            # is itself exact-integer (same on every executor)
            cb_i = np.trunc(cb_b + np.copysign(0.5, cb_b)).astype("int64")
            seen = False
            for pdf in batches:
                if pdf.empty:
                    continue
                seen = True
                b = _np_quant(np.stack(pdf[vec_col].apply(np.asarray).to_numpy()))
                if by_residual:
                    b = b - c_mat[np.argmax(b @ c_mat.T, axis=1)]
                rs = b.reshape(len(b), m, sub)
                for j in range(m):
                    d = ((rs[:, j, None, :] - cb_i[j][None, :, :]) ** 2).sum(-1)
                    a = d.argmin(axis=1)
                    np.add.at(sums[j], a, rs[:, j])
                    np.add.at(cnts[j], a, 1)
                    dm = d.min(axis=1)
                    ix = int(dm.argmax())
                    if dm[ix] > far_d[j]:
                        far_d[j] = int(dm[ix])
                        far_v[j] = rs[ix, j]
            if not seen:
                return
            rows = []
            for j in range(m):
                for c in range(n_codes):
                    rows.append((j, c, int(cnts[j, c]), 0, *sums[j, c]))
                rows.append((j, -1, 0, int(far_d[j]), *far_v[j]))
            yield pd.DataFrame(rows, columns=["j", "c", "cnt", "fd", *s_cols])

        agg = (
            src.mapInPandas(partials, schema)
            .groupBy("j", "c")
            .agg(
                F.sum("cnt").alias("cnt"),
                # farthest candidate: struct max = deterministic
                # (distance first, then vector components)
                F.max(F.struct("fd", *s_cols)).alias("far"),
                *[F.sum(s).alias(s) for s in s_cols],
            )
            .collect()
        )
        far = {}
        new_cb = cb.copy()
        for r in agg:
            if r["c"] == -1:
                far[r["j"]] = np.array(
                    [r["far"][s] for s in s_cols], dtype="float64"
                )
        for r in agg:
            j, c = r["j"], r["c"]
            if c == -1:
                continue
            if r["cnt"] > 0:
                new_cb[j, c] = (
                    np.array([r[s] for s in s_cols], dtype="float64") / r["cnt"]
                )
            elif j in far:
                new_cb[j, c] = far[j]
            # no data at all for subspace j (empty corpus sample):
            # keep the seeded centroid
        cb = new_cb
    return np.trunc(cb + np.copysign(0.5, cb)).astype("int64")


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    rerank: int = 32,
    dim: int | None = None,
    train: str = "anchors",
    by_residual: bool = True,
    seed: int = 0,
    kmeans_iters: int = 8,
    sample_n: int = 4096,
    max_queries: int = DEFAULT_MAX_QUERIES,
    kmeans_dist_fraction: float = 1.0,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI 2011; the faiss ``IVFPQ``
    layout): corpus vectors live in inverted lists keyed by nearest
    coarse centroid and are stored as ``m`` sub-space code bytes — at
    dim=64 float32 that is a 32× memory compression, which is what
    makes a 100 TB embedding corpus searchable from executor memory at
    all. Queries probe ``nprobe`` lists, score candidates with
    Asymmetric Distance Computation (one ``m × n_codes`` lookup table
    of exact int64 sub-space dot products per query — candidates are
    never decoded), shortlist the ADC top-``rerank``, then exact-rerank
    the shortlist with true vectors for the final top-k.

    ``train="anchors"`` builds codebooks from the first ``n_codes``
    corpus vectors' residuals — fully deterministic AND reproducible by
    the DuckDB oracle in pure SQL (the same convention ``ivf_topk``
    uses for its centroids); ``train="kmeans"`` runs seeded Lloyd over
    a bounded residual sample on the driver (the production form;
    deterministic for fixed seed, pytest-covered by recall tests);
    ``train="kmeans_dist"`` (r9) seeds identically to ``"kmeans"`` but
    refines over the FULL corpus with distributed partial-sum rounds
    (one Spark job per iteration, executors ship ≤ m×(n_codes+1) tiny
    partial rows each — see ``_pq_kmeans_dist_codebooks``) — use it
    when the corpus head isn't representative of the tail;
    ``kmeans_dist_fraction`` hash-samples the training scan
    deterministically for cheaper rounds at 100 TB.
    ``by_residual=True`` encodes ``vec − coarse_centroid`` (the classic
    IVFPQ layout — residuals have smaller norms, so a fixed codebook
    wastes less of its resolution); ADC then scores
    ``dot(q, centroid) + Σ_j table[j][code_j]``. All arithmetic is on
    the shared 1e4 int64 quantization grid → bit-identical across
    engines; every tie (coarse assign, code argmin, both top-k
    windows) breaks to the smaller id/index.

    Scale shape: encoding is ONE Arrow-batched pass over the corpus
    scan (two BLAS ops per batch; at 100 TB it runs once at ingest and
    persists (list_id, codes[, vec])); the probe table with its ADC
    tables is queries×nprobe rows, broadcast; ADC scoring is pure JVM
    ``element_at`` codegen over the broadcast join — no Python, no
    decode; the only shuffles are the two bounded per-query top-k
    windows (candidates, then the ``rerank`` shortlist).
    """
    if train not in ("anchors", "kmeans", "kmeans_dist"):
        raise ValueError(
            f"train must be 'anchors', 'kmeans' or 'kmeans_dist', got {train!r}"
        )
    _require_integral_ids("ivf_pq_topk", id_col, queries, corpus)
    if dim is not None and dim % m:
        # pure-Python rejections fire BEFORE any cluster work (review
        # finding r9: the collect probe ran first, paying an executor
        # scan for an argument error)
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    # bounded query collect next: it is also the strictLazy gate for
    # this eager index builder (ADVICE r8 — previously the head-row
    # collect and queries.toPandas() ran unguarded when dim= was given)
    qpdf = _collect_queries(queries, id_col, vec_col, "ivf_pq_topk", max_queries)
    if dim is None:
        dim = _infer_dim(corpus, vec_col, "ivf_pq_topk")
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")

    c_mat, cent_ids, cb = _pq_train(
        corpus, id_col, vec_col, n_centroids, m, n_codes, train,
        by_residual, seed, kmeans_iters, sample_n, kmeans_dist_fraction,
        "ivf_pq_topk", expect_dim=dim,
    )
    vec_type = dict(corpus.dtypes)[vec_col]
    enc = _pq_encode(
        corpus, id_col, vec_col, c_mat, cent_ids, cb, by_residual, vec_type
    )
    # (qpdf collected and bounded at the top of the function)
    if qpdf.empty:
        return queries.sparkSession.createDataFrame(
            [], "q_id bigint, c_id bigint, score bigint, rank bigint"
        )
    return _pq_probe_and_score(
        queries.sparkSession, qpdf, id_col, vec_col, enc, c_mat, cent_ids,
        cb, dim, by_residual, k, nprobe, rerank, vec_type,
    )


def _pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    m: int,
    n_codes: int,
    train: str,
    by_residual: bool,
    seed: int,
    kmeans_iters: int,
    sample_n: int,
    kmeans_dist_fraction: float,
    op: str,
    expect_dim: int | None = None,
):
    """Coarse centroids + PQ codebooks, shared by the inline op and the
    persistable index builder so their quantization cannot drift.
    Returns ``(c_mat (n_centroids, dim) int64, cent_ids, cb (m,
    n_codes, sub) int64)``."""
    # ONE TakeOrdered over the corpus serves centroids AND codebook
    # training rows (review finding r8: the anchors path previously
    # fetched the identical head rows with a second full-corpus job)
    head_n = max(n_centroids, n_codes if train == "anchors" else sample_n)
    head_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(head_n).collect()
    )
    if not head_rows:
        raise ValueError(f"{op}: corpus is empty")
    head_mat = _np_quant(np.array([list(r[vec_col]) for r in head_rows]))
    if expect_dim is not None and head_mat.shape[1] != expect_dim:
        raise ValueError(
            f"{op}: dim={expect_dim} was passed but the {vec_col!r} "
            f"vectors are {head_mat.shape[1]}-wide — a mismatched dim "
            "would persist a codebook the query side cannot reshape"
        )
    sub = head_mat.shape[1] // m
    c_mat = head_mat[:n_centroids]
    cent_ids = np.array(
        [r[id_col] for r in head_rows[:n_centroids]], dtype="int64"
    )

    # --- codebooks: (m, n_codes, sub) int64 -------------------------------
    if train == "anchors":
        a_mat = head_mat[:n_codes]
        if len(a_mat) < n_codes:  # tiny corpus: repeat anchors
            reps = -(-n_codes // len(a_mat))
            a_mat = np.tile(a_mat, (reps, 1))[:n_codes]
        if by_residual:
            a_mat = a_mat - c_mat[np.argmax(a_mat @ c_mat.T, axis=1)]
        cb = a_mat.reshape(n_codes, m, sub).transpose(1, 0, 2).copy()
    else:
        s_mat = head_mat[:sample_n]  # the head may exceed sample_n when
        # n_centroids is larger — the training-sample contract wins
        if by_residual:
            s_mat = s_mat - c_mat[np.argmax(s_mat @ c_mat.T, axis=1)]
        rs = s_mat.reshape(len(s_mat), m, sub)
        if train == "kmeans":
            cb = np.stack([
                _pq_kmeans_codebooks(rs[:, j, :], n_codes, kmeans_iters, seed + j)
                for j in range(m)
            ])
        else:
            # kmeans_dist: SAME seeded init as the driver trainer (so
            # equal seeds start equal), then Lloyd rounds over the FULL
            # corpus — distributed partial sums, one Spark job per
            # round. The codebook no longer depends on the head sample
            # being representative (r8 verdict task 6).
            cb0 = np.stack([
                _pq_kmeans_init(rs[:, j, :], n_codes, seed + j)
                for j in range(m)
            ])
            cb = _pq_kmeans_dist_codebooks(
                corpus, id_col, vec_col, c_mat, cb0, m, sub, n_codes,
                kmeans_iters, by_residual, kmeans_dist_fraction,
            )
    return c_mat, cent_ids, cb


def _pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    c_mat: np.ndarray,
    cent_ids: np.ndarray,
    cb: np.ndarray,
    by_residual: bool,
    vec_type: str,
    store_vectors: bool = True,
) -> DataFrame:
    """One Arrow-batched encode pass over the corpus scan: coarse
    assignment matmul + per-subspace code argmin — no shuffle. With
    ``store_vectors=False`` the true vectors are dropped (the 32×
    compression form — ADC-only ranking, no exact rerank)."""
    m, n_codes, sub = cb.shape

    def encode_batches(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            b = _np_quant(np.stack(pdf[vec_col].apply(np.asarray).to_numpy()))
            idx = np.argmax(b @ c_mat.T, axis=1)
            resid = (b - c_mat[idx]) if by_residual else b
            rs = resid.reshape(len(b), m, sub)
            # d[b, j, c] = |rs[b,j] − cb[j,c]|² — int64 exact; argmin
            # first-occurrence = smallest code on ties
            d = ((rs[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(-1)
            codes = d.argmin(axis=2).astype("int32")
            cols = {"c_id": pdf[id_col].to_numpy()}
            if store_vectors:
                cols["__cvec__"] = pdf[vec_col]
            cols["__cid__"] = cent_ids[idx]
            cols["__codes__"] = list(codes)
            yield pd.DataFrame(cols)

    from pandarallel_spark.operators.apply import _widen

    schema = (
        "c_id bigint, "
        + (f"__cvec__ {vec_type}, " if store_vectors else "")
        + "__cid__ bigint, __codes__ array<int>"
    )
    return _widen(corpus.select(id_col, vec_col)).mapInPandas(
        encode_batches, schema
    )


def _pq_probe_and_score(
    spark,
    qpdf: pd.DataFrame,
    id_col: str,
    vec_col: str,
    enc: DataFrame,
    c_mat: np.ndarray,
    cent_ids: np.ndarray,
    cb: np.ndarray,
    dim: int,
    by_residual: bool,
    k: int,
    nprobe: int,
    rerank: int,
    vec_type: str,
) -> DataFrame:
    """The PQ query tail shared by the inline op and the persisted
    index: nprobe nearest lists per query (scored on the driver from
    the bounded collect), per-query ADC lookup tables broadcast, ADC
    scoring as pure ``element_at`` codegen, exact rerank of the ADC
    shortlist when the encoded rows carry true vectors (ADC-only
    ranking otherwise — the ``store_vectors=False`` compression form).
    The probed-list ids are pushed as a LITERAL ``isin`` filter on the
    encoded side. Against a persisted ``partitionBy("__cid__")`` layout
    that is static partition pruning — only the probed lists' files are
    read, the same move as the IVF-Flat path. On the INLINE path the
    filter sits above the ``mapInPandas`` encode and cannot push
    through it: the whole corpus is still scanned and encoded, and the
    filter only shrinks the join input afterwards — persisting the
    index is what buys the scan cut."""
    m, n_codes, sub = cb.shape
    store_vectors = "__cvec__" in enc.columns
    q_mat = _np_quant(np.stack(qpdf[vec_col].apply(np.asarray).to_numpy()))
    qs = q_mat @ c_mat.T  # (nq, n_centroids) int64
    order = np.argsort(-qs, axis=1, kind="stable")[:, :nprobe]
    probed_cids = sorted({int(c) for c in cent_ids[order.ravel()]})
    enc = enc.filter(F.col("__cid__").isin(probed_cids))
    # table[q][j*n_codes + c] = dot(q_sub_j, cb[j][c]) — int64 exact
    qtab = np.einsum(
        "qjs,jcs->qjc", q_mat.reshape(len(q_mat), m, sub), cb
    ).reshape(len(q_mat), m * n_codes)
    nq, npb = len(qpdf), order.shape[1]
    probes = spark.createDataFrame(
        pd.DataFrame(
            {
                "q_id": np.repeat(qpdf[id_col].to_numpy(), npb),
                "__qvec__": [qpdf[vec_col].iloc[i] for i in range(nq) for _ in range(npb)],
                "__cid__": cent_ids[order.ravel()],
                "__qcent__": np.take_along_axis(qs, order, axis=1).ravel()
                if by_residual
                else np.zeros(nq * npb, dtype="int64"),
                "__qtab__": [qtab[i].tolist() for i in range(nq) for _ in range(npb)],
            }
        ),
        schema=(
            f"q_id bigint, __qvec__ {vec_type}, __cid__ bigint, "
            "__qcent__ bigint, __qtab__ array<bigint>"
        ),
    )

    # --- ADC: pure element_at codegen over the broadcast join -------------
    adc = F.col("__qcent__") + sum(
        (
            F.element_at(
                F.col("__qtab__"),
                (
                    F.lit(j * n_codes + 1)
                    + F.element_at(F.col("__codes__"), j + 1)
                ).cast("int"),
            )
            for j in range(m)
        ),
        F.lit(0).cast("bigint"),
    )
    joined = F.broadcast(probes).join(enc, "__cid__")
    if not store_vectors:
        # ADC-only: the 32×-compression form has no true vectors to
        # rerank — score IS the ADC approximation, ties to smaller id
        w_only = Window.partitionBy("q_id").orderBy(
            F.col("score").desc(), F.col("c_id")
        )
        return (
            joined.select("q_id", "c_id", adc.alias("score"))
            .withColumn("rank", F.row_number().over(w_only).cast("bigint"))
            .filter(F.col("rank") <= k)
        )
    cand = joined.select(
        "q_id", "c_id", "__qvec__", "__cvec__", adc.alias("__adc__")
    )
    w_adc = Window.partitionBy("q_id").orderBy(F.col("__adc__").desc(), F.col("c_id"))
    shortlist = (
        cand.withColumn("__arnk__", F.row_number().over(w_adc))
        .filter(F.col("__arnk__") <= rerank)
    )
    score = F.expr(
        " + ".join(
            f"{_qel_sql('__qvec__', i)}*{_qel_sql('__cvec__', i)}" for i in range(dim)
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return (
        shortlist.select("q_id", "c_id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


PLANE_QUANT = 1_000_000


def plane_ints(planes: int, dim: int, seed: int = 42) -> list[list[int]]:
    """Seeded random-hyperplane matrix, quantized to int64 at 1e-6.

    Shared by the Spark operator and the generated oracle SQL so both
    engines compute identical integer projections (sign decisions can
    never diverge on float summation order)."""
    rng = np.random.default_rng(seed)
    return [
        [int(round(x * PLANE_QUANT)) for x in row]
        for row in rng.standard_normal((planes, dim))
    ]


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """Approximate top-k: random-hyperplane signature buckets — the ANN
    scale path (the exact operators above are the correctness baseline).

    Signature bit p = sign(Σ_i round(v_i·1e4) · round(r_pi·1e6)) — exact
    int64 arithmetic (|term| < 5e10, ×dim ≪ 2^63), deterministic across
    engines and cluster sizes. Corpus and queries bucket by the packed
    signature; the scored join runs per bucket instead of all-pairs:
    with p planes, expected bucket size = corpus/2^p, so candidate work
    drops 2^p-fold. Recall is approximate (no multi-probe here);
    tunable via ``planes``/``seed``.

    The corpus signature is one Arrow-batched int64 matmul per batch
    (batch × planes) — a pure scan projection, like IVF assignment. (A
    fully-unrolled planes×dim codegen expression was tried first: the
    ~10k-node tree cost ~2 s of Catalyst/Janino per action and ~5 s
    cold, for work the matmul does in microseconds.) The exact rerank
    dot stays a single unrolled JVM expression — at 64 terms it's
    codegen-friendly and keeps the scored join Python-free.
    """
    if dim is None:
        dim = _infer_dim(corpus, vec_col, "lsh_bucketed_topk")
    _require_integral_ids("lsh_bucketed_topk", id_col, queries, corpus)
    p_mat = np.asarray(plane_ints(planes, dim, seed), dtype="int64")  # (planes, dim)
    pw2 = (1 << np.arange(planes)).astype("int64")

    def _np_sig(mat: np.ndarray) -> np.ndarray:
        return ((_np_quant(mat) @ p_mat.T) >= 0) @ pw2

    vec_type = dict(corpus.dtypes)[vec_col]

    def sign_batches(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].apply(np.asarray).to_numpy())
            yield pd.DataFrame(
                {
                    "c_id": pdf[id_col].to_numpy(),
                    "__cvec__": pdf[vec_col],
                    "__sig__": _np_sig(mat),
                }
            )

    from pandarallel_spark.operators.apply import _widen

    c = _widen(corpus.select(id_col, vec_col)).mapInPandas(
        sign_batches, f"c_id bigint, __cvec__ {vec_type}, __sig__ bigint"
    )

    # bounded query-side collect (limit probe + strictLazy gate)
    qpdf = _collect_queries(
        queries, id_col, vec_col, "lsh_bucketed_topk", max_queries
    )
    if qpdf.empty:
        return queries.sparkSession.createDataFrame(
            [], "q_id bigint, c_id bigint, score bigint, rank integer"
        )
    q_sig = _np_sig(np.stack(qpdf[vec_col].apply(np.asarray).to_numpy()))
    q = queries.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "q_id": qpdf[id_col].to_numpy(),
                "__qvec__": qpdf[vec_col],
                "__sig__": q_sig,
            }
        ),
        schema=f"q_id bigint, __qvec__ {vec_type}, __sig__ bigint",
    )

    # unrolled quantized dot product on the raw vector columns (the HOF
    # dot_q is interpreted; a Column-op loop costs py4j round trips)
    score = F.expr(
        " + ".join(
            f"{_qel_sql('__qvec__', i)}*{_qel_sql('__cvec__', i)}" for i in range(dim)
        )
    )

    scored = (
        F.broadcast(q)
        .join(c, "__sig__")
        .select("q_id", "c_id", score.alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("c_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def l2_normalize(col: Column | str, dim: int | None = None) -> Column:
    """Unit-L2 normalization of an embedding column as PURE JVM
    expressions (zero Python in the scan): ``x / sqrt(Σx²)``, NULL-safe,
    zero vectors pass through unchanged (norm 0 → original vector,
    matching sklearn's Normalizer convention). Standard preprocessing
    before cosine similarity — after this, cosine is a plain dot."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.sqrt(
        F.aggregate(
            c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return F.when(norm > 0.0, F.transform(c, lambda x: (x / norm).cast("float"))).otherwise(c)


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 42,
    output_col: str | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project each
    embedding through a fixed Gaussian matrix R/√out_dim — pairwise
    distances are preserved within (1±ε) w.h.p. for
    out_dim = O(log n / ε²) (Johnson & Lindenstrauss '84; dense
    Gaussian per Indyk-Motwani '98). The standard cheap pre-step before
    ANN indexing or clustering when embeddings are wide.

    Scale shape: R is built ONCE on the driver from the seed
    ((in_dim × out_dim) float64, e.g. 768×64 = 390 KB), ships to
    executors inside the UDF closure (no shuffle, no join), and each
    Arrow batch pays one BLAS matmul — the same per-batch-matmul
    pattern as ``topk_numpy``. The scan is the only data movement.
    Deterministic for a given (seed, in_dim, out_dim): reruns, appends,
    and cluster resizes project identically — required for any index
    built on top to stay valid incrementally.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be ≥ 1, got {out_dim}")
    in_dim = _infer_dim(df, vec_col, "random_projection")
    output_col = output_col or f"{vec_col}_rp{out_dim}"
    rng = np.random.default_rng(seed)
    R = (rng.standard_normal((in_dim, out_dim)) / np.sqrt(out_dim)).astype(
        "float64"
    )
    out_names = [f.name for f in df.schema.fields] + [output_col]
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", `{output_col}` array<float>"

    def project(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack(pdf[vec_col].apply(np.asarray).to_numpy()).astype(
                "float64"
            )
            if X.shape[1] != in_dim:
                raise ValueError(
                    f"embedding dim {X.shape[1]} != expected {in_dim}"
                )
            Y = (X @ R).astype("float32")
            out = pdf.copy()
            out[output_col] = list(Y)
            yield out[out_names]

    from pandarallel_spark.operators.apply import _widen

    return _widen(df).mapInPandas(project, ddl)
