"""Semantic curation over embedding columns (SURVEY.md §2.3): cluster
the corpus, score every document by its distance to the cluster
prototype, and prune by that score — the SSL-Prototypes recipe
(Sorscher et al. 2022, "Beyond neural scaling laws", arXiv:2206.14486)
that complements SemDeDup (``near_dedup_corpus(method="embedding")``):
dedup removes COPIES, prototype pruning removes REDUNDANCY — the
too-typical examples a model learns nothing more from.

Spark-first split:

- clustering is ``pyspark.ml``'s distributed KMeans (seeded, JVM
  Lloyd's — each iteration one tree-aggregated pass; only the k×dim
  center matrix reaches the driver);
- scoring streams the corpus once through an Arrow-batched matmul
  against the broadcast center matrix (the IVF-assignment shape: a
  pure scan projection, no shuffle, batch×k work per batch);
- pruning is one ranking window per cluster (a single shuffle on the
  cluster id), so "keep the hardest 60% of every cluster" never
  builds a global order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pandarallel_spark.operators._memo import eager_build_guard
from pandarallel_spark.operators.similarity import (
    _infer_dim,
    _require_integral_ids,
)
from pandarallel_spark.session import _patch_worker_zipimport


def _train_centers(
    df: DataFrame, vec_col: str, k: int, seed: int, max_iter: int
) -> np.ndarray:
    """The k×dim float64 center matrix from MLlib's distributed KMeans
    (cosine distance — curation operates on direction, not magnitude).
    Eager (the fit), strictLazy-gated by the caller."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # MLlib's cosine KMeans asserts on zero-length vectors — drop them
    # from the FIT (they carry no direction to cluster on); the scoring
    # pass still emits them as cluster −1 (review finding r11)
    nonzero = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x * x),
        F.lit(0.0),
        lambda acc, v: acc + v,
    ) > 0
    feats = df.filter(nonzero).select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__v__")
    )
    model = KMeans(
        k=k, seed=seed, maxIter=max_iter, featuresCol="__v__",
        distanceMeasure="cosine",
    ).fit(feats)
    return np.array([np.asarray(c, dtype="float64") for c in model.clusterCenters()])


def prototype_scores(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    seed: int = 7,
    max_iter: int = 20,
    dim: int | None = None,
    _centers: np.ndarray | None = None,
) -> DataFrame:
    """``(id, cluster, proto_cos)`` — each document's cluster and its
    cosine similarity to that cluster's prototype (the k-means center).
    High ``proto_cos`` = prototypical/redundant; low = hard/atypical
    (or junk — SSL-Prototypes' documented failure mode, which is why
    the pruning policy is a parameter, not a constant).

    One distributed KMeans fit + one Arrow-batched corpus pass scoring
    batch×k cosines against the broadcast center matrix and taking the
    assigned cluster's — no shuffle, no per-row Python. Zero vectors
    score ``proto_cos = 0.0`` in cluster −1 (they have no direction).
    """
    _require_integral_ids("prototype_scores", id_col, df)
    if k < 1:
        raise ValueError(f"k must be ≥ 1, got {k}")
    eager_build_guard(
        df.sparkSession,
        "prototype_scores k-means fit (distributed Lloyd's, eager)",
        "Semantic clustering is eager by design — run it from a session "
        "that permits build-time jobs.",
    )
    if dim is None:
        dim = _infer_dim(df, vec_col, "prototype_scores")
    centers = (
        _centers
        if _centers is not None
        else _train_centers(df, vec_col, k, seed, max_iter)
    )
    if centers.shape[1] != dim:
        raise ValueError(
            f"prototype_scores: centers are {centers.shape[1]}-wide but the "
            f"vectors are {dim}-wide"
        )
    cn = centers / np.maximum(
        np.linalg.norm(centers, axis=1, keepdims=True), 1e-30
    )

    def score_batches(batches):
        _patch_worker_zipimport()
        for pdf in batches:
            if pdf.empty:
                continue
            m = np.stack(pdf[vec_col].apply(np.asarray).to_numpy()).astype(
                "float64"
            )
            if m.shape[1] != dim:
                raise ValueError(
                    f"prototype_scores: a batch carries {m.shape[1]}-wide "
                    f"vectors where width {dim} was declared/inferred"
                )
            norms = np.linalg.norm(m, axis=1)
            ok = norms > 0
            cos = np.zeros((len(pdf), len(cn)))
            if ok.any():
                cos[ok] = (m[ok] / norms[ok, None]) @ cn.T
            cluster = np.where(ok, cos.argmax(axis=1), -1)
            best = np.where(ok, cos.max(axis=1), 0.0)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "cluster": cluster.astype("int64"),
                    "proto_cos": best,
                }
            )

    from pandarallel_spark.operators.apply import _widen

    return (
        _widen(df.select(id_col, vec_col))
        .mapInPandas(score_batches, "id bigint, cluster bigint, proto_cos double")
        .select(
            F.col("id").alias(id_col), "cluster", "proto_cos"
        )
    )


def prune_prototypes(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_frac: float = 0.7,
    policy: str = "hard",
    k: int = 16,
    seed: int = 7,
    max_iter: int = 20,
    dim: int | None = None,
) -> DataFrame:
    """Keep ``keep_frac`` of EVERY cluster by prototype distance — the
    SSL-Prototypes pruning rule. ``policy="hard"`` (the paper's
    abundant-data setting) keeps the examples FARTHEST from their
    prototype: the easy, redundant core is what a large corpus can
    spare. ``policy="easy"`` keeps the closest — the scarce-data /
    noisy-corpus setting, where far-from-prototype tails are mostly
    junk. Ties break by id; zero vectors (cluster −1) rank among
    themselves under the same rule, so the fraction applies uniformly.

    Per-cluster ``row_number`` over the score — one shuffle on the
    cluster id, never a global sort — then one id semi-join back to
    the corpus, preserving the original schema. The fraction rounds
    with ``ceil`` so no non-empty cluster is emptied entirely.
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    if policy not in ("hard", "easy"):
        raise ValueError(f"policy must be 'hard' or 'easy', got {policy!r}")
    scores = prototype_scores(
        df, id_col, vec_col, k=k, seed=seed, max_iter=max_iter, dim=dim
    )
    order = (
        [F.col("proto_cos").asc(), F.col(id_col).asc()]
        if policy == "hard"
        else [F.col("proto_cos").desc(), F.col(id_col).asc()]
    )
    w = Window.partitionBy("cluster").orderBy(*order)
    cw = Window.partitionBy("cluster")
    keep_ids = (
        scores.select(
            id_col,
            "cluster",
            F.row_number().over(w).alias("__rn__"),
            F.count(F.lit(1)).over(cw).alias("__cn__"),
        )
        .filter(
            F.col("__rn__")
            <= F.ceil(F.col("__cn__") * F.lit(float(keep_frac)))
        )
        .select(F.col(id_col).alias("__keep_id__"))
    )
    return df.join(
        keep_ids, df[id_col] == F.col("__keep_id__"), "left_semi"
    )


def save_prototype_centers(spark, centers: np.ndarray, path: str) -> None:
    """Persist a trained center matrix — the semantic-curation artifact
    (k×dim floats, kilobytes): score or prune LATER corpora / deltas
    against the SAME prototypes via ``prototype_scores(_centers=
    load_prototype_centers(...))`` instead of retraining per session —
    retraining on a delta would move every cluster and silently change
    which documents count as redundant. One row per center
    ``(cluster, center array<double>)``."""
    arr = np.asarray(centers, dtype="float64")
    if arr.ndim != 2 or not arr.size:
        raise ValueError(
            f"save_prototype_centers: expected a non-empty k×dim matrix, "
            f"got shape {arr.shape}"
        )
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(arr)],
        "cluster int, center array<double>",
    ).coalesce(1).write.mode("error").parquet(path)


def load_prototype_centers(spark, path: str) -> np.ndarray:
    """Reload a center matrix saved by :func:`save_prototype_centers`,
    cluster order restored (row i IS cluster i, matching
    ``prototype_scores``' output ids). Eager (a k-sized bounded
    collect), strictLazy-gated."""
    eager_build_guard(
        spark,
        "load_prototype_centers read (k-sized bounded collect)",
        "Load the centers outside strict-lazy scope.",
    )
    df = spark.read.parquet(path)
    for c in ("cluster", "center"):
        if c not in df.columns:
            raise ValueError(
                f"load_prototype_centers: {path!r} is not a saved center "
                f"matrix — missing column {c!r} (write one with "
                "save_prototype_centers)"
            )
    rows = df.orderBy("cluster").collect()
    if not rows:
        raise ValueError(
            f"load_prototype_centers: the matrix at {path!r} is empty"
        )
    if [r["cluster"] for r in rows] != list(range(len(rows))):
        raise ValueError(
            "load_prototype_centers: cluster ids are not the contiguous "
            "0..k-1 the scorer's output uses — the file was modified or "
            "partially written"
        )
    return np.array([list(r["center"]) for r in rows], dtype="float64")
