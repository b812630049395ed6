"""Engine-config matrix (FIXTURES.md): results must be identical across
Arrow on/off, shuffle-partition counts, and AQE on/off — the analog of
the reference's progress-bar × data-plane × worker-count matrix
(tests/test_pandarallel.py:15-22, 160-164).
"""

import math
import warnings

import pandas as pd
import pytest

from pandarallel_spark import parallelize
from pandarallel_spark.operators import _memo

# global windows on these small frames run the bucketed plan that inputs
# above _memo.ONE_TASK_BYTES take (conftest ``bucketed``)
pytestmark = pytest.mark.usefixtures("bucketed")


@pytest.fixture(scope="module")
def pdf():
    import numpy as np

    rng = np.random.default_rng(21)
    return pd.DataFrame({"a": rng.integers(1, 8, 500), "b": rng.random(500)})


def _run(spark, pdf):
    sdf = spark.createDataFrame(pdf)
    func = lambda row: math.sin(row.a**2) + math.sin(row.b**2)  # noqa: E731
    out = parallelize(sdf).parallel_apply(func, axis=1).toPandas()
    return out.sort_values(["a", "b"]).reset_index(drop=True)


@pytest.mark.parametrize(
    "conf",
    [
        {"spark.sql.execution.arrow.pyspark.enabled": "false"},
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.shuffle.partitions": "2"},
        {"spark.sql.adaptive.enabled": "false"},
    ],
    ids=["arrow-off", "shuffle-1", "shuffle-2", "aqe-off"],
)
def test_config_invariance(spark, pdf, conf):
    baseline = _run(spark, pdf)
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got = _run(spark, pdf)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    pd.testing.assert_frame_equal(got, baseline)


def test_rolling_center(spark):
    import numpy as np

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"idx": range(200), "b": rng.random(200)})
    sdf = spark.createDataFrame(pdf)
    for w in (4, 5):
        expected = pdf.b.rolling(w, center=True).sum().reset_index(drop=True)
        got = (
            parallelize(sdf, order_by="idx")
            .series("b")
            .rolling(w, center=True)
            .parallel_apply("sum", output_col="r")
            .toPandas()
            .sort_values("idx")
            .reset_index(drop=True)["r"]
        )
        pd.testing.assert_series_equal(got, expected, check_names=False)


# ---------------------------------------------------------------------------
# strictLazy: every eager build-time job site must raise (not run) under
# spark.pandarallel_spark.strictLazy=true, or — for global range-bucket
# windows — fall back to the lazy single-partition plan with a warning,
# and every site's documented escape hatch must build cleanly under the
# same flag.
# ---------------------------------------------------------------------------


@pytest.fixture()
def strict(spark):
    spark.conf.set("spark.pandarallel_spark.strictLazy", "true")
    try:
        yield spark
    finally:
        spark.conf.set("spark.pandarallel_spark.strictLazy", "false")


def _parquet(spark, tmp_path, name, pdf):
    path = str(tmp_path / name)
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_strict_lazy_halo_rolling(strict, tmp_path):
    """A cold global rolling UDF build under strictLazy takes the lazy
    single-partition plan, like the other global range-bucket windows:
    it warns SINGLE-PARTITION, building it launches no Spark job, and
    the result matches pandas."""
    import numpy as np

    pdf = pd.DataFrame({"idx": np.arange(400, dtype="int64"), "b": np.random.default_rng(0).random(400)})
    sdf = _parquet(strict, tmp_path, "roll", pdf)
    roll = parallelize(sdf, order_by="idx").series("b").rolling(4)
    tracker = strict.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
        out = roll.parallel_apply(lambda a: float(a.sum()), output_col="r")
    assert tracker.getJobIdsForGroup(None) == before
    got = out.toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    np.testing.assert_allclose(
        got, pdf.b.rolling(4).apply(lambda a: float(a.sum()), raw=True).to_numpy(),
        rtol=1e-12,
    )
    # escape hatch: builtin agg stays fully lazy (pure window expr)
    roll.parallel_apply("sum", output_col="r")
    # memo hit never triggers the guard: build once outside strict
    # scope, then rebuild the SAME plan under the flag
    strict.conf.set("spark.pandarallel_spark.strictLazy", "false")
    f = lambda a: float(a.sum())  # noqa: E731 — one object, stable memo key
    parallelize(sdf, order_by="idx").series("b").rolling(4).parallel_apply(
        f, output_col="r"
    )
    strict.conf.set("spark.pandarallel_spark.strictLazy", "true")
    parallelize(sdf, order_by="idx").series("b").rolling(4).parallel_apply(
        f, output_col="r"
    )


def test_strict_lazy_global_asof(strict, tmp_path, monkeypatch):
    """A cold key-less as-of build under strictLazy takes the one-bucket
    plan, like the global windows: it warns SINGLE-PARTITION, building
    it launches no Spark job, and the result equals the bucketed
    build's. A memo hit keeps the bucketed plan; an input within
    ``ONE_TASK_BYTES`` takes the one-task plan with no warning."""
    import numpy as np

    from pandarallel_spark.operators.join import asof_join

    rng = np.random.default_rng(1)
    left = _parquet(
        strict, tmp_path, "asof_l",
        pd.DataFrame({"t": np.sort(rng.random(200)), "x": rng.random(200)}),
    )
    right = _parquet(
        strict, tmp_path, "asof_r",
        pd.DataFrame({"t": np.sort(rng.random(100)), "px": rng.random(100)}),
    )

    def join():
        return asof_join(left, right, on=None, left_ts="t", value_cols=["px"])

    def rows(df):
        return df.toPandas().sort_values("t", ignore_index=True)

    sc = strict.sparkContext

    def build_jobs(build):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        before = sc.statusTracker().getJobIdsForGroup(None)
        out = build()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(None)) - len(before)

    with pytest.warns(UserWarning, match="as-of join.*SINGLE-PARTITION"):
        lazy, jobs = build_jobs(join)
    assert jobs == 0
    strict.conf.set("spark.pandarallel_spark.strictLazy", "false")
    bucketed, jobs = build_jobs(join)
    assert jobs > 0  # the boundary aggregate, now memoized
    strict.conf.set("spark.pandarallel_spark.strictLazy", "true")
    pd.testing.assert_frame_equal(rows(lazy), rows(bucketed))
    # a memo hit keeps the bucketed plan: no warning, no job
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        hit, jobs = build_jobs(join)
    assert jobs == 0
    pd.testing.assert_frame_equal(rows(hit), rows(bucketed))
    # an input within ONE_TASK_BYTES: the one-task plan, silent and
    # job-free
    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 1 << 20)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        one, jobs = build_jobs(join)
    assert jobs == 0
    pd.testing.assert_frame_equal(rows(one), rows(bucketed))
    # keyed as-of never had a build-time job: builds clean under strict
    left2 = left.withColumn("k", left.t * 0)
    right2 = right.withColumn("k", right.t * 0)
    asof_join(left2, right2, on="k", left_ts="t", value_cols=["px"])


def test_strict_lazy_ngram_measurement(strict, tmp_path):
    from pandarallel_spark.operators.dedup import ngram_jaccard_pairs

    docs = _parquet(
        strict, tmp_path, "docs",
        pd.DataFrame({
            "doc_id": range(6),
            "text": ["alpha beta gamma delta epsilon zeta eta"] * 3
                    + ["one two three four five six seven"] * 3,
        }),
    )
    with pytest.raises(RuntimeError, match="strictLazy.*prefix-filter"):
        ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5)
    # escape hatch: explicit decision skips the measurement
    ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, prefix_filter=False)
    ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.5, prefix_filter=True)


def test_strict_lazy_dim_inference(strict, tmp_path):
    from pandarallel_spark.operators.similarity import cosine_pairs_q

    vecs = _parquet(
        strict, tmp_path, "vecs",
        pd.DataFrame({
            "vec_id": range(4),
            "embedding": [[0.1, 0.2, 0.3]] * 4,
        }),
    )
    with pytest.raises(RuntimeError, match="strictLazy.*vector-width"):
        cosine_pairs_q(vecs, threshold=0.5)
    # escape hatch named in the error: pass dim= explicitly
    cosine_pairs_q(vecs, threshold=0.5, dim=3)


def test_strict_lazy_global_ewm(strict, tmp_path, monkeypatch):
    """A cold global ewm build under strictLazy takes the lazy
    single-partition stock-pandas plan, like the other global
    range-bucket windows: it warns SINGLE-PARTITION, building it
    launches no Spark job, and the result matches pandas."""
    import numpy as np

    from pandarallel_spark.operators.window import (
        ewm_mean,
        ewm_mean_times,
        ewm_moment,
        ewm_sum,
    )

    pdf = pd.DataFrame(
        {"idx": np.arange(300, dtype="int64"),
         "x": np.random.default_rng(3).random(300)}
    )
    sdf = _parquet(strict, tmp_path, "ewm", pdf)
    tp = pd.DataFrame(
        {"ts": pd.date_range("2024-01-01", periods=300, freq="min"),
         "x": np.random.default_rng(5).random(300)}
    )
    tdf = _parquet(strict, tmp_path, "ewmt", tp)
    tracker = strict.sparkContext.statusTracker()
    for build, expected, key in (
        (lambda: ewm_mean(sdf, "x", "idx", alpha=0.4, output_col="r"),
         pdf.x.ewm(alpha=0.4).mean(), "idx"),
        (lambda: ewm_moment(sdf, "x", "idx", "var", alpha=0.4, output_col="r"),
         pdf.x.ewm(alpha=0.4).var(), "idx"),
        (lambda: ewm_sum(sdf, "x", "idx", alpha=0.4, output_col="r"),
         pdf.x.ewm(alpha=0.4).sum(), "idx"),
        (lambda: ewm_mean_times(tdf, "x", "ts", "1h", output_col="r"),
         tp.x.ewm(halflife=pd.Timedelta("1h"), times=tp.ts).mean(), "ts"),
    ):
        before = tracker.getJobIdsForGroup(None)
        with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
            out = build()
        assert tracker.getJobIdsForGroup(None) == before
        got = out.toPandas().sort_values(key)["r"].to_numpy(dtype="float64")
        np.testing.assert_allclose(got, expected.to_numpy(), rtol=1e-12)
    # the adjust=False var form never builds (single-partition scan)
    ewm_moment(sdf, "x", "idx", "var", alpha=0.4, adjust=False)
    # the grouped path is fully lazy
    ewm_mean(sdf.withColumn("k", sdf.idx % 3), "x", "idx",
             alpha=0.4, partition_by=["k"])
    ewm_moment(sdf.withColumn("k", sdf.idx % 3), "x", "idx", "std",
               alpha=0.4, partition_by=["k"])
    ewm_sum(sdf.withColumn("k", sdf.idx % 3), "x", "idx",
            alpha=0.4, partition_by=["k"])
    ewm_mean_times(
        tdf.withColumn("k", tdf.x > 0.5), "x", "ts", "1h", partition_by=["k"]
    )
    # an input within ONE_TASK_BYTES: the one-task plan, silent
    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 1 << 20)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ewm_mean(sdf, "x", "idx", alpha=0.4)
        ewm_moment(sdf, "x", "idx", "var", alpha=0.4)
        ewm_sum(sdf, "x", "idx", alpha=0.4)
        ewm_mean_times(tdf, "x", "ts", "1h")


def test_single_partition_fallback_warns(strict, tmp_path):
    """r8: a global window silently degrading to a single-partition
    total-order scan (strictLazy cold build) must WARN, naming the
    fallback — and the bucketed path must stay silent."""
    import warnings as _w

    import numpy as np

    rng = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {"idx": np.arange(500, dtype="int64"), "x": rng.random(500)}
    )
    sdf = _parquet(strict, tmp_path, "spwarn", pdf)

    def weighted(frame):
        return (
            parallelize(frame, order_by="idx").series("x")
            .rolling(4, win_type="gaussian")
            .parallel_apply("sum", win_args={"std": 1.0}, output_col="r")
        )

    # strictLazy cold build → single-partition fallback, warned
    with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
        weighted(sdf)

    # global time-offset rolling UDF: same fallback, same warning
    tp = pd.DataFrame(
        {"ts": pd.date_range("2024-01-01", periods=300, freq="min"),
         "x": np.random.default_rng(5).random(300)}
    )
    tdf = _parquet(strict, tmp_path, "spwarn_t", tp)
    with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
        (
            parallelize(tdf, order_by="ts").series("x")
            .rolling("1h")
            .parallel_apply(lambda a: float(a.sum()), output_col="r")
        )
    # ... and so do the global builtin time rolling and global expanding
    with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
        parallelize(tdf, order_by="ts").series("x").rolling("1h").parallel_apply(
            "sum", output_col="r"
        )
    with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
        parallelize(sdf, order_by="idx").series("x").expanding().parallel_apply(
            "sum", output_col="r"
        )

    # bucketed path (strictLazy off) must NOT warn
    strict.conf.set("spark.pandarallel_spark.strictLazy", "false")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        out = weighted(sdf)
        out.count()
    assert not any("SINGLE-PARTITION" in str(w.message) for w in rec)
