"""The size rule of the global windows (``_memo.range_bucket_count``).

An input of at most ``_memo.ONE_TASK_BYTES`` by its optimized plan's
``sizeInBytes`` is one range bucket: every global range-bucket window
and the global as-of join run it as one task, building the plan
launches no Spark job and warns nothing, with or without strictLazy,
and the result matches pandas. A larger input gets one bucket per
``ONE_TASK_BYTES`` (pinned small here) and the same call builds the
bucketed plan. No session setting enters the count, so on either plan
the global windows give one result, bit for bit, at every
shuffle-partition count with AQE on or off, and one boundary build
serves every window over the same order column.
"""

import hashlib
import warnings

import numpy as np
import pandas as pd
import pytest

from pandarallel_spark.operators import _memo
from pandarallel_spark.operators import window as W
from pandarallel_spark.operators.join import asof_join
from tests.conftest import BUCKET_BYTES
from tests.test_window import _jobs_of

N = 2000
T0 = pd.Timestamp("2024-05-01")


def _pdf(seed: int = 3, n: int = N, level: float = 0.0, noise: float = 1.0) -> pd.DataFrame:
    """Unique float order keys ``o``, unique timestamps ``ts``, values
    ``x`` = ``level`` + ``noise`` × N(0, 1) and standard normal ``y``,
    rows shuffled."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "idx": np.arange(n, dtype="int64"),
        "o": np.arange(n) * 1.5,
        "ts": T0 + pd.to_timedelta(np.cumsum(rng.integers(1, 1800, n)), unit="s"),
        "x": level + rng.standard_normal(n) * noise,
        "y": rng.standard_normal(n),
    })
    return pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def _parquet(spark, path, pdf: pd.DataFrame):
    spark.createDataFrame(pdf).repartition(3).write.parquet(str(path))
    return spark.read.parquet(str(path))


def _asof(df):
    """Key-less as-of: even ``idx`` rows look up the latest odd one."""
    from pyspark.sql import functions as F

    left = df.filter(F.col("idx") % 2 == 0).select("idx", F.col("o").alias("t"))
    right = df.filter(F.col("idx") % 2 == 1).select(F.col("o").alias("t"), "x")
    return asof_join(left, right, on=None, left_ts="t", value_cols=["x"], suffix="")


def _asof_pandas(pdf):
    s = pdf.sort_values("o")
    left = s[s.idx % 2 == 0][["idx", "o"]].rename(columns={"o": "t"})
    right = s[s.idx % 2 == 1][["o", "x"]].rename(columns={"o": "t"})
    return pd.merge_asof(left, right, on="t").set_index("idx")["x"]


def _by(pdf, key):
    """``pdf`` sorted by ``key``, as the pandas op sees it."""
    return pdf.sort_values(key).reset_index(drop=True)


def _ts_series(pdf, col="x"):
    s = _by(pdf, "ts")
    return s, pd.Series(s[col].to_numpy(), index=pd.DatetimeIndex(s["ts"]))


_TRIANG4 = np.array([0.25, 0.75, 0.75, 0.25])

# op: (build(df), pandas reference(pdf) → Series indexed by idx)
OPS = {
    "halo_builtin": (
        lambda d: W.rolling_apply(d, "x", 50, "mean", "o", output_col="r"),
        lambda p: _by(p, "o").set_index("idx")["x"].rolling(50).mean(),
    ),
    "halo_udf": (
        lambda d: W.rolling_apply(
            d, "x", 5, lambda a: float(a.max() - a.min()), "o", raw=True,
            vectorize=False, output_col="r",
        ),
        lambda p: _by(p, "o").set_index("idx")["x"].rolling(5).apply(
            lambda a: float(a.max() - a.min()), raw=True
        ),
    ),
    "weighted": (
        lambda d: W.rolling_apply(
            d, "y", 4, "sum", "o", win_type="triang", output_col="r"
        ),
        lambda p: pd.Series(
            np.r_[[np.nan] * 3, np.lib.stride_tricks.sliding_window_view(
                _by(p, "o")["y"].to_numpy(), 4
            ) @ _TRIANG4],
            index=_by(p, "o")["idx"],
        ),
    ),
    "cov": (
        lambda d: W.rolling_apply(
            d, "x", 10, "cov", "o", win_args={"other": "y"}, output_col="r"
        ),
        lambda p: _by(p, "o").set_index("idx")["x"].rolling(10).cov(
            _by(p, "o").set_index("idx")["y"]
        ),
    ),
    "expanding_sum": (
        lambda d: W.expanding_apply(d, "x", "sum", "o", output_col="r"),
        lambda p: _by(p, "o").set_index("idx")["x"].expanding().sum(),
    ),
    "expanding_var": (
        lambda d: W.expanding_apply(d, "x", "var", "o", output_col="r"),
        lambda p: _by(p, "o").set_index("idx")["x"].expanding().var(),
    ),
    "expanding_max": (
        lambda d: W.expanding_apply(d, "x", "max", "o", output_col="r"),
        lambda p: _by(p, "o").set_index("idx")["x"].expanding().max(),
    ),
    "time_rolling_builtin": (
        lambda d: W.rolling_apply(d, "y", "1h", "sum", "ts", output_col="r"),
        lambda p: pd.Series(
            _ts_series(p, "y")[1].rolling("1h").sum().to_numpy(),
            index=_ts_series(p)[0]["idx"],
        ),
    ),
    "time_rolling_udf": (
        lambda d: W.rolling_apply(d, "y", "1h", np.max, "ts", output_col="r"),
        lambda p: pd.Series(
            _ts_series(p, "y")[1].rolling("1h").apply(np.max, raw=True).to_numpy(),
            index=_ts_series(p)[0]["idx"],
        ),
    ),
    "ewm_mean": (
        lambda d: W.ewm_mean(d, "x", "o", alpha=0.3, output_col="r"),
        lambda p: _by(p, "o").set_index("idx")["x"].ewm(alpha=0.3).mean(),
    ),
    "ewm_var": (
        lambda d: W.ewm_moment(d, "x", "o", "var", alpha=0.3, output_col="r"),
        lambda p: _by(p, "o").set_index("idx")["x"].ewm(alpha=0.3).var(),
    ),
    "ewm_sum": (
        lambda d: W.ewm_sum(d, "x", "o", alpha=0.3, output_col="r"),
        lambda p: _by(p, "o").set_index("idx")["x"].ewm(alpha=0.3).sum(),
    ),
    "ewm_mean_times": (
        lambda d: W.ewm_mean_times(d, "x", "ts", "1h", output_col="r"),
        lambda p: pd.Series(
            _ts_series(p)[1].ewm(
                halflife=pd.Timedelta("1h"), times=pd.DatetimeIndex(_by(p, "ts")["ts"])
            ).mean().to_numpy(),
            index=_ts_series(p)[0]["idx"],
        ),
    ),
    "asof": (
        lambda d: _asof(d).withColumnRenamed("x", "r"),
        _asof_pandas,
    ),
}


def _build_quietly(spark, build, df):
    """``build(df)`` → (DataFrame, Spark jobs the build launched,
    UserWarnings it raised)."""
    out = []
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        jobs = _jobs_of(spark, lambda: out.append(build(df)))
    return out[0], jobs, [w for w in caught if issubclass(w.category, UserWarning)]


@pytest.mark.parametrize("op", sorted(OPS))
def test_small_input_runs_one_task_with_no_build_job(spark, tmp_path, monkeypatch, op):
    build, ref = OPS[op]
    pdf = _pdf()
    df = _parquet(spark, tmp_path / "in", pdf)
    assert _memo.range_bucket_count(df) == 1

    out, jobs, warned = _build_quietly(spark, build, df)
    assert jobs == 0
    assert not warned, [str(w.message) for w in warned]
    got = out.select("idx", "r").toPandas().set_index("idx")["r"].sort_index()
    want = ref(pdf).sort_index().to_numpy(dtype="float64")
    assert len(got) == len(want)
    np.testing.assert_allclose(got.to_numpy(dtype="float64"), want, rtol=1e-9, atol=1e-12)

    spark.conf.set(_memo.STRICT_LAZY_CONF, "true")
    try:
        _, jobs, warned = _build_quietly(spark, build, df)
    finally:
        spark.conf.unset(_memo.STRICT_LAZY_CONF)
    assert jobs == 0
    assert not warned, [str(w.message) for w in warned]

    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", BUCKET_BYTES)
    assert _memo.range_bucket_count(df) > 1
    _, jobs, _ = _build_quietly(spark, build, df)
    assert jobs > 0


def test_range_bucket_count_reads_the_plan_size(spark, tmp_path, monkeypatch):
    """The count is ``ceil(sizeInBytes / ONE_TASK_BYTES)``, capped at
    1024, whatever the shuffle partitions; a plan without statistics
    gets the cap."""
    df = _parquet(spark, tmp_path / "in", _pdf(n=200))
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    no_stats = spark.createDataFrame(df.rdd, df.schema)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("1", "200"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            monkeypatch.setattr(_memo, "ONE_TASK_BYTES", size)
            assert _memo.range_bucket_count(df) == 1
            monkeypatch.setattr(_memo, "ONE_TASK_BYTES", size - 1)
            assert _memo.range_bucket_count(df) == 2
            monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 100)
            assert _memo.range_bucket_count(df) == -(-size // 100)
            monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 1)
            assert _memo.range_bucket_count(df) == min(1024, size)
            monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 1 << 20)
            assert _memo.range_bucket_count(no_stats) == 1024
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("one_task", [True, False], ids=["one-task", "bucketed"])
def test_rolling_udf_output_col_replaces_in_place(spark, monkeypatch, one_task):
    """An ``output_col`` naming an existing column replaces it where it
    stands, like ``withColumn``, on both plans."""
    if not one_task:
        monkeypatch.setattr(_memo, "ONE_TASK_BYTES", BUCKET_BYTES)
    pdf = _by(_pdf(n=600), "o")
    df = spark.createDataFrame(pdf[["idx", "o", "x"]])
    assert (_memo.range_bucket_count(df) == 1) == one_task
    out = W.rolling_apply(
        df, "x", 4, lambda a: float(a.sum()), "o", raw=True, vectorize=False,
        output_col="x",
    )
    assert out.columns == ["idx", "o", "x"]
    got = out.toPandas().sort_values("o")["x"].to_numpy(dtype="float64")
    want = pdf["x"].rolling(4).sum().to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-9)


_CARRY_SCANS = {
    "expanding_sum": lambda d: W.expanding_apply(d, "x", "sum", "o", output_col="r"),
    "expanding_var": lambda d: W.expanding_apply(d, "x", "var", "o", output_col="r"),
    "ewm_mean": lambda d: W.ewm_mean(d, "x", "o", alpha=0.3, output_col="r"),
    "ewm_var": lambda d: W.ewm_moment(d, "x", "o", "var", alpha=0.3, output_col="r"),
    "ewm_sum": lambda d: W.ewm_sum(d, "x", "o", alpha=0.3, output_col="r"),
    "ewm_mean_times": lambda d: W.ewm_mean_times(d, "x", "ts", "1h", output_col="r"),
}


def _digest_counts(spark, df, ops, parts) -> dict:
    """Distinct sha256 digests of each op's ``r`` column, in ``idx``
    order, over shuffle partitions ``parts`` × AQE on/off."""
    confs = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in confs}
    digests = {op: set() for op in ops}
    try:
        for n in parts:
            for aqe in ("true", "false"):
                spark.conf.set(confs[0], n)
                spark.conf.set(confs[1], aqe)
                for op, build in ops.items():
                    got = build(df).select("idx", "r").toPandas().sort_values("idx")
                    digests[op].add(
                        hashlib.sha256(got["r"].to_numpy(dtype="float64").tobytes()).hexdigest()
                    )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    return {op: len(d) for op, d in digests.items()}


def _layout_frame(spark, tmp_path):
    """Values at ~1e6 scale with 1e-3 noise: a float sum split at
    another bucket boundary moves its last bits."""
    return _parquet(spark, tmp_path / "in", _pdf(seed=11, n=5000, level=1e6, noise=1e-3))


def test_small_input_carry_scans_do_not_depend_on_layout(spark, tmp_path):
    """Global expanding sum/var and the four ewm variants over an input
    under the limit give one sha256 digest each over shuffle partitions
    {1, 3, 8} × AQE on/off: one task scans the data in key order, so no
    session setting moves a bit."""
    df = _layout_frame(spark, tmp_path)
    assert _digest_counts(spark, df, _CARRY_SCANS, ("1", "3", "8")) == {
        op: 1 for op in _CARRY_SCANS
    }


_BUCKETED_LAYOUT_OPS = {
    **_CARRY_SCANS,
    **{op: OPS[op][0] for op in ("expanding_max", "halo_builtin", "time_rolling_builtin", "asof")},
}


@pytest.mark.parametrize(
    "parts",
    [("1", "8"), pytest.param(("1", "3", "8", "32"), marks=pytest.mark.slow)],
    ids=["1-8", "1-3-8-32"],
)
def test_bucketed_windows_do_not_depend_on_layout(spark, tmp_path, monkeypatch, parts):
    """Above the limit, the carry scans, expanding max, a builtin halo
    rolling(50) mean, a 1 h time-rolling sum and the key-less as-of join
    each give one sha256 digest over shuffle partitions ``parts`` × AQE
    on/off ({1, 8} by default, {1, 3, 8, 32} in the slow sweep). The
    bucket count comes from the input's size, so every leg splits the
    scans at the same boundaries; the shuffle partitions only decide
    which task runs a bucket, and at one partition the bucketed plan
    runs in one task."""
    df = _layout_frame(spark, tmp_path)
    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 8 << 10)
    assert _memo.range_bucket_count(df) > 8
    counts = _digest_counts(spark, df, _BUCKETED_LAYOUT_OPS, parts)
    assert counts == {op: 1 for op in _BUCKETED_LAYOUT_OPS}


def test_one_boundary_build_serves_every_window_and_partition_count(
    spark, tmp_path, monkeypatch
):
    """Halo rolling and ewm over one order column share one memoized
    boundary build: after a rolling mean, a cold ewm_mean runs only its
    summary jobs, two fewer than the same ewm_mean on an identical but
    unbuilt frame (the boundary aggregate runs two jobs under AQE). A
    build at 8 shuffle partitions is a memo hit at 3: no job runs."""
    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", BUCKET_BYTES)
    pdf = _pdf(seed=5)
    df = _parquet(spark, tmp_path / "a", pdf)
    fresh = _parquet(spark, tmp_path / "b", pdf)
    assert _memo.range_bucket_count(df) == _memo.range_bucket_count(fresh) > 1
    rolling = lambda d: W.rolling_apply(d, "x", 50, "mean", "o", output_col="r")  # noqa: E731
    ewm = lambda d: W.ewm_mean(d, "x", "o", alpha=0.3, output_col="e")  # noqa: E731
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        assert _jobs_of(spark, lambda: rolling(df)) > 0
        after_rolling = _jobs_of(spark, lambda: ewm(df))
        assert after_rolling > 0
        assert _jobs_of(spark, lambda: ewm(fresh)) == after_rolling + 2
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        for build in (rolling, ewm):
            assert _jobs_of(spark, lambda: build(df)) == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
