"""The one-task size rule of the global windows (``_memo.fits_one_task``).

An input of at most ``_memo.ONE_TASK_BYTES`` by its optimized plan's
``sizeInBytes`` runs every global range-bucket window and the global
as-of join as one task: building its plan launches no Spark job and
warns nothing, with or without strictLazy, and the result matches
pandas. Above the limit (pinned here with ``ONE_TASK_BYTES = 0``) the
same call builds the bucketed plan. On inputs under the limit the
carry scans give one result, bit for bit, at every shuffle-partition
count with AQE on or off.
"""

import hashlib
import warnings

import numpy as np
import pandas as pd
import pytest

from pandarallel_spark.operators import _memo
from pandarallel_spark.operators import window as W
from pandarallel_spark.operators.join import asof_join
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
    assert _memo.fits_one_task(df)

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

    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 0)
    assert not _memo.fits_one_task(df)
    _, jobs, _ = _build_quietly(spark, build, df)
    assert jobs > 0


def test_fits_one_task_reads_the_plan_size(spark, tmp_path, monkeypatch):
    """The rule follows the optimized plan's size and the shuffle
    partition count, and a plan without statistics stays bucketed."""
    df = _parquet(spark, tmp_path / "in", _pdf(n=200))
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", size)
    assert _memo.fits_one_task(df)
    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", size - 1)
    assert not _memo.fits_one_task(df)
    no_stats = spark.createDataFrame(df.rdd, df.schema)
    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 1 << 20)
    assert not _memo.fits_one_task(no_stats)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        assert _memo.fits_one_task(no_stats)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("one_task", [True, False], ids=["one-task", "bucketed"])
def test_rolling_udf_output_col_replaces_in_place(spark, monkeypatch, one_task):
    """An ``output_col`` naming an existing column replaces it where it
    stands, like ``withColumn``, on both plans."""
    if not one_task:
        monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 0)
    pdf = _by(_pdf(n=600), "o")
    df = spark.createDataFrame(pdf[["idx", "o", "x"]])
    assert _memo.fits_one_task(df) == one_task
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


def test_small_input_carry_scans_do_not_depend_on_layout(spark, tmp_path):
    """Global expanding sum/var and the four ewm variants over an input
    under the limit give one sha256 digest each over shuffle partitions
    {1, 3, 8} × AQE on/off: one task scans the data in key order, so no
    session setting moves a bit."""
    df = _parquet(spark, tmp_path / "in", _pdf(seed=11, n=5000, level=1e6, noise=1e-3))
    confs = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in confs}
    digests = {op: set() for op in _CARRY_SCANS}
    try:
        for parts in ("1", "3", "8"):
            for aqe in ("true", "false"):
                spark.conf.set(confs[0], parts)
                spark.conf.set(confs[1], aqe)
                for op, build in _CARRY_SCANS.items():
                    got = build(df).select("idx", "r").toPandas().sort_values("idx")
                    digests[op].add(
                        hashlib.sha256(got["r"].to_numpy(dtype="float64").tobytes()).hexdigest()
                    )
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert {op: len(d) for op, d in digests.items()} == {op: 1 for op in _CARRY_SCANS}
