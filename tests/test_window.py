"""Differential tests for rolling/expanding windows (reference
tests/test_pandarallel.py:263-269, 308-345; fixtures F4/F6)."""

import numpy as np
import pandas as pd
import pytest

from pandarallel_spark import parallelize
from tests.conftest import bucket_partitioned_on

# global windows on these small frames run the bucketed plan that inputs
# above _memo.ONE_TASK_BYTES take (conftest ``bucketed``)
pytestmark = pytest.mark.usefixtures("bucketed")


@pytest.fixture(scope="module")
def pdf():
    # F6: group key + value, with an explicit order column
    rng = np.random.default_rng(11)
    n = 2000
    return pd.DataFrame(
        {
            "idx": range(n),
            "a": rng.integers(1, 10, n),
            "b": rng.random(n),
        }
    )


@pytest.fixture(scope="module")
def sdf(spark, pdf):
    return spark.createDataFrame(pdf)


def _got(df, col):
    return df.toPandas().sort_values("idx").reset_index(drop=True)[col]


def test_rolling_global_builtin(spark, pdf, sdf):
    expected = pdf.sort_values("idx").b.rolling(4).sum().reset_index(drop=True)
    out = (
        parallelize(sdf, order_by="idx").series("b").rolling(4).parallel_apply("sum")
    )
    pd.testing.assert_series_equal(
        _got(out, "b_rolling_sum"), expected, check_names=False
    )


def test_rolling_global_udf(spark, pdf, sdf):
    # F4 polynomial: w0 + w1^2 + w2^3 + w3^4, raw=False
    func = lambda w: w.iloc[0] + w.iloc[1] ** 2 + w.iloc[2] ** 3 + w.iloc[3] ** 4  # noqa: E731
    expected = pdf.sort_values("idx").b.rolling(4).apply(func, raw=False).reset_index(drop=True)
    out = (
        parallelize(sdf, order_by="idx").series("b").rolling(4)
        .parallel_apply(func, raw=False, output_col="r")
    )
    pd.testing.assert_series_equal(_got(out, "r"), expected, check_names=False)


@pytest.mark.parametrize("closed", ["right", "left", "both", "neither"])
def test_rolling_closed_matches_pandas(spark, pdf, sdf, closed):
    """closed= replays pandas frame endpoint semantics on the builtin,
    halo-UDF, and grouped-UDF paths (reference replays full rolling
    _attributes, series_rolling.py:22-28)."""
    func = lambda a: float(a.sum())  # noqa: E731
    # builtin path
    exp = (
        pdf.sort_values("idx").b
        .rolling(4, min_periods=2, closed=closed).sum().reset_index(drop=True)
    )
    out = (
        parallelize(sdf, order_by="idx").series("b")
        .rolling(4, min_periods=2, closed=closed).parallel_apply("sum", output_col="r")
    )
    pd.testing.assert_series_equal(_got(out, "r"), exp, check_names=False)
    # global UDF (halo) path
    exp_u = (
        pdf.sort_values("idx").b
        .rolling(4, min_periods=2, closed=closed)
        .apply(func, raw=True).reset_index(drop=True)
    )
    out_u = (
        parallelize(sdf, order_by="idx").series("b")
        .rolling(4, min_periods=2, closed=closed)
        .parallel_apply(func, raw=True, output_col="r")
    )
    pd.testing.assert_series_equal(_got(out_u, "r"), exp_u, check_names=False)
    # grouped UDF path
    exp_g = (
        pdf.sort_values("idx").groupby("a").b
        .rolling(4, min_periods=2, closed=closed)
        .apply(func, raw=True)
        .reset_index(level=0, drop=True).sort_index().reset_index(drop=True)
    )
    out_g = (
        parallelize(sdf, order_by="idx").groupby("a").series("b")
        .rolling(4, min_periods=2, closed=closed)
        .parallel_apply(func, raw=True, output_col="r")
    )
    pd.testing.assert_series_equal(_got(out_g, "r"), exp_g, check_names=False)


def test_rolling_win_type_udf_rejected(spark, sdf):
    # builtin aggs under win_type route to weighted_rolling_agg (tested
    # below); UDFs stay rejected — pandas itself refuses rolling.apply
    # on a win_type window
    with pytest.raises(NotImplementedError, match="win_type"):
        (
            parallelize(sdf, order_by="idx").series("b")
            .rolling(4, win_type="triang").parallel_apply(lambda a: a.sum())
        )


def test_rolling_raw_false_sees_index(spark, pdf, sdf):
    """raw=False UDFs must see the true index slice (order-column
    values by default), like pandas rolling — reference runs true
    pandas rolling per chunk (series_rolling.py:39-47)."""
    func = lambda w: float(w.index.max()) + float(w.iloc[-1])  # noqa: E731
    base = pdf.sort_values("idx").set_index("idx")
    exp = base.b.rolling(3).apply(func, raw=False).reset_index(drop=True)
    # global (halo) path
    out = (
        parallelize(sdf, order_by="idx").series("b").rolling(3)
        .parallel_apply(func, raw=False, output_col="r")
    )
    pd.testing.assert_series_equal(_got(out, "r"), exp, check_names=False)
    # grouped path contract: a group-LOCAL RangeIndex (0..len(g)-1).
    # pandas uses positions within the group-concatenated frame — a
    # global offset whose replication would cost an extra distributed
    # pass for a value no portable UDF should read; VALUES must still
    # match pandas exactly (index-insensitive check below).
    vfunc = lambda w: float(w.iloc[0] - w.iloc[-1])  # noqa: E731
    exp_g = (
        base.groupby("a").b.rolling(3).apply(vfunc, raw=False)
        .reset_index(level=0, drop=True).sort_index().reset_index(drop=True)
    )
    out_g = (
        parallelize(sdf, order_by="idx").groupby("a").series("b").rolling(3)
        .parallel_apply(vfunc, raw=False, output_col="r")
    )
    pd.testing.assert_series_equal(_got(out_g, "r"), exp_g, check_names=False)
    # and the documented group-local index: last window of each group
    # ends at position len(group)-1
    ifunc = lambda w: float(w.index.max())  # noqa: E731
    out_i = (
        parallelize(sdf, order_by="idx").groupby("a").series("b").rolling(3)
        .parallel_apply(ifunc, raw=False, output_col="r")
    ).toPandas().sort_values("idx")
    last_per_group = out_i.groupby("a").r.max()
    sizes = pdf.groupby("a").size()
    assert (last_per_group == (sizes - 1).astype(float)).all()


def test_rolling_min_periods(spark, pdf, sdf):
    expected = pdf.sort_values("idx").b.rolling(4, min_periods=2).mean().reset_index(drop=True)
    out = (
        parallelize(sdf, order_by="idx").series("b").rolling(4, min_periods=2)
        .parallel_apply("mean", output_col="r")
    )
    pd.testing.assert_series_equal(_got(out, "r"), expected, check_names=False)


def test_grouped_rolling_udf(spark, pdf, sdf):
    func = lambda w: w[0] + w[1] ** 2 + w[2] ** 3 + w[3] ** 4  # noqa: E731
    expected = (
        pdf.sort_values("idx")
        .groupby("a").b.rolling(4).apply(func, raw=True)
        .reset_index(level=0)
        .sort_index()["b"]
        .reset_index(drop=True)
    )
    out = (
        parallelize(sdf, order_by="idx").groupby("a").series("b").rolling(4)
        .parallel_apply(func, raw=True, output_col="r")
    )
    pd.testing.assert_series_equal(_got(out, "r"), expected, check_names=False)


def test_grouped_expanding_udf(spark, pdf, sdf):
    func = lambda w: (w * np.arange(1, len(w) + 1)).sum()  # noqa: E731  weighted sum
    expected = (
        pdf.sort_values("idx")
        .groupby("a").b.expanding().apply(func, raw=True)
        .reset_index(level=0)
        .sort_index()["b"]
        .reset_index(drop=True)
    )
    out = (
        parallelize(sdf, order_by="idx").groupby("a").series("b").expanding()
        .parallel_apply(func, raw=True, output_col="r")
    )
    pd.testing.assert_series_equal(_got(out, "r"), expected, check_names=False)


def test_group_smaller_than_window_all_null(spark):
    # FIXTURES.md F6: groups smaller than the window must yield all-NULL
    pdf = pd.DataFrame({"idx": [0, 1, 2], "a": [1, 1, 2], "b": [1.0, 2.0, 3.0]})
    sdf = spark.createDataFrame(pdf)
    out = (
        parallelize(sdf, order_by="idx").groupby("a").series("b").rolling(4)
        .parallel_apply("sum", output_col="r")
    ).toPandas()
    assert out["r"].isna().all()


def test_halo_global_rolling_matches_pandas(spark):
    """Global rolling UDF runs the overlap-bucket plan; many buckets,
    duplicate order values, center both ways — bit-equal to pandas."""
    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    rng = np.random.default_rng(7)
    n = 5000
    # duplicate order values on purpose: the range partitioner must keep
    # ties in one partition. x is a FUNCTION of idx so any tie order
    # yields identical windows — the comparison stays deterministic
    # while tie placement is genuinely exercised.
    idx = np.sort(rng.integers(0, n // 2, n)).astype("int64")
    pdf = pd.DataFrame({"idx": idx, "x": np.sin(idx.astype("float64"))})
    sdf = spark.createDataFrame(pdf).repartition(8)
    func = lambda a: float(np.sum(a**2) - np.min(a))  # noqa: E731

    for center in (False, True):
        exp_frame = pdf.sort_values("idx", kind="mergesort").reset_index(drop=True)
        exp_frame["r"] = (
            exp_frame["x"].rolling(7, min_periods=3, center=center).apply(func, raw=True)
        )
        got_frame = (
            parallelize(sdf, order_by="idx")
            .series("x")
            .rolling(7, min_periods=3, center=center)
            .parallel_apply(func, raw=True, output_col="r")
            .toPandas()
        )
        # rows inside a tie group receive the same MULTISET of window
        # results in either engine, but tie order is unspecified — align
        # by (idx, r) before comparing
        exp = exp_frame.sort_values(["idx", "r"]).reset_index(drop=True)["r"]
        got = got_frame.sort_values(["idx", "r"]).reset_index(drop=True)["r"]
        pd.testing.assert_series_equal(got, exp, check_names=False)


def test_halo_rolling_is_multi_task(spark):
    """The global-rolling plan must NOT collapse to a single ordered
    window (one task): it should bucket on literal range boundaries
    (hash exchange on the bucket id, parallel) and run the UDF per
    bucket via mapInPandas; the only Window node is the JVM-side
    per-bucket row_number for edge extraction — never an ungrouped
    (single-partition) window."""
    import io
    from contextlib import redirect_stdout

    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    pdf = pd.DataFrame({"idx": np.arange(10000), "x": np.random.default_rng(0).random(10000)})
    sdf = spark.createDataFrame(pdf).repartition(8)
    plan_df = (
        parallelize(sdf, order_by="idx").series("x").rolling(4)
        .parallel_apply(lambda a: float(a.sum()), raw=True, output_col="r")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert "FlatMapGroupsInPandas" in plan
    assert bucket_partitioned_on(plan, "__bkt__")
    # every Window partitions by the bucket id — an empty partition spec
    # would serialize the whole order through one task
    for seg in plan.split("Arguments: ")[1:]:
        head = seg.splitlines()[0]
        if "windowspecdefinition" in head.lower():
            assert "__bkt__" in head


def test_global_builtin_rolling_is_bucketed_jvm(spark):
    """Global BUILTIN rolling must also ride the bucket machinery — a
    bucket-partitioned JVM window, never the single-partition
    total-order WindowExec, and with no Python (MapInPandas) stage."""
    import io
    from contextlib import redirect_stdout

    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    pdf = pd.DataFrame(
        {"idx": np.arange(10000), "x": np.random.default_rng(0).random(10000)}
    )
    sdf = spark.createDataFrame(pdf).repartition(8)
    plan_df = (
        parallelize(sdf, order_by="idx").series("x").rolling(4)
        .parallel_apply("sum", output_col="r")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        plan_df.explain("formatted")
    plan = buf.getvalue()
    assert bucket_partitioned_on(plan, "__bkt__")
    assert "MapInPandas" not in plan  # pure JVM
    for seg in plan.split("Arguments: ")[1:]:
        head = seg.splitlines()[0]
        if "windowspecdefinition" in head.lower():
            assert "__bkt__" in head
    # and the result still matches pandas end to end
    exp = pdf.x.rolling(4).sum().to_numpy()
    got = plan_df.toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    assert np.allclose(got, exp, rtol=1e-12, atol=1e-12, equal_nan=True)
    # global cov/corr ride the same machinery (context carries BOTH cols)
    pdf["y"] = np.random.default_rng(1).random(len(pdf))
    sdf2 = spark.createDataFrame(pdf).repartition(8)
    corr_df = (
        parallelize(sdf2, order_by="idx").series("x").rolling(5, min_periods=3)
        .parallel_apply("corr", win_args={"other": "y"}, output_col="r")
    )
    buf2 = io.StringIO()
    with redirect_stdout(buf2):
        corr_df.explain("formatted")
    assert bucket_partitioned_on(buf2.getvalue(), "__bkt__")
    exp_c = pdf.x.rolling(5, min_periods=3).corr(pdf.y).to_numpy()
    got_c = corr_df.toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    fin = np.isfinite(exp_c)
    assert np.allclose(got_c[fin], exp_c[fin], rtol=1e-6, atol=1e-8)
    assert not np.isfinite(got_c[~fin]).any()


def test_global_time_rolling_is_bucketed_jvm(spark):
    """Global time-offset rolling must explode rows into their
    reachable range buckets and window per bucket — never a
    single-partition total-order RANGE window — while matching pandas
    exactly."""
    import io
    from contextlib import redirect_stdout

    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    pdf = _ts_frame(n=2000, n_keys=1)
    pdf["i"] = np.arange(len(pdf), dtype="int64")
    sdf = spark.createDataFrame(pdf).repartition(8)
    out_df = (
        parallelize(sdf, order_by="ts").series("x")
        .rolling("30min", min_periods=2).parallel_apply("sum", output_col="r")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out_df.explain("formatted")
    plan = buf.getvalue()
    assert bucket_partitioned_on(plan, "__tgt__")
    assert "MapInPandas" not in plan
    for seg in plan.split("Arguments: ")[1:]:
        head = seg.splitlines()[0]
        if "windowspecdefinition" in head.lower():
            assert "__tgt__" in head
    s = pd.Series(pdf.x.to_numpy(), index=pd.DatetimeIndex(pdf.ts))
    exp = s.rolling("30min", min_periods=2).sum().to_numpy()
    got = out_df.toPandas().sort_values("i")["r"].to_numpy(dtype="float64")
    assert np.allclose(got, exp, rtol=1e-12, atol=1e-12, equal_nan=True)


def test_global_time_rolling_ties_match_lazy_path(spark):
    """On duplicate timestamps the documented contract is RANGE
    semantics (ties share every frame — window.py's time_rolling_agg
    docstring), NOT pandas' position-bounded tie handling. The bucketed
    explode path must agree bit-for-bit with the lazy single-partition
    RANGE window it replaces, ties and NaNs included."""
    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize
    from pandarallel_spark.operators._memo import STRICT_LAZY_CONF

    rng = np.random.default_rng(11)
    n = 1500
    # heavy ties: ~1500 rows over 1200 distinct seconds
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.integers(0, 1200, n)), unit="s"
    )
    x = rng.standard_normal(n)
    x[rng.integers(0, n, 75)] = np.nan
    pdf = pd.DataFrame({"i": np.arange(n, dtype="int64"), "ts": ts, "x": x})
    sdf = spark.createDataFrame(pdf).repartition(8)

    def run():
        return (
            parallelize(sdf, order_by="ts").series("x")
            .rolling("90s", min_periods=2)
            .parallel_apply("sum", output_col="r")
        ).toPandas().sort_values("i")["r"].to_numpy(dtype="float64")

    bucketed = run()
    spark.conf.set(STRICT_LAZY_CONF, "true")
    try:
        lazy = run()
    finally:
        spark.conf.set(STRICT_LAZY_CONF, "false")
    assert np.allclose(bucketed, lazy, rtol=1e-12, atol=1e-12, equal_nan=True)


def test_global_expanding_builtin_bucket_carry(spark):
    """Composable GLOBAL expanding builtins (sum/count/mean/min/max)
    run as bucket-partitioned windows + a broadcast carry — exact vs
    pandas across NaN holes and min_periods, with the big-side window
    partitioned by the bucket id."""
    import io
    from contextlib import redirect_stdout

    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    rng = np.random.default_rng(17)
    n = 5000
    vals = rng.standard_normal(n) + 100.0  # offset mean stresses the
    # variance merge: the naive Σx² form loses ~4 digits here
    vals[rng.integers(0, n, 400)] = np.nan
    vals[1000:1200] = 100.5  # constant stretch
    pdf = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "x": vals})
    sdf = spark.createDataFrame(pdf).repartition(8)
    for agg, mp in (
        ("sum", 1), ("count", 3), ("mean", 2), ("min", 1), ("max", 4),
        ("std", 2), ("var", 1),
    ):
        exp = getattr(pdf.x.expanding(mp), agg)().to_numpy()
        out_df = (
            parallelize(sdf, order_by="idx").series("x").expanding(mp)
            .parallel_apply(agg, output_col="r")
        )
        got = out_df.toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        assert np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True), agg
    buf = io.StringIO()
    with redirect_stdout(buf):
        (
            parallelize(sdf, order_by="idx").series("x").expanding(2)
            .parallel_apply("sum", output_col="r")
        ).explain("formatted")
    plan = buf.getvalue()
    assert bucket_partitioned_on(plan, "__bkt__")
    assert "MapInPandas" not in plan
    # integer sums compose exactly — dtype must stay bigint
    idf = spark.createDataFrame(
        pd.DataFrame({"idx": np.arange(100, dtype="int64"),
                      "k": np.arange(100, dtype="int64") % 7})
    ).repartition(4)
    out_i = (
        parallelize(idf, order_by="idx").series("k").expanding(1)
        .parallel_apply("sum", output_col="r")
    )
    assert dict(out_i.dtypes)["r"] == "bigint"
    exp_i = pd.Series(np.arange(100) % 7).expanding(1).sum().to_numpy()
    got_i = out_i.toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    assert np.allclose(got_i, exp_i)


def test_halo_rolling_null_int_passthrough(spark):
    """Edge rows round-trip through pandas in the driver fixup; a
    null-bearing int passthrough column must survive (toPandas turns it
    float64+NaN) — reviewed-bug regression."""
    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    n = 4000
    pdf = pd.DataFrame({
        "idx": np.arange(n, dtype="int64"),
        "x": np.random.default_rng(1).random(n),
        "tag": pd.array([None if i % 7 == 0 else i for i in range(n)], dtype="Int64"),
    })
    sdf = spark.createDataFrame(pdf).repartition(8)
    out = (
        parallelize(sdf, order_by="idx").series("x").rolling(5)
        .parallel_apply(lambda a: float(a.mean()), raw=True, output_col="r")
        .toPandas().sort_values("idx").reset_index(drop=True)
    )
    assert len(out) == n
    # nulls exactly where they started; non-null values intact as ints
    assert out.tag.isna().equals(pdf.tag.isna().astype(bool))
    mask = pdf.tag.notna()
    assert (out.tag[mask].astype("int64") == pdf.tag[mask].astype("int64")).all()


def test_vectorized_rolling_exactness_matrix():
    """The strided fast path (operators/window.py:_vectorized_rolling)
    must (a) bit-match pandas for elementwise +,-,*,/ UDFs, (b) reject
    reductions/conditionals/math.* (shape/truth/type failures), and
    (c) stay within 1 ulp of the scalar loop for pow-style UDFs, which
    the ``vectorize=False`` escape hatch then makes bit-exact."""
    import math

    from pandarallel_spark.operators.window import (
        _rolling_series,
        _vectorized_rolling,
    )

    rng = np.random.default_rng(7)
    vals = rng.random(500)
    nanned = vals.copy()
    nanned[::13] = np.nan

    lin = lambda x: x[0] + 2 * x[1] - x[2] / 3  # noqa: E731
    powf = lambda x: x[0] + x[1] ** 2 + x[2] ** 3  # noqa: E731

    for data in (vals, nanned):
        for w, mp, center in [(3, 3, False), (3, 3, True), (5, 5, False)]:
            s = pd.Series(data)
            exp = s.rolling(w, min_periods=mp, center=center).apply(lin, raw=True)
            got = _rolling_series(s, w, mp, center, lin, raw=True)
            assert exp.equals(got), (w, mp, center)

    # rejections: wrong shape / array truth value / TypeError
    assert _vectorized_rolling(vals, 3, 3, False, lambda x: np.sum(x)) is None
    assert _vectorized_rolling(vals, 3, 3, False, lambda x: math.sin(x[0])) is None
    assert (
        _vectorized_rolling(vals, 3, 3, False, lambda x: x[0] if x[1] > 0 else 0.0)
        is None
    )

    s = pd.Series(vals)
    exp = s.rolling(3).apply(powf, raw=True)
    fast = _rolling_series(s, 3, 3, False, powf, raw=True)
    strict = _rolling_series(s, 3, 3, False, powf, raw=True, vectorize=False)
    assert exp.equals(strict)  # escape hatch is bit-exact
    np.testing.assert_allclose(fast.to_numpy(), exp.to_numpy(), rtol=1e-14)

    # regression: a NaN run at the head must not make the sampled check
    # vacuous — x.mean() here is a whole-matrix reduction that a naive
    # first-k sample (all-NaN results) would wave through
    head_nan = vals.copy()
    head_nan[:40] = np.nan
    demean = lambda x: x[-1] - x.mean()  # noqa: E731
    s2 = pd.Series(head_nan)
    exp2 = s2.rolling(8, min_periods=8).apply(demean, raw=True)
    got2 = _rolling_series(s2, 8, 8, False, demean, raw=True)
    assert exp2.equals(got2)


def test_halo_rolling_vectorize_false_bit_exact(spark):
    """vectorize=False through the full halo plan reproduces pandas bits
    even for pow UDFs (the compat shim's configuration)."""
    n = 20_000
    pdf = pd.DataFrame(
        {"idx": np.arange(n, dtype="int64"), "x": np.random.default_rng(3).random(n)}
    )
    powf = lambda x: x[0] + x[1] ** 2 + x[2] ** 3 + x[3] ** 4  # noqa: E731
    exp = pdf.x.rolling(4).apply(powf, raw=True)
    got = (
        parallelize(spark.createDataFrame(pdf).repartition(8), order_by="idx")
        .series("x")
        .rolling(4)
        .parallel_apply(powf, raw=True, output_col="r", vectorize=False)
        .toPandas()
        .sort_values("idx", ignore_index=True)
    )
    g = got["r"].to_numpy()
    e = exp.to_numpy()
    assert np.array_equal(g[3:], e[3:])
    assert np.isnan(g[:3]).all()


def test_halo_rolling_ties_preserve_rows(spark):
    """Order-column ties straddling bucket halo cuts must never lose or
    duplicate rows: drop/fix membership is value-rank-based in BOTH
    branches (review regression — positional cuts could disagree on
    which tied row to drop vs re-emit)."""
    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    n = 5000
    pdf = pd.DataFrame(
        {
            "ord": np.arange(n) // 3,  # every value tied 3 deep
            "x": np.random.default_rng(7).random(n),
        }
    )
    out = (
        parallelize(spark.createDataFrame(pdf).repartition(16), order_by="ord")
        .series("x")
        .rolling(4)
        .parallel_apply(lambda a: float(a.sum()), raw=True, output_col="r")
        .toPandas()
    )
    assert len(out) == n
    got = out[["ord", "x"]].sort_values(["ord", "x"], ignore_index=True)
    exp = pdf[["ord", "x"]].sort_values(["ord", "x"], ignore_index=True)
    pd.testing.assert_frame_equal(got, exp)


@pytest.mark.usefixtures("tiny_buckets")
def test_rolling_nulls_min_periods_matches_pandas(spark):
    """Null values: min_periods counts non-NaN observations and the UDF
    sees the window WITH its NaN slots, like pandas (review regression
    for the collect_list fallback path — multi-column order key forces
    it)."""
    pdf = pd.DataFrame(
        {
            "i1": np.zeros(8, dtype="int64"),
            "i2": np.arange(8, dtype="int64"),
            "x": [1.0, np.nan, 2.0, 3.0, np.nan, np.nan, 4.0, 5.0],
        }
    )
    from pandarallel_spark.operators.window import rolling_apply

    func = lambda a: float(np.nansum(a)) + float(len(a)) / 100.0  # noqa: E731
    exp = pdf.x.rolling(3, min_periods=2).apply(func, raw=True).to_numpy()
    # two-column order key → collect_list fallback path
    out = (
        rolling_apply(
            spark.createDataFrame(pdf), "x", 3, func, ["i1", "i2"],
            min_periods=2, raw=True, output_col="r",
        )
        .toPandas()
        .sort_values("i2")["r"]
        .to_numpy()
    )
    assert np.array_equal(out, exp, equal_nan=True)


def test_halo_rolling_null_order_key_raises(spark):
    """NULL order keys are rejected up front: pandas and Spark disagree
    on where nulls sort/rank, so no cross-branch membership rule is
    consistent for them (review finding — the r3 drop/fix multisets
    could silently lose the first non-null tie groups)."""
    pdf = pd.DataFrame(
        {
            "idx": pd.array([None if i % 997 == 0 else i for i in range(5000)], dtype="Int64"),
            "x": np.random.default_rng(5).random(5000),
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(8)
    with pytest.raises(ValueError, match="NULL"):
        (
            parallelize(sdf, order_by="idx")
            .series("x")
            .rolling(4)
            .parallel_apply(lambda a: float(a.sum()), raw=True, output_col="r")
        )


# ---------------------------------------------------------------------------
# win_type weighted windows (reference replays win_type through rolling
# _attributes, data_types/series_rolling.py:22-28)
# ---------------------------------------------------------------------------


@pytest.fixture()
def fake_scipy(monkeypatch):
    """Let stock pandas evaluate win_type windows without scipy: pandas
    only imports scipy.signal.windows to GENERATE weights — the weighted
    aggregation semantics (NaN skip + mean renormalization, truncated
    leading windows, min_periods, center shift) live in pandas' own
    cython. Backing the stub with our WEIGHT_GENERATORS makes pandas a
    true differential oracle for the aggregation mechanics; the weight
    shapes themselves are independently covered by numpy's own
    hamming/hann/blackman/bartlett/kaiser and the formula test below.
    """
    import sys
    import types

    from pandarallel_spark.operators.window import WEIGHT_GENERATORS

    windows = types.ModuleType("scipy.signal.windows")
    for name, fn in WEIGHT_GENERATORS.items():
        setattr(windows, name, (lambda f: lambda M, **kw: f(M, **kw))(fn))
    signal = types.ModuleType("scipy.signal")
    signal.windows = windows
    scipy = types.ModuleType("scipy")
    scipy.signal = signal
    scipy.__version__ = "1.11.4"
    monkeypatch.setitem(sys.modules, "scipy", scipy)
    monkeypatch.setitem(sys.modules, "scipy.signal", signal)
    monkeypatch.setitem(sys.modules, "scipy.signal.windows", windows)


def test_weight_formulas():
    """Pin the non-numpy weight shapes against hand-computed values."""
    from pandarallel_spark.operators.window import WEIGHT_GENERATORS

    g = WEIGHT_GENERATORS["gaussian"](5, std=2.0)
    n = np.arange(5) - 2.0
    assert np.allclose(g, np.exp(-0.5 * (n / 2.0) ** 2))
    t_odd = WEIGHT_GENERATORS["triang"](5)
    assert np.allclose(t_odd, [1 / 3, 2 / 3, 1.0, 2 / 3, 1 / 3])
    t_even = WEIGHT_GENERATORS["triang"](4)
    assert np.allclose(t_even, [0.25, 0.75, 0.75, 0.25])
    e = WEIGHT_GENERATORS["exponential"](5, tau=3.0)
    assert np.allclose(e, np.exp(-np.abs(np.arange(5) - 2.0) / 3.0))
    assert np.allclose(WEIGHT_GENERATORS["boxcar"](4), np.ones(4))
    # r9 shapes: pin against the published scipy symmetric definitions
    bo = WEIGHT_GENERATORS["bohman"](5)
    fac = np.abs(np.linspace(-1, 1, 5))
    assert np.allclose(bo, (1 - fac) * np.cos(np.pi * fac) + np.sin(np.pi * fac) / np.pi)
    assert abs(bo[0]) < 1e-15 and np.isclose(bo[2], 1.0)
    pz = WEIGHT_GENERATORS["parzen"](5)
    assert np.isclose(pz[2], 1.0) and np.allclose(pz, pz[::-1]) and (np.diff(pz[:3]) > 0).all()
    co = WEIGHT_GENERATORS["cosine"](4)
    assert np.allclose(co, np.sin(np.pi * (np.arange(4) + 0.5) / 4))
    nt = WEIGHT_GENERATORS["nuttall"](5)
    a = (0.3635819, 0.4891775, 0.1365995, 0.0106411)
    assert np.isclose(nt[2], a[0] + a[1] + a[2] + a[3])  # peak = Σ a_k at n=(M-1)/2
    assert np.isclose(nt[0], a[0] - a[1] + a[2] - a[3])
    tk = WEIGHT_GENERATORS["tukey"](9, alpha=0.5)
    assert np.allclose(tk[3:6], 1.0) and abs(tk[0]) < 1e-15 and np.allclose(tk, tk[::-1])
    assert np.allclose(WEIGHT_GENERATORS["tukey"](6, alpha=0.0), np.ones(6))
    gg = WEIGHT_GENERATORS["general_gaussian"](5, p=1.0, sig=2.0)
    assert np.allclose(gg, WEIGHT_GENERATORS["gaussian"](5, std=2.0))
    for name in ("barthann", "blackmanharris", "flattop"):
        w = WEIGHT_GENERATORS[name](7)
        assert np.allclose(w, w[::-1]) and len(w) == 7
    # M=1 degenerate form: every shape returns [1] except flattop-family
    # cosine sums whose single point is Σ(−1)^k a_k... scipy returns the
    # n=0 value; ours pins 1.0 for the closed forms that define it
    for name in ("bohman", "barthann", "tukey", "cosine", "parzen"):
        assert WEIGHT_GENERATORS[name](1).shape == (1,)


@pytest.mark.parametrize(
    "win_type,win_args,agg",
    [
        ("gaussian", {"std": 1.5}, "sum"),
        ("gaussian", {"std": 1.5}, "mean"),
        ("triang", {}, "mean"),
        ("hamming", {}, "sum"),
        ("exponential", {"tau": 2.0}, "mean"),
        # r9 additions to the win_type surface
        ("parzen", {}, "mean"),
        ("bohman", {}, "sum"),
        ("nuttall", {}, "mean"),
        ("tukey", {"alpha": 0.6}, "sum"),
        ("general_gaussian", {"p": 1.5, "sig": 2.0}, "mean"),
    ],
)
def test_weighted_rolling_vs_pandas(spark, fake_scipy, win_type, win_args, agg):
    """Global weighted rolling must match stock pandas across NaNs,
    min_periods (incl. truncated leading windows), and center."""
    rng = np.random.default_rng(7)
    vals = rng.standard_normal(400)
    vals[rng.integers(0, 400, 25)] = np.nan
    pdf = pd.DataFrame({"idx": np.arange(400, dtype="int64"), "x": vals})
    sdf = spark.createDataFrame(pdf).repartition(8)
    for mp, center in [(None, False), (1, False), (3, False), (2, True)]:
        r = pdf.x.rolling(5, win_type=win_type, min_periods=mp, center=center)
        exp = getattr(r, agg)(**win_args).to_numpy()
        out = (
            parallelize(sdf, order_by="idx")
            .series("x")
            .rolling(5, min_periods=mp, center=center, win_type=win_type)
            .parallel_apply(agg, win_args=win_args, output_col="r")
            .toPandas()
            .sort_values("idx")["r"]
            .to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), (
            f"{win_type}/{agg} mp={mp} center={center}"
        )


def test_weighted_rolling_grouped_vs_pandas(spark, fake_scipy):
    """Grouped weighted rolling (partition_by key) — our extension
    beyond pandas, whose GroupBy.rolling silently ignores win_type
    (returns a plain Rolling). Expected = per-group stock pandas
    Series.rolling(win_type=...), the semantics a user would mean."""
    rng = np.random.default_rng(13)
    n = 600
    pdf = pd.DataFrame(
        {
            "idx": np.arange(n, dtype="int64"),
            "k": rng.integers(0, 7, n),
            "x": rng.standard_normal(n),
        }
    )
    pdf.loc[rng.integers(0, n, 30), "x"] = np.nan
    exp = (
        pdf.groupby("k")["x"]
        .transform(
            lambda s: s.rolling(4, win_type="gaussian", min_periods=2).mean(std=2.0)
        )
        .to_numpy()
    )
    sdf = spark.createDataFrame(pdf).repartition(8)
    out = (
        parallelize(sdf, order_by="idx")
        .groupby("k")
        .series("x")
        .rolling(4, min_periods=2, win_type="gaussian")
        .parallel_apply("mean", win_args={"std": 2.0}, output_col="r")
        .toPandas()
        .sort_values("idx")["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True)


@pytest.mark.parametrize("agg", ["var", "std"])
def test_weighted_var_global_random_vs_pandas(spark, fake_scipy, agg):
    """Global weighted var/std on random data with NaNs — stresses the
    r8 bucket-partitioned path's GLOBAL-index reconstruction (the
    rotating weight alignment pairs value at absolute index m with
    weights[m % window]; per-bucket row numbers must be rebased by
    exact bucket offsets and context-row counts or every bucket after
    the first drifts)."""
    rng = np.random.default_rng(23)
    vals = rng.standard_normal(700)
    vals[rng.integers(0, 700, 40)] = np.nan
    pdf = pd.DataFrame({"idx": np.arange(700, dtype="int64"), "x": vals})
    sdf = spark.createDataFrame(pdf).repartition(8)
    for mp, center, ddof in [(None, False, 1), (2, False, 0), (3, True, 1)]:
        r = pdf.x.rolling(7, win_type="gaussian", min_periods=mp, center=center)
        exp = getattr(r, agg)(std=2.0, ddof=ddof).to_numpy()
        out = (
            parallelize(sdf, order_by="idx")
            .series("x")
            .rolling(7, min_periods=mp, center=center, win_type="gaussian")
            .parallel_apply(agg, win_args={"std": 2.0, "ddof": ddof}, output_col="r")
            .toPandas()
            .sort_values("idx")["r"]
            .to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-9, atol=1e-9, equal_nan=True), (
            f"{agg} mp={mp} center={center} ddof={ddof}"
        )


@pytest.mark.parametrize("agg", ["var", "std"])
def test_weighted_var_constant_series(spark, fake_scipy, agg):
    """Constant-valued windows: the two-moment form t = Σw·x² −
    (Σw·x)²/Σw cancels to a tiny NEGATIVE float, which unclamped makes
    var ≈ -1.7e-18 and std = sqrt(negative) = NaN. pandas
    calc_weighted_var clamps result < 0 → 0; so must we (advisor
    finding r5). Constant and ffilled-stretch data hit this constantly
    in the wild even though random-data property tests never do."""
    vals = np.full(50, 0.1)
    vals[20:25] = 3.7  # a second constant stretch (ffill-like)
    pdf = pd.DataFrame({"idx": np.arange(50, dtype="int64"), "x": vals})
    sdf = spark.createDataFrame(pdf).repartition(4)
    exp = getattr(pdf.x.rolling(3, win_type="boxcar"), agg)().to_numpy()
    out = (
        parallelize(sdf, order_by="idx")
        .series("x")
        .rolling(3, win_type="boxcar")
        .parallel_apply(agg, output_col="r")
        .toPandas()
        .sort_values("idx")["r"]
        .to_numpy(dtype="float64")
    )
    # pandas itself leaves FP residuals up to ~3e-8 (std) on these
    # windows, so compare at noise tolerance; the load-bearing checks
    # are the clamp ones below (pre-fix: std was NaN on EVERY full
    # constant window, var was negative).
    assert np.allclose(out, exp, rtol=1e-9, atol=1e-7, equal_nan=True)
    full = out[2:]
    assert np.all(np.isfinite(full)) and np.all(full >= 0.0)


def test_weighted_rolling_rejections(spark):
    pdf = pd.DataFrame({"idx": np.arange(10, dtype="int64"), "x": np.arange(10.0)})
    sdf = spark.createDataFrame(pdf)
    roll = parallelize(sdf, order_by="idx").series("x").rolling(3, win_type="gaussian")
    with pytest.raises(NotImplementedError, match="UDF"):
        roll.parallel_apply(lambda a: a.sum(), output_col="r")
    with pytest.raises(NotImplementedError, match="sum/mean/var/std"):
        roll.parallel_apply("median", win_args={"std": 1.0}, output_col="r")
    with pytest.raises(NotImplementedError, match="win_type"):
        parallelize(sdf, order_by="idx").series("x").rolling(
            3, win_type="nosuchwindow"
        ).parallel_apply("sum", output_col="r")
    with pytest.raises(NotImplementedError, match="codegen"):
        parallelize(sdf, order_by="idx").series("x").rolling(
            600, win_type="gaussian"
        ).parallel_apply("sum", win_args={"std": 1.0}, output_col="r")


def test_halo_memo_not_stale_after_overwrite(spark, tmp_path):
    """Overwriting a parquet path with new data must NOT reuse memoized
    boundary-context rows: semanticHash hashes the plan (the path), so
    the memo key also includes the concrete input files (review finding
    r4 — the stale hit produced ~10% wrong values near every bucket
    boundary)."""
    path = str(tmp_path / "roll_overwrite")
    func = lambda a: float(a.sum())  # noqa: E731

    def run(scale):
        pdf = pd.DataFrame(
            {"idx": np.arange(5000, dtype="int64"), "x": np.full(5000, scale)}
        )
        spark.createDataFrame(pdf).repartition(8).write.mode("overwrite").parquet(path)
        sdf = spark.read.parquet(path)
        out = (
            parallelize(sdf, order_by="idx")
            .series("x")
            .rolling(4)
            .parallel_apply(func, raw=True, output_col="r", vectorize=False)
            .toPandas()
            .sort_values("idx")["r"]
            .to_numpy()
        )
        exp = pdf.x.rolling(4).apply(func, raw=True).to_numpy()
        assert np.array_equal(out, exp, equal_nan=True), (
            f"scale={scale}: {np.nansum(out != exp)} mismatches"
        )

    run(1.0)   # populates the memo for this path
    run(2.0)   # same path, new files — must miss the memo and recompute


# ---------------------------------------------------------------------------
# time-offset rolling (pandas rolling("1h") / rangeBetween JVM frames)
# ---------------------------------------------------------------------------


def _ts_frame(n=300, n_keys=5, seed=3, dup_free=True):
    rng = np.random.default_rng(seed)
    # strictly increasing per key when dup_free (value-based range
    # frames and pandas position-based ends agree only without ties)
    offs = np.cumsum(rng.integers(1, 900, n)) if dup_free else rng.integers(0, 3600, n)
    ts = pd.Timestamp("2021-06-01") + pd.to_timedelta(offs, unit="s")
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 12)] = np.nan
    return pd.DataFrame(
        {"k": rng.integers(0, n_keys, n), "ts": ts, "x": vals}
    ).sort_values("ts", ignore_index=True)


@pytest.mark.parametrize("closed", [None, "right", "both", "left", "neither"])
@pytest.mark.parametrize("agg", ["sum", "mean", "count"])
def test_time_rolling_builtin_vs_pandas(spark, closed, agg):
    pdf = _ts_frame()
    exp_parts = []
    for _, g in pdf.groupby("k"):
        s = pd.Series(g.x.to_numpy(), index=pd.DatetimeIndex(g.ts))
        r = getattr(s.rolling("30min", closed=closed), agg)()
        exp_parts.append(pd.Series(r.to_numpy(), index=g.index))
    exp = pd.concat(exp_parts).sort_index().to_numpy(dtype="float64")
    sdf = spark.createDataFrame(pdf.reset_index()).repartition(4)
    out = (
        parallelize(sdf, order_by="ts")
        .groupby("k")
        .series("x")
        .rolling("30min", closed=closed)
        .parallel_apply(agg, output_col="r")
        .toPandas()
        .sort_values("index")["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), (
        f"{agg} closed={closed}"
    )


def test_time_rolling_global_and_min_periods(spark):
    pdf = _ts_frame(n_keys=1)
    s = pd.Series(pdf.x.to_numpy(), index=pd.DatetimeIndex(pdf.ts))
    exp = s.rolling("45min", min_periods=3).sum().to_numpy()
    sdf = spark.createDataFrame(pdf.reset_index())
    out = (
        parallelize(sdf, order_by="ts")
        .series("x")
        .rolling("45min", min_periods=3)
        .parallel_apply("sum", output_col="r")
        .toPandas()
        .sort_values("index")["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True)


@pytest.mark.usefixtures("tiny_buckets")
def test_time_rolling_count_gate_counts_nan_rows(spark):
    """pandas time-offset rolling ``count`` gates min_periods on frame
    ROWS including NaN (probed: explicit min_periods over an all-NaN
    window returns 0.0, not NaN) — caught by the hypothesis sweep at
    seed 0 and pinned here."""
    ts = pd.to_datetime(
        ["2022-03-01 00:00:00", "2022-03-01 00:01:00", "2022-03-01 00:20:00"]
    )
    pdf = pd.DataFrame({"i": [0, 1, 2], "ts": ts, "x": [np.nan, np.nan, 1.0]})
    sdf = spark.createDataFrame(pdf)
    for mp, exp in [
        (1, [0.0, 0.0, 1.0]),
        (2, [np.nan, 0.0, np.nan]),
        (None, [0.0, 0.0, 1.0]),
    ]:
        out = (
            parallelize(sdf, order_by="ts")
            .series("x")
            .rolling("7min", min_periods=mp)
            .parallel_apply("count", output_col="r")
            .toPandas()
            .sort_values("i")["r"]
            .to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, equal_nan=True), (mp, out.tolist())


def test_time_rolling_grouped_udf_vs_pandas(spark):
    pdf = _ts_frame()
    exp_parts = []
    for _, g in pdf.groupby("k"):
        s = pd.Series(g.x.to_numpy(), index=pd.DatetimeIndex(g.ts))
        r = s.rolling("30min", min_periods=1).apply(
            lambda a: float(np.nansum(a)), raw=True
        )
        exp_parts.append(pd.Series(r.to_numpy(), index=g.index))
    exp = pd.concat(exp_parts).sort_index().to_numpy(dtype="float64")
    sdf = spark.createDataFrame(pdf.reset_index()).repartition(4)
    out = (
        parallelize(sdf, order_by="ts")
        .groupby("k")
        .series("x")
        .rolling("30min")
        .parallel_apply(lambda a: float(np.nansum(a)), output_col="r")
        .toPandas()
        .sort_values("index")["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True)


@pytest.mark.parametrize("closed", [None, "right", "both", "left", "neither"])
@pytest.mark.parametrize("agg", ["sum", "count"])
def test_time_rolling_center_builtin_vs_pandas(spark, closed, agg):
    """pandas ``rolling("30min", center=True)``: frame
    ``(t-d/2, t+d/2]`` per ``closed`` variant (probed, pandas 2.2 —
    centered frames are fully VALUE-based even on tied timestamps, so
    Spark RANGE semantics match pandas exactly, no tie divergence).
    Grouped AND global, over a frame WITH duplicate timestamps."""
    pdf = _ts_frame()  # has ties (dup_free=False default)
    exp_parts = []
    for _, g in pdf.groupby("k"):
        s = pd.Series(g.x.to_numpy(), index=pd.DatetimeIndex(g.ts))
        r = getattr(s.rolling("30min", center=True, closed=closed), agg)()
        exp_parts.append(pd.Series(r.to_numpy(), index=g.index))
    exp = pd.concat(exp_parts).sort_index().to_numpy(dtype="float64")
    sdf = spark.createDataFrame(pdf.reset_index()).repartition(4)
    out = (
        parallelize(sdf, order_by="ts")
        .groupby("k")
        .series("x")
        .rolling("30min", center=True, closed=closed)
        .parallel_apply(agg, output_col="r")
        .toPandas()
        .sort_values("index")["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), (
        f"grouped {agg} closed={closed}"
    )
    g = pdf[pdf.k == 0].reset_index(drop=True)
    s = pd.Series(g.x.to_numpy(), index=pd.DatetimeIndex(g.ts))
    exp = getattr(
        s.rolling("30min", center=True, closed=closed), agg
    )().to_numpy()
    sg = spark.createDataFrame(g.reset_index()).repartition(4)
    out = (
        parallelize(sg, order_by="ts")
        .series("x")
        .rolling("30min", center=True, closed=closed)
        .parallel_apply(agg, output_col="r")
        .toPandas()
        .sort_values("index")["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), (
        f"global {agg} closed={closed}"
    )


def test_time_rolling_center_odd_microsecond_window(spark):
    """An odd-microsecond window makes the half-window a FRACTIONAL
    microsecond — the centered frame rides a doubled axis so both
    bounds stay exact integers. 999us over 500us-spaced timestamps puts
    real rows exactly at t±499.5us±0.5us."""
    n = 400
    rng = np.random.default_rng(3)
    ts = pd.to_datetime(np.arange(n) * 500 + rng.integers(0, 2, n), unit="us")
    pdf = pd.DataFrame({"i": np.arange(n), "ts": ts, "x": rng.standard_normal(n)})
    s = pd.Series(pdf.x.to_numpy(), index=pd.DatetimeIndex(pdf.ts))
    sdf = spark.createDataFrame(pdf)
    for closed in ("right", "both"):
        exp = s.rolling("999us", center=True, closed=closed).sum().to_numpy()
        out = (
            parallelize(sdf, order_by="ts")
            .series("x")
            .rolling("999us", center=True, closed=closed)
            .parallel_apply("sum", output_col="r")
            .toPandas()
            .sort_values("i")["r"]
            .to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), closed


def test_time_rolling_center_global_is_bucketed(spark):
    """The centered global builtin must run the two-way
    explode-to-reachable-buckets plan (rows serve anchors BOTH ways),
    not a single-partition total-order window — while matching pandas."""
    import io
    from contextlib import redirect_stdout

    pdf = _ts_frame(n=2000, n_keys=1)
    pdf["i"] = np.arange(len(pdf), dtype="int64")
    sdf = spark.createDataFrame(pdf).repartition(8)
    out_df = (
        parallelize(sdf, order_by="ts").series("x")
        .rolling("30min", center=True, min_periods=2)
        .parallel_apply("sum", output_col="r")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out_df.explain("formatted")
    plan = buf.getvalue()
    assert bucket_partitioned_on(plan, "__tgt__")
    assert "MapInPandas" not in plan
    s = pd.Series(pdf.x.to_numpy(), index=pd.DatetimeIndex(pdf.ts))
    exp = s.rolling("30min", center=True, min_periods=2).sum().to_numpy()
    got = out_df.toPandas().sort_values("i")["r"].to_numpy(dtype="float64")
    assert np.allclose(got, exp, rtol=1e-12, atol=1e-12, equal_nan=True)


def test_time_rolling_center_udf_vs_pandas(spark):
    """Centered time-offset rolling UDFs: global (bucketed stock pandas
    per target bucket with a two-way halo) and grouped (stock pandas
    per group)."""
    f = lambda a: float(np.nanmax(a) - np.nanmin(a)) if np.isfinite(a).any() else np.nan  # noqa: E731
    pdf = _ts_frame()
    exp_parts = []
    for _, g in pdf.groupby("k"):
        s = pd.Series(g.x.to_numpy(), index=pd.DatetimeIndex(g.ts))
        r = s.rolling("30min", center=True, min_periods=1).apply(f, raw=True)
        exp_parts.append(pd.Series(r.to_numpy(), index=g.index))
    exp = pd.concat(exp_parts).sort_index().to_numpy(dtype="float64")
    sdf = spark.createDataFrame(pdf.reset_index()).repartition(4)
    out = (
        parallelize(sdf, order_by="ts")
        .groupby("k")
        .series("x")
        .rolling("30min", center=True)
        .parallel_apply(f, output_col="r")
        .toPandas()
        .sort_values("index")["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-9, atol=1e-12, equal_nan=True)
    g = pdf[pdf.k == 0].reset_index(drop=True)
    s = pd.Series(g.x.to_numpy(), index=pd.DatetimeIndex(g.ts))
    exp = s.rolling("30min", center=True, min_periods=1).apply(f, raw=True).to_numpy()
    sg = spark.createDataFrame(g.reset_index()).repartition(4)
    out = (
        parallelize(sg, order_by="ts")
        .series("x")
        .rolling("30min", center=True)
        .parallel_apply(f, output_col="r")
        .toPandas()
        .sort_values("index")["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


@pytest.mark.usefixtures("tiny_buckets")
def test_time_rolling_udf_min_periods_zero(spark):
    """Explicit min_periods=0 must pass through to the per-bucket /
    per-group stock-pandas rolling: pandas applies the UDF to
    zero-observation windows there (probed — nansum emits 0.0, not
    NaN). Pre-fix both time-UDF sites clamped 0 → 1."""
    ts = pd.to_datetime(
        ["2020-01-01 00:00", "2020-01-01 00:30", "2020-01-01 02:00"]
    )
    pdf = pd.DataFrame({
        "i": [0, 1, 2], "ts": ts, "x": [np.nan, np.nan, 5.0],
        "k": [0, 0, 0],
    })
    sdf = spark.createDataFrame(pdf)
    f = lambda a: float(np.nansum(a))  # noqa: E731
    exp = (
        pd.Series(pdf.x.to_numpy(), index=pd.DatetimeIndex(pdf.ts))
        .rolling("1h", min_periods=0).apply(f, raw=True).to_numpy()
    )
    assert exp[0] == 0.0  # the distinguishing row
    for groupby in (False, True):
        base = parallelize(sdf, order_by="ts")
        series = (base.groupby("k") if groupby else base).series("x")
        got = (
            series.rolling("1h", min_periods=0)
            .parallel_apply(f, raw=True, output_col="r")
            .toPandas().sort_values("i")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(got, exp, equal_nan=True), (groupby, got.tolist())


def test_time_rolling_bursty_fanout_capped(spark):
    """The explode fan-out cap must hold on BURSTY data (quantile
    boundaries cluster inside the burst, so count-based coarsening
    would leave coarse buckets narrower than the window — the greedy
    span walk guarantees every coarse bucket spans ≥ the reach)."""
    from pyspark.sql import functions as F

    from pandarallel_spark.operators._memo import range_bucket_count
    from pandarallel_spark.operators.window import (
        _offset_bucket_exprs,
        _range_bucket_build,
    )

    rng = np.random.default_rng(23)
    # 90% of rows inside a 2-minute burst, the rest across a week
    # (microsecond-unique: ties would hit the documented RANGE-vs-pandas
    # tie divergence, which is not what this test pins)
    burst = rng.choice(120_000_000, 3600, replace=False)
    sparse = rng.choice(7 * 24 * 3600, 400, replace=False) * 1_000_000 + 120_000_000
    offs = np.unique(np.r_[burst, sparse])
    n = len(offs)
    ts = pd.Timestamp("2023-05-01") + pd.to_timedelta(offs, unit="us")
    pdf = pd.DataFrame({"i": np.arange(n, dtype="int64"), "ts": ts,
                        "x": rng.standard_normal(n)})
    sdf = spark.createDataFrame(pdf).repartition(8)
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = int(pd.Timedelta("30min").value // 1000)
    memo = _range_bucket_build(
        sdf, ["ts"], range_bucket_count(sdf), null_msg="x", micros=True,
    )
    exprs = _offset_bucket_exprs(memo, t_us, d)
    if exprs is None:
        pytest.skip("span collapsed below two coarse buckets")
    src, _own, fwd = exprs
    fan = (
        sdf.withColumn("__src__", src)
        .withColumn("__tgt__", F.explode(F.sequence(F.col("__src__"), fwd)))
        .count()
    )
    assert fan <= 2 * n, f"fan-out {fan} rows for {n} inputs"
    # and the bucketed plan still matches pandas on the burst
    s = pd.Series(pdf.x.to_numpy(), index=pd.DatetimeIndex(pdf.ts))
    exp = s.rolling("30min", min_periods=1).sum().to_numpy()
    got = (
        parallelize(sdf, order_by="ts").series("x")
        .rolling("30min", min_periods=1).parallel_apply("sum", output_col="r")
        .toPandas().sort_values("i")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(got, exp, rtol=1e-12, atol=1e-9, equal_nan=True)


@pytest.mark.usefixtures("tiny_buckets")
def test_time_rolling_rejections(spark):
    pdf = _ts_frame(n=20, n_keys=1)
    sdf = spark.createDataFrame(pdf)
    base = parallelize(sdf, order_by="ts").series("x")
    with pytest.raises(ValueError, match="win_type"):
        base.rolling("1h", win_type="gaussian").parallel_apply(
            "sum", win_args={"std": 1.0}, output_col="r"
        )
    # global time-offset UDFs are implemented as of r7 (bucketed stock
    # pandas) — sanity: matches the builtin on a sum-shaped UDF
    exp = (
        base.rolling("1h").parallel_apply("sum", output_col="r")
        .toPandas().sort_values("ts")["r"].to_numpy(dtype="float64")
    )
    got = (
        base.rolling("1h").parallel_apply(
            lambda a: float(np.nansum(a)) if len(a) else np.nan,
            output_col="r",
        )
        .toPandas().sort_values("ts")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True)
    with pytest.raises(TypeError, match="timestamp"):
        parallelize(sdf.withColumn("o", sdf.x), order_by="o").series(
            "x"
        ).rolling("1h").parallel_apply("sum", output_col="r")


@pytest.mark.parametrize("agg", ["sum", "mean", "max", "count", "std"])
def test_positional_builtin_rolling_nan_matches_pandas(spark, agg):
    """NaN in the window must not poison builtin aggs (pandas skips
    NaN), and the min_periods gate must count NON-NaN observations —
    except count, which gates on frame rows including NaN (probed
    pandas 2.2 semantics). Pre-fix, a NaN poisoned Spark SUM/AVG and
    counted toward every gate."""
    rng = np.random.default_rng(17)
    n = 200
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 30)] = np.nan
    pdf = pd.DataFrame(
        {"idx": np.arange(n, dtype="int64"), "k": rng.integers(0, 4, n), "x": vals}
    )
    sdf = spark.createDataFrame(pdf).repartition(4)
    for mp in (None, 1, 2):
        # global
        exp = getattr(pdf.x.rolling(3, min_periods=mp), agg)().to_numpy()
        out = (
            parallelize(sdf, order_by="idx").series("x")
            .rolling(3, min_periods=mp)
            .parallel_apply(agg, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), (
            f"global {agg} mp={mp}"
        )
        # grouped
        exp_g = (
            pdf.groupby("k").x.rolling(3, min_periods=mp)
            .agg(agg)
            .reset_index(level=0, drop=True).sort_index().to_numpy()
        )
        out_g = (
            parallelize(sdf, order_by="idx").groupby("k").series("x")
            .rolling(3, min_periods=mp)
            .parallel_apply(agg, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out_g, exp_g, rtol=1e-12, atol=1e-12, equal_nan=True), (
            f"grouped {agg} mp={mp}"
        )
    # expanding, same semantics
    exp_e = getattr(pdf.x.expanding(2), agg)().to_numpy()
    out_e = (
        parallelize(sdf, order_by="idx").series("x").expanding(2)
        .parallel_apply(agg, output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out_e, exp_e, rtol=1e-12, atol=1e-12, equal_nan=True)


@pytest.mark.parametrize("agg", ["median", "skew", "kurt"])
def test_rolling_median_skew_kurt_vs_pandas(spark, agg):
    """pandas' remaining builtin rolling aggs: median (JVM F.median),
    skew/kurt via Spark's population moments with the standard bias
    corrections G1 = g1*sqrt(n(n-1))/(n-2), G2 = ((n+1)g2+6)(n-1)/
    ((n-2)(n-3)) — including pandas' degenerate conventions (skew 0.0,
    kurt -3.0 on zero-variance windows; NaN below 3/4 obs)."""
    rng = np.random.default_rng(23)
    n = 160
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 20)] = np.nan
    vals[40:50] = 2.5  # constant stretch → zero-variance windows
    pdf = pd.DataFrame(
        {"idx": np.arange(n, dtype="int64"), "k": rng.integers(0, 3, n), "x": vals}
    )
    sdf = spark.createDataFrame(pdf).repartition(3)
    for w, mp in ((6, None), (5, 2)):
        exp = getattr(pdf.x.rolling(w, min_periods=mp), agg)().to_numpy()
        out = (
            parallelize(sdf, order_by="idx").series("x")
            .rolling(w, min_periods=mp)
            .parallel_apply(agg, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-9, atol=1e-9, equal_nan=True), (
            f"global {agg} w={w} mp={mp}"
        )
        exp_g = (
            pdf.groupby("k").x.rolling(w, min_periods=mp).agg(agg)
            .reset_index(level=0, drop=True).sort_index().to_numpy()
        )
        out_g = (
            parallelize(sdf, order_by="idx").groupby("k").series("x")
            .rolling(w, min_periods=mp)
            .parallel_apply(agg, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out_g, exp_g, rtol=1e-9, atol=1e-9, equal_nan=True), (
            f"grouped {agg} w={w} mp={mp}"
        )
    # time-offset form rides the same expressions
    ts = pd.Timestamp("2022-01-01") + pd.to_timedelta(
        np.cumsum(rng.integers(1, 600, n)), unit="s"
    )
    tdf = pd.DataFrame({"i": np.arange(n, dtype="int64"), "ts": ts, "x": vals})
    s = pd.Series(tdf.x.to_numpy(), index=pd.DatetimeIndex(tdf.ts))
    exp_t = getattr(s.rolling("20min"), agg)().to_numpy()
    out_t = (
        parallelize(spark.createDataFrame(tdf), order_by="ts").series("x")
        .rolling("20min")
        .parallel_apply(agg, output_col="r")
        .toPandas().sort_values("i")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out_t, exp_t, rtol=1e-9, atol=1e-9, equal_nan=True)


def test_rolling_quantile_rank_vs_pandas(spark):
    """pandas rolling.quantile(q) (linear interpolation) and
    rolling.rank (average|min|max, pct) — the current value ranked
    among the frame's non-NaN values; NaN current rows stay NaN."""
    rng = np.random.default_rng(29)
    n = 150
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 18)] = np.nan
    pdf = pd.DataFrame(
        {"idx": np.arange(n, dtype="int64"), "k": rng.integers(0, 3, n), "x": vals}
    )
    sdf = spark.createDataFrame(pdf).repartition(3)
    for q in (0.0, 0.25, 0.75, 1.0):
        exp = pdf.x.rolling(5, min_periods=2).quantile(q).to_numpy()
        out = (
            parallelize(sdf, order_by="idx").series("x")
            .rolling(5, min_periods=2)
            .parallel_apply("quantile", win_args={"q": q}, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), f"q={q}"
    for method, pct in (("average", False), ("min", False), ("max", False), ("average", True)):
        exp = pdf.x.rolling(5, min_periods=2).rank(method=method, pct=pct).to_numpy()
        out = (
            parallelize(sdf, order_by="idx").series("x")
            .rolling(5, min_periods=2)
            .parallel_apply(
                "rank", win_args={"method": method, "pct": pct}, output_col="r"
            )
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), (
            f"rank {method} pct={pct}"
        )
    # grouped + time-offset forms ride the same expressions
    exp_g = (
        pdf.groupby("k").x.rolling(4, min_periods=2).quantile(0.6)
        .reset_index(level=0, drop=True).sort_index().to_numpy()
    )
    out_g = (
        parallelize(sdf, order_by="idx").groupby("k").series("x")
        .rolling(4, min_periods=2)
        .parallel_apply("quantile", win_args={"q": 0.6}, output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out_g, exp_g, rtol=1e-12, atol=1e-12, equal_nan=True)
    with pytest.raises(ValueError, match="win_args"):
        parallelize(sdf, order_by="idx").series("x").rolling(5).parallel_apply(
            "quantile", output_col="r"
        )


def test_rolling_expanding_udf_args_kwargs(spark):
    """pandas rolling/expanding.apply(func, args=, kwargs=) threading —
    the reference forwards extra UDF arguments through its worker call
    (data_types/series_rolling.py:34-44); builtin names reject them."""
    rng = np.random.default_rng(53)
    n = 80
    pdf = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "x": rng.standard_normal(n)})
    sdf = spark.createDataFrame(pdf).repartition(3)
    f = lambda w, m, c=0.0: float(np.sum(w)) * m + c  # noqa: E731
    exp = pdf.x.rolling(4, min_periods=2).apply(f, raw=True, args=(2.0,), kwargs={"c": 1.5}).to_numpy()
    out = (
        parallelize(sdf, order_by="idx").series("x").rolling(4, min_periods=2)
        .parallel_apply(f, raw=True, args=(2.0,), kwargs={"c": 1.5}, output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-9, atol=1e-12, equal_nan=True)
    exp_e = pdf.x.expanding(2).apply(f, raw=True, args=(3.0,)).to_numpy()
    out_e = (
        parallelize(sdf, order_by="idx").series("x").expanding(2)
        .parallel_apply(f, raw=True, args=(3.0,), output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out_e, exp_e, rtol=1e-9, atol=1e-12, equal_nan=True)
    with pytest.raises(TypeError, match="win_args"):
        parallelize(sdf, order_by="idx").series("x").rolling(4).parallel_apply(
            "sum", args=(1,), output_col="r"
        )


def test_rolling_cov_corr_vs_pandas(spark):
    """pandas rolling.cov(other, ddof)/corr(other): PAIRWISE-complete
    observations (min_periods counts pairs where both sides are
    non-NaN), cov NaN when n ≤ ddof, corr NaN on zero-variance windows
    — over rows, grouped, expanding, and time-offset frames."""
    rng = np.random.default_rng(31)
    n = 160
    x, y = rng.standard_normal(n), rng.standard_normal(n)
    x[rng.integers(0, n, 14)] = np.nan
    y[rng.integers(0, n, 14)] = np.nan
    x[40:46] = 2.5  # constant stretch → corr NaN where var(x)=0
    pdf = pd.DataFrame(
        {"idx": np.arange(n, dtype="int64"), "k": rng.integers(0, 3, n),
         "x": x, "y": y}
    )
    sdf = spark.createDataFrame(pdf).repartition(3)

    def run(base, window, func, wa):
        return (
            base.series("x").rolling(window, min_periods=wa.pop("mp", None))
            .parallel_apply(func, win_args={"other": "y", **wa}, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )

    g = parallelize(sdf, order_by="idx")
    for func, kw, wa in [
        ("cov", {}, {}),
        ("cov", {"ddof": 0}, {"ddof": 0, "mp": 1}),
        ("cov", {}, {"mp": 2}),
        ("corr", {}, {}),
        ("corr", {}, {"mp": 2}),
    ]:
        mp = wa.get("mp")
        exp = getattr(pdf.x.rolling(5, min_periods=mp), func)(pdf.y, **kw).to_numpy()
        out = run(g, 5, func, dict(wa))
        # zero-variance windows: pandas corr emits ±inf when its cov
        # carries FP residue and NaN when it cancels exactly — luck-
        # dependent; we emit NaN deterministically. Compare values only
        # where pandas is finite, agree on "undefined" elsewhere.
        fin = np.isfinite(exp)
        assert np.allclose(out[fin], exp[fin], rtol=1e-9, atol=1e-12), (func, kw, mp)
        assert not np.isfinite(out[~fin]).any(), (func, kw, mp)

    # grouped: per-key windows through one partitioned JVM window
    exp_parts = []
    for _, grp in pdf.groupby("k"):
        r = grp.x.rolling(4, min_periods=2).corr(grp.y)
        exp_parts.append(pd.Series(r.to_numpy(), index=grp.index))
    exp_g = pd.concat(exp_parts).sort_index().to_numpy(dtype="float64")
    out_g = (
        parallelize(sdf, order_by="idx").groupby("k").series("x")
        .rolling(4, min_periods=2)
        .parallel_apply("corr", win_args={"other": "y"}, output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    _fin = np.isfinite(exp_g)
    assert np.allclose(out_g[_fin], exp_g[_fin], rtol=1e-9, atol=1e-12)
    assert not np.isfinite(out_g[~_fin]).any()

    # expanding
    exp_e = pdf.x.expanding(3).cov(pdf.y).to_numpy()
    out_e = (
        parallelize(sdf, order_by="idx").series("x").expanding(3)
        .parallel_apply("cov", win_args={"other": "y"}, output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    _fin = np.isfinite(exp_e)
    assert np.allclose(out_e[_fin], exp_e[_fin], rtol=1e-9, atol=1e-12)
    assert not np.isfinite(out_e[~_fin]).any()

    # time-offset frame
    tdf = _ts_frame(n_keys=1).rename(columns={"x": "x0"})
    tdf["x"] = tdf.x0
    tdf["y"] = np.roll(tdf.x0.to_numpy(), 3)
    tdf["i"] = np.arange(len(tdf), dtype="int64")
    s = pd.Series(tdf.x.to_numpy(), index=pd.DatetimeIndex(tdf.ts))
    o = pd.Series(tdf.y.to_numpy(), index=pd.DatetimeIndex(tdf.ts))
    exp_t = s.rolling("30min", min_periods=2).corr(o).to_numpy()
    out_t = (
        parallelize(spark.createDataFrame(tdf[["i", "ts", "x", "y"]]), order_by="ts")
        .series("x").rolling("30min", min_periods=2)
        .parallel_apply("corr", win_args={"other": "y"}, output_col="r")
        .toPandas().sort_values("i")["r"].to_numpy(dtype="float64")
    )
    _fin = np.isfinite(exp_t)
    assert np.allclose(out_t[_fin], exp_t[_fin], rtol=1e-9, atol=1e-12)
    assert not np.isfinite(out_t[~_fin]).any()

    with pytest.raises(ValueError, match="other"):
        parallelize(sdf, order_by="idx").series("x").rolling(5).parallel_apply(
            "cov", output_col="r"
        )


# ---------------------------------------------------------------------------
# ewm (exponentially weighted mean): grouped exact, global bucket-carry
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("adjust", [True, False])
@pytest.mark.parametrize("ignore_na", [False, True])
def test_ewm_mean_global_vs_pandas(spark, adjust, ignore_na):
    """Global ewm is a scan run as per-bucket recurrences chained by
    carried (num, den) seeds — must match single-core pandas to float
    re-association tolerance across NaN patterns, both adjust modes,
    both ignore_na modes, and min_periods."""
    rng = np.random.default_rng(31)
    n = 400
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 40)] = np.nan
    pdf = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "x": vals})
    sdf = spark.createDataFrame(pdf).repartition(8)
    for mp in (0, 3):
        exp = (
            pdf.x.ewm(alpha=0.3, adjust=adjust, ignore_na=ignore_na, min_periods=mp)
            .mean().to_numpy()
        )
        out = (
            parallelize(sdf, order_by="idx").series("x")
            .ewm(alpha=0.3, adjust=adjust, ignore_na=ignore_na, min_periods=mp)
            .mean(output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-9, atol=1e-12, equal_nan=True), (
            f"adjust={adjust} ignore_na={ignore_na} mp={mp}"
        )


def test_ewm_mean_grouped_and_param_forms(spark):
    rng = np.random.default_rng(37)
    n = 500
    pdf = pd.DataFrame(
        {
            "idx": np.arange(n, dtype="int64"),
            "k": rng.integers(0, 6, n),
            "x": rng.standard_normal(n),
        }
    )
    pdf.loc[rng.integers(0, n, 30), "x"] = np.nan
    sdf = spark.createDataFrame(pdf).repartition(4)
    # grouped: bit-exact stock pandas per group; span= parameterization
    exp = (
        pdf.groupby("k").x.apply(lambda s: s.ewm(span=5).mean())
        .reset_index(level=0, drop=True).sort_index().to_numpy()
    )
    out = (
        parallelize(sdf, order_by="idx").groupby("k").series("x")
        .ewm(span=5).mean(output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True)
    # grouped ewm var/std: stock pandas per group (bias both ways)
    for func, bias in (("var", False), ("std", False), ("var", True)):
        exp_v = (
            pdf.groupby("k").x
            .apply(lambda s: getattr(s.ewm(alpha=0.3), func)(bias=bias))
            .reset_index(level=0, drop=True).sort_index().to_numpy()
        )
        out_v = (
            parallelize(sdf, order_by="idx").groupby("k").series("x")
            .ewm(alpha=0.3).parallel_apply(func, bias=bias, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out_v, exp_v, rtol=1e-12, atol=1e-12, equal_nan=True), (
            func, bias,
        )
    # com / halflife resolve to pandas' alphas
    from pandarallel_spark.operators.window import resolve_ewm_alpha

    assert resolve_ewm_alpha(com=3.0) == 0.25
    assert abs(resolve_ewm_alpha(halflife=1.0) - 0.5) < 1e-15
    with pytest.raises(ValueError, match="exactly one"):
        resolve_ewm_alpha(com=1.0, span=2.0)
    with pytest.raises(NotImplementedError, match="mean/var/std/sum"):
        parallelize(sdf, order_by="idx").groupby("k").series("x").ewm(
            alpha=0.5
        ).parallel_apply("corr")


def test_global_ewm_var_std_vs_pandas(spark):
    """GLOBAL ewm var/std (r7): adjust=True runs the distributed
    four-moment bucket carry; adjust=False the one-partition stock
    pandas scan. Both must match s.ewm(...).var()/std() across bias /
    ignore_na / min_periods / NaN. Known divergence (documented in
    ewm_moment): bias=False NaN rows while only ONE observation has
    been seen — pandas' float recurrence drifts its exactly-zero debias
    denominator and emits artifact 0.0 there; comparison starts at the
    second observation."""
    rng = np.random.default_rng(91)
    n = 3000
    pdf = pd.DataFrame(
        {
            "idx": np.arange(n, dtype="int64"),
            # large offset: exercises the shift-by-first-obs centering
            # (raw sum-of-squares would cancel catastrophically)
            "x": rng.standard_normal(n) + 1e6,
        }
    )
    pdf.loc[rng.integers(0, n, n // 10), "x"] = np.nan
    sdf = spark.createDataFrame(pdf).repartition(5)
    base = parallelize(sdf, order_by="idx").series("x")
    second_obs = np.nonzero(~pdf.x.isna().to_numpy())[0][1]
    for func, bias, ig, adjust, mp in (
        ("var", False, False, True, 0),
        ("var", True, False, True, 0),
        ("std", False, True, True, 5),
        ("var", False, True, True, 0),
        ("std", True, False, True, 0),
        ("var", False, False, False, 0),
        ("std", False, True, False, 3),
    ):
        exp = getattr(
            pdf.x.ewm(alpha=0.3, adjust=adjust, ignore_na=ig, min_periods=mp),
            func,
        )(bias=bias).to_numpy()
        out = (
            base.ewm(alpha=0.3, adjust=adjust, ignore_na=ig, min_periods=mp)
            .parallel_apply(func, bias=bias, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(
            out[second_obs:], exp[second_obs:],
            rtol=1e-7, atol=1e-10, equal_nan=True,
        ), (func, bias, ig, adjust, mp)


def test_ewm_sum_vs_pandas(spark):
    """ewm().sum() (r7): the unnormalized weighted scan. Grouped = stock
    pandas per key; global = linear bucket-carry fold (per-bucket
    (end_sum, decays, nobs) summary, driver-chained seeds, vectorized
    affine correction). pandas raises NotImplementedError for
    adjust=False and so do we."""
    rng = np.random.default_rng(73)
    n = 5000
    pdf = pd.DataFrame(
        {
            "idx": np.arange(n, dtype="int64"),
            "x": rng.normal(3, 2, n),
            "g": rng.integers(0, 6, n),
        }
    )
    pdf.loc[rng.integers(0, n, n // 12), "x"] = np.nan
    sdf = spark.createDataFrame(pdf).repartition(5)
    base = parallelize(sdf, order_by="idx").series("x")
    for al, ig, mp in (
        (0.25, False, 0),
        (0.25, True, 4),
        (0.9, False, 1),
    ):
        exp = pdf.x.ewm(alpha=al, ignore_na=ig, min_periods=mp).sum().to_numpy()
        out = (
            base.ewm(alpha=al, ignore_na=ig, min_periods=mp)
            .parallel_apply("sum", output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(
            out, exp, rtol=1e-9, atol=1e-12, equal_nan=True
        ), (al, ig, mp)
    # span form + pandas-style alias
    exp = pdf.x.ewm(span=7).sum().to_numpy()
    out = (
        parallelize(sdf, order_by="idx").series("x").ewm(span=7)
        .sum(output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-9, atol=1e-12, equal_nan=True)
    # grouped
    exp = (
        pdf.sort_values("idx").groupby("g")["x"]
        .transform(lambda s: s.ewm(alpha=0.3).sum())
        .reindex(pdf.index).to_numpy()
    )
    out = (
        parallelize(sdf, order_by="idx").groupby("g").series("x")
        .ewm(alpha=0.3).parallel_apply("sum", output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, rtol=1e-9, atol=1e-12, equal_nan=True)
    with pytest.raises(NotImplementedError, match="adjust=False"):
        base.ewm(alpha=0.3, adjust=False).parallel_apply("sum", output_col="r")


def test_rolling_sem_and_expanding_order_stats_vs_pandas(spark):
    """sem = sample std / sqrt(nobs - ddof) (probed pandas 2.2), and the
    order-statistic builtins thread through expanding windows too."""
    rng = np.random.default_rng(41)
    n = 120
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 14)] = np.nan
    pdf = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "x": vals})
    sdf = spark.createDataFrame(pdf).repartition(3)
    base = parallelize(sdf, order_by="idx").series("x")
    for ddof in (1, 0):
        exp = pdf.x.rolling(5, min_periods=3).sem(ddof=ddof).to_numpy()
        out = (
            base.rolling(5, min_periods=3)
            .parallel_apply("sem", win_args={"ddof": ddof}, output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), ddof
    for agg, kw, pkw in (
        ("median", {}, {}),
        ("quantile", {"win_args": {"q": 0.3}}, {"q": 0.3}),
        ("sem", {}, {}),
    ):
        exp = getattr(pdf.x.expanding(2), agg)(**pkw).to_numpy()
        out = (
            base.expanding(2)
            .parallel_apply(agg, output_col="r", **kw)
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        assert np.allclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True), agg


def test_new_ops_empty_input(spark):
    """Empty frames through every operator added this round: right
    schema, zero rows, no crash (classic breaker: sequence/explode/
    collect on nothing)."""
    import pandas as pd

    from pandarallel_spark.operators.join import asof_join
    from pandarallel_spark.operators.text import chunk_documents
    from pandarallel_spark.operators.window import ewm_mean, time_rolling_agg

    empty_ts = spark.createDataFrame([], "k bigint, ts timestamp, x double")
    out = time_rolling_agg(
        empty_ts, "x", "1h", "sum", "ts", partition_by=["k"], output_col="r"
    )
    assert out.count() == 0 and "r" in out.columns
    out = ewm_mean(empty_ts, "x", "ts", alpha=0.5, partition_by=["k"])
    assert out.count() == 0
    # global ewm on an empty frame: quantile job sees no rows
    out = ewm_mean(empty_ts.drop("k"), "x", "ts", alpha=0.5)
    assert out.count() == 0
    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    assert chunk_documents(empty_docs, "doc_id", "text", 8, 4).count() == 0
    left = spark.createDataFrame([], "t double, v double")
    right = spark.createDataFrame(
        pd.DataFrame({"t": [1.0], "px": [2.0]})
    )
    out = asof_join(left, right, on=None, left_ts="t", value_cols=["px"])
    assert out.count() == 0


@pytest.mark.usefixtures("tiny_buckets")
def test_min_periods_zero_sum_matches_pandas(spark):
    """Explicit min_periods=0: pandas sum returns 0.0 on zero-observation
    windows (all-NaN and EMPTY frames alike); mean stays NaN. ADVICE r6 —
    covers the positional, time-offset, and expanding gates (both the
    bucketed and lazy plans run depending on session shape)."""
    pdf = pd.DataFrame(
        {
            "idx": np.arange(6, dtype="int64"),
            "x": [np.nan, np.nan, 1.0, 2.0, np.nan, 3.0],
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(3)
    base = parallelize(sdf, order_by="idx").series("x")

    exp = pdf.x.rolling(2, min_periods=0).sum().to_numpy()
    out = (
        base.rolling(2, min_periods=0).parallel_apply("sum", output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, equal_nan=True), (out, exp)

    # empty frames via closed='neither' with window=1
    exp = pdf.x.rolling(1, min_periods=0, closed="neither").sum().to_numpy()
    out = (
        base.rolling(1, min_periods=0, closed="neither")
        .parallel_apply("sum", output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, equal_nan=True), (out, exp)

    exp = pdf.x.expanding(min_periods=0).sum().to_numpy()
    out = (
        base.expanding(0).parallel_apply("sum", output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, equal_nan=True), (out, exp)

    # mean must NOT be coalesced
    exp = pdf.x.rolling(2, min_periods=0).mean().to_numpy()
    out = (
        base.rolling(2, min_periods=0).parallel_apply("mean", output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, equal_nan=True), (out, exp)

    # time-offset: leading all-NaN window
    tpdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2020-01-01 00:00", "2020-01-01 00:30", "2020-01-01 03:00"]
            ),
            "x": [np.nan, np.nan, 5.0],
        }
    )
    exp = tpdf.set_index("ts").x.rolling("1h", min_periods=0).sum().to_numpy()
    tsdf = spark.createDataFrame(tpdf).repartition(2)
    out = (
        parallelize(tsdf, order_by="ts").series("x")
        .rolling("1h", min_periods=0).parallel_apply("sum", output_col="r")
        .toPandas().sort_values("ts")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out, exp, equal_nan=True), (out, exp)


def test_literal_array_non_finite(spark):
    """literal_array must emit parseable tokens for inf/-inf/nan — the
    repr()+'D' form produced unparseable SQL (ADVICE r6)."""
    from pandarallel_spark.operators.window import literal_array

    arr = literal_array([1.5, float("inf"), float("-inf"), float("nan")])
    row = spark.range(1).select(arr.alias("a")).collect()[0]
    got = row["a"]
    assert got[0] == 1.5 and got[1] == float("inf") and got[2] == float("-inf")
    assert np.isnan(got[3])


def test_time_rolling_wide_window_fanout_capped(spark):
    """ADVICE r6: when the offset spans many quantile buckets (dense
    data, wide window), the explode fan-out must be capped by boundary
    coarsening — and results must still match pandas, for both the
    builtin agg and the UDF path."""
    from pandarallel_spark.operators.window import (
        _offset_bucket_exprs,
        _range_bucket_build,
    )

    rng = np.random.default_rng(77)
    n = 4000
    # 1-second spacing; a 30-minute window spans ~1800 rows — many
    # quantile buckets at the ``bucketed`` fixture's bucket count
    offs = np.cumsum(rng.integers(1, 3, n))
    ts = pd.Timestamp("2023-05-01") + pd.to_timedelta(offs, unit="s")
    pdf = pd.DataFrame({"i": np.arange(n, dtype="int64"), "ts": ts,
                        "x": rng.standard_normal(n)})
    sdf = spark.createDataFrame(pdf).repartition(4)
    s = pd.Series(pdf.x.to_numpy(), index=pd.DatetimeIndex(pdf.ts))

    base = parallelize(sdf, order_by="ts").series("x")
    exp = s.rolling("30min").sum().to_numpy()
    got = (
        base.rolling("30min").parallel_apply("sum", output_col="r")
        .toPandas().sort_values("i")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-9, equal_nan=True)

    f = lambda w: float(np.nansum(w))  # noqa: E731
    got_u = (
        base.rolling("30min").parallel_apply(f, raw=True, output_col="r")
        .toPandas().sort_values("i")["r"].to_numpy(dtype="float64")
    )
    # pandas .apply skips all-NaN windows per min_periods; data has no NaN
    assert np.allclose(got_u, exp, rtol=1e-9, atol=1e-9, equal_nan=True)

    # fan-out bound: with coarsened boundaries the exploded row count
    # stays ≤ 2x the input (plus a small tail allowance)
    from pyspark.sql import functions as F

    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = int(pd.Timedelta("30min").value // 1000)
    from pandarallel_spark.operators._memo import range_bucket_count
    memo = _range_bucket_build(
        sdf, ["ts"], range_bucket_count(sdf), null_msg="x", micros=True,
    )
    src, _own, fwd = _offset_bucket_exprs(memo, t_us, d)
    fan = (
        sdf.withColumn("__src__", src)
        .withColumn("__tgt__", F.explode(F.sequence(F.col("__src__"), fwd)))
        .count()
    )
    assert fan <= 2.2 * n, f"fan-out {fan} rows for {n} inputs"


def test_global_rolling_multicol_order_is_bucketed(spark):
    """2-column order keys (r7): global rolling must bucket on the FIRST
    order column (monotone under the lexicographic order — ties share a
    bucket) instead of silently falling back to the single-partition
    collect_list window, while matching pandas on the tuple-sorted
    frame. Covers the builtin JVM window and the pandas halo UDF path."""
    import io
    from contextlib import redirect_stdout

    rng = np.random.default_rng(23)
    n = 3000
    # heavy ties on the first column; second column breaks them
    pdf = pd.DataFrame(
        {
            "t": rng.integers(0, 400, n).astype("int64"),
            "sub": rng.integers(0, 1_000_000, n).astype("int64"),
            "x": rng.standard_normal(n),
        }
    )
    pdf = pdf.drop_duplicates(["t", "sub"]).reset_index(drop=True)
    pdf.loc[rng.integers(0, len(pdf), len(pdf) // 10), "x"] = np.nan
    sdf = spark.createDataFrame(pdf).repartition(6)
    ref = pdf.sort_values(["t", "sub"], kind="mergesort")
    exp = ref.x.rolling(5, min_periods=2).sum().to_numpy()

    out_df = (
        parallelize(sdf, order_by=["t", "sub"]).series("x")
        .rolling(5, min_periods=2).parallel_apply("sum", output_col="r")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out_df.explain("formatted")
    plan = buf.getvalue()
    assert bucket_partitioned_on(plan, "__bkt__"), "builtin not bucketed"
    assert "MapInPandas" not in plan
    got = (
        out_df.toPandas().sort_values(["t", "sub"])["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(got, exp, rtol=1e-12, atol=1e-12, equal_nan=True)

    # UDF path: pandas halo per bucket (no single-partition repartition)
    f = lambda w: float(np.nansum(w)) if np.count_nonzero(~np.isnan(w)) else np.nan  # noqa: E731
    out_u = (
        parallelize(sdf, order_by=["t", "sub"]).series("x")
        .rolling(5, min_periods=2)
        .parallel_apply(f, raw=True, vectorize=False, output_col="r")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out_u.explain("formatted")
    plan_u = buf.getvalue()
    assert bucket_partitioned_on(plan_u, "__bkt__"), "UDF path not bucketed"
    got_u = (
        out_u.toPandas().sort_values(["t", "sub"])["r"]
        .to_numpy(dtype="float64")
    )
    assert np.allclose(got_u, exp, rtol=1e-9, atol=1e-12, equal_nan=True)


# ---------------------------------------------------------------------------
# ewm(times=): wall-clock halflife decay
# ---------------------------------------------------------------------------


def _times_fixture(seed, n=400, nan_frac=0.1, group=False):
    rng = np.random.default_rng(seed)
    # irregular gaps: bursts (seconds apart), lulls (hours), one huge
    # gap (weeks — decay underflow territory), duplicate timestamps
    gaps_s = rng.choice(
        [0.0, 1.0, 7.0, 60.0, 3600.0, 6 * 3600.0], size=n,
        p=[0.08, 0.3, 0.25, 0.2, 0.12, 0.05],
    )
    gaps_s[n // 2] = 45 * 24 * 3600.0
    t = pd.Timestamp("2024-03-01") + pd.to_timedelta(np.cumsum(gaps_s), unit="s")
    vals = rng.standard_normal(n) * 10 + 3
    # NaNs only at NON-tied rows: with ignore_na=True a NaN row's
    # entering gap is dropped from the decay clock, so a NaN inside a
    # tie group would make even downstream values depend on the
    # arbitrary within-tie order (pandas' own semantics are row-order-
    # dependent there)
    untied = np.nonzero(~pd.Series(t).duplicated(keep=False).to_numpy())[0]
    vals[rng.choice(untied, int(n * nan_frac), replace=False)] = np.nan
    pdf = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "ts": t, "x": vals})
    if group:
        pdf["k"] = rng.integers(0, 5, n)
    return pdf


@pytest.mark.parametrize("ignore_na", [False, True])
def test_ewm_times_global_vs_pandas(spark, ignore_na):
    """Global ewm(times=) runs as bucket-partitioned segmented scans
    chained by carried (num, den) seeds over the transformed wall-clock
    axis — must match single-core pandas across NaN patterns, a 45-day
    decay-underflow gap, both ignore_na modes, and min_periods.

    Duplicate timestamps (Δt = 0) make the within-tie scan order
    arbitrary — the documented caveat shared with positional ewm on an
    unsorted index — so exactness is asserted at non-tied rows (which
    also proves the state LEAVING each tie group is order-invariant);
    a second, unique-times fixture asserts every row."""
    pdf = _times_fixture(101)
    tied = pdf.ts.duplicated(keep=False).to_numpy()
    assert tied.any()  # the fixture must actually exercise ties
    sdf = spark.createDataFrame(pdf).repartition(8)
    for mp in (0, 3):
        exp = pdf.x.ewm(
            halflife=pd.Timedelta("30min"), times=pd.DatetimeIndex(pdf.ts),
            ignore_na=ignore_na, min_periods=mp,
        ).mean().to_numpy()
        out = (
            parallelize(sdf).series("x")
            .ewm(halflife="30min", times="ts", ignore_na=ignore_na,
                 min_periods=mp)
            .mean(output_col="r")
            .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
        )
        ok = np.isclose(out, exp, rtol=1e-9, atol=1e-12, equal_nan=True)
        assert ok[~tied].all(), f"ignore_na={ignore_na} mp={mp}"
    # unique times: every row exact
    rng = np.random.default_rng(404)
    n = 300
    t = pd.Timestamp("2024-05-01") + pd.to_timedelta(
        np.cumsum(rng.integers(1, 7200, n)), unit="s"
    )
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 25)] = np.nan
    pdf2 = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "ts": t, "x": vals})
    exp2 = pdf2.x.ewm(
        halflife=pd.Timedelta("30min"), times=pd.DatetimeIndex(pdf2.ts),
        ignore_na=ignore_na,
    ).mean().to_numpy()
    out2 = (
        parallelize(spark.createDataFrame(pdf2).repartition(8)).series("x")
        .ewm(halflife="30min", times="ts", ignore_na=ignore_na)
        .mean(output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    assert np.allclose(out2, exp2, rtol=1e-9, atol=1e-12, equal_nan=True)


def test_ewm_times_grouped_vs_pandas(spark):
    """Grouped ewm(times=): stock pandas per group — exact at rows with
    a unique within-group timestamp (tied rows carry the same
    arbitrary-order caveat as the global form)."""
    pdf = _times_fixture(202, group=True)
    sdf = spark.createDataFrame(pdf).repartition(4)
    exp = (
        pdf.sort_values(["k", "ts", "idx"], kind="mergesort")
        .groupby("k").apply(
            lambda g: pd.Series(
                g.x.ewm(
                    halflife=pd.Timedelta("1h"), times=pd.DatetimeIndex(g.ts)
                ).mean().to_numpy(),
                index=g.idx,
            )
        )
        .reset_index(level=0, drop=True).sort_index().to_numpy()
    )
    out = (
        parallelize(sdf).groupby("k").series("x")
        .ewm(halflife="1h", times="ts").mean(output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    tied = pdf.duplicated(["k", "ts"], keep=False).to_numpy()
    ok = np.isclose(out, exp, rtol=1e-12, atol=1e-12, equal_nan=True)
    assert ok[~tied].all()


def test_ewm_times_rejections(spark):
    """times-mode surface guards: mean-only (pandas sum/var/std silently
    ignore times — we refuse the trap), adjust=False (pandas' own
    error), com/span/alpha with times, non-datetime times column."""
    pdf = _times_fixture(303, n=20, nan_frac=0.0)
    sdf = spark.createDataFrame(pdf)
    s = parallelize(sdf).series("x")
    with pytest.raises(NotImplementedError, match="positional decay"):
        s.ewm(halflife="1h", times="ts").parallel_apply("sum")
    with pytest.raises(NotImplementedError, match="adjust=False"):
        s.ewm(halflife="1h", times="ts", adjust=False).mean()
    with pytest.raises(ValueError, match="timedelta convertible"):
        s.ewm(alpha=0.5, times="ts").mean()
    with pytest.raises(TypeError, match="date/timestamp"):
        s.ewm(halflife="1h", times="idx").mean()


def test_ewm_times_positional_optin_vs_pandas(spark):
    """r8: ``positional=True`` reproduces pandas' quirk bit-for-bit —
    ewm(times=, halflife=<Timedelta>).sum()/var()/std() silently ignores
    times AND the halflife magnitude, behaving as positional
    halflife=1.0 (probed, pandas 2.2.2). The loud refusal stays the
    default (test_ewm_times_rejections)."""
    rng = np.random.default_rng(77)
    n = 400
    t = pd.Timestamp("2024-03-01") + pd.to_timedelta(
        np.cumsum(rng.integers(1, 5000, n)), unit="s"
    )
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 30)] = np.nan
    pdf = pd.DataFrame({"idx": np.arange(n, dtype="int64"), "ts": t, "x": vals})
    sdf = spark.createDataFrame(pdf).repartition(8)
    # two different Timedeltas must give IDENTICAL results (the quirk
    # ignores the magnitude); each must equal stock pandas on the quirk
    for hl in ("30min", "6h"):
        for func, kw in (("sum", {}), ("var", {}), ("std", {})):
            exp = getattr(
                pdf.x.ewm(
                    halflife=pd.Timedelta(hl), times=pd.DatetimeIndex(pdf.ts),
                    min_periods=2,
                ),
                func,
            )(**kw).to_numpy()
            out = (
                parallelize(sdf, order_by="idx").series("x")
                .ewm(halflife=hl, times="ts", min_periods=2)
                .parallel_apply(func, positional=True, output_col="r")
                .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
            )
            assert np.allclose(out, exp, rtol=1e-9, atol=1e-12, equal_nan=True), (
                f"{func} halflife={hl}"
            )
    # pandas-style alias carries the flag too
    out_alias = (
        parallelize(sdf, order_by="idx").series("x")
        .ewm(halflife="1h", times="ts")
        .sum(positional=True, output_col="r")
        .toPandas().sort_values("idx")["r"].to_numpy(dtype="float64")
    )
    exp_alias = pdf.x.ewm(
        halflife=pd.Timedelta("1h"), times=pd.DatetimeIndex(pdf.ts)
    ).sum().to_numpy()
    assert np.allclose(out_alias, exp_alias, rtol=1e-9, atol=1e-12, equal_nan=True)
    # adjust=False still raises pandas' own construction error
    with pytest.raises(NotImplementedError, match="adjust=False"):
        parallelize(sdf, order_by="idx").series("x").ewm(
            halflife="1h", times="ts", adjust=False
        ).sum(positional=True)


def test_ewm_times_positional_validates_halflife(spark):
    """r8 review: pandas rejects non-timedelta halflife at ewm
    construction even on the quirk path — so must positional=True."""
    pdf = pd.DataFrame({
        "idx": np.arange(10, dtype="int64"),
        "ts": pd.date_range("2024-01-01", periods=10, freq="h"),
        "x": np.arange(10.0),
    })
    sdf = spark.createDataFrame(pdf)
    for bad in (2.0, None):
        with pytest.raises(ValueError, match="timedelta convertible"):
            parallelize(sdf, order_by="idx").series("x").ewm(
                halflife=bad, times="ts"
            ).parallel_apply("sum", positional=True)
        # the MEAN path validates too (review finding r8: the check
        # originally ran only on the non-mean branch, so a float
        # halflife was silently read as nanoseconds)
        with pytest.raises(ValueError, match="timedelta convertible"):
            parallelize(sdf, order_by="idx").series("x").ewm(
                halflife=bad, times="ts"
            ).mean()


def test_grouped_window_udf_keeps_user_column_named_like_bucket(spark, pdf):
    """The grouped-UDF window's temp bucket column takes a name no user
    column has: user columns called ``__gbkt__`` and ``__bkt__`` pass
    through."""
    from pandarallel_spark.operators.window import expanding_apply

    src = pdf.assign(__gbkt__=pdf["idx"] * 2, __bkt__=pdf["idx"] * 2)
    out = expanding_apply(
        spark.createDataFrame(src), "b", lambda w: w.sum(), "idx",
        partition_by=["a"], output_col="r",
    ).toPandas().sort_values("idx").reset_index(drop=True)
    assert out.columns.tolist() == [*src.columns, "r"]
    assert (out["__gbkt__"] == out["idx"] * 2).all()
    assert (out["__bkt__"] == out["idx"] * 2).all()
    expected = src.groupby("a").b.expanding().sum().reset_index(level=0).sort_index()["b"]
    np.testing.assert_allclose(out["r"], expected.to_numpy())


@pytest.mark.parametrize(
    "op",
    ["ewm_mean", "ewm_sum", "ewm_var", "ewm_mean_times", "expanding_sum",
     "rolling_mean", "rolling_udf", "time_rolling_sum", "time_rolling_udf"],
)
def test_global_scan_keeps_user_column_named_like_bucket(spark, pdf, op):
    """The global range-bucket windows (ewm carry scans, expanding
    carry, halo rolling, time rolling) take temporary column names no
    user column has: user columns called ``__bkt__``, ``__ctx__``,
    ``__src__``, ``__tgt__`` and the expanding carry's ``__cn__``,
    ``__crows__``, ``__cs__``, ``__cmn__`` and ``__cmx__`` pass through
    and the results still match pandas."""
    from pandarallel_spark.operators import window as W

    temp_names = ["__bkt__", "__ctx__", "__src__", "__tgt__",
                  "__cn__", "__crows__", "__cs__", "__cmn__", "__cmx__"]
    src = pdf.assign(
        ts=pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["idx"] * 7, unit="min"),
        **dict.fromkeys(temp_names, 777),
    )
    sdf = spark.createDataFrame(src)
    s = src["b"]
    st = pd.Series(s.to_numpy(), index=pd.DatetimeIndex(src["ts"]))
    out, expected = {
        "ewm_mean": lambda: (
            W.ewm_mean(sdf, "b", "idx", alpha=0.3, output_col="r"),
            s.ewm(alpha=0.3).mean(),
        ),
        "ewm_sum": lambda: (
            W.ewm_sum(sdf, "b", "idx", alpha=0.3, output_col="r"),
            s.ewm(alpha=0.3).sum(),
        ),
        "ewm_var": lambda: (
            W.ewm_moment(sdf, "b", "idx", "var", alpha=0.3, output_col="r"),
            s.ewm(alpha=0.3).var(),
        ),
        "ewm_mean_times": lambda: (
            W.ewm_mean_times(sdf, "b", "ts", "1h", output_col="r"),
            s.ewm(halflife=pd.Timedelta("1h"), times=src["ts"]).mean(),
        ),
        "expanding_sum": lambda: (
            W.expanding_apply(sdf, "b", "sum", "idx", output_col="r"),
            s.expanding().sum(),
        ),
        "rolling_mean": lambda: (
            W.rolling_apply(sdf, "b", 5, "mean", "idx", output_col="r"),
            s.rolling(5).mean(),
        ),
        "rolling_udf": lambda: (
            W.rolling_apply(sdf, "b", 5, np.sum, "idx", output_col="r"),
            s.rolling(5).sum(),
        ),
        "time_rolling_sum": lambda: (
            W.rolling_apply(sdf, "b", "1h", "sum", "ts", output_col="r"),
            st.rolling("1h").sum(),
        ),
        "time_rolling_udf": lambda: (
            W.rolling_apply(sdf, "b", "1h", np.sum, "ts", output_col="r"),
            st.rolling("1h").sum(),
        ),
    }[op]()
    out = out.toPandas().sort_values("idx").reset_index(drop=True)
    assert out.columns.tolist() == [*src.columns, "r"]
    assert (out[temp_names] == 777).all().all()
    np.testing.assert_allclose(
        out["r"], expected.to_numpy(), rtol=1e-7, atol=1e-12
    )


# ---------------------------------------------------------------------------
# One boundary build: NULL/NaN order keys and the range-bucket sampler
# ---------------------------------------------------------------------------

_NULL_KEY_OPS = {
    # op: (build(sdf, order), order columns, message fragment)
    "halo_builtin": (
        lambda W, d, o: W.rolling_apply(d, "x", 4, "mean", o, output_col="r"),
        ["o"], "global rolling over order columns",
    ),
    "halo_udf": (
        lambda W, d, o: W.rolling_apply(
            d, "x", 4, lambda a: float(a.sum()), o, raw=True, output_col="r"
        ),
        ["o"], "global rolling over order columns",
    ),
    "halo_second_col": (
        lambda W, d, o: W.rolling_apply(
            d, "x", 4, lambda a: float(a.sum()), o, raw=True, output_col="r"
        ),
        ["o", "o2"], "global rolling over order columns",
    ),
    "expanding_sum": (
        lambda W, d, o: W.expanding_apply(d, "x", "sum", o, output_col="r"),
        ["o"], "global expanding over order column",
    ),
    "expanding_var": (
        lambda W, d, o: W.expanding_apply(d, "x", "var", o, output_col="r"),
        ["o"], "global expanding over order column",
    ),
    "time_rolling_builtin": (
        lambda W, d, o: W.rolling_apply(d, "x", "1h", "sum", o, output_col="r"),
        ["ts"], "global time-offset rolling over order column",
    ),
    "time_rolling_udf": (
        lambda W, d, o: W.rolling_apply(d, "x", "1h", np.sum, o, output_col="r"),
        ["ts"], "global time-offset rolling over order column",
    ),
    "ewm_mean": (
        lambda W, d, o: W.ewm_mean(d, "x", o, alpha=0.3, output_col="r"),
        ["o"], "ewm over order column",
    ),
    "ewm_var": (
        lambda W, d, o: W.ewm_moment(d, "x", o, "var", alpha=0.3, output_col="r"),
        ["o"], "ewm over order column",
    ),
    "ewm_sum": (
        lambda W, d, o: W.ewm_sum(d, "x", o, alpha=0.3, output_col="r"),
        ["o"], "ewm over order column",
    ),
    "ewm_mean_times": (
        lambda W, d, o: W.ewm_mean_times(d, "x", o, "1h", output_col="r"),
        ["ts"], "ewm times column",
    ),
}


def _bad_key_frame(spark, bad_col: str, bad: str):
    """600 rows, float order keys ``o``/``o2``, timestamp ``ts``, with
    one NULL (or float NaN) key in ``bad_col`` mid-frame. Built in Spark:
    a pandas NaN would arrive as NULL."""
    from pyspark.sql import functions as F

    df = spark.range(600).select(
        F.col("id").alias("i"),
        (F.col("id") * 1.5).alias("o"),
        F.col("id").cast("double").alias("o2"),
        F.timestamp_seconds(F.lit(1_600_000_000) + F.col("id") * 60).alias("ts"),
        F.sin(F.col("id")).alias("x"),
    )
    value = (
        F.lit(float("nan")) if bad == "nan" else F.lit(None)
    ).cast(df.schema[bad_col].dataType)
    return df.withColumn(
        bad_col, F.when(F.col("i") == 311, value).otherwise(F.col(bad_col))
    ).repartition(4)


@pytest.mark.parametrize(
    "op,bad",
    [
        (op, bad)
        for op, (_b, order, _m) in _NULL_KEY_OPS.items()
        for bad in (["null"] if order == ["ts"] else ["null", "nan"])
    ],
)
def test_range_bucket_window_rejects_null_or_nan_order_key(spark, monkeypatch, op, bad):
    """Every global range-bucket window rejects a NULL order key (and
    NaN in a float one) with its own message: the bucketed plan at build
    time, from the boundary aggregate's flag, at one shuffle partition
    too; the one-task plan (an input within ``ONE_TASK_BYTES``) when it
    executes."""
    import re

    from pandarallel_spark.operators import _memo
    from pandarallel_spark.operators import window as W

    build, order, msg = _NULL_KEY_OPS[op]
    sdf = _bad_key_frame(spark, order[-1], bad)
    arg = order if len(order) > 1 else order[0]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in (prev, "1"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            with pytest.raises(ValueError, match=re.escape(msg)):
                build(W, sdf, arg)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    monkeypatch.setattr(_memo, "ONE_TASK_BYTES", 1 << 20)
    out = build(W, sdf, arg)
    with pytest.raises(Exception, match=re.escape(msg)):
        out.collect()


def _jobs_of(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted by job group once the
    listener bus has delivered their events."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _sampler_frame(spark, path, n: int = 5000):
    """Int, float (with NaN and NULL), timestamp and date columns, read
    back from parquet: a file split's rows do not depend on which columns
    a query projects, as a round-robin ``repartition``'s do."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(41)
    f = rng.standard_normal(n)
    pdf = pd.DataFrame({
        "i": rng.integers(-(10**6), 10**6, n),
        "f": f,
        "ts": pd.Timestamp("2023-01-01")
        + pd.to_timedelta(rng.integers(0, 10**12, n), unit="us"),
    })
    sdf = spark.createDataFrame(pdf)
    # real NaN (a pandas NaN would arrive as NULL) plus NULLs
    sdf.withColumns({
        "f": F.when(F.col("i") % 13 == 0, F.lit(float("nan")))
        .when(F.col("i") % 17 == 0, F.lit(None))
        .otherwise(F.col("f")),
        "d": F.date_add(
            F.to_date(F.lit("2000-01-01")), F.pmod("i", F.lit(9000)).cast("int")
        ),
    }).repartition(4).write.parquet(str(path))
    return spark.read.parquet(str(path))


def _approx_quantile_bounds(sdf, num, n_buckets, rel_err):
    qs = sdf.select(num.alias("__q__")).approxQuantile(
        "__q__", [i / n_buckets for i in range(n_buckets + 1)], rel_err
    )
    vlo, vhi = (qs[0], qs[-1]) if qs else (float("nan"), float("nan"))
    return vlo, vhi, sorted(set(qs[1:-1]))


def _same_bounds(got: dict, ref: tuple) -> bool:
    vlo, vhi, bnds = ref
    return (
        np.array_equal([got["vlo"], got["vhi"]], [vlo, vhi], equal_nan=True)
        and got["bnds"] == bnds
    )


@pytest.mark.parametrize("kind", ["int", "float_nan", "ts_s", "ts_us", "date"])
def test_range_boundaries_match_approx_quantile(spark, tmp_path, kind):
    """At relative error ``1/n_buckets`` the one-aggregate sampler gives
    exactly the boundaries of ``DataFrame.approxQuantile`` at that
    error (NULL and NaN skipped)."""
    from pyspark.sql import functions as F

    from pandarallel_spark.operators.window import range_boundaries

    sdf = _sampler_frame(spark, tmp_path / "frame")
    col, micros = {
        "int": ("i", False), "float_nan": ("f", False), "ts_s": ("ts", False),
        "ts_us": ("ts", True), "date": ("d", False),
    }[kind]
    c = F.col(col)
    if micros:
        num = F.unix_micros(c.cast("timestamp")).cast("double")
    elif kind in ("int", "float_nan"):
        num = c.cast("double")
    else:
        num = c.cast("timestamp").cast("double")
    for n_buckets in (32, 64, 512):
        (got,), flagged = range_boundaries(
            sdf, [col], n_buckets, micros=micros, accuracy=n_buckets
        )
        assert not flagged
        ref = _approx_quantile_bounds(sdf, num, n_buckets, 1.0 / n_buckets)
        assert _same_bounds(got, ref), (n_buckets, got["bnds"][:5], ref[2][:5])
        assert len(got["bnds"]) > n_buckets // 2


def test_range_boundaries_empty_and_all_null(spark):
    """No sampled value: NaN endpoints, no inner boundaries (one
    bucket), as ``approxQuantile``'s empty result gave; the NULL flag
    comes from the same aggregate."""
    from pyspark.sql import functions as F

    from pandarallel_spark.operators.window import range_boundaries

    sdf = spark.range(50).select(
        F.col("id").cast("double").alias("v"),
        F.lit(None).cast("double").alias("n"),
    )
    for df, col, flag in (
        (sdf.filter(F.col("v") < 0), "v", False),
        (sdf, "n", True),
    ):
        (got,), flagged = range_boundaries(
            df, [col], 64, bad=F.col(col).isNull()
        )
        assert flagged is flag
        ref = _approx_quantile_bounds(df, F.col(col), 64, 1.0 / 64)
        assert ref[2] == [] and _same_bounds(got, ref)
        assert np.isnan(got["vlo"]) and np.isnan(got["vhi"])


def test_zorder_key_ranks_match_approx_quantile(spark, tmp_path):
    """``zorder_key`` samples all its columns in one aggregate at
    relative error ``2/n_buckets``; the key equals the one built from
    per-column ``approxQuantile`` boundaries."""
    from pyspark.sql import functions as F

    from pandarallel_spark.operators.window import bucket_assignment_expr
    from pandarallel_spark.sources.tables import zorder_key

    sdf = _sampler_frame(spark, tmp_path / "frame")
    cols = ["i", "f", "ts"]
    for bits in (6, 9):
        n_buckets = 1 << bits
        ranks = []
        for c in cols:
            num = F.col(c).cast("double") if c != "ts" else (
                F.col(c).cast("timestamp").cast("double")
            )
            vlo, vhi, bnds = _approx_quantile_bounds(
                sdf, num, n_buckets, 2.0 / n_buckets
            )
            r = F.coalesce(
                bucket_assignment_expr(num, bnds, vlo, vhi).cast("long"), F.lit(0)
            )
            ranks.append(F.least(F.greatest(r, F.lit(0)), F.lit(n_buckets - 1)))
        z = F.lit(0).cast("long")
        for b in range(bits):
            for j, r in enumerate(ranks):
                bit = F.shiftright(r, b).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(F.shiftleft(bit, b * len(cols) + j))
        out = (
            zorder_key(sdf, cols, bits_per_col=bits, output_col="z")
            .select("z", z.alias("want")).toPandas()
        )
        assert out["z"].tolist() == out["want"].tolist()


def test_boundary_build_runs_one_aggregate(spark, tmp_path):
    """A cold boundary build runs the jobs of ONE aggregate — the NULL
    check rides in the sampler's aggregate instead of a separate
    ``filter().limit(1).count()`` action — and ``zorder_key`` samples
    three columns in the same jobs as two."""
    from pyspark.sql import functions as F

    from pandarallel_spark.operators.window import _range_bucket_build
    from pandarallel_spark.sources.tables import zorder_key

    path = str(tmp_path / "frame")
    spark.range(4000).select(
        F.col("id").alias("a"),
        F.sin(F.col("id")).alias("b"),
        (F.col("id") % 97).alias("c"),
    ).repartition(4).write.parquet(path)
    df = spark.read.parquet(path)
    one_agg = _jobs_of(spark, lambda: df.agg(F.max("a")).collect())
    assert _jobs_of(
        spark, lambda: _range_bucket_build(df, ["a", "b"], 64, null_msg="x")
    ) == one_agg
    assert _jobs_of(spark, lambda: zorder_key(df, ["a", "b"])) == one_agg
    assert _jobs_of(spark, lambda: zorder_key(df, ["a", "b", "c"])) == one_agg


@pytest.mark.parametrize("parts", ["1", "4"])
@pytest.mark.parametrize("op", ["rolling_udf", "ewm_mean"])
def test_grouped_window_output_col_replaces_in_place(spark, op, parts):
    """An ``output_col`` naming an existing column replaces it where it
    stands, like ``withColumn``, on the grouped per-group pandas
    windows too, at one shuffle partition and at several."""
    from pandarallel_spark.operators import window as W

    rng = np.random.default_rng(5)
    n = 300
    pdf = pd.DataFrame({"g": rng.integers(0, 7, n), "o": np.arange(n) * 1.0, "x": rng.random(n)})
    df = spark.createDataFrame(pdf)
    build, pandas_op = {
        "rolling_udf": (
            lambda: W.rolling_apply(
                df, "x", 4, lambda a: float(a.sum()), "o", partition_by=["g"],
                raw=True, vectorize=False, output_col="x",
            ),
            lambda s: s.rolling(4).sum(),
        ),
        "ewm_mean": (
            lambda: W.ewm_mean(df, "x", "o", partition_by=["g"], alpha=0.3, output_col="x"),
            lambda s: s.ewm(alpha=0.3).mean(),
        ),
    }[op]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        out = build()
        assert out.columns == ["g", "o", "x"]
        got = out.toPandas().sort_values("o")["x"].to_numpy(dtype="float64")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    want = pdf.groupby("g")["x"].transform(pandas_op).to_numpy()
    np.testing.assert_allclose(got, want, rtol=1e-9)


@pytest.mark.parametrize("parts", ["1", "8"])
@pytest.mark.parametrize("bad", ["null", "nan"])
def test_global_expanding_udf_rejects_null_or_nan_order_key(spark, parts, bad):
    """A global expanding UDF raises the builtin expanding's NULL/NaN
    order-key ``ValueError`` at one shuffle partition and at several."""
    import re
    import warnings

    from pandarallel_spark.operators import window as W

    sdf = _bad_key_frame(spark, "o", bad)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts)
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # SINGLE-PARTITION
            out = W.expanding_apply(sdf, "x", lambda a: float(a.sum()), "o", output_col="r")
        with pytest.raises(Exception, match=re.escape(W._expanding_null_msg(["o"]))) as e:
            out.collect()
        assert "ValueError" in str(e.value)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("raw", [True, False])
def test_global_expanding_udf_matches_pandas(spark, raw):
    """A global expanding UDF over 4,000 rows equals stock pandas
    ``expanding(min_periods).apply`` on the key-sorted frame, the
    ``raw=False`` window indexed by the order column."""
    rng = np.random.default_rng(17)
    n = 4000
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 80)] = np.nan
    pdf = pd.DataFrame({"o": rng.permutation(n) * 0.5, "x": vals})
    sdf = spark.createDataFrame(pdf).repartition(4)
    if raw:
        func = lambda a: float(np.nanmax(a) - np.nanmean(a))  # noqa: E731
    else:
        func = lambda s: float(s.sum() + s.index[-1])  # noqa: E731
    want = pdf.sort_values("o").set_index("o").x.expanding(3).apply(func, raw=raw)
    with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
        out = (
            parallelize(sdf, order_by="o").series("x").expanding(3)
            .parallel_apply(func, raw=raw, output_col="r")
        )
    got = out.toPandas().sort_values("o")["r"].to_numpy(dtype="float64")
    assert np.array_equal(got, want.to_numpy(), equal_nan=True)


def test_rolling_udf_string_order_key_matches_pandas(spark):
    """A global rolling UDF whose first order column is a string (which
    range buckets cannot sample) rolls the key-sorted frame in one task
    and equals pandas, ``raw=True`` and ``raw=False``."""
    rng = np.random.default_rng(19)
    n = 1500
    pdf = pd.DataFrame({
        "k": [f"key-{i:05d}" for i in rng.permutation(n)],
        "x": rng.standard_normal(n),
    })
    sdf = spark.createDataFrame(pdf).repartition(4)
    ref = pdf.sort_values("k").set_index("k").x
    for raw, func in [
        (True, lambda a: float(a[0] * a[-1] + a.sum())),
        (False, lambda s: float(s.sum()) + len(s.index[-1])),
    ]:
        with pytest.warns(UserWarning, match="SINGLE-PARTITION"):
            out = (
                parallelize(sdf, order_by="k").series("x").rolling(5, min_periods=2)
                .parallel_apply(func, raw=raw, output_col="r")
            )
        got = out.toPandas().sort_values("k")["r"].to_numpy(dtype="float64")
        want = ref.rolling(5, min_periods=2).apply(func, raw=raw).to_numpy()
        assert np.array_equal(got, want, equal_nan=True), raw


@pytest.mark.parametrize("op", ["rolling", "expanding"])
def test_global_udf_window_needs_named_atomic_order_columns(spark, op):
    """A global UDF window sorts its order columns in pandas: a
    ``Column`` order expression or a non-atomic order column raises
    ``TypeError`` at build."""
    from pyspark.sql import functions as F

    from pandarallel_spark.operators import window as W

    df = spark.range(50).select(
        F.col("id").cast("double").alias("o"),
        F.array(F.col("id")).alias("arr"),
        F.rand(3).alias("x"),
    )
    build = {
        "rolling": lambda o: W.rolling_apply(df, "x", 3, lambda a: float(a.sum()), o),
        "expanding": lambda o: W.expanding_apply(df, "x", lambda a: float(a.sum()), o),
    }[op]
    for order in (F.col("o"), "arr", ["o", "arr"]):
        with pytest.raises(TypeError, match="named order columns"):
            build(order)


def test_weighted_var_runs_no_count_job(spark, fake_scipy, tmp_path):
    """A cold global weighted var build reads every bucket's row count
    from the context rows it already collects: it runs as many Spark
    jobs as the weighted mean's build, and both match pandas."""
    from pandarallel_spark.operators import window as W

    rng = np.random.default_rng(29)
    n = 3000
    vals = rng.standard_normal(n)
    vals[rng.integers(0, n, 60)] = np.nan
    pdf = pd.DataFrame({"o": rng.permutation(n).astype("float64"), "x": vals})
    spark.createDataFrame(pdf).repartition(3).write.parquet(str(tmp_path / "w"))
    sdf = spark.read.parquet(str(tmp_path / "w"))
    ref = pdf.sort_values("o").x.rolling(5, win_type="triang", min_periods=1)
    jobs = {}
    for agg in ("var", "mean"):
        W._HALO_MEMO.clear()
        W._EXPB_MEMO.clear()
        out = []
        jobs[agg] = _jobs_of(spark, lambda agg=agg: out.append(W.rolling_apply(
            sdf, "x", 5, agg, "o", win_type="triang", min_periods=1, output_col="r"
        )))
        got = out[0].toPandas().sort_values("o")["r"].to_numpy(dtype="float64")
        want = getattr(ref, agg)().to_numpy()
        np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12, equal_nan=True)
    assert jobs["var"] == jobs["mean"] > 0, jobs


@pytest.mark.parametrize("agg", ["var", "std"])
def test_weighted_var_tied_order_keys_match_pandas(spark, fake_scipy, tmp_path, agg):
    """Weighted var/std over order keys tied in threes, so ties sit at
    every bucket's edges: each bucket's row count — and with it every
    later row's global index and rotating weight — must not depend on
    how the two context row_numbers order tied rows. Tied rows share
    their value, so any order of them gives pandas' result."""
    from pandarallel_spark.operators import window as W

    rng = np.random.default_rng(31)
    n = 3000
    base = rng.standard_normal(n // 3)
    base[rng.integers(0, n // 3, 20)] = np.nan
    pdf = pd.DataFrame({"o": (np.arange(n) // 3).astype("float64"), "x": np.repeat(base, 3)})
    pdf = pdf.sample(frac=1.0, random_state=3, ignore_index=True)
    spark.createDataFrame(pdf).repartition(3).write.parquet(str(tmp_path / "t"))
    sdf = spark.read.parquet(str(tmp_path / "t"))
    W._HALO_MEMO.clear()
    W._EXPB_MEMO.clear()
    out = W.rolling_apply(
        sdf, "x", 5, agg, "o", win_type="triang", min_periods=1, output_col="r"
    )
    want = pdf.sort_values("o", kind="mergesort")
    want["r"] = getattr(want.x.rolling(5, win_type="triang", min_periods=1), agg)()
    # a tie group's results may land on its rows in any order
    got, want = (
        f.sort_values(["o", "r"])["r"].to_numpy(dtype="float64")
        for f in (out.toPandas(), want)
    )
    # windows of one repeated value have variance 0 up to the last ulp,
    # which std's square root lifts to ~1e-7
    atol = 1e-12 if agg == "var" else 1e-6
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=atol, equal_nan=True)
