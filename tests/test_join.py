"""Differential tests for as-of / range joins against pandas
merge_asof and hand-computed ground truth."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandarallel_spark.operators.join import asof_join, range_join


@pytest.fixture(scope="module")
def trades_quotes(spark):
    rng = np.random.default_rng(13)
    trades = pd.DataFrame(
        {
            "sym": rng.choice(["A", "B", "C"], 300),
            "t": np.sort(rng.integers(0, 10_000, 300)),
            "qty": rng.integers(1, 100, 300),
        }
    )
    quotes = pd.DataFrame(
        {
            "sym": rng.choice(["A", "B", "C"], 500),
            "t": np.sort(rng.integers(0, 10_000, 500)),
            "px": rng.random(500).round(4) * 100,
        }
    ).drop_duplicates(["sym", "t"])
    return trades, quotes


def test_asof_matches_pandas(spark, trades_quotes):
    trades, quotes = trades_quotes
    expected = pd.merge_asof(
        trades.sort_values("t", kind="mergesort"),
        quotes.sort_values("t", kind="mergesort"),
        on="t",
        by="sym",
        direction="backward",
    )
    got = asof_join(
        spark.createDataFrame(trades),
        spark.createDataFrame(quotes),
        on="sym",
        left_ts="t",
        value_cols=["px"],
        suffix="",
    ).toPandas()
    key = ["sym", "t", "qty"]
    e = expected.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(g["px"], e["px"], check_names=False)


def test_asof_tolerance(spark, trades_quotes):
    trades, quotes = trades_quotes
    expected = pd.merge_asof(
        trades.sort_values("t", kind="mergesort"),
        quotes.sort_values("t", kind="mergesort"),
        on="t",
        by="sym",
        direction="backward",
        tolerance=50,
    )
    got = asof_join(
        spark.createDataFrame(trades),
        spark.createDataFrame(quotes),
        on="sym",
        left_ts="t",
        value_cols=["px"],
        tolerance=F.lit(50),
        suffix="",
    ).toPandas()
    key = ["sym", "t", "qty"]
    e = expected.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(g["px"], e["px"], check_names=False)


@pytest.mark.parametrize("direction", ["forward", "nearest"])
@pytest.mark.parametrize("tol", [None, 50])
def test_asof_directions_match_pandas(spark, trades_quotes, direction, tol):
    trades, quotes = trades_quotes
    expected = pd.merge_asof(
        trades.sort_values("t", kind="mergesort"),
        quotes.sort_values("t", kind="mergesort"),
        on="t",
        by="sym",
        direction=direction,
        tolerance=tol,
    )
    got = asof_join(
        spark.createDataFrame(trades),
        spark.createDataFrame(quotes),
        on="sym",
        left_ts="t",
        value_cols=["px"],
        direction=direction,
        tolerance=None if tol is None else F.lit(tol),
        suffix="",
    ).toPandas()
    key = ["sym", "t", "qty"]
    e = expected.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(g["px"], e["px"], check_names=False)


def test_asof_nearest_tie_prefers_backward(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": ["x"], "t": [10], "v": [1]}))
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["x", "x"], "t": [5, 15], "px": [1.0, 2.0]})
    )
    out = asof_join(
        left, right, on="k", left_ts="t", value_cols=["px"], direction="nearest"
    ).toPandas()
    assert out["px_asof"].iloc[0] == 1.0


def test_asof_bad_direction_raises(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": ["x"], "t": [5]}))
    with pytest.raises(ValueError, match="direction"):
        asof_join(left, left, on="k", left_ts="t", direction="sideways")


def test_asof_no_match_is_null(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": ["x"], "t": [5], "v": [1]}))
    right = spark.createDataFrame(pd.DataFrame({"k": ["x"], "t": [10], "px": [2.0]}))
    out = asof_join(left, right, on="k", left_ts="t", value_cols=["px"]).toPandas()
    assert pd.isna(out["px_asof"].iloc[0])


def test_asof_equal_ts_matches(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": ["x"], "t": [10], "v": [1]}))
    right = spark.createDataFrame(pd.DataFrame({"k": ["x"], "t": [10], "px": [2.0]}))
    out = asof_join(left, right, on="k", left_ts="t", value_cols=["px"]).toPandas()
    assert out["px_asof"].iloc[0] == 2.0


@pytest.fixture(scope="module")
def global_trades_quotes():
    """Key-less frames: enough rows to span many range buckets (one per
    KiB of input under the ``bucketed`` fixture), with tied and duplicate
    LEFT timestamps; right timestamps unique (the documented as-of
    contract). Sparse right side so many buckets have no right row and
    the carry must chain across empty buckets."""
    rng = np.random.default_rng(7)
    trades = pd.DataFrame(
        {
            "t": np.sort(rng.integers(0, 100_000, 2_000)),
            "qty": rng.integers(1, 100, 2_000),
        }
    )
    quotes = pd.DataFrame(
        {
            "t": np.sort(
                rng.choice(np.arange(0, 100_000, 7), 120, replace=False)
            ),
            "px": rng.random(120).round(4) * 100,
        }
    )
    return trades, quotes


@pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
@pytest.mark.parametrize("exact", [True, False])
@pytest.mark.usefixtures("bucketed")
def test_asof_global_matches_pandas(spark, global_trades_quotes, direction, exact):
    """on=None (pd.merge_asof without by=) — the range-bucketed global
    path with cross-bucket carry rows must match pandas exactly."""
    trades, quotes = global_trades_quotes
    expected = pd.merge_asof(
        trades, quotes, on="t", direction=direction, allow_exact_matches=exact
    )
    got = asof_join(
        spark.createDataFrame(trades),
        spark.createDataFrame(quotes),
        on=None,
        left_ts="t",
        value_cols=["px"],
        direction=direction,
        allow_exact_matches=exact,
        suffix="",
    ).toPandas()
    key = ["t", "qty"]
    e = expected.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(g["px"], e["px"], check_names=False)


@pytest.mark.usefixtures("bucketed")
def test_asof_global_tolerance(spark, global_trades_quotes):
    trades, quotes = global_trades_quotes
    expected = pd.merge_asof(trades, quotes, on="t", tolerance=40)
    got = asof_join(
        spark.createDataFrame(trades),
        spark.createDataFrame(quotes),
        on=None,
        left_ts="t",
        value_cols=["px"],
        tolerance=F.lit(40),
        suffix="",
    ).toPandas()
    key = ["t", "qty"]
    e = expected.sort_values(key).reset_index(drop=True)
    g = got.sort_values(key).reset_index(drop=True)
    pd.testing.assert_series_equal(g["px"], e["px"], check_names=False)


@pytest.mark.usefixtures("bucketed")
def test_asof_global_parallel_plan(spark, global_trades_quotes):
    """The global path must NOT be a single-partition window: the window
    partitions by the range-bucket id."""
    trades, quotes = global_trades_quotes
    out = asof_join(
        spark.createDataFrame(trades),
        spark.createDataFrame(quotes),
        on=None,
        left_ts="t",
        value_cols=["px"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__bkt__" in plan


@pytest.mark.usefixtures("tiny_buckets")
def test_asof_global_null_ts_routing(spark):
    """NULL left timestamps → NULL match (never a window over Spark's
    nulls-first sort); NULL right timestamps never match anything."""
    left = spark.createDataFrame(
        pd.DataFrame({"t": pd.array([5, None, 20], dtype="Int64"), "v": [1, 2, 3]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"t": pd.array([1, None, 10], dtype="Int64"), "px": [1.0, 9.0, 2.0]})
    )
    for direction in ("backward", "forward", "nearest"):
        out = (
            asof_join(
                left, right, on=None, left_ts="t", value_cols=["px"],
                direction=direction,
            )
            .toPandas()
            .set_index("v")
        )
        assert pd.isna(out.loc[2, "px_asof"]), direction
        assert not (out["px_asof"] == 9.0).any(), direction
    back = asof_join(
        left, right, on=None, left_ts="t", value_cols=["px"]
    ).toPandas().set_index("v")
    assert back.loc[1, "px_asof"] == 1.0 and back.loc[3, "px_asof"] == 2.0


def test_range_join(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b"], "t": [0, 100, 0], "lid": [1, 2, 3]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b"], "t2": [5, 400, 500], "rid": [10, 20, 30]})
    )
    out = range_join(
        left,
        right,
        on="k",
        condition=(F.col("t2") >= F.col("t")) & (F.col("t2") <= F.col("t") + 10),
    ).toPandas()
    assert set(zip(out.lid, out.rid)) == {(1, 10)}


def test_asof_matched_null_value_stays_null(spark):
    """A matched right row with a NULL value column must yield NULL (the
    matched row's value), not an earlier/later row's value — per-column
    ignorenulls fills would skip it (review regression)."""
    left = spark.createDataFrame(pd.DataFrame({"k": ["x", "x"], "t": [0, 3], "v": [1, 2]}))
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["x", "x"], "t": [1, 2], "px": [7.0, np.nan]})
    )
    fwd = asof_join(
        left, right, on="k", left_ts="t", value_cols=["px"], direction="forward"
    ).toPandas().set_index("t")
    # left t=0 matches right t=1 (px=7); left t=3 has no forward match
    assert fwd.loc[0, "t_asof"] == 1 and fwd.loc[0, "px_asof"] == 7.0
    assert pd.isna(fwd.loc[3, "t_asof"])

    back = asof_join(
        left, right, on="k", left_ts="t", value_cols=["px"], direction="backward"
    ).toPandas().set_index("t")
    # left t=3 matches right t=2 whose px is NULL — must stay NULL with ts_asof=2
    assert back.loc[3, "t_asof"] == 2 and pd.isna(back.loc[3, "px_asof"])

    near = asof_join(
        left, right, on="k", left_ts="t", value_cols=["px"], direction="nearest"
    ).toPandas().set_index("t")
    assert near.loc[3, "t_asof"] == 2 and pd.isna(near.loc[3, "px_asof"])
