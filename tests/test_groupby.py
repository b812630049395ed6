"""Differential tests for DataFrameGroupBy.parallel_apply (reference
tests/test_pandarallel.py:272-305; fixture F5) — scalar, Series and
DataFrame UDF returns, multi-key (float key) groupby."""

import numpy as np
import pandas as pd
import pytest

from pandarallel_spark import parallelize


@pytest.fixture(scope="module")
def pdf():
    rng = np.random.default_rng(5)
    n = 3000
    return pd.DataFrame(
        {
            "a": rng.integers(1, 100, n),  # includes single-member groups
            "b": rng.random(n),
            "c": rng.random(n),
        }
    )


@pytest.fixture(scope="module")
def sdf(spark, pdf):
    return spark.createDataFrame(pdf)


def test_scalar_return(spark, pdf, sdf):
    func = lambda g: g.b.min() - g.c.max()  # noqa: E731
    expected = (
        pdf.groupby("a")[["b", "c"]].apply(func).rename("result").reset_index()
    )
    got = (
        parallelize(sdf).groupby("a").parallel_apply(func)
        .toPandas().sort_values("a").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got, expected.sort_values("a").reset_index(drop=True), check_dtype=False
    )


def test_frame_return(spark, pdf, sdf):
    # reference :106-114 — DataFrame per group with named agg columns
    func = lambda g: pd.DataFrame(  # noqa: E731
        [[g.b.mean(), g.b.min(), g.b.max()]], columns=["b_mean", "b_min", "b_max"]
    )
    expected = (
        pdf.groupby("a")
        .apply(lambda g: func(g), include_groups=False)
        .reset_index(level=0)
        .reset_index(drop=True)
    )
    got = (
        parallelize(sdf).groupby("a").parallel_apply(func)
        .toPandas().sort_values("a").reset_index(drop=True)
    )
    cols = ["a", "b_mean", "b_min", "b_max"]
    pd.testing.assert_frame_equal(
        got[cols],
        expected.sort_values("a").reset_index(drop=True)[cols],
        check_dtype=False,
    )


def test_series_return(spark, pdf, sdf):
    func = lambda g: pd.Series({"lo": g.b.min(), "hi": g.b.max()})  # noqa: E731
    expected = pdf.groupby("a")[["b", "c"]].apply(func).reset_index()
    got = (
        parallelize(sdf).groupby("a").parallel_apply(func)
        .toPandas().sort_values("a").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got, expected.sort_values("a").reset_index(drop=True), check_dtype=False
    )


def test_multi_key_float(spark):
    # reference :287-293 groups by ["a", "b"] where b is float
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {
            "a": rng.integers(1, 5, 500),
            "b": rng.integers(0, 3, 500).astype("float64"),
            "c": rng.random(500),
        }
    )
    sdf = spark.createDataFrame(pdf)
    func = lambda g: g.c.sum()  # noqa: E731
    expected = pdf.groupby(["a", "b"])[["c"]].apply(func).rename("result").reset_index()
    got = (
        parallelize(sdf).groupby("a", "b").parallel_apply(func)
        .toPandas().sort_values(["a", "b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got,
        expected.sort_values(["a", "b"]).reset_index(drop=True),
        check_dtype=False,
    )


def test_mutation_passthrough(spark, pdf, sdf):
    # reference "mutated groups" (dataframe_groupby.py:37): UDF returns the
    # group frame itself, transformed — a per-group identity-shaped map
    func = lambda g: g.assign(b2=g.b * 2)  # noqa: E731
    got = (
        parallelize(sdf).groupby("a").parallel_apply(func)
        .toPandas().sort_values(["a", "b"]).reset_index(drop=True)
    )
    expected = (
        pdf.assign(b2=pdf.b * 2).sort_values(["a", "b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["a", "b", "c", "b2"]], expected[["a", "b", "c", "b2"]], check_dtype=False
    )


def test_explicit_schema_skips_inference(spark, sdf):
    got = (
        parallelize(sdf)
        .groupby("a")
        .parallel_apply(
            lambda g: float(g.b.sum()),
            schema="a bigint, result double",
            mode="scalar",
        )
        .count()
    )
    assert got == 99 or got > 0


def test_none_returning_mutator_raises_clearly(spark, sdf):
    """pandas yields an EMPTY result for None-returning (in-place
    mutating) funcs; the engine fails loudly with the fix spelled out
    instead of emitting junk (reference mutation detection,
    dataframe_groupby.py:37, served pandas 1.x conventions)."""
    import pytest as _pytest

    def mutate_in_place(g):
        g["b2"] = g.b * 2

    with _pytest.raises(ValueError, match="mutating it in place"):
        parallelize(sdf).groupby("a").parallel_apply(mutate_in_place)


def test_grouped_apply_coarse_bucketing_is_group_count_invariant(
    spark, monkeypatch
):
    """r15: grouped_apply keys its Python stage on a coarse hash of the
    group keys (the r14 per-group-overhead pattern applied to the
    flagship op). The result must be identical for ANY bucket count —
    1, a prime, and more buckets than groups — across all three result
    modes, with NULL keys and multi-column keys included."""
    import pandas as pd

    from pandarallel_spark.operators import _memo, groupby as gb

    pdf = pd.DataFrame(
        {
            "k1": [1, 1, 2, 2, 2, None, None, 3],
            "k2": ["x", "x", "y", "y", "z", "z", "z", None],
            "v": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0],
        }
    )
    sdf = spark.createDataFrame(pdf)

    def run(mode, func, schema):
        out = gb.grouped_apply(
            sdf, ["k1", "k2"], func, schema=schema, mode=mode
        ).toPandas()
        return sorted(
            map(str, out.fillna("<null>").itertuples(index=False, name=None))
        )

    def labels_ok(g):
        # each group arrives labelled 0..n-1 in input order: label-based
        # reads like ``g.v[0]`` are the group's first row
        return float(list(g.index) == list(range(len(g))) and g.v[0] == g.v.iloc[0])

    cases = {
        "scalar": (lambda g: float(g.v.sum()),
                   "k1 double, k2 string, result double"),
        "series": (lambda g: pd.Series({"s": float(g.v.sum()),
                                        "n": float(len(g))}),
                   "k1 double, k2 string, s double, n double"),
        "frame": (lambda g: g.assign(v2=g.v * 2),
                  "k1 double, k2 string, v double, v2 double"),
        "scalar_index": (labels_ok, "k1 double, k2 string, result double"),
        "series_index": (lambda g: pd.Series({"first": g.v[0], "ok": labels_ok(g)}),
                         "k1 double, k2 string, first double, ok double"),
        "frame_index": (lambda g: g.assign(first=g.v[0], ok=labels_ok(g)),
                        "k1 double, k2 string, v double, first double, ok double"),
    }
    first = {(1.0, "x"): 1.0, (2.0, "y"): 3.0, (2.0, "z"): 5.0,
             (None, "z"): 6.0, (3.0, None): 8.0}
    for case, (func, schema) in cases.items():
        mode = case.split("_")[0]
        results = []
        for n in (1, 7, 1024):
            monkeypatch.setattr(
                _memo, "coarse_group_count",
                lambda _s, factor=4, cap=65536, _n=n: _n,
            )
            results.append(run(mode, func, schema))
        assert results[0] == results[1] == results[2], case
        # sanity: the expected group count survived (5 distinct keys
        # incl. the NULL-keyed ones)
        if mode == "scalar":
            assert len(results[0]) == 5
        if case.endswith("_index"):
            got = gb.grouped_apply(
                sdf, ["k1", "k2"], func, schema=schema, mode=mode
            ).toPandas()
            assert (got["ok"] if "ok" in got else got["result"]).eq(1.0).all(), case
            if "first" in got:
                for r in got.itertuples(index=False):
                    k1 = None if pd.isna(r.k1) else r.k1
                    assert r.first == first[(k1, r.k2)], (case, r)


def test_grouped_apply_keeps_user_column_named_like_bucket(spark):
    """The coarse-bucket temp column takes a name no user column has:
    user columns called ``__gb_bkt__`` and ``__bkt__`` reach ``func``
    intact."""
    from pandarallel_spark.operators import groupby as gb

    pdf = pd.DataFrame({
        "k": [1, 1, 2, 3, 3, 3],
        "__gb_bkt__": [10.0, 20.0, 30.0, 1.0, 2.0, 3.0],
        "__bkt__": [0.5] * 6,
    })
    got = (
        gb.grouped_apply(
            spark.createDataFrame(pdf), "k",
            lambda g: float(g["__gb_bkt__"].sum() + g["__bkt__"].sum()),
            schema="k long, result double", mode="scalar",
        )
        .toPandas().sort_values("k").reset_index(drop=True)
    )
    assert got["result"].tolist() == [31.0, 30.5, 7.5]



def test_placed_bucket_ids_balance_every_partition_count(spark):
    """``_memo.placed_bucket_ids`` puts coarse bucket ``b`` on partition
    ``b % n`` by Spark's own hash (``F.hash``, the Murmur3 that
    ``repartition(n, col)`` places rows by), so each of the ``n``
    partitions holds the same number of buckets, ±1, for every n in
    1..256 — at ``coarse_group_count``'s 4n buckets and at a count that
    is no multiple of n."""
    from pyspark.sql import functions as F

    from pandarallel_spark.operators._memo import placed_bucket_ids

    rows = []
    for n in range(1, 257):
        for n_buckets in (4 * n, n + 3):
            ids = placed_bucket_ids(n_buckets, n)
            assert len(set(ids)) == n_buckets
            rows += [(n, n_buckets, b, v) for b, v in enumerate(ids)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["n", "n_buckets", "b", "id"]))
    df = df.withColumn("part", F.pmod(F.hash("id"), F.col("n")))
    assert df.filter(F.col("part") != F.col("b") % F.col("n")).count() == 0
    per_part = df.groupBy("n", "n_buckets", "part").count()
    unbalanced = (
        per_part.groupBy("n", "n_buckets")
        .agg(F.count("*").alias("parts"), (F.max("count") - F.min("count")).alias("spread"))
        .filter((F.col("parts") != F.col("n")) | (F.col("spread") > 1))
    )
    assert unbalanced.count() == 0
