"""Core-operator queries (SURVEY.md §2.1) over the driver testdata.

Naming: ``<op>_<variant>``. Each query exists to prove one operator of
the reference surface end-to-end against a DuckDB oracle.

Exact-arithmetic note: monetary columns carry exactly 2 decimals (checked
on the generated data), so aggregates are computed on int64 *cents* —
bit-exact in Spark, DuckDB and pandas alike, and faster than decimal.
At larger-than-int64 scales the production path would swap the cents
columns to ``decimal(38,4)``; the expression shape is identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandarallel_spark import parallelize
from pandarallel_spark.operators.groupby import grouped_agg
from pandarallel_spark.sources import load_table
from pandarallel_spark.workload import register

_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)/10000.0 AS sum_disc_price,
  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)*(100 - CAST(round(l_discount*100) AS BIGINT))*(100 + CAST(round(l_tax*100) AS BIGINT))) AS DOUBLE)/1000000.0 AS sum_charge,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)/COUNT(*) AS avg_qty,
  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) AS avg_price,
  CAST(SUM(CAST(round(l_discount*100) AS BIGINT)) AS DOUBLE)/100.0/COUNT(*) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _cents(col: str):
    return F.round(F.col(col) * 100).cast("long")


@register(
    "groupby_agg_pricing_summary",
    _Q1_ORACLE,
    "TPC-H-Q1-shaped pricing summary — grouped_agg builtin fast path "
    "(reference op #7's expressible form). Map-side partial aggregation; "
    "filter pushed to the parquet scan.",
)
def q1_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    price_c, disc_c, tax_c = _cents("l_extendedprice"), _cents("l_discount"), _cents("l_tax")
    qty = F.col("l_quantity").cast("long")
    n = F.count(F.lit(1))
    return grouped_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.sum(qty).cast("double"),
            "sum_base_price": F.sum(price_c).cast("double") / 100.0,
            "sum_disc_price": F.sum(price_c * (100 - disc_c)).cast("double") / 10000.0,
            "sum_charge": F.sum(price_c * (100 - disc_c) * (100 + tax_c)).cast("double")
            / 1000000.0,
            "avg_qty": F.sum(qty).cast("double") / n,
            "avg_price": F.sum(price_c).cast("double") / 100.0 / n,
            "avg_disc": F.sum(disc_c).cast("double") / 100.0 / n,
            "count_order": n,
        },
    )


def _pricing_summary_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-group pandas aggregate, arithmetic identical to the builtin
    path (int64 cents) so all three computations hash-match."""
    price_c = np.round(pdf["l_extendedprice"].to_numpy() * 100).astype("int64")
    disc_c = np.round(pdf["l_discount"].to_numpy() * 100).astype("int64")
    tax_c = np.round(pdf["l_tax"].to_numpy() * 100).astype("int64")
    qty = pdf["l_quantity"].to_numpy().astype("int64")
    n = len(pdf)
    sum_qty = int(qty.sum())
    sum_price_c = int(price_c.sum())
    sum_disc_c = int(disc_c.sum())
    sum_disc_price_u = int((price_c * (100 - disc_c)).sum())
    sum_charge_u = int((price_c * (100 - disc_c) * (100 + tax_c)).sum())
    return pd.DataFrame(
        [
            {
                "sum_qty": float(sum_qty),
                "sum_base_price": sum_price_c / 100.0,
                "sum_disc_price": sum_disc_price_u / 10000.0,
                "sum_charge": sum_charge_u / 1000000.0,
                "avg_qty": float(sum_qty) / n,
                "avg_price": sum_price_c / 100.0 / n,
                "avg_disc": sum_disc_c / 100.0 / n,
                "count_order": n,
            }
        ]
    )


@register(
    "groupby_apply_pricing_summary",
    _Q1_ORACLE,
    "Same pricing summary through the arbitrary-UDF path: "
    "groupBy().applyInPandas (reference op #7, data_types/dataframe_groupby.py). "
    "Proves grouped-map machinery + schema declaration.",
)
def q1_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    schema = (
        "l_returnflag string, l_linestatus string, sum_qty double, "
        "sum_base_price double, sum_disc_price double, sum_charge double, "
        "avg_qty double, avg_price double, avg_disc double, count_order bigint"
    )
    return (
        parallelize(li)
        .groupby("l_returnflag", "l_linestatus")
        .parallel_apply(_pricing_summary_pandas, schema=schema, mode="frame")
    )


# ---------------------------------------------------------------------------
# op #1 — DataFrame.parallel_apply(axis=1)
# ---------------------------------------------------------------------------

_ROW_APPLY_ORACLE = """
SELECT 'expr' AS src, l_orderkey, l_linenumber, l_extendedprice, l_discount,
  CAST(round(l_extendedprice*100) AS BIGINT)
    * (100 - CAST(round(l_discount*100) AS BIGINT)) / 10000.0 AS result
FROM lineitem
UNION ALL
SELECT 'udf' AS src, l_orderkey, l_linenumber, l_extendedprice, l_discount,
  CAST(round(l_extendedprice*100) AS BIGINT)
    * (100 - CAST(round(l_discount*100) AS BIGINT)) / 10000.0 AS result
FROM lineitem
"""


@register(
    "row_apply_disc_price",
    _ROW_APPLY_ORACLE,
    "Reference op #1 (DataFrame.parallel_apply axis=1) in BOTH execution "
    "forms in one graded row (r7 merge of the expr/udf twins): the "
    "Column-expression fast path (whole-stage codegen, zero Python) "
    "unioned with the black-box mapInPandas UDF path (Arrow batches, "
    "explicit declared schema), kind-tagged by src. Same cents-exact "
    "computation on both branches; the union is plan-level only.",
)
def row_apply_disc_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    expr = (
        _cents("l_extendedprice") * (100 - _cents("l_discount")) / 10000.0
    )
    expr_out = parallelize(li).parallel_apply(expr, axis=1).select(
        F.lit("expr").alias("src"), "*"
    )

    def disc_price(row):
        pc = round(row["l_extendedprice"] * 100)
        dc = round(row["l_discount"] * 100)
        return pc * (100 - dc) / 10000.0

    schema = (
        "l_orderkey bigint, l_linenumber int, l_extendedprice double, "
        "l_discount double, result double"
    )
    udf_out = parallelize(li).parallel_apply(
        disc_price, axis=1, schema=schema
    ).select(F.lit("udf").alias("src"), "*")
    return expr_out.unionByName(udf_out)


# ---------------------------------------------------------------------------
# op #2 — DataFrame.parallel_apply(axis=0): whole-column reduce
# ---------------------------------------------------------------------------


@register(
    "col_apply_range",
    """
SELECT max(l_quantity) - min(l_quantity) AS l_quantity,
       max(l_extendedprice) - min(l_extendedprice) AS l_extendedprice,
       max(l_discount) - min(l_discount) AS l_discount
FROM lineitem
""",
    "Reference op #2 (axis=0 column apply) with the reference's own test "
    "func `max(x)-min(x)` (tests/test_pandarallel.py:31-35), via "
    "grouped-agg pandas UDF per column — all columns reduced in one pass.",
)
def col_apply_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_quantity", "l_extendedprice", "l_discount"
    )
    return parallelize(li).parallel_apply(lambda col: col.max() - col.min(), axis=0)


# ---------------------------------------------------------------------------
# op #3 — DataFrame.parallel_applymap
# ---------------------------------------------------------------------------


@register(
    "applymap_affine",
    """
SELECT l_orderkey, l_linenumber, l_quantity * 2.0 + 1.0 AS l_quantity
FROM lineitem
""",
    "Reference op #3 (elementwise applymap) through mapInPandas with "
    "pandas.DataFrame.map; key columns pass through untouched.",
)
def applymap_affine(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return parallelize(li).parallel_applymap(
        lambda x: x * 2.0 + 1.0, columns=["l_quantity"]
    )


# ---------------------------------------------------------------------------
# op #4 — Series.parallel_apply with args/kwargs
# ---------------------------------------------------------------------------


@register(
    "series_apply_affine",
    """
SELECT c_custkey, c_acctbal, c_acctbal * 2.0 + 3.0 AS c_acctbal_applied
FROM customer
""",
    "Reference op #4 (Series.parallel_apply) with args/kwargs forwarding "
    "(the reference's `args=(2,), bias=3` test, "
    "tests/test_pandarallel.py:248-253) via Arrow-vectorized pandas UDF.",
)
def series_apply_affine(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return (
        parallelize(cust)
        .series("c_acctbal")
        .parallel_apply(
            lambda x, mult, bias=0.0: x * mult + bias,
            args=(2.0,),
            bias=3.0,
            return_type="double",
        )
    )


# ---------------------------------------------------------------------------
# op #5 — Series.parallel_map(dict): broadcast lookup join
# ---------------------------------------------------------------------------

_SEGMENT_CODES = {"AUTOMOBILE": 1, "BUILDING": 2, "FURNITURE": 3, "MACHINERY": 4}


@register(
    "series_map_dict",
    """
SELECT c_custkey, c_mktsegment,
  CASE c_mktsegment
    WHEN 'AUTOMOBILE' THEN CAST(1 AS BIGINT)
    WHEN 'BUILDING' THEN CAST(2 AS BIGINT)
    WHEN 'FURNITURE' THEN CAST(3 AS BIGINT)
    WHEN 'MACHINERY' THEN CAST(4 AS BIGINT)
  END AS c_mktsegment_mapped
FROM customer
""",
    "Reference op #5 (Series.parallel_map with dict): lookup-substitution "
    "= the reference's only join-like operator (data_types/series.py:52-56). "
    "Implemented as a literal create_map lookup (JVM-side); unmatched key "
    "('HOUSEHOLD') → NULL, matching pandas NaN.",
)
def series_map_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return parallelize(cust).series("c_mktsegment").parallel_map(_SEGMENT_CODES)


# ---------------------------------------------------------------------------
# op #6 — Series.rolling.parallel_apply (global positional window)
# ---------------------------------------------------------------------------

_EVENTS_CENTS = "CAST(round(value*100) AS BIGINT)"

_GLOBAL_SCANS_ORACLE = f"""
SELECT 'right' AS src, event_id,
  CAST(CASE WHEN COUNT({_EVENTS_CENTS}) OVER w4 >= 4
       THEN SUM({_EVENTS_CENTS}) OVER w4 END AS DOUBLE) AS val
FROM events
WINDOW w4 AS (ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
UNION ALL
SELECT 'left' AS src, event_id,
  CAST(CASE WHEN COUNT({_EVENTS_CENTS}) OVER wl >= 2
       THEN SUM({_EVENTS_CENTS}) OVER wl END AS DOUBLE) AS val
FROM events
WINDOW wl AS (ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)
UNION ALL
SELECT 'expanding' AS src, event_id,
  CAST(SUM({_EVENTS_CENTS}) OVER we AS DOUBLE) AS val
FROM events
WINDOW we AS (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
UNION ALL
SELECT 'median' AS src, event_id,
  CASE WHEN COUNT({_EVENTS_CENTS}) OVER w5 >= 3
       THEN median({_EVENTS_CENTS}) OVER w5 END AS val
FROM events
WINDOW w5 AS (ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
UNION ALL
SELECT 'q25' AS src, event_id,
  CASE WHEN COUNT({_EVENTS_CENTS}) OVER wq >= 3
       THEN quantile_cont({_EVENTS_CENTS}, 0.25) OVER wq END AS val
FROM events
WINDOW wq AS (ORDER BY event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
UNION ALL
SELECT 'wsum' AS src, event_id,
  CASE WHEN lag({_EVENTS_CENTS}, 3) OVER wo IS NOT NULL THEN
    CAST(0.25 AS DOUBLE)*lag({_EVENTS_CENTS}, 3) OVER wo
    + CAST(0.75 AS DOUBLE)*lag({_EVENTS_CENTS}, 2) OVER wo
    + CAST(0.75 AS DOUBLE)*lag({_EVENTS_CENTS}, 1) OVER wo
    + CAST(0.25 AS DOUBLE)*{_EVENTS_CENTS}
  END AS val
FROM events
WINDOW wo AS (ORDER BY event_id)
"""


@register(
    "rolling_scans_global",
    _GLOBAL_SCANS_ORACLE,
    "Reference op #6 (Series.rolling.parallel_apply, GLOBAL total-order "
    "scans) — the full graded family in one kind-tagged row (r7 merge of "
    "the rolling_sum_global / rolling_sum_closed_left twins, plus the "
    "previously pytest-only global expanding and order-statistic "
    "variants): 'right' = rolling(4) sum, min_periods=window → 3 leading "
    "NULLs; 'left' = closed='left' frame replay (pandas [i-w, i-1] as a "
    "shifted JVM frame; reference replays full _attributes, "
    "series_rolling.py:22-28); 'expanding' = cumulative sum via the "
    "bucket + broadcast-carry prefix scan; 'median'/'q25' = rolling(5, "
    "min_periods=3) order statistics via sorted-frame linear "
    "interpolation (pandas semantics; exact on integer cents, so the "
    "value hash is bit-stable vs DuckDB median/quantile_cont); 'wsum' "
    "(NEW r8) = rolling(4, win_type='triang') weighted sum over the "
    "bucket-partitioned weighted slot machinery — triang(4) weights are "
    "the exact binary fractions [0.25, 0.75, 0.75, 0.25], so every "
    "slot product and partial sum is exact in double and the hash is "
    "bit-stable vs the oracle's explicit lag arithmetic. Above 1 MiB "
    "of input every branch runs the bucket-partitioned global "
    "machinery — no single-partition total order; a smaller input "
    "runs each branch as one task with no build job. All values cast "
    "to double so the union is type-uniform across sums and "
    "interpolants.",
)
def rolling_scans_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", _cents("value").alias("cents"))
    )
    series = parallelize(ev, order_by="event_id").series("cents")

    def tag(src: str, out: DataFrame, col: str) -> DataFrame:
        return out.select(
            F.lit(src).alias("src"),
            "event_id",
            F.col(col).cast("double").alias("val"),
        )

    right = tag("right", series.rolling(4).parallel_apply("sum"),
                "cents_rolling_sum")
    left = tag(
        "left",
        series.rolling(4, min_periods=2, closed="left").parallel_apply(
            "sum", output_col="v"
        ),
        "v",
    )
    expanding = tag(
        "expanding", series.expanding().parallel_apply("sum", output_col="v"), "v"
    )
    median = tag(
        "median",
        series.rolling(5, min_periods=3).parallel_apply("median", output_col="v"),
        "v",
    )
    q25 = tag(
        "q25",
        series.rolling(5, min_periods=3).parallel_apply(
            "quantile", win_args={"q": 0.25}, output_col="v"
        ),
        "v",
    )
    wsum = tag(
        "wsum",
        series.rolling(4, win_type="triang").parallel_apply(
            "sum", output_col="v"
        ),
        "v",
    )
    return (
        right.unionByName(left)
        .unionByName(expanding)
        .unionByName(median)
        .unionByName(q25)
        .unionByName(wsum)
    )


# ---------------------------------------------------------------------------
# op #8 — grouped rolling / expanding
# ---------------------------------------------------------------------------

_ROLLING_GROUPED_ORACLE = f"""
SELECT 'builtin' AS src, event_id, user_id,
  CAST(CASE WHEN COUNT({_EVENTS_CENTS}) OVER w >= 4
       THEN SUM({_EVENTS_CENTS}) OVER w END AS DOUBLE) AS val
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
UNION ALL
SELECT 'udf' AS src, event_id, user_id,
  CASE WHEN COUNT({_EVENTS_CENTS}) OVER wu >= 4
       THEN CAST(FIRST_VALUE({_EVENTS_CENTS}) OVER wu + {_EVENTS_CENTS} AS DOUBLE)
  END AS val
FROM events
WINDOW wu AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
"""


@register(
    "grouped_rolling_sum",
    _ROLLING_GROUPED_ORACLE,
    "Reference op #8 (RollingGroupby.parallel_apply) in BOTH execution "
    "forms in one graded row (r7 merge of the builtin/udf twins): "
    "'builtin' = Window.partitionBy(user).orderBy(event).rowsBetween(-3, "
    "0) sum, pure JVM — fully parallel across groups, the 100 TB path "
    "for windows; 'udf' = an arbitrary Python window func (first+last "
    "of the frame) via collect_list over the frame + Arrow pandas UDF — "
    "the fallback when the window func isn't a builtin aggregate. Both "
    "cast to double so the union is type-uniform.",
)
def grouped_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", _cents("value").alias("value_cents"))
    )
    rolling = (
        parallelize(ev, order_by="event_id")
        .groupby("user_id")
        .series("value_cents")
        .rolling(4)
    )
    builtin = rolling.parallel_apply("sum", output_col="v").select(
        F.lit("builtin").alias("src"), "event_id", "user_id",
        F.col("v").cast("double").alias("val"),
    )
    udf = rolling.parallel_apply(
        lambda w: float(w[0] + w[-1]), raw=True, output_col="v"
    ).select(
        F.lit("udf").alias("src"), "event_id", "user_id",
        F.col("v").alias("val"),
    )
    return builtin.unionByName(udf)


_EXPANDING_ORACLE = """
SELECT event_id, user_id,
  MAX(value) OVER w AS value_expanding_max,
  CAST(COUNT(value) OVER w AS DOUBLE) AS value_expanding_count
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@register(
    "grouped_expanding_max",
    _EXPANDING_ORACLE,
    "Reference op #8 (ExpandingGroupby.parallel_apply): cumulative frame "
    "unboundedPreceding→current per group; min_periods=1 (pandas default) "
    "→ no leading NULLs. max/count are comparison-only — exact on doubles.",
)
def grouped_expanding_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    step1 = (
        parallelize(ev, order_by="event_id")
        .groupby("user_id")
        .series("value")
        .expanding()
        .parallel_apply("max", return_type="double")
    )
    out = (
        parallelize(step1, order_by="event_id")
        .groupby("user_id")
        .series("value")
        .expanding()
        .parallel_apply("count", return_type="double")
    )
    return out.select(
        "event_id", "user_id", "value_expanding_max",
        F.col("value_expanding_count").cast("double").alias("value_expanding_count"),
    )
