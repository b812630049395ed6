"""Relational + point-in-time queries (operators/join.py,
operators/relational.py) — coverage the reference lacks entirely
(SURVEY.md §2.2: no joins, no sort/limit/top-k, no set ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pandarallel_spark.operators.join import asof_join, range_join
from pandarallel_spark.operators.relational import (
    heavy_hitters,
    rollup_agg,
    skew_safe_count_distinct,
    topk_per_group,
)
from pandarallel_spark.sources import load_table
from pandarallel_spark.workload import register

# events.ts is ns-grained in the parquet but µs-grained in Spark (nanos
# read as long, ÷1000) — oracles truncate to µs so both engines compare
# and emit identical instants.
_TS_US = "date_trunc('microseconds', {})"


@register(
    "asof_purchases_around_click",
    f"""
WITH c AS (SELECT event_id, user_id, {_TS_US.format('ts')} AS ts
           FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, {_TS_US.format('ts')} AS ts,
             CAST(round(value*100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'),
b AS (SELECT c.event_id, c.user_id, c.ts,
             p.ts AS ts_before, p.cents AS cents_before
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts),
f AS (SELECT c.event_id, p.ts AS mts, p.cents AS mcents
      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts)
SELECT b.event_id, b.user_id, b.ts, b.ts_before, b.cents_before,
  CASE WHEN f.mts <= b.ts + INTERVAL 1 HOUR THEN f.mts END AS ts_after,
  CASE WHEN f.mts <= b.ts + INTERVAL 1 HOUR THEN f.mcents END AS cents_after
FROM b JOIN f ON b.event_id = f.event_id
""",
    "Keyed as-of (point-in-time) join, BOTH directions in one row per "
    "click: the latest purchase at-or-before (merge_asof backward, no "
    "tolerance) and the earliest at-or-after nulled beyond 1 hour "
    "(direction='forward' + tolerance) — each a union + keyed "
    "last/first(ignorenulls) window, one shuffle, no range explosion. "
    "The reference has no joins at all. (Merged from the r5 rows "
    "asof_last_purchase_before_click + asof_next_purchase_after_click "
    "to free a graded-registry slot; both operator paths still run.)",
)
def asof_purchases_around_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    back = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["cents"],
    ).select(
        "event_id", "user_id", "ts",
        F.col("ts_asof").alias("ts_before"),
        F.col("cents_asof").alias("cents_before"),
    )
    fwd = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["cents"], direction="forward",
        tolerance=F.expr("INTERVAL 1 HOUR"),
    ).select(
        F.col("event_id").alias("f_event_id"),
        F.col("ts_asof").alias("ts_after"),
        F.col("cents_asof").alias("cents_after"),
    )
    return back.join(
        fwd, back.event_id == fwd.f_event_id, "inner"
    ).select(
        "event_id", "user_id", "ts",
        "ts_before", "cents_before", "ts_after", "cents_after",
    )


@register(
    "global_asof_purchase_before_click",
    f"""
WITH c AS (SELECT event_id, {_TS_US.format('ts')} AS ts
           FROM events WHERE event_type = 'click'),
p AS (SELECT {_TS_US.format('ts')} AS ts,
             MAX(CAST(round(value*100) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1)
SELECT c.event_id, c.ts, p.ts AS ts_asof, p.cents AS cents_asof
FROM c ASOF LEFT JOIN p ON c.ts >= p.ts
""",
    "GLOBAL (key-less) as-of join — pd.merge_asof without by=, the most "
    "common pandas call shape: latest purchase anywhere at-or-before "
    "each click. NOT a single-partition total-order window: the union is "
    "range-bucketed on the timestamp (quantile-sketch boundaries from "
    "one aggregate, memoized + strictLazy-guarded), cross-bucket matches come from a "
    "one-row-per-bucket carry aggregation broadcast back, and the "
    "windows partition by bucket id — fully parallel, one main shuffle "
    "(operators/join.py global path). Right side pre-aggregated to one "
    "row per timestamp for the determinism contract both engines share.",
)
def global_asof_purchase_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("ts")
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    return asof_join(
        clicks, purchases, on=None, left_ts="ts", right_ts="ts",
        value_cols=["cents"],
    ).select("event_id", "ts", "ts_asof", "cents_asof")


@register(
    "range_purchases_after_error",
    f"""
WITH e AS (SELECT event_id AS error_id, user_id, {_TS_US.format('ts')} AS error_ts
           FROM events WHERE event_type = 'error'),
p AS (SELECT user_id, event_id AS purchase_id, {_TS_US.format('ts')} AS purchase_ts
      FROM events WHERE event_type = 'purchase')
SELECT e.error_id, p.purchase_id, e.user_id
FROM e JOIN p ON e.user_id = p.user_id
 AND p.purchase_ts >= e.error_ts
 AND p.purchase_ts <= e.error_ts + INTERVAL 1 HOUR
""",
    "Range join: purchases within 1 hour after an error, per user — "
    "equi-key hash join + range predicate inside key groups (never a "
    "cross product).",
)
def range_purchases_after_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("error_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("purchase_ts")
    )
    out = range_join(
        errors,
        purchases,
        on="user_id",
        condition=(
            (F.col("purchase_ts") >= F.col("error_ts"))
            & (F.col("purchase_ts") <= F.col("error_ts") + F.expr("INTERVAL 1 HOUR"))
        ),
    )
    return out.select("error_id", "purchase_id", errors["user_id"].alias("user_id"))


@register(
    "topk_orders_per_segment",
    """
SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rank
FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         row_number() OVER (PARTITION BY c.c_mktsegment
                            ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rnk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
WHERE rnk <= 3
""",
    "Top-3 orders by price per market segment — broadcast dim join + "
    "ranking window (one shuffle on the segment key; no global sort).",
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    out = topk_per_group(
        joined,
        ["c_mktsegment"],
        F.col("o_totalprice").desc(),
        k=3,
        tiebreak=["o_orderkey"],
    )
    return out.select(
        "c_mktsegment", "o_orderkey", "o_totalprice", F.col("rank").cast("bigint").alias("rank")
    )


# NOTE (r6): the standalone exact distinct-count row merged into
# approx_distinct_parts_per_supplier, which now computes its exact
# column VIA skew_safe_count_distinct — the two-stage skew-safe
# operator keeps its graded exercise with one fewer registry slot.


@register(
    "grouping_sets_rollup_cube",
    """
SELECT 'rollup_lineitem' AS src, l_returnflag AS key1, l_linestatus AS key2,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_val
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
UNION ALL
SELECT 'cube_orders' AS src, o_orderstatus AS key1, o_orderpriority AS key2,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS sum_val
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    "Grouping sets, both expansion shapes in one graded row: ROLLUP over "
    "lineitem (per-(flag,status) totals + flag subtotals + grand total) "
    "unioned with CUBE over orders (every (status,priority) combination "
    "+ both 1-D margins + grand total). Each side is ONE aggregation "
    "pass with map-side grouping-set expansion — no self-union of "
    "scans; the final union is plan-level only (no shuffle).",
)
def grouping_sets_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    roll = rollup_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "n_rows": F.count(F.lit(1)),
            "sum_val": F.sum(F.col("l_quantity").cast("bigint")),
        },
    ).select(
        F.lit("rollup_lineitem").alias("src"),
        F.col("l_returnflag").alias("key1"),
        F.col("l_linestatus").alias("key2"),
        "n_rows",
        "sum_val",
    )
    orders = load_table(spark, sf_dir, "orders")
    cube = (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("sum_val"),
        )
        .select(
            F.lit("cube_orders").alias("src"),
            F.col("o_orderstatus").alias("key1"),
            F.col("o_orderpriority").alias("key2"),
            "n_rows",
            "sum_val",
        )
    )
    return roll.unionByName(cube)


@register(
    "semi_anti_customers_per_nation",
    """
WITH flagged AS (
  SELECT c_custkey, c_nationkey,
         EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS has_order
  FROM customer c)
SELECT c_nationkey,
       count(*) FILTER (WHERE has_order) AS n_with_orders,
       count(*) FILTER (WHERE NOT has_order) AS n_without_orders
FROM flagged GROUP BY c_nationkey
""",
    "Semi + anti join coverage: per nation, customers with at least one "
    "order (LEFT SEMI) vs none (LEFT ANTI). Both plans shuffle only "
    "distinct keys; no row multiplication (SURVEY.md §2.2: the "
    "reference has no joins).",
)
def semi_anti_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    semi = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_with_orders"))
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_without_orders"))
    )
    return (
        semi.join(anti, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


@register(
    "lead_lag_order_gaps",
    """
SELECT o_custkey, o_orderkey, o_orderdate AS order_date,
       lag(o_orderdate) OVER w AS prev_date,
       CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT)
         AS gap_days,
       CAST(ntile(4) OVER w AS BIGINT) AS recency_quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    "The ranking-window family in one graded row: lead/lag (days since "
    "the customer's previous order) plus — late r7 — ntile quartiles, "
    "percent_rank, and cume_dist over the same total order. One "
    "shuffle on the partition key, one JVM window exec evaluates all "
    "five functions (SURVEY.md §2.2: reference windows are UDF-only, "
    "none of these exist there). The float ranks hash exactly because "
    "both engines compute the same (rank−1)/(n−1) and rows≤cur/n "
    "integer ratios in IEEE double over a deterministic "
    "(o_orderdate, o_orderkey) total order.",
)
def lead_lag_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate")
    prev = F.lag(d).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        d.alias("order_date"),
        prev.alias("prev_date"),
        F.datediff(d, prev).cast("bigint").alias("gap_days"),
        F.ntile(4).over(w).cast("bigint").alias("recency_quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "set_ops_repeat_customers",
    """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
     y96 AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
SELECT o_custkey, 'both' AS cohort FROM (SELECT * FROM y95 INTERSECT SELECT * FROM y96)
UNION ALL
SELECT o_custkey, 'only_1995' AS cohort FROM (SELECT * FROM y95 EXCEPT SELECT * FROM y96)
UNION ALL
SELECT o_custkey, 'only_1996' AS cohort FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y95)
""",
    "Set operations (INTERSECT / EXCEPT / UNION ALL): 1995-vs-1996 "
    "customer cohorts. Distinct key sets shuffle once each; the set ops "
    "run as joins on the deduplicated sides.",
)
def set_ops_repeat_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y95 = (
        orders.filter(F.year("o_orderdate") == 1995).select("o_custkey").distinct()
    )
    y96 = (
        orders.filter(F.year("o_orderdate") == 1996).select("o_custkey").distinct()
    )
    return (
        y95.intersect(y96).select("o_custkey", F.lit("both").alias("cohort"))
        .unionByName(
            y95.exceptAll(y96).select("o_custkey", F.lit("only_1995").alias("cohort"))
        )
        .unionByName(
            y96.exceptAll(y95).select("o_custkey", F.lit("only_1996").alias("cohort"))
        )
    )


@register(
    "time_rolling_purchase_cents_1h",
    f"""
WITH p AS (
  SELECT user_id, event_id, {_TS_US.format('ts')} AS ts,
         CAST(round(value*100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase')
SELECT user_id, event_id, ts, cents,
  CAST(SUM(cents) OVER w AS BIGINT) AS cents_1h,
  COUNT(cents) OVER w AS n_1h,
  CAST(SUM(cents) OVER wc AS BIGINT) AS cents_1h_centered,
  COUNT(cents) OVER wc AS n_1h_centered
FROM p
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW),
       wc AS (PARTITION BY user_id ORDER BY epoch_us(ts)
              RANGE BETWEEN 1800000000 PRECEDING AND 1800000000 FOLLOWING)
""",
    "Time-offset rolling (pandas rolling('1h') semantics): per user, "
    "trailing-hour purchase total and count as a pure JVM RANGE frame "
    "over unix_micros(ts) — the (t-1h, t] exclusive-left pandas default "
    "expressed as an exact integer-microsecond interval — PLUS the "
    "CENTERED variant (pandas rolling('1h', center=True, "
    "closed='both'): frame [t-30min, t+30min], r7) whose "
    "half-window-exact bounds ride a doubled-microsecond axis. One "
    "shuffle on the key, whole-stage codegen, no Python. The positional "
    "rolling surface can't express either shape; pandas users reach for "
    "both constantly (operators/window.py:time_rolling_agg, "
    "differential-tested vs pandas across closed=/center= variants, "
    "NaN, min_periods).",
)
def time_rolling_purchase_cents_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandarallel_spark.operators.window import time_rolling_agg

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    out = time_rolling_agg(
        p, "cents", "1h", "sum", "ts",
        partition_by=["user_id"], output_col="cents_1h",
    )
    out = time_rolling_agg(
        out, "cents", "1h", "count", "ts",
        partition_by=["user_id"], min_periods=1, output_col="n_1h",
    )
    out = time_rolling_agg(
        out, "cents", "1h", "sum", "ts",
        partition_by=["user_id"], center=True, closed="both",
        output_col="cents_1h_centered",
    )
    out = time_rolling_agg(
        out, "cents", "1h", "count", "ts",
        partition_by=["user_id"], center=True, closed="both",
        min_periods=1, output_col="n_1h_centered",
    )
    return out.select(
        "user_id", "event_id", "ts", "cents",
        "cents_1h", "n_1h", "cents_1h_centered", "n_1h_centered",
    )


@register(
    "ewm_mean_purchase_cents",
    """
WITH p AS (
  SELECT ts, CAST(SUM(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY ts)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       COUNT(*) AS n_ts,
       CAST(SUM(cents) AS BIGINT) AS sum_cents,
       TRUE AS ewm_within_tol,
       TRUE AS ewm_var_within_tol,
       TRUE AS ewm_times_within_tol
FROM p GROUP BY 1
""",
    "GLOBAL exponentially-weighted mean AND variance over per-timestamp "
    "purchase cents — the distributed bucket-carry scans "
    "(operators/window.py ewm_mean: range buckets from one quantile-"
    "sketch aggregate, one "
    "bounded state row per bucket, driver-chained seeds, second "
    "per-bucket pass; ewm_moment: the four-moment carry with per-bucket "
    "shift centering), graded r7 (previously pytest-differential only). "
    "ewm is weighted double arithmetic, not SQL-expressible exactly, so "
    "the row follows the sketch error-contract pattern: exact integer "
    "anchors (per-day timestamp count + cents total, which any engine "
    "reproduces bit-exactly) plus ewm_within_tol / ewm_var_within_tol, "
    "Spark-side booleans asserting each distributed scan stays within "
    "rtol 1e-9 of the sequential stock-pandas scan over the identical "
    "sorted input (single-partition reference branch). DuckDB asserts "
    "the anchors and literal TRUE — a divergence in any distributed "
    "seed chain breaks the value hash. Late-r7 adds "
    "ewm_times_within_tol: the WALL-CLOCK decay form (ewm_mean_times, "
    "halflife='1h' over the irregular purchase timestamps — the "
    "segmented power-prefix bucket scan) against the identical "
    "stock-pandas times= reference. Timestamps are pre-aggregated so "
    "the scan order is total (duplicate-ts tie order is the documented "
    "caveat).",
)
def ewm_mean_purchase_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from pandarallel_spark.operators.window import (
        _ewm_single_partition,
        ewm_mean,
        ewm_mean_times,
        ewm_moment,
    )

    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("ts")
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    )
    dist = ewm_mean(p, "cents", "ts", alpha=0.5, output_col="ewm")
    distv = ewm_moment(p, "cents", "ts", "var", alpha=0.5, output_col="ewm_var")
    distt = ewm_mean_times(p, "cents", "ts", "1h", output_col="ewm_t")
    ref = _ewm_single_partition(
        p, "cents", "ts", "ref", lambda s: s.ewm(alpha=0.5).mean()
    )
    refv = _ewm_single_partition(
        p, "cents", "ts", "refv", lambda s: s.ewm(alpha=0.5).var()
    )
    reft = _ewm_single_partition(
        p, "cents", "ts", "reft",
        lambda s, t: s.ewm(halflife=pd.Timedelta("1h"), times=t).mean(),
        times=True,
    )
    j = (
        dist.join(distv.select("ts", "ewm_var"), "ts")
        .join(distt.select("ts", "ewm_t"), "ts")
        .join(ref.select("ts", "ref"), "ts")
        .join(refv.select("ts", "refv"), "ts")
        .join(reft.select("ts", "reft"), "ts")
    )

    def within(got: Column, want: Column) -> Column:
        # never NULL: bool_and skips NULLs, which would silently pass a
        # one-sided-NULL mismatch (pandas ewm.var leads with NaN)
        close = F.abs(got - want) <= F.lit(1e-9) * F.greatest(
            F.abs(want), F.lit(1.0)
        )
        return (
            F.when(got.isNull() & want.isNull(), F.lit(True))
            .when(got.isNull() | want.isNull(), F.lit(False))
            .otherwise(close)
        )

    return (
        j.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_ts"),
            F.sum("cents").alias("sum_cents"),
            F.bool_and(within(F.col("ewm"), F.col("ref"))).alias(
                "ewm_within_tol"
            ),
            F.bool_and(within(F.col("ewm_var"), F.col("refv"))).alias(
                "ewm_var_within_tol"
            ),
            F.bool_and(within(F.col("ewm_t"), F.col("reft"))).alias(
                "ewm_times_within_tol"
            ),
        )
    )


# NOTE (r6): the standalone exact-percentiles row was merged into
# percentiles_approx_price_per_flag — that graded row always carried the
# SAME exact p50/p90/p99 columns (computed with F.percentile, checked by
# DuckDB quantile_cont) as its verification harness, so the exact
# capability keeps a hard driver check with one fewer registry slot.


_SKETCHES_ORACLE = r"""
WITH t AS (
  SELECT l_returnflag AS key,
    quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.5) AS p50,
    quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.9) AS p90,
    quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.99) AS p99
  FROM lineitem GROUP BY l_returnflag)
SELECT 'tdigest_p50' AS src, key, p50 AS exact, TRUE AS approx_within_bound FROM t
UNION ALL
SELECT 'tdigest_p90' AS src, key, p90 AS exact, TRUE AS approx_within_bound FROM t
UNION ALL
SELECT 'tdigest_p99' AS src, key, p99 AS exact, TRUE AS approx_within_bound FROM t
UNION ALL
SELECT 'hll' AS src, CAST(l_suppkey AS VARCHAR) AS key,
       CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS exact,
       TRUE AS approx_within_bound
FROM lineitem GROUP BY l_suppkey
UNION ALL
SELECT 'mg' AS src, key, CAST(cnt AS DOUBLE) AS exact,
       TRUE AS approx_within_bound
FROM (
  SELECT key, COUNT(*) AS cnt,
         CEIL(0.004 * SUM(COUNT(*)) OVER ()) AS thr
  FROM (
    SELECT unnest(list_filter(
      string_split_regex(lower(trim(text)), '\s+'), x -> x != '')) AS key
    FROM documents)
  GROUP BY key)
WHERE cnt >= thr
UNION ALL
SELECT 'hll_roll' AS src, l_returnflag AS key,
       CAST(COUNT(DISTINCT l_partkey) AS DOUBLE) AS exact,
       TRUE AS approx_within_bound
FROM lineitem GROUP BY l_returnflag
UNION ALL
SELECT 'kll_exact_p50' AS src, source AS key,
       CAST(quantile_disc(n_chars, 0.5) AS DOUBLE) AS exact,
       TRUE AS approx_within_bound
FROM documents GROUP BY source
UNION ALL
SELECT 'kll_exact_p99' AS src, source AS key,
       CAST(quantile_disc(n_chars, 0.99) AS DOUBLE) AS exact,
       TRUE AS approx_within_bound
FROM documents GROUP BY source
UNION ALL
SELECT 'theta_exact' AS src, m.key, m.exact, TRUE AS approx_within_bound
FROM (
  WITH ta AS (SELECT DISTINCT doc_id % 400 AS v FROM documents
              WHERE doc_id % 2 = 0),
       tb AS (SELECT DISTINCT doc_id % 400 AS v FROM documents
              WHERE doc_id % 3 = 0),
       m0 AS (SELECT
         CAST((SELECT COUNT(*) FROM ta) AS DOUBLE) AS n_a,
         CAST((SELECT COUNT(*) FROM tb) AS DOUBLE) AS n_b,
         CAST((SELECT COUNT(*) FROM (SELECT v FROM ta UNION SELECT v FROM tb))
              AS DOUBLE) AS n_union,
         CAST((SELECT COUNT(*) FROM
               (SELECT v FROM ta INTERSECT SELECT v FROM tb)) AS DOUBLE)
              AS n_intersection,
         CAST((SELECT COUNT(*) FROM (SELECT v FROM ta EXCEPT SELECT v FROM tb))
              AS DOUBLE) AS n_only_a,
         CAST((SELECT COUNT(*) FROM (SELECT v FROM tb EXCEPT SELECT v FROM ta))
              AS DOUBLE) AS n_only_b)
  SELECT 'n_a' AS key, n_a AS exact FROM m0
  UNION ALL SELECT 'n_b', n_b FROM m0
  UNION ALL SELECT 'n_union', n_union FROM m0
  UNION ALL SELECT 'n_intersection', n_intersection FROM m0
  UNION ALL SELECT 'n_only_a', n_only_a FROM m0
  UNION ALL SELECT 'n_only_b', n_only_b FROM m0
  UNION ALL SELECT 'jaccard', n_intersection / n_union FROM m0
) m
"""


@register(
    "sketches_error_contracts",
    _SKETCHES_ORACLE,
    "The mergeable-sketch family — approx_percentile's t-digest-style "
    "quantile sketch, HLL++ distinct count, the Misra-Gries "
    "frequent-items summary (heavy-hitter tokens over documents), and "
    "(NEW r8) src=hll_roll: INCREMENTAL rollup over persistable "
    "DataSketches HLL partials — per-(returnflag, shipmonth) sketch "
    "columns merged by hll_union_agg up to per-flag estimates, so the "
    "coarser rollup touches only kilobyte sketches, never raw rows "
    "(the hypertable-rollup pattern; contract |est − exact| ≤ "
    "max(5·rse·exact, 2) at lgk=12) — with their exact twins "
    "and published error CONTRACTS, kind-tagged in ONE graded row (r7 "
    "merge of percentiles_approx_price_per_flag + "
    "approx_distinct_parts_per_supplier; src=mg added late r7: "
    "map-side bounded-memory MG summaries per partition, merged per "
    "Agarwal et al. PODS'12, candidates exact-recounted — the key "
    "universe never shuffles; the boolean asserts the MG envelope "
    "lower ≤ exact ≤ lower + Σ decrements, guaranteed by the sketch "
    "regardless of partitioning, hence hash-stable; threshold is a "
    "SHARE of total tokens so the row is scale-invariant). Sketch values are "
    "engine-specific, so the oracle checks the contract instead of the "
    "bits: each row carries the EXACT value (F.percentile p50/p90/p99 "
    "per returnflag in cents; skew_safe_count_distinct's two mergeable "
    "stages per suppkey — a hot key's duplicates collapse map-side "
    "before the shuffle) plus approx_within_bound, a Spark-side "
    "boolean asserting the sketch estimate lies inside its envelope "
    "(t-digest: the GK rank-error window, accuracy=10000 → exact "
    "quantiles at p±10/accuracy bound any returned element; HLL: "
    "|approx − exact| ≤ max(5·rsd·exact, 2), rsd=0.01 → 5σ; both "
    "deterministic per dataset, so the booleans are hash-stable). "
    "DuckDB asserts the exact values and literal TRUE — a sketch "
    "regression on either branch breaks the value hash. The exact "
    "columns are the verification harness; production keeps only the "
    "sketches. src=kll_exact_p50/p99 + theta_exact (NEW r13): the "
    "EXACT-REGIME contracts — below k / 2^lg_k the KLL and Theta "
    "sketches store everything, so the sketch's own answer (merged "
    "per-source KLL quantiles of n_chars; Theta set algebra incl. "
    "Jaccard over two derived residue sets) is graded as a HARD "
    "equality against quantile_disc / exact distinct-set SQL, not a "
    "tolerance.",
)
def sketches_error_contracts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandarallel_spark.operators.text import tokens

    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    # ONE sketch queried at three percentages — three separate
    # percentile_approx calls would build and merge three sketches
    sk = F.percentile_approx(
        cents, F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(10000)
    )
    # contract envelope: percentile_approx returns an actual element
    # whose rank is within N/accuracy of p·N; the exact continuous
    # quantiles at p ± 10/accuracy bound any such element's value.
    # r14 (guide §1.2 per-task work): ONE array-argument percentile
    # aggregate for all nine exact quantiles — nine separate
    # F.percentile expressions each buffered and sorted the group's
    # values independently (measured 8.5 s → 1.45 s at sf0.1, values
    # identical; the array form shares one buffer and one sort).
    eps = 10.0 / 10000
    _pcts = (0.5, 0.9, 0.99)
    _all_ps = (
        list(_pcts)
        + [max(0.0, p - eps) for p in _pcts]
        + [min(1.0, p + eps) for p in _pcts]
    )
    agg = li.groupBy("l_returnflag").agg(
        sk.alias("__p__"),
        F.percentile(
            cents, F.array(*[F.lit(p) for p in _all_ps])
        ).alias("__ps__"),
    ).select(
        "l_returnflag",
        "__p__",
        *[F.element_at("__ps__", i + 1).alias(f"__x{i}__") for i in range(3)],
        *[F.element_at("__ps__", i + 4).alias(f"__lo{i}__") for i in range(3)],
        *[F.element_at("__ps__", i + 7).alias(f"__hi{i}__") for i in range(3)],
    )
    # unpivot via inline(array<struct>) — ONE aggregate feeds all three
    # percentile rows (three union arms would re-execute the full
    # lineitem aggregate per arm)
    def pct_struct(i: int, tag: str) -> Column:
        a = F.element_at("__p__", i + 1)
        ok = (a >= F.floor(F.col(f"__lo{i}__"))) & (
            a <= F.ceil(F.col(f"__hi{i}__"))
        )
        return F.struct(
            F.lit(tag).alias("src"),
            F.col(f"__x{i}__").alias("exact"),
            ok.alias("approx_within_bound"),
        )

    pct = agg.select(
        F.col("l_returnflag").alias("key"),
        F.inline(
            F.array(
                *[
                    pct_struct(i, tag)
                    for i, tag in enumerate(
                        ("tdigest_p50", "tdigest_p90", "tdigest_p99")
                    )
                ]
            )
        ),
    ).select("src", "key", "exact", "approx_within_bound")

    exact_df = skew_safe_count_distinct(li, ["l_suppkey"], "l_partkey")
    approx_df = li.groupBy("l_suppkey").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("__a__")
    )
    exact = F.col("l_partkey_distinct")
    bound = F.greatest(F.ceil(exact * F.lit(5 * 0.01)), F.lit(2))
    hll = exact_df.join(approx_df, "l_suppkey").select(
        F.lit("hll").alias("src"),
        F.col("l_suppkey").cast("string").alias("key"),
        exact.cast("double").alias("exact"),
        (F.abs(F.col("__a__") - exact) <= bound).alias("approx_within_bound"),
    )
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    mg = heavy_hitters(
        toks, "tok", min_share=0.004, capacity=512, include_bounds=True
    ).select(
        F.lit("mg").alias("src"),
        F.col("tok").alias("key"),
        F.col("count").cast("double").alias("exact"),
        (
            (F.col("lower_bound") <= F.col("count"))
            & (F.col("count") <= F.col("upper_bound"))
        ).alias("approx_within_bound"),
    )
    # src=hll_roll (r8): INCREMENTAL rollup via persistable DataSketches
    # HLL partials — per-(returnflag, shipmonth) sketches (what a daily
    # ingest would write next to its partition), merged with
    # hll_union_agg up to per-flag estimates: the coarser rollup never
    # re-touches raw rows, only ~|partials| kilobyte sketches. Contract:
    # |merged estimate − exact distinct| ≤ max(5·rse·exact, 2),
    # rse = 1.04/√2^12 ≈ 1.6% (lgk=12), 5σ — deterministic per dataset
    # (sketch insertion is hash-based, order-independent).
    from pandarallel_spark.operators.relational import (
        sketch_rollup,
        sketch_rollup_merge,
    )

    partials = sketch_rollup(
        li.withColumn("__mon__", F.trunc("l_shipdate", "month")),
        ["l_returnflag", "__mon__"],
        "l_partkey",
        lgk=12,
    )
    merged = sketch_rollup_merge(
        partials, ["l_returnflag"], "l_partkey_hll", estimate_col="__est__"
    )
    exact_flag = skew_safe_count_distinct(li, ["l_returnflag"], "l_partkey")
    ex = F.col("l_partkey_distinct")
    roll_bound = F.greatest(F.ceil(ex * F.lit(5 * 1.04 / (2**6))), F.lit(2))
    hll_roll = exact_flag.join(merged, "l_returnflag").select(
        F.lit("hll_roll").alias("src"),
        F.col("l_returnflag").alias("key"),
        ex.cast("double").alias("exact"),
        (F.abs(F.col("__est__") - ex) <= roll_bound).alias(
            "approx_within_bound"
        ),
    )
    # src=kll_exact_* / theta_exact (r13, the r12 verdict's task #4):
    # below k (KLL) / 2^lg_k (Theta) the sketches store everything and
    # their answers are EXACT — and the per-source / residue-set
    # populations here sit in that regime at every test SF — so the
    # exact column carries the SKETCH's own answer and the oracle
    # asserts it equals the exact SQL (quantile_disc — the shared
    # "smallest item with inclusive rank ≥ p" convention — and the
    # distinct-set algebra). A regime regression breaks the value
    # hash, not a tolerance.
    from pandarallel_spark.operators.sketches import (
        corpus_overlap,
        quantile_sketch_merge,
        quantile_sketch_rollup,
    )

    docs_nc = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    kll_partials = quantile_sketch_rollup(
        docs_nc, ["source", "lang"], "n_chars", k=4096
    )
    kll_merged = quantile_sketch_merge(
        kll_partials, ["source"], "n_chars_kll", quantiles=[0.5, 0.99],
        dtype="bigint",
    )
    # regime guard (ADVICE r13): the HARD-equality contract only holds
    # while every merged per-source sketch is in the exact regime
    # (n ≤ k — below that KLL stores every value). At sf0.1 that is
    # 250 docs/source (~16× headroom), but a larger-SF run would
    # otherwise fail as an opaque value-hash mismatch; this fused
    # when/otherwise(raise_error) names the violation instead. The
    # sketch's own n column is the witness — no extra aggregate. (The
    # theta_exact kinds need no guard: their value space is doc_id %
    # 400, ≤ 400 distinct residues at ANY SF, far under 2^lg_k=4096.)
    _kll_regime_err = F.raise_error(
        F.concat(
            F.lit(
                "sketches_error_contracts: kll_exact regime violated — "
                "source "
            ),
            F.col("source"),
            F.lit(" merged n="),
            F.col("n").cast("string"),
            F.lit(
                " > k=4096, so the KLL answer is an estimate, not exact; "
                "scale k with SF or retire the kll_exact_* kinds"
            ),
        )
    ).cast("double")

    def _kll_exact(col: str) -> Column:
        return F.when(
            F.col("n") <= F.lit(4096), F.col(col).cast("double")
        ).otherwise(_kll_regime_err)

    kll_rows = kll_merged.select(
        F.col("source").alias("key"),
        F.inline(F.array(
            F.struct(
                F.lit("kll_exact_p50").alias("src"),
                _kll_exact("p50").alias("exact"),
                F.lit(True).alias("approx_within_bound"),
            ),
            F.struct(
                F.lit("kll_exact_p99").alias("src"),
                _kll_exact("p99").alias("exact"),
                F.lit(True).alias("approx_within_bound"),
            ),
        )),
    ).select("src", "key", "exact", "approx_within_bound")
    residue = (F.col("doc_id") % 400).alias("v")
    theta = corpus_overlap(
        docs_nc.filter(F.col("doc_id") % 2 == 0).select(residue),
        docs_nc.filter(F.col("doc_id") % 3 == 0).select(residue),
        "v",
        lg_k=12,
    )
    theta_rows = theta.select(
        F.inline(F.array(*[
            F.struct(
                F.lit("theta_exact").alias("src"),
                F.lit(c).alias("key"),
                F.col(c).cast("double").alias("exact"),
                F.lit(True).alias("approx_within_bound"),
            )
            for c in ("n_a", "n_b", "n_union", "n_intersection",
                      "n_only_a", "n_only_b", "jaccard")
        ])),
    ).select("src", "key", "exact", "approx_within_bound")
    return (
        pct.unionByName(hll).unionByName(mg).unionByName(hll_roll)
        .unionByName(kll_rows).unionByName(theta_rows)
    )


@register(
    "rolling_corr_qty_price",
    """
WITH t AS (SELECT l_suppkey,
                  lpad(CAST(l_orderkey AS VARCHAR), 7, '0')
                  || CAST(l_linenumber AS VARCHAR)
                  || lpad(CAST(l_partkey AS VARCHAR), 6, '0')
                  || lpad(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR), 2, '0')
                  || lpad(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                               AS VARCHAR), 8, '0') AS idx,
                  CAST(l_quantity AS DOUBLE) AS x,
                  CAST(round(l_extendedprice * 100) AS DOUBLE) AS y
           FROM lineitem),
w AS (SELECT l_suppkey, idx,
             CAST(COUNT(*) OVER win AS DOUBLE) AS n,
             SUM(x) OVER win AS sx, SUM(y) OVER win AS sy,
             SUM(x * y) OVER win AS sxy,
             SUM(x * x) OVER win AS sxx, SUM(y * y) OVER win AS syy
      FROM t
      WINDOW win AS (PARTITION BY l_suppkey ORDER BY idx
                     ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
SELECT l_suppkey, idx,
       CASE WHEN n >= 3 THEN
         (n * sxy - sx * sy)
         / NULLIF(sqrt(greatest(n * sxx - sx * sx, 0.0))
                  * sqrt(greatest(n * syy - sy * sy, 0.0)), 0.0)
       END AS corr_qty_price
FROM w
""",
    "Grouped rolling correlation (pandas rolling.corr(other)) between "
    "quantity and price cents per supplier — the two-column window "
    "moment path (operators/window.py _pairwise_over): pairwise-"
    "complete observations, min_periods gate on pair count, NULL on "
    "zero-variance windows. Pure JVM window expressions partitioned by "
    "the group key (one shuffle, whole-stage codegen — the 100 TB "
    "shape). Hash-exact vs the oracle because every window sum is "
    "exact integer arithmetic in double (cents ≤ 1.05e7 keeps all "
    "moments under 2^53) and BOTH engines evaluate the same explicit "
    "two-moment formula — DuckDB's own corr() aggregate uses a "
    "different update order and would differ in the last ulp. The "
    "order key is a zero-padded composite string (orderkey, "
    "linenumber, partkey, qty, cents) because (l_orderkey, "
    "l_linenumber) is NOT unique in this synthetic data — both "
    "engines sort strings bytewise, so frames are identical.",
)
def rolling_corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandarallel_spark import parallelize

    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.concat(
            F.lpad(F.col("l_orderkey").cast("string"), 7, "0"),
            F.col("l_linenumber").cast("string"),
            F.lpad(F.col("l_partkey").cast("string"), 6, "0"),
            F.lpad(F.col("l_quantity").cast("long").cast("string"), 2, "0"),
            F.lpad(cents.cast("string"), 8, "0"),
        ).alias("idx"),
        F.col("l_quantity").cast("double").alias("x"),
        cents.cast("double").alias("y"),
    )
    out = (
        parallelize(li, order_by="idx")
        .groupby("l_suppkey")
        .series("x")
        .rolling(5, min_periods=3)
        .parallel_apply("corr", win_args={"other": "y"}, output_col="corr_qty_price")
    )
    return out.select("l_suppkey", "idx", "corr_qty_price")
