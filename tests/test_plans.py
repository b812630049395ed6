"""Plan-regression tests: the physical plans that make this engine
scale must not silently degrade. `.explain` output is asserted for
pushdown, pruning, partial aggregation, and broadcast joins."""

import io
from contextlib import redirect_stdout

import pytest

from pandarallel_spark.workload import queries

# global windows on these small frames run the bucketed plan that inputs
# above _memo.ONE_TASK_BYTES take (conftest ``bucketed``)
pytestmark = pytest.mark.usefixtures("bucketed")


def _plan(spark, sf_dir, name):
    buf = io.StringIO()
    with redirect_stdout(buf):
        queries()[name](spark, sf_dir).explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "groupby_agg_pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # column pruning: only the referenced columns reach the scan
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "l_orderkey" not in read_schema  # unused column pruned
    # two-phase aggregation (map-side partial)
    assert plan.count("HashAggregate") >= 2


def test_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_revenue_per_nation")
    # formatted explain mentions each node in the tree and detail section
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_row_apply_expr_no_python(spark, sf_dir):
    # the merged graded row (row_apply_disc_price) unions the expr and
    # UDF branches, so the expr-path purity check drives the operator
    # directly: the Column fast path must contain NO Python evaluation
    import io
    from contextlib import redirect_stdout

    from pandarallel_spark import parallelize
    from pandarallel_spark.sources import load_table
    from pandarallel_spark.workload.core_ops import _cents

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    expr = _cents("l_extendedprice") * (100 - _cents("l_discount")) / 10000.0
    out = parallelize(li).parallel_apply(expr, axis=1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    # and the merged graded row keeps Python OUT of its expr branch:
    # exactly ONE MapInPandas node (formatted explain names each node
    # twice — tree + detail section), from the UDF branch
    merged = _plan(spark, sf_dir, "row_apply_disc_price")
    assert merged.count("MapInPandas") == 2


def test_series_map_is_jvm_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "series_map_dict")
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_grouped_rolling_single_shuffle(spark, sf_dir):
    # merged graded row (r7): builtin + udf branches unioned. The
    # builtin branch keeps Python OUT (JVM Window exec); the udf branch
    # is the one grouped-pandas pass (tree + detail = 2 mentions each)
    plan = _plan(spark, sf_dir, "grouped_rolling_sum")
    assert plan.count("Exchange") <= 4  # one hashpartitioning per branch (+AQE)
    assert plan.count(" Window") == 2  # builtin branch: JVM window exec
    assert plan.count("FlatMapGroupsInPandas") == 2  # udf branch only
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_minhash_stays_jvm_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dedup_minhash_lsh")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_lsh_no_row_at_a_time_python(spark, sf_dir):
    # signatures ride one Arrow-batched matmul (MapInPandas is the
    # intended scale shape, like IVF assignment); the scored join and
    # rerank stay JVM-side — no per-row Python anywhere
    plan = _plan(spark, sf_dir, "similarity_lsh_bucketed")
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInPandas") <= 2  # tree + detail of the one pass
    assert "BroadcastHashJoin" in plan


def test_bpe_tokens_pruned_scan_no_python(spark, sf_dir):
    plan = _plan(spark, sf_dir, "text_bpe_tokens")
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "text" in read_schema and "lang" not in read_schema


def test_event_windows_one_shuffle_per_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "events_windows_tumbling_sliding")
    # tumbling + sliding sides: ONE aggregation exchange each, the
    # sliding side expand(4 windows) before it; the union itself is
    # plan-level, never a shuffle (formatted explain mentions each node
    # twice: tree + detail section)
    assert plan.count("Exchange") <= 4
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 8  # partial + final, both sides


def test_ivf_broadcast_probes_no_corpus_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "similarity_ivf_topk")
    # probe table broadcast into the candidate join; the corpus never
    # hash-shuffles (only the final per-query top-k window exchanges
    # candidate rows)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_pairs_lsh_no_cartesian(spark, sf_dir):
    """The embedding near-dup scale path must never plan an all-pairs
    join: candidates come from the (band, signature) self-join."""
    plan = _plan(spark, sf_dir, "embedding_cosine_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # signatures ride Arrow batches


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """The eval-set side must broadcast (it is tiny by definition); the
    corpus side must never shuffle its shingles before the join."""
    plan = _plan(spark, sf_dir, "decontaminate_ngram_hits")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_bm25_no_python_partial_topk(spark, sf_dir):
    """BM25 is pure expressions + broadcast stats; the top-50 must plan
    as TakeOrderedAndProject (per-partition partial top-k), not a global
    sort."""
    plan = _plan(spark, sf_dir, "bm25_topk")
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    # the visible top-k (the fused rank ≤ 20) must plan as a PARTIAL
    # top-k, never a global sort: with an empty-spec rank window the
    # optimizer rewrites it to TakeOrderedAndProject
    # (LimitPushDownThroughWindow); with r12's constant-keyed window it
    # plants map-side WindowGroupLimit before the exchange
    # (InferWindowGroupLimit) — both are the two-phase partial-top-k
    # shape (the bm kind's own top-50 TOAP sits behind the lineage cut)
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan


def test_semi_anti_are_semi_joins(spark, sf_dir):
    plan = _plan(spark, sf_dir, "semi_anti_customers_per_nation")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    # every orders scan is pruned to the join key only
    orders_schemas = [
        seg.split("ReadSchema:", 1)[1].splitlines()[0]
        for seg in plan.split("Location:")
        if "orders" in seg.splitlines()[0] and "ReadSchema:" in seg
    ]
    assert orders_schemas, "no orders scan found in plan"
    for rs in orders_schemas:
        assert "o_custkey" in rs and "o_totalprice" not in rs


def test_grouping_sets_single_expand_aggregate_per_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "grouping_sets_rollup_cube")
    # each side (ROLLUP lineitem, CUBE orders) is one scan + map-side
    # Expand + one aggregation — never a self-union of scans per
    # grouping level (formatted explain mentions each node twice:
    # tree + detail)
    assert plan.count("Scan parquet") <= 4  # exactly lineitem + orders
    assert "Expand" in plan
    assert plan.count("HashAggregate") >= 4  # partial + final, both sides


def test_lead_lag_single_window_exchange(spark, sf_dir):
    plan = _plan(spark, sf_dir, "lead_lag_order_gaps")
    assert plan.count("Exchange") <= 2
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_cleanup_pipeline_fused_single_shuffle(spark, sf_dir):
    """The end-to-end cleanup (score -> filter -> dedup -> split) must
    stay one fused plan: zero Python, one exchange (the dedup window),
    and a scan reading only (doc_id, text)."""
    plan = _plan(spark, sf_dir, "corpus_cleanup_pipeline")
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange") <= 2  # tree + detail of the one shuffle
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "text" in read_schema and "source" not in read_schema


def test_weighted_rolling_stays_jvm_side(spark):
    """win_type weighted aggs are lag/lead slot expressions — whole-stage
    codegen, no Python workers, and (grouped) a single key shuffle."""
    import io
    from contextlib import redirect_stdout

    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    pdf = pd.DataFrame(
        {
            "idx": np.arange(500, dtype="int64"),
            "k": np.arange(500, dtype="int64") % 5,
            "x": np.arange(500, dtype="float64"),
        }
    )
    sdf = spark.createDataFrame(pdf).repartition(4)
    out = (
        parallelize(sdf, order_by="idx")
        .groupby("k")
        .series("x")
        .rolling(5, win_type="gaussian")
        .parallel_apply("mean", win_args={"std": 2.0}, output_col="r")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted explain repeats nodes in the detail section — count the
    # "(n) Exchange" detail headers: input repartition + the key shuffle
    assert plan.count(") Exchange") <= 2


def test_multimodal_single_scan_explode_fanout(spark, sf_dir):
    """The three media kinds fan out of ONE documents scan via explode —
    a per-kind union would read the table three times (3x IO at scale).
    The sha digest is JVM-side; only the decode stage is Python."""
    plan = _plan(spark, sf_dir, "multimodal_features")
    assert plan.count("Scan parquet") <= 2  # tree + detail of one scan
    assert "Generate explode" in plan or "Generate" in plan
    assert plan.count("MapInPandas") <= 2  # the decode stage only
    assert "BatchEvalPython" not in plan


def test_time_rolling_single_exchange_no_python(spark, sf_dir):
    """Time-offset rolling is a RANGE-frame window: one shuffle on the
    partition key, whole-stage codegen, no Python anywhere."""
    plan = _plan(spark, sf_dir, "time_rolling_purchase_cents_1h")
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("Exchange") <= 2  # tree + detail of the key shuffle


def test_substring_dedup_jvm_only_and_pruned(spark, sf_dir):
    # ExactSubstr must stay entirely JVM-side (higher-order functions +
    # window merge, zero Python) and prune the scan to the referenced
    # columns on both branches (the gram-count side reads text only)
    plan = _plan(spark, sf_dir, "dedup_substring_spans")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan and "FlatMapGroupsInPandas" not in plan
    schemas = [
        seg[:200] for seg in plan.split("ReadSchema:")[1:]
    ]
    assert schemas and all("text" in s for s in schemas)
    assert all("source" not in s and "lang" not in s for s in schemas)


def test_heavy_hitters_broadcast_recount_no_universe_shuffle(spark, sf_dir):
    """heavy_hitters' exact pass must recount only candidates: the
    second scan side joins a BROADCAST candidate set (semi join), and
    the only wide aggregates run over the bounded MG summary rows —
    never a groupBy over the raw key universe without the semi filter
    in front of it."""
    import io as _io
    from contextlib import redirect_stdout as _rs

    from pandarallel_spark.operators.relational import heavy_hitters
    from pandarallel_spark.operators.text import tokens
    from pandarallel_spark.sources import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("tok"))
    out = heavy_hitters(toks, "tok", min_share=0.004, capacity=512)
    buf = _io.StringIO()
    with _rs(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "BatchEvalPython" not in plan  # MG summary is Arrow-batched
    # the MG summary pass ran EAGERLY at build time (superset guard +
    # candidate checkpoint, r8); the returned recount plan joins the
    # checkpointed candidate RDD — the summary/universe never re-enters
    # the plan, and no Python stage survives into the recount
    assert "MapInPandas" not in plan
    assert "ExistingRDD" in plan  # localCheckpoint'ed candidate set


def test_global_weighted_window_is_bucket_partitioned(spark):
    """r8: the global win_type window was the one remaining always-
    single-partition path — it must now ride the range-bucket + halo
    machinery: zero single-partition exchanges, slots partitioned by
    __bkt__. Covers sum (frame-aligned weights) AND std (rotating
    alignment, which needs the per-bucket global-index rebase)."""
    import io as _io
    from contextlib import redirect_stdout as _rs

    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize
    from pandarallel_spark.plans.audit import scale_audit

    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({
        "idx": np.arange(4000, dtype="int64"),
        "x": rng.standard_normal(4000),
    })
    sdf = spark.createDataFrame(pdf).repartition(8)
    for agg in ("sum", "std"):
        out = (
            parallelize(sdf, order_by="idx")
            .series("x")
            .rolling(5, win_type="gaussian")
            .parallel_apply(agg, win_args={"std": 1.5}, output_col="r")
        )
        audit = scale_audit(out)
        assert audit.single_partition_exchanges == 0, agg
        buf = _io.StringIO()
        with _rs(buf):
            out.explain("formatted")
        assert "hashpartitioning(__bkt__" in buf.getvalue(), agg


def test_global_ewm_times_is_bucket_partitioned(spark):
    """Global ewm(times=) must run as a __bkt__-keyed applyInPandas —
    one shuffle on the range bucket, never a single-partition sort."""
    import io as _io
    from contextlib import redirect_stdout as _rs

    import numpy as np
    import pandas as pd

    from pandarallel_spark import parallelize

    rng = np.random.default_rng(3)
    n = 2000
    pdf = pd.DataFrame({
        "ts": pd.Timestamp("2024-01-01")
        + pd.to_timedelta(np.cumsum(rng.integers(1, 600, n)), unit="s"),
        "x": rng.standard_normal(n),
    })
    out = (
        parallelize(spark.createDataFrame(pdf).repartition(8))
        .series("x").ewm(halflife="1h", times="ts").mean(output_col="r")
    )
    buf = _io.StringIO()
    with _rs(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "hashpartitioning(__bkt__" in plan
    assert "SinglePartition" not in plan


def test_scale_audit_reads_plan_facts(spark, sf_dir):
    """scale_audit must extract the plan facts the other tests assert
    by string-matching: shuffles, broadcasts, Python stages, pushdown,
    scan counts, and single-partition detection."""
    from pandarallel_spark import parallelize
    from pandarallel_spark.plans import scale_audit
    from pandarallel_spark.sources import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    na = load_table(spark, sf_dir, "nation")
    q = (
        li.filter(F.col("l_quantity") > 10)
        .join(F.broadcast(na), li.l_suppkey % 25 == na.n_nationkey)
        .groupBy("n_name").agg(F.sum("l_extendedprice").alias("rev"))
    )
    a = scale_audit(q)
    assert a.broadcast_joins == 1 and a.broadcast_exchanges == 1
    assert a.exchanges == 1 and a.single_partition_exchanges == 0
    assert a.python_free and a.scans == 2
    assert any("l_quantity" in f for f in a.pushed_filters)

    import math

    p = parallelize(li).parallel_apply(lambda r: math.sin(r.l_quantity), axis=1)
    ap = scale_audit(p)
    assert ap.python_arrow_stages >= 1 and ap.python_row_stages == 0

    # the scale killer must be visible: repartition(1) is a
    # SinglePartition exchange; a global sort is a rangepartitioning
    # exchange (sorted-with-limit instead plans TakeOrderedAndProject,
    # which is partial top-k — NOT a global sort — and shows no
    # exchange: the audit correctly reports that plan as shuffle-free)
    a1 = scale_audit(li.repartition(1).select("l_orderkey"))
    assert a1.single_partition_exchanges == 1 and a1.exchanges == 1
    aw = scale_audit(li.orderBy("l_orderkey").select("l_orderkey"))
    assert aw.exchanges >= 1 and aw.single_partition_exchanges == 0


def test_registry_scale_audit(spark, sf_dir):
    """Registry-wide scale gate (r8): the compile-time physical plan of
    EVERY graded query must obey the scale contract — no
    single-partition exchange (a total-order sort is one task doing all
    the work), no row-at-a-time Python stage, no cartesian/nested-loop
    join — except the explicitly allowed exceptions below, each tied to
    a documented design decision. A regression that quietly serializes
    a plan now fails CI instead of surfacing as a 100x cluster
    straggler."""
    from pandarallel_spark.plans import scale_audit
    from pandarallel_spark.workload import REGISTRY, queries

    queries()  # force registration
    # every allowance names a BOUNDED-INPUT or semantically-forced
    # single partition — verified by reading the plan and the operator:
    # r12: the bounded top-k/carry windows (bm25's rank lists, the
    # as-of and expanding bucket carries, the temperature n_min) now
    # declare their deliberate single partition with a constant key
    # (_memo.constant_partition_key) instead of an empty spec, so those
    # former allowances measure 0 and were removed — the gate is
    # strictly tighter than r11's.
    allowed_single_partition = {
        # axis=0 UDF reduce (reference op #2): pandas hands the WHOLE
        # column to one opaque func — not distributable by definition;
        # builtin-name aggs route to JVM partial aggregation instead
        "col_apply_range": 1,
        # the contract row's three sequential stock-pandas REFERENCE
        # branches (mean/var/times): the graded boolean is precisely
        # "distributed scan == sequential scan", so one-task references
        # exist BY DESIGN; ~30 anchor rows reach the final output
        "ewm_mean_purchase_cents": 3,
    }
    allowed_nested_loop = {
        # the graded row kind-tags BOTH execution forms; the expr form
        # is the documented small-side all-pairs baseline whose scale
        # twins (LSH/IVF) are graded in their own rows
        "similarity_topk": 1,
        # the 1-row corpus-stats build side broadcast to every doc —
        # the documented bounded broadcast (operators/text.py BM25)
        "bm25_topk": 1,
        # temperature kinds (stored + derived, r13): each mixes via the
        # 1-row n_min broadcast joined onto the |strata|-row count
        # table (both sides bounded by construction); the derived
        # kind's langid cross-fill sits behind its lineage cut
        "stratified_sample_sources": 2,
        # langid_ct + langid_ct_und kinds (r13/r14): ONE shared
        # identify_language chain (r14 optimization — nearest_col
        # exposes the pre-rejection label, so both kinds ride a single
        # classification pass) scores every doc against every language
        # via the |langs|-row broadcast cross-fill (bounded by
        # construction; a doc with zero profile overlap must not
        # vanish — review-pinned).
        "text_stats": 1,
        # theta_exact kind (r13): corpus_overlap's 1×1 broadcast join
        # of the two single-row sketch aggregates (sketches.py:239)
        "sketches_error_contracts": 1,
    }
    failures = []
    for name in sorted(REGISTRY):
        df = REGISTRY[name].fn(spark, sf_dir)
        a = scale_audit(df)
        if a.single_partition_exchanges > allowed_single_partition.get(name, 0):
            failures.append(
                f"{name}: {a.single_partition_exchanges} single-partition "
                f"exchanges (allowed {allowed_single_partition.get(name, 0)})"
            )
        if a.python_row_stages:
            failures.append(
                f"{name}: {a.python_row_stages} row-at-a-time Python stages"
            )
        if a.nested_loop_joins > allowed_nested_loop.get(name, 0):
            failures.append(
                f"{name}: {a.nested_loop_joins} nested-loop/cartesian joins "
                f"(allowed {allowed_nested_loop.get(name, 0)})"
            )
    assert not failures, "scale contract violations:\n" + "\n".join(failures)


def test_audit_exempts_bounded_scalar_agg_exchanges(spark):
    """A SinglePartition exchange merging a global Keys:[] partial
    aggregate of fixed-size partials carries one bounded row per input
    partition — exempt (this is also the shape Catalyst injects for
    runtime bloom join filters). A genuine total-order sort stays a
    violation, and a variable-size partial (collect_list) stays
    counted too."""
    from pandarallel_spark.plans.audit import scale_audit
    from pyspark.sql import functions as F

    df = spark.range(1000).toDF("x")
    scalar = df.agg(F.count("x").alias("n"), F.sum("x").alias("s"))
    a = scale_audit(scalar)
    assert a.single_partition_exchanges == 0
    assert a.bounded_scalar_agg_exchanges == 1

    # a window with no partitionBy IS the single-partition shape
    # (Exchange SinglePartition under a Sort) and must still count
    from pyspark.sql import Window

    w = df.select(F.sum("x").over(Window.orderBy("x")).alias("rs"))
    c = scale_audit(w)
    assert c.single_partition_exchanges == 1
    assert c.bounded_scalar_agg_exchanges == 0

    lst = df.agg(F.collect_list("x").alias("xs"))
    d = scale_audit(lst)
    assert d.single_partition_exchanges == 1  # data-sized partial rows
    assert d.bounded_scalar_agg_exchanges == 0


@pytest.mark.parametrize("op", ["grouped_apply", "grouped_rolling_udf", "ewm_mean"])
def test_bucketed_python_stage_runs_one_task_per_shuffle_partition(spark, op):
    """A bucketed grouped Python stage runs ``stage_task_count`` tasks —
    one per shuffle partition in a session whose shuffle partitions
    are at most its cores — under the default confs (AQE on): a small
    bucketed shuffle is never coalesced into one Python task, and the
    stage reads exactly one Exchange — the bucket repartition, which
    the grouping reuses."""
    import re
    import uuid

    import numpy as np
    import pandas as pd

    from pandarallel_spark.operators import groupby as gb
    from pandarallel_spark.operators import window as W
    from pandarallel_spark.operators._memo import shuffle_partitions, stage_task_count

    n = 600
    pdf = pd.DataFrame(
        {
            "k": np.arange(n) % 37,
            "idx": np.arange(n),
            "v": np.random.default_rng(7).random(n),
        }
    )
    # two input partitions: the map stage's task count differs from
    # the shuffle partition count
    sdf = spark.createDataFrame(pdf).coalesce(2)
    out = {
        "grouped_apply": lambda: gb.grouped_apply(
            sdf, "k", lambda g: float(g.v.sum()),
            schema="k long, result double", mode="scalar",
        ),
        "grouped_rolling_udf": lambda: W.rolling_apply(
            sdf, "v", 3, lambda a: a.sum(), "idx",
            partition_by=["k"], output_col="r",
        ),
        "ewm_mean": lambda: W.ewm_mean(sdf, "v", "idx", alpha=0.3, output_col="r"),
    }[op]()  # built first: build-time jobs stay outside the job group

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"bucketed-stage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(rows) == (37 if op == "grouped_apply" else n)
    stages = {
        sid: tracker.getStageInfo(sid)
        for jid in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(jid).stageIds
    }
    # the Python stage is the result stage: the last one to run
    python_stage = stages[max(s for s, i in stages.items() if i and i.numCompletedTasks)]
    n_parts = stage_task_count(sdf)
    assert n_parts == shuffle_partitions(spark) > 2  # at most the cores
    assert python_stage.numTasks == n_parts, python_stage
    assert python_stage.numCompletedTasks == n_parts, python_stage

    final = out._jdf.queryExecution().executedPlan()
    if final.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        final = final.executedPlan()
    plan = final.toString()
    assert "FlatMapGroupsInPandas" in plan, plan
    assert len(re.findall(r"\bExchange\b", plan)) == 1, plan
    assert "REPARTITION_BY_NUM" in plan, plan


def test_stage_task_count_caps_tasks_at_cores(spark):
    """A bucketed stage's task count is the shuffle partitions capped at
    the core count: a session at 200 shuffle partitions runs a grouped
    apply on the cores' worth of tasks."""
    import uuid

    import numpy as np
    import pandas as pd

    from pandarallel_spark.operators import groupby as gb
    from pandarallel_spark.operators._memo import stage_task_count

    pdf = pd.DataFrame({"k": np.arange(3000) % 300, "v": np.arange(3000) * 0.5})
    sdf = spark.createDataFrame(pdf)
    cores = spark.sparkContext.defaultParallelism
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "200")
        assert stage_task_count(sdf) == cores
        out = gb.grouped_apply(
            sdf, "k", lambda g: float(g.v.sum()),
            schema="k long, result double", mode="scalar",
        )
        sc = spark.sparkContext
        group = f"task-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            got = out.toPandas().sort_values("k", ignore_index=True)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        stages = {
            sid: tracker.getStageInfo(sid)
            for jid in tracker.getJobIdsForGroup(group)
            for sid in tracker.getJobInfo(jid).stageIds
        }
        # the Python stage is the result stage: the last one to run
        last = stages[max(s for s, i in stages.items() if i and i.numCompletedTasks)]
        assert last.numTasks == cores, last
        want = pdf.groupby("k").v.sum()
        np.testing.assert_array_equal(got["result"].to_numpy(), want.to_numpy())
        # at most the cores: the shuffle partitions
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert stage_task_count(sdf) == min(2, cores)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
