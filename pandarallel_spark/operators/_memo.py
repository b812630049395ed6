"""Bounded build-time memo helpers shared by operators.

Operators that run eager Spark jobs at plan-build time (halo-rolling
boundary extraction, ngram-Jaccard protection measurement, symbolic
window probes) memoize the results so rebuilding the same plan is free.
Two rules, both learned from review findings:

- ``memo_put``: one bounded-FIFO eviction policy, not per-module copies
  that could silently diverge.
- ``plan_data_key``: a memo key must identify the DATA, not just the
  plan. ``semanticHash`` alone hashes the logical plan (e.g. a parquet
  path), so overwriting that path with new data would hit the memo and
  serve stale build-time results. ``inputFiles()`` lists the concrete
  files backing the scan — Spark writers always create fresh UUID-named
  files, so overwrite/append changes the key. Inputs without a file
  identity get key ``None`` → caller must skip memoization entirely
  (an ``id()``-based fallback is unsound: CPython reuses addresses
  after GC, which could serve another frame's cached results).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandarallel_spark.session import _patch_worker_zipimport

STRICT_LAZY_CONF = "spark.pandarallel_spark.strictLazy"


def strict_lazy(spark) -> bool:
    """Whether the session forbids Spark jobs at plan-build time
    (``spark.pandarallel_spark.strictLazy``); an unreadable conf means
    not strict."""
    try:
        return str(spark.conf.get(STRICT_LAZY_CONF, "false")).lower() == "true"
    except Exception:  # noqa: BLE001 — unreadable conf: not strict
        return False


def eager_build_guard(spark, what: str, skip_hint: str) -> None:
    """Raise under strict-lazy mode instead of running a build-time job.

    Some operators run small, bounded, memoized Spark jobs while the
    plan is being BUILT (halo-rolling boundary context, ngram-Jaccard
    protection measurement, similarity dim inference, global as-of
    bucket boundaries). That is the right engineering for interactive
    use, but a pipeline that constructs plans against a busy or stopped
    session should be able to forbid surprise cluster work: set
    ``spark.conf.set("spark.pandarallel_spark.strictLazy", "true")``.
    Global range-bucket windows (halo rolling — builtin and UDF —
    expanding, time rolling, the ewm carry scans) and the global as-of
    join then fall back to their lazy single-partition plan and warn
    ``SINGLE-PARTITION``; every other build-time job site (e.g. the
    ngram-Jaccard measurement) calls this guard, which raises
    ``RuntimeError`` naming the job and the explicit argument that
    skips it. Memo HITS never trigger either (nothing runs); only a
    build that would actually launch a job does.
    """
    if strict_lazy(spark):
        raise RuntimeError(
            f"strictLazy is set and building this plan would run an eager "
            f"Spark job ({what}). {skip_hint}"
        )


RELIABLE_CHECKPOINT_CONF = "spark.pandarallel_spark.reliableCheckpoint"


def truncate_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut a plan's lineage — ``localCheckpoint`` by default, RELIABLE
    ``checkpoint()`` when opted in (r9 verdict task 4).

    Iterative operators (connected-components rounds) and reused
    intermediates (the MinHash signature/candidate tables) must truncate
    lineage or the logical plan doubles per round. ``localCheckpoint``
    does that with zero I/O cost but pins blocks on EXECUTORS: executor
    loss or a dynamic-allocation scale-down discards them and the whole
    job must restart — acceptable for interactive work, not for a
    multi-hour 100 TB contraction. Setting
    ``spark.conf.set("spark.pandarallel_spark.reliableCheckpoint",
    "true")`` (with ``spark.sparkContext.setCheckpointDir(...)``
    pointing at durable storage — HDFS/S3 on a cluster) switches every
    such site to reliable ``checkpoint()``: rounds survive executor
    churn at the price of writing each round to the checkpoint dir.
    Spark only cleans reliable checkpoints at context shutdown when
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set — point
    the dir at scratch storage or enable that conf."""
    spark = df.sparkSession
    try:
        flag = str(spark.conf.get(RELIABLE_CHECKPOINT_CONF, "false")).lower()
    except Exception:  # noqa: BLE001 — unreadable conf: default path
        flag = "false"
    if flag != "true":
        return df.localCheckpoint(eager=eager)
    if not eager:
        # the reliable branch is unavoidably eager (persist + checkpoint
        # launch jobs NOW); a lazy call site under strictLazy must not
        # violate the no-surprise-jobs contract (ADVICE r10), so it
        # keeps the lazy localCheckpoint — the caller opted into strict
        # laziness first, and the fault-tolerance opt-in only governs
        # the sites that were already eager.
        if strict_lazy(spark):
            return df.localCheckpoint(eager=False)
    if spark.sparkContext.getCheckpointDir() is None:
        raise RuntimeError(
            f"{RELIABLE_CHECKPOINT_CONF} is true but no checkpoint "
            "directory is set — call "
            "spark.sparkContext.setCheckpointDir('<durable path>') first"
        )
    # persist-before-checkpoint: a bare checkpoint() computes the
    # subtree once for the action and AGAIN for the checkpoint-write
    # job — doubling exactly the multi-hour jobs this opt-in targets.
    # Caching first lets the write job read the computed blocks; the
    # pin is released as soon as the files are durable. This forces
    # eagerness (an unpersist needs a known materialization point) —
    # acceptable: every lazy call site's intermediate is consumed
    # unconditionally, so the work is merely moved, not added.
    df = df.persist()
    try:
        return df.checkpoint(eager=True)
    finally:
        df.unpersist()


def constant_partition_key(col):
    """A constant-valued but NON-FOLDABLE window partition key for
    deliberately single-partition windows over PROVABLY TINY frames
    (top-k lists, per-bucket carry tables ≤ n_buckets rows).

    Why not an empty partition spec: WindowExec warns "No Partition
    Defined … serious performance degradation" on every such window,
    and these documented-bounded sites would bury a FUTURE genuine
    total-order regression in known-benign noise (r11 verdict). Why
    not ``partitionBy(F.lit(0))``: Spark 4's
    ``EliminateWindowPartitions`` optimizer rule strips foldable
    partition expressions, reintroducing the empty spec (a
    multiply-by-zero form is likewise simplified away — both verified
    empirically). This form — ``pmod(hash(col), 1)`` — evaluates to 0
    for every row of ANY type (``hash(NULL)`` is the seed, so NULLs
    land in the same partition), references a real column so no rule
    can fold it, and costs one hash per row on frames that are tiny by
    contract. Use it ONLY where the docstring of the call site states
    why the frame is bounded."""
    c = col if isinstance(col, Column) else F.col(col)
    return F.pmod(F.hash(c), F.lit(1))


def shuffle_partitions(spark, default: int = 200) -> int:
    """``spark.sql.shuffle.partitions`` as an int, tolerating platforms
    where the conf is non-numeric (e.g. ``"auto"`` on Databricks): an
    unparseable value is treated as multi-partition (the default), never
    a crash."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions", str(default)))
    except (ValueError, TypeError):
        return default


# AQE's default ``spark.sql.adaptive.coalescePartitions.minPartitionSize``:
# below it AQE itself runs a shuffle as one task
ONE_TASK_BYTES = 1 << 20


def range_bucket_count(df: DataFrame) -> int:
    """Range-bucket count of every global window over ``df`` (halo
    rolling, time rolling, expanding, the ewm carry scans) and of the
    global as-of join: the number of ``ONE_TASK_BYTES`` pieces of the
    optimized plan's ``sizeInBytes`` (read at call time, no Spark job),
    at most 1024. No session setting enters it, so the bucket
    boundaries, and every result bit, are the same at any shuffle
    partition count, AQE on or off. A count of 1 is the one-task plan
    with no build job: below that size a bucketed plan's fixed
    per-stage costs (a boundary aggregate, a context or carry collect,
    hundreds of py4j round trips per cold build) exceed the work.

    Known limits: the cap bounds a global window at 1024 tasks, and
    above 1 GiB one bucket (one Python group of a UDF window) holds
    1/1024 of the input; it keeps the literal boundary map O(1) per row
    (a CASE chain from 4096 boundaries) and the carry collects small.
    For a file scan ``sizeInBytes`` is the bytes on disk, so a highly
    compressible large file can still run as one task — slower, never
    wrong. A plan without statistics (an RDD-backed frame) reports
    ``Long.MaxValue``; it, and a plan whose statistics cannot be read,
    get the 1024 cap."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — no readable statistic: the cap
        return 1024
    return min(1024, max(1, -(-size // ONE_TASK_BYTES)))


def stage_task_count(df: DataFrame) -> int:
    """Task count ``n`` of a bucketed stage over ``df``: the shuffle
    partition count, capped at the core count (``defaultParallelism``).
    A session left at Spark's default of 200 partitions otherwise runs
    200 Python tasks over a small input: a 30k-group grouped apply took
    2.6× the default session's time on 4 cores. The library's one
    reader of shuffle partitions: ``n`` decides only which task runs a
    bucket, never a bucket count or a result bit."""
    spark = df.sparkSession
    n = shuffle_partitions(spark)
    try:
        return min(n, int(spark.sparkContext.defaultParallelism))
    except Exception:  # noqa: BLE001 — no readable core count
        return n


def coarse_group_count(n: int, factor: int = 4, cap: int = 65536) -> int:
    """Scale-adaptive group count for Python stages keyed on a COARSE
    hash of their real key (r14): grouped ``applyInPandas`` pays a fixed
    per-GROUP boundary cost — Arrow framing, pandas scaffolding and one
    result frame per call — of ~2 ms of one core per group (measured on
    4 local cores, Spark 4.1: 30 000 one-row groups ran 17.0 s of wall
    keyed on the raw key against 1.7 s on 16 coarse groups, both on
    ``bucket_partitioned`` input), so a stage whose natural key yields
    thousands of tiny groups hashes it into ``factor × shuffle
    tasks`` groups (``n``, from ``stage_task_count``) and loops every
    real group inside one call. Grows with the cluster via the task
    count; never tuned to one box."""
    return max(1, min(factor * n, cap))


def bucket_partitioned(df: DataFrame, bucket: str) -> DataFrame:
    """``df`` hash-partitioned into exactly ``stage_task_count(df)``
    partitions on the first of ``bucket_keys``: the partition rule of
    every bucketed stage (``bucketed_apply``, ``window._over_buckets``),
    whose grouping or window on ``bucket_keys`` reuses this exchange.

    Without it AQE sizes the stage's own exchange toward the advisory
    partition size: a few hundred KB of bucketed rows become ONE task,
    and one core runs every bucket. AQE never coalesces a
    repartition-by-number shuffle. The rule is local to the stage on
    purpose: a session-wide AQE conf would also split every small JVM
    stage."""
    return df.repartition(stage_task_count(df), bucket_keys(df, bucket)[0])


def bucket_keys(df: DataFrame, bucket: str) -> list[Column]:
    """The keys a bucketed stage over ``df`` groups or windows by: the
    ``placed_bucket_ids`` id that puts bucket ``b`` of the int column
    ``bucket`` on task ``pmod(b, n)`` of its ``n`` tasks, then
    ``bucket``. Buckets go round robin, so every task holds the same
    number of buckets, ±1; hashing ``b`` itself put 35 range buckets
    5/10/8/12 on 4 tasks. The groups are ``bucket``'s: the first key
    decides only which task runs a bucket."""
    n = stage_task_count(df)
    placed = F.expr(f"array({', '.join(f'{i}L' for i in placed_bucket_ids(n))})")
    return [F.element_at(placed, F.pmod(F.col(bucket), F.lit(n)).cast("int") + 1), F.col(bucket)]


_M32 = 0xFFFFFFFF


def _murmur3_long(v: int, seed: int = 42) -> int:
    """Spark's ``Murmur3_x86_32.hashLong(v, seed)`` as a signed int:
    ``F.hash`` of a bigint, and the hash that places a row of
    ``repartition(n, col)`` on partition ``pmod(hash, n)``."""

    def mix(h: int, k: int) -> int:
        k = (k * 0xCC9E2D51) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        h ^= (k * 0x1B873593) & _M32
        h = ((h << 13) | (h >> 19)) & _M32
        return (h * 5 + 0xE6546B64) & _M32

    v &= (1 << 64) - 1
    h = mix(mix(seed, v & _M32), v >> 32) ^ 8
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & _M32
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@lru_cache(maxsize=64)
def placed_bucket_ids(n: int) -> tuple[int, ...]:
    """For each partition ``p`` in ``range(n)``, the smallest bigint id
    that ``repartition(n, id)`` places on ``p``."""
    ids: list = [None] * n
    left, v = n, 0
    while left:
        p = _murmur3_long(v) % n
        if ids[p] is None:
            ids[p] = v
            left -= 1
        v += 1
    return tuple(ids)


def bucketed_apply(
    df: DataFrame,
    func: Callable,
    schema,
    *,
    bucket: str | None = None,
    keys: Sequence[str] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """``func`` over each bucket of ``df`` as ONE grouped
    ``applyInPandas`` stage on ``bucket_partitioned`` input.

    ``bucket`` names a bucket-id column of ``df`` (range buckets);
    ``func`` sees it. Otherwise the bucket is a coarse hash of the
    ``keys`` columns — ``pmod(xxhash64(keys), m)`` with ``m`` =
    ``n_buckets`` or ``coarse_group_count`` of the stage's task count —
    in a fresh temporary column that ``func`` never sees. Rows sharing
    ``keys`` always share a bucket, so ``func`` loops its real groups.
    The stage runs ``stage_task_count(df)`` tasks, each holding the
    same number of buckets, ±1 (``bucket_keys``)."""
    call = func
    if bucket is None:
        n = stage_task_count(df)
        m = coarse_group_count(n) if n_buckets is None else int(n_buckets)
        bucket = fresh_column(df, "__bkt__")
        df = df.withColumn(bucket, F.pmod(F.xxhash64(*keys), F.lit(m)).cast("int"))
        call = lambda pdf: func(pdf.drop(columns=bucket))  # noqa: E731

    def run(pdf):
        _patch_worker_zipimport()
        return call(pdf)

    stage = bucket_partitioned(df, bucket).groupBy(*bucket_keys(df, bucket))
    return stage.applyInPandas(run, schema)


def fresh_column(df: DataFrame, base: str) -> str:
    """``base``, suffixed with ``_`` until no column of ``df`` has that
    name (case-insensitively, as Spark resolves by default), so a
    temporary column never replaces and then drops a user column."""
    taken = {c.lower() for c in df.columns}
    while base.lower() in taken:
        base += "_"
    return base


def memo_put(memo: dict, key, val, cap: int = 16) -> None:
    """Insert with bounded-FIFO eviction (oldest insertion first)."""
    while len(memo) >= cap:
        memo.pop(next(iter(memo)))
    memo[key] = val


def plan_data_key(df: DataFrame, *extra) -> tuple | None:
    """Plan+data identity for build-time memos, or None (don't memoize)."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        return (df.semanticHash(), hash(tuple(sorted(files))), *extra)
    except Exception:  # noqa: BLE001 — unidentifiable input
        return None
