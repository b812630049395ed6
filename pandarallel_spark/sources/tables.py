"""Testdata table loaders (TESTDATA.md contract).

``load_table(spark, sf_dir, name)`` reads one parquet table. Reads go
through ``spark.read`` so Catalyst owns pushdown/pruning; the INFERRED
SCHEMA is memoized per concrete file set (r14, guide §5/§6 — schema
inference is driver-side footer I/O, measured ~0.1 s per call vs
~0.02 s with an explicit schema; a bench run re-reads the same handful
of tables ~80×). The memo key is (path, per-file name/mtime/size), so
overwriting a table invalidates it — this caches METADATA only, never
data or results.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_SCHEMA_MEMO: dict = {}


def _file_identity(path: str) -> tuple | None:
    """(name, mtime_ns, size) per file under ``path`` — None when the
    path is not locally statable (object store / moved): caller must
    skip the memo and let Spark infer."""
    try:
        if os.path.isdir(path):
            return tuple(
                (fn, st.st_mtime_ns, st.st_size)
                for fn in sorted(os.listdir(path))
                for st in (os.stat(os.path.join(path, fn)),)
            )
        st = os.stat(path)
        return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
    except OSError:
        return None


def _read_parquet_memo_schema(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with the inferred schema memoized on the
    concrete file identity — same DataFrame, ~5× less driver time on
    repeat loads. Unstatable paths fall back to plain inference."""
    from pandarallel_spark.operators._memo import memo_put

    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    key = (path, ident)
    sch = _SCHEMA_MEMO.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        memo_put(_SCHEMA_MEMO, key, df.schema, cap=64)
        return df
    return spark.read.schema(sch).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS). Older Spark vectorized
        # readers reject it unless the legacy conf reads nanos as int64
        # (then converted below); Spark 4.x reads NANOS natively as
        # TIMESTAMP_NTZ and the conversion no-ops. The conf is RESTORED
        # after schema resolution — flipping it permanently changed how
        # every later parquet read in the caller's session handled NANOS
        # columns (review finding r4; deferred execution of this df does
        # not re-consult the conf — probed on 4.1.2).
        # DuckDB reads the same column natively at ns precision;
        # truncating to micros matches because the generator's values
        # are µs-grained.
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            # the memoized schema is always the conf=true one (the
            # guard pins the conf before inference ever runs), so
            # repeat loads serving it skip both the footer read and
            # the inference — execution never re-consults the conf
            # (probed on 4.1.2, comment above)
            df = _read_parquet_memo_schema(spark, f"{sf_dir}/{name}.parquet")
        finally:
            if prior is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prior)
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    # non-events tables carry no NANOS columns, so the memoized-schema
    # fast path is conf-independent (events keeps the guarded read
    # above — its inferred schema depends on the nanosAsLong conf)
    return _read_parquet_memo_schema(spark, f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in (names or TABLES))


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None, header: bool = True
) -> DataFrame:
    """CSV source with an explicit schema preferred over inference — a
    schema-inference pass reads the whole input twice at 100 TB."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """JSON-lines source; same explicit-schema guidance as CSV."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Parquet sink. ``partition_by`` lays the data out as
    ``key=value/`` directories so downstream scans get partition pruning
    for free; ``max_records_per_file`` caps file size at 100 TB so no
    single file becomes a straggler on re-read."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — columnar like parquet (predicate pushdown, column
    pruning, vectorized read all apply); common in Hive-lineage lakes."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_csv(df: DataFrame, path: str, *, header: bool = True, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str, *, mode: str = "overwrite") -> None:
    df.write.mode(mode).json(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    buckets: int,
    *,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffles once at write time so every
    later equi-join or aggregation on ``keys`` is co-located — Catalyst
    plans SortMergeJoin with NO Exchange on either bucketed side. This
    is the 100 TB answer for a fact table joined on the same key by
    every query: pay the shuffle once, not per query.

    (Parquet path-based tables can't carry bucket metadata; bucketing
    requires ``saveAsTable`` through the session catalog.)
    """
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def read_binary_dir(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Raw media ingestion: Spark's built-in ``binaryFile`` source reads
    a directory of files as rows of (path, modificationTime, length,
    content binary) — the front door for image/audio/video corpora
    feeding ``operators/multimodal.py`` (decode_features, resize_meta,
    frame_sample_plan).

    Scale shape: the source lists files on executors and splits the
    LISTING across tasks (each file's bytes stay whole — binary
    payloads aren't splittable), so a directory of billions of objects
    parallelizes by file count. ``glob`` pushes a pathGlobFilter into
    the listing (e.g. ``"*.ppm"``); ``max_bytes`` pushes a length
    predicate — binaryFile supports pushdown ONLY on ``length`` and
    ``modificationTime``, so oversized payloads are skipped at the
    listing, never read. A stable ``media_id`` (the path) comes along
    for downstream joins.
    """
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    df = r.load(path)
    if max_bytes is not None:
        from pyspark.sql import functions as F

        df = df.filter(F.col("length") <= max_bytes)
    from pyspark.sql import functions as F

    return df.select(
        F.col("path").alias("media_id"),
        F.col("length").alias("n_bytes_listed"),
        F.col("content"),
    )


def zorder_key(
    df: DataFrame,
    cols: list[str],
    bits_per_col: int = 12,
    output_col: str = "__zkey__",
) -> DataFrame:
    """Z-order (Morton) clustering key over 2-4 numeric/date/timestamp
    columns — the standard multi-dimensional data-layout trick (used by
    Delta OPTIMIZE ZORDER, Iceberg sort orders): rows near each other
    in EVERY dimension land near each other in the one-dimensional sort
    order, so min/max row-group statistics prune multi-column range
    predicates after a write, not just the first sort column.

    Construction, all JVM expressions: each column is quantized to a
    ``bits_per_col``-bit equi-depth rank — quantile boundaries from
    ``window.range_boundaries`` (value-distribution-proof, unlike
    min/max linear scaling which one outlier flattens) assigned through
    the same O(1) micro-bucket + LUT expression the window machinery
    buckets with (``bucket_assignment_expr``) — then the per-column
    rank bits are interleaved column-major (bit i of col j lands at
    position i·ncols + j) with shift/OR expressions. The result fits a
    bigint for ncols·bits_per_col ≤ 63.

    Scale: ONE bounded quantile-sketch aggregate over all the columns
    at build time (eager, like the window-bucket machinery; 2 jobs under
    AQE whatever the column count); the key itself is pure
    whole-stage-codegen arithmetic in the scan. Write with
    ``df.repartitionByRange(n, F.col(output_col))
    .sortWithinPartitions(output_col)`` and drop the key column.

    NULLs rank lowest (bucket 0), matching NULLS FIRST sort layouts.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if not 2 <= len(cols) <= 4:
        raise ValueError(f"zorder_key takes 2-4 columns, got {len(cols)}")
    n_cols = len(cols)
    if n_cols * bits_per_col > 63:
        raise ValueError(
            f"{n_cols} cols × {bits_per_col} bits = "
            f"{n_cols * bits_per_col} bits > 63 (bigint)"
        )
    for c in cols:
        t = df.schema[c].dataType
        if not isinstance(
            t, (T.NumericType, T.DateType, T.TimestampType, T.TimestampNTZType)
        ):
            raise TypeError(
                f"zorder_key needs numeric/date/timestamp columns, "
                f"{c!r} is {t.simpleString()}"
            )
    from pandarallel_spark.operators.window import range_boundaries

    n_buckets = 1 << bits_per_col
    # relative error 2/n_buckets: a rank is off by at most ~2 buckets
    views, _ = range_boundaries(df, cols, n_buckets, accuracy=n_buckets // 2)
    ranks = [
        F.least(
            F.greatest(F.coalesce(v["bexpr"].cast("long"), F.lit(0)), F.lit(0)),
            F.lit(n_buckets - 1),
        )
        for v in views
    ]
    # interleave: bit i of col j → position i*n_cols + j
    z = F.lit(0).cast("long")
    for i in range(bits_per_col):
        for j, r in enumerate(ranks):
            bit = F.shiftright(r, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * n_cols + j))
    return df.withColumn(output_col, z)
