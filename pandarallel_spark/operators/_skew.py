"""Build-time group-skew probe for the grouped-UDF operators.

``applyInPandas`` / the grouped-pandas window branch materialize ONE
WHOLE GROUP per Python worker invocation — the operator's semantics
require it (an opaque ``func(group_df)`` must see the complete group).
That is fine for the many-modest-groups shape it is designed for, but a
single billion-row group at 100 TB becomes one OOM task, and nothing in
Spark warns ahead of time. The reference is blind to the same hazard:
its chunking balances group COUNT, never group rows
(``pandarallel/data_types/dataframe_groupby.py:17-21``) — a monster
group lands whole in one worker there too. We can do better: probe the
max group size cheaply at plan-build time and WARN with the
decomposable alternative named (r9 verdict task 1).

Probe design:

- **Sampled, key-columns-only.** ``sample(fraction).groupBy(keys)
  .count().max()`` — column pruning reduces the scan to the key
  columns, the aggregate is map-side partial, and the estimate is
  ``sampled_max / fraction``. A group of G rows appears in a
  Bernoulli(f) sample as ≈ G·f rows (tight for the sizes that matter:
  at the default bound 10M and fraction 1%, the trigger is a 100k-row
  sampled group — relative noise √(G·f)/(G·f) < 1%), so monsters are
  detected reliably and modest groups essentially never false-positive.
- **File-backed inputs only.** The probe memoizes on
  :func:`plan_data_key` (plan + concrete input files); inputs without a
  file identity (driver-local frames, views over streams) skip the
  probe silently — they have no stable identity to memoize and the
  100 TB hazard is file-backed by construction.
- **Advisory, never load-bearing.** Under ``strictLazy`` the probe is
  SKIPPED (not raised — results are identical with or without it, so an
  advisory job must not break strict pipelines). Disable by setting the
  row bound or sample fraction to 0.

Confs: ``spark.pandarallel_spark.groupSkew.rowBound`` (default 10⁷
rows) and ``spark.pandarallel_spark.groupSkew.sampleFraction`` (default
0.01, clamped to (0, 1]).
"""

from __future__ import annotations

import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandarallel_spark.operators._memo import (
    memo_put,
    plan_data_key,
    strict_lazy,
)

GROUP_SKEW_BOUND_CONF = "spark.pandarallel_spark.groupSkew.rowBound"
GROUP_SKEW_FRACTION_CONF = "spark.pandarallel_spark.groupSkew.sampleFraction"
_DEFAULT_ROW_BOUND = 10_000_000
_DEFAULT_FRACTION = 0.01

_probe_memo: dict = {}


def _conf_float(spark, key: str, default: float) -> float:
    try:
        return float(spark.conf.get(key, str(default)))
    except (ValueError, TypeError):
        return default


def warn_on_group_skew(
    df: DataFrame,
    keys: Sequence[str],
    op_name: str,
    alternative: str,
) -> int | None:
    """Estimate the max group size of ``df.groupBy(keys)`` and warn when
    it exceeds the configured bound. Returns the estimate (rows), or
    None when the probe was skipped (non-file-backed input, strictLazy,
    disabled by conf, empty sample). Purely advisory — never raises,
    never changes the caller's plan."""
    spark = df.sparkSession
    bound = _conf_float(spark, GROUP_SKEW_BOUND_CONF, _DEFAULT_ROW_BOUND)
    fraction = _conf_float(spark, GROUP_SKEW_FRACTION_CONF, _DEFAULT_FRACTION)
    if bound <= 0 or fraction <= 0:
        return None
    fraction = min(fraction, 1.0)
    if strict_lazy(spark):
        return None  # advisory probe: skip, don't raise
    key = plan_data_key(df, tuple(keys), round(fraction, 6))
    if key is None:
        return None  # no stable data identity to memoize → skip
    if key in _probe_memo:
        est = _probe_memo[key]
    else:
        try:
            row = (
                df.select(*keys)
                .sample(fraction=fraction, seed=0)
                .groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__n__"))
                .agg(F.max("__n__").alias("__mx__"))
                .first()
            )
        except Exception:  # noqa: BLE001 — advisory probe: NEVER let a
            # probe failure (transient stage error, file deleted between
            # plan build and probe, platform conf quirk) abort a caller
            # whose result does not depend on the probe at all
            return None
        if row is None or row["__mx__"] is None:
            return None  # nothing sampled — too small to matter
        est = int(row["__mx__"] / fraction)
        memo_put(_probe_memo, key, est)
    if est > bound:
        warnings.warn(
            f"{op_name}: estimated max group size ≈ {est:,} rows exceeds "
            f"{GROUP_SKEW_BOUND_CONF}={int(bound):,} — this operator "
            f"materializes one WHOLE group per Python task, so the "
            f"hottest key becomes one task's memory. Prefer {alternative} "
            f"when semantics allow; tune or disable the probe via "
            f"{GROUP_SKEW_BOUND_CONF} / {GROUP_SKEW_FRACTION_CONF}.",
            stacklevel=3,
        )
    return est
