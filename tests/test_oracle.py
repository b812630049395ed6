"""Run EVERY registered workload query against its DuckDB oracle —
exactly what the driver's t2 does, but in-repo so regressions surface
before commit. Queries without an oracle get a rows-run smoke check.
"""

import pytest

from pandarallel_spark.workload import REGISTRY, queries

queries()  # force registration


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_oracle_parity(spark, sf_dir, name):
    from tests.oracle_utils import compare

    q = REGISTRY[name]
    df = q.fn(spark, sf_dir)
    if q.oracle is None:
        assert df.count() >= 0
        return
    compare(df, q.oracle, sf_dir)


# the registry rows that run global range-bucket windows or the global
# as-of join (plus the grouped scans graded alongside them): at the test
# scale their inputs fit one task, so they run again on the bucketed
# plan that larger inputs take
_RANGE_BUCKET_ROWS = [
    "ewm_mean_purchase_cents",
    "global_asof_purchase_before_click",
    "grouped_expanding_max",
    "rolling_scans_global",
    "time_rolling_purchase_cents_1h",
]


@pytest.mark.usefixtures("bucketed")
@pytest.mark.parametrize("name", _RANGE_BUCKET_ROWS)
def test_oracle_parity_bucketed(spark, sf_dir, name):
    from tests.oracle_utils import compare

    q = REGISTRY[name]
    compare(q.fn(spark, sf_dir), q.oracle, sf_dir)
