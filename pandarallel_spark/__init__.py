"""pandarallel_spark — a PySpark-native engine with the query surface of
nalepae/pandarallel, re-expressed Spark-first.

The reference (pandarallel v1.6.5) is a single-machine scatter/gather layer
that runs stock pandas operators on forked workers. This engine keeps the
same *semantics* — the 8 ``parallel_*`` operators plus their UDF
polymorphism — but expresses every query as a Spark DataFrame plan so that
Catalyst/Tungsten/AQE do the planning, and scales past one machine.

Design rules (see SURVEY.md §4):
- declarative first: builtin ``pyspark.sql.functions`` fast paths wherever
  the computation is expressible; Arrow-batched pandas UDFs otherwise;
  never row-at-a-time Python UDFs.
- order is reified: pandas is ordered, Spark is not, so every
  order-sensitive operator takes an explicit ``order_by``.
- schemas are declared or inferred by sampling (``plans.schema``), never
  discovered post-hoc on the driver.
"""

from pandarallel_spark.engine import Engine, parallelize
from pandarallel_spark.progress import spark_progress
from pandarallel_spark.session import _patch_worker_zipimport, get_spark

__version__ = "0.1.0"

_patch_worker_zipimport()

__all__ = ["Engine", "parallelize", "get_spark", "spark_progress", "__version__"]
