"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship star-join query at sf0.001.
``queries()`` / ``oracle_sql()`` expose the probe registry — one entry
per implemented operator from SURVEY.md §2 (and the north-star
extensions) — for the driver's DuckDB correctness harness.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# This file's own checkout; a loader that sets no ``__file__`` gets the
# canonical checkout path.
_ROOT = (
    os.path.dirname(os.path.abspath(__file__))
    if "__file__" in globals()
    else "/root/repo"
)
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from realtime_financial_transactions_data_pipeline_spark.operators.relational import (
        q1_star_revenue_by_nation,
    )

    return q1_star_revenue_by_nation(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from realtime_financial_transactions_data_pipeline_spark import registry

    return registry.queries()


def oracle_sql() -> dict[str, str]:
    from realtime_financial_transactions_data_pipeline_spark import registry

    return registry.oracle_sql()
