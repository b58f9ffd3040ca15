"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``pyspark_xgboost_spark``; this module is a thin
adapter over its registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_xgboost_spark import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: fit the native distributed-GBT regressor on sf0.001
    lineitem and return scored rows (reference parity: fit+transform of
    XgboostRegressor, sparkdl/xgboost/xgboost.py:7-92)."""
    from pyspark_xgboost_spark.ml.flagship import ml_fit_predict

    return ml_fit_predict(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.all_queries()


def oracle_sql() -> dict[str, str]:
    return registry.all_oracles()
