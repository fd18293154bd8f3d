"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship Q1-shape aggregation on sf0.001;
``queries()`` / ``oracle_sql()`` expose the operator registry populated by
importing :mod:`bigdatawork_spark` (one entry per SURVEY.md §2 key).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdatawork_spark.registry import ORACLES, QUERIES, driver_order  # noqa: E402
from bigdatawork_spark.session import ensure_tuned  # noqa: E402
import bigdatawork_spark  # noqa: F401, E402  (populates the registry)


def _tuned(fn: Callable) -> Callable:
    """Guarantee session tuning (UTC tz, AQE, shuffle sizing) before ANY
    builder runs — some builders synthesize data inline and never touch
    io.load, and the self-rotating order may put one of them first."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(ensure_tuned(spark), sf_dir)

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["agg_groupby_q1"](ensure_tuned(spark), "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Ordered by ``registry.driver_order``: not-yet-driver-verified SURVEY §2
    contract keys first, then unverified extras, source-stale keys and
    cadence-due streaming keys.  The driver truncates at the first 50
    keys, so insertion order IS the verification budget."""
    return {k: _tuned(fn) for k, fn in driver_order(QUERIES).items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each SQL-expressible key."""
    return driver_order(ORACLES)
