"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual catalog lives in ``jhu_data_parser_spark/plans/`` — one
registered entry per implemented operator from SURVEY.md §2; this module
just re-exports it.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jhu_data_parser_spark import plans  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (revenue by nation, broadcast-dim star join) on
    /root/testdata/sf0.001; driver checks rows>0."""
    return plans.QUERIES["join_revenue_by_nation"](spark, "/root/testdata/sf0.001")


def _rotated(registry: dict) -> dict:
    """``registry`` in the driver-window order: least recently checked
    first, by the committed ``CORRECTNESS_r*.json`` artifacts
    (``plans.rotation_order``)."""
    order = plans.rotation_order(list(plans.QUERIES), plans.check_history())
    return {n: registry[n] for n in order if n in registry}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in the
    driver-window rotation order."""
    return _rotated(plans.get_queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB twins for every SQL-expressible query; non-SQL-expressible
    ops (nested array builds, LSH banding, pandas-UDF bucketing) are
    intentionally absent → driver's rows-only check."""
    return _rotated(plans.get_oracles())
