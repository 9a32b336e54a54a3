"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``mapreduce_hw05_spark``; this module only
adapts the registry to the driver's interface.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mapreduce_hw05_spark.plans import ORACLES, QUERIES  # noqa: E402
from mapreduce_hw05_spark.session import ensure_runtime_confs  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H-Q1-style pricing summary) on sf0.001."""
    ensure_runtime_confs(spark)
    df = QUERIES["q_groupagg_pricing"](spark, "/root/testdata/sf0.001")
    return df.orderBy("l_returnflag", "l_linestatus")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; same keys as :func:`queries`."""
    return dict(ORACLES)
