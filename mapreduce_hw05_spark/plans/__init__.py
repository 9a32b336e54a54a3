"""Contract-query plans (SURVEY.md §2) and their DuckDB oracles.

Importing this package populates the registry. Each module binds reusable
operators to the fixture tables and registers ``(name, fn, oracle_sql)``
via :mod:`mapreduce_hw05_spark.plans.registry`; ``QUERIES`` and
``ORACLES`` keep registration order, i.e. the module import order below.
"""

from mapreduce_hw05_spark.plans import (  # noqa: F401  (import = register)
    relational,
    scalar_funcs,
    window_queries,
    events_queries,
    text_queries,
    text_analysis_queries,
    similarity_queries,
    udf_queries,
    graph_queries,
    io_queries,
    streaming_queries,
    subquery_queries,
    agg_ext_queries,
    etl_queries,
    analytics_queries,
    pipeline_queries,
    tpch_queries,
    governance_queries,
    corpus_queries,
)
from mapreduce_hw05_spark.plans.registry import ORACLES, QUERIES

__all__ = ["QUERIES", "ORACLES"]
