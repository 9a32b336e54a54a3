"""Entry-point facade tests (SURVEY §3.2): SQL strings, the DataFrame
builder, and named contract queries must produce identical plans/results;
partitioned sinks must prune partitions on read-back.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from mapreduce_hw05_spark.api import Engine

SF_DIR = "/root/testdata/sf0.001"
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(SF_DIR, spark=spark)


def test_sql_and_dataframe_entry_points_agree(engine):
    sql_result = engine.sql(
        """
        SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY o_orderstatus
        """
    )
    df_result = (
        engine.table("orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )
    assert sorted(map(tuple, sql_result.collect())) == sorted(
        map(tuple, df_result.collect())
    )


def test_sql_joins_across_fixture_views(engine):
    rows = engine.sql(
        """
        SELECT r_name, count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name
        """
    ).collect()
    assert sum(r["n_nations"] for r in rows) == 25  # TPC-H nation count


def test_named_contract_query_entry(engine):
    df = engine.run("q_filter_project")
    assert df.columns == ["n_items", "sum_price", "avg_qty"]


def test_partitioned_sink_prunes_on_read(engine, spark):
    """write.partitionBy → read with partition filter → PartitionFilters
    in the scan, zero data files of other partitions touched."""
    os.makedirs(SCRATCH, exist_ok=True)
    out = os.path.join(SCRATCH, "docs_by_lang")
    shutil.rmtree(out, ignore_errors=True)
    docs = engine.table("documents")
    docs.write.mode("overwrite").partitionBy("lang").parquet(out)

    back = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan[:500]
    assert "= en)" in plan  # the lang=en partition predicate reached the scan
    assert back.count() == docs.filter(F.col("lang") == "en").count()
    shutil.rmtree(out, ignore_errors=True)


def test_driver_adapter_surface(spark):
    """``__spark_entry__`` hands the registry over unchanged: one oracle per
    query, in registration order, and a non-empty flagship smoke frame."""
    import __spark_entry__ as adapter
    from mapreduce_hw05_spark.plans import QUERIES

    queries, oracles = adapter.queries(), adapter.oracle_sql()
    assert list(queries) == list(oracles) == list(QUERIES)
    assert len(queries) == 315  # every plan module was imported
    assert adapter.entry(spark).count() > 0
