"""Shared fixtures: one SparkSession, one DuckDB oracle connection, and a
comparator that replicates the driver's check (row count + schema +
order-insensitive value comparison, columns sorted by name).
"""

from __future__ import annotations

import decimal
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_hw05_spark.session import get_spark
from mapreduce_hw05_spark.sources import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    # Defaults to 8 local cores: the parity sweep overlaps 4 concurrent
    # contract jobs (test_oracle_parity), and the heavier single-job
    # engine tests were core-starved at 4 on a 32-core host. The Tier-1
    # command sets SPARK_GRAFT_CPUS to the host's cores; get_spark sizes
    # shuffle partitions to the same number.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("tests")
    yield spark


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def count_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under a fresh job tag."""
    import uuid

    sc = spark.sparkContext
    tag = f"count-jobs-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        fn()
    finally:
        sc.removeJobTag(tag)
    return len(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonical form: columns sorted by name, rows sorted by all columns,
    timestamps as int64 epochs, floats left as float64.

    Decimal columns are deliberately NOT coerced to float64: the driver's
    value hash stringifies cells, so ``Decimal('1013.70')`` (scale kept)
    and float ``1013.7`` hash differently even though they are numerically
    equal. Keeping decimals as canonical strings here makes the local
    comparator fail exactly where the driver would (VERDICT r1 item 4).
    """
    out = pdf[sorted(pdf.columns)].copy()
    for col in out.columns:
        s = out[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[col] = s.astype("int64")
        elif pd.api.types.is_integer_dtype(s) or pd.api.types.is_bool_dtype(s):
            out[col] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            out[col] = s.astype("float64")
        elif s.dtype == object:
            non_null = s.dropna()
            if len(non_null) and all(
                isinstance(v, decimal.Decimal) for v in non_null
            ):
                # Scale-preserving canonical string — matches how the
                # driver's hash sees a Spark/DuckDB DECIMAL result.
                out[col] = s.map(lambda v: None if v is None else str(v))
            else:
                # Non-decimal objects (e.g. np ints boxed by pandas) may
                # still be numeric; strings stay strings.
                try:
                    out[col] = pd.to_numeric(s)
                except (ValueError, TypeError):
                    out[col] = s.astype(str)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = match)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return [
            f"column sets differ: spark={sorted(spark_pdf.columns)} "
            f"oracle={sorted(oracle_pdf.columns)}"
        ]
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row counts differ: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
        return problems
    s = normalize(spark_pdf)
    o = normalize(oracle_pdf)
    for col in s.columns:
        sv, ov = s[col], o[col]
        s_num = pd.api.types.is_numeric_dtype(sv)
        o_num = pd.api.types.is_numeric_dtype(ov)
        if s_num != o_num:
            # One side normalized to a number, the other to a string
            # (typically DECIMAL vs DOUBLE drift) — the driver's
            # stringified hash would differ, so fail here too.
            problems.append(
                f"column {col!r}: type-kind mismatch after normalize "
                f"(spark dtype={sv.dtype}, oracle dtype={ov.dtype}) — "
                "driver hash would differ; align the emitted types"
            )
            continue
        if pd.api.types.is_float_dtype(sv) != pd.api.types.is_float_dtype(ov):
            problems.append(
                f"column {col!r}: int/float kind mismatch "
                f"(spark dtype={sv.dtype}, oracle dtype={ov.dtype}) — "
                "stringified cells would differ (e.g. '5' vs '5.0'); "
                "cast both sides to the same type"
            )
            continue
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sa = sv.astype("float64").to_numpy()
            oa = ov.astype("float64").to_numpy()
            both_nan = np.isnan(sa) & np.isnan(oa)
            exact = (sa == oa) | both_nan
            if not exact.all():
                bad = np.where(~exact)[0][:5]
                problems.append(
                    f"float column {col!r}: {(~exact).sum()} mismatches, e.g. "
                    + "; ".join(f"[{i}] spark={sa[i]!r} oracle={oa[i]!r}" for i in bad)
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                bad = eq[~eq].index[:5]
                problems.append(
                    f"column {col!r}: {(~eq).sum()} mismatches, e.g. "
                    + "; ".join(f"[{i}] spark={sv[i]!r} oracle={ov[i]!r}" for i in bad)
                )
    return problems


def run_contract(spark, oracle, name: str) -> list[str]:
    """Execute one contract query on both engines and diff."""
    from mapreduce_hw05_spark.plans import ORACLES, QUERIES

    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    oracle_pdf = oracle.execute(ORACLES[name]).df()
    return compare_frames(spark_pdf, oracle_pdf)
