"""Registry binding contract-query names to (Spark fn, DuckDB oracle SQL).

The correctness driver hash-compares each Spark result against its oracle
(row count + schema + order-insensitive value hash, columns sorted by
name). Registration rules that keep that hash stable:

- Alias every computed column identically in the DataFrame code and the
  oracle SQL.
- Emit deterministic row SETS: any ``LIMIT``/top-k must order by a unique
  tiebreak on both sides.
- Round floating aggregates identically on both sides (see ``money``/
  ``ratio`` helpers in the plan modules): double sums are order-dependent
  at the last ulp, and Spark's partial-aggregation order differs from
  DuckDB's, so raw double aggregates are not bit-stable across engines.
- Cast derived integers to BIGINT on both sides (Spark ``year()`` is
  int32, DuckDB's is BIGINT; DuckDB ``sum(int)`` is HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def contract(name: str, oracle: str) -> Callable[[QueryFn], QueryFn]:
    """Register a contract query with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate contract query: {name}")
        QUERIES[name] = fn
        ORACLES[name] = oracle
        return fn

    return deco
