"""Small-file compaction — the table-maintenance pass that keeps a
long-lived parquet table scannable.

Streaming sinks and frequent small batch appends leave thousands of
KB-sized files; at 100 TB the resulting task-per-file scheduling and
footer-read overhead dominate scan time. Compaction rewrites a directory
into ~``target_bytes`` files: partition count is derived from the actual
on-disk byte size (never row counts — row width varies), data is
rewritten with a round-robin ``repartition`` (no shuffle key — byte
balance is the goal, not co-location), and the swap is atomic at the
directory level (``fsutil.rewrite_dir``: write ``<dir>.next``, then
rename over).

Content equality is the contract: compaction must never change the row
multiset, only the file layout. The contract query proves it by
aggregating the compacted output against the original table's oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from mapreduce_hw05_spark.fsutil import recover, rewrite_dir


def dir_bytes(path: str) -> int:
    """Total data bytes of a parquet directory (excludes _metadata)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def plan_num_files(total_bytes: int, target_bytes: int) -> int:
    """ceil(total/target), floor 1 — deterministic and size-derived."""
    return max(1, -(-total_bytes // target_bytes))


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * (1 << 20),
) -> int:
    """Rewrite ``path`` into ~target-sized parquet files; returns the new
    file count. Crash-safe rename-aside swap (``fsutil.rewrite_dir``):
    readers of ``path`` see old files until the final rename, and a
    crash mid-swap is recovered on the next pass. On object stores the
    same protocol is a manifest swap."""
    recover(path)
    n = plan_num_files(dir_bytes(path), target_bytes)
    df: DataFrame = spark.read.parquet(path)
    rewrite_dir(
        path, lambda tmp: df.repartition(n).write.mode("overwrite").parquet(tmp)
    )
    return n
