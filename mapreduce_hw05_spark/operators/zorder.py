"""Z-order (Morton) clustering — multi-column data skipping for scans.

A table sorted by ``a`` skips row groups only for predicates on ``a``;
predicates on ``b`` read everything. Interleaving the bits of both
columns into one Morton key and range-sorting by it gives every file a
tight min/max envelope in BOTH dimensions, so parquet row-group stats
prune scans on either column (the technique Delta/Iceberg expose as
``OPTIMIZE ZORDER BY``).

Everything stays in Catalyst: normalization is ``(col - min) * scale``
with min/max from one stats job, and the bit interleave unrolls into
``bits × ncols`` shift/mask/or terms inside whole-stage codegen — no
UDF. The rewrite is ``repartitionByRange`` on the key (balanced output
files via range partitioning, the same mechanism as a global sort) +
``sortWithinPartitions`` so row groups inside a file cluster too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _normalize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Map [lo, hi] → integer [0, 2^bits - 1]; constant columns → 0."""
    if hi <= lo:
        return F.lit(0).cast("long")
    scale = ((1 << bits) - 1) / (hi - lo)
    return F.least(
        F.lit((1 << bits) - 1),
        F.greatest(F.lit(0), ((col - lo) * scale).cast("long")),
    )


def morton_key(normalized: list[Column], bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of each normalized column."""
    n = len(normalized)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, col in enumerate(normalized):
            bit = F.shiftright(col, b).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, b * n + i))
    return key


def zorder_rewrite(
    df: DataFrame,
    cols: list[str],
    num_files: int,
    bits: int = 16,
) -> DataFrame:
    """Return ``df`` re-clustered by the Morton key of ``cols`` into
    ``num_files`` range partitions (write the result to rewrite a
    table). One extra stats job computes per-column min/max."""
    stats = df.agg(
        *[F.min(c).cast("double").alias(f"__lo_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"__hi_{c}") for c in cols],
    ).first()
    normalized = [
        _normalize(F.col(c).cast("double"), stats[f"__lo_{c}"], stats[f"__hi_{c}"], bits)
        for c in cols
    ]
    keyed = df.withColumn("__zkey", morton_key(normalized, bits))
    return (
        keyed.repartitionByRange(num_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )


def zorder_incremental(
    spark,
    table_dir: str,
    partition_col: str,
    cols: list[str],
    num_files: int = 1,
    bits: int = 16,
) -> list[str]:
    """Incrementally maintain Z-order clustering on a hive-partitioned
    table: re-cluster ONLY partitions whose file set changed since the
    last pass (new ingests, compactions), leaving clustered partitions
    untouched — the maintenance loop a streaming ingest needs, where a
    full-table OPTIMIZE would rewrite 100 TB to fix yesterday's 100 GB.

    Bookkeeping is a ``_zorder_manifest`` JSON inside the table dir
    mapping partition → hash of its (file name, size) set at last
    rewrite; the rewrite itself swaps each partition directory via the
    crash-safe rename-aside protocol (:mod:`mapreduce_hw05_spark.fsutil`
    — write ``<part>.next``, rename the old dir aside, rename the new in,
    drop the old), so concurrent readers of other partitions are never
    disturbed and a crash leaves either the old or the new clustering —
    never a mix, and never a missing partition. Dangling ``.next``/
    ``.old`` remnants from a crashed pass are recovered before hashing.

    Returns the list of partition values rewritten this pass.
    """
    import hashlib
    import json
    import os

    from mapreduce_hw05_spark.fsutil import recover, rewrite_dir

    manifest_path = os.path.join(table_dir, "_zorder_manifest")
    manifest: dict[str, str] = {}
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)

    def file_hash(part_dir: str) -> str:
        entries = sorted(
            (name, os.path.getsize(os.path.join(part_dir, name)))
            for name in os.listdir(part_dir)
            if name.startswith("part-")
        )
        return hashlib.md5(json.dumps(entries).encode()).hexdigest()

    # Recovery prepass: a crashed previous pass may have left a
    # partition only under its .next/.old name — restore it before the
    # main scan so it is hashed (and listed) like any other partition.
    for entry in sorted(os.listdir(table_dir)):
        if entry.startswith(f"{partition_col}=") and entry.endswith(
            (".next", ".old")
        ):
            recover(os.path.join(table_dir, entry.rsplit(".", 1)[0]))

    rewritten: list[str] = []
    for entry in sorted(os.listdir(table_dir)):
        if not entry.startswith(f"{partition_col}="):
            continue
        if entry.endswith((".next", ".old")):
            continue  # would only remain if recovery itself crashed
        part_dir = os.path.join(table_dir, entry)
        if not os.path.isdir(part_dir):
            continue
        current = file_hash(part_dir)
        if manifest.get(entry) == current:
            continue  # unchanged since last clustering pass
        clustered = zorder_rewrite(
            spark.read.parquet(part_dir), cols, num_files, bits
        )
        rewrite_dir(
            part_dir,
            lambda tmp: clustered.write.mode("overwrite").parquet(tmp),
        )
        manifest[entry] = file_hash(part_dir)
        rewritten.append(entry)

    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return rewritten
