"""Mergeable quantile sketch (KLL-style compactor hierarchy) — the
reaggregatable-quantile counterpart of the HLL distinct rollup
(SURVEY §8 r2 item 3).

Spark's built-in ``percentile_approx`` (Greenwald–Khanna) is a black box
that only merges inside one aggregate; this operator demonstrates the
pattern a 100-TB pipeline actually needs: per-partition sketch PARTIALS
(one small state object per partition per key), an ASSOCIATIVE merge (so
daily/hourly partials can be persisted and re-rolled into any range
later), and rank-error-bounded estimates from the merged state. Driver
traffic per key is one sketch of O(k·log(n/k)) floats — independent of
row count.

Scale shape: the partial build and the keyed merge are the shared
mergeable-sketch path (operators/sketches.py); this module adds only the
quantile read over the merged sketches.

Compaction is DETERMINISTIC (per-level alternating offset instead of a
random coin): estimates are then reproducible run-to-run, which the
correctness contracts require; the price is a worst-case (adversarial
input order) rank-error guarantee instead of KLL's probabilistic one —
the error-bound test pins behavior on the fixtures.
"""

from __future__ import annotations

import struct
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from mapreduce_hw05_spark.operators.sketches import merge_by_key, sketch_partials


class KLLSketch:
    """Compactor-hierarchy quantile sketch; level ``i`` items carry
    weight ``2**i``. Pure Python + NumPy, ~k·log(n/k) resident floats."""

    def __init__(self, k: int = 200):
        self.k = int(k)
        self.levels: list[list[float]] = [[]]
        self.offsets: list[int] = [0]
        self.n = 0

    # -- build ---------------------------------------------------------
    def add(self, values: pd.Series) -> None:
        """Add numeric values; NULLs (and NaN) are skipped."""
        vals = np.asarray(values[pd.notna(values)], dtype=np.float64)
        self.n += len(vals)
        # Level-0 capacity SHRINKS whenever a compaction deepens the
        # hierarchy, so it must be re-read every chunk — caching it once
        # would overfill level 0 past the (2/3)^depth schedule and
        # loosen the worst-case rank-error bound.
        pos = 0
        while pos < len(vals):
            cap = self._capacity(0)
            chunk = vals[pos : pos + cap]
            pos += len(chunk)
            self.levels[0].extend(chunk.tolist())
            if len(self.levels[0]) > cap:
                self._compact(0)

    def _capacity(self, level: int) -> int:
        # higher levels shrink geometrically (KLL's (2/3)^depth schedule,
        # floored) — most memory lives at the lowest levels.
        c = int(self.k * (2.0 / 3.0) ** (len(self.levels) - 1 - level))
        return max(c, 8)

    def _compact(self, level: int) -> None:
        buf = sorted(self.levels[level])
        off = self.offsets[level]
        self.offsets[level] ^= 1  # deterministic alternating coin
        kept = buf[off::2]
        self.levels[level] = []
        if level + 1 == len(self.levels):
            self.levels.append([])
            self.offsets.append(0)
        nxt = self.levels[level + 1]
        nxt.extend(kept)
        if len(nxt) > self._capacity(level + 1):
            self._compact(level + 1)

    # -- merge ---------------------------------------------------------
    def merge(self, other: "KLLSketch") -> "KLLSketch":
        self.n += other.n
        for i, buf in enumerate(other.levels):
            while i >= len(self.levels):
                self.levels.append([])
                self.offsets.append(0)
            self.levels[i].extend(buf)
        for i in range(len(self.levels)):
            if len(self.levels[i]) > self._capacity(i):
                self._compact(i)
        return self

    # -- estimate ------------------------------------------------------
    def quantiles(self, qs: list[float]) -> list[float]:
        items: list[tuple[float, int]] = [
            (v, 1 << i)
            for i, buf in enumerate(self.levels)
            for v in buf
        ]
        if not items:
            return [float("nan")] * len(qs)
        items.sort()
        vals = np.array([v for v, _ in items])
        wts = np.array([w for _, w in items], dtype=np.float64)
        cum = np.cumsum(wts)
        total = cum[-1]
        out = []
        for q in qs:
            target = q * total
            idx = int(np.searchsorted(cum, target, side="left"))
            out.append(float(vals[min(idx, len(vals) - 1)]))
        return out

    # -- wire format ---------------------------------------------------
    def serialize(self) -> bytes:
        parts = [struct.pack("<qqq", self.k, self.n, len(self.levels))]
        for buf, off in zip(self.levels, self.offsets):
            parts.append(struct.pack("<qq", len(buf), off))
            parts.append(np.asarray(buf, dtype=np.float64).tobytes())
        return b"".join(parts)

    @classmethod
    def deserialize(cls, blob: bytes) -> "KLLSketch":
        k, n, n_levels = struct.unpack_from("<qqq", blob, 0)
        sk = cls(k)
        sk.n = n
        sk.levels, sk.offsets = [], []
        pos = 24
        for _ in range(n_levels):
            ln, off = struct.unpack_from("<qq", blob, pos)
            pos += 16
            sk.levels.append(
                np.frombuffer(blob, dtype=np.float64, count=ln, offset=pos).tolist()
            )
            sk.offsets.append(off)
            pos += 8 * ln
        return sk


def quantile_sketch_rollup(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    quantiles: list[float],
    k: int = 200,
) -> DataFrame:
    """Distributed quantile estimation via mergeable sketch partials:
    ``sketch_partials`` builds a sketch per (partition × key),
    ``merge_by_key`` ships only sketch blobs through one keyed shuffle,
    and one ``mapInPandas`` reads ``n_rows`` (non-NULL values) and the
    quantiles from each merged sketch. The only shuffle moves
    O(partitions × keys) sketches, never rows.
    """
    from pyspark.sql import types as T

    new = partial(KLLSketch, k)
    merged = merge_by_key(
        sketch_partials(df, key_cols, value_col, new), key_cols, new
    )
    q_names = [f"q{int(round(q * 100)):02d}" for q in quantiles]
    out_schema = T.StructType(
        [merged.schema[c] for c in key_cols]
        + [T.StructField("n_rows", T.LongType())]
        + [T.StructField(name, T.DoubleType()) for name in q_names]
    )

    def read_quantiles(batches):
        for pdf in batches:
            sks = [KLLSketch.deserialize(bytes(b)) for b in pdf["sketch"]]
            est = [sk.quantiles(quantiles) for sk in sks]
            yield pdf[key_cols].assign(
                n_rows=[sk.n for sk in sks],
                **{q: [e[i] for e in est] for i, q in enumerate(q_names)},
            )

    return merged.mapInPandas(read_quantiles, schema=out_schema)
