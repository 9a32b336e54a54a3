"""Count-min sketch: mergeable point-frequency estimates (Cormode &
Muthukrishnan 2005, "An improved data stream summary: the count-min
sketch and its applications").

Completes the mergeable-sketch family next to HLL (distinct), KLL
(quantiles), theta (set algebra), and space-saving (top-k): "how often
did THIS item occur" over a stream or corpus with O(d·w) state and a
one-sided guarantee — estimates never undercount, and overcount by at
most εN (ε = e/w) with probability 1-δ (δ = e^-d).

When the distinct-item count is far below the width w, every item gets
a collision-free row with high probability and estimates are EXACT —
the contract query runs in that regime (5 event types vs w=1024) so it
is hash-comparable against plain SQL COUNT(*), while the collision
regime's error bound is engine-tested on crafted Zipf data — the same
exactness-regime discipline as the space-saving contract.

Scale shape: the shared mergeable-sketch path (operators/sketches.py)
builds a (d × w) int64 counts matrix per partition in one map-only
pass (per-batch ``value_counts`` pre-aggregates; only distinct items are
hashed, vectorized); merge is an elementwise sum — associative and
commutative, so partials fold in any order, driver- or reducer-side, and
sketches built over different corpus shards union by addition exactly
like the other sketches.

Hashing: items pass through pandas' process-stable 64-bit SipHash
(``pd.util.hash_array``, the same key-stable primitive the MinHash and
heavy-hitter kernels rely on), then d universal-hash rows
``(a_j·h + b_j) mod p mod w`` with the Mersenne prime 2^61-1 — fully
deterministic given the seed, so partials from any partition/engine
agree bucket-for-bucket.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd

_MERSENNE = (1 << 61) - 1


def _hash_items(items: np.ndarray) -> np.ndarray:
    """Process-stable uint64 hash of an item array (strings or ints)."""
    return pd.util.hash_array(items).astype(np.uint64)


class CountMinSketch:
    """d × w counts matrix + seeded universal-hash row functions."""

    def __init__(self, depth: int = 4, width: int = 1024, seed: int = 7):
        if depth <= 0 or width <= 0:
            raise ValueError("count-min needs depth >= 1 and width >= 1")
        self.depth = int(depth)
        self.width = int(width)
        self.seed = int(seed)
        rng = np.random.RandomState(seed)
        self._a = rng.randint(1, _MERSENNE, size=depth, dtype=np.int64).astype(
            np.uint64
        )
        self._b = rng.randint(0, _MERSENNE, size=depth, dtype=np.int64).astype(
            np.uint64
        )
        self.counts = np.zeros((depth, width), dtype=np.int64)

    def _buckets(self, items: np.ndarray) -> np.ndarray:
        """(depth, n) bucket indices for an item array — vectorized."""
        h = _hash_items(items)
        p = np.uint64(_MERSENNE)
        with np.errstate(over="ignore"):
            mixed = (self._a[:, None] * h[None, :] + self._b[:, None]) % p
        return (mixed % np.uint64(self.width)).astype(np.int64)

    def add_items(self, items: np.ndarray, weights: np.ndarray) -> None:
        """Add ``weights[i]`` occurrences of ``items[i]`` (callers
        pre-aggregate a batch with value_counts, so items are distinct
        and the hashing cost is O(batch-vocabulary))."""
        if len(items) == 0:
            return
        b = self._buckets(np.asarray(items))
        w = np.asarray(weights, dtype=np.int64)
        for j in range(self.depth):
            np.add.at(self.counts[j], b[j], w)

    def add(self, values: pd.Series) -> None:
        """Count a column slice. NULLs count under the reserved
        ``"\\0null"`` item (SQL GROUP BY's NULL group); integral values
        hash as int64, as query-side ints do."""
        vc = values.dropna().value_counts()
        integral = pd.api.types.is_integer_dtype(vc.index)
        self.add_items(
            vc.index.to_numpy(dtype=np.int64 if integral else None),
            vc.to_numpy(dtype=np.int64),
        )
        n_null = int(values.isna().sum())
        if n_null:
            self.add_items(
                np.array(["\0null"], dtype=object),
                np.array([n_null], dtype=np.int64),
            )

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        """Elementwise sum — requires identical (depth, width, seed)."""
        if (self.depth, self.width, self.seed) != (
            other.depth,
            other.width,
            other.seed,
        ):
            raise ValueError(
                "count-min merge requires identical (depth, width, seed): "
                f"{(self.depth, self.width, self.seed)} vs "
                f"{(other.depth, other.width, other.seed)}"
            )
        out = CountMinSketch(self.depth, self.width, self.seed)
        out.counts = self.counts + other.counts
        return out

    def query_many(self, items: np.ndarray) -> np.ndarray:
        """Point-frequency estimates (int64): min over the d rows —
        never undercounts; overcounts by ≤ εN w.p. 1-δ."""
        if len(items) == 0:
            return np.empty(0, dtype=np.int64)
        b = self._buckets(np.asarray(items))
        ests = np.stack(
            [self.counts[j][b[j]] for j in range(self.depth)]
        )
        return ests.min(axis=0)

    # -- wire format ---------------------------------------------------
    def serialize(self) -> bytes:
        head = struct.pack("<qqq", self.depth, self.width, self.seed)
        return head + self.counts.tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "CountMinSketch":
        depth, width, seed = struct.unpack_from("<qqq", blob, 0)
        sk = cls(depth, width, seed)
        sk.counts = (
            np.frombuffer(blob, dtype=np.int64, offset=24)
            .reshape(depth, width)
            .copy()
        )
        return sk

