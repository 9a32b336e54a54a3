"""Theta (KMV) distinct sketch with SET OPERATIONS — union, intersection,
difference — the capability HLL does not have (HLL unions fine but cannot
intersect; "distinct users who did A AND B" needs theta/KMV).

Scale shape: the shared mergeable-sketch path (operators/sketches.py)
builds per-partition partials in one map-only pass (bounded at k
hashes each) and merges them with the associative KMV union; only
sketch blobs ever cross the wire. Estimates are |S|/θ with
RSE ≈ 1/√(k-1); set-op estimates restrict both retained sets to the
common θ first (the standard theta-sketch a-priori rule).

Hashing: values are mixed through splitmix64 (a fixed, partition-
independent 64-bit finalizer) and mapped to uniform [0,1); sketches of
the same column built anywhere therefore agree hash-for-hash, which is
what makes the merge/intersection well-defined.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Uniform [0,1) from int64 keys via the splitmix64 finalizer."""
    z = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        z += np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        z = z ^ (z >> np.uint64(31))
    return z.astype(np.float64) / float(2**64)


class ThetaSketch:
    """KMV sketch: the k smallest distinct uniform hashes + θ."""

    def __init__(self, k: int = 4096):
        self.k = int(k)
        self.hashes = np.empty(0, dtype=np.float64)  # sorted, < theta
        self.theta = 1.0

    def add(self, values: pd.Series) -> None:
        """Add integer values; NULLs are skipped (COUNT(DISTINCT))."""
        h = _splitmix64(np.asarray(values[pd.notna(values)], dtype=np.int64))
        h = h[h < self.theta]
        merged = np.unique(np.concatenate([self.hashes, h]))
        if len(merged) > self.k:
            self.theta = float(merged[self.k])
            merged = merged[: self.k]
        self.hashes = merged

    # -- set algebra ---------------------------------------------------
    def union(self, other: "ThetaSketch") -> "ThetaSketch":
        out = ThetaSketch(min(self.k, other.k))
        out.theta = min(self.theta, other.theta)
        merged = np.unique(np.concatenate([self.hashes, other.hashes]))
        merged = merged[merged < out.theta]
        if len(merged) > out.k:
            out.theta = float(merged[out.k])
            merged = merged[: out.k]
        out.hashes = merged
        return out

    merge = union  # the mergeable-sketch interface (operators/sketches.py)

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        out = ThetaSketch(min(self.k, other.k))
        out.theta = min(self.theta, other.theta)
        common = np.intersect1d(self.hashes, other.hashes)
        out.hashes = common[common < out.theta]
        return out

    def difference(self, other: "ThetaSketch") -> "ThetaSketch":
        out = ThetaSketch(min(self.k, other.k))
        out.theta = min(self.theta, other.theta)
        mine = self.hashes[self.hashes < out.theta]
        theirs = other.hashes[other.hashes < out.theta]
        out.hashes = np.setdiff1d(mine, theirs)
        return out

    def estimate(self) -> float:
        if self.theta >= 1.0:
            return float(len(self.hashes))  # exact below k distinct
        return len(self.hashes) / self.theta

    # -- wire format ---------------------------------------------------
    def serialize(self) -> bytes:
        import struct

        head = struct.pack("<qd", self.k, self.theta)
        return head + self.hashes.tobytes()

    @classmethod
    def deserialize(cls, blob: bytes) -> "ThetaSketch":
        import struct

        k, theta = struct.unpack_from("<qd", blob, 0)
        sk = cls(k)
        sk.theta = theta
        sk.hashes = np.frombuffer(blob, dtype=np.float64, offset=16).copy()
        return sk

