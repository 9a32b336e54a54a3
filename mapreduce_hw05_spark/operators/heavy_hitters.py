"""Space-saving heavy hitters: mergeable frequent-items summaries
(Metwally et al. 2005 "Efficient computation of frequent and top-k
elements"; merge rule from Agarwal et al. 2013 "Mergeable summaries").

The frequent-items sketch completes the sketch family next to HLL
(distinct), KLL (quantiles), and theta (set algebra): top-k terms /
hot keys / trending ids over a stream or corpus with O(k) state, no
global shuffle of raw occurrences.

Guarantees (standard): with k counters over n items, every item with
true count > n/k is present in the summary, and each reported count
overestimates the true count by at most its tracked ``err`` (≤ n/k).
When the number of DISTINCT items never exceeds k — per partition and
after merge — no eviction ever happens, every err is 0, and counts are
EXACT; the contract query runs in that regime so its top-k is
hash-comparable against plain SQL, while the eviction regime is
engine-tested on crafted Zipf data.

Scale shape: the shared mergeable-sketch path (operators/sketches.py)
builds an O(k) summary per partition in one map-only pass (per-batch
``value_counts`` is vectorized; only the batch's DISTINCT items cross
the Python loop), and only partition-count summaries of ≤ k counters
reach the merge. The wire format is JSON, which keeps str, int and
NULL (None) items as they are.
"""

from __future__ import annotations

import heapq
import json

import pandas as pd


def _ord(item):
    """Native-type tie order (matches SQL ORDER BY on the item column;
    a str() fallback would sort 132 before 15), NULLs last."""
    return (item is None, item)


class SpaceSaving:
    """One space-saving summary: item -> (count, err)."""

    def __init__(self, k: int):
        if k <= 0:
            raise ValueError("space-saving needs k >= 1 counters")
        self.k = k
        self.counts: dict = {}
        self.errs: dict = {}
        # lazy min-heap of (count, is_none, item) snapshots: an entry is
        # valid iff the item still holds exactly that count. Eviction
        # pops stale snapshots until a valid one surfaces — the first
        # valid entry IS min-by-(count, _ord) because counts only grow,
        # so stale entries always sort below their item's live entry.
        # Turns the per-eviction O(k) dict scan into amortized O(log k)
        # (the scan made dense-vocab corpora quadratic: every new item
        # evicts once the summary is full).
        self._heap: list = []

    def _min_count(self) -> int:
        """Lower bound carried by evicted mass (0 while not full)."""
        if len(self.counts) < self.k:
            return 0
        return min(self.counts.values())

    def _push(self, item, count: int) -> None:
        heapq.heappush(self._heap, (count, item is None, item))
        if len(self._heap) > 4 * self.k + 64:
            # compact: rebuild from live counts only
            self._heap = [(c, i is None, i) for i, c in self.counts.items()]
            heapq.heapify(self._heap)

    def _ingest(self, item, count: int, err: int) -> None:
        """Install a (count, err) pair AND its heap snapshot. Every
        assembly path (merge, deserialize) must go through this — a
        bare ``counts[item] =`` leaves the heap missing that item's
        snapshot, and a later offer()-driven eviction could then evict
        a non-minimum counter, breaking the space-saving error bound
        (ADVICE r4)."""
        self.counts[item] = count
        self.errs[item] = err
        self._push(item, count)

    def add(self, values: pd.Series) -> None:
        """Offer a column slice, pre-aggregated with ``value_counts`` so
        only its DISTINCT items take the Python path; NULLs are offered
        last as the None item (SQL GROUP BY keeps the NULL group)."""
        for item, cnt in values.dropna().value_counts().items():
            self.offer(item.item() if hasattr(item, "item") else item, int(cnt))
        n_null = int(values.isna().sum())
        if n_null:
            self.offer(None, n_null)

    def offer(self, item, weight: int = 1) -> None:
        """Add ``weight`` occurrences of ``item`` (weights let callers
        pre-aggregate a batch with value_counts before offering)."""
        if item in self.counts:
            c = self.counts[item] + weight
            self.counts[item] = c
            self._push(item, c)
            return
        if len(self.counts) < self.k:
            self.counts[item] = weight
            self.errs[item] = 0
            self._push(item, weight)
            return
        # evict the minimum counter: the newcomer inherits its count as
        # overestimation error (the classic space-saving step)
        while True:
            if not self._heap:
                # defensive only: every assembly path pushes snapshots
                # via _ingest, so a non-empty counts with an empty heap
                # shouldn't happen — rebuild rather than crash if it does
                self._heap = [(c, i is None, i) for i, c in self.counts.items()]
                heapq.heapify(self._heap)
            count, _, cand = self._heap[0]
            if self.counts.get(cand) == count:
                break
            heapq.heappop(self._heap)
        heapq.heappop(self._heap)
        evict = cand
        floor = self.counts.pop(evict)
        self.errs.pop(evict)
        self.counts[item] = floor + weight
        self.errs[item] = floor
        self._push(item, floor + weight)

    def merge(self, other: "SpaceSaving") -> "SpaceSaving":
        """Mergeable-summaries rule: an item missing from one summary is
        assumed to hold that summary's min-count as (count = err); then
        keep the k largest. Exactness is preserved: if neither side ever
        evicted, both mins are 0 and the merge is a plain sum."""
        out = SpaceSaving(self.k)
        m_self, m_other = self._min_count(), other._min_count()
        items = set(self.counts) | set(other.counts)
        merged = {}
        for it in items:
            c = self.counts.get(it, m_self) + other.counts.get(it, m_other)
            e = self.errs.get(it, m_self) + other.errs.get(it, m_other)
            merged[it] = (c, e)
        keep = sorted(
            merged, key=lambda i: (-merged[i][0], _ord(i))
        )[: self.k]
        for it in keep:
            out._ingest(it, *merged[it])
        return out

    def top(self, n: int) -> list[tuple]:
        """(item, count, err) rows, ordered (count desc, item asc)."""
        order = sorted(
            self.counts, key=lambda i: (-self.counts[i], _ord(i))
        )[:n]
        return [(it, self.counts[it], self.errs[it]) for it in order]

    # -- wire format ---------------------------------------------------
    def serialize(self) -> bytes:
        """JSON ``{"k", "items": [[item, count, err], ...]}``."""
        return json.dumps({"k": self.k, "items": self.top(self.k)}).encode()

    @classmethod
    def deserialize(cls, blob: bytes) -> "SpaceSaving":
        state = json.loads(blob)
        sk = cls(state["k"])
        for item, count, err in state["items"]:
            sk._ingest(item, count, err)
        return sk
