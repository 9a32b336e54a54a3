"""NumPy-only pins for the shared exact cosine tile kernel
(``operators.similarity._tile_search`` behind ``_cogroup_search``) — no
Spark session. The broadcast route, the blocked (block, slice) tiles and
IVF's inverted lists all run this one kernel, so these tests cover all
three searches' selection logic directly:

- a brute-force reference in ``pairs``, ``knn`` and threshold modes, on
  dyadic vectors whose dot products are exact in any summation order
  (so the comparison is bit-exact, sims tied at the 1e-6 quantum
  included), with unsorted reference ids and a chunk budget that forces
  several probe chunks;
- IVF's former per-probe ``lexsort`` loop, which the kernel replaced:
  same ``(id1, id2)`` order and the same ``round(sim, 6)``. The
  ``q_ann_ivf_topk`` oracle checks only the pair count and a recall
  floor, so a change in IVF's candidates would not show there.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from mapreduce_hw05_spark.operators import similarity as sim


def _frames(pids, P, rids, R):
    left = pd.DataFrame({"probe_id": pids, "probe_vec": list(P)})
    right = pd.DataFrame({"ref_id": rids, "ref_vec": list(R)})
    return left, right


def _dyadic_case(seed=3, n_probe=40, n_ref=60, dim=8):
    """Small-integer vectors plus sub-quantum offsets (multiples of
    2**-22 ≈ 2.4e-7) on one reference column: every dot product is exact
    in float64, and many sims differ by less than 1e-6, so the
    (rint(sim*1e6) DESC, id2 ASC) tie-break decides the order."""
    rng = np.random.default_rng(seed)
    P = rng.integers(-3, 4, (n_probe, dim)).astype(np.float64)
    R = rng.integers(-3, 4, (n_ref, dim)).astype(np.float64)
    R[:, 0] += rng.integers(0, 4, n_ref) * 2.0**-22
    ids = rng.permutation(np.arange(n_probe + n_ref, dtype=np.int64) * 3 + 1)
    pids, rids = ids[:n_probe], ids[n_probe:]
    # probe ids overlap the reference: copy some, so the self mask bites
    rids[:10] = pids[:10]
    return pids, P, rids, R


def _brute(pids, P, rids, R, *, k=None, threshold=None, mode="pairs"):
    by_id = sorted(range(rids.size), key=lambda j: rids[j])
    out = []
    for i, pid in enumerate(pids):
        cands = []
        for j in by_id:
            s = float(np.dot(P[i], R[j]))
            if threshold is not None:
                if s >= threshold and rids[j] > pid:
                    out.append((int(pid), int(rids[j]), s))
            elif rids[j] > pid if mode == "pairs" else rids[j] != pid:
                cands.append((-np.rint(s * 1e6), int(rids[j]), s))
        cands.sort(key=lambda c: (c[0], c[1]))
        out += [(int(pid), r, s) for _, r, s in cands[:k]]
    return out


def _rows(pdf):
    return list(
        zip(pdf["id1"].tolist(), pdf["id2"].tolist(), pdf["sim"].tolist())
    )


@pytest.mark.parametrize(
    "spec",
    [
        {"k": 5, "mode": "pairs"},
        {"k": 5, "mode": "knn"},
        {"k": 200, "mode": "knn"},  # k above the candidate count
        {"threshold": 2.0},  # integer sims: some sit exactly on it
    ],
)
def test_exact_search_kernel_matches_brute_force(monkeypatch, spec):
    pids, P, rids, R = _dyadic_case()
    budget = rids.size * 8 * 7  # 7 probe rows per chunk
    assert len(list(sim._iter_probe_chunks(P, rids.size, budget))) > 1
    monkeypatch.setattr(sim, "SIMS_CHUNK_BYTES", budget)
    search = sim._cogroup_search(normalize=False, **spec)
    got = search(*_frames(pids, P, rids, R))
    assert got.dtypes.tolist() == [np.int64, np.int64, np.float64]
    want = _brute(pids, P, rids, R, **spec)
    assert _rows(got) == want  # exact: same order, bit-equal sims
    if "threshold" in spec:
        return
    # the tie-break is really exercised: equal 1e-6 keys, distinct sims
    keys = np.rint(np.array([s for *_, s in want]) * 1e6)
    sims = np.array([s for *_, s in want])
    assert any(
        keys[a] == keys[a + 1] and sims[a] != sims[a + 1]
        for a in range(len(want) - 1)
    )


@pytest.mark.parametrize("spec", [{"k": 3, "mode": "knn"}, {"threshold": 0.0}])
def test_exact_search_kernel_empty_sides(spec):
    pids, P, rids, R = _dyadic_case()
    search = sim._cogroup_search(normalize=False, **spec)
    for left, right in (
        _frames(pids[:0], P[:0], rids, R),
        _frames(pids, P, rids[:0], R[:0]),
    ):
        got = search(left, right)
        assert got.empty
        assert got.dtypes.tolist() == [np.int64, np.int64, np.float64]


def _ivf_lexsort_loop(left, right, k, mode):
    """IVF's per-bucket search as it was before it moved onto the
    shared kernel: a per-probe lexsort over the unsorted inverted list."""
    P = sim._l2_normalize(np.stack(left["probe_vec"].to_numpy()).astype(np.float64))
    R = sim._l2_normalize(np.stack(right["ref_vec"].to_numpy()).astype(np.float64))
    pids = left["probe_id"].to_numpy(dtype=np.int64)
    rids = right["ref_id"].to_numpy(dtype=np.int64)
    sims = P @ R.T
    out = []
    for row, pid in enumerate(pids):
        mask = rids > pid if mode == "pairs" else rids != pid
        cand_ids, cand_sims = rids[mask], sims[row, mask]
        order = np.lexsort((cand_ids, -np.round(cand_sims, 6)))[:k]
        out += [(pid, i, s) for i, s in zip(cand_ids[order], cand_sims[order])]
    return out


@pytest.mark.parametrize("mode", ["pairs", "knn"])
def test_exact_search_kernel_matches_ivf_lexsort_loop(monkeypatch, mode):
    rng = np.random.default_rng(5)
    n_probe, n_ref, dim, k = 50, 80, 16, 6
    P = rng.standard_normal((n_probe, dim)).astype(np.float32)
    R = rng.standard_normal((n_ref, dim)).astype(np.float32)
    R[40:50] = R[30:40] * 2  # same direction: sims tie exactly
    ids = rng.permutation(np.arange(n_probe + n_ref, dtype=np.int64))
    pids, rids = ids[:n_probe], ids[n_probe:]
    left, right = _frames(pids, P, rids, R)
    monkeypatch.setattr(sim, "SIMS_CHUNK_BYTES", n_ref * 8 * 9)
    got = sim._cogroup_search(k=k, mode=mode)(left, right)
    want = _ivf_lexsort_loop(left, right, k, mode)
    assert list(zip(got["id1"], got["id2"])) == [(a, b) for a, b, _ in want]
    assert (
        np.round(got["sim"].to_numpy(), 6)
        == np.round(np.array([s for *_, s in want]), 6)
    ).all()
