"""Vector-similarity operators: exact cosine top-k / threshold search,
kNN, and MinHash-LSH near-dedup support (SURVEY §2.11 llm-2/3/7, §4 item 2).

Set-similarity (near-dup) routes share two building blocks from here:
:func:`doc_elements` is the one per-doc element SET (tokens or word
shingles — the sets :func:`minhash_signatures` hashes) and
:func:`set_jaccard` the one Jaccard expression. The exact joins, the
LSH verify and the streaming admission filter all measure through them.

Physical strategy
-----------------
Per-row vector math must NOT go through Catalyst higher-order functions
(``zip_with``+``aggregate`` measured ~40× slower than a NumPy kernel at
2000×64, BASELINE.md q11). Every exact cosine search instead runs ONE
tile kernel, :func:`_tile_search` (chunked float64 ``P @ R.T`` BLAS
calls, then a threshold filter or a vectorized per-row top-k), on one of
two routes:

- *broadcast*: the reference side is collected once, sorted by id and
  broadcast — the contract of a broadcast hash join's build side — and
  the probe side streams through ``mapInPandas`` in Arrow batches;
- *blocked* (:func:`_blocked_exact_search`): the probe × reference
  cross product is hash-tiled into (block, slice) cogroups, each tile
  searched by :func:`_cogroup_search` — result-identical, still
  O(n_probe × n_ref) work, but no executor holds the whole reference.
  IVF's inverted lists (operators.ann) run the same cogroup function.

One counted router, :func:`_exact_search`, COUNTs the reference and
routes past MAX_BROADCAST_REFERENCE_ROWS to the blocked route. To CUT
the quadratic work itself (approximate), use LSH banding
(``minhash_signatures`` + ``lsh_candidate_pairs`` below) or IVF coarse
quantization (operators.ann).

All similarities are computed in float64 so results agree with a
double-precision SQL oracle to ~1e-15 (round-to-6 is then hash-stable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_hw05_spark.operators.text import tokenize, word_shingles

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id1", T.LongType()),
        T.StructField("id2", T.LongType()),
        T.StructField("sim", T.DoubleType()),
    ]
)


def _l2_normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


#: sentinel key for masked-out candidates in :func:`_topk_per_row`;
#: strictly below every valid composite key (|simi| < 2**29 → |key| < 2**62)
_MASKED_KEY = np.int64(-(2**62))


def _topk_per_row(
    sims: np.ndarray, keep: np.ndarray, ids_all: np.ndarray, k: int
):
    """Exact per-row top-k under the (round(sim,6) DESC, id ASC) order.

    ``ids_all`` / the columns of ``sims`` MUST be id-ascending. Returns
    (rows, picked): row indices into ``sims`` and column indices of each
    row's ranked neighbors, k per row max, masked candidates dropped.

    Fast path (measured 1.2–3.3× over the per-probe lexsort loop and
    4–7× over a full-matrix stable argsort at self-join shapes — PERF.md
    r9 A/B): pack (rounded sim, column index) into ONE int64 key —
    ``round(sim*1e6) << 33 | (2**33-1-col)`` — then ``argpartition`` to
    an unordered top-k (O(N) per row, no full-row sort) and stable-sort
    only the k survivors. Column index stands in for the id tie-break
    (columns are id-ascending), so arbitrary int64 ids never overflow
    the packing. Exact while |sim| < 536 (keeping round(sim*1e6) under 2**29) and
    all sims finite; anything else — unnormalized dot products of huge
    vectors, NaNs — falls back to the full stable argsort, same order.

    Allocation discipline: the key is built IN PLACE (packed, negated,
    masked) so the fast path makes three (B×N)-sized fresh allocations
    — float work buffer, int64 key, argpartition's index output —
    instead of ~eight, plus one (B×N) bool for the mask complement.
    Large fresh allocations are mmap-backed and first-touch page faults
    dominated the kernel's wall on a fault-slow host (PERF.md r9:
    0.4 GB/s first-touch vs 6 GB/s reuse); fewer passes is also simply
    less memory traffic on healthy executors. The finiteness/magnitude
    guard uses min/max reductions, never a (B×N) temp.
    """
    if sims.size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z
    kk = min(k, ids_all.size)
    # reductions only — no (B×N) temp: NaN poisons min; ±inf caught too
    lo, hi = sims.min(), sims.max()
    # 536 < 2**29/1e6 ≈ 536.87: rounded-scaled sims stay under 2**29 so
    # the <<33 pack can't overflow int64
    if np.isfinite(lo) and np.isfinite(hi) and max(abs(lo), abs(hi)) < 536.0:
        buf = sims * 1e6              # fresh alloc #1 (float64 work buffer)
        np.rint(buf, out=buf)         # == np.round(sims*1e6), in place
        key = buf.astype(np.int64)    # fresh alloc #2 (the key buffer)
        del buf
        key <<= 33
        key |= (np.int64(2**33 - 1) - np.arange(ids_all.size))[None, :]
        np.negative(key, out=key)     # argpartition ascending == key DESC
        key[~keep] = -_MASKED_KEY     # masked sorts last (largest)
        part = np.argpartition(key, kk - 1, axis=1)[:, :kk]  # fresh alloc #3
        subk = np.take_along_axis(key, part, axis=1)         # (B, kk) small
        order = np.argsort(subk, axis=1, kind="stable")
        idx = np.take_along_axis(part, order, axis=1)
        valid = np.take_along_axis(subk, order, axis=1) != -_MASKED_KEY
        rows, cols = np.nonzero(valid)
        return rows, idx[rows, cols]
    # exact fallback: full-row stable argsort on the negated HALF-EVEN
    # key rint(sims*1e6) — the SAME key the fast path packs and the
    # blocked reduce's F.rint orders by (id-ascending columns make ties
    # resolve id ASC). round(sims,6) would divide that key by 1e6,
    # which above 2**53 can merge keys rint keeps distinct (r10
    # review) — rint-everywhere makes the key identical at every
    # magnitude. Masked/non-finite sims rank as -inf, i.e. never
    # picked — matching the fast path's drop; validity is judged on
    # the ORIGINAL sims so a finite-but-huge sim whose scaled key
    # overflows to +inf still ranks first instead of being dropped.
    ok = keep & np.isfinite(sims)
    ranked = np.where(ok, np.rint(sims * 1e6), -np.inf)
    idx = np.argsort(-ranked, axis=1, kind="stable")[:, :kk]
    valid = np.take_along_axis(ok, idx, axis=1)
    rows, cols = np.nonzero(valid)
    return rows, idx[rows, cols]


#: Per-chunk budget for the (probe-rows × n_ref) float64 sims matrix in
#: the exact kernels. The sims matrix is the ONLY executor allocation
#: that scales with BOTH sides: an un-chunked 10k-row Arrow batch
#: against a reference at the 4 M-row broadcast cap would materialize a
#: 320 GB matrix — the reference broadcast (2 GB) was capped, the batch
#: matmul was not (r9 fix). 256 MB keeps a 10k-row Arrow batch
#: single-chunk for references up to ~3,276 rows (so driver-scale plans
#: are byte-identical to the unchunked formulation) while bounding
#: executor memory at cap-scale references. Sims can drift in the LAST
#: ULP across chunk shapes because BLAS picks a different GEMM
#: micro-kernel for short row-chunks (measured: 500×64 vs 33×64 probe
#: slices differ ~1e-16 relative). Consequences per mode (ADVICE r9):
#: TOP-K chunking is row-identical in IDs (ulp drift is absorbed by the
#: contract-level round(·,6) key before any comparison, pinned by
#: test); THRESHOLD mode compares the RAW sim — because every oracle
#: filters on the raw cosine (e.g. q_near_dup_embedding's
#: ``WHERE cos >= 0.4``), rounding before the compare would diverge
#: from the contract — so a pair sitting within one ulp of the
#: threshold could in principle flip across chunk shapes. That is the
#: same measure-zero caveat the engine-vs-DuckDB comparison already
#: carries (different scalar-vs-BLAS arithmetic on both sides);
#: thresholds are contract constants chosen away from data values.
SIMS_CHUNK_BYTES = 256 * 2**20


def _iter_probe_chunks(P: np.ndarray, n_ref: int, budget: int):
    """Yield (row_offset, probe-row slice) with slices sized so the
    (slice × n_ref) float64 sims matrix stays under ``budget`` bytes.

    ``budget`` is captured DRIVER-side when the kernel closure is built
    (it rides the serialized closure to the workers), so tests can
    monkeypatch SIMS_CHUNK_BYTES to force multi-chunk batches."""
    rows = max(1, budget // max(1, n_ref * 8))
    for s in range(0, P.shape[0], rows):
        yield s, P[s : s + rows]


#: Hard cap on broadcast-able reference rows (~2 GB at 64-dim float64).
#: Past this, the exact cosine kernels switch PHYSICAL strategy (counted
#: routing, not a fail-fast): the reference is hash-partitioned into
#: :data:`EXACT_SEARCH_BLOCK_ROWS`-sized blocks and searched with the
#: same BLAS kernel per block via cogroup — see
#: :func:`_blocked_exact_search`. Result-identical; the broadcast path
#: is only a latency optimization.
MAX_BROADCAST_REFERENCE_ROWS = 4_000_000

#: Per-probe-slice row budget for the blocked exact fallback's SECOND
#: tiling dimension (~134 MB of 64-dim float64 per slice). Every cogroup
#: task materializes its whole probe group as ONE pandas frame, so
#: without this dimension the group was the ENTIRE probe table (each
#: probe row replicates to every block) — bounded only by corpus size.
#: One block + one slice + the chunked sims matrix ≈ 700 MB/task.
PROBE_SLICE_ROWS = 262_144

#: Per-reference-block row budget for the blocked exact fallback
#: (~270 MB of 64-dim float64 per block) — sized so one block plus one
#: probe Arrow batch fit comfortably inside a single executor task.
EXACT_SEARCH_BLOCK_ROWS = 524_288

#: Broadcast cap for per-doc token-ARRAY tables in the exact-Jaccard
#: verify joins (batch ``lsh_jaccard_pairs`` and the streaming admission
#: filter): ~100-token string arrays put 1 M docs at low single-digit
#: GB — safely inside an executor. Past the cap the SAME joins run
#: shuffled (one extra exchange, identical results); the routing is
#: implemented, not just documented (r5 — the r4 sketch-sink lesson).
MAX_BROADCAST_TOKEN_DOCS = 1_000_000


#: Counted vocab gate for the dictionary-encoded exact-Jaccard verify
#: (r12, VERDICT r11 item 3 / guide §2.3 "narrower types"): up to this
#: many DISTINCT elements (unigram tokens / word-bigram shingles), each
#: element is assigned a collision-free dense int64 id from a
#: checkpointed mapping and the per-doc arrays carry longs instead of
#: strings — ``array_intersect`` then hashes/compares 8-byte longs in
#: one codegen stage instead of variable-length UTF8 strings. Set
#: Jaccard is invariant under ANY injective relabeling (sizes and
#: intersection sizes are preserved exactly), so results are identical
#: by construction; collision-freedom comes from the mapping being a
#: real dictionary (one id per distinct element), not a hash. Past the
#: gate the verify keeps the string arrays — identical results, no
#: broadcast of a vocab that no longer fits. 4 M ids ≈ tens of MB
#: broadcast: same envelope as MAX_BROADCAST_REFERENCE_ROWS.
MAX_BROADCAST_VOCAB = 4_000_000


def dict_encode_elements(
    elems: DataFrame, elem_col: str, limit: int | None = None
) -> DataFrame | None:
    """Dictionary-encode a distinct ``(doc_id, elem)`` pair table's
    element column to dense int64 ids under the counted vocab gate.

    Returns the re-labeled frame (same column names, ``elem_col`` now
    LONG) or ``None`` when the vocab exceeds the gate — the caller then
    keeps the string path. The id table is ``localCheckpoint``-ed so
    every downstream reference of the encoded frame sees ONE
    materialized mapping (``monotonically_increasing_id`` is only
    partition-stable; without the checkpoint two plan arms could
    re-derive different ids for the same element). Ids are not
    deterministic across runs — irrelevant by construction, since every
    consumer-visible quantity (set sizes, intersection sizes, Jaccard)
    is invariant under the relabeling.

    ``limit`` defaults to :data:`MAX_BROADCAST_VOCAB`, read at call time
    so tests can monkeypatch it to 0 and prove the string path is
    result-identical.
    """
    if limit is None:
        limit = MAX_BROADCAST_VOCAB
    vocab = elems.select(elem_col).distinct()
    if vocab.count() > limit:  # counted gate
        return None
    ids = vocab.withColumn(
        "__eid", F.monotonically_increasing_id()
    ).localCheckpoint()
    other = [c for c in elems.columns if c != elem_col]
    # bounded: ids is vocab-sized, inside the counted gate above
    return elems.join(F.broadcast(ids), elem_col).select(
        *other, F.col("__eid").alias(elem_col)
    )


def maybe_broadcast(
    df: DataFrame, n_rows: int, limit: int | None = None
) -> DataFrame:
    """Counted broadcast routing for row-count-proportional build sides
    (per-doc token/shingle arrays, per-doc size tables): return the
    broadcast-marked frame while ``n_rows`` fits under ``limit``, the
    frame unchanged otherwise — identical results, one extra exchange.

    ``limit`` defaults to :data:`MAX_BROADCAST_TOKEN_DOCS`, read at call
    time so tests can monkeypatch it to 0 and prove the shuffled path is
    result-identical. Static routing on a counted size, not bare AQE: a
    static sort-merge join shuffle-writes the (corpus-sized) probe side
    before AQE could convert it to a broadcast join (PERF.md negative
    result, r5)."""
    if limit is None:
        limit = MAX_BROADCAST_TOKEN_DOCS
    return F.broadcast(df) if n_rows <= limit else df


def doc_elements(
    docs: DataFrame,
    shingle: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct ``(id_col, elem)`` rows: each document's element SET —
    its whitespace tokens for ``shingle == 1``, its word-``shingle``-grams
    otherwise (the same sets ``minhash_signatures(shingle=…)`` hashes).
    Every set-similarity route builds its sets here."""
    if shingle == 1:
        elems = tokenize(docs, text_col, id_col)
    else:
        elems = word_shingles(docs, shingle, text_col, id_col)
    return elems.toDF(id_col, "elem").distinct()


def set_jaccard(n_common: Column, n1: Column, n2: Column) -> Column:
    """|A∩B| / |A∪B| in double from the intersection and set sizes."""
    return n_common.cast("double") / (n1 + n2 - n_common)


def _reference_matrix(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    normalize: bool,
    n_ref: int | None = None,
):
    """Materialize the reference side as (ids, float64 matrix).

    Driver-side collect is intentional and bounded — identical role to a
    broadcast hash join's build side. Callers that already counted the
    reference (the counted-routing wrappers) pass ``n_ref``; direct
    callers get the fail-fast gate so a 100-TB reference can never OOM
    the driver.
    """
    if n_ref is None:
        n_ref = df.count()
    if n_ref > MAX_BROADCAST_REFERENCE_ROWS:
        raise ValueError(
            f"reference side has {n_ref} rows (cap "
            f"{MAX_BROADCAST_REFERENCE_ROWS}); broadcast brute force would "
            "OOM the driver — use the counted-routing kernels "
            "(cosine_pairs_topk_per_row / cosine_pairs_above), "
            "operators.ann.ivf_knn_candidates (IVF), or LSH banding"
        )
    pdf = df.select(id_col, vec_col).toPandas()  # bounded: gated by MAX_BROADCAST_REFERENCE_ROWS above
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    return ids, _l2_normalize(mat) if normalize else mat


def _empty_pairs() -> pd.DataFrame:
    return pd.DataFrame({"id1": [], "id2": [], "sim": []}).astype(
        {"id1": np.int64, "id2": np.int64, "sim": np.float64}
    )


def _tile_search(
    pids: np.ndarray,
    P: np.ndarray,
    rids: np.ndarray,
    R: np.ndarray,
    *,
    k: int | None,
    threshold: float | None,
    mode: str,
    budget: int,
):
    """The exact cosine tile kernel behind the broadcast, blocked and
    IVF searches. ``P`` / ``R`` are float64 (already normalized);
    ``rids`` MUST be id-ascending so the top-k pick breaks
    (round(sim,6) DESC) ties by id2 ASC. Probe rows are chunked under
    ``budget`` bytes of sims (SIMS_CHUNK_BYTES), one ``Pc @ R.T`` each.
    Threshold mode keeps ``sim >= threshold`` (raw sim) with id2 > id1;
    top-k mode keeps :func:`_topk_per_row` under the ``pairs``
    (id2 > id1) or ``knn`` (id2 != id1) mask. Yields (id1, id2, sim)
    frames."""
    for s, Pc in _iter_probe_chunks(P, rids.size, budget):
        sims = Pc @ R.T
        pc_ids = pids[s : s + Pc.shape[0]]
        if threshold is not None:
            hit = (sims >= threshold) & (rids[None, :] > pc_ids[:, None])
            rows, cols = np.nonzero(hit)
        else:
            keep = (
                rids[None, :] > pc_ids[:, None]
                if mode == "pairs"
                else rids[None, :] != pc_ids[:, None]
            )
            rows, cols = _topk_per_row(sims, keep, rids, k)
        if rows.size:
            yield pd.DataFrame(
                {"id1": pc_ids[rows], "id2": rids[cols], "sim": sims[rows, cols]}
            )


def _cogroup_search(
    *,
    k: int | None = None,
    threshold: float | None = None,
    mode: str = "pairs",
    normalize: bool = True,
):
    """The cogroup ``applyInPandas`` function running :func:`_tile_search`
    on a (``probe_id, probe_vec``) ⋈ (``ref_id, ref_vec``) group pair in
    any row order — the blocked route's (block, slice) tiles and IVF's
    inverted lists (``operators.ann.ivf_knn_candidates``)."""
    budget = SIMS_CHUNK_BYTES  # driver-captured (testable)

    def search(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty or right.empty:
            return _empty_pairs()
        rids = right["ref_id"].to_numpy(dtype=np.int64)
        order = np.argsort(rids, kind="stable")
        P = np.stack(left["probe_vec"].to_numpy()).astype(np.float64)
        R = np.stack(right["ref_vec"].to_numpy()[order]).astype(np.float64)
        if normalize:
            P, R = _l2_normalize(P), _l2_normalize(R)
        out = list(
            _tile_search(
                left["probe_id"].to_numpy(dtype=np.int64), P, rids[order], R,
                k=k, threshold=threshold, mode=mode, budget=budget,
            )
        )
        return pd.concat(out, ignore_index=True) if out else _empty_pairs()

    return search


def _blocked_exact_search(
    probe: DataFrame,
    reference: DataFrame,
    n_ref: int,
    id_col: str,
    vec_col: str,
    *,
    k: int | None = None,
    threshold: float | None = None,
    mode: str = "pairs",
    normalize: bool = True,
    n_probe: int | None = None,
) -> DataFrame:
    """EXACT distributed brute-force cosine search — the physical
    strategy :func:`_exact_search` picks when the reference side exceeds
    :data:`MAX_BROADCAST_REFERENCE_ROWS`.

    Shape: a 2-D TILING of the (probe × reference) cross product.
    Hash-partition the reference into
    ``ceil(n_ref / EXACT_SEARCH_BLOCK_ROWS)`` blocks and the probe into
    ``ceil(n_probe / PROBE_SLICE_ROWS)`` slices; replicate every probe
    row to every block and every reference row to every slice
    (``explode`` over a literal range — a generator in codegen, no
    join; the replication factor IS the algorithm's cost), cogroup both
    sides on (block, slice), and run :func:`_tile_search` per tile
    (:func:`_cogroup_search`). The slice dimension (r9) bounds each
    task's probe frame, which was otherwise the whole probe table.

    Result-identical (in IDs) to the broadcast route: the (block,
    slice) tiles PARTITION the cross product, so each threshold pair
    lands in exactly one tile, and the union of per-tile top-k is a
    superset of the true per-probe top-k, which :func:`_exact_search`
    reduces with the per-tile pick's half-even ``rint(sim*1e6)`` key
    (ADVICE r9). GEMM tile shape can drift sims one ulp vs the
    broadcast path, which the rounded top-k key absorbs and which
    threshold mode documents as a boundary caveat (see
    SIMS_CHUNK_BYTES). Forced-route identity tests in
    tests/test_near_dup.py cover self-join AND asymmetric
    probe≠reference shapes.

    Scale: no executor ever holds more than one reference block plus
    one probe slice (~270 MB + ~134 MB at 64-dim float64, sims matrix
    chunked separately); the only shuffle is on (block, slice).
    """
    if n_probe is None:
        # self-joins (the common case) already counted this side
        n_probe = n_ref if probe is reference else probe.count()
    n_blocks = max(1, -(-n_ref // EXACT_SEARCH_BLOCK_ROWS))
    n_slices = max(1, -(-n_probe // PROBE_SLICE_ROWS))
    ref_blocked = reference.select(
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("block"),
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_slices - 1).cast("long"))
        ).alias("slice"),
        F.col(id_col).alias("ref_id"),
        F.col(vec_col).alias("ref_vec"),
    )
    routed = probe.select(
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_blocks - 1).cast("long"))
        ).alias("block"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_slices)).alias("slice"),
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
    )
    search = _cogroup_search(
        k=k, threshold=threshold, mode=mode, normalize=normalize
    )
    return (
        routed.groupby("block", "slice")
        .cogroup(ref_blocked.groupby("block", "slice"))
        .applyInPandas(search, schema=_PAIR_SCHEMA)
    )


def _exact_search(
    probe: DataFrame,
    reference: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int | None = None,
    threshold: float | None = None,
    mode: str = "pairs",
    normalize: bool = True,
    n_probe: int | None = None,
) -> DataFrame:
    """The exact cosine family's one counted router (``k`` xor
    ``threshold``): the broadcast route up to
    MAX_BROADCAST_REFERENCE_ROWS reference rows, the blocked route past
    it (top-k candidates then get a per-probe window reduce; threshold
    tiles are already disjoint)."""
    if (k is None) == (threshold is None):
        raise ValueError("exactly one of k / threshold required")
    n_ref = reference.count()  # counted gate: picks the physical strategy
    if n_ref > MAX_BROADCAST_REFERENCE_ROWS:
        cands = _blocked_exact_search(
            probe, reference, n_ref, id_col, vec_col,
            k=k, threshold=threshold, mode=mode, normalize=normalize,
            n_probe=n_probe,
        )
        if threshold is not None:
            return cands
        from pyspark.sql import Window

        # Reduce with the SAME half-even key the per-tile pick packs:
        # Math.rint and np.rint are both IEEE half-even on the same
        # float64 product. F.round (HALF_UP) could let a tile-dropped
        # candidate outrank a kept one at an exact half-integer sim*1e6
        # (ADVICE r9); rint(sim*1e6) orders like round(sim,6) while
        # |sim*1e6| < 2**53.
        w = Window.partitionBy("id1").orderBy(
            F.rint(F.col("sim") * F.lit(1e6)).desc(), F.col("id2")
        )
        return (
            cands.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= k)
            .drop("__rn")
        )
    # broadcast route: the reference is collected once, sorted
    # id-ascending and broadcast; every probe Arrow batch runs the tile
    # kernel in mapInPandas — no shuffle
    ref_ids, ref_mat = _reference_matrix(
        reference, id_col, vec_col, normalize, n_ref=n_ref
    )
    order = np.argsort(ref_ids, kind="stable")
    bc = probe.sparkSession.sparkContext.broadcast(
        (ref_ids[order], ref_mat[order])
    )
    budget = SIMS_CHUNK_BYTES  # driver-captured (testable)

    def kernel(batches):
        rids, R = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            P = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            yield from _tile_search(
                pdf[id_col].to_numpy(dtype=np.int64),
                _l2_normalize(P) if normalize else P,
                rids, R,
                k=k, threshold=threshold, mode=mode, budget=budget,
            )

    return probe.mapInPandas(kernel, schema=_PAIR_SCHEMA)


def cosine_pairs_topk_per_row(
    probe: DataFrame,
    reference: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 20,
    mode: str = "pairs",
    normalize: bool = True,
    n_probe: int | None = None,
) -> DataFrame:
    """Per-probe-row top-k most-cosine-similar reference vectors.

    ``n_probe``: callers that already know the probe-side row count
    should pass it — past the broadcast cap the blocked route needs it
    for slice sizing and would otherwise pay a full extra probe scan
    (``probe.count()``) whenever probe is not the same object as
    reference (ADVICE r9). Self-joins reuse the reference count
    automatically.

    mode='pairs': only neighbors with id2 > id1 (unordered-pair dedup) —
    the global top-k pairs are a subset of the union of per-row top-k.
    mode='knn':   all neighbors except self.

    Ties are broken by (sim rounded to 6 desc, id2 asc) so downstream
    row_number() semantics match a SQL oracle exactly. All math is
    float64 (cast + L2-normalize + dot), matching a double-precision SQL
    oracle to ~1e-15.

    Counted physical routing: while the reference fits under
    MAX_BROADCAST_REFERENCE_ROWS it is collected + broadcast (one BLAS
    call per probe Arrow batch); past the cap the SAME search runs
    blocked-and-distributed (``_blocked_exact_search`` + a per-probe
    window reduction with the identical tie-break) — result-identical,
    forced-route identity tests in tests/test_near_dup.py.
    """
    return _exact_search(
        probe, reference, id_col, vec_col,
        k=k, mode=mode, normalize=normalize, n_probe=n_probe,
    )


def global_topk_pairs(pairs: DataFrame, k: int = 20) -> DataFrame:
    """Global top-k pairs by similarity, deterministic via rounded sim + ids."""
    return (
        pairs.select("id1", "id2", F.round("sim", 6).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "id1", "id2")
        .limit(k)
    )


# --------------------------------------------------------------------------
# MinHash + LSH (the 100-TB near-dedup path)
# --------------------------------------------------------------------------

#: Large Mersenne prime for universal hashing (public-domain construction).
_MERSENNE = (1 << 61) - 1


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 128,
    seed: int = 42,
    shingle: int = 1,
) -> DataFrame:
    """Per-document MinHash signature (array<long>) over its token set
    (``shingle=1``) or its word-``shingle``-gram set (``shingle>=2`` —
    the order-sensitive representation real text dedup uses: a shuffled
    copy shares every unigram but almost no shingle).

    Fully batch-vectorized pandas UDF — the 100-TB near-dup pipeline's
    compute bottleneck is exactly this pass (O(total tokens)), so no
    per-token or per-document Python runs in it:

    1. tokenize the WHOLE Arrow batch with ``pyarrow.compute
       .split_pattern`` (C++, one ListArray; its offsets delimit docs),
    2. ``dictionary_encode`` the flat token array (C++), hash only the
       DISTINCT tokens in one ``pd.util.hash_array`` pass (vectorized
       64-bit SipHash, process-stable key), and evaluate the whole
       ``(a·h + b) mod p`` family once per distinct token — a
       (num_hashes × vocab) table instead of (num_hashes × tokens),
    3. per hash function, a table-gather over the token codes and one
       ``np.minimum.reduceat`` at the doc offsets — duplicates within a
       doc are harmless (min over a multiset equals min over its set),
       so no per-doc dedup either.

    Deterministic given seed. Scale: one pass, no shuffle — signatures
    are tiny (num_hashes longs) regardless of document size. Measured
    ≈5× the per-token-Python kernel it replaced at 128 hashes
    (0.45 → 2.3 M tokens/s single-core; PERF.md r3).

    ``shingle >= 2`` stays in the same vectorized shape: per-position
    token hashes (a gather from the distinct-token table) fold into
    composite shingle hashes with an FNV-style rolling combine —
    shingle STRINGS are never materialized — and the distinct-shingle
    trick replaces the distinct-token one. A document with fewer than
    ``shingle`` tokens has an empty shingle set and gets the sentinel
    all-``p`` signature (identical for all such docs — the downstream
    exact verify discards their 0/0-Jaccard pairs, and
    ``max_bucket_size`` caps the degenerate bucket if such docs are
    common).
    """
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    if shingle < 1:
        raise ValueError(f"shingle must be >= 1, got {shingle}")

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(texts: pd.Series) -> pd.Series:
        import pyarrow as pa
        import pyarrow.compute as pc

        if texts.empty:
            return pd.Series([], dtype=object)
        arr = pc.coalesce(
            pa.array(texts, type=pa.string()), pa.scalar("", type=pa.string())
        )
        toks = pc.split_pattern(arr, " ")
        # split_pattern maps "" → [""], so every doc segment is
        # non-empty and reduceat's start indices are strictly increasing.
        offsets = toks.offsets.to_numpy()
        starts = offsets[:-1].astype(np.int64)
        dct = toks.flatten().dictionary_encode()
        codes = dct.indices.to_numpy().astype(np.int64)
        uniq = dct.dictionary.to_pandas().to_numpy()
        huniq = pd.util.hash_array(uniq).astype(np.uint64)
        au, bu = a.astype(np.uint64), b.astype(np.uint64)
        p = np.uint64(_MERSENNE)
        if shingle == 1:
            # uint64 wrap-around mul then mod p, once per DISTINCT token
            table = (au[:, None] * huniq[None, :] + bu[:, None]) % p
            sig_mat = np.empty((num_hashes, len(starts)), dtype=np.int64)
            for i in range(num_hashes):
                sig_mat[i] = np.minimum.reduceat(
                    table[i][codes], starts
                ).astype(np.int64)
            return pd.Series(list(sig_mat.T))
        # ---- shingle >= 2: composite hashes over sliding windows ----
        s = shingle
        ends = offsets[1:].astype(np.int64)
        n_toks = ends - starts
        h = huniq[codes]  # per-position token hash
        n_windows = max(len(h) - s + 1, 0)
        comb = np.zeros(n_windows, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for k in range(s):
                comb = comb * np.uint64(0x100000001B3) + h[k : n_windows + k]
        # a window is a real shingle iff it stays inside one document
        doc_of = np.repeat(np.arange(len(starts), dtype=np.int64), n_toks)
        valid = doc_of[:n_windows] == doc_of[s - 1 :]
        vals = comb[valid]  # doc-ordered, contiguous per doc
        n_sh = np.maximum(n_toks - (s - 1), 0)
        sig_mat = np.full(
            (num_hashes, len(starts)), np.int64(_MERSENNE), dtype=np.int64
        )
        if vals.size:
            sh_starts = np.concatenate(
                [[0], np.cumsum(n_sh)[:-1]]
            ).astype(np.int64)
            nz = n_sh > 0
            red_starts = sh_starts[nz]
            # Adaptive: the distinct-value table only pays when shingles
            # repeat a lot (dense/tiny-vocab corpora). Realistic corpora
            # have ~all-distinct shingles, where np.unique's sort plus a
            # (num_hashes x n_distinct) table + per-hash gather is pure
            # memory-traffic overhead (~3x measured at 45M shingles) —
            # hash the window values directly instead. Both routes
            # evaluate the identical (a·x + b) mod p values, so
            # signatures are bit-identical either way.
            sample = vals[: 4096]
            if len(np.unique(sample)) < len(sample) // 2:
                ush, ucodes = np.unique(vals, return_inverse=True)
                table = (au[:, None] * ush[None, :] + bu[:, None]) % p
                for i in range(num_hashes):
                    sig_mat[i][nz] = np.minimum.reduceat(
                        table[i][ucodes], red_starts
                    ).astype(np.int64)
            else:
                for i in range(num_hashes):
                    hv = (au[i] * vals + bu[i]) % p
                    sig_mat[i][nz] = np.minimum.reduceat(
                        hv, red_starts
                    ).astype(np.int64)
        return pd.Series(list(sig_mat.T))

    return docs.select(id_col, sig(F.col(text_col)).alias("signature"))


def lsh_band_buckets(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 32,
) -> DataFrame:
    """Explode signatures into (id, band, bucket) rows — one xxhash64
    bucket per signature band. The shared banding step of the batch
    candidate join (:func:`lsh_candidate_pairs`) and the persisted
    streaming near-dup index (streaming.ops.stream_near_dup_filter):
    two documents are LSH candidates iff they share a (band, bucket)
    row, and the rows are storable/joinable state. The band width is
    read per row in Catalyst (every signature has the same length,
    the short-doc sentinel included), so banding runs no job."""
    rows_per_band = (F.size("signature") / num_bands).cast("int")
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(band).alias("band"),
                        F.xxhash64(
                            F.slice(
                                "signature",
                                rows_per_band * band + 1,
                                rows_per_band,
                            )
                        ).alias("bucket"),
                    )
                    for band in range(num_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    num_bands: int = 32,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: split signatures into bands, bucket-join per band.

    Returns candidate (id1 < id2) pairs — documents sharing ≥1 identical
    band. Scale: the self-join is per (band, bucket-hash) group; no
    all-pairs product ever forms. Follow with an exact verify.

    ``max_bucket_size`` bounds the known LSH failure mode: a DEGENERATE
    bucket (constant signature — empty docs, boilerplate) forms a
    quadratic group inside the bucket join (m members → m²/2 rows per
    band). Buckets larger than the cap emit a representative STAR
    instead — (min-id, member) pairs, linear in m — which preserves
    dedup-cluster connectivity exactly (every member stays reachable
    from the representative) while bounding join output. Pair-level
    enumeration inside an oversize bucket is intentionally reduced to
    the star: all-pairs output there is inherently quadratic, so a
    consumer that needs exact pair enumeration keeps the default
    ``None`` (unchanged exact behavior, no size scan).
    """
    banded = lsh_band_buckets(signatures, id_col, num_bands)
    if max_bucket_size is None:
        left = banded.select(
            F.col(id_col).alias("id1"), F.col("band"), F.col("bucket")
        )
        right = banded.select(
            F.col(id_col).alias("id2"), F.col("band"), F.col("bucket")
        )
        return (
            left.join(right, ["band", "bucket"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .distinct()
        )
    # Size + representative per (band, bucket) via one window pass — the
    # window's hash partitioning on the join key is reused by the
    # small-bucket self-join, so the cap costs no extra exchange.
    from pyspark.sql import Window as W

    w = W.partitionBy("band", "bucket")
    sized = banded.select(
        F.col(id_col),
        "band",
        "bucket",
        F.count("*").over(w).alias("_n"),
        F.min(id_col).over(w).alias("_rep"),
    )
    small = sized.filter(F.col("_n") <= max_bucket_size)
    left = small.select(F.col(id_col).alias("id1"), "band", "bucket")
    right = small.select(F.col(id_col).alias("id2"), "band", "bucket")
    pairs_small = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
    star = (
        sized.filter(
            (F.col("_n") > max_bucket_size) & (F.col(id_col) != F.col("_rep"))
        )
        .select(F.col("_rep").alias("id1"), F.col(id_col).alias("id2"))
    )
    return pairs_small.unionByName(star).distinct()


def cosine_pairs_above(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All unordered pairs (id1 < id2) with cosine ≥ threshold — the
    embedding-space analog of near-dup detection.

    Same routes and tile kernel as the top-k search; the threshold
    filter happens inside the NumPy batch so only qualifying pairs ever
    materialize as rows. Counted physical routing: past the cap
    (MAX_BROADCAST_REFERENCE_ROWS) the SAME search runs
    blocked-and-distributed (``_blocked_exact_search`` with threshold
    semantics — blocks partition id2, so no reduction is needed and each
    qualifying pair is emitted exactly once). Result-identical;
    forced-route identity tests in tests/test_near_dup.py. For
    APPROXIMATE sub-quadratic search prefer operators.ann (IVF /
    sign-LSH) — this kernel is the exact path.
    """
    return _exact_search(df, df, id_col, vec_col, threshold=threshold)


def l2_normalize_arrow(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Unit-normalize a vector column with ``mapInArrow`` — the
    zero-copy Arrow path (no pandas materialization at all), the
    batch shape GPU/np preprocessing kernels want at 100 TB.

    Fixed-width vectors are viewed as one contiguous (rows × dim)
    float64 matrix straight from the Arrow list buffer, normalized with
    a single BLAS-backed NumPy pass, and re-wrapped as an Arrow
    FixedSizeList-backed list column. Narrow op — no shuffle.
    """
    import pyarrow as pa

    schema_out = df.select(
        "*", F.col(vec_col).cast("array<double>").alias("__unit")
    ).withColumnRenamed("__unit", "unit_vec").schema

    def kernel(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            tbl = pa.table(batch)
            vecs = tbl[vec_col].combine_chunks()
            lengths = vecs.value_lengths().to_numpy()
            dim = int(lengths[0])
            if not (lengths == dim).all():
                raise ValueError(
                    f"l2_normalize_arrow: ragged {vec_col!r} column — "
                    f"expected every vector to have length {dim}"
                )
            vals = vecs.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64
            ).reshape(-1, dim)
            norms = np.linalg.norm(vals, axis=1, keepdims=True)
            norms[norms == 0.0] = 1.0
            unit = vals / norms
            unit_col = pa.FixedSizeListArray.from_arrays(
                pa.array(unit.ravel(), type=pa.float64()), dim
            ).cast(pa.list_(pa.float64()))
            yield pa.RecordBatch.from_arrays(
                [tbl[c].combine_chunks() for c in tbl.column_names]
                + [unit_col],
                names=tbl.column_names + ["unit_vec"],
            )

    return df.mapInArrow(kernel, schema=schema_out)
