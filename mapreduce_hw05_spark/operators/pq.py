"""Product quantization (Jégou, Douze & Schmid 2011, "Product
quantization for nearest neighbor search"): compress vectors to m
subspace codeword ids and score in code space — the memory/shuffle
side of the ANN scale story, complementing the candidate-pruning side
(IVF routing, sign-LSH bucketing in ``operators.ann``).

A d-dim vector becomes m uint8-sized codes (m bytes vs 8d bytes of
float64 — 64× compression at d=64, m=8): the corpus that outgrows
executor memory as raw vectors fits as codes, and per-bucket scoring
gathers from m tiny (ksub × ksub) dot tables instead of running BLAS
on raw vectors. The standard architecture this module composes with
IVF into (``ivf_pq_topk_pairs`` in plans/similarity_queries.py):

    route (coarse centroids) → PQ-SDC shortlist (compressed, cheap)
    → EXACT rerank of the shortlist only.

Training is sample-sized (driver-side seeded Lloyd iterations per
subspace — standard PQ practice; a 100-TB corpus trains on a bounded
sample), encoding and scoring are corpus-sized and fully distributed
(narrow mapInPandas / per-bucket applyInPandas).

All arithmetic is float64 and every step is deterministic given the
seed — codes, shortlists, and reranked results are identical across
partitionings, retries, and engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_hw05_spark.operators.similarity import (
    _PAIR_SCHEMA,
    _l2_normalize,
    _reference_matrix,
)


def train_pq_codebooks(
    sample: np.ndarray,
    m: int = 8,
    ksub: int = 16,
    iters: int = 10,
    seed: int = 7,
    normalize: bool = True,
) -> np.ndarray:
    """(m, ksub, dsub) codebooks: seeded Lloyd iterations per subspace
    over a driver-side sample. Deterministic given the seed; empty
    clusters keep their previous centroid (the standard fallback)."""
    X = np.asarray(sample, dtype=np.float64)
    if normalize:
        X = _l2_normalize(X)
    n, d = X.shape
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    if n < ksub:
        raise ValueError(f"sample of {n} rows cannot seed ksub={ksub}")
    dsub = d // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, ksub, dsub), dtype=np.float64)
    for j in range(m):
        Xj = X[:, j * dsub : (j + 1) * dsub]
        C = Xj[rng.choice(n, size=ksub, replace=False)].copy()
        for _ in range(iters):
            # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² is rank-constant
            d2 = -2.0 * (Xj @ C.T) + (C * C).sum(axis=1)[None, :]
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                pts = Xj[assign == c]
                if len(pts):
                    C[c] = pts.mean(axis=0)
        books[j] = C
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    normalize: bool = True,
) -> DataFrame:
    """(id, codes array<int>) — per subspace, the nearest codeword id.
    Narrow mapInPandas against the broadcast (m × ksub × dsub)
    codebooks; no shuffle. Vectors are L2-normalized first when the
    search metric is cosine (match the training flag)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(codebooks, dtype=np.float64))
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    def kernel(batches):
        books = bc.value
        m, ksub, dsub = books.shape
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if normalize:
                V = _l2_normalize(V)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                Vj = V[:, j * dsub : (j + 1) * dsub]
                C = books[j]
                d2 = -2.0 * (Vj @ C.T) + (C * C).sum(axis=1)[None, :]
                codes[:, j] = d2.argmin(axis=1).astype(np.int32)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "codes": list(codes),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(kernel, schema=out_schema)


def sdc_tables(codebooks: np.ndarray) -> np.ndarray:
    """(m, ksub, ksub) symmetric-distance-computation dot tables:
    ``tables[j][a][b]`` = codeword_a · codeword_b in subspace j, so the
    PQ estimate of x·y is ``Σ_j tables[j][codes_x[j]][codes_y[j]]`` —
    an m-gather instead of a d-MAC per pair."""
    books = np.asarray(codebooks, dtype=np.float64)
    return np.einsum("jad,jbd->jab", books, books)


def pq_estimate_pairs(
    codes_a: np.ndarray, codes_b: np.ndarray, tables: np.ndarray
) -> np.ndarray:
    """Vectorized PQ dot estimates for row-aligned code matrices
    (n, m) × (n, m) → (n,)."""
    m = tables.shape[0]
    est = np.zeros(len(codes_a), dtype=np.float64)
    for j in range(m):
        est += tables[j][codes_a[:, j], codes_b[:, j]]
    return est


_PAIR_EST_SCHEMA = T.StructType(
    [
        T.StructField("id1", T.LongType()),
        T.StructField("id2", T.LongType()),
        T.StructField("est", T.DoubleType()),
    ]
)


def pq_sdc_bucket_pairs(
    bucketed_codes: DataFrame,
    codebooks: np.ndarray,
    top_per_bucket: int = 200,
    id_col: str = "vec_id",
) -> DataFrame:
    """Within-bucket all-pairs PQ scoring: for each ``bucket`` group of
    (id, codes) rows, estimate every pair's dot from the SDC tables and
    keep the bucket's ``top_per_bucket`` best — the shortlist stage of
    IVF-PQ. Only codes ever shuffle (m small ints per vector, not d
    floats); the per-pair cost is an m-gather, not a d-MAC. Pairs
    surviving in several buckets dedup by max downstream."""
    spark = bucketed_codes.sparkSession
    bc = spark.sparkContext.broadcast(sdc_tables(codebooks))

    def search(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id1": [], "id2": [], "est": []}).astype(
                {"id1": np.int64, "id2": np.int64, "est": np.float64}
            )
        tb = bc.value
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        C = np.stack(pdf["codes"].to_numpy())[order].astype(np.int64)
        iu, ju = np.triu_indices(ids.size, 1)
        est = np.zeros(iu.size, dtype=np.float64)
        for j in range(tb.shape[0]):
            est += tb[j][C[iu, j], C[ju, j]]
        top = np.lexsort((ids[ju], ids[iu], -np.round(est, 6)))[:top_per_bucket]
        return pd.DataFrame(
            {"id1": ids[iu][top], "id2": ids[ju][top], "est": est[top]}
        )

    cands = bucketed_codes.groupBy("bucket").applyInPandas(
        lambda key, pdf: search(pdf), schema=_PAIR_EST_SCHEMA
    )
    return cands.groupBy("id1", "id2").agg(F.max("est").alias("est"))


def exact_rerank_pairs(
    pairs: DataFrame,
    reference: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT cosine for a (id1, id2) shortlist — the rerank stage: only
    the shortlist (not the corpus product) pays full-precision math.
    The id→vector map broadcasts under the same row gate as the
    brute-force kernel (`_reference_matrix`); the shortlist streams
    through mapInPandas with one gather + einsum per Arrow batch."""
    spark = pairs.sparkSession
    ref_ids, ref_mat = _reference_matrix(reference, id_col, vec_col, True)
    lookup = {int(i): n for n, i in enumerate(ref_ids)}
    bc = spark.sparkContext.broadcast((lookup, ref_mat))
    def kernel(batches):
        lut, mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a = pdf["id1"].map(lut).to_numpy(dtype=np.int64)
            b = pdf["id2"].map(lut).to_numpy(dtype=np.int64)
            sims = np.einsum("nd,nd->n", mat[a], mat[b])
            yield pd.DataFrame(
                {
                    "id1": pdf["id1"].to_numpy(dtype=np.int64),
                    "id2": pdf["id2"].to_numpy(dtype=np.int64),
                    "sim": sims,
                }
            )

    return pairs.select("id1", "id2").mapInPandas(kernel, schema=_PAIR_SCHEMA)
