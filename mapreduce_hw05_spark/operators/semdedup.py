"""Semantic deduplication: cluster-then-prune over an embedding column
(SemDeDup, Abbas et al. 2023 — the scale path for embedding-space dedup).

The exact all-pairs cosine search (``similarity.cosine_pairs_above``:
one tile kernel on a broadcast or a blocked route) does O(n²) work on
either route. SemDeDup bounds the quadratic term by k-means clustering
first: pairwise work happens only WITHIN a cluster, so the cost is
Σ|cluster|² and the only shuffle is the cluster id. At 100 TB:
centroids are a broadcast (k×dim) matrix, assignment is a map-only
NumPy pass, and no executor ever holds more than one cluster's members
— the same inverted-list discipline as IVF ANN (operators.ann).

Cross-cluster near-duplicates survive by design (SemDeDup's documented
recall trade for tractability); raise k to shrink clusters, or chain
with the exact kernel on the deduped survivors when they fit.

Determinism (contract requirement): assignment ties break to the lowest
cluster id, and pruning is greedy in ascending id order — same input ⇒
same kept set, any partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_hw05_spark.operators.similarity import _l2_normalize


def semantic_dedup(
    emb: DataFrame,
    centroids: np.ndarray,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row per input vector: ``(id, cluster, kept)``.

    ``kept`` is the greedy per-cluster selection: vectors are visited in
    ascending id order; a vector is kept iff its cosine to every
    already-kept vector of the SAME cluster is below ``threshold``.
    Every dropped vector therefore has a kept same-cluster neighbor at
    ≥ threshold, and no two kept vectors in a cluster are ≥ threshold —
    the pair of invariants the contract query asserts via the
    independent all-pairs kernel.

    Plan: one map-only assignment pass (broadcast centroid matrix, one
    BLAS call per Arrow batch, the vector column carried through so no
    fact-fact join is needed), then ONE shuffle on cluster id into the
    grouped pruning kernel.
    """
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(centroids.astype(np.float64))

    vec_field = emb.schema[vec_col].dataType
    assigned_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, vec_field),
            T.StructField("cluster", T.LongType()),
        ]
    )

    def assign(batches):
        C = bc.value
        c_sq = (C * C).sum(axis=1)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = -2.0 * (V @ C.T) + c_sq[None, :]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    vec_col: pdf[vec_col],
                    "cluster": d.argmin(axis=1).astype(np.int64),
                }
            )

    assigned = emb.select(id_col, vec_col).mapInPandas(assign, assigned_schema)

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cluster", T.LongType()),
            T.StructField("kept", T.BooleanType()),
        ]
    )

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        V = _l2_normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
        n = len(pdf)
        kept = np.zeros(n, dtype=bool)
        K = np.empty_like(V)  # rows 0..n_kept-1 = kept vectors
        n_kept = 0
        for i in range(n):
            if n_kept == 0 or (V[i] @ K[:n_kept].T).max() < threshold:
                kept[i] = True
                K[n_kept] = V[i]
                n_kept += 1
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(dtype=np.int64),
                "cluster": pdf["cluster"].to_numpy(dtype=np.int64),
                "kept": kept,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(prune, out_schema)
