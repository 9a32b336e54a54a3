"""IVF-style approximate nearest neighbor search (the 100-TB scale path
for similarity search, complementing the exact search in
``operators.similarity``).

Index structure = coarse quantization: train k centroids (k-means),
assign every reference vector to its nearest centroid ("inverted list").
A probe routes to its ``nprobe`` nearest centroids and brute-forces only
those lists. Recall is tunable via nprobe (nprobe == k degenerates to
exact search).

Physical plan: reference bucketing and probe routing are narrow
mapInPandas kernels against a broadcast (k × dim) centroid matrix —
genuinely scalar state. The per-bucket search is a ``cogroup``
(probe-routes ⋈ inverted-list, both hash-partitioned on bucket id) that
runs the exact search's shared tile kernel
(``similarity._cogroup_search``): the only shuffle is on bucket id, and
no executor ever holds more than one inverted list. Final
global/per-probe top-k is a window over the (tiny) candidate union.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_hw05_spark.operators.clustering import assign_clusters
from mapreduce_hw05_spark.operators.similarity import (
    _PAIR_SCHEMA,
    _cogroup_search,
    _empty_pairs,
    _l2_normalize,
)

_ROUTE_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType()),
        T.StructField("probe_id", T.LongType()),
        T.StructField("probe_vec", T.ArrayType(T.FloatType())),
    ]
)

def route_probes(
    probe: DataFrame,
    centroids: np.ndarray,
    nprobe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(probe_id, probe_vec) × its nprobe nearest centroids → one row per
    (bucket, probe). Centroid ranking uses cosine (normalized dot) so
    routing agrees with the search metric."""
    spark = probe.sparkSession
    bc = spark.sparkContext.broadcast(_l2_normalize(centroids.astype(np.float64)))

    def kernel(batches):
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = _l2_normalize(np.stack(pdf[vec_col].to_numpy()).astype(np.float64))
            sims = V @ C.T  # (batch, k)
            # top-nprobe buckets per row, deterministic tiebreak on bucket id
            order = np.lexsort(
                (np.broadcast_to(np.arange(C.shape[0]), sims.shape), -sims), axis=1
            )[:, :nprobe]
            n, p = order.shape
            yield pd.DataFrame(
                {
                    "bucket": order.ravel().astype(np.int64),
                    "probe_id": np.repeat(pdf[id_col].to_numpy(dtype=np.int64), p),
                    "probe_vec": np.repeat(pdf[vec_col].to_numpy(), p),
                }
            )

    return probe.mapInPandas(kernel, schema=_ROUTE_SCHEMA)


def ivf_knn_candidates(
    probe: DataFrame,
    reference: DataFrame,
    centroids: np.ndarray,
    k: int = 20,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    mode: str = "pairs",
) -> DataFrame:
    """Per-(probe, probed-bucket) top-k cosine candidates via cogroup.

    mode='pairs': keep only id2 > id1 (unordered-pair dedup);
    mode='knn':   all neighbors except self.
    Output needs a final per-probe or global top-k reduction — candidates
    from different buckets of the same probe are concatenated here.
    """
    routed = route_probes(probe, centroids, nprobe, id_col, vec_col)
    ref_bucketed = assign_clusters(reference, centroids, id_col, vec_col).join(
        reference.select(id_col, vec_col), id_col
    ).select(
        F.col("cluster").alias("bucket"),
        F.col(id_col).alias("ref_id"),
        F.col(vec_col).alias("ref_vec"),
    )
    return (
        routed.groupby("bucket")
        .cogroup(ref_bucketed.groupby("bucket"))
        .applyInPandas(_cogroup_search(k=k, mode=mode), schema=_PAIR_SCHEMA)
    )


# --------------------------------------------------------------------------
# Sign-LSH (random hyperplanes) — the bucketing alternative to IVF
# --------------------------------------------------------------------------

_SIGN_BUCKET_SCHEMA = T.StructType(
    [
        T.StructField("table", T.IntegerType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("vec_id", T.LongType()),
        T.StructField("vec", T.ArrayType(T.FloatType())),
    ]
)


def sign_lsh_buckets(
    df: DataFrame,
    n_tables: int = 16,
    n_bits: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hash every vector into one bucket per table: ``n_bits`` random
    hyperplanes per table, sign bits packed into an int (SimHash for
    floats — collision probability rises with cosine similarity).

    Hyperplanes are regenerated from ``seed`` inside each task (a few KB
    of rng work), so nothing is broadcast and the result is deterministic
    across partitionings. Output replicates each vector ``n_tables``
    times — the LSH trade: shuffle n_tables× the corpus on bucket id
    instead of an all-pairs crossJoin. Unlike IVF there is no training
    pass (no centroids), so this is the index-free scale path.
    """

    def kernel(batches):
        H = None
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            if H is None:
                rng = np.random.default_rng(seed)
                H = rng.standard_normal((n_tables * n_bits, V.shape[1]))
            bits = (V @ H.T) > 0  # (batch, n_tables*n_bits)
            weights = 1 << np.arange(n_bits, dtype=np.int64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            for t in range(n_tables):
                packed = bits[:, t * n_bits : (t + 1) * n_bits] @ weights
                yield pd.DataFrame(
                    {
                        "table": np.full(ids.size, t, dtype=np.int32),
                        "bucket": packed.astype(np.int64),
                        "vec_id": ids,
                        "vec": pdf[vec_col].to_numpy(),
                    }
                )

    return df.mapInPandas(kernel, schema=_SIGN_BUCKET_SCHEMA)


def sign_lsh_pairs(
    df: DataFrame,
    k_per_bucket: int = 20,
    n_tables: int = 16,
    n_bits: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Candidate similar pairs via sign-LSH: exact cosine within each
    (table, bucket), top ``k_per_bucket`` pairs per bucket, deduped
    across tables by max.

    The global top-k over the union is a superset-safe reduction: any
    globally top-k pair that collides in at least one table survives its
    bucket's local top-k cut (bucket pairs ⊆ global pairs). Work is
    bounded per bucket; the only shuffles are on bucket id and on the
    (tiny) candidate set.
    """
    buckets = sign_lsh_buckets(df, n_tables, n_bits, seed, id_col, vec_col)

    def search(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return _empty_pairs()
        V = _l2_normalize(np.stack(pdf["vec"].to_numpy()).astype(np.float64))
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        V, ids = V[order], ids[order]
        sims = V @ V.T
        iu, ju = np.triu_indices(ids.size, 1)
        s = sims[iu, ju]
        top = np.lexsort((ids[ju], ids[iu], -np.round(s, 6)))[:k_per_bucket]
        return pd.DataFrame(
            {"id1": ids[iu][top], "id2": ids[ju][top], "sim": s[top]}
        )

    cands = buckets.groupBy("table", "bucket").applyInPandas(
        lambda key, pdf: search(pdf), schema=_PAIR_SCHEMA
    )
    return cands.groupBy("id1", "id2").agg(F.max("sim").alias("sim"))
