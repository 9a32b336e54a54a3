"""K-means over an embedding column (SURVEY §2.8 g-3).

Iterative: centroids live driver-side (k×dim floats — genuinely scalar
state, like the genre's Counters), assignment is a broadcast NumPy kernel
via ``mapInPandas`` (one BLAS call per Arrow batch), centroid update is a
distributed posexplode + groupBy-avg. No all-pairs product, no per-row
Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def label_seeded_centroids(
    emb: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> np.ndarray:
    """Initial centroids = per-label mean vectors (deterministic seeding)."""
    means = (
        emb.select(F.col(label_col).cast("long").alias("cluster"), F.posexplode(vec_col))
        .groupBy("cluster", "pos")
        .agg(F.avg(F.col("col").cast("double")).alias("v"))
        .orderBy("cluster", "pos")
        .toPandas()  # model-sized: k x d per-label means
    )
    k = means["cluster"].nunique()
    dim = means["pos"].nunique()
    return means["v"].to_numpy().reshape(k, dim)


def assign_clusters(
    emb: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to the nearest centroid (squared-L2, float64).

    Ties broken by lowest cluster id (np.argmin) — deterministic.
    """
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(centroids.astype(np.float64))
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cluster", T.LongType()),
            T.StructField("sq_dist", T.DoubleType()),
        ]
    )

    def kernel(batches):
        C = bc.value  # (k, dim)
        c_sq = (C * C).sum(axis=1)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            # ||v-c||² = ||v||² - 2 v·c + ||c||² ; ||v||² constant per row
            d = -2.0 * (V @ C.T) + c_sq[None, :]
            best = d.argmin(axis=1)
            v_sq = (V * V).sum(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "cluster": best.astype(np.int64),
                    "sq_dist": v_sq + d[np.arange(len(best)), best],
                }
            )

    return emb.mapInPandas(kernel, schema=schema)


def kmeans_parallel_init(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 5,
    oversample: int | None = None,
    seed: int = 11,
) -> np.ndarray:
    """k-means|| initialization (Bahmani et al., "Scalable k-means++"):
    instead of k sequential k-means++ passes (k full scans — useless at
    scale) or random seeding (poor starts), sample ~l·rounds candidates
    in ``rounds`` passes, each point kept with probability
    l·d²(x,C)/φ, then reduce the small weighted candidate set to k
    centroids driver-side.

    Determinism (contract requirement): the Bernoulli draw uses a
    splitmix-style hash of (id, round) instead of an RNG, and the final
    reduction is greedy weighted k-means++ (argmax of weighted distance,
    no sampling) — same input ⇒ same centroids, any partitioning.
    Per-round driver traffic is the candidate batch only; distances are
    computed against a broadcast candidate matrix in one mapInPandas
    pass (the assign_clusters kernel reused with a growing C).
    """
    l = oversample if oversample is not None else 2 * k

    first_rows = (
        emb.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(1)
        .collect()  # bounded: single seed row
    )
    if not first_rows:
        raise ValueError("kmeans_parallel_init: empty input DataFrame")
    centers = np.asarray([list(first_rows[0][vec_col])], dtype=np.float64)

    for rnd in range(rounds):
        assigned = assign_clusters(emb, centers, id_col, vec_col)
        phi_row = assigned.agg(F.sum("sq_dist").alias("phi")).first()
        if phi_row["phi"] is None:
            raise ValueError(
                "kmeans_parallel_init: empty input (no assignable rows)"
            )
        phi = float(phi_row["phi"]) or 1e-300
        # Deterministic Bernoulli: uniform(id, round) < l*d²/φ.
        u = (
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed + rnd)), F.lit(1_000_000_007))
            / F.lit(1_000_000_007.0)
        )
        picked_ids = (
            assigned.filter(u < F.col("sq_dist") * F.lit(float(l)) / F.lit(phi))
            .select(id_col)
        )
        new_rows = (
            emb.join(picked_ids, id_col)
            .select(vec_col)
            .collect()  # model-sized: <= l new centroid candidates per round
        )
        if new_rows:
            centers = np.unique(
                np.vstack(
                    [centers]
                    + [np.asarray(list(r[vec_col]), dtype=np.float64) for r in new_rows]
                ),
                axis=0,
            )

    # Weight candidates by how many points they currently own.
    weights_df = (
        assign_clusters(emb, centers, id_col, vec_col)
        .groupBy("cluster")
        .agg(F.count("*").alias("w"))
        .collect()  # model-sized: one weight row per candidate centroid
    )
    w = np.zeros(len(centers))
    for r in weights_df:
        w[int(r["cluster"])] = float(r["w"])

    # Greedy weighted k-means++ reduction to k centroids (driver-side,
    # candidate set is O(l·rounds) — tiny).
    chosen = [int(np.argmax(w))]
    d2 = ((centers - centers[chosen[0]]) ** 2).sum(axis=1)
    while len(chosen) < min(k, len(centers)):
        nxt = int(np.argmax(w * d2))
        if d2[nxt] == 0.0:
            break
        chosen.append(nxt)
        d2 = np.minimum(d2, ((centers - centers[nxt]) ** 2).sum(axis=1))
    out = centers[chosen]
    if len(out) < k:  # degenerate corpus: pad by repeating (documented)
        out = np.vstack([out] * ((k // len(out)) + 1))[:k]
    return out


def _centroid_update_partials(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str,
) -> DataFrame:
    """Per-Arrow-batch combiner for the Lloyd centroid update (r12,
    guide §2.3 "aggregate before you shuffle"): the assignment kernel
    itself reduces each batch to k rows of ``(cluster, cnt, sumvec,
    inertia)`` — the sufficient statistics of the mean — so the
    per-iteration shuffle carries batches×k×d values instead of the N×d
    rows the old ``assignment ⋈ emb → posexplode → avg`` pipeline
    exploded and exchanged. The assignment math is byte-identical to
    :func:`assign_clusters` (same ``-2·V·Cᵀ + ‖c‖²`` form, same argmin
    tie-break); only the reduction moved into the kernel.
    """
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(centroids.astype(np.float64))
    schema = T.StructType(
        [
            T.StructField("cluster", T.LongType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("sumvec", T.ArrayType(T.DoubleType())),
            T.StructField("inertia", T.DoubleType()),
        ]
    )

    def kernel(batches):
        C = bc.value  # (k, dim)
        k = C.shape[0]
        c_sq = (C * C).sum(axis=1)
        for pdf in batches:
            if pdf.empty:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            d = -2.0 * (V @ C.T) + c_sq[None, :]
            best = d.argmin(axis=1)
            v_sq = (V * V).sum(axis=1)
            sq = v_sq + d[np.arange(len(best)), best]
            sums = np.zeros((k, V.shape[1]))
            np.add.at(sums, best, V)  # in-index-order scatter: deterministic
            cnt = np.bincount(best, minlength=k)
            loss = np.bincount(best, weights=sq, minlength=k)
            yield pd.DataFrame(
                {
                    "cluster": np.arange(k, dtype=np.int64),
                    "cnt": cnt.astype(np.int64),
                    "sumvec": list(sums),
                    "inertia": loss,
                }
            )

    return emb.select(vec_col).mapInPandas(kernel, schema=schema)


def kmeans(
    emb: DataFrame,
    k: int,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: np.ndarray | None = None,
    inertia_out: list | None = None,
) -> tuple[DataFrame, np.ndarray]:
    """Lloyd's k-means; returns (final assignment DF, final centroids).

    Empty clusters keep their previous centroid. The per-iteration driver
    traffic is exactly k×dim doubles — independent of data size. Pass
    ``inertia_out=[]`` to also collect the per-iteration inertia
    (Σ sq_dist under the centroids each assignment used) — it rides the
    same combiner partials, so no extra job runs.

    r12 (guide §2.3): each iteration is ONE pass — the assignment kernel
    emits per-batch (cluster, cnt, Σvec, Σsq_dist) partials and the only
    shuffle is the batches×k×d posexplode of those partials (the logreg
    position-group reduce), replacing the old assignment⋈emb join plus
    N×d posexplode exchange. Float-summation order over a cluster's
    members changes (NumPy per-batch scatter-add, then Catalyst sum of
    batch partials, instead of Catalyst partial-agg over raw elements);
    assignment identity across sf0.001–0.1 is pinned by
    tests/test_engine_ops.py::test_kmeans_combiner_matches_join_update.
    """
    if init is None:
        init = label_seeded_centroids(emb, vec_col=vec_col)
    centroids = init.astype(np.float64).copy()
    dim = centroids.shape[1]
    for _ in range(iterations):
        partials = _centroid_update_partials(emb, centroids, vec_col)
        # Elementwise reduce via posexplode + groupBy(position) — the
        # O(1)-plan-size logreg pattern. Every batch partial contributes
        # one row per (cluster, pos), so each group's sum(cnt) and
        # sum(inertia) are that CLUSTER's totals — read them off pos 0.
        rows = (
            partials.select(
                "cluster",
                "cnt",
                "inertia",
                F.size("sumvec").alias("n"),
                F.posexplode("sumvec"),
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum("cnt").alias("cnt"),
                F.sum("col").alias("s"),
                F.sum("inertia").alias("inertia"),
                F.min("n").alias("n_min"),
                F.max("n").alias("n_max"),
            )
            # model-sized: exactly k × dim rows by construction
            .collect()
        )
        # Fail loudly on a malformed partial (the logreg-guard analog):
        # every batch emits all k clusters × dim positions, so the reduce
        # must return exactly k×dim groups whenever any batch ran, and
        # every partial feeding a group must carry exactly dim elements
        # — one ragged batch among full ones leaves the group count
        # intact and would otherwise skew those positions' sums.
        if rows and (
            len(rows) != centroids.shape[0] * dim
            or any(r["n_min"] != dim or r["n_max"] != dim for r in rows)
        ):
            raise ValueError(
                f"kmeans: centroid reduce returned {len(rows)} "
                f"(cluster, pos) groups, expected k*dim="
                f"{centroids.shape[0] * dim} of {dim}-element partials — "
                "a batch partial emitted a malformed sumvec array"
            )
        if inertia_out is not None:
            inertia_out.append(
                float(sum(r["inertia"] for r in rows if r["pos"] == 0))
            )
        new_c = centroids.copy()
        for r in rows:
            if r["cnt"] > 0:  # empty clusters keep their previous centroid
                new_c[int(r["cluster"]), int(r["pos"])] = r["s"] / r["cnt"]
        centroids = new_c
    return assign_clusters(emb, centroids, id_col, vec_col), centroids
