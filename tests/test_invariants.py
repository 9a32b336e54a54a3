"""Internal invariants (SURVEY §5.2 item 2): operators whose contract
oracles only check a summary are pinned by mathematical properties too.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

from mapreduce_hw05_spark.operators.clustering import kmeans
from mapreduce_hw05_spark.operators.graph import (
    copurchase_edges,
    pagerank,
    undirected,
)
from mapreduce_hw05_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"
#: medium fixture for tests that need more rows than the smoke tier.
SF_DIR_MED = "/root/testdata/sf0.01"


def test_approx_distinct_within_5pct_of_exact(spark):
    ev = load_table(spark, SF_DIR_MED, "events")
    both = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id").alias("approx"),
        )
        .collect()
    )
    for row in both:
        assert abs(row["approx"] - row["exact"]) <= 0.05 * row["exact"], row


def test_pagerank_mass_conservation(spark):
    """Σ rank = 1 after every damped iteration (dangling mass included)."""
    li = load_table(spark, SF_DIR, "lineitem")
    ranks = pagerank(undirected(copurchase_edges(li)), iterations=3)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9, total


def test_pagerank_dangling_mass_redistributed(spark):
    """On a directed graph WITH dangling nodes, Σ rank must still be 1:
    the sink's mass is re-injected uniformly each iteration (the Counter
    analog, carried by an Observation on the checkpoint job). Chain
    1→2→3 plus 4→2: nodes 3 and 4-reachable sinks leak mass without
    redistribution, so this asserts the dangling path specifically."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 2)], ["src", "dst"]
    )
    ranks = pagerank(edges, iterations=4)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9, total
    assert ranks.count() == 4
    # node 2 has two in-edges and must outrank its sources
    by_node = {r["node"]: r["rank"] for r in ranks.collect()}
    assert by_node[2] > by_node[1]
    assert by_node[2] > by_node[4]


#: directed graph with a dangling node (5 has no out-edges)
_PPR_EDGES = [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (2, 5)]


def _python_ppr(edges, seeds, iterations, d=0.85):
    """Power iteration of rank = (1−d)·p + d·(in + D·p), with p uniform
    over ``seeds`` and D the mass on nodes without out-edges."""
    nodes = {v for e in edges for v in e}
    out = {v: [t for s, t in edges if s == v] for v in nodes}
    p = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    r = dict(p)
    for _ in range(iterations):
        dangling = sum(r[v] for v in nodes if not out[v])
        in_mass = {v: 0.0 for v in nodes}
        for s in nodes:
            for t in out[s]:
                in_mass[t] += r[s] / len(out[s])
        r = {
            v: (1 - d) * p[v] + d * (in_mass[v] + dangling * p[v])
            for v in nodes
        }
    return r


@pytest.mark.parametrize("seeds", [(1,), (2, 5)])
def test_seeded_pagerank_matches_python_power_iteration(spark, seeds):
    """Seeded (personalized) PageRank on a graph with a dangling node —
    the dangling mass returns to the seeds, not to every node. (2, 5)
    includes the dangling node itself, so the initial dangling mass is
    non-zero."""
    edges = spark.createDataFrame(_PPR_EDGES, "src long, dst long")
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=6, seeds=seed_df).collect()
    }
    want = _python_ppr(_PPR_EDGES, set(seeds), 6)
    assert got.keys() == want.keys()
    for v in want:
        assert got[v] == pytest.approx(want[v], rel=0, abs=1e-12), v
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


def test_seeded_pagerank_all_seeds_equals_uniform(spark):
    """Every node a seed makes the restart vector uniform 1/n."""
    edges = spark.createDataFrame(_PPR_EDGES, "src long, dst long")
    all_nodes = spark.createDataFrame(
        [(v,) for v in range(1, 6)], "node long"
    )
    seeded = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=6, seeds=all_nodes).collect()
    }
    uniform = {
        r["node"]: r["rank"] for r in pagerank(edges, iterations=6).collect()
    }
    assert seeded.keys() == uniform.keys()
    for v in uniform:
        assert abs(seeded[v] - uniform[v]) <= 1e-12, v


def test_seeded_pagerank_empty_seed_set_raises(spark):
    edges = spark.createDataFrame(_PPR_EDGES, "src long, dst long")
    with pytest.raises(ValueError, match="no seed node"):
        pagerank(edges, seeds=spark.createDataFrame([], "node long"))


def test_kmeans_inertia_monotone_decreasing(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    inertias = []
    for iters in (1, 3, 5):
        assignment, _ = kmeans(emb, k=10, iterations=iters)
        inertias.append(assignment.agg(F.sum("sq_dist")).first()[0])
    assert inertias[0] >= inertias[1] >= inertias[2], inertias


def test_observe_metrics_accumulator_analog(spark):
    """df.observe — the engine's replacement for Hadoop Counters (g-5):
    side-channel metrics collected during a single pass, no extra job."""
    li = load_table(spark, SF_DIR, "lineitem")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum("l_quantity").alias("qty_seen"),
    )
    n = observed.filter(F.col("l_quantity") > 25).count()
    metrics = obs.get
    assert metrics["rows_seen"] == li.count()
    assert metrics["qty_seen"] == pytest.approx(
        li.agg(F.sum("l_quantity")).first()[0]
    )
    assert 0 < n < metrics["rows_seen"]


def test_pca_matches_single_machine_decomposition(spark):
    """Distributed Gram-partial PCA must reproduce numpy's direct
    covariance eigendecomposition, and projecting onto the components
    must reproduce the spectrum (score variance == eigenvalue)."""
    import numpy as np

    from mapreduce_hw05_spark.operators.pca import fit_pca, pca_project

    emb = load_table(spark, SF_DIR, "embeddings")
    model = fit_pca(emb, "embedding", k=5)

    x = np.stack([r["embedding"] for r in emb.select("embedding").collect()])
    x = x.astype(np.float64)
    direct = np.linalg.eigvalsh(np.cov(x, rowvar=False))[::-1][:5]
    assert np.allclose(model["eigenvalues"], direct, atol=1e-9)

    scores = np.stack(
        [r["pc"] for r in pca_project(emb, "embedding", model).select("pc").collect()]
    )
    assert np.allclose(scores.var(axis=0, ddof=1), model["eigenvalues"], atol=1e-9)
    # components are orthonormal
    c = model["components"]
    assert np.allclose(c @ c.T, np.eye(5), atol=1e-9)


def test_approx_quantile_close_to_exact(spark):
    """The contract's engine-side GK-vs-exact bound must hold, and the
    emitted exact percentiles must match a direct computation."""
    from mapreduce_hw05_spark.plans.agg_ext_queries import q_approx_quantile

    rows = q_approx_quantile(spark, SF_DIR).collect()
    assert rows
    assert all(r["approx_within_2pct"] for r in rows), rows
    emitted = {
        r["o_orderstatus"]: (r["p50_exact"], r["p90_exact"], r["p99_exact"])
        for r in rows
    }
    o = load_table(spark, SF_DIR, "orders")
    exact = {
        r["o_orderstatus"]: (r["e50"], r["e90"], r["e99"])
        for r in o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("e50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("e90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 2).alias("e99"),
        )
        .collect()
    }
    assert emitted == exact


def test_bpe_matches_reference_implementation(spark):
    """Distributed BPE must learn the exact merge list the single-machine
    reference learns from the same word counts (deterministic ties)."""
    from mapreduce_hw05_spark.operators.bpe import (
        learn_bpe,
        learn_bpe_local,
        word_counts,
    )

    docs = load_table(spark, SF_DIR, "documents")
    got = learn_bpe(docs, "text", n_merges=8)
    wc = {r["word"]: r["cnt"] for r in word_counts(docs, "text").collect()}
    want = learn_bpe_local(wc, n_merges=8)
    assert got == want, (got[:3], want[:3])


def test_hll_rollup_estimate_close_to_exact(spark):
    """Union-merged daily sketches must estimate within 2% of the exact
    per-type distinct user count at lgConfigK=14 (the contract's
    engine-side boolean), and the emitted exact counts must match a
    direct countDistinct."""
    from mapreduce_hw05_spark.plans.agg_ext_queries import q_hll_rollup
    from mapreduce_hw05_spark.sources import load_table
    import pyspark.sql.functions as F

    rows = q_hll_rollup(spark, SF_DIR).collect()
    assert rows
    assert all(r["sketch_within_2pct"] for r in rows), rows
    emitted = {r["event_type"]: r["n_users_exact"] for r in rows}
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert emitted == exact


def test_bpe_encode_matches_reference(spark):
    """Distributed BPE encode must reproduce the single-machine greedy
    encoder token-for-token over every distinct word."""
    from mapreduce_hw05_spark.operators.bpe import (
        encode_words,
        encode_words_local,
        learn_bpe,
        word_counts,
    )
    from mapreduce_hw05_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    wc_df = word_counts(docs, "text")
    word_cnt = {r["word"]: r["cnt"] for r in wc_df.collect()}
    merges = learn_bpe(docs, "text", n_merges=10)

    got = {
        r["word"]: list(r["tokens"])
        for r in encode_words(wc_df, merges).collect()
    }
    want = encode_words_local(word_cnt, merges)
    assert got == want


def test_logreg_matches_reference_and_learns(spark):
    """Distributed batch-gradient logistic regression must match the
    single-machine NumPy implementation of the same math to float
    tolerance, and the loss must be monotone non-increasing."""
    import numpy as np

    from mapreduce_hw05_spark.operators.logreg import (
        fit_logreg,
        fit_logreg_local,
    )
    from mapreduce_hw05_spark.sources import load_table
    import pyspark.sql.functions as F

    emb = load_table(spark, SF_DIR_MED, "embeddings").select(
        "vec_id", "embedding", (F.col("label") >= 5).cast("double").alias("y")
    ).persist()
    got = fit_logreg(emb, "embedding", "y", n_iters=10, lr=1.0)

    pdf = emb.orderBy("vec_id").toPandas()
    x = np.stack(pdf["embedding"].to_numpy())
    want = fit_logreg_local(x, pdf["y"].to_numpy(), n_iters=10, lr=1.0)
    emb.unpersist()

    assert np.allclose(got["weights"], want["weights"], atol=1e-8)
    assert abs(got["bias"] - want["bias"]) < 1e-8
    assert np.allclose(got["losses"], want["losses"], atol=1e-10)
    diffs = np.diff(got["losses"])
    assert (diffs <= 1e-12).all(), got["losses"]


def test_logreg_score_null_label_and_embedding_match_oracle(spark, tmp_path):
    """q_logreg_score on the sf0.001 embeddings plus one NULL-label row
    and one NULL-embedding row must equal its oracle SQL: the NULL label
    is class 0, both rows count in n_rows, and the NULL-embedding row is
    left out of the agreement check (paths_agree stays TRUE)."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce_hw05_spark.plans import ORACLES, QUERIES
    from tests.conftest import compare_frames

    base = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    top = max(base.column("vec_id").to_pylist())
    extra = pa.table(
        {
            "vec_id": [top + 1, top + 2],
            "embedding": [[0.5] * len(base.column("embedding")[0]), None],
            "label": [None, 7],
        },
        schema=base.schema,
    )
    pq.write_table(pa.concat_tables([base, extra]), tmp_path / "embeddings.parquet")

    got = QUERIES["q_logreg_score"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet')"
    )
    want = con.execute(ORACLES["q_logreg_score"]).df()
    con.close()
    assert not compare_frames(got, want)
    assert got["n_rows"].sum() == base.num_rows + 2


def test_quantize_error_bounded_by_step(spark):
    """Int8 scalar quantization invariant: every element's reconstruction
    error is ≤ step/2, so per-vector MSE ≤ step²/4 — checked against the
    actual per-label ranges, not a fixed constant."""
    from mapreduce_hw05_spark.plans.similarity_queries import (
        q_embedding_quantize,
    )

    rows = q_embedding_quantize(spark, SF_DIR_MED).collect()
    assert rows
    for r in rows:
        step = r["avg_range"] / 255.0
        worst_mse_ppm = (step * step / 4.0) * 1_000_000
        # avg_range is an average, so allow per-vector spread headroom
        assert r["mse_ppm"] <= worst_mse_ppm * 4, (r, worst_mse_ppm)
        assert r["mse_ppm"] >= 0


def test_streaks_telescope_to_active_days(spark):
    """Gaps-and-islands invariant: per user, island lengths sum to the
    distinct active-day count, and the longest streak can't exceed it."""
    import pyspark.sql.functions as F

    from mapreduce_hw05_spark.plans.window_queries import q_activity_streaks
    from mapreduce_hw05_spark.sources import load_table

    streaks = {
        r["user_id"]: r for r in q_activity_streaks(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    days = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id")
        .agg(F.countDistinct(F.to_date("ts")).alias("n"))
        .collect()
    }
    assert set(streaks) == set(days)
    for uid, r in streaks.items():
        assert r["active_days"] == days[uid], (uid, r, days[uid])
        assert r["longest_streak"] <= r["active_days"]
        assert r["n_streaks"] >= 1


def test_kll_sketch_merge_associative_and_rank_bounded(spark):
    """Partition partials merged in any grouping must equal the same
    sketch built by one sequential pass (deterministic compaction), and
    estimates must stay rank-bounded."""
    import numpy as np

    from mapreduce_hw05_spark.operators.quantile_sketch import KLLSketch

    rng = np.random.RandomState(7)
    data = rng.lognormal(3.0, 1.0, 20000)
    parts = np.array_split(data, 8)

    seq = KLLSketch(200)
    for p in parts:
        seq.add(p)

    left = KLLSketch(200)
    for p in parts[:4]:
        left.add(p)
    right = KLLSketch(200)
    for p in parts[4:]:
        right.add(p)
    merged = left.merge(right)

    assert merged.n == seq.n == len(data)
    qs = [0.1, 0.5, 0.9, 0.99]
    sorted_data = np.sort(data)
    for sk in (seq, merged):
        for q, est in zip(qs, sk.quantiles(qs)):
            true_rank = np.searchsorted(sorted_data, est) / len(data)
            assert abs(true_rank - q) <= 0.025, (q, est, true_rank)


def test_kll_sketch_serialization_roundtrip():
    import numpy as np

    from mapreduce_hw05_spark.operators.quantile_sketch import KLLSketch

    sk = KLLSketch(64)
    sk.add(np.arange(5000, dtype=float))
    back = KLLSketch.deserialize(sk.serialize())
    assert back.n == sk.n
    assert back.levels == sk.levels
    assert back.quantiles([0.25, 0.75]) == sk.quantiles([0.25, 0.75])


def test_theta_sketch_set_ops_error_bounded():
    """At 200k distinct ids and k=4096 (RSE ~1.6%) every set-op estimate
    must land within 5% of truth; below k the sketch must be EXACT."""
    import numpy as np

    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    a_ids = np.arange(0, 120_000, dtype=np.int64)
    b_ids = np.arange(80_000, 200_000, dtype=np.int64)  # overlap 40k

    a, b = ThetaSketch(4096), ThetaSketch(4096)
    for chunk in np.array_split(a_ids, 7):
        a.add(chunk)
    for chunk in np.array_split(b_ids, 5):
        b.add(chunk)

    cases = {
        a.estimate(): 120_000,
        b.estimate(): 120_000,
        a.union(b).estimate(): 200_000,
        a.intersect(b).estimate(): 40_000,
        a.difference(b).estimate(): 80_000,
    }
    for got, want in cases.items():
        assert abs(got - want) <= 0.05 * want, (got, want)

    small = ThetaSketch(4096)
    small.add(np.arange(1000, dtype=np.int64))
    small.add(np.arange(500, 1500, dtype=np.int64))  # dups + new
    assert small.estimate() == 1500  # below k -> exact

    rt = ThetaSketch.deserialize(a.serialize())
    assert rt.estimate() == a.estimate()
    assert rt.theta == a.theta


def test_kmeans_parallel_init_deterministic_and_competitive(spark):
    """k-means|| init must be deterministic (hash Bernoulli + greedy
    reduction), produce exactly k centroids, and give Lloyd a start at
    least as good as label-mean seeding (within 5%) after 5 iterations."""
    import numpy as np

    from mapreduce_hw05_spark.operators.clustering import (
        kmeans,
        kmeans_parallel_init,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    c1 = kmeans_parallel_init(emb, k=10)
    c2 = kmeans_parallel_init(emb, k=10)
    assert c1.shape == (10, 64)
    assert np.array_equal(c1, c2)

    inert_pp: list[float] = []
    kmeans(emb, k=10, iterations=5, init=c1, inertia_out=inert_pp)
    inert_label: list[float] = []
    kmeans(emb, k=10, iterations=5, inertia_out=inert_label)
    assert inert_pp[-1] <= inert_label[-1] * 1.05, (
        inert_pp[-1],
        inert_label[-1],
    )


def test_pagerank_tolerance_mode_converges_early(spark):
    """Power-iteration mode: with tol set, the loop must stop before the
    iteration cap and land within tol of the long fixed-iteration run."""
    li = load_table(spark, SF_DIR, "lineitem")
    edges = undirected(copurchase_edges(li))

    iters: list[int] = []
    approx = pagerank(edges, iterations=50, tol=1e-6, iterations_out=iters)
    assert iters[0] < 50, iters

    exact = pagerank(edges, iterations=50)
    merged = approx.withColumnsRenamed({"rank": "ra"}).join(
        exact.withColumnsRenamed({"rank": "re"}), "node"
    )
    l1 = merged.agg(
        F.sum(F.abs(F.col("ra") - F.col("re"))).alias("d")
    ).first()["d"]
    # geometric tail: stopping when the per-step delta < tol leaves a
    # remaining distance of at most tol·d/(1-d)
    assert l1 <= 1e-6 * 0.85 / 0.15 + 1e-12, l1
    total = approx.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9
