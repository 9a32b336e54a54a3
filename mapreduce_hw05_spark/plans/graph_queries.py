"""Iterative / graph / ML contract queries (SURVEY §2.8 g-1/g-2/g-3/g-5).

All run over the co-purchase part graph (distinct part pairs sharing an
l_orderkey) or the embeddings table. Each has a DuckDB oracle; internal
invariants (Σrank ≈ 1, inertia monotone ↓) are also asserted in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_hw05_spark.operators.clustering import kmeans
from mapreduce_hw05_spark.operators.graph import (
    copurchase_edges,
    pagerank,
    triangle_count,
    undirected,
)
from mapreduce_hw05_spark.plans.common import lng
from mapreduce_hw05_spark.plans.registry import contract
from mapreduce_hw05_spark.sources import dim_broadcast, load_table

# --------------------------------------------------------------------------
# g-2 — triangle count (SQL-checkable 3-way self-join)
# --------------------------------------------------------------------------


@contract(
    "q_triangle_count",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    )
    SELECT count(*) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e1.dst = e2.src
    JOIN pairs e3 ON e1.src = e3.src AND e2.dst = e3.dst
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the co-purchase part graph (a<b<c canonical)."""
    li = load_table(spark, sf_dir, "lineitem")
    return triangle_count(copurchase_edges(li))


# --------------------------------------------------------------------------
# g-1 / g-5 — PageRank (SQL-oracled: the 10-iteration recurrence unrolled
# as a chained-CTE DuckDB query — a genuine cross-engine differential)
# --------------------------------------------------------------------------


def _pagerank_oracle_sql(iterations: int = 10, damping: float = 0.85) -> str:
    """Unroll the PageRank recurrence as one CTE per iteration.

    The co-purchase graph is symmetric (every node has out-degree), so the
    dangling-mass term is identically zero and the recurrence is purely
    r_{k+1}(v) = (1-d)/N + d * Σ_{(u,v)∈E} r_k(u)/outdeg(u) — each step one
    aggregate join, mechanical to generate. This turns the former
    rows-only contract into a real differential check: two independent
    implementations of the same fixpoint must agree to 9 decimals.
    """
    parts = [
        """
    WITH pairs AS (
        SELECT DISTINCT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
    ), edges AS (
        SELECT src, dst FROM pairs
        UNION ALL SELECT dst AS src, src AS dst FROM pairs
    ), deg AS (
        SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src
    ), nn AS (
        SELECT count(*) AS n FROM deg
    ), r0 AS (
        SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM deg
    )"""
    ]
    for i in range(iterations):
        parts.append(
            f""", r{i + 1} AS (
        SELECT d.node,
               (1 - {damping}) / (SELECT n FROM nn)
               + {damping} * coalesce(c.in_mass, 0) AS rank
        FROM deg d LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / g.outdeg) AS in_mass
            FROM r{i} r
            JOIN edges e ON e.src = r.node
            JOIN deg g ON g.node = r.node
            GROUP BY e.dst
        ) c ON c.node = d.node
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(node AS BIGINT) AS node, round(rank, 9) AS rank
    FROM r{iterations}
    ORDER BY round(rank, 9) DESC, node
    LIMIT 20
    """
    )
    return "".join(parts)


@contract("q_pagerank", oracle=_pagerank_oracle_sql())
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank parts in the undirected co-purchase graph.

    10 fixed iterations, d=0.85, dangling mass redistributed (the graph
    is symmetric so none exists — the operator handles it regardless).
    Rank is rounded to 9 decimals so Spark's own run-to-run partial-agg
    order cannot flip the emitted values; node id breaks rank ties. The
    oracle unrolls the identical recurrence in SQL (one CTE per
    iteration) — different execution engines, same fixpoint.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ranks = pagerank(undirected(copurchase_edges(li)), iterations=10, damping=0.85)
    return (
        ranks.select(lng(F.col("node")).alias("node"), F.round("rank", 9).alias("rank"))
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


# --------------------------------------------------------------------------
# g-3 — k-means (k=10, 5 iterations, label-seeded)
# --------------------------------------------------------------------------


@contract(
    "q_kmeans",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS n_clusters,
           count(*) AS n_vecs,
           TRUE AS inertia_monotone
    FROM embeddings
    """,
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means summary after 5 Lloyd iterations (k=10, label-mean
    seeding), shaped so a SQL oracle can hash it: the cluster-size detail
    itself has no SQL analog, so the contract emits the SQL-knowable
    facts (every vector assigned, all 10 clusters non-empty) plus the
    defining Lloyd invariant — per-iteration inertia monotonically
    non-increasing — computed engine-side as a boolean. A broken
    assignment kernel or centroid update flips one of the three columns.
    Per-cluster sizes remain covered by the local invariant tests.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    inertias: list[float] = []
    assignment, _ = kmeans(emb, k=10, iterations=5, inertia_out=inertias)
    monotone = all(
        b <= a * (1 + 1e-9) for a, b in zip(inertias, inertias[1:])
    )
    return assignment.agg(
        F.countDistinct("cluster").alias("n_clusters"),
        F.count("*").alias("n_vecs"),
        F.lit(monotone).alias("inertia_monotone"),
    )


# --------------------------------------------------------------------------
# g-4 — connected components (large-star/small-star; SQL-checkable via
# DuckDB recursive-CTE transitive closure on the thresholded graph)
# --------------------------------------------------------------------------


@contract(
    "q_connected_components",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), reach AS (
        SELECT node, node AS comp FROM nodes
        UNION
        SELECT e.dst AS node, r.comp FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT comp, count(*) AS n_nodes
    FROM (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
    GROUP BY comp
    """,
)
def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component sizes of the support-≥2 co-purchase graph.

    The engine runs alternating large-star/small-star rounds (Kiveris et
    al.) — O(log n) rounds regardless of diameter, the 100-TB-safe CC
    algorithm; the oracle materializes the transitive closure recursively
    — different algorithms, identical answer, which is the point of the
    check.
    """
    from mapreduce_hw05_spark.operators.graph import (
        connected_components_star,
        cooccurrence_edges_min_support,
    )

    li = load_table(spark, sf_dir, "lineitem")
    comps = connected_components_star(cooccurrence_edges_min_support(li, 2))
    return comps.groupBy("comp").agg(F.count("*").alias("n_nodes"))


# --------------------------------------------------------------------------
# g-6 (ext) — k-hop reachability (multi-source BFS with min-hop labels)
# --------------------------------------------------------------------------


@contract(
    "q_khop_reach",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ), h0 AS (
        SELECT DISTINCT src AS node FROM edges WHERE src % 97 = 0
    ), h1 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN h0 ON e.src = h0.node
        WHERE e.dst NOT IN (SELECT node FROM h0)
    ), h2 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN h1 ON e.src = h1.node
        WHERE e.dst NOT IN (SELECT node FROM h0 UNION ALL SELECT node FROM h1)
    ), h3 AS (
        SELECT DISTINCT e.dst AS node FROM edges e JOIN h2 ON e.src = h2.node
        WHERE e.dst NOT IN (SELECT node FROM h0 UNION ALL
                            SELECT node FROM h1 UNION ALL
                            SELECT node FROM h2)
    ), labeled AS (
        SELECT 0 AS hop, node FROM h0 UNION ALL
        SELECT 1, node FROM h1 UNION ALL
        SELECT 2, node FROM h2 UNION ALL
        SELECT 3, node FROM h3
    )
    SELECT CAST(hop AS BIGINT) AS hop,
           count(*) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM labeled GROUP BY hop
    """,
)
def q_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes reachable within 3 hops of the seed set (partkey % 97 = 0)
    in the support-≥2 co-purchase graph, labeled with their minimum hop.

    The engine runs the iterative frontier BFS (operators.graph.bfs_hops);
    the oracle unrolls the same three expansions as chained set-difference
    CTEs — different algorithms, identical min-hop labeling.
    """
    from mapreduce_hw05_spark.operators.graph import (
        bfs_hops,
        cooccurrence_edges_min_support,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = undirected(cooccurrence_edges_min_support(li, 2))
    seeds = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") % 97 == 0)
        .distinct()
    )
    reach = bfs_hops(edges, seeds, max_hops=3)
    return reach.groupBy(lng(F.col("hop")).alias("hop")).agg(
        F.count("*").alias("n_nodes"),
        lng(F.sum("node")).alias("node_checksum"),
    )


@contract(
    "q_degree_distribution",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
    ), degrees AS (
        SELECT node, count(*) AS degree
        FROM (SELECT src AS node FROM pairs
              UNION ALL SELECT dst AS node FROM pairs)
        GROUP BY node
    )
    SELECT degree, count(*) AS n_nodes
    FROM degrees
    GROUP BY degree
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the co-purchase part graph — the first
    diagnostic any graph pipeline computes (it decides skew strategy:
    a heavy-tailed distribution is what makes unsalted vertex joins
    fall over at scale).

    Canonical edges are counted from both endpoints via a cheap
    union-all (no symmetrized edge materialization), then two partial-
    agg-friendly groupBys: per-node degree, then the tiny histogram.
    """
    li = load_table(spark, sf_dir, "lineitem")
    edges = copurchase_edges(li)
    endpoints = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node"))
    )
    degrees = endpoints.groupBy("node").agg(F.count("*").alias("degree"))
    return degrees.groupBy("degree").agg(F.count("*").alias("n_nodes"))


# --------------------------------------------------------------------------
# g-7 (ext) — label propagation communities (synchronous, deterministic)
# --------------------------------------------------------------------------


def _lpa_oracle_sql(rounds: int = 4) -> str:
    """Unroll synchronous LPA as one CTE per round.

    Per round: count neighbor labels per node, keep the max-frequency
    label(s), take the minimum — exactly the engine's deterministic
    tie-break, expressed as window-filter + min instead of max(struct).
    """
    parts = [
        """
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ), l0 AS (
        SELECT DISTINCT src AS node, src AS label FROM edges
    )"""
    ]
    for i in range(rounds):
        parts.append(
            f""", l{i + 1} AS (
        SELECT dst AS node, min(label) AS label FROM (
            SELECT e.dst, l.label, count(*) AS c,
                   max(count(*)) OVER (PARTITION BY e.dst) AS mc
            FROM edges e JOIN l{i} l ON e.src = l.node
            GROUP BY e.dst, l.label
        ) WHERE c = mc GROUP BY dst
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(label AS BIGINT) AS community,
           count(*) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM l{rounds} GROUP BY label
    """
    )
    return "".join(parts)


@contract("q_label_propagation", oracle=_lpa_oracle_sql())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communities after 4 synchronous LPA rounds on the support-≥2
    co-purchase graph (most-frequent neighbor label, min-label ties).

    Synchronous + min-tie-break makes LPA — normally a randomized
    heuristic — a deterministic cross-engine surface. The engine argmaxes
    with a two-level aggregate (max over (count, -label) structs, partial
    aggregation map-side); the oracle unrolls the identical recurrence as
    window-filtered CTEs. Different argmax mechanics, same fixpoint
    prefix.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
        label_propagation,
    )

    li = load_table(spark, sf_dir, "lineitem")
    labels = label_propagation(
        undirected(cooccurrence_edges_min_support(li, 2)), rounds=4
    )
    return labels.groupBy(lng(F.col("label")).alias("community")).agg(
        F.count("*").alias("n_nodes"),
        lng(F.sum("node")).alias("node_checksum"),
    )


# --------------------------------------------------------------------------
# g-8 (ext) — weighted shortest paths (Bellman–Ford relaxation rounds)
# --------------------------------------------------------------------------


def _sssp_oracle_sql(rounds: int = 6) -> str:
    """Unroll Bellman–Ford as one min-merge CTE per relaxation round.

    Integer travel costs (11 − min(support, 10): strong co-purchase ties
    are cheap) keep every distance exact on both engines.
    """
    parts = [
        """
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst, count(*) AS ns
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst, 11 - least(ns, 10) AS w FROM pairs
        UNION ALL
        SELECT dst, src, 11 - least(ns, 10) FROM pairs
    ), d0 AS (
        SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
        FROM edges WHERE src % 97 = 0
    )"""
    ]
    for i in range(rounds):
        parts.append(
            f""", d{i + 1} AS (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d{i}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.w AS dist
            FROM d{i} d JOIN edges e ON e.src = d.node
        ) GROUP BY node
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(dist AS BIGINT) AS dist,
           count(*) AS n_nodes,
           CAST(sum(node) AS BIGINT) AS node_checksum
    FROM d{rounds} GROUP BY dist
    """
    )
    return "".join(parts)


@contract("q_sssp_cheapest", oracle=_sssp_oracle_sql())
def q_sssp_cheapest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest-path distances from the partkey%97 seed set after 6
    Bellman–Ford rounds over integer-weighted co-purchase edges, grouped
    into a (dist → node count, checksum) profile.

    Complements q_khop_reach (hop-counting frontier BFS that never
    revisits): relaxation CAN improve an already-reached node through a
    cheaper longer path, which the fixture exercises (weights 1–9 vs hop
    count). Fixed rounds ⇒ exact for all ≤6-edge shortest paths on both
    engines.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_support,
        sssp,
    )

    li = load_table(spark, sf_dir, "lineitem")
    ew = cooccurrence_edges_support(li, 2).withColumn(
        "w", F.lit(11) - F.least(F.col("n_shared"), F.lit(10))
    )
    sym = ew.select("src", "dst", "w").union(
        ew.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    seeds = (
        sym.select(F.col("src").alias("node"))
        .filter(F.col("node") % 97 == 0)
        .distinct()
    )
    dist = sssp(sym, seeds, rounds=6)
    return dist.groupBy(lng(F.col("dist")).alias("dist")).agg(
        F.count("*").alias("n_nodes"),
        lng(F.sum("node")).alias("node_checksum"),
    )


# --------------------------------------------------------------------------
# g-9 (ext) — item-item cosine similarity (co-purchase recommendation)
# --------------------------------------------------------------------------


@contract(
    "q_item_item_cosine",
    oracle="""
    WITH po AS (
        SELECT DISTINCT l_partkey AS part, l_orderkey AS ord FROM lineitem
    ), deg AS (
        SELECT part, count(*) AS d FROM po GROUP BY part
    ), co AS (
        SELECT a.part AS src, b.part AS dst, count(*) AS co
        FROM po a JOIN po b ON a.ord = b.ord AND a.part < b.part
        GROUP BY a.part, b.part
        HAVING count(*) >= 2
    )
    SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
           CAST(co AS BIGINT) AS co,
           co / sqrt(CAST(da.d AS DOUBLE) * db.d) AS cosine
    FROM co
    JOIN deg da ON da.part = src
    JOIN deg db ON db.part = dst
    ORDER BY cosine DESC, src, dst
    LIMIT 20
    """,
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar part pairs by co-purchase cosine
    co(i,j)/√(deg i · deg j) over distinct (part, order) incidence —
    the classic item-item collaborative-filtering batch job.

    The co-counts and degrees are exact integers off one keyed self-join
    (pair blowup bounded per order, never all-pairs) plus a part-keyed
    aggregate; the cosine is a single-op double chain on those integers,
    so it is emitted UNROUNDED and the (cosine, src, dst) ordering is
    engine-stable. Degrees join broadcast (part-dimension-sized).
    """
    li = load_table(spark, sf_dir, "lineitem")
    po = li.select(
        F.col("l_partkey").alias("part"), F.col("l_orderkey").alias("ord")
    ).distinct()
    deg = po.groupBy("part").agg(F.count("*").alias("d"))
    a = po.select(F.col("part").alias("src"), "ord")
    b = po.select(F.col("part").alias("dst"), "ord")
    co = (
        a.join(b, "ord")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= 2)
    )
    # one degree row per part key -> bounded by the part table; the
    # file-stat gate drops the hint past MAX_BROADCAST_DIM_BYTES
    da = dim_broadcast(
        deg.select(F.col("part"), F.col("d").alias("da")), sf_dir, "part"
    )
    db = dim_broadcast(
        deg.select(F.col("part"), F.col("d").alias("db")), sf_dir, "part"
    )
    return (
        co.join(da, co.src == da.part)
        .drop("part")
        .join(db, co.dst == db.part)
        .drop("part")
        .select(
            lng(F.col("src")).alias("src"),
            lng(F.col("dst")).alias("dst"),
            lng(F.col("co")).alias("co"),
            (
                F.col("co")
                / F.sqrt(F.col("da").cast("double") * F.col("db"))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "src", "dst")
        .limit(20)
    )


# --------------------------------------------------------------------------
# g-9 (ext) — common-neighbor link prediction (who should be connected?)
# --------------------------------------------------------------------------


@contract(
    "q_link_prediction",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ), deg AS (
        SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
    ), cand AS (
        SELECT a.dst AS a, b.dst AS b, count(*) AS cn
        FROM edges a JOIN edges b ON a.src = b.src AND a.dst < b.dst
        GROUP BY 1, 2
    ), novel AS (
        SELECT c.a, c.b, CAST(c.cn AS BIGINT) AS cn
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM pairs p WHERE p.src = c.a AND p.dst = c.b
        )
    )
    SELECT n.a AS src, n.b AS dst, n.cn,
           CAST(n.cn AS DOUBLE) / CAST(da.deg + db.deg - n.cn AS DOUBLE)
               AS jaccard
    FROM novel n
    JOIN deg da ON n.a = da.node
    JOIN deg db ON n.b = db.node
    ORDER BY n.cn DESC, n.a, n.b
    LIMIT 20
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links in the support-≥2 co-purchase graph:
    non-adjacent part pairs ranked by shared-neighbor count, with the
    neighborhood-Jaccard score — the classic recommender/link-prediction
    batch job over the same graph as the CC and k-hop contracts.

    The wedge self-join is the triangle-count path-2 shape (per-middle
    deg² fan-out on the thresholded graph, never all-pairs); the Jaccard
    is a single exact-integer division, so no rounding is needed.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
        link_prediction_common_neighbors,
    )

    li = load_table(spark, sf_dir, "lineitem")
    scores = link_prediction_common_neighbors(
        cooccurrence_edges_min_support(li, 2)
    )
    return scores.orderBy(F.col("cn").desc(), "src", "dst").limit(20)


# --------------------------------------------------------------------------
# g-11 (ext) — one exact ALS half-step (ridge-regularized user factors)
# --------------------------------------------------------------------------


@contract(
    "q_als_user_step",
    oracle="""
    WITH ratings AS (
        SELECT o.o_custkey AS user_id, l.l_partkey AS item,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS r
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ), feats AS (
        SELECT user_id, r,
               (item * 2654435761) % 16 / 16.0 - 0.5 AS q1,
               (item * 40503) % 16 / 16.0 - 0.5 AS q2
        FROM ratings
    ), moments AS (
        SELECT user_id, count(*) AS n_items,
               sum(q1 * q1) AS a11, sum(q1 * q2) AS a12,
               sum(q2 * q2) AS a22,
               sum(r * q1) AS b1, sum(r * q2) AS b2
        FROM feats GROUP BY user_id
    )
    SELECT user_id, n_items,
           ((a22 + 0.5) * b1 - a12 * b2)
               / ((a11 + 0.5) * (a22 + 0.5) - a12 * a12) AS p1,
           ((a11 + 0.5) * b2 - a12 * b1)
               / ((a11 + 0.5) * (a22 + 0.5) - a12 * a12) AS p2
    FROM moments
    """,
)
def q_als_user_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact ALS half-step: solve every user's ridge-regularized
    rank-2 least-squares factor p_u = (QᵀQ_u + λI)⁻¹ Qᵀr_u (λ=1/2)
    against fixed item factors — the alternating-least-squares core of
    a distributed recommender, reduced to a partial-aggregate pattern.

    Item factors here are hash-derived dyadics (k/16 − 1/2) computed
    map-side, so the step needs NO item-factor join at all; production
    ALS replaces the two hash lines with a broadcast (or block-join) of
    the previous item-factor table and everything else is unchanged —
    per-user state is the d(d+1)/2 + d = 5 moment doubles, one shuffle
    on user_id.

    Bit-exact with no rounding: every moment is a sum of dyadics with
    ≤ 8 fractional bits and bounded magnitude (exactly representable →
    order-free summation), the 2×2 Cramer solve is a fixed IEEE
    expression tree on identical inputs, and the division is single-op.
    Ratings are exact integer quantity sums.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ratings = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item"),
        )
        .agg(lng(F.sum(F.col("l_quantity").cast("long"))).alias("r"))
    )
    q1 = (F.col("item") * 2654435761) % 16 / 16.0 - 0.5
    q2 = (F.col("item") * 40503) % 16 / 16.0 - 0.5
    feats = ratings.select("user_id", "r", q1.alias("q1"), q2.alias("q2"))
    m = feats.groupBy("user_id").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("q1") * F.col("q1")).alias("a11"),
        F.sum(F.col("q1") * F.col("q2")).alias("a12"),
        F.sum(F.col("q2") * F.col("q2")).alias("a22"),
        F.sum(F.col("r") * F.col("q1")).alias("b1"),
        F.sum(F.col("r") * F.col("q2")).alias("b2"),
    )
    det = (F.col("a11") + 0.5) * (F.col("a22") + 0.5) - F.col("a12") * F.col(
        "a12"
    )
    p1 = ((F.col("a22") + 0.5) * F.col("b1") - F.col("a12") * F.col("b2")) / det
    p2 = ((F.col("a11") + 0.5) * F.col("b2") - F.col("a12") * F.col("b1")) / det
    return m.select(
        "user_id", "n_items", p1.alias("p1"), p2.alias("p2")
    )


# --------------------------------------------------------------------------
# g-12 (ext) — resource-allocation link scores (degree-weighted wedges)
# --------------------------------------------------------------------------


@contract(
    "q_resource_allocation",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ), deg AS (
        SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
    ), wedge AS (
        SELECT a.dst AS a, b.dst AS b,
               count(*) AS cn,
               CAST(sum(1048576 // d.deg) AS BIGINT) AS ra_q
        FROM edges a
        JOIN edges b ON a.src = b.src AND a.dst < b.dst
        JOIN deg d ON a.src = d.node
        GROUP BY 1, 2
    )
    SELECT w.a AS src, w.b AS dst, CAST(w.cn AS BIGINT) AS cn, w.ra_q
    FROM wedge w
    WHERE NOT EXISTS (
        SELECT 1 FROM pairs p WHERE p.src = w.a AND p.dst = w.b
    )
    ORDER BY w.ra_q DESC, w.a, w.b
    LIMIT 20
    """,
)
def q_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links by the resource-allocation index — each
    shared neighbor m contributes 1/deg(m), so hub-mediated wedges are
    discounted (the score that beats raw common-neighbor counts on
    hub-heavy graphs).

    Contributions are quantized to ⌊2²⁰/deg⌋ BEFORE summing: integer
    division is engine-identical and the per-pair sum becomes an
    order-free BIGINT — sidestepping the order-dependent float sum a
    naive Σ1/deg would be. Same wedge self-join + anti-join shape as
    q_link_prediction, with the middle node's degree joined in before
    the wedge aggregate.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
        undirected,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges_min_support(li, 2)
    und = undirected(edges)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    a = und.select(F.col("src").alias("m"), F.col("dst").alias("a"))
    b = und.select(F.col("src").alias("m"), F.col("dst").alias("b"))
    wedge = (
        a.join(b, "m")
        .filter(F.col("a") < F.col("b"))
        .join(deg.select(F.col("node").alias("m"), "deg"), "m")
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("cn"),
            lng(F.sum(F.expr("1048576 div deg"))).alias("ra_q"),
        )
        .join(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"],
            "left_anti",
        )
    )
    return (
        wedge.select(
            F.col("a").alias("src"), F.col("b").alias("dst"), "cn", "ra_q"
        )
        .orderBy(F.col("ra_q").desc(), "src", "dst")
        .limit(20)
    )


# --------------------------------------------------------------------------
# g-13 (ext) — personalized PageRank (random walk with restart to seeds)
# --------------------------------------------------------------------------


def _ppr_oracle_sql(iterations: int = 8, damping: float = 0.85) -> str:
    """Unroll the PPR recurrence, one CTE per iteration: teleport mass
    returns to the uniform seed distribution (the co-purchase graph is
    symmetric, so the dangling term is identically zero)."""
    parts = [
        """
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst FROM pairs
        UNION ALL SELECT dst AS src, src AS dst FROM pairs
    ), deg AS (
        SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src
    ), seeds AS (
        SELECT node FROM deg WHERE node % 97 = 0
    ), ns AS (
        SELECT count(*) AS s FROM seeds
    ), r0 AS (
        SELECT d.node,
               CASE WHEN sd.node IS NOT NULL
                    THEN 1.0 / (SELECT s FROM ns) ELSE 0.0 END AS rank
        FROM deg d LEFT JOIN seeds sd ON d.node = sd.node
    )"""
    ]
    for i in range(iterations):
        parts.append(
            f""", r{i + 1} AS (
        SELECT d.node,
               (1 - {damping})
                 * (CASE WHEN sd.node IS NOT NULL
                         THEN 1.0 / (SELECT s FROM ns) ELSE 0.0 END)
               + {damping} * coalesce(c.in_mass, 0) AS rank
        FROM deg d
        LEFT JOIN seeds sd ON d.node = sd.node
        LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / g.outdeg) AS in_mass
            FROM r{i} r
            JOIN edges e ON e.src = r.node
            JOIN deg g ON g.node = r.node
            GROUP BY e.dst
        ) c ON c.node = d.node
    )"""
        )
    parts.append(
        f"""
    SELECT CAST(node AS BIGINT) AS node, round(rank, 9) AS rank
    FROM r{iterations}
    WHERE round(rank, 9) > 0
    ORDER BY round(rank, 9) DESC, node
    LIMIT 20
    """
    )
    return "".join(parts)


@contract("q_ppr_seeds", oracle=_ppr_oracle_sql())
def q_ppr_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by personalized PageRank from the seed set
    (partkey % 97 = 0) in the support-≥2 co-purchase graph — random
    walk with restart, the relevance measure behind 'more like these'
    recommendations and local community detection.

    8 fixed iterations, d = 0.85, restart (and dangling) mass returned
    to the uniform seed distribution (``operators.graph.pagerank`` with
    ``seeds`` — the PageRank iteration body with the seed restart
    vector). Ranks round to 9 decimals before the cut, node id
    tiebreaks, zero-mass nodes drop on both sides; the oracle unrolls
    the identical recurrence as chained CTEs.
    """
    from mapreduce_hw05_spark.operators.graph import cooccurrence_edges_min_support

    li = load_table(spark, sf_dir, "lineitem")
    edges = undirected(cooccurrence_edges_min_support(li, 2))
    seeds = (
        edges.select(F.col("src").alias("node"))
        .filter(F.col("node") % 97 == 0)
        .distinct()
    )
    ranks = pagerank(edges, iterations=8, damping=0.85, seeds=seeds)
    r9 = F.round(F.col("rank"), 9)
    return (
        ranks.select(lng(F.col("node")).alias("node"), r9.alias("rank"))
        .filter(F.col("rank") > 0)
        .orderBy(F.col("rank").desc(), "node")
        .limit(20)
    )


# --------------------------------------------------------------------------
# g-14 (ext) — degree assortativity (do hubs connect to hubs?)
# --------------------------------------------------------------------------


@contract(
    "q_assortativity",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ), deg AS (
        SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
    ), xy AS (
        SELECT da.deg AS x, db.deg AS y
        FROM edges e
        JOIN deg da ON e.src = da.node
        JOIN deg db ON e.dst = db.node
    ), m AS (
        SELECT count(*) AS m,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM xy
    )
    SELECT m AS n_directed_edges,
           CAST(m * sxy - sx * sy AS DOUBLE)
           / (sqrt(CAST(m * sxx - sx * sx AS DOUBLE))
              * sqrt(CAST(m * syy - sy * sy AS DOUBLE))) AS assortativity
    FROM m
    """,
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the support-≥2 co-purchase graph: the
    Pearson correlation of endpoint degrees over directed edges —
    negative means hubs attach to leaves (the usual shape of co-purchase
    and web graphs), positive means hubs cluster.

    Bit-exact: all five moments are order-free BIGINT sums of exact
    degree products joined edge-side (two broadcast-friendly node-sized
    joins), and the correlation is one shared IEEE expression tree on
    those integers — no rounding. Moment products stay below 2⁶³ while
    edges · max_deg² < 2⁶³; widen to DECIMAL(38) past that.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = undirected(cooccurrence_edges_min_support(li, 2))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    xy = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("deg").alias("x")),
            "src",
        )
        .join(
            deg.select(F.col("node").alias("dst"), F.col("deg").alias("y")),
            "dst",
        )
        .select("x", "y")
    )
    m = xy.agg(
        F.count("*").alias("m"),
        lng(F.sum("x")).alias("sx"),
        lng(F.sum("y")).alias("sy"),
        lng(F.sum(F.col("x") * F.col("y"))).alias("sxy"),
        lng(F.sum(F.col("x") * F.col("x"))).alias("sxx"),
        lng(F.sum(F.col("y") * F.col("y"))).alias("syy"),
    )
    return m.select(
        F.col("m").alias("n_directed_edges"),
        (
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / (
                F.sqrt(
                    (
                        F.col("m") * F.col("sxx")
                        - F.col("sx") * F.col("sx")
                    ).cast("double")
                )
                * F.sqrt(
                    (
                        F.col("m") * F.col("syy")
                        - F.col("sy") * F.col("sy")
                    ).cast("double")
                )
            )
        ).alias("assortativity"),
    )


# --------------------------------------------------------------------------
# g-15 (ext) — modularity of a node partition
# --------------------------------------------------------------------------


@contract(
    "q_modularity",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), m AS (
        SELECT count(*) AS m FROM pairs
    ), und AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ), deg AS (
        SELECT src AS node, count(*) AS deg FROM und GROUP BY src
    ), dc AS (
        SELECT node % 8 AS comm, CAST(sum(deg) AS BIGINT) AS deg_c
        FROM deg GROUP BY 1
    ), ec AS (
        SELECT src % 8 AS comm, count(*) AS e_c
        FROM pairs WHERE src % 8 = dst % 8 GROUP BY 1
    ), terms AS (
        SELECT d.comm,
               CAST(floor(
                   (CAST(coalesce(e.e_c, 0) AS DOUBLE) / t.m
                    - (CAST(d.deg_c AS DOUBLE) / (2 * t.m))
                      * (CAST(d.deg_c AS DOUBLE) / (2 * t.m)))
                   * 1000000000000
               ) AS BIGINT) AS q
        FROM dc d LEFT JOIN ec e ON d.comm = e.comm CROSS JOIN m t
    )
    SELECT t.m AS m_edges,
           count(*) AS n_communities,
           CAST(sum(terms.q) AS BIGINT) AS modularity_q12,
           CAST(sum(terms.q) AS DOUBLE) / 1000000000000 AS modularity
    FROM terms CROSS JOIN m t
    GROUP BY t.m
    """,
)
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q = Σ_c [e_c/m − (deg_c/2m)²] of a node
    partition of the support-≥2 co-purchase graph (here the hash
    partition node %% 8 — plug any labeling, e.g. LPA's, into the same
    plan) — the community-quality score that decides whether a
    clustering is better than chance.

    Bit-exact: intra-community edge counts and community degree sums
    are exact integers, each community's term is one shared IEEE
    expression tree quantized to ⌊·10¹²⌋ BEFORE the (order-free BIGINT)
    sum, and the reported double is a single exact division. Two
    edge-sized aggregates + communities-sized terms.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
        undirected,
    )

    li = load_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges_min_support(li, 2).persist()
    m = edges.count()
    deg = undirected(edges).groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    dc = deg.groupBy((F.col("node") % 8).alias("comm")).agg(
        lng(F.sum("deg")).alias("deg_c")
    )
    ec = (
        edges.filter(F.col("src") % 8 == F.col("dst") % 8)
        .groupBy((F.col("src") % 8).alias("comm"))
        .agg(F.count("*").alias("e_c"))
    )
    e_over_m = F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / F.lit(m)
    d_over_2m = F.col("deg_c").cast("double") / F.lit(2 * m)
    term = F.floor(
        (e_over_m - d_over_2m * d_over_2m) * 1000000000000
    ).cast("long")
    # bounded: 8 communities (src % 8)
    terms = dc.join(F.broadcast(ec), "comm", "left").select(
        term.alias("q")
    )
    out = terms.agg(
        F.count("*").alias("n_communities"),
        lng(F.sum("q")).alias("modularity_q12"),
    ).select(
        F.lit(m).cast("long").alias("m_edges"),
        "n_communities",
        "modularity_q12",
        (F.col("modularity_q12").cast("double") / 1000000000000).alias(
            "modularity"
        ),
    )
    edges.unpersist()
    return out


# --------------------------------------------------------------------------
# g-16 (ext) — HITS hubs & authorities (quantized, max-normalized)
# --------------------------------------------------------------------------


def _hits_oracle_sql(rounds: int = 3) -> str:
    """Unroll quantized HITS as two half-step CTE pairs per round.

    Per half-step: exact BIGINT neighbor sum, then the identical
    int→double divide / multiply / floor re-normalization chain the
    engine runs (see :func:`mapreduce_hw05_spark.operators.graph.hits`).
    """
    parts = [
        """
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), h0 AS (
        SELECT DISTINCT src AS node, CAST(1000000000 AS BIGINT) AS hq
        FROM pairs
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", a{i}r AS (
        SELECT e.dst AS node, CAST(sum(h.hq) AS BIGINT) AS raw
        FROM pairs e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst
    ), a{i} AS (
        SELECT node,
               CAST(floor(CAST(raw AS DOUBLE)
                          / (SELECT CAST(max(raw) AS DOUBLE) FROM a{i}r)
                          * 1000000000.0) AS BIGINT) AS aq
        FROM a{i}r
    ), h{i}r AS (
        SELECT e.src AS node, CAST(sum(a.aq) AS BIGINT) AS raw
        FROM pairs e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
    ), h{i} AS (
        SELECT node,
               CAST(floor(CAST(raw AS DOUBLE)
                          / (SELECT CAST(max(raw) AS DOUBLE) FROM h{i}r)
                          * 1000000000.0) AS BIGINT) AS hq
        FROM h{i}r
    )"""
        )
    parts.append(
        f"""
    SELECT a.node AS node, a.aq AS auth_q, h.hq AS hub_q
    FROM a{rounds} a LEFT JOIN h{rounds} h ON a.node = h.node
    ORDER BY a.aq DESC, a.node
    LIMIT 15
    """
    )
    return "".join(parts)


@contract("q_hits_scores", oracle=_hits_oracle_sql())
def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 authorities (with their hub scores) after 3 quantized
    HITS rounds on the directed support-≥2 co-purchase graph — the
    link-analysis complement to PageRank: authorities are parts many
    well-connected "basket anchors" point at, hubs are the anchors.

    Determinism comes from the quantization discipline: BIGINT
    micro-unit scores, exact integer neighbor sums, and an L∞
    re-normalization that is the same fixed-shape IEEE chain on both
    engines (classic L2-normalized HITS is NOT a cross-engine surface —
    its float sums are order-dependent). The oracle unrolls the
    identical recurrence as CTE pairs; the top-15 cut is made
    deterministic by the (score DESC, node) tie-break. Dst-only nodes
    carry NULL hub scores on both engines.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
        hits,
    )

    li = load_table(spark, sf_dir, "lineitem")
    auth, hub = hits(cooccurrence_edges_min_support(li, 2), rounds=3)
    return (
        auth.join(hub, "node", "left")
        .select(lng(F.col("node")).alias("node"),
                lng(F.col("aq")).alias("auth_q"),
                lng(F.col("hq")).alias("hub_q"))
        .orderBy(F.col("auth_q").desc(), "node")
        .limit(15)
    )


# --------------------------------------------------------------------------
# g-ext — k-core peeling (3 rounds toward the 3-core)
# --------------------------------------------------------------------------


def _kcore_oracle_sql(k: int = 3, rounds: int = 3) -> str:
    """Unroll k-core peeling: per round a degree CTE, a survivor CTE,
    and the residual edge set restricted to survivors on both ends."""
    parts = [
        """
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), e0 AS (
        SELECT src, dst FROM pairs
        UNION ALL
        SELECT dst AS src, src AS dst FROM pairs
    )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", d{i} AS (
        SELECT src AS node, count(*) AS deg FROM e{i - 1} GROUP BY 1
    ), k{i} AS (
        SELECT node FROM d{i} WHERE deg >= {k}
    ), e{i} AS (
        SELECT e.src, e.dst FROM e{i - 1} e
        JOIN k{i} a ON e.src = a.node
        JOIN k{i} b ON e.dst = b.node
    ), s{i} AS (
        SELECT CAST({i} AS BIGINT) AS round,
               (SELECT CAST(count(*) AS BIGINT) FROM k{i}) AS n_nodes,
               (SELECT CAST(count(*) AS BIGINT) FROM e{i}
                WHERE src < dst) AS n_edges
    )"""
        )
    union = "\n    UNION ALL\n    ".join(
        f"SELECT * FROM s{i}" for i in range(1, rounds + 1)
    )
    return "\n".join(parts) + f"\n    {union}\n    ORDER BY round"


@contract("q_kcore_rounds", oracle=_kcore_oracle_sql())
def q_kcore_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three peeling rounds toward the 3-core of the support-≥2
    co-purchase graph: per round, drop nodes with residual degree < 3,
    keep edges between survivors, report survivor node/edge counts —
    the standard coreness-style density probe (peeling trajectories
    localize how fast the graph's periphery evaporates), complementing
    [[q_degree_distribution]] (static) and [[q_modularity]]
    (partition quality).

    Purely integer (counts only) — nothing to round. The oracle unrolls
    the identical recurrence as per-round CTEs. Scale: each round is one
    degree aggregate plus two survivor semi-joins on a monotonically
    shrinking edge set; node-sized state only.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
        kcore_rounds,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return kcore_rounds(
        cooccurrence_edges_min_support(li, 2), k=3, rounds=3
    ).orderBy("round")


# --------------------------------------------------------------------------
# g-ext — link-prediction evaluation: precision/recall@k on held-out edges
# --------------------------------------------------------------------------


@contract(
    "q_link_prediction_eval",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), train AS (
        SELECT src, dst FROM pairs
        WHERE substr(md5(CAST(src AS VARCHAR) || '-'
                         || CAST(dst AS VARCHAR)), 1, 1) <> '0'
    ), test AS (
        SELECT src, dst FROM pairs
        WHERE substr(md5(CAST(src AS VARCHAR) || '-'
                         || CAST(dst AS VARCHAR)), 1, 1) = '0'
    ), edges AS (
        SELECT src, dst FROM train UNION ALL SELECT dst, src FROM train
    ), cand AS (
        SELECT a.dst AS a, b.dst AS b, CAST(count(*) AS BIGINT) AS cn
        FROM edges a JOIN edges b ON a.src = b.src AND a.dst < b.dst
        GROUP BY 1, 2
    ), novel AS (
        SELECT c.a, c.b, c.cn FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM train t WHERE t.src = c.a AND t.dst = c.b
        )
    ), topk AS (
        SELECT a, b FROM novel ORDER BY cn DESC, a, b LIMIT 50
    ), hits AS (
        SELECT count(*) AS n_hits FROM topk k
        JOIN test t ON k.a = t.src AND k.b = t.dst
    )
    SELECT CAST(50 AS BIGINT) AS k,
           (SELECT CAST(count(*) AS BIGINT) FROM test) AS n_test,
           (SELECT CAST(n_hits AS BIGINT) FROM hits) AS n_hits,
           CAST((SELECT n_hits FROM hits) AS DOUBLE) / 50.0
               AS precision_at_k,
           CAST((SELECT n_hits FROM hits) AS DOUBLE)
               / (SELECT count(*) FROM test) AS recall_at_k
    """,
)
def q_link_prediction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@50 / recall@50 of common-neighbor link prediction
    against a held-out edge split — the evaluation loop every
    recommender needs next to the scorer ([[q_link_prediction]]): ~1/16
    of support-≥2 co-purchase edges are hidden by a deterministic
    md5(src-dst) split, predictions are ranked on the TRAIN graph only
    (held-out pairs are non-adjacent there, so they are legitimate
    candidates), and the top-50 (cn DESC, src, dst tie-break) is scored
    against the hidden edges.

    Purely integer counts plus two exact-int divides — no rounding.
    Scale: the wedge join is the triangle path-2 shape on the train
    graph; the test set and top-k are tiny, so the eval adds one
    broadcast-sized join to the scorer's cost.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
        link_prediction_common_neighbors,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pairs = cooccurrence_edges_min_support(li, 2)
    split = F.substring(
        F.md5(
            F.concat_ws(
                "-", F.col("src").cast("string"), F.col("dst").cast("string")
            )
        ),
        1,
        1,
    )
    pairs = pairs.withColumn("split", split).persist()
    train = pairs.filter(F.col("split") != "0").select("src", "dst")
    test = pairs.filter(F.col("split") == "0").select("src", "dst")
    topk = (
        link_prediction_common_neighbors(train)
        .orderBy(F.col("cn").desc(), "src", "dst")
        .limit(50)
        .select("src", "dst")
    )
    n_hits = topk.join(test, ["src", "dst"], "left_semi").agg(
        F.count("*").cast("long").alias("n_hits")
    )
    n_test = test.agg(F.count("*").cast("long").alias("n_test"))
    return n_test.crossJoin(n_hits).select(
        F.lit(50).cast("long").alias("k"),
        "n_test",
        "n_hits",
        (F.col("n_hits").cast("double") / F.lit(50.0)).alias(
            "precision_at_k"
        ),
        (F.col("n_hits").cast("double") / F.col("n_test")).alias(
            "recall_at_k"
        ),
    )


# --------------------------------------------------------------------------
# g-ext — local clustering coefficient (top-20 most-clustered parts)
# --------------------------------------------------------------------------


@contract(
    "q_clustering_coefficient",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM pairs e1
        JOIN pairs e2 ON e1.dst = e2.src
        JOIN pairs e3 ON e3.src = e1.src AND e3.dst = e2.dst
    ), pernode AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri
        FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS deg
        FROM (
            SELECT src AS node FROM pairs
            UNION ALL SELECT dst FROM pairs
        ) GROUP BY node
    )
    SELECT d.node, d.deg,
           coalesce(t.n_tri, 0) AS n_tri,
           CAST(2 * coalesce(t.n_tri, 0) AS DOUBLE)
               / CAST(d.deg * (d.deg - 1) AS DOUBLE) AS coef
    FROM deg d LEFT JOIN pernode t ON d.node = t.node
    WHERE d.deg >= 2
    ORDER BY coef DESC, d.node
    LIMIT 20
    """,
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by LOCAL clustering coefficient in the support-≥2
    co-purchase graph: per node, 2·T(v) / (deg(v)·(deg(v)−1)) — how
    close the node's neighborhood is to a clique. The per-node
    refinement of the global [[q_triangle_count]]: a hub with many
    mutually-unrelated neighbors scores ~0, a part always bought inside
    one bundle scores 1.

    Each triangle is enumerated once with a < b < c (edge-edge-closure
    join on canonical edges) and credited to all three corners via one
    explode — exact BIGINT counts, a single exact-int divide for the
    coefficient, (coef DESC, node) tie-break; no rounding. Scale: the
    closure join is the triangle-count wedge shape (per-middle deg²,
    bounded by the support threshold; hub salting applies identically
    past the broadcast limit).
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
    )

    li = load_table(spark, sf_dir, "lineitem")
    pairs = cooccurrence_edges_min_support(li, 2).persist()
    e2 = pairs.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    tri = (
        pairs.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .join(e2, "b")
        .join(
            pairs.select(F.col("src").alias("a"), F.col("dst").alias("c")),
            ["a", "c"],
            "left_semi",
        )
    )
    pernode = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    deg = (
        pairs.select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("deg"))
    )
    coef = (2 * F.coalesce(F.col("n_tri"), F.lit(0))).cast("double") / (
        F.col("deg") * (F.col("deg") - 1)
    ).cast("double")
    return (
        deg.join(pernode, "node", "left")
        .filter(F.col("deg") >= 2)
        .select(
            "node",
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias(
                "n_tri"
            ),
            coef.alias("coef"),
        )
        .orderBy(F.col("coef").desc(), "node")
        .limit(20)
    )


# --------------------------------------------------------------------------
# g-ext — 4-cycle (square) census via wedge pairing
# --------------------------------------------------------------------------


@contract(
    "q_square_count",
    oracle="""
    WITH pairs AS (
        SELECT l1.l_partkey AS src, l2.l_partkey AS dst
        FROM lineitem l1 JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= 2
    ), edges AS (
        SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs
    ), wedge AS (
        SELECT a.dst AS a, b.dst AS b, CAST(count(*) AS BIGINT) AS w
        FROM edges a JOIN edges b ON a.src = b.src AND a.dst < b.dst
        GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_endpoint_pairs,
           CAST(sum(w) AS BIGINT) AS n_wedges,
           CAST(sum(w * (w - 1)) // 2 AS BIGINT) AS n_wedge_pairs,
           CAST(sum(w * (w - 1)) // 4 AS BIGINT) AS n_squares
    FROM wedge
    """,
)
def q_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-cycle (square) census of the support-≥2 co-purchase graph via
    wedge pairing: two wedges sharing BOTH endpoints close a square, so
    #C₄ = ½·Σ_{a<b} C(w_ab, 2) where w_ab is the common-neighbor count
    — the square-motif companion to [[q_triangle_count]] (triangles
    measure transitivity, squares measure bipartite-style co-purchase
    redundancy; their ratio is a standard graph-shape fingerprint).
    Each square has exactly two endpoint diagonals, hence the halving —
    the sum is even by construction, so the integer division is exact.

    Pure BIGINT arithmetic, no rounding. Scale: one wedge self-join
    through each middle node (per-middle deg² — the triangle-count
    shape, support-thresholded; hub salting applies identically) and
    one wedge-sized aggregate. Never materializes candidate squares.
    """
    from mapreduce_hw05_spark.operators.graph import (
        cooccurrence_edges_min_support,
        undirected,
    )

    li = load_table(spark, sf_dir, "lineitem")
    und = undirected(cooccurrence_edges_min_support(li, 2))
    a = und.select(F.col("src").alias("m"), F.col("dst").alias("a"))
    b = und.select(F.col("src").alias("m"), F.col("dst").alias("b"))
    wedge = (
        a.join(b, "m")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("w"))
    )
    # Σ w(w−1) stays in exact BIGINT; halve/quarter AFTER the sum with
    # integer division (a per-row float /2 would make the sum inexact).
    wp = F.col("w") * (F.col("w") - 1)
    return wedge.agg(
        F.count("*").cast("long").alias("n_endpoint_pairs"),
        lng(F.sum("w")).alias("n_wedges"),
        # shiftright = exact integer //2, //4 (a float /2 would round
        # past 2^53); the sum is non-negative by construction
        F.shiftright(lng(F.sum(wp)), 1).cast("long").alias(
            "n_wedge_pairs"
        ),
        F.shiftright(lng(F.sum(wp)), 2).cast("long").alias("n_squares"),
    )
