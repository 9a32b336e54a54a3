"""Iterative graph operators: PageRank, triangle counting, co-occurrence
edges (SURVEY §2.8 g-1/g-2/g-5).

The genre implements these as driver-chained MapReduce jobs with state
round-tripped through HDFS and dangling mass through global Counters.
Here each iteration is a DataFrame join+agg with ``localCheckpoint()``
truncating lineage (the Spark-idiomatic replacement for the HDFS
round-trip), and the dangling mass is a one-row aggregate — the
accumulator/Counter analog.

Scale: each PageRank iteration is one shuffle on dst (plus the rank join
on src). ``links`` is partitioned once on src and reused every iteration;
ranks are the only moving state. Skewed hub nodes are handled by AQE
skew-join splitting.

Every iterative operator ends a round with :func:`_observed_checkpoint`:
the round's convergence metrics ride the checkpoint job as an
Observation, so a round costs one job whatever it measures. Each loop
keeps its own control flow — the loops carry different state (BFS keeps
per-hop frames, PageRank carries dangling mass).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Rank/label state up to this many nodes is broadcast per iteration
# (~2 M × 16 B ≈ 32 MB serialized — comfortably inside executor memory);
# larger graphs use the shuffled-join path.
_PAGERANK_BROADCAST_NODE_LIMIT = 2_000_000


def _observed_checkpoint(df: DataFrame, *metrics) -> tuple[DataFrame, dict]:
    """``localCheckpoint()`` ``df`` with ``metrics`` (aggregate Columns)
    riding the same job as an Observation → (checkpointed frame, metric
    values). With no metrics it only checkpoints: ``observe`` needs at
    least one expression."""
    if not metrics:
        return df.localCheckpoint(), {}
    obs = Observation()
    df = df.observe(obs, *metrics).localCheckpoint()
    return df, obs.get


def _checksum(*cols: str) -> tuple:
    """The (count, Σ xxhash64) fixpoint checksum pair over ``cols``.

    Two consecutive rounds with equal pairs are taken as equal tables. A
    changed table keeps its count and hash-sum only by a 64-bit hash
    collision — about 2⁻⁶⁴ per round — so an early exit on this pair
    matches running every round except with that probability. The sum
    accumulates in ``decimal(38,0)``: a sum of int64 hashes overflows
    BIGINT.
    """
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    )


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase part graph: distinct part pairs sharing an
    order (canonicalized src < dst).

    Scale: the per-order self-join is keyed on l_orderkey, so pair blowup
    is bounded by (lines per order)² per key, never all-pairs.
    """
    a = lineitem.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = lineitem.select("l_orderkey", F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def undirected(edges: DataFrame) -> DataFrame:
    """Symmetrize canonical edges: each (a,b) becomes (a,b) and (b,a).

    Implemented as one ``explode`` over a two-struct array rather than
    ``edges.union(edges.swap)`` (r11, guide §3.3): Spark does not share
    subplans across union arms, so the union formulation recomputed the
    whole upstream edge DAG (typically a self-join + distinct) once per
    arm at every materialization, and doubled the partition count every
    scan. The explode emits the same row multiset from a single upstream
    pass and keeps the upstream partitioning.
    """
    pair = F.explode(
        F.array(
            F.struct(F.col("src").alias("src"), F.col("dst").alias("dst")),
            F.struct(F.col("dst").alias("src"), F.col("src").alias("dst")),
        )
    ).alias("_e")
    return edges.select(pair).select("_e.src", "_e.dst")


def pagerank(
    edges: DataFrame,
    iterations: int = 10,
    damping: float = 0.85,
    tol: float | None = None,
    iterations_out: list | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """PageRank over a directed edge list (src, dst) → (node, rank).

    Default mode is a FIXED iteration count (not convergence-ε) so
    correctness checks are deterministic. Pass ``tol`` to enable
    power-iteration convergence mode: the loop stops early once the L1
    rank delta ‖r_new − r_old‖₁ falls below ``tol`` (``iterations``
    then acts as the cap). The delta rides the same per-iteration
    Observation as the dangling mass — one extra node-sized join, zero
    extra jobs. Pass ``iterations_out=[]`` to receive the executed
    iteration count.

    Every iteration computes rank = (1−d)·p + d·(in + D·p), where D is
    the dangling-node mass (a one-row aggregate — the genre's global
    Counter) and p the restart distribution: uniform 1/n by default, or
    1/|S| on the nodes of ``seeds`` (a one-column ``node`` frame) and 0
    elsewhere — personalized PageRank, the random walk with restart.
    Seeds outside the graph are ignored; a seed set with no node in the
    graph raises ``ValueError``.
    """
    # The edge list is usually an unmaterialized DAG (e.g. the co-purchase
    # self-join): persist it first so the setup aggregates and the loop
    # never recompute it.
    edges = edges.persist()
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))

    # Nodes carry a static is_dangling flag so each iteration's dangling
    # mass rides the checkpoint job as an Observation metric (the
    # accumulator analog) instead of costing a separate aggregate job.
    # Node-sized and referenced EVERY iteration — checkpoint it so the
    # loop never re-derives it from the (edge-sized) inputs.
    # r11: node set and dangling flag come from ONE explode + aggregate
    # over a single pass of the cached edges — a node is dangling iff it
    # never appears as src — replacing the src∪dst union (two cache
    # scans), the distinct, and a second out_deg build + left join.
    nodes_flagged = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("src").alias("node"), F.lit(True).alias("o")),
                    F.struct(F.col("dst").alias("node"), F.lit(False).alias("o")),
                )
            ).alias("_n")
        )
        .groupBy(F.col("_n.node").alias("node"))
        .agg((~F.max("_n.o")).alias("__dangling"))
    )
    if seeds is None:
        is_seed = F.lit(True)
    else:
        is_seed = F.col("__seed")
        nodes_flagged = nodes_flagged.join(
            seeds.select("node").distinct().withColumn("__seed", F.lit(True)),
            "node",
            "left",
        ).withColumn("__seed", F.coalesce("__seed", F.lit(False)))
    nodes_flagged = nodes_flagged.localCheckpoint()
    # Graph-size scalars for the whole loop, from ONE cache-local agg on
    # the checkpointed node table (r11: this replaces three separate
    # edge-DAG passes — nodes.count(), a dangling anti-join count, and
    # the initial-ranks checkpoint each re-scanned the cached edges).
    row = nodes_flagged.agg(
        F.count("*").alias("n"),
        F.sum(F.col("__dangling").cast("long")).alias("d"),
        F.sum(is_seed.cast("long")).alias("s"),
        F.sum((is_seed & F.col("__dangling")).cast("long")).alias("sd"),
    ).first()
    n_nodes, n_seeds = row["n"], row["s"]
    if not n_seeds:
        raise ValueError("pagerank: no seed node in the graph")
    has_dangling = row["d"] > 0
    p = F.when(is_seed, F.lit(1.0 / n_seeds)).otherwise(F.lit(0.0))

    # The moving state is NODE-sized; links are EDGE-sized. When the rank
    # table fits an executor, broadcast it every iteration and partition
    # the static links on dst ONCE — the contribs aggregation then reuses
    # that partitioning and an iteration touches edges in a single
    # shuffle-free map pass. Past the broadcast limit (billion-node
    # graphs) fall back to partitioning links on src: the join reshuffles
    # only the rank state and the agg pays the one edge-sized shuffle.
    bcast_ranks = n_nodes <= _PAGERANK_BROADCAST_NODE_LIMIT
    links = (
        edges.join(out_deg, "src")
        .repartition("dst" if bcast_ranks else "src")
        .persist()
    )
    links.count()  # materialize once; reused every iteration

    # Initial ranks are p, read off the checkpointed node table
    # (cache-local) — no separate checkpoint job for a column of
    # constants; their dangling mass is an exact count × p.
    ranks = nodes_flagged.select("node", p.alias("rank"))
    dangling = row["sd"] / n_seeds
    n_iters = 0
    for _ in range(iterations):
        moving = F.broadcast(ranks) if bcast_ranks else ranks
        contribs = (
            links.join(moving, links.src == moving["node"])
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("in_mass"))
            .withColumnRenamed("dst", "node")
        )
        # contribs is node-sized: in the broadcast regime hash-join it
        # broadcast (LeftOuter/BuildRight) — the localCheckpoint scan of
        # nodes_flagged reports no partitioning, so a shuffled join here
        # would re-exchange + sort the node table EVERY iteration.
        base = nodes_flagged.join(
            F.broadcast(contribs) if bcast_ranks else contribs, "node", "left"
        )
        cols = [
            "node",
            "__dangling",
            (
                F.lit(1.0 - damping) * p
                + F.lit(damping)
                * (F.coalesce(F.col("in_mass"), F.lit(0.0)) + F.lit(dangling) * p)
            ).alias("rank"),
        ]
        if tol is not None:
            prev = ranks.withColumnRenamed("rank", "__prev")
            base = base.join(
                F.broadcast(prev) if bcast_ranks else prev, "node"
            )
            cols.append(F.col("__prev"))
        metrics = []
        if has_dangling:
            metrics.append(
                F.coalesce(
                    F.sum(F.when(F.col("__dangling"), F.col("rank"))), F.lit(0.0)
                ).alias("dangling_mass")
            )
        if tol is not None:
            metrics.append(
                F.sum(F.abs(F.col("rank") - F.col("__prev"))).alias("l1_delta")
            )
        ranks, got = _observed_checkpoint(base.select(*cols), *metrics)
        ranks = ranks.select("node", "rank")
        n_iters += 1
        if has_dangling:
            dangling = got["dangling_mass"]  # mass for the NEXT iteration
        if tol is not None and got["l1_delta"] < tol:
            break
    if iterations_out is not None:
        iterations_out.append(n_iters)
    links.unpersist()
    edges.unpersist()
    return ranks


def triangle_count(
    edges: DataFrame,
    hub_threshold: int = 1024,
    broadcast_edge_limit: int = 8_000_000,
) -> DataFrame:
    """Count triangles in a canonical (src < dst) undirected edge list
    via degree-ordered orientation (Schank–Wagner).

    Orient every edge from its lower-(degree, id) endpoint to the higher
    one: the orientation is acyclic, every triangle then has exactly one
    apex with two out-edges, so count = |path-2 ⋈ closing-edge| with no
    dedup. The payoff is the join fan-out bound: max out-degree under
    degree orientation is O(√m) however skewed the raw degrees are —
    an id-canonicalized self-join (the naive genre form) explodes on hub
    nodes, this doesn't. Measured 165 s → seconds at sf0.1's dense
    co-purchase graph.

    Even O(√m) concentrates in one task on power-law graphs: an apex
    with oriented out-degree d generates its d² candidate pairs inside
    the single task owning its join key. Apexes above ``hub_threshold``
    are therefore SALTED: their path-2 join key becomes (apex, salt)
    with ``salt = hash(b) mod k`` on the b-side and the c-side
    replicated across all k salts, splitting the d² work into k tasks
    of ~(d/k)·d each, at a c-side duplication cost of k× on hub edges
    only. Non-hub apexes keep the plain single-key join, so the fixture
    graphs (max oriented degree ≪ 1024) are byte-identical to the
    unsalted plan.
    """
    deg = (
        undirected(edges)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").alias("deg"))
    )
    d1 = deg.withColumnsRenamed({"node": "src", "deg": "deg_src"})
    d2 = deg.withColumnsRenamed({"node": "dst", "deg": "deg_dst"})
    with_deg = edges.join(d1, "src").join(d2, "dst")
    src_first = (F.col("deg_src") < F.col("deg_dst")) | (
        (F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst"))
    )
    oriented = with_deg.select(
        F.when(src_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(src_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
    ).persist()

    # Edge-iterator fast path while the ORIENTED adjacency fits a
    # broadcast (total size = m entries — the edge list itself): each
    # oriented edge (u,v) intersects the two sorted out-neighbor arrays
    # JVM-side, counting every triangle exactly once at its base edge.
    # Work is spread per EDGE (never concentrated on a hub apex), and
    # nothing path-2-sized ever materializes or shuffles. Past the
    # broadcast limit the salted path-2 join below is the scale path.
    m_edges = oriented.count()
    if m_edges <= broadcast_edge_limit:
        adj = oriented.groupBy("u").agg(
            F.sort_array(F.collect_list("v")).alias("nbrs")
        )
        a_u = adj.withColumnsRenamed({"nbrs": "nu"})
        a_v = adj.select(F.col("u").alias("v"), F.col("nbrs").alias("nv"))
        return (
            # bounded: inside the counted m_edges <= broadcast_edge_limit branch
            oriented.join(F.broadcast(a_u), "u")
            # bounded: same counted branch
            .join(F.broadcast(a_v), "v")
            .select(F.size(F.array_intersect("nu", "nv")).alias("c"))
            .agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias(
                    "n_triangles"
                )
            )
        )

    out_deg = oriented.groupBy("u").agg(F.count("*").alias("out_deg"))
    tagged = oriented.join(out_deg, "u")
    light = tagged.filter(F.col("out_deg") <= hub_threshold)
    heavy = tagged.filter(F.col("out_deg") > hub_threshold)

    # Plain path-2 for the bounded-degree mass of the graph.
    l1 = light.select(F.col("u").alias("a"), F.col("v").alias("b"))
    l2 = light.select(F.col("u").alias("a"), F.col("v").alias("c"))
    paths = l1.join(l2, "a").filter(F.col("b") != F.col("c"))

    # Salted path-2 for hub apexes: k = ceil(out_deg / hub_threshold)
    # salts per apex; b-side keyed by hash, c-side replicated over all k.
    k = F.ceil(F.col("out_deg") / F.lit(hub_threshold)).cast("int")
    h1 = heavy.select(
        F.col("u").alias("a"),
        F.col("v").alias("b"),
        F.pmod(F.xxhash64("v"), k).cast("int").alias("salt"),
    )
    h2 = heavy.select(
        F.col("u").alias("a"),
        F.col("v").alias("c"),
        F.explode(F.sequence(F.lit(0), k - 1)).alias("salt"),
    )
    paths_hub = h1.join(h2, ["a", "salt"]).filter(F.col("b") != F.col("c"))

    all_paths = paths.select("a", "b", "c").union(
        paths_hub.select("a", "b", "c")
    )
    closing = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    result = all_paths.join(closing, ["b", "c"]).agg(
        F.count("*").alias("n_triangles")
    )
    return result


def cooccurrence_edges_min_support(lineitem: DataFrame, min_orders: int = 2) -> DataFrame:
    """Co-purchase edges kept only when the pair shares ≥ ``min_orders``
    distinct orders — the support-thresholded (sparser) variant of
    :func:`copurchase_edges`. Same keyed self-join, one extra aggregate."""
    a = lineitem.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = lineitem.select("l_orderkey", F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_orders)
        .select("src", "dst")
    )


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int = 3) -> DataFrame:
    """Min-hop BFS from a seed set → ``(node, hop)``, hop ∈ [0, max_hops].

    ``edges`` is directed ``(src, dst)`` (pass :func:`undirected` for a
    symmetric graph); ``seeds`` is a one-column ``node`` DataFrame. Each
    round expands the frontier one hop with a keyed join, removes
    already-visited nodes with an anti-join, and checkpoints — the
    standard O(hops)-round distributed BFS. Frontier and visited sets are
    node-sized (never edge-sized), so the only big shuffle per round is
    the edges⋈frontier join on ``src``.

    r12 (guide §2.4): ONE job per hop — the frontier-emptiness probe
    rides the fresh-frontier checkpoint as an Observation row count (was
    a separate ``first()`` job), and the visited set is kept as the
    plain union of the per-hop CHECKPOINTED frontiers instead of being
    re-materialized through its own checkpoint every hop (each hop
    previously re-wrote the entire visited set: 3 jobs and O(|visited|)
    checkpoint bytes per hop).
    The edge list — usually an unmaterialized self-join DAG — is
    persisted up front like pagerank's, so the per-hop expansion scans
    a cache instead of re-running the upstream join every hop (the
    dominant cost at fixture scale: 4 edge-DAG runs for a 3-hop query).
    """
    edges = edges.persist()
    visited0 = (
        seeds.select("node").distinct().withColumn("hop", F.lit(0).cast("int"))
    ).localCheckpoint()
    frames = [visited0]
    frontier = visited0.select("node")
    seen = frontier  # union of checkpointed per-hop frontiers
    for hop in range(1, max_hops + 1):
        neighbors = (
            edges.join(frontier, edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh, got = _observed_checkpoint(
            neighbors.join(seen, "node", "left_anti").withColumn(
                "hop", F.lit(hop).cast("int")
            ),
            F.count(F.lit(1)).alias("n"),
        )
        if got["n"] == 0:
            break
        frames.append(fresh)
        frontier = fresh.select("node")
        seen = seen.union(frontier)
    # every frame is checkpointed — the union no longer references edges
    edges.unpersist()
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out


def connected_components_star(
    edges: DataFrame,
    max_iterations: int = 40,
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    → (node, comp) with comp = min node id of the component.

    Each round rewires edges toward the minimum label of a node's
    neighborhood; the edge set converges to min-rooted stars in
    O(log n) rounds REGARDLESS of graph diameter — the scale-safe
    replacement for min-label propagation's O(diameter) rounds (a 10⁶-hop
    path graph converges in ~20 rounds, not 10⁶). Per round exactly
    THREE exchanges (r3 rewrite, was 7): one hash(u) shuffle per star
    window and one for the final (u,v) dedup. The intermediate
    large-star ``distinct`` is dropped — the small-star window takes a
    per-node MIN, which duplicate rows cannot change — and small-star's
    two emissions ((v→m) and (u→m)) come from a single ``explode``
    instead of a self-union, which previously recomputed the whole
    large-star subtree once per union branch (Spark does not share
    subplans across union arms). Convergence check is the shared
    :func:`_checksum` pair over the round's edge set.

    Pass ``rounds_out=[]`` to receive the number of rounds executed.
    """
    # Working set: directed pairs (u, v) with u > v ("high points at low")
    # — large-star emits this orientation and small-star preserves it.
    # The canonical edge set is checkpointed BEFORE the self-loop filter
    # (r11): the final node table then derives from this checkpoint
    # instead of re-running the whole upstream edge DAG (typically a
    # self-join + distinct) a second time at the end of the query — and a
    # node whose only edges are self-loops must still appear in the
    # output, so the pre-filter set is the right node source.
    e0 = (
        edges.select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct()
        .localCheckpoint()
    )
    e = e0.filter(F.col("u") != F.col("v"))

    from pyspark.sql import Window as W

    prev = e.agg(*_checksum("u", "v")).first().asDict()
    rounds = 0
    per_node = W.partitionBy("u")
    for _ in range(max_iterations):
        # -- large-star: for every node x (seen from both endpoints), link
        # each LARGER neighbor to the min of x's closed neighborhood. The
        # per-node min rides an unordered window over the SAME shuffle
        # that groups the neighborhood — no separate aggregate + join
        # (halves the exchanges per round vs the join formulation).
        # one explode pass over the checkpointed edges instead of
        # e.union(e.swap): union arms never share the subplan, so the
        # union formulation scanned the checkpoint twice per round
        sym = e.select(
            F.explode(
                F.array(
                    F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("_s")
        ).select("_s.u", "_s.v")
        large = (
            sym.withColumn(
                "m", F.least(F.min("v").over(per_node), F.col("u"))
            )
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            # no distinct here: duplicates can't change the small-star
            # MIN, and the final (u,v) dedup below catches them — saves
            # a full (u,v) exchange per round.
        )
        # -- small-star: per node, link all (smaller) neighbors and the
        # node itself to the minimum neighbor. Both emissions — (v→m)
        # for every neighbor and (u→m) once per row — come from one
        # explode; in `large` always m < u and v < u with m = min(v),
        # so filtering u != v afterwards drops exactly the (v→m) rows
        # where v IS the minimum (self-loops), never a (u→m) row.
        # The convergence checksum rides the checkpoint materialization
        # as an Observation (r11) — zero extra jobs per round; CC rounds
        # are scheduler-bound at small scale, so halving the jobs per
        # round halves the wall.
        e, got = _observed_checkpoint(
            large.withColumn("m", F.min("v").over(per_node))
            .select(
                F.explode(F.array(F.col("v"), F.col("u"))).alias("u"),
                F.col("m").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            *_checksum("u", "v"),
        )
        rounds += 1
        if got == prev:
            break
        prev = got
    if rounds_out is not None:
        rounds_out.append(rounds)
    nodes = e0.select(F.explode(F.array("u", "v")).alias("node")).distinct()
    return nodes.join(
        e.select(F.col("u").alias("node"), F.col("v").alias("comp")),
        "node",
        "left",
    ).select("node", F.coalesce("comp", "node").alias("comp"))


def cooccurrence_edges_support(lineitem: DataFrame, min_orders: int = 2) -> DataFrame:
    """Support-thresholded co-purchase edges WITH their support count:
    ``(src, dst, n_shared)``, canonical src < dst. Same keyed self-join as
    :func:`cooccurrence_edges_min_support`; callers derive edge weights
    from ``n_shared`` (e.g. cheap-for-strong-ties travel costs)."""
    a = lineitem.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = lineitem.select("l_orderkey", F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_orders)
    )


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (community detection) → (node, label).

    Labels start as node ids; each round every node adopts the most
    frequent label among its in-neighbors, ties broken by the MINIMUM
    label — fully deterministic, so a fixed round count is a cross-engine
    contract surface (asynchronous/randomized LPA variants are not).
    ``edges`` is directed (src, dst); pass :func:`undirected` first for the
    usual symmetric semantics. Nodes with no in-edges keep their label.

    Scale: the moving state is NODE-sized; per round the label table joins
    edges on src (broadcast under the node limit shared with PageRank) and
    the (dst, label) frequency count is a partial-aggregate-friendly
    shuffle bounded by the edge count. The argmax is max(struct(count,
    -label)) — a two-level aggregate, never a window sort over the edge
    list.

    r12 (guide §2.4): the node set comes from one explode pass over the
    cached edges instead of a two-arm union (union arms never share the
    subplan — two cache scans), and the loop exits early at the label
    fixpoint: synchronous LPA is a deterministic function of the
    previous label table, so once a round reproduces its input exactly,
    every remaining round reproduces it too. Labels are not monotone,
    so unlike :func:`sssp` the fixpoint test is probabilistic: the
    shared :func:`_checksum` pair riding the per-round checkpoint (zero
    extra jobs) can match a changed table only by a hash collision, and
    the early exit equals running all ``rounds`` rounds except with
    that ~2⁻⁶⁴-per-round probability.
    """
    edges = edges.persist()
    nodes = edges.select(
        F.explode(F.array("src", "dst")).alias("node")
    ).distinct()
    bcast = nodes.count() <= _PAGERANK_BROADCAST_NODE_LIMIT
    labels = nodes.withColumn("label", F.col("node")).localCheckpoint()
    prev = None
    for _ in range(rounds):
        moving = F.broadcast(labels) if bcast else labels
        best = (
            edges.join(moving, edges.src == moving["node"])
            .groupBy("dst", "label")
            .agg(F.count("*").alias("c"))
            .groupBy("dst")
            .agg(
                F.max(
                    F.struct(F.col("c"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select(F.col("dst").alias("node"), (-F.col("m.nl")).alias("label"))
        )
        labels, got = _observed_checkpoint(
            labels.select("node", F.col("label").alias("__old"))
            .join(F.broadcast(best) if bcast else best, "node", "left")
            .select("node", F.coalesce("label", "__old").alias("label")),
            *_checksum("node", "label"),
        )
        if got == prev:
            break
        prev = got
    edges.unpersist()
    return labels


def sssp(edges: DataFrame, seeds: DataFrame, rounds: int = 6) -> DataFrame:
    """Bellman–Ford single/multi-source shortest paths → (node, dist).

    ``edges`` is directed weighted ``(src, dst, w)`` (integer weights keep
    the contract engine-exact); ``seeds`` is a one-column ``node`` frame
    at distance 0. Each round relaxes every edge out of the currently
    reached set and keeps the per-node MIN — after k rounds distances are
    exact for all shortest paths of ≤ k edges, so a fixed round count is
    deterministic (the classic Pregel SSSP; contrast with
    :func:`bfs_hops`, which counts hops and never revisits a node).

    Scale: the distance table is node-sized and broadcast under the
    shared node limit; each round shuffles only the relaxed candidates
    (edge-bounded) into a partial-aggregated min.

    r12 (guide §2.4): fixpoint early-exit — reached nodes only ever ADD
    (the union keeps every prior node) and per-node distances only ever
    DECREASE (the min includes the previous value), so the pair
    ``(count, Σ dist)`` is invariant exactly at the Bellman–Ford
    fixpoint; once it repeats, every remaining round would reproduce
    the same table and is skipped. The integer-exact pair rides the
    per-round checkpoint as an Observation — zero extra jobs, and the
    result is identical to running all ``rounds`` rounds.
    """
    edges = edges.persist()
    bcast = (
        edges.select(F.col("dst").alias("node")).distinct().count()
        <= _PAGERANK_BROADCAST_NODE_LIMIT
    )
    dist = (
        seeds.select("node")
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .localCheckpoint()
    )
    prev = None
    for _ in range(rounds):
        moving = F.broadcast(dist) if bcast else dist
        relaxed = edges.join(moving, edges.src == moving["node"]).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist, got = _observed_checkpoint(
            dist.union(relaxed).groupBy("node").agg(F.min("dist").alias("dist")),
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator (the _checksum convention): an int64
            # sum could wrap at extreme scale and mask a decrease of
            # exactly 2^64
            F.sum(F.col("dist").cast("decimal(38,0)")).alias("s"),
        )
        if got == prev:
            break
        prev = got
    edges.unpersist()
    return dist


def link_prediction_common_neighbors(edges: DataFrame) -> DataFrame:
    """Common-neighbor link prediction over a canonical (src < dst) edge
    list: for every NON-adjacent pair at distance 2, the number of shared
    neighbors ``cn`` and the neighborhood Jaccard
    ``cn / (deg(a) + deg(b) − cn)`` → ``(src, dst, cn, jaccard)``.

    Scale shape: candidates come from the path-2 self-join through each
    middle node (the triangle-count wedge join — per-middle fan-out is
    deg², never all-pairs), existing edges leave via one anti-join, and
    degrees broadcast-join back in. Feed a support-thresholded edge list
    (e.g. ``cooccurrence_edges_min_support``) so hub wedges stay bounded;
    past that, the triangle count's hub-salting applies identically.
    """
    und = undirected(edges)
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("deg")
    )
    a = und.select(F.col("src").alias("m"), F.col("dst").alias("a"))
    b = und.select(F.col("src").alias("m"), F.col("dst").alias("b"))
    cand = (
        a.join(b, "m")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("cn"))
        .join(
            edges.select(F.col("src").alias("a"), F.col("dst").alias("b")),
            ["a", "b"],
            "left_anti",
        )
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    scored = cand.join(da, "a").join(db, "b")
    jaccard = F.col("cn").cast("double") / (
        F.col("da") + F.col("db") - F.col("cn")
    ).cast("double")
    return scored.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        "cn",
        jaccard.alias("jaccard"),
    )


def hits(
    edges: DataFrame, rounds: int = 3, scale: int = 1_000_000_000
) -> tuple[DataFrame, DataFrame]:
    """Quantized HITS (hubs & authorities, max-normalized) over a
    DIRECTED edge set → ``(auth, hub)`` DataFrames of ``(node, aq)`` /
    ``(node, hq)`` fixed-point scores at ``scale``.

    Bit-exact cross-engine by construction: scores live as BIGINT
    micro-units, each half-step's neighbor sum is an order-free integer
    aggregate, and the L∞ re-normalization is one fixed-shape IEEE
    chain (int→double divide, multiply by the scale literal, floor)
    applied per row — so a fixed round count is a deterministic
    contract surface, unlike float-L2 HITS whose sums are
    order-dependent. Integer sums stay exact while max in-degree ×
    scale < 2⁶³ (≈9·10⁹ neighbors at the default scale).

    Scale: the moving state is node-sized (broadcast under the shared
    PageRank node limit); each half-step is one keyed edge join plus a
    partial-agg-friendly groupBy, and the normalizing max rides each
    half-step's localCheckpoint as an Observation — two edge-sized
    shuffles per round, lineage truncated at every half-step.
    """
    edges = edges.persist()
    n_src = edges.select("src").distinct().count()
    bcast = n_src <= _PAGERANK_BROADCAST_NODE_LIMIT

    def _normalize(raw: DataFrame, out: str) -> DataFrame:
        # The global max rides the checkpoint job, so ``raw`` runs once.
        raw, got = _observed_checkpoint(
            raw, F.max("raw").cast("double").alias("m")
        )
        return raw.select(
            "node",
            F.floor(
                F.col("raw").cast("double") / F.lit(got["m"])
                * F.lit(float(scale))
            ).cast("long").alias(out),
        )

    hub = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("hq", F.lit(scale).cast("long"))
        .localCheckpoint()
    )
    auth = None
    for _ in range(rounds):
        moving_h = F.broadcast(hub) if bcast else hub
        a_raw = (
            edges.join(moving_h, edges.src == moving_h["node"])
            .groupBy("dst")
            .agg(F.sum("hq").cast("long").alias("raw"))
            .select(F.col("dst").alias("node"), "raw")
        )
        auth = _normalize(a_raw, "aq")
        moving_a = F.broadcast(auth) if bcast else auth
        h_raw = (
            edges.join(moving_a, edges.dst == moving_a["node"])
            .groupBy("src")
            .agg(F.sum("aq").cast("long").alias("raw"))
            .select(F.col("src").alias("node"), "raw")
        )
        hub = _normalize(h_raw, "hq")
    edges.unpersist()
    return auth, hub


def kcore_rounds(edges: DataFrame, k: int = 3, rounds: int = 3) -> DataFrame:
    """Iterative k-core peeling over canonical edges ``(src < dst)`` →
    per-round survivor stats ``(round, n_nodes, n_edges)``.

    Each round drops every node with degree < ``k`` in the CURRENT
    residual graph and keeps only edges between survivors — after enough
    rounds this converges to the k-core (a fixed round count keeps the
    contract deterministic; real peeling would loop to fixpoint). Per
    round: one degree aggregate (shuffle on node) and two survivor
    semi-joins — O(rounds) edge-sized shuffles, node-sized state only,
    the same budget as one BFS hop. The residual edge set shrinks
    monotonically, so later rounds are cheaper; persist truncates
    re-execution of the prior round's chain.

    The survivor set is node-sized and joined against the edge-sized
    residual twice per round, so it is broadcast while its COUNTED size
    fits (same counted ternary as :func:`pagerank`'s rank state; the
    count rides the persisted per-round survivor set the stats output
    needs anyway). Past the limit both joins run shuffled — identical
    results, two extra edge exchanges per round. Measured (x100 dense
    co-purchase probe, r7): crossing Spark's 10 MB auto-broadcast
    threshold silently flipped these joins to shuffles at ~1.3 M
    survivor nodes, turning a 10× edge scale-up into a 20× slope; the
    explicit gate keeps the broadcast regime up to
    ``_PAGERANK_BROADCAST_NODE_LIMIT`` nodes.
    """
    spark = edges.sparkSession
    cur = undirected(edges).persist()
    rows: list[tuple[int, int, int]] = []
    for r in range(1, rounds + 1):
        deg = cur.groupBy("src").agg(F.count("*").alias("deg"))
        keep = (
            deg.filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
            .persist()
        )
        # n_nodes doubles as the broadcast gate count — one action, two uses
        n_nodes = keep.count()
        bcast = n_nodes <= _PAGERANK_BROADCAST_NODE_LIMIT
        keep_src = keep.select(F.col("node").alias("src"))
        keep_dst = keep.select(F.col("node").alias("dst"))
        nxt = (
            cur.join(F.broadcast(keep_src) if bcast else keep_src, "src")
            .join(F.broadcast(keep_dst) if bcast else keep_dst, "dst")
            .select("src", "dst")
            .persist()
        )
        # Eager edge count materializes nxt's cache (the next round scans
        # it anyway) and pins the round's stats as driver-sized scalars,
        # so prior rounds' cached sets can be released NOW instead of
        # accumulating across rounds (r7 ADVICE: cached memory grew
        # monotonically with rounds because lazy stats rows kept every
        # round's keep/nxt referenced until the final collect).
        n_edges = nxt.filter(F.col("src") < F.col("dst")).count()
        rows.append((r, n_nodes, n_edges))
        cur.unpersist()
        keep.unpersist()
        cur = nxt
    cur.unpersist()
    return spark.createDataFrame(
        rows, "round: long, n_nodes: long, n_edges: long"
    )
