"""The benchmark's workloads: named lists of registry contract queries.

Each list runs as one *pass* (in a seed-permuted order) in a fresh
process. README.md in this directory says why each list was chosen.
"""

WORKLOADS: dict[str, tuple[str, ...]] = {
    # BASELINE q2/q3/q5/q7/q8/q10 (scans, joins, windows, text
    # aggregates; small results) and the streaming replay of the same
    # sessionization q_sessionize computes in batch: file writes,
    # checkpoints and state.
    "relational": (
        "q_groupagg_pricing",
        "q_join_orders_customer",
        "q_join_dim_chain",
        "q_window_rank",
        "q_wordcount",
        "q_sessionize",
        "q_stream_session_window",
    ),
    # The engine's own operators: eager k-means (operators.clustering)
    # and frontier BFS (operators.graph) loops, where the per-job floor
    # dominates, and the pandas-UDF cosine top-k (operators.similarity).
    "operators": (
        "q_kmeans",
        "q_khop_reach",
        "q_similarity_topk",
    ),
}

#: Run once per session set-up: a one-job scan the set-up time includes.
SETUP_QUERY = "q_filter_project"

#: Per-query job counts reported by the traced run (the job-count
#: cross-check); zero on workloads that do not run the query.
COUNTED_QUERIES = ("q_kmeans", "q_khop_reach")
