"""Fleet-wide physical-plan audit: every batch contract query is planned
(not executed) at sf0.01 and checked for join red flags.

- ``CartesianProduct`` is forbidden outright — an unkeyed cross product
  at fact scale is always a bug.
- ``BroadcastNestedLoopJoin`` is allowed only where the query is
  genuinely non-equi (theta/range/all-pairs) or broadcasts a single-row
  aggregate (scalar subquery) — an allowlist; anything new that plans a
  BNLJ must be reviewed and either fixed or added here.

Side-effecting queries (sinks, streaming replays, iterative loops that
execute during construction) are skipped — they have their own tests.
"""

from __future__ import annotations

import pytest

from mapreduce_hw05_spark.plans import QUERIES

SF_DIR = "/root/testdata/sf0.01"

#: construction executes work (writes, streams, driver loops) — planned
#: elsewhere, skipped here.
SKIP_PREFIXES = (
    "q_stream", "q_custom", "q_compact", "q_zorder", "q_csv",
    "q_json_roundtrip", "q_orc", "q_xml", "q_partitioned", "q_bucketed",
    "q_permissive", "q_schema_evolution", "q_pagerank", "q_kmeans",
    "q_connected", "q_bpe", "q_pca", "q_ann_ivf", "q_ann_lsh", "q_logreg",
    "q_theta_sketch", "q_pretrain", "q_semantic",
)

#: queries where a BroadcastNestedLoopJoin is the intended plan.
BNLJ_ALLOWED = {
    "q_bigram_pmi",        # single-row corpus-total broadcast
    "q_cross_region_pairs",  # intentional all-pairs (bounded dims)
    "q_domain_mix",        # single-row total broadcast
    "q_fuzzy_name_match",  # non-equi similarity condition
    "q_not_in_null_semantics",  # single-row inner-NULL guard broadcast
    "q_rolling_dau",       # single-row date-bounds broadcast
    "q_scalar_subquery",   # the scalar-subquery contract itself
    "q_theta_join",        # the theta-join contract itself
    "q_tpch_q22",          # scalar avg-balance subquery
    "q_acf_lags",          # 1-row global-moments build side (scalar subquery)
    "q_chi_square",        # 1-row contingency-totals build side
    "q_epoch_mixture_plan",  # 1-row token-budget build side
    "q_benford_digits",    # 1-row digit-total build side
    "q_kcore_rounds",      # 1-row × 1-row per-round survivor stats
    "q_kfold_nb_accuracy",  # 5-row fold spine × model-sized totals
    "q_link_prediction_eval",  # 1-row n_test × 1-row n_hits
    "q_mutual_information",  # 1-row corpus-total build side
    "q_referential_integrity",  # 1-row total × 1-row orphan count (×4)
    "q_lift_deciles",      # 1-row grand-total build side
    "q_funnel_windowed",   # 1-row × 1-row × 1-row step counts
}

_BATCH_QUERIES = sorted(
    name for name in QUERIES if not name.startswith(SKIP_PREFIXES)
)


@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_no_join_red_flags(spark, name):
    plan = (
        QUERIES[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
        raise AssertionError(
            f"{name} plans an unexpected BroadcastNestedLoopJoin — fix the "
            "join condition or allowlist it with a justification"
        )


#: queries whose CONTRACT is the row-level Python surface itself:
#: u-1's scalar UDF and u-5's UDTF (BatchEvalPythonUDTF).
ROW_UDF_ALLOWED = {"q_udf_python", "q_udtf_tokens"}


@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_no_row_at_a_time_python_in_hot_path(spark, name):
    """BatchEvalPython (per-row Python UDF) is the slow path — allowed
    only where it IS the contract; everything else must stay JVM-side or
    use Arrow-batched kernels (ArrowEvalPython / mapInPandas)."""
    plan = (
        QUERIES[name](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    if "BatchEvalPython" in plan and name not in ROW_UDF_ALLOWED:
        raise AssertionError(
            f"{name} plans a row-at-a-time Python UDF (BatchEvalPython) — "
            "move it to a pandas_udf / built-in expression"
        )


def test_headline_queries_are_codegen_compiled(spark):
    """The BASELINE.md headline set must run inside WholeStageCodegen
    spans (fused JVM loops), not interpreted operators."""
    headline = [
        "q_filter_project", "q_groupagg_pricing", "q_join_orders_customer",
        "q_join_lineitem_part_bcast", "q_join_dim_chain", "q_topk_customers",
        "q_window_rank", "q_wordcount", "q_distinct_users", "q_sessionize",
        "q_dedup_exact",
    ]
    for name in headline:
        df = QUERIES[name](spark, SF_DIR)
        df.collect()  # finalize the adaptive plan — codegen markers appear
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "*(" in plan, f"{name} not codegen-compiled: {plan[:500]}"
