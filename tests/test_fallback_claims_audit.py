"""Source-level audit: every docstring/comment FALLBACK CLAIM must name
an implemented gate (VERDICT r5 item 3). The r5 broadcast-routing sweep
proved the failure mode: prose like "falls back to a shuffled join past
the bound" is easy to write and easy to forget to implement — the
shingle-LSH verify join re-grew an ungated broadcast the same round the
unigram path was gated, because the sweep was a one-off grep, not a
test.

Mechanics: scan engine source for fallback-claim phrases; resolve each
hit to its innermost enclosing function (or ``<module>``); require the
(file, scope) to be REGISTERED below with the gate symbol that
implements the claim, and require that symbol to actually appear in the
scope's source. An unregistered claim fails (register it WITH its gate);
a registered gate symbol that vanished from the scope fails (the claim
went stale); a registered scope whose claim vanished fails (keep the
registry honest).

``None`` registers a documented non-gate claim (e.g. a NEGATIVE claim —
"none falls back to a nested-loop" — which asserts the absence of a
fallback rather than promising one).
"""

from __future__ import annotations

import ast
import os
import re

ENGINE_ROOT = os.path.join(
    os.path.dirname(__file__), "..", "mapreduce_hw05_spark"
)

CLAIM = re.compile(
    # r7 (VERDICT r6 item 2): "routes through/past/to" and
    # "past the <anything> bound/cap/gate/limit" — the exact phrasings
    # that dodged the r6 regex on the brute-force cosine family
    r"falls? back|past the \w+ (bound|cap|gate|limit)"
    r"|past (the )?(bound|cap|gate|limit|MAX_\w+)"
    r"|beyond the (bound|cap|limit)|runs? shuffled|shuffle-join fallback"
    r"|run shuffled|routes? (through|past|to)|counted(-| )routing"
    r"|counted gate",
    re.IGNORECASE,
)

#: (file, scope) -> gate symbol that must appear in the scope's source,
#: or None for a documented non-gate claim.
REGISTRY: dict[tuple[str, str], str | None] = {
    # negative claim: the subquery plans assert they DON'T fall back
    ("plans/subquery_queries.py", "<module>"): None,
    # r8: global ranking's counted JVM-window vs Arrow-cumsum routing
    ("operators/ranks.py", "<module>"): "JVM_WINDOW_PARTITION_ROWS",
    ("plans/pipeline_queries.py", "q_lm_score"): "MAX_BROADCAST_MODEL_ROWS",
    # r6 x1000-probe fix: the decontamination contracts' benchmark-gram
    # broadcast is corpus-proportional — file-stat gated
    ("plans/pipeline_queries.py", "<module>"): (
        "MAX_BROADCAST_GRAM_SRC_BYTES"
    ),
    ("plans/pipeline_queries.py", "q_decontaminate_ngram"): (
        "MAX_BROADCAST_GRAM_SRC_BYTES"
    ),
    ("plans/pipeline_queries.py", "q_contamination_fraction"): (
        "MAX_BROADCAST_GRAM_SRC_BYTES"
    ),
    ("plans/pipeline_queries.py", "q_bigram_lm_score"): (
        "MAX_BROADCAST_MODEL_ROWS"
    ),
    ("plans/similarity_queries.py", "_verify_jaccard_on_candidates"): (
        "maybe_broadcast"
    ),
    ("plans/similarity_queries.py", "lsh_jaccard_pairs"): (
        "_verify_jaccard_on_candidates"
    ),
    # partition-count default, not a broadcast gate: chunks without a
    # total_rows attribute get a constant partition count
    ("streaming/replay.py", "FileReplay.__init__"): "total_rows",
    ("streaming/ops.py", "enrich_with_users"): "maybe_broadcast",
    ("streaming/ops.py", "stream_near_dup_filter_foreachbatch"): (
        "MAX_BROADCAST_TOKEN_DOCS"
    ),
    (
        "streaming/ops.py",
        "stream_near_dup_filter_foreachbatch.apply_batch",
    ): "maybe_broadcast",
    # sketch sink: past MAX_DRIVER_STATE_KEYS persisted keys the state
    # merge routes through Spark (counted from parquet footers)
    ("streaming/ops.py", "<module>"): "MAX_DRIVER_STATE_KEYS",
    ("streaming/ops.py", "stream_sketch_foreachbatch"): (
        "MAX_DRIVER_STATE_KEYS"
    ),
    ("operators/naive_bayes.py", "<module>"): "MAX_BROADCAST_MODEL_ROWS",
    # r7 (VERDICT r6 item 2): the brute-force cosine family's counted
    # routing — broadcast BLAS under the cap, blocked-and-distributed
    # exact search past it (_blocked_exact_search)
    ("operators/similarity.py", "_reference_matrix"): (
        "MAX_BROADCAST_REFERENCE_ROWS"
    ),
    # r9: the composite-key top-k fast path falls back to the exact
    # full stable argsort for non-finite or |sim| >= 536 inputs — the
    # gate is the magnitude/finiteness guard on the min/max reductions
    ("operators/similarity.py", "_topk_per_row"): "536.0",
    ("operators/similarity.py", "cosine_pairs_topk_per_row"): (
        "MAX_BROADCAST_REFERENCE_ROWS"
    ),
    ("operators/similarity.py", "cosine_pairs_above"): (
        "MAX_BROADCAST_REFERENCE_ROWS"
    ),
    # the one counted router both public exact kernels call: broadcast
    # under the cap, blocked past it
    ("operators/similarity.py", "_exact_search"): (
        "MAX_BROADCAST_REFERENCE_ROWS"
    ),
    ("plans/similarity_queries.py", "q_similarity_topk"): (
        "cosine_pairs_topk_per_row"
    ),
    # r10: the asymmetric probe≠reference contract — the claim ("past
    # the broadcast cap the blocked route pays the probe's own count")
    # is implemented by the kernel's counted gate, called in-scope
    ("plans/similarity_queries.py", "q_cross_table_knn"): (
        "cosine_pairs_topk_per_row"
    ),
    ("plans/similarity_queries.py", "q_hard_negatives"): "maybe_broadcast",
    ("plans/similarity_queries.py", "q_semantic_dedup"): "maybe_broadcast",
    # IVF module doc: "a probe routes to its nprobe nearest centroids" —
    # implemented by route_probes in the same module
    ("operators/ann.py", "<module>"): "route_probes",
    # per-node clustering coefficient: hub salting lives in the shared
    # wedge operator it calls
    ("plans/graph_queries.py", "q_clustering_coefficient"): (
        "cooccurrence_edges_min_support"
    ),
    ("plans/graph_queries.py", "q_item_item_cosine"): "dim_broadcast",
    # r6 x1000-probe fix: kfold CV's vocab-sized likelihood broadcast
    # routes on the counted model size like nb_score
    ("plans/text_analysis_queries.py", "q_kfold_nb_accuracy"): (
        "MAX_BROADCAST_MODEL_ROWS"
    ),
    # r6 sweep of the remaining corpus-proportional "bounded" tags:
    # both route through the file-stat gate
    ("plans/etl_queries.py", "q_decontaminate"): "dim_broadcast",
    ("plans/text_analysis_queries.py", "q_fuzzy_name_match"): (
        "dim_broadcast"
    ),
    ("operators/graph.py", "pagerank"): "_PAGERANK_BROADCAST_NODE_LIMIT",
    # r7 x100 co-purchase probe: per-round survivor-set joins counted-
    # gated (auto-broadcast silently flipped to shuffle at ~1.3 M nodes)
    ("operators/graph.py", "kcore_rounds"): (
        "_PAGERANK_BROADCAST_NODE_LIMIT"
    ),
    ("operators/similarity.py", "<module>"): "maybe_broadcast",
    # r12: the dictionary-encoded verify routes on the counted vocab
    # gate — past it the caller keeps the string arrays (identical
    # results; route test in tests/test_near_dup.py)
    ("operators/similarity.py", "dict_encode_elements"): (
        "MAX_BROADCAST_VOCAB"
    ),
    # r6: the file-stat dim gate itself (its docstring states the
    # past-the-cap behavior it implements)
    ("sources/fixtures.py", "dim_broadcast"): "MAX_BROADCAST_DIM_BYTES",
}


def _scopes_with_claims():
    """Yield ((file, qualified scope), scope_source) for every claim hit.

    Scopes are QUALIFIED (``outer.inner``) so two same-named nested
    functions (e.g. the several foreachBatch ``apply_batch`` closures)
    can't shadow each other's registration — the r7 regex widening
    exposed exactly that collision.
    """
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        if "__pycache__" in root:
            continue
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            rel = os.path.relpath(path, ENGINE_ROOT).replace(os.sep, "/")
            src = open(path).read()
            lines = src.splitlines()
            hit_lines = [
                i + 1 for i, l in enumerate(lines) if CLAIM.search(l)
            ]
            if not hit_lines:
                continue
            tree = ast.parse(src)
            funcs = [
                n
                for n in ast.walk(tree)
                if isinstance(
                    n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
            ]
            for ln in hit_lines:
                chain = sorted(
                    (n for n in funcs if n.lineno <= ln <= n.end_lineno),
                    key=lambda n: n.lineno,
                )
                best = chain[-1] if chain else None
                if best is None or isinstance(best, ast.ClassDef):
                    # claims at class level are vanishingly rare; treat
                    # a bare class-body hit as module scope
                    yield (rel, "<module>"), src
                else:
                    qual = ".".join(n.name for n in chain)
                    yield (rel, qual), "\n".join(
                        lines[best.lineno - 1 : best.end_lineno]
                    )


def test_every_fallback_claim_names_an_implemented_gate():
    found: dict[tuple[str, str], str] = {}
    for key, scope_src in _scopes_with_claims():
        found.setdefault(key[0] + "::" + key[1], scope_src)
    problems = []
    for flat, scope_src in sorted(found.items()):
        f, s = flat.split("::", 1)
        key = (f, s)
        if key not in REGISTRY:
            problems.append(
                f"UNREGISTERED claim in {f}::{s} — register it in "
                "tests/test_fallback_claims_audit.py WITH its gate symbol"
            )
        elif REGISTRY[key] is not None and REGISTRY[key] not in scope_src:
            problems.append(
                f"STALE gate: {f}::{s} claims a fallback but no longer "
                f"contains its registered gate `{REGISTRY[key]}`"
            )
    live = {f + "::" + s for (f, s) in [k.split("::", 1) for k in found]}
    for f, s in REGISTRY:
        if f + "::" + s not in live:
            problems.append(
                f"DEAD registry entry: {f}::{s} no longer contains a "
                "fallback claim — remove it from the registry"
            )
    assert not problems, "\n".join(problems)


def test_audit_actually_sees_the_claims():
    """Floor guard: the scan must keep finding the known claim sites —
    a regex or walk regression must not silently empty the audit."""
    found = {k for k, _ in _scopes_with_claims()}
    assert ("operators/similarity.py", "<module>") in found
    assert (
        "plans/similarity_queries.py",
        "_verify_jaccard_on_candidates",
    ) in found
    # VERDICT r6 item 2: the widened regex must keep seeing the three
    # brute-force cosine routing sites that dodged the r6 regex
    assert ("plans/similarity_queries.py", "q_similarity_topk") in found
    assert ("plans/similarity_queries.py", "q_hard_negatives") in found
    assert ("operators/similarity.py", "cosine_pairs_above") in found
    assert len(found) >= 20
