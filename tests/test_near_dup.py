"""Near-dup engine tests (SURVEY §2.11 llm-3): the LSH fast path must
never lose a true high-Jaccard pair at contract scale (128 hashes / 32
bands → s-curve threshold ≈ 0.4, well under the 0.8 target).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_hw05_spark.operators.similarity import (
    lsh_candidate_pairs,
    minhash_signatures,
)
from mapreduce_hw05_spark.plans import QUERIES
from mapreduce_hw05_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.01"


def test_lsh_candidates_cover_true_high_jaccard_pairs(spark):
    docs = load_table(spark, SF_DIR, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=128)
    candidates = {
        (r["id1"], r["id2"])
        for r in lsh_candidate_pairs(sigs, "doc_id", num_bands=32).collect()
    }
    truth = {
        (r["id1"], r["id2"])
        for r in QUERIES["q_near_dup_jaccard"](spark, SF_DIR).collect()
    }
    assert truth, "fixture should contain high-Jaccard pairs at sf0.01"
    missed = truth - candidates
    assert not missed, f"LSH lost {len(missed)}/{len(truth)} true pairs: {sorted(missed)[:5]}"


def test_lsh_verified_output_equals_exact(spark):
    """LSH candidates + exact verify ≡ the exact pairwise query."""
    lsh = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in QUERIES["q_near_dup_lsh"](spark, SF_DIR).collect()
    }
    exact = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in QUERIES["q_near_dup_jaccard"](spark, SF_DIR).collect()
    }
    assert lsh == exact


def test_lsh_bucket_cap_identity_when_no_oversize_buckets(spark):
    """With the cap above the fixture's largest bucket (312 at sf0.01),
    the capped plan must return EXACTLY the uncapped candidate set."""
    docs = load_table(spark, SF_DIR, "documents")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=128)
    uncapped = {
        (r["id1"], r["id2"])
        for r in lsh_candidate_pairs(sigs, "doc_id", num_bands=32).collect()
    }
    capped = {
        (r["id1"], r["id2"])
        for r in lsh_candidate_pairs(
            sigs, "doc_id", num_bands=32, max_bucket_size=1000
        ).collect()
    }
    assert capped == uncapped


def test_lsh_bucket_cap_bounds_degenerate_constant_signature_corpus(spark):
    """The known LSH failure mode: a constant-signature block (identical
    docs — empty/boilerplate at 100 TB) forms a quadratic group inside
    every band's bucket join. The cap must reduce that block to a
    linear representative star while (a) keeping every member connected
    to the representative and (b) leaving small-bucket pairs untouched."""
    n_identical = 400
    rows = [(i, "boiler plate legal footer text") for i in range(n_identical)]
    # a true near-dup pair in a small bucket — must survive the cap
    rows += [
        (9001, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (9002, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"),
    ]
    # distinct singletons — no pairs either way
    rows += [(9100 + i, f"unique{i} token{i} word{i} item{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=32)

    uncapped = {
        (r["id1"], r["id2"])
        for r in lsh_candidate_pairs(sigs, "doc_id", num_bands=8).collect()
    }
    capped = {
        (r["id1"], r["id2"])
        for r in lsh_candidate_pairs(
            sigs, "doc_id", num_bands=8, max_bucket_size=100
        ).collect()
    }
    # uncapped: the identical block is quadratic
    block_pairs = {p for p in uncapped if p[0] < n_identical and p[1] < n_identical}
    assert len(block_pairs) == n_identical * (n_identical - 1) // 2
    # capped: the block collapses to the min-id star — linear, connected
    capped_block = {p for p in capped if p[0] < n_identical and p[1] < n_identical}
    assert capped_block == {(0, i) for i in range(1, n_identical)}
    # the small-bucket true pair is untouched by the cap
    assert (9001, 9002) in capped and (9001, 9002) in uncapped
    # capped candidates are a subset — the cap never invents pairs
    assert capped <= uncapped


def test_minhash_signatures_deterministic(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    s1 = {r["doc_id"]: tuple(r["signature"])
          for r in minhash_signatures(docs, num_hashes=32).collect()}
    s2 = {r["doc_id"]: tuple(r["signature"])
          for r in minhash_signatures(docs, num_hashes=32).collect()}
    assert s1 == s2
    assert all(len(sig) == 32 for sig in s1.values())


def test_shingle_minhash_rejects_shuffled_copy(spark):
    """A token-shuffled copy shares EVERY unigram (unigram MinHash
    pairs it) but almost no bigram shingle (shingle MinHash must not) —
    the order-sensitivity the shingle representation exists for."""
    base = " ".join(f"tok{i}" for i in range(40))
    shuffled = " ".join(f"tok{i}" for i in reversed(range(40)))
    rows = [(1, base), (2, shuffled), (3, base)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def cand_pairs(shingle):
        sigs = minhash_signatures(
            docs, "doc_id", "text", num_hashes=64, shingle=shingle
        )
        return {
            (r["id1"], r["id2"])
            for r in lsh_candidate_pairs(sigs, "doc_id", num_bands=16).collect()
        }

    uni = cand_pairs(1)
    sh = cand_pairs(2)
    assert (1, 2) in uni and (1, 3) in uni   # unigram sets identical
    assert (1, 3) in sh                      # true copy still pairs
    assert (1, 2) not in sh                  # shuffled copy rejected


def test_shingle_minhash_short_doc_sentinel_and_determinism(spark):
    """Docs with fewer tokens than the shingle width have an empty
    shingle set: they get the sentinel signature (identical across such
    docs, never colliding with real ones here), and the kernel is
    deterministic across runs and partitionings."""
    rows = [(1, "only two"), (2, "x"), (3, "a b c d e f g h")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    s1 = {
        r["doc_id"]: tuple(r["signature"])
        for r in minhash_signatures(
            docs, num_hashes=16, shingle=3
        ).collect()
    }
    s2 = {
        r["doc_id"]: tuple(r["signature"])
        for r in minhash_signatures(
            docs.repartition(3), num_hashes=16, shingle=3
        ).collect()
    }
    assert s1 == s2
    from mapreduce_hw05_spark.operators.similarity import _MERSENNE

    assert s1[1] == tuple([_MERSENNE] * 16)  # 2 tokens < shingle 3
    assert s1[2] == tuple([_MERSENNE] * 16)
    assert s1[3] != s1[1]


def test_containment_catches_subset_pairs_jaccard_misses(spark):
    """A short doc quoted inside a long one: containment = 1.0 while
    Jaccard is far below any dedup threshold — the coverage gap the
    containment contract closes."""
    quote = "to be or not to be that is the question"
    rows = [
        (1, quote),
        (2, quote + " " + " ".join(f"filler{i}" for i in range(90))),
        (3, " ".join(f"other{i}" for i in range(10))),  # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # reuse the contract's plan pieces via a temp view + the registry fn
    from mapreduce_hw05_spark.operators.text import tokenize
    from pyspark.sql import functions as F

    toks = tokenize(docs, "text", "doc_id").distinct()
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n"))
    t1 = toks.withColumnRenamed("doc_id", "id1")
    t2 = toks.withColumnRenamed("doc_id", "id2")
    inter = (
        t1.join(t2, "token")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_common"))
    )
    joined = (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id1", "n": "n1"}), "id1")
        .join(sizes.withColumnsRenamed({"doc_id": "id2", "n": "n2"}), "id2")
        .withColumn(
            "containment",
            F.col("n_common").cast("double") / F.least("n1", "n2"),
        )
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_common")),
        )
    )
    got = {(r["id1"], r["id2"]): (r["containment"], r["jaccard"])
           for r in joined.collect()}
    cont, jac = got[(1, 2)]
    assert cont == 1.0          # full subset
    assert jac < 0.15           # Jaccard would never flag it
    assert (1, 3) not in got and (2, 3) not in got


# --------------------------------------------------------------------------
# Semantic dedup (SemDeDup cluster-then-prune)
# --------------------------------------------------------------------------


def _unit(*v):
    import numpy as np

    a = np.array(v, dtype=float)
    return (a / np.linalg.norm(a)).tolist()


def test_semantic_dedup_greedy_invariants_on_crafted_clusters(spark):
    """Two well-separated clusters, each with a near-dup pair plus a
    distinct member: the lowest id of each dup pair is kept, its twin
    dropped, distinct members kept, nothing pruned across clusters."""
    import numpy as np

    from mapreduce_hw05_spark.operators.semdedup import semantic_dedup

    # cluster 0 ~ +x axis, cluster 1 ~ +y axis
    rows = [
        (1, _unit(1.0, 0.02, 0.0)),   # kept (first in cluster 0)
        (2, _unit(1.0, 0.03, 0.0)),   # dup of 1 -> dropped
        (3, _unit(0.6, 0.0, 0.8)),    # cluster 0 but dissimilar -> kept
        (10, _unit(0.0, 1.0, 0.02)),  # kept (first in cluster 1)
        (11, _unit(0.0, 1.0, 0.03)),  # dup of 10 -> dropped
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    centroids = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    got = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in semantic_dedup(emb, centroids, threshold=0.95).collect()
    }
    assert got == {
        1: (0, True),
        2: (0, False),
        3: (0, True),
        10: (1, True),
        11: (1, False),
    }


def test_semantic_dedup_partitioning_invariant(spark):
    """Same kept set regardless of input partitioning (greedy order is
    pinned by id sort inside each cluster group, not arrival order)."""
    from mapreduce_hw05_spark.operators.clustering import label_seeded_centroids
    from mapreduce_hw05_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, SF_DIR, "embeddings")
    centroids = label_seeded_centroids(emb)
    base = {
        (r["vec_id"], r["cluster"], r["kept"])
        for r in semantic_dedup(emb, centroids, 0.4).collect()
    }
    repart = {
        (r["vec_id"], r["cluster"], r["kept"])
        for r in semantic_dedup(emb.repartition(7), centroids, 0.4).collect()
    }
    assert base == repart
    assert any(not k for (_, _, k) in base), "threshold 0.4 should drop some"


def test_semantic_dedup_empty_input(spark):
    import numpy as np

    from mapreduce_hw05_spark.operators.semdedup import semantic_dedup

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = semantic_dedup(emb, np.eye(3), 0.5).collect()
    assert out == []


@pytest.mark.parametrize("shingle", [1, 2])
def test_near_dup_route_jobs(spark, tmp_path, shingle):
    """Spark jobs of the shared near-dup routes at sf0.001: one
    ``lsh_jaccard_pairs`` call plus its collect, and each stream-filter
    ``apply_batch`` (first batch, second batch, re-delivered id). The
    unigram route pays the vocab gate's count and the encoder's
    checkpoint; banding runs no job of its own."""
    from mapreduce_hw05_spark.plans.similarity_queries import (
        lsh_jaccard_pairs,
    )
    from mapreduce_hw05_spark.streaming import ops
    from tests.conftest import count_jobs
    from tests.test_streaming import _capture_foreach_batch

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    batch = count_jobs(
        spark, lambda: lsh_jaccard_pairs(docs, 0.8, shingle=shingle).collect()
    )
    ordered = docs.orderBy("doc_id").localCheckpoint()
    n = ordered.count()
    # one partition per chunk keeps isEmpty at one job on any core count
    chunks = [
        c.coalesce(1)
        for c in (ordered.limit(n // 2), ordered.subtract(ordered.limit(n // 2)))
    ]
    apply_batch = _capture_foreach_batch(
        ops.stream_near_dup_filter_foreachbatch,
        "doc_id", "text", str(tmp_path / "state"), str(tmp_path / "ckpt"),
        shingle=shingle,
    )
    stream = tuple(
        count_jobs(spark, lambda: apply_batch(chunks[b], b)) for b in (0, 1, 1)
    )
    assert (batch, stream) == ({1: 20, 2: 11}[shingle], (22, 26, 23))


@pytest.mark.parametrize("shingle", [1, 2])
def test_lsh_verify_shuffled_route_matches_broadcast(
    spark, monkeypatch, shingle
):
    """r5/r6: the verify-join broadcast gate is IMPLEMENTED routing, not
    prose — forcing the shuffled path (MAX_BROADCAST_TOKEN_DOCS = 0)
    must give the exact same pair set as the default broadcast path, for
    token sets and word-bigram sets alike (VERDICT r5 item 2: the
    shingle verify once re-grew an ungated broadcast)."""
    from mapreduce_hw05_spark.operators import similarity as sim
    from mapreduce_hw05_spark.plans.similarity_queries import (
        lsh_jaccard_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    want = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in lsh_jaccard_pairs(docs, 0.8, shingle=shingle).collect()
    }
    monkeypatch.setattr(sim, "MAX_BROADCAST_TOKEN_DOCS", 0)
    got = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in lsh_jaccard_pairs(docs, 0.8, shingle=shingle).collect()
    }
    assert got == want
    if shingle == 1:
        assert want  # non-empty on this fixture


def test_stream_near_dup_shuffled_route_matches_broadcast(
    spark, tmp_path, monkeypatch
):
    """Same routing check for the streaming admission filter: with the
    index-size gate forced to 0 (every batch takes the shuffled verify
    path), the admitted set must equal the batch answer."""
    import os

    from mapreduce_hw05_spark.operators import similarity as sim
    from mapreduce_hw05_spark.plans.similarity_queries import (
        lsh_jaccard_pairs,
    )
    from mapreduce_hw05_spark.streaming import ops
    from tests.test_streaming import _capture_foreach_batch

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    dropped = {r["id2"] for r in lsh_jaccard_pairs(docs, 0.8).collect()}
    expect = {r["doc_id"] for r in docs.select("doc_id").collect()} - dropped

    ordered = docs.orderBy("doc_id").localCheckpoint()
    n = ordered.count()
    chunks = [
        ordered.limit(n // 2),
        ordered.subtract(ordered.limit(n // 2)),
    ]
    state_root = str(tmp_path / "state")
    apply_batch = _capture_foreach_batch(
        ops.stream_near_dup_filter_foreachbatch,
        "doc_id", "text", state_root, str(tmp_path / "ckpt"),
    )
    monkeypatch.setattr(sim, "MAX_BROADCAST_TOKEN_DOCS", 0)
    for batch_id, chunk in enumerate(chunks):
        apply_batch(chunk, batch_id)
    admitted = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(state_root, "admitted")
        ).collect()
    }
    assert admitted == expect


def test_size_table_shuffled_route_matches_broadcast(spark, monkeypatch):
    """r6 (VERDICT r5 item 2, watch class): the per-doc SIZE-table
    broadcasts in the exact inverted-index near-dup family now route
    through the counted ``maybe_broadcast`` gate — with the doc cap
    forced to 0 (every size join shuffled) each contract's frame must
    be identical."""
    from mapreduce_hw05_spark.operators import similarity as sim
    from tests.conftest import compare_frames

    for name in (
        "q_near_dup_jaccard",
        "q_containment_near_dup",
        "q_near_dup_ngram",
        "q_prefix_filter_pairs",
    ):
        want = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.setattr(sim, "MAX_BROADCAST_TOKEN_DOCS", 0)
        got = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.undo()
        assert not compare_frames(got, want), name


def test_dict_encoded_verify_matches_string_route(spark, monkeypatch):
    """r12 (VERDICT r11 item 3): the unigram LSH verify's per-doc arrays
    are dictionary-encoded to int64 under the counted vocab gate. With
    the gate forced to 0 (string arrays, the pre-r12 route) each
    encoder-routed contract's frame must be identical — Jaccard is
    invariant under the injective relabeling. (The shingle path keeps
    the string route by measurement — see lsh_jaccard_pairs.)"""
    from mapreduce_hw05_spark.operators import similarity as sim
    from tests.conftest import compare_frames

    for name in ("q_near_dup_lsh", "q_dedup_clusters"):
        got = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.setattr(sim, "MAX_BROADCAST_VOCAB", 0)
        want = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.undo()
        assert not compare_frames(got, want), name


def test_dict_encode_elements_bijective_and_gated(spark, monkeypatch):
    """The encoder must assign one id per distinct element (a real
    dictionary — collision-free by construction), keep (doc_id, elem)
    pair multiplicity, and return None past the vocab gate."""
    from mapreduce_hw05_spark.operators import similarity as sim

    elems = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "b"), (2, "c"), (3, "a")],
        "doc_id long, token string",
    )
    enc = sim.dict_encode_elements(elems, "token")
    rows = enc.collect()
    assert enc.columns == ["doc_id", "token"]
    assert len(rows) == 5
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["token"])
    # bijection: doc 1 and 3 share exactly the id of "a"; 1 and 2 share "b"
    assert len(by_doc[1] | by_doc[2] | by_doc[3]) == 3
    assert len(by_doc[1] & by_doc[3]) == 1
    assert len(by_doc[1] & by_doc[2]) == 1
    assert not (by_doc[2] & by_doc[3])
    monkeypatch.setattr(sim, "MAX_BROADCAST_VOCAB", 2)
    assert sim.dict_encode_elements(elems, "token") is None


def test_verify_size_prefilter_keeps_exact_tie_pair(spark):
    """r6 size-ratio prefilter epsilon regression: at t = 7/51 with a
    7-token doc CONTAINED in a 51-token doc, the verify filter keeps the
    pair (double ``7/51 == t``) but the unguarded bound would drop it at
    the prefilter (``51*t = 7.000000000000001 > 7`` — the product rounds
    UP one ulp past the exact integer). The 1e-9 epsilon absorbs that
    ulp; the pair must survive to the exact verify. (t=0.8 never trips
    this — ``10*0.8`` round-to-evens back to 8.0 — so the test pins one
    of the thresholds where the hazard is real, found by brute-force
    search over p/q thresholds × integer size pairs.)"""
    from mapreduce_hw05_spark.plans.similarity_queries import (
        _verify_jaccard_on_candidates,
    )

    toks_small = [f"t{i}" for i in range(7)]
    toks_big = [f"t{i}" for i in range(51)]
    per_doc = spark.createDataFrame(
        [(1, sorted(toks_small)), (2, sorted(toks_big))],
        "doc_id long, toks array<string>",
    )
    sizes = spark.createDataFrame([(1, 7), (2, 51)], "doc_id long, sz long")
    cands = spark.createDataFrame([(1, 2)], "id1 long, id2 long")
    rows = _verify_jaccard_on_candidates(
        cands, per_doc, "toks", threshold=7 / 51, n_docs=2, sizes=sizes
    ).collect()
    assert [(r["id1"], r["id2"], r["jaccard"]) for r in rows] == [
        (1, 2, 0.137255)
    ]


def test_lm_score_empty_corpus(spark, tmp_path):
    """ADVICE r5: on an empty documents table sum(cnt) aggregates to
    NULL and the old float(None) normalizer raised TypeError at the
    driver — both LM contracts must now plan and return zero rows."""
    empty = spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    empty.write.parquet(str(tmp_path / "documents.parquet"))
    for name in ("q_lm_score", "q_bigram_lm_score"):
        assert QUERIES[name](spark, str(tmp_path)).collect() == [], name


def test_lm_score_shuffled_route_matches_broadcast(spark, monkeypatch):
    """r5: the LM scoring joins' broadcast gates are implemented routing
    — forcing the shuffled path (model cap 0) must give identical
    frames for both the unigram and bigram LM contracts."""
    from mapreduce_hw05_spark.operators import naive_bayes as nb
    from tests.conftest import compare_frames

    for name in ("q_lm_score", "q_bigram_lm_score"):
        want = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.setattr(nb, "MAX_BROADCAST_MODEL_ROWS", 0)
        got = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.undo()
        assert not compare_frames(got, want), name


def test_dim_broadcast_shuffled_route_matches_hinted(spark, monkeypatch):
    """r6: the TPC-H proportional-dim hints route through the file-stat
    gate (`sources.fixtures.dim_broadcast`) instead of a bare hint —
    with the byte cap forced to 0 (no hint anywhere, planner-chosen
    joins) each contract's frame must be identical."""
    from mapreduce_hw05_spark.sources import fixtures as fx
    from tests.conftest import compare_frames

    for name in (
        "q_tpch_q8",          # cust + part + supp hints in one plan
        "q_tpch_q2_mincost",  # part + EU-supplier-keys hints
        "q_item_item_cosine", # part-bounded degree tables
        "q_multi_supplier_late",
        "q_decontaminate",    # r6: corpus-split hash set (x1000 class)
        "q_fuzzy_name_match", # r6: near-unique name keys → cartesian
    ):
        want = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.setattr(fx, "MAX_BROADCAST_DIM_BYTES", 0)
        got = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.undo()
        assert not compare_frames(got, want), name


def test_kfold_model_shuffled_route_matches_broadcast(spark, monkeypatch):
    """r6 (found by the x1000 probe, OOM at 5 M docs): q_kfold_nb_accuracy's
    fold×lang×token likelihood broadcast is vocab-sized (Heaps-, not
    constant-, bounded) — it now routes on the counted model size like
    nb_score. Forcing the shuffled path must give an identical frame."""
    from mapreduce_hw05_spark.operators import naive_bayes as nb
    from tests.conftest import compare_frames

    want = QUERIES["q_kfold_nb_accuracy"](
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    monkeypatch.setattr(nb, "MAX_BROADCAST_MODEL_ROWS", 0)
    got = QUERIES["q_kfold_nb_accuracy"](
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    monkeypatch.undo()
    assert not compare_frames(got, want)


def test_gram_broadcast_shuffled_route_matches_hinted(spark, monkeypatch):
    """r6 (found by the x1000 probe, OOM at 5 M docs): the
    decontamination contracts' benchmark-gram broadcast is a CORPUS
    split, not a fixed eval suite — it now routes through the file-stat
    gate under ``MAX_BROADCAST_GRAM_SRC_BYTES``. With the cap forced to
    0 (no hint, planner-chosen joins) each contract's frame must be
    identical."""
    from mapreduce_hw05_spark.plans import pipeline_queries as pq
    from tests.conftest import compare_frames

    for name in ("q_decontaminate_ngram", "q_contamination_fraction"):
        want = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.setattr(pq, "MAX_BROADCAST_GRAM_SRC_BYTES", 0)
        got = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.undo()
        assert not compare_frames(got, want), name


def test_table_bytes_stat_semantics():
    """The gate's stat: real table > 0, missing path = -1 ("unknown,
    assume big" — dim_broadcast must NOT hint then)."""
    from mapreduce_hw05_spark.sources import table_bytes

    assert table_bytes("/root/testdata/sf0.001", "part") > 0
    assert table_bytes("/root/testdata/sf0.001", "no_such_table") == -1


def test_blocked_exact_search_route_matches_broadcast(spark, monkeypatch):
    """r7 (VERDICT r6 item 2): the brute-force cosine family's counted
    routing is IMPLEMENTED — with the reference cap forced to 0 (every
    search takes the blocked-and-distributed path), the block size
    forced to 37 rows (sf0.001's 500 vectors → 14 real blocks), and the
    probe-slice size forced to 41 rows (r9: the 2-D tiling's slice
    dimension → 13 real slices, ~180 (block, slice) tiles), every
    contract in the family must return an identical frame."""
    from mapreduce_hw05_spark.operators import similarity as sim
    from tests.conftest import compare_frames

    for name in (
        "q_similarity_topk",
        "q_knn_accuracy",
        "q_near_dup_embedding",
        "q_hard_negatives",
        "q_semantic_dedup",
    ):
        want = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.setattr(sim, "MAX_BROADCAST_REFERENCE_ROWS", 0)
        monkeypatch.setattr(sim, "EXACT_SEARCH_BLOCK_ROWS", 37)
        monkeypatch.setattr(sim, "PROBE_SLICE_ROWS", 41)
        got = QUERIES[name](spark, "/root/testdata/sf0.001").toPandas()
        monkeypatch.undo()
        assert not compare_frames(got, want), name


def test_blocked_exact_search_bit_identical_sims(spark, monkeypatch):
    """The blocked path's raw (unrounded) sims must equal the broadcast
    kernel's bit-for-bit WHILE the probe-side GEMM shape is unchanged
    (reference-only tiling): each sim is a single float64 dot product of
    the same two normalized vectors, and splitting the REFERENCE (the
    GEMM n-dim) never perturbs it. Tiling the PROBE side (the m-dim,
    r9's second tiling dimension) selects a different BLAS micro-kernel
    and may move sims one ulp — same effect as sims chunking — so that
    case asserts ids identical + sims ≤1e-12 + round-6 equality (the
    contract-level guarantee) instead."""
    import numpy as np

    from mapreduce_hw05_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def snap(df):
        return sorted(
            (r["id1"], r["id2"], r["sim"]) for r in df.collect()
        )

    want_topk = snap(
        sim.cosine_pairs_topk_per_row(emb, emb, "vec_id", "embedding", k=3, mode="knn")
    )
    want_thr = snap(sim.cosine_pairs_above(emb, 0.35, "vec_id", "embedding"))
    monkeypatch.setattr(sim, "MAX_BROADCAST_REFERENCE_ROWS", 0)
    monkeypatch.setattr(sim, "EXACT_SEARCH_BLOCK_ROWS", 37)
    got_topk = snap(
        sim.cosine_pairs_topk_per_row(emb, emb, "vec_id", "embedding", k=3, mode="knn")
    )
    got_thr = snap(sim.cosine_pairs_above(emb, 0.35, "vec_id", "embedding"))
    assert got_topk == want_topk  # exact float equality, no rounding
    assert got_thr == want_thr

    # probe-side tiling forced (m-dim changes): ulp-level sims, same ids
    monkeypatch.setattr(sim, "PROBE_SLICE_ROWS", 41)
    tiled_topk = snap(
        sim.cosine_pairs_topk_per_row(emb, emb, "vec_id", "embedding", k=3, mode="knn")
    )
    tiled_thr = snap(sim.cosine_pairs_above(emb, 0.35, "vec_id", "embedding"))
    monkeypatch.undo()
    for tiled, want in ((tiled_topk, want_topk), (tiled_thr, want_thr)):
        assert [(a, b) for a, b, _ in tiled] == [(a, b) for a, b, _ in want]
        ts = np.array([s for _, _, s in tiled])
        ws = np.array([s for _, _, s in want])
        assert np.allclose(ts, ws, rtol=1e-12, atol=0)
        assert (np.round(ts, 6) == np.round(ws, 6)).all()


def test_topk_per_row_fast_path_matches_fallback():
    """r9 (VERDICT r8 item 5): the argpartition composite-key fast path
    must reproduce the full-stable-argsort order EXACTLY — engineered
    1e-6-quantization ties, masked rows, k > candidate count, and the
    oversized-sim / NaN inputs that must take the fallback."""
    import numpy as np

    from mapreduce_hw05_spark.operators.similarity import _topk_per_row

    rng = np.random.default_rng(11)
    n_probe, n_ref, k = 300, 500, 7
    ids_all = np.arange(n_ref, dtype=np.int64) * 3 + 1  # ascending, gappy
    # heavy tie mass: sims quantized to 1e-6 multiples of few levels
    sims = rng.integers(-4, 5, size=(n_probe, n_ref)) * 1e-6 * 250_000
    sims += rng.standard_normal((n_probe, n_ref)) * 1e-9  # sub-quantum noise
    keep = rng.random((n_probe, n_ref)) > 0.3
    keep[5] = False  # fully-masked probe row

    def fallback(sims, keep, ids_all, k):
        ranked = np.where(
            keep & np.isfinite(sims), np.round(sims, 6), -np.inf
        )
        kk = min(k, ids_all.size)
        idx = np.argsort(-ranked, axis=1, kind="stable")[:, :kk]
        valid = np.isfinite(np.take_along_axis(ranked, idx, axis=1))
        rows, cols = np.nonzero(valid)
        return rows, idx[rows, cols]

    for kk in (k, n_ref + 10):  # also k > n_ref (everything kept)
        r_fast, p_fast = _topk_per_row(sims, keep, ids_all, kk)
        r_ref, p_ref = fallback(sims, keep, ids_all, kk)
        assert (r_fast == r_ref).all() and (p_fast == p_ref).all(), kk

    # oversized sims (|sim| > 537) and NaN must take the exact fallback
    big = sims.copy()
    big[0, 0] = 1e9
    r_big, p_big = _topk_per_row(big, keep, ids_all, k)
    r_ref, p_ref = fallback(big, keep, ids_all, k)
    assert (r_big == r_ref).all() and (p_big == p_ref).all()
    nan = sims.copy()
    nan[1, :] = np.nan  # all-NaN probe row → no output rows for it
    r_nan, p_nan = _topk_per_row(nan, keep, ids_all, k)
    r_ref, p_ref = fallback(nan, keep, ids_all, k)
    assert (r_nan == r_ref).all() and (p_nan == p_ref).all()
    assert 1 not in set(r_nan.tolist())


def test_sims_chunking_is_result_identical(spark, monkeypatch):
    """r9: the exact kernels chunk probe rows so the (chunk × n_ref)
    sims matrix stays bounded (an unchunked Arrow batch × a cap-sized
    reference would materialize hundreds of GB). Force ~2-33-row chunks
    (budget 10 kB) on BOTH physical routes: the selected (id1, id2)
    pairs and their ORDER must be identical; raw sims may drift in the
    last ulp because BLAS picks a different GEMM micro-kernel for short
    row-chunks (measured ~1e-16 relative) — the contract level rounds
    to 6 decimals, which absorbs that, asserted here at 1e-12."""
    import numpy as np

    from mapreduce_hw05_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")

    def snap():
        topk = sim.cosine_pairs_topk_per_row(
            emb, emb, "vec_id", "embedding", k=3, mode="knn"
        ).toPandas().sort_values(["id1", "id2"]).reset_index(drop=True)
        thr = sim.cosine_pairs_above(
            emb, 0.35, "vec_id", "embedding"
        ).toPandas().sort_values(["id1", "id2"]).reset_index(drop=True)
        return topk, thr

    def check(got, want):
        assert got[["id1", "id2"]].equals(want[["id1", "id2"]])
        assert np.allclose(got["sim"], want["sim"], rtol=1e-12, atol=0)
        # the contract-level guarantee: rounded sims identical
        assert (got["sim"].round(6) == want["sim"].round(6)).all()

    want_topk, want_thr = snap()
    monkeypatch.setattr(sim, "SIMS_CHUNK_BYTES", 10_000)
    got_topk, got_thr = snap()
    check(got_topk, want_topk)
    check(got_thr, want_thr)
    # blocked route too: force the shuffled path AND tiny chunks
    monkeypatch.setattr(sim, "MAX_BROADCAST_REFERENCE_ROWS", 0)
    monkeypatch.setattr(sim, "EXACT_SEARCH_BLOCK_ROWS", 37)
    got_topk, got_thr = snap()
    monkeypatch.undo()
    check(got_topk, want_topk)
    check(got_thr, want_thr)


def test_char_ngram_fingerprint_drops_null_text(spark):
    """r6 ADVICE: the map-only fingerprint must keep the original
    explode+groupBy ROW semantics — NULL-text docs produced no exploded
    grams, hence no row; the map-only select must filter its NULL
    fingerprints so >=2 NULL-text docs can never form a spurious
    NULL-fingerprint collision group."""
    from mapreduce_hw05_spark.functions.text_analysis import (
        char_ngram_fingerprint,
    )

    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, None), (3, None)],
        "doc_id long, text string",
    )
    rows = char_ngram_fingerprint(docs, "text", "doc_id", n=8).collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert all(r["fingerprint"] is not None for r in rows)


def test_blocked_exact_search_asymmetric_probe_reference(spark, monkeypatch):
    """VERDICT r9 item 6: the self-join identity tests reuse the counted
    n_ref for n_probe (``probe is reference``), so the asymmetric-shape
    path — which pays its OWN probe count and slice assignment — was
    unpinned. Engineer probe ≠ reference (disjoint id subsets, different
    row counts), force the 2-D tiling (cap 0, 37-row blocks, 29-row
    slices), and require the identical frame as the broadcast route;
    then re-run with the caller-threaded ``n_probe`` (ADVICE r9, saves
    the extra probe scan) and require the same frame again."""
    from mapreduce_hw05_spark.operators import similarity as sim

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probe = emb.filter(F.col("vec_id") % 3 == 0)
    reference = emb.filter(F.col("vec_id") % 3 != 0)
    n_probe = probe.count()
    n_ref = reference.count()
    assert n_probe != n_ref  # genuinely asymmetric

    def snap(**kw):
        return sorted(
            (r["id1"], r["id2"], round(r["sim"], 6))
            for r in sim.cosine_pairs_topk_per_row(
                probe, reference, "vec_id", "embedding",
                k=3, mode="knn", **kw
            ).collect()
        )

    want = snap()
    assert len(want) == 3 * n_probe  # every probe row found its k
    monkeypatch.setattr(sim, "MAX_BROADCAST_REFERENCE_ROWS", 0)
    monkeypatch.setattr(sim, "EXACT_SEARCH_BLOCK_ROWS", 37)
    monkeypatch.setattr(sim, "PROBE_SLICE_ROWS", 29)
    assert snap() == want                    # blocked, self-counted probe
    assert snap(n_probe=n_probe) == want     # blocked, caller-threaded count
    monkeypatch.undo()


def test_rint_reduce_key_matches_numpy_half_even(spark):
    """ADVICE r9 item 4's fix rests on one claim: Spark's ``rint(x*1e6)``
    (Math.rint) and the kernel's ``np.rint(x*1e6)`` are the SAME IEEE
    half-even rounding of the SAME float64 product — so the blocked
    route's final window orders candidates with bit-for-bit the key the
    per-tile pick packed. Pin it on engineered exact half-integer
    boundaries (the one place HALF_UP F.round would disagree), both
    parities (0.5→0, 1.5→2), negatives, and a grid of awkward doubles."""
    import numpy as np

    # exact halves at the 1e-6 quantum, ± parities, plus irrational-ish
    # values and the sim range bounds the kernel's magnitude gate allows
    vals = [
        0.0000005, 0.0000015, 0.0000025, -0.0000005, -0.0000015,
        0.9999995, -0.9999985, 0.3333333, -0.7071067, 1.0, -1.0,
        0.49999999999, 535.9999995, -535.9999995,
    ]
    df = spark.createDataFrame([(float(v),) for v in vals], "sim double")
    got = [
        r["k"]
        for r in df.select(
            F.rint(F.col("sim") * F.lit(1e6)).alias("k")
        ).collect()
    ]
    want = [float(np.rint(np.float64(v) * 1e6)) for v in vals]
    assert got == want  # exact float equality, no tolerance
    # and the disagreement this guards against is REAL: HALF_UP round
    # differs from half-even at every exact half boundary above
    halfup = [
        float(r["k"])
        for r in df.select(
            (F.round(F.col("sim"), 6) * F.lit(1e6)).alias("k")
        ).collect()
    ]
    assert halfup != want
