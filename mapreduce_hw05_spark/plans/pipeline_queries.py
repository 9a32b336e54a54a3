"""Training-data-pipeline depth queries (SURVEY §2.11 extensions):
unigram-LM quality scoring, n-gram decontamination, near-dup cluster
canonicalization, and an inverted-index build.

These complete the pipeline story beyond per-op contracts: score → filter,
overlap → drop, pair → cluster → keep-one-representative, token → postings.
All stay Catalyst-side; the only iteration (cluster closure) reuses the
checkpointed large-star/small-star connected components from
operators.graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_hw05_spark.operators.graph import connected_components_star
from mapreduce_hw05_spark.operators.text import tokenize, word_shingles
from mapreduce_hw05_spark.plans.common import (
    lng,
    ratio,
    snapshot_result,
    spread_small,
)
from mapreduce_hw05_spark.plans.registry import contract
from mapreduce_hw05_spark.plans.similarity_queries import lsh_jaccard_pairs
from mapreduce_hw05_spark.sources import dim_broadcast, load_table

#: File-stat cap for broadcasting a DISTINCT-8-gram set derived from the
#: documents table (the decontamination contracts' benchmark split).
#: An order tighter than MAX_BROADCAST_DIM_BYTES because shingling
#: inflates text ~8x before distinct (every token appears in up to 8
#: grams) plus JVM string overhead — 16 MiB of source parquet is roughly
#: the same in-memory broadcast as 128 MiB of a projected dimension.
#: The r6 x1000 probe OOMed the 8g JVM on exactly this class: the
#: fixture "benchmark" is a 1/16 hash split OF THE CORPUS, so the
#: "eval sets stay small" boundedness claim does not govern the
#: contract's own build side. Past the cap the SAME joins run
#: planner-chosen — identical results, one extra exchange (forced
#: no-hint identity test in tests/test_near_dup.py).
MAX_BROADCAST_GRAM_SRC_BYTES = 16 * 1024 * 1024

# --------------------------------------------------------------------------
# Unigram-LM scoring — per-doc negative log-likelihood under the corpus
# unigram distribution (the classic perplexity-proxy quality filter)
# --------------------------------------------------------------------------


@contract(
    "q_lm_score",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), vocab AS (
        SELECT token, count(*) AS cnt FROM toks GROUP BY token
    ), total AS (
        SELECT count(*) AS n FROM toks
    ), per_doc AS (
        SELECT t.doc_id,
               round(avg(-ln(v.cnt * 1.0 / total.n)), 6) AS nll
        FROM toks t JOIN vocab v ON t.token = v.token CROSS JOIN total
        GROUP BY t.doc_id
    )
    SELECT d.source,
           count(*) AS n_docs,
           round(avg(p.nll), 4) AS avg_nll,
           round(min(p.nll), 6) AS min_nll,
           round(max(p.nll), 6) AS max_nll,
           CAST(sum(CASE WHEN p.nll >= 5.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.source
    """,
)
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality filter: each document's mean negative
    log-likelihood under the corpus's own unigram LM, aggregated per
    source with a high-NLL (out-of-distribution) flag count.

    Two passes over the token stream: one token-keyed count (the LM), one
    doc-keyed average after a broadcast join of the LM onto the tokens.
    At 100 TB the vocab table is tiny relative to the corpus (Heaps' law)
    so the join side stays broadcast-able — and the gate is IMPLEMENTED,
    not assumed (r5): the same single setup action that computes the LM
    normalizer also returns the vocab row count, and past
    ``MAX_BROADCAST_MODEL_ROWS`` the scoring join runs shuffled with
    identical results. The per-doc NLL is rounded BEFORE the ≥5.0 flag
    test on both engines so the flag is hash-stable.
    """
    from mapreduce_hw05_spark.operators import naive_bayes as nb

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", "doc_id")
    vocab = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    # one scalar action: vocab size (the broadcast gate) + the LM
    # normalizer (sum of counts == total token occurrences)
    stats = vocab.agg(
        F.count("*").alias("v"), F.sum("cnt").alias("n")
    ).first()
    # ADVICE r5: on an empty corpus sum("cnt") is NULL → stats["n"] is
    # None and float(None) would raise at the driver before the plan
    # even launches. No token row flows through the join then, so the
    # normalizer constant is never evaluated — any nonzero value keeps
    # the (empty) result identical.
    total = stats["n"] or 1
    maybe_b = (
        F.broadcast
        if stats["v"] <= nb.MAX_BROADCAST_MODEL_ROWS
        else (lambda df: df)
    )
    nll_term = -F.log(F.col("cnt") * F.lit(1.0) / F.lit(float(total)))
    per_doc = (
        toks.join(maybe_b(vocab), "token")
        .groupBy("doc_id")
        .agg(F.round(F.avg(nll_term), 6).alias("nll"))
    )
    joined = per_doc.join(docs.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("nll"), 4).alias("avg_nll"),
        ratio(F.min("nll")).alias("min_nll"),
        ratio(F.max("nll")).alias("max_nll"),
        lng(F.sum((F.col("nll") >= 5.0).cast("int"))).alias("n_flagged"),
    )


# --------------------------------------------------------------------------
# N-gram decontamination — train docs sharing any word-8-gram with the
# held-out split (stronger than the exact-hash check in q_decontaminate)
# --------------------------------------------------------------------------


@contract(
    "q_decontaminate_ngram",
    oracle="""
    WITH splits AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ), grams AS (
        SELECT doc_id, lang, array_to_string(t[i:i+7], ' ') AS gram
        FROM (SELECT doc_id, lang, t,
                     unnest(generate_series(1, len(t) - 7)) AS i
              FROM splits)
    ), bench AS (
        SELECT DISTINCT gram FROM grams
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ), hits AS (
        SELECT DISTINCT doc_id, lang FROM grams
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> '0'
          AND gram IN (SELECT gram FROM bench)
    )
    SELECT lang, count(*) AS n_contaminated,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM hits GROUP BY lang
    """,
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """13-gram-style benchmark decontamination at n=8 (fixture docs are
    10–100 tokens): a training document is contaminated if ANY of its
    word-8-grams appears in the held-out split (same deterministic ~1/16
    doc_id hash split as q_decontaminate).

    Scale shape: a PRODUCTION benchmark gram set is fixed-small (eval
    suites don't grow with the train corpus) and always broadcasts; the
    CONTRACT's benchmark, though, is a 1/16 hash split of the corpus
    itself — corpus-proportional — so the hint is gated on a zero-action
    file stat of the source table vs ``MAX_BROADCAST_GRAM_SRC_BYTES``
    (the r6 x1000 probe OOMed the unconditional broadcast at 5 M docs).
    Past the cap the same semi join runs planner-chosen — identical
    results. The train gram stream is explode-only (no shuffle) until
    the final per-doc distinct + per-lang count. Production would hash
    grams to 64-bit before the join to shrink the broadcast; here the
    raw string join keeps the oracle shape identical.
    """
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    eligible = docs.filter(F.size(F.split(F.col("text"), " ")) >= 8)
    split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    bench_grams = (
        word_shingles(eligible.filter(split == "0"), 8, "text")
        .select("shingle")
        .distinct()
    )
    train_grams = word_shingles(
        eligible.filter(split != "0"), 8, "text", "doc_id", "lang"
    )
    hits = (
        train_grams.join(
            # corpus-split gram set: file-stat gated, see module constant
            dim_broadcast(
                bench_grams, sf_dir, "documents", MAX_BROADCAST_GRAM_SRC_BYTES
            ),
            "shingle",
            "left_semi",
        )
        .select("doc_id", "lang")
        .distinct()
    )
    return hits.groupBy("lang").agg(
        F.count("*").alias("n_contaminated"),
        lng(F.sum("doc_id")).alias("id_checksum"),
    )


# --------------------------------------------------------------------------
# Near-dup clusters — Jaccard ≥ 0.8 pairs → connected components →
# keep-one-representative groups (the actual dedup decision, not just pairs)
# --------------------------------------------------------------------------


@contract(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT t1.doc_id AS id1, t2.doc_id AS id2, count(*) AS n_common
        FROM toks t1 JOIN toks t2
          ON t1.token = t2.token AND t1.doc_id < t2.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id1, id2 FROM inter
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.8
    ), edges AS (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION ALL SELECT id2, id1 FROM pairs
    ), reach AS (
        SELECT src AS node, src AS comp FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.dst AS node, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
        SELECT node, min(comp) AS comp FROM reach GROUP BY node
    )
    SELECT comp AS keep_doc_id,
           count(*) AS cluster_size,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped,
           CAST(sum(node) AS BIGINT) AS member_checksum
    FROM labels GROUP BY comp
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup as actually applied: Jaccard ≥ 0.8 pairs become an
    undirected graph, connected components merge transitive near-dups into
    clusters, and the minimum doc_id is kept as the representative — every
    other member is dropped. Emits one row per cluster (representative,
    size, drop count, member checksum).

    This is the step pair-listing queries stop short of: A≈B and B≈C must
    drop {B, C} even when A≉C directly. Scale: pair generation is the LSH
    path (never all-pairs), components run large-star/small-star rounds
    with per-round checkpointing (O(log n) rounds whatever the cluster
    diameter), and the final agg is one shuffle on comp.
    """
    docs = load_table(spark, sf_dir, "documents")
    # ADVICE r11: no pre-spread — lsh_jaccard_pairs applies the
    # spread_small gate internally since r11.
    pairs = lsh_jaccard_pairs(docs, 0.8)
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    comps = connected_components_star(edges)
    return comps.groupBy(F.col("comp").alias("keep_doc_id")).agg(
        F.count("*").alias("cluster_size"),
        lng(F.count("*") - 1).alias("n_dropped"),
        lng(F.sum("node")).alias("member_checksum"),
    )


# --------------------------------------------------------------------------
# Inverted index — token → postings statistics (top-30 by doc frequency)
# --------------------------------------------------------------------------


@contract(
    "q_inverted_index",
    oracle="""
    WITH postings AS (
        SELECT token, doc_id, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY token, doc_id
    )
    SELECT token,
           count(*) AS df,
           CAST(sum(tf) AS BIGINT) AS n_occurrences,
           CAST(sum(doc_id) AS BIGINT) AS postings_checksum,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM postings
    GROUP BY token
    ORDER BY df DESC, token
    LIMIT 30
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over the corpus: per token, document frequency,
    total occurrences, and postings-list summary (checksum + min/max doc),
    top-30 tokens by df with a token tiebreak.

    One explode + two token-keyed hash aggregates (tf per (token, doc),
    then the postings rollup) — both partial-agg friendly, so the exploded
    stream combines map-side and only token-cardinality rows shuffle. The
    full-postings variant swaps the checksum for sort_array(collect_list)
    per token bucket.
    """
    docs = load_table(spark, sf_dir, "documents")
    postings = (
        tokenize(docs, "text", "doc_id")
        .groupBy("token", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return (
        postings.groupBy("token")
        .agg(
            F.count("*").alias("df"),
            lng(F.sum("tf")).alias("n_occurrences"),
            lng(F.sum("doc_id")).alias("postings_checksum"),
            lng(F.min("doc_id")).alias("first_doc"),
            lng(F.max("doc_id")).alias("last_doc"),
        )
        .orderBy(F.col("df").desc(), "token")
        .limit(30)
    )


# --------------------------------------------------------------------------
# Pseudonymization — salted-hash identifier replacement (privacy pass)
# --------------------------------------------------------------------------


@contract(
    "q_pseudonymize_users",
    oracle="""
    WITH p AS (
        SELECT event_type,
               sha256('pepper42' || CAST(user_id AS VARCHAR)) AS pseudo_id
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT pseudo_id) AS BIGINT) AS n_users,
           substr(min(pseudo_id), 1, 16) AS min_pseudo,
           substr(max(pseudo_id), 1, 16) AS max_pseudo
    FROM p GROUP BY event_type
    """,
)
def q_pseudonymize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy pass for training-data release: replace user ids with a
    salted SHA-256 pseudonym, then prove the mapping is stable and
    collision-free (distinct pseudonyms per type == distinct raw users)
    via per-type counts and min/max pseudonym prefixes.

    Pure Catalyst (sha2 in whole-stage codegen) — at 100 TB this is a
    scan-rate map plus one hash aggregate; the salt would come from a
    secret store, never the query text.
    """
    events = load_table(spark, sf_dir, "events")
    pseudo = events.select(
        "event_type",
        F.sha2(
            F.concat(F.lit("pepper42"), F.col("user_id").cast("string")), 256
        ).alias("pseudo_id"),
    )
    return pseudo.groupBy("event_type").agg(
        lng(F.count("*")).alias("n_events"),
        lng(F.countDistinct("pseudo_id")).alias("n_users"),
        F.substring(F.min("pseudo_id"), 1, 16).alias("min_pseudo"),
        F.substring(F.max("pseudo_id"), 1, 16).alias("max_pseudo"),
    )


# --------------------------------------------------------------------------
# Training-mixture reweighting — per-source sampling rates to a target mix
# --------------------------------------------------------------------------


@contract(
    "q_domain_mix",
    oracle="""
    WITH per_source AS (
        SELECT source,
               count(*) AS n_docs,
               sum(n_chars) AS n_chars
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(n_chars) AS total_chars,
               count(*) AS n_sources
        FROM per_source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           round(n_chars * 1.0 / tot.total_chars, 6) AS share,
           round(least(
               (1.0 / tot.n_sources) / (n_chars * 1.0 / tot.total_chars),
               3.0
           ), 6) AS mix_weight
    FROM per_source, tot
    """,
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture planning for a training corpus: each source's share of
    total characters and the sampling weight that moves the mix toward
    uniform-by-source, capped at 3× so rare sources are up-weighted but
    never dominated by repeats (the DoReMi/Pile-style static reweighting
    pass, computed from corpus stats alone).

    One per-source aggregate plus a broadcast one-row total — the output
    is a plan (source → weight) that a sampler applies scan-side, so the
    heavy data is read once at 100 TB and never shuffled.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = per_source.agg(
        F.sum("n_chars").alias("total_chars"), F.count("*").alias("n_sources")
    )
    share = F.col("n_chars") * F.lit(1.0) / F.col("total_chars")
    # one-row: global totals
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        lng(F.col("n_docs")).alias("n_docs"),
        lng(F.col("n_chars")).alias("n_chars"),
        ratio(share).alias("share"),
        ratio(F.least(F.lit(1.0) / F.col("n_sources") / share, F.lit(3.0))).alias(
            "mix_weight"
        ),
    )


# --------------------------------------------------------------------------
# Tokenizer training — BPE merge induction
# --------------------------------------------------------------------------


@contract(
    "q_bpe_merges",
    oracle="""
    SELECT CAST(10 AS BIGINT) AS n_merges,
           TRUE AS matches_local_reference
    """,
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge induction (10 merges) from the documents corpus via
    :mod:`operators.bpe` — the tokenizer-training pass of an LLM data
    pipeline. The working set is one row per DISTINCT word; each round
    counts adjacent symbol pairs in Catalyst, ships exactly one winning
    pair to the driver, and rewrites symbols with a vectorized pandas
    UDF. Deterministic tie-break (weight desc, pair asc) makes the merge
    list reproducible.

    Hashable shape: the merge list itself has no SQL analog, so the
    contract runs the pure-Python single-machine reference over the same
    word counts engine-side and emits whether the distributed learner
    reproduced it merge-for-merge — a genuine two-implementation
    differential, now driver-visible instead of test-only.
    """
    from mapreduce_hw05_spark.operators.bpe import (
        learn_bpe,
        learn_bpe_local,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, "text", n_merges=10)
    wc = {r["word"]: r["cnt"] for r in word_counts(docs, "text").collect()}  # differential: single-machine BPE reference (distinct-word vocab)
    matches = merges == learn_bpe_local(wc, n_merges=10)
    return spark.createDataFrame(
        [(len(merges), matches)],
        "n_merges long, matches_local_reference boolean",
    )


@contract(
    "q_bpe_encode",
    oracle="""
    WITH words AS (
        SELECT word, count(*) AS cnt FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
            FROM documents
        ) WHERE word <> '' GROUP BY word
    )
    SELECT count(*) AS n_words,
           CAST(sum(cnt) AS BIGINT) AS n_occurrences,
           TRUE AS roundtrip_exact,
           TRUE AS matches_local_encoder
    FROM words
    """,
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION: learn 10 BPE merges, encode the corpus —
    the vocabulary-build + encode pass that follows merge induction in
    an LLM data pipeline. Encoding runs on the distinct-word table (one
    pandas-UDF row per word type, never per occurrence).

    Hashable shape: the oracle independently recomputes the word-type
    and occurrence totals (whitespace tokenization is SQL-expressible);
    the engine emits those plus two booleans — every word's tokens
    concatenate back to the word + end mark (a DISTRIBUTED round-trip
    proof over all word types), and the distributed encoder agrees
    token-for-token with the single-machine greedy reference.
    """
    from mapreduce_hw05_spark.operators.bpe import (
        END,
        encode_words,
        encode_words_local,
        learn_bpe,
        word_counts,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = learn_bpe(docs, "text", n_merges=10)
    wc_df = word_counts(docs, "text").persist()
    try:
        encoded = encode_words(wc_df, merges)
        stats = encoded.agg(
            F.count("*").alias("n_words"),
            F.sum("cnt").alias("n_occurrences"),
            F.min(
                F.array_join("tokens", "")
                == F.concat(F.col("word"), F.lit(END))
            ).alias("roundtrip_exact"),
        ).first()
        got = {
            r["word"]: list(r["tokens"]) for r in encoded.collect()  # differential: distinct-word encodings vs local reference
        }
        want = encode_words_local(
            {r["word"]: r["cnt"] for r in wc_df.collect()}, merges  # differential: distinct-word vocab for local reference
        )
        matches = got == want
    finally:
        wc_df.unpersist()
    return spark.createDataFrame(
        [
            (
                stats["n_words"],
                stats["n_occurrences"],
                bool(stats["roundtrip_exact"]),
                matches,
            )
        ],
        "n_words long, n_occurrences long, "
        "roundtrip_exact boolean, matches_local_encoder boolean",
    )


# --------------------------------------------------------------------------
# The composed pass: quality filter → exact dedup → near-dup cluster
# removal, with per-source stage counts — the pipeline as users run it
# --------------------------------------------------------------------------


def _pretrain_oracle() -> str:
    from mapreduce_hw05_spark.functions.text_analysis import STOPWORDS

    stop_in = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    WITH RECURSIVE scored AS (
        SELECT doc_id, source, text,
               round(0.4 * least(1.0, len(text) / 300.0)
                   + 0.3 * (1.0 - len(list_filter(string_split(text, ' '),
                                 t -> t IN ({stop_in}))) * 1.0
                            / len(string_split(text, ' ')))
                   + 0.3 * (len(regexp_replace(text, '[^a-z]', '', 'g')) * 1.0
                            / len(text)), 6) AS quality
        FROM documents
    ), qual AS (
        SELECT doc_id, source, text FROM scored WHERE quality >= 0.5
    ), keepers AS (
        SELECT min(doc_id) AS doc_id FROM qual GROUP BY md5(text)
    ), survivors AS (
        SELECT q.doc_id, q.source, q.text
        FROM qual q JOIN keepers k ON q.doc_id = k.doc_id
    ), toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM survivors
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT t1.doc_id AS id1, t2.doc_id AS id2, count(*) AS n_common
        FROM toks t1 JOIN toks t2
          ON t1.token = t2.token AND t1.doc_id < t2.doc_id
        GROUP BY 1, 2
    ), near_pairs AS (
        SELECT id1, id2 FROM inter
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.8
    ), edges AS (
        SELECT id1 AS src, id2 AS dst FROM near_pairs
        UNION ALL SELECT id2, id1 FROM near_pairs
    ), reach AS (
        SELECT src AS node, src AS comp FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.dst AS node, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
        SELECT node, min(comp) AS comp FROM reach GROUP BY node
    ), final AS (
        SELECT s.doc_id, s.source, s.text FROM survivors s
        WHERE s.doc_id NOT IN (SELECT node FROM labels WHERE node <> comp)
    )
    SELECT r.source,
           r.n_raw,
           q.n_after_quality,
           e.n_after_exact,
           f.n_final,
           f.total_tokens
    FROM (SELECT source, count(*) AS n_raw
          FROM documents GROUP BY source) r
    JOIN (SELECT source, count(*) AS n_after_quality
          FROM qual GROUP BY source) q USING (source)
    JOIN (SELECT source, count(*) AS n_after_exact
          FROM survivors GROUP BY source) e USING (source)
    JOIN (SELECT source, count(*) AS n_final,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                     AS total_tokens
          FROM final GROUP BY source) f USING (source)
    """


@contract("q_pretrain_pipeline", oracle=_pretrain_oracle())
def q_pretrain_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline COMPOSED, as a user actually runs it:
    quality filter (heuristic score ≥ 0.5) → exact dedup (min doc_id per
    content hash) → near-dup removal (token-Jaccard ≥ 0.8 pairs →
    connected components → keep the minimum-id representative), reported
    as per-source survival counts at every stage plus the final token
    budget — the funnel report every corpus build ends with.

    One DAG end to end: every stage consumes the previous stage's
    DataFrame, so Catalyst sees the whole funnel (the quality projection
    prunes into the scan; the dedup aggregate and the Jaccard
    inverted-index join reuse the same survivor set). Scale shapes: the
    near-dup pair step is the LSH path above fixture scale, components
    run large-star/small-star, and every stage count is a
    partial-agg-friendly keyed count.
    """
    from mapreduce_hw05_spark.functions.text_analysis import quality_metrics
    from mapreduce_hw05_spark.operators.graph import connected_components_star

    docs = load_table(spark, sf_dir, "documents")
    qual = (
        quality_metrics(docs, "text")
        .filter(F.col("quality") >= 0.5)
        .select("doc_id", "source", "text")
        .persist()
    )
    keepers = qual.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id"))
    survivors = qual.join(
        keepers.select("doc_id"), "doc_id"
    ).persist()

    # Near-dup pairs over the survivors via the LSH fast path — the
    # SAME exact ≥0.8-Jaccard pair set as the inverted-index self-join
    # (lsh_jaccard_pairs docstring has the equivalence argument), but
    # the banded join touches only collision groups where the
    # inverted-index join emits Σ_token df(token)² rows (~350 M at
    # sf0.1 on this dense fixture — measured 20+ min vs ~1 min for the
    # whole funnel on the LSH path).
    from mapreduce_hw05_spark.plans.similarity_queries import (
        lsh_jaccard_pairs,
    )

    near_pairs = lsh_jaccard_pairs(survivors, 0.8).select(
        F.col("id1").alias("src"), F.col("id2").alias("dst")
    )
    comps = connected_components_star(near_pairs)
    drops = comps.filter(F.col("node") != F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    final = survivors.join(drops, "doc_id", "left_anti")

    per_raw = docs.groupBy("source").agg(F.count("*").alias("n_raw"))
    per_qual = qual.groupBy("source").agg(F.count("*").alias("n_after_quality"))
    per_exact = survivors.groupBy("source").agg(
        F.count("*").alias("n_after_exact")
    )
    per_final = final.groupBy("source").agg(
        F.count("*").alias("n_final"),
        lng(F.sum(F.size(F.split("text", " ")))).alias("total_tokens"),
    )
    result = (
        per_raw.join(per_qual, "source")
        .join(per_exact, "source")
        .join(per_final, "source")
    )
    out = snapshot_result(result)
    survivors.unpersist()
    qual.unpersist()
    return out


# --------------------------------------------------------------------------
# Bigram LM scoring — the sequence-model upgrade of q_lm_score's unigram
# --------------------------------------------------------------------------


@contract(
    "q_bigram_lm_score",
    oracle="""
    WITH arr AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
        SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 1)) AS i
              FROM arr WHERE len(t) >= 2)
    ), c2 AS (
        SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, sum(c) AS n FROM c2 GROUP BY w1
    ), vs AS (
        SELECT count(DISTINCT token) AS v
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    ), per_doc AS (
        SELECT b.doc_id,
               round(avg(-ln((m.c + 1.0) / (c1.n + (SELECT v FROM vs)))), 6)
                   AS nll
        FROM bg b
        JOIN c2 m ON m.w1 = b.w1 AND m.w2 = b.w2
        JOIN c1 ON c1.w1 = b.w1
        GROUP BY b.doc_id
    )
    SELECT d.lang,
           count(*) AS n_docs,
           round(avg(p.nll), 4) AS avg_nll,
           round(min(p.nll), 6) AS min_nll,
           round(max(p.nll), 6) AS max_nll
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.lang
    """,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NLL under the corpus's own Laplace-smoothed BIGRAM
    LM, aggregated per language — the sequence-sensitive perplexity
    filter (KenLM-style) one order above q_lm_score's unigram: a
    token-shuffled document scores differently here even though its
    unigram NLL is unchanged.

    One windowed lead pass emits bigrams (a single doc-keyed shuffle);
    the model is the (w1,w2)-count table with context totals derived
    from it (never a rescan), broadcast to the scoring join — vocabulary
    and bigram tables are Heaps'-bounded at corpus scale, with the usual
    shuffle-join fallback past the broadcast gate. Self-scoring means
    every bigram is in-model (count ≥ 1), so the plan needs no
    default-likelihood branch; per-doc NLL rounds at 6 before the
    per-language aggregates, the q_lm_score discipline.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w1")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select("doc_id", "w1", F.lead("w1", 1).over(w).alias("w2"))
        .filter(F.col("w2").isNotNull())
    ).localCheckpoint()
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c2.groupBy("w1").agg(F.sum("c").alias("n"))
    v = toks.select("w1").distinct().count()
    # broadcast gate (r5, implemented not assumed): the bigram model is
    # Heaps'-bounded but counted, not trusted — past the model cap both
    # scoring joins run shuffled with identical results. The count is
    # one agg over the already-checkpointed bigram rows; c1 <= c2 so
    # one gate covers both tables.
    from mapreduce_hw05_spark.operators import naive_bayes as nb

    maybe_b = (
        F.broadcast
        if c2.count() <= nb.MAX_BROADCAST_MODEL_ROWS
        else (lambda df: df)
    )
    per_doc = (
        bg.join(maybe_b(c2), ["w1", "w2"])
        .join(maybe_b(c1), "w1")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(-F.log((F.col("c") + 1.0) / (F.col("n") + F.lit(v)))), 6
            ).alias("nll")
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("nll"), 4).alias("avg_nll"),
            ratio(F.min("nll")).alias("min_nll"),
            ratio(F.max("nll")).alias("max_nll"),
        )
    )


# --------------------------------------------------------------------------
# Survivorship — field-level merge of each near-dup cluster
# --------------------------------------------------------------------------


@contract(
    "q_dedup_survivorship",
    oracle="""
    WITH RECURSIVE toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT t1.doc_id AS id1, t2.doc_id AS id2, count(*) AS n_common
        FROM toks t1 JOIN toks t2
          ON t1.token = t2.token AND t1.doc_id < t2.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id1, id2 FROM inter
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.8
    ), edges AS (
        SELECT id1 AS src, id2 AS dst FROM pairs
        UNION ALL SELECT id2, id1 FROM pairs
    ), reach AS (
        SELECT src AS node, src AS comp FROM (SELECT DISTINCT src FROM edges)
        UNION
        SELECT e.dst AS node, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ), labels AS (
        SELECT node, min(comp) AS comp FROM reach GROUP BY node
    ), members AS (
        SELECT l.comp, d.doc_id, d.n_chars, d.lang,
               row_number() OVER (PARTITION BY l.comp
                                  ORDER BY d.n_chars DESC, d.doc_id) AS rn
        FROM labels l JOIN documents d ON l.node = d.doc_id
    ), lang_sets AS (
        SELECT comp, string_agg(lang, ',' ORDER BY lang) AS langs
        FROM (SELECT DISTINCT comp, lang FROM members)
        GROUP BY comp
    )
    SELECT m.comp AS keep_doc_id,
           count(*) AS cluster_size,
           CAST(max(m.n_chars) AS BIGINT) AS best_n_chars,
           CAST(min(CASE WHEN m.rn = 1 THEN m.doc_id END) AS BIGINT)
               AS best_text_doc,
           any_value(ls.langs) AS langs
    FROM members m JOIN lang_sets ls ON m.comp = ls.comp
    GROUP BY m.comp
    """,
)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship on the near-dup clusters: each cluster keeps the
    min-id representative key but MERGES fields across members — the
    longest text wins (doc_id tiebreak), n_chars takes the max, and the
    language set is released sorted — the entity-resolution 'golden
    record' step that follows q_dedup_clusters' pure drop.

    Same LSH-pairs → star-CC cluster derivation (never all-pairs); the
    merge itself is one aggregate over cluster-keyed members plus a
    members-sized window for the deterministic best-text pick. Like
    q_pretrain_pipeline, the EXACT all-pairs oracle is fixture-scale
    (sf0.01 — the driver's gate) by definition: at sf0.1 the dense
    fixture's inverted-index oracle spills ~45 GB in DuckDB while the
    engine's LSH path answers in ~56 s.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    # ADVICE r11: no pre-spread — lsh_jaccard_pairs spreads internally.
    pairs = lsh_jaccard_pairs(docs, 0.8)
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    comps = connected_components_star(edges)
    members = comps.join(
        docs.select("doc_id", "n_chars", "lang"),
        comps.node == F.col("doc_id"),
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("comp").orderBy(
                F.col("n_chars").desc(), "doc_id"
            )
        ),
    )
    lang_sets = (
        members.select("comp", "lang")
        .distinct()
        .groupBy("comp")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("lang"))).alias(
                "langs"
            )
        )
    )
    return (
        members.join(lang_sets, "comp")
        .groupBy(F.col("comp").alias("keep_doc_id"))
        .agg(
            F.count("*").alias("cluster_size"),
            lng(F.max("n_chars")).alias("best_n_chars"),
            lng(
                F.min(F.when(F.col("rn") == 1, F.col("doc_id")))
            ).alias("best_text_doc"),
            F.any_value("langs").alias("langs"),
        )
    )


# --------------------------------------------------------------------------
# Contamination-fraction report — per contaminated train doc, what share
# of its distinct 8-grams appears in the benchmark split
# --------------------------------------------------------------------------


@contract(
    "q_contamination_fraction",
    oracle="""
    WITH splits AS (
        SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ), grams AS (
        SELECT DISTINCT doc_id, lang, array_to_string(t[i:i+7], ' ') AS gram
        FROM (SELECT doc_id, lang, t,
                     unnest(generate_series(1, len(t) - 7)) AS i
              FROM splits)
    ), bench AS (
        SELECT DISTINCT gram FROM grams
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
    ), scored AS (
        SELECT g.doc_id, g.lang,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM grams g LEFT JOIN bench b ON g.gram = b.gram
        WHERE substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 1) <> '0'
        GROUP BY 1, 2
    )
    SELECT doc_id, lang, n_grams, n_hit,
           CAST(n_hit AS DOUBLE) / n_grams AS overlap_frac
    FROM scored WHERE n_hit > 0
    """,
)
def q_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination REPORT: for every train-split document
    with any benchmark 8-gram overlap, the fraction of its distinct
    8-grams found in the held-out split. [[q_decontaminate_ngram]] is
    the binary drop decision; this is the graded evidence a data-audit
    wants (0.05 = incidental phrase, 0.9 = the benchmark leaked) —
    thresholding overlap_frac instead of `any` is how production
    decontamination avoids nuking docs over one idiom.

    Exact arithmetic: distinct-gram and hit counts are BIGINT, the
    fraction is one exact-int divide (engine-identical) — no rounding.
    Scale: gram explode is shuffle-free and the per-doc aggregate
    shuffles on doc_id like any rollup. The benchmark side broadcasts
    under the same file-stat gate as q_decontaminate_ngram
    (``MAX_BROADCAST_GRAM_SRC_BYTES`` — the contract's "benchmark" is a
    corpus split, so it grows with the corpus; a real fixed eval suite
    always fits); past the cap the same left join runs planner-chosen —
    identical results. The left join + conditional sum (vs the
    semi-join in the drop contract) is what yields the denominator for
    free.
    """
    docs = spread_small(load_table(spark, sf_dir, "documents"))
    eligible = docs.filter(F.size(F.split(F.col("text"), " ")) >= 8)
    split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    grams = word_shingles(eligible, 8, "text", "doc_id", "lang").distinct()
    g_split = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    bench = (
        grams.filter(g_split == "0")
        .select(F.col("shingle").alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    scored = (
        grams.filter(g_split != "0")
        .join(
            # corpus-split gram set: file-stat gated, see module constant
            dim_broadcast(
                bench, sf_dir, "documents", MAX_BROADCAST_GRAM_SRC_BYTES
            ),
            grams["shingle"] == bench["gram"],
            "left",
        )
        .groupBy("doc_id", "lang")
        .agg(
            lng(F.count("*")).alias("n_grams"),
            lng(F.sum(F.coalesce(F.col("hit"), F.lit(0)))).alias("n_hit"),
        )
    )
    return scored.filter(F.col("n_hit") > 0).select(
        "doc_id",
        "lang",
        "n_grams",
        "n_hit",
        (F.col("n_hit").cast("double") / F.col("n_grams")).alias(
            "overlap_frac"
        ),
    )
