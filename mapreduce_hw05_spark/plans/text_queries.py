"""Text / LLM-pipeline contract queries (SURVEY §2.11 llm-1/4/5/6, §2.7 f-6/f-8).

All token work is Catalyst-side (explode/split); see operators.text.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_hw05_spark.operators.text import exact_duplicates, tokenize, word_counts
from mapreduce_hw05_spark.plans.common import lng, ratio
from mapreduce_hw05_spark.plans.registry import contract
from mapreduce_hw05_spark.sources import load_table

# --------------------------------------------------------------------------
# llm-1 / f-8 — exact dedup via md5 hash-groupBy (HAVING > 1)
# --------------------------------------------------------------------------


@contract(
    "q_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, count(*) AS n_dups
    FROM documents
    GROUP BY md5(text)
    HAVING count(*) > 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate document groups (empty at sf0.01 — the schema and
    the empty hash must still match the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs, "text")


# --------------------------------------------------------------------------
# llm-4 — wordcount (the genre's own flagship), top-20
# --------------------------------------------------------------------------


@contract(
    "q_wordcount",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT 20
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens over documents.text (count desc, token tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    return word_counts(docs).orderBy(F.col("n").desc(), "token").limit(20)


# --------------------------------------------------------------------------
# llm-5 — per-language corpus stats
# --------------------------------------------------------------------------


@contract(
    "q_text_stats_by_lang",
    oracle="""
    WITH doc_stats AS (
        SELECT lang,
               count(*) AS n_docs,
               round(avg(n_chars), 4) AS avg_chars,
               round(avg(len(string_split(text, ' '))), 6) AS avg_tokens_per_doc
        FROM documents
        GROUP BY lang
    ), token_stats AS (
        SELECT lang, count(DISTINCT token) AS n_distinct_tokens
        FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY lang
    )
    SELECT d.lang, d.n_docs, d.avg_chars, d.avg_tokens_per_doc,
           t.n_distinct_tokens
    FROM doc_stats d JOIN token_stats t ON d.lang = t.lang
    """,
)
def q_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per language: doc count, avg chars, avg tokens/doc, distinct tokens."""
    docs = load_table(spark, sf_dir, "documents")
    doc_stats = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        ratio(F.avg(F.size(F.split(F.col("text"), " ")))).alias("avg_tokens_per_doc"),
    )
    token_stats = (
        tokenize(docs, "text", "lang")
        .groupBy("lang")
        .agg(F.countDistinct("token").alias("n_distinct_tokens"))
    )
    return doc_stats.join(token_stats, "lang").select(
        "lang", "n_docs", "avg_chars", "avg_tokens_per_doc", "n_distinct_tokens"
    )


# --------------------------------------------------------------------------
# llm-6 — TF-IDF: top-3 terms per source
# --------------------------------------------------------------------------


@contract(
    "q_tfidf_top_terms",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), n_docs AS (
        SELECT count(*) AS n FROM documents
    ), doc_freq AS (
        SELECT token, count(DISTINCT doc_id) AS df
        FROM tokens GROUP BY token
    ), tf AS (
        SELECT source, token, count(*) AS cnt
        FROM tokens GROUP BY source, token
    ), scored AS (
        SELECT tf.source, tf.token,
               round(tf.cnt * ln(CAST(n.n AS DOUBLE) / d.df), 6) AS tfidf
        FROM tf
        JOIN doc_freq d ON tf.token = d.token
        CROSS JOIN n_docs n
    )
    SELECT source, token, tfidf, rnk
    FROM (
        SELECT source, token, tfidf,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY tfidf DESC, token) AS BIGINT) AS rnk
        FROM scored
    )
    WHERE rnk <= 3
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per source by TF-IDF (tf = source-level term count,
    idf = ln(total docs / docs containing term)).

    Ranking happens on the *rounded* score + token tiebreak so the top-3
    set is deterministic across engines. Scale: two token-keyed
    aggregates + one broadcast-able doc_freq join; nothing quadratic.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", "doc_id", "source")
    n_docs = docs.count()  # scalar, computed once; fine to inline as literal
    doc_freq = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    tf = toks.groupBy("source", "token").agg(F.count("*").alias("cnt"))
    # vocab-sized: token document-frequency table
    scored = tf.join(F.broadcast(doc_freq), "token").select(
        "source",
        "token",
        ratio(F.col("cnt") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    w = W.partitionBy("source").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.withColumn("rnk", lng(F.row_number().over(w)))
        .filter(F.col("rnk") <= 3)
        .select("source", "token", "tfidf", "rnk")
    )


# --------------------------------------------------------------------------
# f-6 — array functions over the embedding column
# --------------------------------------------------------------------------


@contract(
    "q_array_ops",
    oracle="""
    SELECT CAST(label AS BIGINT) AS label,
           count(*) AS n_vecs,
           CAST(max(len(embedding)) AS BIGINT) AS dim,
           round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS avg_first,
           round(avg(sqrt(list_sum(
               list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))), 6) AS avg_norm,
           CAST(sum(CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos_first
    FROM embeddings
    GROUP BY label
    """,
)
def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array battery over embeddings: size, element_at, higher-order L2 norm.

    (Contract-scale only — the performant vector path is the pandas_udf
    kernel in operators.similarity; Catalyst higher-order functions are
    ~40× slower for per-row vector math, see BASELINE.md q11.)
    """
    emb = load_table(spark, sf_dir, "embeddings")
    first = F.element_at("embedding", 1).cast("double")
    norm = F.sqrt(
        F.aggregate(
            "embedding",
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return emb.groupBy(lng(F.col("label")).alias("label")).agg(
        F.count("*").alias("n_vecs"),
        lng(F.max(F.size("embedding"))).alias("dim"),
        ratio(F.avg(first)).alias("avg_first"),
        ratio(F.avg(norm)).alias("avg_norm"),
        lng(F.sum(F.when(first > 0, 1).otherwise(0))).alias("n_pos_first"),
    )


# --------------------------------------------------------------------------
# Heavy hitters — space-saving frequent tokens (mergeable O(k) summaries)
# --------------------------------------------------------------------------


@contract(
    "q_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, count(*) AS n_occurrences
    FROM toks GROUP BY token
    ORDER BY n_occurrences DESC, token
    LIMIT 20
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most frequent tokens via SPACE-SAVING summaries instead of
    a full wordcount shuffle: each partition reduces its token stream to
    an O(k) (item, count, err) summary in one map pass; only one summary
    blob per partition reaches the driver-side mergeable-summaries fold
    (the shared sketch path of operators/sketches.py, for frequent
    items). With k = 4096 far above this corpus's vocabulary no counter
    is ever evicted, so counts are provably EXACT and the top-20 is
    hash-comparable to the plain GROUP BY oracle; the eviction regime's
    (n/k)-error and no-lost-heavy-hitter guarantees are engine-tested on
    crafted Zipf data (tests/test_engine_ops.py).
    """
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving
    from mapreduce_hw05_spark.operators.sketches import fold, sketch_partials
    from mapreduce_hw05_spark.plans.common import spread_small

    new = partial(SpaceSaving, 4096)
    toks = tokenize(spread_small(load_table(spark, sf_dir, "documents")), "text")
    parts = sketch_partials(toks, [], "token", new)
    merged = fold([r["sketch"] for r in parts.collect()], new)  # bounded: one O(k) summary per partition
    return spark.createDataFrame(
        [(it, int(c)) for it, c, _err in merged.top(20)],
        "token string, n_occurrences long",
    )


# --------------------------------------------------------------------------
# llm-1 (ext) — BM25 ranked retrieval over the inverted index
# --------------------------------------------------------------------------


@contract(
    "q_bm25_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), doc_len AS (
        SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM doc_len
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM toks WHERE token IN ('dup', 'join', 'scan')
        GROUP BY doc_id, token
    ), df AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token
    )
    SELECT tf.doc_id,
           round(sum(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * 2.2
               / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))
           ), 6) AS bm25
    FROM tf
    JOIN df USING (token)
    JOIN doc_len USING (doc_id)
    CROSS JOIN stats
    GROUP BY tf.doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 (Lucene idf variant, k1=1.2, b=0.75) for
    the fixed query {dup, join, scan} — ranked retrieval over the same
    token model as q_inverted_index / q_tfidf_top_terms.

    Scale shape: postings for the query terms only (the term filter
    reaches the token explode), one doc-keyed join against the doc-length
    table, per-doc sum over ≤ |query| terms, and a TakeOrdered top-20.
    The per-term df table and the two corpus scalars (n_docs, avg_dl —
    one aggregate job, inlined as literals) broadcast trivially. Scores
    round to 6 dp on both engines before the cut; doc_id breaks ties.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", "doc_id")
    doc_len = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs, avg_dl = doc_len.agg(
        F.count("*").cast("double"), F.avg("dl")
    ).collect()[0]  # driver-sized: single aggregate row
    tf = (
        toks.filter(F.col("token").isin("dup", "join", "scan"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.lit(avg_dl))
    return (
        # vocab-sized: token document-frequency table
        tf.join(F.broadcast(df), "token")
        .join(doc_len, "doc_id")
        .groupBy("doc_id")
        .agg(ratio(F.sum(idf * F.col("tf") * 2.2 / denom)).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Phrase search — corpus-argmax trigram, matched back positionally
# --------------------------------------------------------------------------


@contract(
    "q_phrase_search",
    oracle="""
    WITH arr AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), tri AS (
        SELECT doc_id,
               t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS g
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, len(t) - 2)) AS i
              FROM arr WHERE len(t) >= 3)
    ), top AS (
        SELECT g, count(*) AS c FROM tri GROUP BY g
        ORDER BY c DESC, g LIMIT 1
    ), hits AS (
        SELECT doc_id, count(*) AS n_occ FROM tri
        WHERE g = (SELECT g FROM top) GROUP BY doc_id
    )
    SELECT (SELECT g FROM top) AS phrase,
           CAST((SELECT c FROM top) AS BIGINT) AS n_occurrences,
           count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum
    FROM hits
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Find the corpus's most frequent word trigram (min-phrase tiebreak),
    then phrase-match it back positionally: occurrence total, matching
    docs, and their id checksum — exact phrase retrieval without a LIKE
    scan, the positional-index complement to q_bm25_topk's bag-of-words
    ranking.

    One windowed lead-pass builds trigrams (a single doc-keyed shuffle —
    never a positions self-join); the argmax phrase is a driver scalar
    (top-1 row), and the match reuses the same trigram stream. Both
    sides are exact strings/integers end to end.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        toks.select(
            "doc_id",
            F.concat_ws(
                " ", "w", F.lead("w", 1).over(w), F.lead("w", 2).over(w)
            ).alias("g"),
            F.lead("w", 2).over(w).isNotNull().alias("full"),
        )
        .filter(F.col("full"))
        .drop("full")
    )
    # materialize the trigram stream once: the argmax action and the
    # returned (lazy) match plan both read the checkpoint instead of
    # re-deriving the window pass
    tri = tri.localCheckpoint()
    top = (
        tri.groupBy("g")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "g")
        .limit(1)
        .first()
    )
    phrase, n_occ = top["g"], int(top["c"])
    hits = tri.filter(F.col("g") == phrase).groupBy("doc_id").agg(
        F.count("*").alias("n_occ")
    )
    return hits.agg(
        F.lit(phrase).alias("phrase"),
        F.lit(n_occ).cast("long").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
        lng(F.sum("doc_id")).alias("id_checksum"),
    )


# --------------------------------------------------------------------------
# llm-1b (ext) — reciprocal-rank fusion of two retrieval rankings
# --------------------------------------------------------------------------


@contract(
    "q_rrf_fusion",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), doc_len AS (
        SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
    ), stats AS (
        SELECT count(*) AS n_docs, avg(dl) AS avg_dl FROM doc_len
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf
        FROM toks WHERE token IN ('dup', 'join', 'scan')
        GROUP BY doc_id, token
    ), df AS (
        SELECT token, count(*) AS df FROM tf GROUP BY token
    ), bm25 AS (
        SELECT tf.doc_id,
               round(sum(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * tf * 2.2
                   / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl))
               ), 6) AS bm25
        FROM tf
        JOIN df USING (token)
        JOIN doc_len USING (doc_id)
        CROSS JOIN stats
        GROUP BY tf.doc_id
        ORDER BY bm25 DESC, doc_id
        LIMIT 50
    ), la AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
        FROM bm25
    ), lenlist AS (
        SELECT doc_id, dl FROM doc_len ORDER BY dl DESC, doc_id LIMIT 50
    ), lb AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY dl DESC, doc_id) AS rb
        FROM lenlist
    ), fused AS (
        SELECT coalesce(la.doc_id, lb.doc_id) AS doc_id,
               CAST(coalesce(la.ra, 0) AS BIGINT) AS rank_bm25,
               CAST(coalesce(lb.rb, 0) AS BIGINT) AS rank_len,
               (CASE WHEN la.ra IS NOT NULL
                     THEN 1.0 / (60 + la.ra) ELSE 0.0 END)
               + (CASE WHEN lb.rb IS NOT NULL
                       THEN 1.0 / (60 + lb.rb) ELSE 0.0 END) AS rrf
        FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id
    )
    SELECT doc_id, rank_bm25, rank_len, rrf
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two top-50 retrieval lists —
    BM25 for the fixed query {dup, join, scan} and a document-length
    prior — the standard hybrid-search combiner run before reranking.

    Each list is a distributed TakeOrdered top-50 with a doc_id
    tiebreak; ranks are assigned by a 50-row window AFTER the cut, the
    RRF contribution 1/(60+r) is one exact division per list, and the
    fused score is a single IEEE add — bit-identical cross-engine with
    no rounding. Absent-from-list ranks emit as 0 so every column stays
    integer-kinded. At 100 TB each retriever's top-k is the only
    full-corpus pass; the fusion joins two 50-row sides.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(docs, "text", "doc_id")
    doc_len = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    n_docs, avg_dl = doc_len.agg(
        F.count("*").cast("double"), F.avg("dl")
    ).collect()[0]  # driver-sized: single aggregate row
    tf = (
        toks.filter(F.col("token").isin("dup", "join", "scan"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log((F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.lit(avg_dl))
    bm25 = (
        # vocab-sized: token document-frequency table
        tf.join(F.broadcast(df), "token")
        .join(doc_len, "doc_id")
        .groupBy("doc_id")
        .agg(ratio(F.sum(idf * F.col("tf") * 2.2 / denom)).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
    )
    la = bm25.select(
        "doc_id",
        F.row_number()
        # global-window: top-50 slice (limit above)
        .over(Window.orderBy(F.col("bm25").desc(), "doc_id"))
        .alias("ra"),
    )
    lb = (
        doc_len.orderBy(F.col("dl").desc(), "doc_id")
        .limit(50)
        .select(
            "doc_id",
            F.row_number()
            # global-window: top-50 slice (limit above)
            .over(Window.orderBy(F.col("dl").desc(), "doc_id"))
            .alias("rb"),
        )
    )
    fused = la.join(lb, "doc_id", "full").select(
        "doc_id",
        F.coalesce(F.col("ra"), F.lit(0)).cast("long").alias("rank_bm25"),
        F.coalesce(F.col("rb"), F.lit(0)).cast("long").alias("rank_len"),
        (
            F.when(
                F.col("ra").isNotNull(), F.lit(1.0) / (60 + F.col("ra"))
            ).otherwise(F.lit(0.0))
            + F.when(
                F.col("rb").isNotNull(), F.lit(1.0) / (60 + F.col("rb"))
            ).otherwise(F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(20)


# --------------------------------------------------------------------------
# f-6b (ext) — higher-order array function battery (filter/exists/zip_with)
# --------------------------------------------------------------------------


@contract(
    "q_array_hof",
    oracle="""
    SELECT CAST(label AS BIGINT) AS label,
           count(*) AS n_vecs,
           CAST(sum(len(list_filter(embedding, x -> x > 0))) AS BIGINT)
               AS total_pos,
           CAST(sum(CASE WHEN len(list_filter(embedding, x -> x > 0.5))
                              > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_any_large,
           CAST(sum(CASE WHEN len(list_filter(embedding, x -> x >= -1.0))
                              = len(embedding)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_all_bounded,
           round(avg(list_reduce(
               list_transform(
                   list_zip(embedding, list_reverse(embedding)),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)
               ),
               (a, b) -> a + b
           )), 6) AS avg_self_rev_dot
    FROM embeddings
    GROUP BY label
    """,
)
def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function battery over the embedding column —
    the lambda-capability surface beyond [[q_array_ops]]'s
    size/element_at/aggregate: ``filter`` (positive-component count),
    ``exists`` (any component > 0.5), ``forall`` (all ≥ −1), and
    ``zip_with`` + ``reverse`` (dot product of the vector with its own
    reversal, an order-sensitive kernel that proves element pairing).

    Cross-engine note: Spark's exists/forall are expressed in DuckDB as
    len(list_filter(...)) predicates — same semantics. The zip_with dot
    is an ORDERED fold on both engines (aggregate HOF vs list_reduce
    over the same construction order), so the doubles are identical
    pre-rounding; avg() is a multi-doc sum, hence round 6 like its
    sibling. All lambdas are JVM-side interpreted HOF eval (HOF lambdas
    never codegen — see word_shingles' r6 lesson) — fine at 64 dims,
    and still no Python in the path.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    d = F.col("embedding")
    pos_count = F.size(F.filter(d, lambda x: x > 0))
    any_large = F.exists(d, lambda x: x > 0.5)
    all_bounded = F.forall(d, lambda x: x >= -1.0)
    self_rev_dot = F.aggregate(
        F.zip_with(
            d,
            F.reverse(d),
            lambda a, b: a.cast("double") * b.cast("double"),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return emb.groupBy(lng(F.col("label")).alias("label")).agg(
        F.count("*").alias("n_vecs"),
        lng(F.sum(pos_count)).alias("total_pos"),
        lng(F.sum(any_large.cast("int"))).alias("n_any_large"),
        lng(F.sum(all_bounded.cast("int"))).alias("n_all_bounded"),
        ratio(F.avg(self_rev_dot)).alias("avg_self_rev_dot"),
    )
