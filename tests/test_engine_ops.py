"""Engine-level tests for surfaces with no SQL oracle: map functions
(SURVEY §2.7 f-7) and multimodal column plumbing (§2.11 llm-8).
"""

from __future__ import annotations

from functools import partial

import pytest
from pyspark.sql import functions as F

from mapreduce_hw05_spark.operators import multimodal
from mapreduce_hw05_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"
#: medium fixture for tests that need more rows than the smoke tier.
SF_DIR_MED = "/root/testdata/sf0.01"


# --------------------------------------------------------------------- f-7


def test_map_functions_roundtrip(spark):
    """create_map → map_keys/map_values/element_at → str_to_map."""
    nation = load_table(spark, SF_DIR, "nation")
    mapped = nation.select(
        F.create_map(F.lit("name"), F.col("n_name"),
                     F.lit("region"), F.col("n_regionkey").cast("string")).alias("m"),
        "n_nationkey",
    )
    row = mapped.select(
        F.map_keys("m").alias("ks"),
        F.element_at("m", F.lit("name")).alias("name"),
        F.size("m").alias("n"),
    ).first()
    assert row["ks"] == ["name", "region"]
    assert row["n"] == 2

    parsed = spark.range(1).select(
        F.str_to_map(F.lit("a:1,b:2"), F.lit(","), F.lit(":")).alias("m")
    ).first()["m"]
    assert parsed == {"a": "1", "b": "2"}


def test_map_aggregation(spark):
    """map_from_entries over collect_list — per-group key→value maps."""
    orders = load_table(spark, SF_DIR, "orders")
    per_status = (
        orders.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("o_orderstatus", "n")))
            ).alias("by_status")
        )
        .first()["by_status"]
    )
    assert set(per_status) == {"O", "F", "P"}
    assert all(v > 0 for v in per_status.values())


# -------------------------------------------------------------------- llm-8


@pytest.fixture(scope="module")
def media(spark):
    docs = load_table(spark, SF_DIR, "documents")
    return multimodal.attach_fake_media(docs).persist()


def test_media_schema_and_kinds(media):
    dtypes = dict(media.dtypes)
    assert dtypes["payload"] == "binary"
    assert dtypes["media_meta"].startswith("struct<kind:string,format:string")
    kinds = {r["kind"] for r in media.select("media_meta.kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    # payload is deterministic: same doc_id → same bytes across runs
    a = media.orderBy("doc_id").select("payload").first()["payload"]
    b = media.orderBy("doc_id").select("payload").first()["payload"]
    assert a == b and len(a) == 128


def test_feature_extraction_batch_shape(media):
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == media.count()  # narrow op: one feature row per input
    for r in rows[:20]:
        assert len(r["features"]) == multimodal.N_FEATURES
        assert r["n_bytes"] == 128
        assert abs(sum(r["features"]) - 1.0) < 1e-6  # normalized histogram


def test_feature_extraction_deterministic(media):
    f1 = {r["doc_id"]: r["features"] for r in multimodal.extract_features(media).collect()}
    f2 = {r["doc_id"]: r["features"] for r in multimodal.extract_features(media).collect()}
    assert f1 == f2


def test_frame_sampling(media):
    frames = multimodal.sample_frames(media, every=2)
    pdf = frames.toPandas()
    n_videos = media.filter(F.col("media_meta.kind") == "video").count()
    assert len(pdf) == n_videos * 4  # 8 frames, every 2nd → 4 per video
    assert set(pdf["frame_idx"]) == {0, 2, 4, 6}
    assert all(len(f) == 16 for f in pdf["frame"])  # 128 bytes / 8 frames


def test_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal.decode_media(b"\x89PNG", "png")


# ------------------------------------------------------------- ANN (IVF)


def test_ivf_recall_and_exactness_at_full_probe(spark):
    """IVF machinery: nprobe=k must reproduce the exact kernel bit-for-bit
    (coarse quantization with all lists probed IS brute force); partial
    probing must retain reasonable recall even on this near-orthogonal
    (worst-case) fixture geometry."""
    from mapreduce_hw05_spark.operators.ann import ivf_knn_candidates
    from mapreduce_hw05_spark.operators.clustering import label_seeded_centroids
    from mapreduce_hw05_spark.operators.similarity import (
        cosine_pairs_topk_per_row,
        global_topk_pairs,
    )

    emb = load_table(spark, SF_DIR_MED, "embeddings").persist()
    centroids = label_seeded_centroids(emb)
    k_buckets = centroids.shape[0]

    exact = global_topk_pairs(
        cosine_pairs_topk_per_row(emb, emb, "vec_id", "embedding", k=20), k=20
    ).toPandas()
    exact_pairs = set(zip(exact["id1"], exact["id2"]))

    full = global_topk_pairs(
        ivf_knn_candidates(emb, emb, centroids, k=20, nprobe=k_buckets), k=20
    ).toPandas()
    assert set(zip(full["id1"], full["id2"])) == exact_pairs
    assert list(full["cos_sim"]) == list(exact["cos_sim"])

    partial = global_topk_pairs(
        ivf_knn_candidates(emb, emb, centroids, k=20, nprobe=4), k=20
    ).toPandas()
    recall = len(set(zip(partial["id1"], partial["id2"])) & exact_pairs) / 20
    assert recall >= 0.5, recall


# ----------------------------------------------------- skew / bucketing


def test_salted_join_matches_plain_join(spark):
    """Salting changes only shuffle distribution, never results."""
    from mapreduce_hw05_spark.operators.skew import salted_join, two_phase_agg

    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    plain = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .count()
    )
    salted = (
        salted_join(
            orders.withColumnRenamed("o_custkey", "c_custkey"),
            customer,
            "c_custkey",
            salt_buckets=8,
        )
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))

    tp = two_phase_agg(orders, "o_orderstatus", "o_totalprice", salt_buckets=8)
    direct = orders.groupBy("o_orderstatus").agg(
        F.sum("o_totalprice").alias("sum_o_totalprice"), F.count("*").alias("n_rows")
    )
    t = {r["o_orderstatus"]: (round(r["sum_o_totalprice"], 2), r["n_rows"]) for r in tp.collect()}
    d = {r["o_orderstatus"]: (round(r["sum_o_totalprice"], 2), r["n_rows"]) for r in direct.collect()}
    assert t == d


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed on the join key: the join plans with ZERO
    Exchange operators (the 'pay the shuffle once at ingest' invariant)."""
    from mapreduce_hw05_spark.sources.bucketing import read_table, write_bucketed

    orders = load_table(spark, SF_DIR, "orders")
    customer = load_table(spark, SF_DIR, "customer")
    write_bucketed(orders.withColumnRenamed("o_custkey", "custkey"),
                   "t_orders_b", "custkey", num_buckets=4)
    write_bucketed(customer.withColumnRenamed("c_custkey", "custkey"),
                   "t_customer_b", "custkey", num_buckets=4)
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = read_table(spark, "t_orders_b").join(
                read_table(spark, "t_customer_b"), "custkey"
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan[:800]
            assert joined.count() == orders.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_customer_b")


# ------------------------------------------------------ cluster sizing


def test_cluster_scale_confs_sizing():
    from mapreduce_hw05_spark.session import cluster_scale_confs

    small = cluster_scale_confs(input_tb=1, executors=50, cores_per_executor=4)
    big = cluster_scale_confs(input_tb=100, executors=1000, cores_per_executor=4)
    # partitions scale with data volume, floored at 2× total cores
    assert int(small["spark.sql.shuffle.partitions"]) == 8192  # 1 TiB / 128 MiB
    assert int(big["spark.sql.shuffle.partitions"]) == 819200  # 100 TiB / 128 MiB
    assert int(big["spark.sql.shuffle.partitions"]) > 2 * 1000 * 4
    # tiny input on a big cluster: floor keeps every core busy
    floor = cluster_scale_confs(input_tb=0.01, executors=1000)
    assert int(floor["spark.sql.shuffle.partitions"]) == 8000
    for conf in (small, big):
        assert conf["spark.sql.adaptive.enabled"] == "true"
        assert int(conf["spark.sql.autoBroadcastJoinThreshold"]) == 64 << 20


# ----------------------------------------------------------- as-of join


def test_asof_join_edge_cases(spark):
    """No-match rows keep nulls; equal timestamps match (>= semantics);
    the latest at-or-before right row wins."""
    from mapreduce_hw05_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100, "l1"), (1, 200, "l2"), (2, 50, "l3")],
        "k long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 100, 10.0), (1, 150, 15.0), (1, 300, 30.0), (3, 10, 99.0)],
        "k long, ts long, v double",
    )
    out = {
        (r["k"], r["ts"]): (r["ts_asof"], r["v_asof"])
        for r in asof_join(left, right, ["k"], "ts", ["v"]).collect()
    }
    assert out[(1, 100)] == (100, 10.0)   # tie: equal ts matches
    assert out[(1, 200)] == (150, 15.0)   # latest at-or-before, not 300
    assert out[(2, 50)] == (None, None)   # no right rows for key 2


# ------------------------------------------------------ partition pruning


def test_partitioned_scan_prunes_directories(spark, tmp_path):
    """A year predicate on a partitionBy('o_year') layout resolves against
    directory names: the scan's partition count drops to the two matching
    years and the pruned data is never read."""
    path = str(tmp_path / "orders_by_year")
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    n_years = orders.select("o_year").distinct().count()
    orders.write.partitionBy("o_year").parquet(path)

    pruned = spark.read.parquet(path).filter(F.col("o_year").between(1996, 1997))
    scan = pruned._jdf.queryExecution().executedPlan().toString()
    # the year bounds must reach the scan's PARTITION filter list (they
    # resolve against directory names, so pruned years are never opened) —
    # not merely the row-level PushedFilters
    pf = scan[scan.index("PartitionFilters") :].split("]")[0]
    assert ">= 1996" in pf and "<= 1997" in pf, pf
    assert n_years > 2  # the pruning actually dropped directories
    expected = orders.filter(F.col("o_year").between(1996, 1997)).count()
    assert pruned.count() == expected


def test_chunk_documents_windows_and_tail(spark):
    from mapreduce_hw05_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(12))  # 12 tokens
    df = spark.createDataFrame([(1, words), (2, "solo")], ["doc_id", "text"])
    rows = chunk_documents(df, size=5, stride=4).collect()
    got = {(r.doc_id, r.chunk_idx): (r.chunk_text, r.n_tokens) for r in rows}
    # doc 1: starts at tokens 0,4,8 -> windows of 5,5,4 with 1-token overlap
    assert got[(1, 0)] == ("w0 w1 w2 w3 w4", 5)
    assert got[(1, 1)] == ("w4 w5 w6 w7 w8", 5)
    assert got[(1, 2)] == ("w8 w9 w10 w11", 4)
    # doc shorter than one window -> single whole-doc chunk
    assert got[(2, 0)] == ("solo", 1)
    assert len(got) == 4


# --------------------------------------------------------------- ANN (LSH)


def test_sign_lsh_recall(spark):
    """Sign-LSH: 16 tables × 4 bits must recover most of the exact global
    top-20 on the near-orthogonal fixture, and a 1-table 0-bit sweep
    (single bucket = brute force) must reproduce the exact kernel."""
    from mapreduce_hw05_spark.operators.ann import sign_lsh_pairs
    from mapreduce_hw05_spark.operators.similarity import (
        cosine_pairs_topk_per_row,
        global_topk_pairs,
    )

    emb = load_table(spark, SF_DIR_MED, "embeddings").persist()
    exact = global_topk_pairs(
        cosine_pairs_topk_per_row(emb, emb, "vec_id", "embedding", k=20), k=20
    ).toPandas()
    exact_pairs = set(zip(exact["id1"], exact["id2"]))

    lsh = global_topk_pairs(
        sign_lsh_pairs(emb, k_per_bucket=20, n_tables=16, n_bits=4), k=20
    ).toPandas()
    recall = len(set(zip(lsh["id1"], lsh["id2"])) & exact_pairs) / 20
    assert recall >= 0.7, recall

    # 0 bits → every vector lands in bucket 0 of the single table:
    # within-bucket exact search IS brute force.
    full = global_topk_pairs(
        sign_lsh_pairs(emb, k_per_bucket=20, n_tables=1, n_bits=0), k=20
    ).toPandas()
    assert set(zip(full["id1"], full["id2"])) == exact_pairs
    assert list(full["cos_sim"]) == list(exact["cos_sim"])


# ------------------------------------------------- Python DataSource API


def test_seqgen_datasource_partition_planning(spark):
    """The connector's partitions() declares task parallelism (one task
    per InputPartition) and the union of splits covers the range exactly
    once."""
    from mapreduce_hw05_spark.sources.pydatasource import register_seqgen

    register_seqgen(spark)
    df = (
        spark.read.format("seqgen")
        .option("n", 1000).option("parts", 5).option("buckets", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    assert df.count() == 1000
    assert df.select("id").distinct().count() == 1000


def test_jsonl_sink_abort_leaves_no_files(spark, tmp_path):
    """A failing write job must leave the sink directory with no
    committed files, no manifest, and no temp litter."""
    import os

    from pyspark.sql import functions as F

    from mapreduce_hw05_spark.sources.pydatasource import register_jsonlsink

    register_jsonlsink(spark)
    out = str(tmp_path / "sink")
    os.makedirs(out)

    @F.udf("long")
    def boom(x):
        raise RuntimeError("task failure")

    df = spark.range(100).withColumn("b", boom("id"))
    with pytest.raises(Exception):
        df.write.format("jsonlsink").option("path", out).mode("append").save()
    assert os.listdir(out) == [], os.listdir(out)


# ------------------------------------------------------------ compaction


def test_compaction_collapses_files_preserving_rows(spark, tmp_path):
    import os

    from mapreduce_hw05_spark.operators.compaction import (
        compact_parquet_dir,
        plan_num_files,
    )

    assert plan_num_files(1, 100) == 1
    assert plan_num_files(250, 100) == 3

    out = str(tmp_path / "frag")
    df = spark.range(10000).withColumn("v", F.col("id") * 2)
    df.repartition(40).write.parquet(out)
    n_before = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_before == 40
    compact_parquet_dir(spark, out, target_bytes=1 << 30)
    n_after = len([f for f in os.listdir(out) if f.endswith(".parquet")])
    assert n_after == 1
    back = spark.read.parquet(out)
    assert back.count() == 10000
    assert back.agg(F.sum("v")).first()[0] == df.agg(F.sum("v")).first()[0]


# --------------------------------------------------------------- z-order


def test_zorder_tightens_file_envelopes(spark, tmp_path):
    """Against an x-sorted layout (each file spans the full y range),
    the z-ordered layout must shrink the summed per-file y-extent —
    that shrinkage IS the data-skipping win for predicates on y."""
    import os

    import pyarrow.parquet as pq

    from mapreduce_hw05_spark.operators.zorder import zorder_rewrite

    n = 1 << 14
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") * 2654435761 % n).cast("long"))
        .withColumn("y", (F.col("id") * 40503 % n).cast("long"))
        .select("x", "y")
    )

    def total_y_extent(path):
        extent = 0
        for f in os.listdir(path):
            if f.endswith(".parquet"):
                md = pq.read_metadata(os.path.join(path, f))
                lo = min(md.row_group(i).column(1).statistics.min
                         for i in range(md.num_row_groups))
                hi = max(md.row_group(i).column(1).statistics.max
                         for i in range(md.num_row_groups))
                extent += hi - lo
        return extent

    xsorted = str(tmp_path / "xsorted")
    df.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(xsorted)
    zordered = str(tmp_path / "zordered")
    zorder_rewrite(df, ["x", "y"], num_files=8).write.parquet(zordered)

    assert total_y_extent(zordered) < 0.7 * total_y_extent(xsorted), (
        total_y_extent(zordered), total_y_extent(xsorted))


# ------------------------------------------------------- bloom pre-filter


def test_bloom_prunes_probe_keys_without_changing_results(spark):
    """The bitmap is tiny, candidates are a superset of true members that
    actually prunes non-members, and the composed semi-join is exact."""
    from mapreduce_hw05_spark.operators.bloom import (
        bloom_build,
        bloom_candidate_keys,
        bloom_semi_join,
    )

    li = load_table(spark, SF_DIR, "lineitem").withColumnRenamed(
        "l_partkey", "partkey"
    )
    build = (
        load_table(spark, SF_DIR, "part")
        .filter(F.col("p_size") >= 45)
        .select(F.col("p_partkey").alias("partkey"))
    )
    bitmap = bloom_build(build, "partkey")
    assert bitmap.count() <= (1 << 16) // 64  # ≤ num_bits/64 words

    probe_keys = li.select("partkey").distinct()
    cand = set(
        r[0]
        for r in bloom_candidate_keys(probe_keys, "partkey", bitmap).collect()
    )
    true_keys = set(r[0] for r in build.collect())
    probed = set(r[0] for r in probe_keys.collect())
    assert true_keys & probed <= cand  # no false negatives
    assert len(cand) < len(probed)  # the filter actually prunes

    got = sorted(map(tuple, bloom_semi_join(li, build, "partkey").collect()))
    want = sorted(map(tuple, li.join(build, "partkey", "left_semi").collect()))
    assert got == want


# ------------------------------------------------------------ join hints


def test_merge_hint_overrides_broadcast_choice(spark):
    """nation is far below the broadcast threshold, so the default plan
    broadcasts; the MERGE hint must force SortMergeJoin anyway."""
    from mapreduce_hw05_spark.plans.agg_ext_queries import q_join_hints_contract

    df = q_join_hints_contract(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


# ------------------------------------------------------------ plan audit


def test_tpch_q6_pushdown_reaches_scan(spark):
    """Q6 is the I/O-bound query where pushdown IS the performance: all
    four predicates must reach the parquet scan and the ReadSchema must
    shrink to the four referenced columns."""
    from mapreduce_hw05_spark.plans.tpch_queries import q_tpch_q6

    df = q_tpch_q6(spark, SF_DIR_MED)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    import re

    pushed = re.search(r"PushedFilters: \[(.*?)\]", plan).group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    schema = re.search(r"ReadSchema: struct<(.*?)>", plan).group(1)
    read_cols = {c.split(":")[0] for c in schema.split(",")}
    assert read_cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }, read_cols


def test_q9_profit_broadcasts_all_dims(spark):
    """The Q9-style star join must broadcast every dim (part, supplier,
    nation) so the lineitem fact never shuffles for the join, and the
    p_name LIKE filter must prune the part side before its broadcast."""
    from mapreduce_hw05_spark.plans.tpch_queries import q_tpch_q9_profit

    df = q_tpch_q9_profit(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_activity_streaks_single_exchange(spark):
    """distinct → window → two aggs all share the user_id key; Catalyst
    must plan at most two exchanges (initial key shuffle + AQE reads),
    never re-shuffle between window and aggregation."""
    from mapreduce_hw05_spark.plans.window_queries import q_activity_streaks

    df = q_activity_streaks(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    n_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchanges <= 2, plan


def test_secondary_sort_within_partitions(spark):
    import re

    """The genre's 'secondary sort' (composite key + grouping comparator)
    realized physically: repartition on the grouping key, sortWithinPartitions
    on (key, ts) — every partition must hold each key contiguously with ts
    non-decreasing inside it, with NO global shuffle-sort stage."""
    from mapreduce_hw05_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events").select("user_id", "ts", "event_id")
    df = ev.repartition(8, "user_id").sortWithinPartitions("user_id", "ts", "event_id")

    plan = df._jdf.queryExecution().executedPlan().toString()
    # SortExec prints as `Sort [exprs], <global>, 0` — must be local-only
    sort_flags = re.findall(r"Sort \[[^\]]*\], (true|false), 0", plan)
    assert sort_flags and set(sort_flags) == {"false"}, plan

    def check(rows):
        prev = None
        seen_keys = set()
        for r in rows:
            key = (r.user_id,)
            if prev is None or prev[0] != r.user_id:
                assert r.user_id not in seen_keys  # keys contiguous
                seen_keys.add(r.user_id)
            else:
                assert (prev[1], prev[2]) <= (r.ts, r.event_id)  # sorted within key
            prev = (r.user_id, r.ts, r.event_id)
        yield len(seen_keys)

    # each user_id lands in exactly one partition
    per_part_keys = df.rdd.mapPartitions(check).collect()
    assert sum(per_part_keys) == ev.select("user_id").distinct().count()


def test_resize_images_halves_payloads(media):
    """Resize kernel: image rows only, exact downsample arithmetic,
    deterministic bytes."""
    resized = multimodal.resize_images(media, factor=2)
    pdf = resized.toPandas()
    n_images = media.filter(F.col("media_meta.kind") == "image").count()
    assert len(pdf) == n_images
    assert (pdf["orig_bytes"] == 128).all()
    assert (pdf["resized_bytes"] == 64).all()
    again = multimodal.resize_images(media, factor=2).toPandas()
    a = dict(zip(pdf["doc_id"], pdf["resized"]))
    b = dict(zip(again["doc_id"], again["resized"]))
    assert a == b


def test_map_in_arrow_l2_normalize(spark):
    """u-6 mapInArrow surface: the Arrow-native normalize kernel must
    agree with the Catalyst HOF norm to float precision, keep every
    input column, and preserve row count (narrow op)."""
    from mapreduce_hw05_spark.operators.similarity import l2_normalize_arrow

    emb = load_table(spark, SF_DIR_MED, "embeddings")
    out = l2_normalize_arrow(emb, "embedding")
    assert out.count() == emb.count()
    assert set(out.columns) == set(emb.columns) | {"unit_vec"}

    check = out.select(
        F.abs(
            F.sqrt(
                F.aggregate(
                    F.transform("unit_vec", lambda x: x * x),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            )
            - 1.0
        ).alias("err")
    ).agg(F.max("err").alias("max_err")).first()
    assert check["max_err"] < 1e-9, check["max_err"]


def test_aqe_converts_smj_to_broadcast_at_runtime(spark):
    """The 100-TB posture leans on AQE re-planning: with static broadcast
    planning disabled, the initial plan is a SortMergeJoin, but AQE must
    observe the small runtime size of the dim side and convert to a
    broadcast join in the final adaptive plan."""
    from mapreduce_hw05_spark.sources import load_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # AQE's runtime conversion reads its own threshold (which also
    # defaults to -1 once the static one is disabled) — enable it alone
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
    try:
        orders = load_table(spark, SF_DIR, "orders")
        customer = load_table(spark, SF_DIR, "customer")
        joined = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).groupBy("c_mktsegment").count()
        joined.collect()  # materialize so AQE finalizes the plan
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in final, final
        assert "BroadcastHashJoin" in final, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_analyze_table_feeds_cbo_stats(spark):
    """Statistics surface: ANALYZE TABLE must land row-count + column
    stats in the catalog, where the cost-based optimizer (and broadcast
    sizing) reads them."""
    from mapreduce_hw05_spark.sources import load_table

    load_table(spark, SF_DIR, "nation").write.mode("overwrite").saveAsTable(
        "t_nation_stats"
    )
    try:
        spark.sql(
            "ANALYZE TABLE t_nation_stats COMPUTE STATISTICS "
            "FOR COLUMNS n_nationkey, n_name"
        )
        detail = spark.sql("DESCRIBE EXTENDED t_nation_stats").collect()
        stats = {r["col_name"]: r["data_type"] for r in detail}
        assert "Statistics" in stats, sorted(stats)
        assert "rows" in stats["Statistics"], stats["Statistics"]
        col = spark.sql(
            "DESCRIBE EXTENDED t_nation_stats n_nationkey"
        ).collect()
        col_info = {r["info_name"]: r["info_value"] for r in col}
        assert col_info.get("distinct_count") not in (None, "NULL"), col_info
    finally:
        spark.sql("DROP TABLE IF EXISTS t_nation_stats")


def test_persist_materializes_inmemory_relation(spark):
    """Cache surface: after persist()+count(), downstream plans must read
    the InMemoryTableScan, and unpersist must drop it."""
    from mapreduce_hw05_spark.sources import load_table

    li = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_quantity") > 10)
    li.persist()
    try:
        li.count()
        agg = li.groupBy("l_returnflag").count()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, plan
    finally:
        li.unpersist()
    plan_after = (
        li.groupBy("l_returnflag").count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "InMemoryTableScan" not in plan_after, plan_after


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """Trigger.AvailableNow: the stream must drain everything already in
    the source directory, then stop on its own — the batch-draining mode
    scheduled ingest jobs use (all the exactly-once machinery, no
    always-on cluster)."""
    from mapreduce_hw05_spark.sources import load_table
    from mapreduce_hw05_spark.streaming.replay import EVENTS_STREAM_SCHEMA

    src = str(tmp_path / "in")
    out_name = "avail_now_sink"
    ev = load_table(spark, SF_DIR, "events")
    ev.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .parquet(src)
        .groupBy("event_type")
        .count()
    )
    q = (
        stream.writeStream.outputMode("complete")
        .format("memory")
        .queryName(out_name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "availableNow query did not self-stop"
    got = {r["event_type"]: r["count"] for r in spark.table(out_name).collect()}
    want = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == want
    spark.catalog.dropTempView(out_name)


# ------------------------------------------------------------------ g-4 CC


def test_star_cc_matches_min_label_on_fixture(spark):
    """Large/small-star CC must produce the labeling of a pure-Python
    min-label propagation over the same co-purchase edges — two
    independent algorithms, one answer."""
    from mapreduce_hw05_spark.operators.graph import (
        connected_components_star,
        cooccurrence_edges_min_support,
    )

    li = load_table(spark, SF_DIR_MED, "lineitem")
    edges = cooccurrence_edges_min_support(li, 2).persist()
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    star = {
        r["node"]: r["comp"] for r in connected_components_star(edges).collect()
    }
    edges.unpersist()
    # min-label reference: every node takes the min label of its
    # neighborhood until no label changes
    label = {v: v for e in pairs for v in e}
    changed = True
    while changed:
        changed = False
        for a, b in pairs:
            m = min(label[a], label[b])
            if label[a] != m or label[b] != m:
                label[a] = label[b] = m
                changed = True
    assert pairs and star == label


def test_star_cc_keeps_self_loop_only_nodes(spark):
    """A node whose EVERY edge is a self-loop must still appear in the
    output as its own singleton component. Pins the r11 restructure:
    the final node table now derives from the pre-self-loop-filter edge
    checkpoint instead of a second pass over the raw edge DAG, and the
    self-loop-only node is exactly the row the two sources differ on."""
    from mapreduce_hw05_spark.operators.graph import connected_components_star

    edges = spark.createDataFrame(
        [(1, 2), (3, 3), (2, 2)], "src long, dst long"
    )
    comps = {
        r["node"]: r["comp"] for r in connected_components_star(edges).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 3}


def test_undirected_matches_union_formulation(spark):
    """undirected() (r11: one explode pass) must emit exactly the row
    MULTISET of the union formulation it replaced — duplicates included,
    both directions, self-loops doubled like union doubled them."""
    from collections import Counter

    from pyspark.sql import functions as F

    from mapreduce_hw05_spark.operators.graph import undirected

    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 3), (4, 4)], "src long, dst long"
    )
    got = Counter(
        (r["src"], r["dst"]) for r in undirected(edges).collect()
    )
    want = Counter(
        (r["src"], r["dst"])
        for r in edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).collect()
    )
    assert got == want
    assert undirected(edges).columns == ["src", "dst"]


def test_star_cc_logarithmic_rounds_on_path_graph(spark):
    """A 300-hop path takes min-label ~300 rounds; the star algorithm
    must converge in O(log n) — the property that makes CC viable on
    high-diameter graphs at scale."""
    from mapreduce_hw05_spark.operators.graph import connected_components_star

    n = 300
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    rounds: list[int] = []
    comps = connected_components_star(path, rounds_out=rounds)
    rows = comps.collect()
    assert len(rows) == n + 1
    assert {r["comp"] for r in rows} == {0}
    assert rounds[0] <= 15, rounds


def test_kcore_shuffled_route_matches_broadcast(spark, monkeypatch):
    """r7 (x100 co-purchase probe): the per-round survivor-set joins in
    ``kcore_rounds`` are now counted-broadcast-gated — crossing Spark's
    10 MB auto-broadcast threshold at ~1.3 M survivor nodes had silently
    flipped them to shuffles (a 10× edge scale-up cost 20×). With the
    node limit forced to 0 (both joins shuffled every round) the stats
    must be identical to the broadcast route."""
    from mapreduce_hw05_spark.operators import graph as g

    li = load_table(spark, SF_DIR_MED, "lineitem")
    edges = g.cooccurrence_edges_min_support(li, 2).persist()
    want = sorted(map(tuple, g.kcore_rounds(edges, k=3, rounds=3).collect()))
    monkeypatch.setattr(g, "_PAGERANK_BROADCAST_NODE_LIMIT", 0)
    got = sorted(map(tuple, g.kcore_rounds(edges, k=3, rounds=3).collect()))
    monkeypatch.undo()
    edges.unpersist()
    assert want == got
    assert len(want) == 3


# ------------------------------------------------------------------ g-2 hubs


def test_triangle_count_salted_hub_path(spark):
    """Degree orientation never makes a star hub an apex (its edges all
    point INTO it), so the case that concentrates work is a near-uniform
    dense block — a clique, where node 0's oriented out-degree is n-1.
    With hub_threshold=32 every low-id clique node takes the salted
    path-2 route; the count must equal C(n,3) and the unsalted plan."""
    from math import comb

    from mapreduce_hw05_spark.operators.graph import triangle_count

    n = 120
    clique = [(i, j) for i in range(n) for j in range(i + 1, n)]
    edges = spark.createDataFrame(clique, "src long, dst long")
    # broadcast_edge_limit=0 forces the path-2 machinery (the adjacency
    # fast path would otherwise take over at this size)
    salted = triangle_count(
        edges, hub_threshold=32, broadcast_edge_limit=0
    ).first()["n_triangles"]
    plain = triangle_count(
        edges, hub_threshold=10**9, broadcast_edge_limit=0
    ).first()["n_triangles"]
    adjacency = triangle_count(edges).first()["n_triangles"]
    assert salted == plain == adjacency == comb(n, 3)


def test_triangle_count_star_plus_path(spark):
    """Star hub + leaf path: triangles are exactly (hub, i, i+1) — the
    orientation-handles-hubs case (hub edges all point at the hub, no
    salting needed, count still exact)."""
    from mapreduce_hw05_spark.operators.graph import triangle_count

    n = 1000
    star = [(0, i) for i in range(1, n + 1)]
    path = [(i, i + 1) for i in range(1, n)]
    edges = spark.createDataFrame(star + path, "src long, dst long")
    got = triangle_count(edges).first()["n_triangles"]
    assert got == n - 1


# ------------------------------------------------------- zorder maintenance


def test_zorder_incremental_rewrites_only_changed_partitions(spark, tmp_path):
    """First pass clusters every partition; appending data to ONE
    partition makes the next pass rewrite exactly that partition (the
    manifest skips the rest); contents survive both passes."""
    from mapreduce_hw05_spark.operators.zorder import zorder_incremental

    table = str(tmp_path / "tbl")
    orders = load_table(spark, SF_DIR_MED, "orders").withColumn(
        "bucket", (F.col("o_orderkey") % 3).cast("int")
    )
    orders.write.partitionBy("bucket").parquet(table)
    n_before = spark.read.parquet(table).count()

    first = zorder_incremental(
        spark, table, "bucket", ["o_custkey", "o_totalprice"], num_files=1
    )
    assert sorted(first) == ["bucket=0", "bucket=1", "bucket=2"]

    # steady state: nothing changed -> nothing rewritten
    assert zorder_incremental(
        spark, table, "bucket", ["o_custkey", "o_totalprice"], num_files=1
    ) == []

    # append into one partition only
    extra = orders.filter(F.col("bucket") == 1).limit(50).drop("bucket")
    extra.write.mode("append").parquet(table + "/bucket=1")
    second = zorder_incremental(
        spark, table, "bucket", ["o_custkey", "o_totalprice"], num_files=1
    )
    assert second == ["bucket=1"]
    assert spark.read.parquet(table).count() == n_before + 50


def test_zorder_incremental_recovers_crash_remnants(spark, tmp_path):
    """A crashed previous pass can leave a partition under its .next or
    .old name (mid rename-aside swap); the next pass must restore it and
    keep every row — never treat the remnant as a partition or lose the
    directory (ADVICE r2 item 1)."""
    import os
    import shutil

    from mapreduce_hw05_spark.operators.zorder import zorder_incremental

    table = str(tmp_path / "tbl")
    orders = load_table(spark, SF_DIR_MED, "orders").withColumn(
        "bucket", (F.col("o_orderkey") % 3).cast("int")
    )
    orders.write.partitionBy("bucket").parquet(table)
    n_rows = spark.read.parquet(table).count()
    zorder_incremental(
        spark, table, "bucket", ["o_custkey", "o_totalprice"], num_files=1
    )

    # crash scenario A: partition exists only under .old (crash between
    # the two renames, roll-back case)
    os.rename(
        os.path.join(table, "bucket=1"), os.path.join(table, "bucket=1.old")
    )
    rewritten = zorder_incremental(
        spark, table, "bucket", ["o_custkey", "o_totalprice"], num_files=1
    )
    assert "bucket=1.old" not in rewritten  # remnant never scanned as a partition
    assert not os.path.exists(os.path.join(table, "bucket=1.old"))
    assert spark.read.parquet(table).count() == n_rows

    # crash scenario B: fully-written .next beside a missing partition
    # (crash after rename-aside, roll-forward case)
    os.rename(
        os.path.join(table, "bucket=2"), os.path.join(table, "bucket=2.next")
    )
    zorder_incremental(
        spark, table, "bucket", ["o_custkey", "o_totalprice"], num_files=1
    )
    assert not os.path.exists(os.path.join(table, "bucket=2.next"))
    assert spark.read.parquet(table).count() == n_rows

    # crash scenario C: stale incomplete .next next to a live partition
    # (crash mid-write, before any rename) — must be discarded
    stale = os.path.join(table, "bucket=0.next")
    os.makedirs(stale)
    open(os.path.join(stale, "part-junk"), "w").write("not parquet")
    zorder_incremental(
        spark, table, "bucket", ["o_custkey", "o_totalprice"], num_files=1
    )
    assert not os.path.exists(stale)
    assert spark.read.parquet(table).count() == n_rows
    shutil.rmtree(table)


def test_compact_parquet_dir_recovers_crash_remnants(spark, tmp_path):
    """compact_parquet_dir must recover a directory left mid-swap by a
    crashed previous compaction before recompacting."""
    import os

    from mapreduce_hw05_spark.operators.compaction import compact_parquet_dir

    path = str(tmp_path / "t")
    load_table(spark, SF_DIR_MED, "orders").repartition(8).write.parquet(path)
    n_rows = spark.read.parquet(path).count()
    # crash: dir renamed aside, fully-written tmp not yet renamed in
    os.rename(path, path + ".next")
    compact_parquet_dir(spark, path, target_bytes=1 << 30)
    assert spark.read.parquet(path).count() == n_rows
    assert not os.path.exists(path + ".next")


def test_zorder_incremental_tightens_envelopes(spark, tmp_path):
    """The rewritten partition's parquet row groups must carry tight
    min/max envelopes on BOTH clustered columns (the data-skipping
    property the rewrite exists for)."""
    import glob

    import pyarrow.parquet as pq

    from mapreduce_hw05_spark.operators.zorder import zorder_incremental

    table = str(tmp_path / "tbl")
    ev = load_table(spark, SF_DIR_MED, "events").withColumn(
        "bucket", F.lit(0)
    )
    # shuffle rows so pre-clustering envelopes are wide
    ev.orderBy(F.xxhash64("event_id")).write.partitionBy("bucket").parquet(table)
    zorder_incremental(spark, table, "bucket", ["user_id", "value"], num_files=4)

    spans = []
    for path in glob.glob(table + "/bucket=0/part-*.parquet"):
        md = pq.ParquetFile(path).metadata
        for rg in range(md.num_row_groups):
            col = next(
                md.row_group(rg).column(i)
                for i in range(md.row_group(rg).num_columns)
                if md.row_group(rg).column(i).path_in_schema == "user_id"
            )
            st = col.statistics
            spans.append(st.max - st.min)
    full_span = (
        ev.agg(F.max("user_id") - F.min("user_id")).first()[0]
    )
    # clustered row groups cover a fraction of the full user_id range
    assert min(spans) < full_span * 0.6, (min(spans), full_span)


# --------------------------------------------------- empty-input robustness


def test_star_cc_empty_edges(spark):
    from mapreduce_hw05_spark.operators.graph import connected_components_star

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components_star(empty).count() == 0


def test_kll_sketch_empty():
    import math

    from mapreduce_hw05_spark.operators.quantile_sketch import KLLSketch

    sk = KLLSketch(64)
    assert sk.n == 0
    assert all(math.isnan(q) for q in sk.quantiles([0.5, 0.9]))
    rt = KLLSketch.deserialize(sk.serialize())
    assert rt.n == 0 and rt.levels == sk.levels


def test_theta_sketch_empty_and_disjoint():
    import numpy as np

    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    empty = ThetaSketch(64)
    assert empty.estimate() == 0.0

    a = ThetaSketch(64)
    a.add(np.arange(100, dtype=np.int64))
    assert a.intersect(empty).estimate() == 0.0
    assert a.union(empty).estimate() == a.estimate()
    assert a.difference(empty).estimate() == a.estimate()

    b = ThetaSketch(64)
    b.add(np.arange(1000, 1100, dtype=np.int64))
    assert a.intersect(b).estimate() == 0.0  # disjoint ranges


def test_sketch_rollups_keep_null_key_group(spark):
    """SQL GROUP BY keeps the null group; the sketch partial builders use
    pandas groupby which silently drops it by default (ADVICE r2 item 3)
    — both rollups must report the null-key group. NULL VALUES are not
    values: KLL's n_rows counts non-NULLs, and theta's estimate is
    COUNT(DISTINCT v), which skips NULLs (a NULL in a nullable long
    column once hashed as INT64_MIN and counted as a distinct value)."""
    from mapreduce_hw05_spark.operators.quantile_sketch import (
        quantile_sketch_rollup,
    )
    from mapreduce_hw05_spark.operators.sketches import (
        merge_by_key,
        sketch_partials,
    )
    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", None), (None, 3.0), (None, 4.0),
         (None, 5.0), (None, None)],
        "k string, v double",
    )
    q = quantile_sketch_rollup(df, ["k"], "v", [0.5]).collect()
    by_key = {r["k"]: r["n_rows"] for r in q}
    assert by_key == {"a": 2, None: 3}

    dfi = spark.createDataFrame(
        [("a", 1), ("a", None), ("a", 2), ("b", None), (None, 3),
         (None, 4), (None, 4)],
        "k string, v long",
    )
    t = merge_by_key(
        sketch_partials(dfi, ["k"], "v", ThetaSketch), ["k"], ThetaSketch
    ).collect()
    est = {
        r["k"]: ThetaSketch.deserialize(bytes(r["sketch"])).estimate()
        for r in t
    }
    assert est == {"a": 2.0, "b": 0.0, None: 2.0}


def test_kll_chunk_loop_recomputes_level0_capacity():
    """ADVICE r2 item 4: level-0 capacity shrinks when compaction deepens
    the hierarchy; the chunked add path must never leave level 0 holding
    more than its current capacity."""
    import numpy as np

    from mapreduce_hw05_spark.operators.quantile_sketch import KLLSketch

    sk = KLLSketch(64)
    sk.add(np.arange(100_000, dtype=np.float64))
    for lvl in range(len(sk.levels)):
        assert len(sk.levels[lvl]) <= sk._capacity(lvl), (
            lvl, len(sk.levels[lvl]), sk._capacity(lvl)
        )
    assert sk.n == 100_000


def test_kmeans_parallel_init_empty_input_raises(spark):
    """ADVICE r2 item 5: explicit error instead of IndexError."""
    import pytest

    from mapreduce_hw05_spark.operators.clustering import kmeans_parallel_init

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty input"):
        kmeans_parallel_init(empty, k=3, rounds=1)


def test_kmeans_parallel_init_degenerate_corpus(spark):
    """All-identical vectors: the greedy reduction cannot find k distinct
    centroids; the documented pad path must still return exactly k."""
    import numpy as np

    from mapreduce_hw05_spark.operators.clustering import kmeans_parallel_init

    rows = [(i, [1.0] * 8) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c = kmeans_parallel_init(emb, k=5, rounds=2)
    assert c.shape == (5, 8)
    assert np.allclose(c, 1.0)


def test_kmeans_combiner_matches_join_update(spark):
    """r12 pin: the in-kernel (cluster, cnt, sumvec) combiner update must
    reproduce the pre-r12 assignment⋈emb → posexplode → avg formulation —
    same final assignment, same centroids (to float tolerance), same
    monotone inertia trajectory — on an adversarial mix of well-separated
    and boundary points across several partitions."""
    import numpy as np
    from pyspark.sql import functions as F

    from mapreduce_hw05_spark.operators.clustering import (
        assign_clusters,
        kmeans,
    )

    rng = np.random.default_rng(7)
    rows = []
    for i in range(300):
        center = (i % 3) * 2.0
        rows.append(
            (i, (center + 0.3 * rng.standard_normal(6)).tolist())
        )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(7)
    init = np.stack([np.full(6, 0.0), np.full(6, 2.0), np.full(6, 4.0)])

    def kmeans_old(df, centroids, iterations):
        """The pre-r12 update, verbatim (join + posexplode + avg)."""
        cents = centroids.astype(np.float64).copy()
        dim = cents.shape[1]
        inertias = []
        for _ in range(iterations):
            assignment = assign_clusters(df, cents)
            # model-sized: k x d centroid update + one inertia scalar
            upd = (
                assignment.join(df.select("vec_id", "embedding"), "vec_id")
                .select("cluster", "sq_dist", F.posexplode("embedding"))
                .groupBy("cluster", "pos")
                .agg(
                    F.avg(F.col("col").cast("double")).alias("v"),
                    F.sum("sq_dist").alias("sq"),
                )
                .toPandas()
            )
            inertias.append(
                float(upd[upd["pos"] == 0]["sq"].sum())
            )
            new_c = cents.copy()
            for cluster, grp in upd.groupby("cluster"):
                new_c[int(cluster)] = grp.sort_values("pos")["v"].to_numpy()[:dim]
            cents = new_c
        return cents, inertias

    old_c, old_inert = kmeans_old(emb, init, iterations=4)
    new_inert: list[float] = []
    a_new, new_c = kmeans(
        emb, k=3, iterations=4, init=init, inertia_out=new_inert
    )
    assert np.allclose(old_c, new_c, rtol=0, atol=1e-9), (
        np.abs(old_c - new_c).max()
    )
    np.testing.assert_allclose(new_inert, old_inert, rtol=1e-12)
    old_assign = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(emb, old_c).collect()
    }
    new_assign = {r["vec_id"]: r["cluster"] for r in a_new.collect()}
    assert old_assign == new_assign
    assert all(
        b <= a * (1 + 1e-9) for a, b in zip(new_inert, new_inert[1:])
    )


def test_kmeans_combiner_malformed_partial_raises(spark):
    """The k×dim reduce-shape guard must fail loudly when a batch partial
    emits a ragged sumvec (the logreg-guard analog, ADVICE r11)."""
    import numpy as np
    import pytest

    from mapreduce_hw05_spark.operators import clustering

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    real = clustering._centroid_update_partials

    def ragged(df, centroids, vec_col):
        from pyspark.sql import functions as F

        out = real(df, centroids, vec_col)
        # drop the last sumvec element on cluster 0 rows only
        return out.withColumn(
            "sumvec",
            F.when(
                F.col("cluster") == 0,
                F.slice("sumvec", 1, centroids.shape[1] - 1),
            ).otherwise(F.col("sumvec")),
        )

    init = np.stack([[0.0, 0.0], [10.0, 1.0]])
    try:
        clustering._centroid_update_partials = ragged
        with pytest.raises(ValueError, match="malformed sumvec"):
            clustering.kmeans(emb, k=2, iterations=1, init=init)
    finally:
        clustering._centroid_update_partials = real


def test_kmeans_combiner_one_ragged_batch_raises(spark):
    """Only ONE batch partial is ragged: the other batches still fill
    every (cluster, pos) group, so the reduce returns k×dim groups and
    only the per-partial sumvec size check can catch it."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from mapreduce_hw05_spark.operators import clustering

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    ).repartition(4)
    real = clustering._centroid_update_partials

    def one_ragged(df, centroids, vec_col):
        out = real(df, centroids, vec_col)
        # cluster 0's partial from partition 0's batch only
        return out.withColumn(
            "sumvec",
            F.when(
                (F.col("cluster") == 0) & (F.spark_partition_id() == 0),
                F.slice("sumvec", 1, centroids.shape[1] - 1),
            ).otherwise(F.col("sumvec")),
        )

    init = np.stack([[0.0, 0.0], [10.0, 1.0]])
    try:
        clustering._centroid_update_partials = one_ragged
        with pytest.raises(ValueError, match="malformed sumvec"):
            clustering.kmeans(emb, k=2, iterations=1, init=init)
    finally:
        clustering._centroid_update_partials = real


def test_bfs_hops_early_stop_and_min_hop(spark):
    """r12 pin for the 1-job-per-hop bfs_hops: (a) min-hop semantics on a
    diamond (a node reachable at hops 2 and 3 reports 2), (b) the loop
    stops on an empty frontier well before max_hops without emitting
    empty frames, (c) disconnected nodes never appear."""
    from mapreduce_hw05_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 3), (3, 4), (4, 2), (7, 8)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["hop"]
        for r in bfs_hops(edges, seeds, max_hops=10).collect()
    }
    assert got == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}


def test_l2_normalize_arrow_empty_input(spark):
    from mapreduce_hw05_spark.operators.similarity import l2_normalize_arrow

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert l2_normalize_arrow(empty).count() == 0


def test_aqe_splits_skewed_join_partition(spark):
    """Skew posture: with one key owning ~90% of the fact side and the
    skew thresholds lowered to fixture scale, AQE must mark the skewed
    sort-merge partition and split it (skew=true in the final adaptive
    plan) — the runtime half of the skew story next to the manual
    salting utilities (operators.skew)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # md5 payload: skew detection reads COMPRESSED map-output sizes,
        # and a constant-key/sequential-long partition compresses below
        # any realistic threshold — incompressible bytes keep the skewed
        # partition visibly fat, like real data.
        fact = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        dim = spark.range(0, 300_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # inspect the SAME DataFrame that executes (count() would build
        # its own plan and leave this one un-finalized)
        res = fact.join(dim, "k").agg(
            F.count("*").alias("n"), F.sum("v").alias("sv")
        )
        row = res.collect()[0]
        assert row["n"] == 300_000
        final = res._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in final, final
        assert "skew=true" in final, final
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# --------------------------------------------------------------------------
# Space-saving heavy hitters (operators.heavy_hitters)
# --------------------------------------------------------------------------


def _fold_partials(df, item_col, new):
    """One unkeyed sketch over ``df[item_col]``: per-partition partials
    collected and folded driver-side (operators.sketches)."""
    from mapreduce_hw05_spark.operators.sketches import fold, sketch_partials

    parts = sketch_partials(df, [], item_col, new).collect()
    return fold([r["sketch"] for r in parts], new)


def test_space_saving_exact_when_under_capacity():
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving

    a, b = SpaceSaving(16), SpaceSaving(16)
    for item, n in [("x", 5), ("y", 3), ("z", 1)]:
        a.offer(item, n)
    for item, n in [("y", 4), ("w", 2)]:
        b.offer(item, n)
    m = a.merge(b)
    assert m.top(10) == [("y", 7, 0), ("x", 5, 0), ("w", 2, 0), ("z", 1, 0)]


def test_space_saving_guarantees_under_eviction():
    """Zipf stream with k far below the vocabulary: every item with
    true count > n/k must survive, and every reported count must
    bracket the truth within its tracked err."""
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving

    import random

    rng = random.Random(7)
    truth = {}
    sk = SpaceSaving(64)
    # 200 head items (Zipf-ish weights) + long uniform tail
    stream = []
    for i in range(200):
        stream += [f"head{i}"] * (2000 // (i + 1))
    stream += [f"tail{i}" for i in range(5000)]
    rng.shuffle(stream)
    for it in stream:
        truth[it] = truth.get(it, 0) + 1
        sk.offer(it)
    n = len(stream)
    threshold = n / 64
    reported = {it: (c, e) for it, c, e in sk.top(64)}
    for it, tc in truth.items():
        if tc > threshold:
            assert it in reported, f"lost heavy hitter {it} ({tc} > {threshold})"
    for it, (c, e) in reported.items():
        tc = truth[it]
        assert tc <= c <= tc + e + threshold, (it, tc, c, e)


def test_space_saving_offer_after_merge_evicts_true_minimum():
    """ADVICE r4: a summary assembled by the merge paths (direct count
    installation, not offer()) must still evict the TRUE minimum when it
    later receives offer() calls — a stale/partial eviction heap would
    evict a non-minimum counter and break the space-saving error bound."""
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving
    from mapreduce_hw05_spark.operators.sketches import fold

    k = 3
    p0, p1 = SpaceSaving(k), SpaceSaving(k)
    p0.offer("big", 100), p0.offer("mid", 50)
    p1.offer("small", 1)
    # deserialized partials folded by the shared driver-side merge
    sk = fold([p0.serialize(), p1.serialize()], partial(SpaceSaving, k))
    # re-offer an existing item so the heap is non-empty but would be
    # INCOMPLETE without snapshot installation at assembly time
    sk.offer("big", 1)
    # full summary + new item -> must evict "small" (the true minimum),
    # newcomer inherits its count as err
    sk.offer("new", 1)
    reported = {it: (c, e) for it, c, e in sk.top(k)}
    assert "small" not in reported
    assert reported["big"] == (101, 0)
    assert reported["mid"] == (50, 0)
    assert reported["new"] == (2, 1)

    # same trap via merge(): merged output later offered new items
    a, b = SpaceSaving(2), SpaceSaving(2)
    a.offer("x", 10), a.offer("y", 4)
    b.offer("x", 5)
    m = a.merge(b)  # counts installed directly inside merge
    m.offer("x", 1)  # non-empty heap; y's snapshot must also exist
    m.offer("z", 1)  # must evict y (min=4), not x
    got = {it: (c, e) for it, c, e in m.top(2)}
    assert got["x"] == (16, 0)
    assert got["z"] == (5, 4)


@pytest.mark.parametrize(
    "items, newcomer",
    [(["x", None, "y", "z", "w"], "v"), ([15, None, 132, 7, 3], 99)],
    ids=["str", "int"],
)
def test_space_saving_wire_format_roundtrip(items, newcomer):
    """The JSON wire format keeps str, int and None items, every
    (count, err) and the tie order; the deserialized summary's eviction
    heap is complete, so its next offer evicts the true minimum."""
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving, _ord

    k = 4
    sk = SpaceSaving(k)
    # the fifth item evicts the count-1 fourth: errs != 0, a three-way
    # tie at count 3 that includes the None item
    for item, weight in zip(items, [5, 3, 3, 1, 2]):
        sk.offer(item, weight)
    rt = SpaceSaving.deserialize(sk.serialize())
    assert rt.top(k) == sk.top(k)
    assert [type(it) for it, _c, _e in rt.top(k)] == [
        type(it) for it, _c, _e in sk.top(k)
    ]
    assert None in rt.counts and {c for _i, c, _e in rt.top(k)} == {5, 3}

    victim = min(rt.counts, key=lambda i: (rt.counts[i], _ord(i)))
    floor = rt.counts[victim]
    rt.offer(newcomer, 1)
    assert victim not in rt.counts
    assert (rt.counts[newcomer], rt.errs[newcomer]) == (floor + 1, floor)
    sk.offer(newcomer, 1)
    assert rt.top(k) == sk.top(k)


def test_space_saving_random_merge_offer_interleavings_keep_bounds():
    """Fuzz the ADVICE-r4 trap class end-to-end: random streams split
    into random segments, summaries merged in random tree shapes, with
    MORE offers interleaved after merges (the assemble-then-offer path).
    Whatever the interleaving, the space-saving invariants must hold
    against exact truth: every reported count brackets the true count
    (count - err <= truth <= count) and no sufficiently-heavy item is
    ever lost."""
    import random

    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving

    k = 32
    for trial in range(20):
        rng = random.Random(1000 + trial)
        stream = []
        for i in range(60):  # zipf-ish head over a 300-item vocabulary
            stream += [f"h{i}"] * (600 // (i + 1))
        stream += [f"t{i % 240}" for i in range(rng.randrange(500, 2000))]
        rng.shuffle(stream)
        truth: dict = {}
        for it in stream:
            truth[it] = truth.get(it, 0) + 1
        n = len(stream)

        # random segmentation -> summaries; random merge/offr interleave
        n_seg = rng.randrange(2, 6)
        cuts = sorted(rng.sample(range(1, n), n_seg - 1))
        bounds = [0, *cuts, n]
        pool = []
        for i in range(n_seg):
            sk = SpaceSaving(k)
            for it in stream[bounds[i] : bounds[i + 1]]:
                sk.offer(it)
            pool.append(sk)
        extra_iter = iter([])
        while len(pool) > 1:
            rng.shuffle(pool)
            merged = pool.pop().merge(pool.pop())
            # assemble-then-offer: replay a random slice on the merged
            # summary (re-offers count twice unless we take them from a
            # reserved tail — reserve instead: pull from the tail pool)
            pool.append(merged)
        final = pool[0]
        # reserved tail offered AFTER all merges (the trap path)
        tail = [f"h{rng.randrange(60)}" for _ in range(rng.randrange(0, 200))]
        for it in tail:
            truth[it] = truth.get(it, 0) + 1
            final.offer(it)
        n += len(tail)

        reported = {it: (c, e) for it, c, e in final.top(k)}
        for it, (c, e) in reported.items():
            tc = truth.get(it, 0)
            assert tc <= c, (trial, it, tc, c, e)
            assert c - e <= tc, (trial, it, tc, c, e)
        # presence: merged summaries keep the eps=1/k guarantee, so any
        # item heavier than 2N/k must survive every interleaving
        threshold = 2 * n / k
        for it, tc in truth.items():
            if tc > threshold:
                assert it in reported, (trial, it, tc, threshold)


def test_space_saving_partials_merge_matches_exact_counts(spark):
    """Distributed partials over a small-vocabulary corpus merge to
    EXACT token counts (no eviction anywhere), independent of input
    partitioning."""
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving
    from mapreduce_hw05_spark.operators.text import tokenize
    from mapreduce_hw05_spark.sources import load_table

    toks = tokenize(load_table(spark, SF_DIR, "documents"), "text")
    exact = {
        r["token"]: r["n"]
        for r in toks.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    for parts in (3, 11):
        merged = _fold_partials(
            toks.repartition(parts), "token", partial(SpaceSaving, 4096)
        )
        got = {it: c for it, c, e in merged.top(4096)}
        errs = {it: e for it, c, e in merged.top(4096)}
        assert got == exact
        assert set(errs.values()) == {0}


def test_space_saving_partials_keep_null_group(spark):
    """SQL GROUP BY keeps the NULL group — the partials builder must
    too (value_counts dropna=False), and NULLs sort last in ties."""
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving

    df = spark.createDataFrame(
        [("a",), (None,), ("a",), (None,), ("b",)], "k string"
    )
    merged = _fold_partials(df, "k", partial(SpaceSaving, 8))
    assert dict((it, c) for it, c, e in merged.top(8)) == {
        "a": 2, None: 2, "b": 1
    }
    # tie at count 2: non-null 'a' must precede NULL
    assert [it for it, _c, _e in merged.top(8)][:2] == ["a", None]


def test_space_saving_partials_nullable_long_column(spark):
    """A nullable LONG item column reaches pandas as float64 with NaN:
    the partials builder must offer the nulls as None (not NaN — NaN
    breaks tie ordering and can't round-trip the LongType output) and
    hand the integral values back as ints (ADVICE r3 item 4)."""
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving
    from mapreduce_hw05_spark.operators.sketches import sketch_partials

    df = spark.createDataFrame(
        [(7,), (None,), (7,), (None,), (None,), (15,), (132,)], "k long"
    )
    parts = [
        SpaceSaving.deserialize(bytes(r["sketch"]))
        for r in sketch_partials(df, [], "k", partial(SpaceSaving, 8)).collect()
    ]
    assert all(
        it is None or isinstance(it, int) for p in parts for it in p.counts
    )
    merged = _fold_partials(df, "k", partial(SpaceSaving, 8))
    assert dict((it, c) for it, c, _e in merged.top(8)) == {
        None: 3, 7: 2, 15: 1, 132: 1
    }
    # native-int tie order: 15 before 132 (a str() order would flip them)
    assert [it for it, _c, _e in merged.top(8)] == [None, 7, 15, 132]


def test_weighted_sample_matches_reference_and_partitioning(spark):
    """The hash-seeded Efraimidis–Spirakis sample must equal a NumPy
    reference computing the same keys, and be invariant to input
    partitioning (no rand(), no order dependence)."""
    import hashlib

    import numpy as np

    from mapreduce_hw05_spark.operators.sampling import weighted_sample
    from mapreduce_hw05_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "n_chars"
    )
    pdf = docs.toPandas()

    def key(doc_id, w):
        v = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        u = (v + 1) / float(16**15 + 1)
        return round(u ** (1.0 / w), 9)

    pdf["k"] = [key(i, w) for i, w in zip(pdf.doc_id, pdf.n_chars)]
    expect = set(
        pdf.sort_values(["k", "doc_id"], ascending=[False, True])
        .head(50)["doc_id"]
    )
    got = {
        r["doc_id"]
        for r in weighted_sample(docs, "doc_id", "n_chars", 50).collect()
    }
    got_repart = {
        r["doc_id"]
        for r in weighted_sample(
            docs.repartition(13), "doc_id", "n_chars", 50
        ).collect()
    }
    assert got == expect
    assert got_repart == expect


def test_weighted_sample_zero_weight_rows_never_win(spark):
    """Weight <= 0 rows take key 0 (never sampled while positive-weight
    rows remain) instead of throwing under ANSI division — the sf0.1
    events fixture contains value == 0.0 rows."""
    from mapreduce_hw05_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 0.0), (2, -3.0), (3, 5.0), (4, 1.0)], "id long, w double"
    )
    got = {r["id"] for r in weighted_sample(df, "id", "w", 2).collect()}
    assert got == {3, 4}


# --------------------------------------------------------------------------
# Count-min sketch (operators.count_min)
# --------------------------------------------------------------------------


def test_count_min_exact_in_sparse_regime_and_partition_invariant(spark):
    """Distinct items far below the width: estimates are exact, and
    identical under any input partitioning (partials merge by sum)."""
    import numpy as np

    from mapreduce_hw05_spark.operators.count_min import CountMinSketch
    from mapreduce_hw05_spark.operators.text import tokenize
    from mapreduce_hw05_spark.sources import load_table

    toks = tokenize(load_table(spark, SF_DIR, "documents"), "text")
    exact = {
        r["token"]: r["n"]
        for r in toks.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    items = np.array(sorted(exact), dtype=object)
    for parts in (3, 11):
        sk = _fold_partials(
            toks.repartition(parts), "token",
            partial(CountMinSketch, width=2048),
        )
        got = dict(zip(items, sk.query_many(items)))
        assert got == exact


def test_count_min_one_sided_error_bound_under_collisions():
    """Vocabulary far beyond the width: estimates NEVER undercount, and
    overcount by <= e/w of the stream length with margin (the CM
    guarantee), exercised on a Zipf head + uniform tail."""
    import math
    import random

    import numpy as np

    from mapreduce_hw05_spark.operators.count_min import CountMinSketch

    rng = random.Random(11)
    truth: dict = {}
    stream = []
    for i in range(200):
        stream += [f"head{i}"] * (2000 // (i + 1))
    stream += [f"tail{i}" for i in range(20000)]
    rng.shuffle(stream)
    for it in stream:
        truth[it] = truth.get(it, 0) + 1
    sk = CountMinSketch(depth=4, width=512)
    vals, cnts = np.array(list(truth), dtype=object), np.array(
        list(truth.values()), dtype=np.int64
    )
    sk.add_items(vals, cnts)
    ests = sk.query_many(vals)
    n = len(stream)
    eps_n = math.e / 512 * n
    over = ests - cnts
    assert (over >= 0).all()          # one-sided: never undercounts
    # w.p. 1-e^-4 per item; allow the expected tail across 20k items
    assert (over <= eps_n).mean() > 0.99
    assert over[cnts > n // 512].max() <= eps_n  # every heavy item in bound


def test_count_min_merge_equals_whole_build():
    """merge(cms(A), cms(B)) must equal cms(A + B) bit-for-bit — the
    property that lets per-shard sketches roll up arbitrarily."""
    import numpy as np

    from mapreduce_hw05_spark.operators.count_min import CountMinSketch

    a_items = np.array([f"i{j % 50}" for j in range(300)], dtype=object)
    b_items = np.array([f"i{j % 70}" for j in range(200)], dtype=object)

    def build(arrs):
        sk = CountMinSketch(depth=4, width=128)
        for arr in arrs:
            vals, cnts = np.unique(arr, return_counts=True)
            sk.add_items(vals.astype(object), cnts.astype(np.int64))
        return sk

    whole = build([a_items, b_items])
    merged = build([a_items]).merge(build([b_items]))
    assert (whole.counts == merged.counts).all()


def test_count_min_mismatched_params_refuse_merge():
    from mapreduce_hw05_spark.operators.count_min import CountMinSketch

    import pytest

    with pytest.raises(ValueError, match="identical"):
        CountMinSketch(4, 128).merge(CountMinSketch(4, 256))


def test_count_min_nullable_long_column(spark):
    """Nullable long items: nulls count under the sentinel, integral
    values hash as ints so a query with plain Python ints matches."""
    import numpy as np

    from mapreduce_hw05_spark.operators.count_min import CountMinSketch

    df = spark.createDataFrame(
        [(7,), (None,), (7,), (None,), (15,)], "k long"
    )
    sk = _fold_partials(df, "k", partial(CountMinSketch, width=64))
    got = sk.query_many(np.array([7, 15, 999], dtype=np.int64))
    assert list(got[:2]) == [2, 1]
    sentinel = sk.query_many(np.array(["\0null"], dtype=object))
    assert sentinel[0] == 2


# --------------------------------------------------------------------------
# Product quantization (operators.pq)
# --------------------------------------------------------------------------


def test_pq_codebooks_deterministic_and_encode_partition_invariant(spark):
    import numpy as np

    from mapreduce_hw05_spark.operators.pq import pq_encode, train_pq_codebooks
    from mapreduce_hw05_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    sample = np.stack(
        [r["embedding"] for r in emb.select("embedding").collect()]
    ).astype(np.float64)
    b1 = train_pq_codebooks(sample, m=16, ksub=16)
    b2 = train_pq_codebooks(sample, m=16, ksub=16)
    assert (b1 == b2).all()
    c1 = {r["vec_id"]: tuple(r["codes"]) for r in pq_encode(emb, b1).collect()}
    c2 = {
        r["vec_id"]: tuple(r["codes"])
        for r in pq_encode(emb.repartition(7), b1).collect()
    }
    assert c1 == c2
    assert all(len(c) == 16 for c in c1.values())
    assert all(0 <= v < 16 for c in c1.values() for v in c)


def test_pq_sdc_estimate_matches_codeword_reconstruction():
    """The SDC table gather must equal the dot product of the
    RECONSTRUCTED (codeword-concatenated) vectors — the identity that
    defines product quantization."""
    import numpy as np

    from mapreduce_hw05_spark.operators.pq import (
        pq_estimate_pairs,
        sdc_tables,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(3)
    X = rng.standard_normal((200, 32))
    books = train_pq_codebooks(X, m=8, ksub=8, normalize=False)
    m, ksub, dsub = books.shape
    codes = rng.integers(0, ksub, size=(50, m))
    codes_b = rng.integers(0, ksub, size=(50, m))
    est = pq_estimate_pairs(codes, codes_b, sdc_tables(books))
    recon_a = np.concatenate(
        [books[j][codes[:, j]] for j in range(m)], axis=1
    )
    recon_b = np.concatenate(
        [books[j][codes_b[:, j]] for j in range(m)], axis=1
    )
    direct = np.einsum("nd,nd->n", recon_a, recon_b)
    assert np.allclose(est, direct)


def test_pq_exact_rerank_matches_bruteforce(spark):
    """exact_rerank_pairs must return full-precision cosine — identical
    to the brute-force kernel's values for the same pairs."""
    import numpy as np

    from mapreduce_hw05_spark.operators.pq import exact_rerank_pairs
    from mapreduce_hw05_spark.sources import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    pairs = spark.createDataFrame(
        [(0, 1), (2, 9), (10, 44)], "id1 long, id2 long"
    )
    got = {
        (r["id1"], r["id2"]): r["sim"]
        for r in exact_rerank_pairs(pairs, emb).collect()
    }
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }

    def cos(a, b):
        a, b = vecs[a], vecs[b]
        return float(
            (a / np.linalg.norm(a)) @ (b / np.linalg.norm(b))
        )

    for (a, b), s in got.items():
        assert abs(s - cos(a, b)) < 1e-12


# --------------------------------------------------------- g-7/g-8 lpa/sssp


def test_label_propagation_splits_bridged_cliques(spark):
    """Two 5-cliques joined by one bridge edge settle into exactly two
    communities (each clique's min id) under synchronous min-tie LPA —
    and the bridge must not merge them."""
    from mapreduce_hw05_spark.operators.graph import (
        label_propagation,
        undirected,
    )

    clique = lambda lo: [  # noqa: E731
        (lo + i, lo + j) for i in range(5) for j in range(i + 1, 5)
    ]
    edges = spark.createDataFrame(
        clique(0) + clique(5) + [(4, 5)], "src long, dst long"
    )
    labels = {
        r["node"]: r["label"]
        for r in label_propagation(undirected(edges), rounds=4).collect()
    }
    assert {n: labels[n] for n in range(5)} == {n: 0 for n in range(5)}
    assert {n: labels[n] for n in range(5, 10)} == {n: 5 for n in range(5, 10)}


def test_label_propagation_no_in_edges_keeps_own_label(spark):
    """On the directed edge 1→2, node 1 has no in-neighbors and must keep
    its own label while 2 adopts 1's."""
    from mapreduce_hw05_spark.operators.graph import label_propagation

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    labels = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert labels == {1: 1, 2: 1}


def test_sssp_prefers_cheaper_longer_path(spark):
    """Relaxation must route around an expensive direct edge: A→B costs
    10 direct but 3 via A→C→D→B, and SSSP (unlike hop-BFS, which freezes
    a node at first visit) must report 3."""
    from mapreduce_hw05_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(0, 9, 10), (0, 1, 1), (1, 2, 1), (2, 9, 1)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    dist = {r["node"]: r["dist"] for r in sssp(edges, seeds, rounds=6).collect()}
    assert dist == {0: 0, 1: 1, 2: 2, 9: 3}


def test_sssp_round_cap_bounds_path_length(spark):
    """After k rounds only ≤k-edge shortest paths are final: with
    rounds=1 the direct cost-10 edge wins; unreachable nodes never
    appear."""
    from mapreduce_hw05_spark.operators.graph import sssp

    edges = spark.createDataFrame(
        [(0, 9, 10), (0, 1, 1), (1, 2, 1), (2, 9, 1), (50, 51, 1)],
        "src long, dst long, w long",
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    one = {r["node"]: r["dist"] for r in sssp(edges, seeds, rounds=1).collect()}
    assert one == {0: 0, 1: 1, 9: 10}
    full = {r["node"]: r["dist"] for r in sssp(edges, seeds, rounds=6).collect()}
    assert 51 not in full and 50 not in full


# ------------------------------------------------------------- naive bayes


def test_naive_bayes_learns_smooths_and_drops_oov(spark):
    """Hand-checkable NB: class 'a' is x-heavy, 'b' is z-heavy; a doc of
    x's must score 'a', z's must score 'b', a never-seen-in-class token
    must go through the default (smoothed) likelihood rather than -inf,
    and an all-OOV doc must be absent from the scores."""
    import math

    from mapreduce_hw05_spark.operators.naive_bayes import nb_fit, nb_score

    train = spark.createDataFrame(
        [(1, "a", t) for t in ["x", "x", "y"]]
        + [(2, "b", t) for t in ["z", "z", "y"]],
        "doc_id long, label string, token string",
    )
    priors, lik = nb_fit(train)
    probe = spark.createDataFrame(
        [(10, "x"), (10, "x"), (11, "z"), (12, "q")],
        "doc_id long, token string",
    )
    scores = {
        (r["doc_id"], r["label"]): r["score"]
        for r in nb_score(probe, priors, lik).collect()
    }
    assert scores[(10, "a")] > scores[(10, "b")]
    assert scores[(11, "b")] > scores[(11, "a")]
    assert 12 not in {d for d, _ in scores}  # all-OOV doc dropped
    # V=3, class a: x count 2 of nt=3 → ll = ln(3/6); prior = ln(1/2)
    assert math.isclose(
        scores[(10, "a")], math.log(0.5) + 2 * math.log(3 / 6), rel_tol=1e-12
    )
    # class b never saw x → default ll = ln(1/6) per occurrence
    assert math.isclose(
        scores[(10, "b")], math.log(0.5) + 2 * math.log(1 / 6), rel_tol=1e-12
    )


# --------------------------------------------------------- anomaly detector


def test_anomaly_hours_flags_injected_spike(spark, tmp_path):
    """A flat 40-hour series with one 10x spike hour must flag exactly
    that hour — and a fully flat series must flag nothing (zero variance
    never divides or fires)."""
    import datetime as dt

    from mapreduce_hw05_spark.plans import QUERIES

    base = dt.datetime(2024, 1, 1)
    rows = []
    for h in range(40):
        v = 500.0 if h == 30 else 50.0
        for i in range(10):
            rows.append(
                (h * 10 + i, base + dt.timedelta(hours=h, minutes=i), 1, "click", v, "{}")
            )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {
        r["event_type"]: r
        for r in QUERIES["q_anomaly_hours"](spark, str(tmp_path)).collect()
    }
    spike_epoch = int((base + dt.timedelta(hours=30)).replace(
        tzinfo=dt.timezone.utc).timestamp())
    assert out["click"]["n_anomalies"] == 1
    assert out["click"]["anomaly_checksum"] == spike_epoch


# ----------------------------------------------------------- decision stump


def test_best_split_finds_separating_threshold(spark):
    """A feature that cleanly separates the label at x<=2 must win with
    gain = parent Gini (children pure), against a noise feature."""
    from mapreduce_hw05_spark.operators.trees import best_split

    rows = [(x, x * 7 % 5, 1 if x <= 2 else 0) for x in range(1, 7)] * 10
    df = spark.createDataFrame(rows, "f1 long, noise long, y int")

    r = best_split(df, ["f1", "noise"], "y").first()
    assert r["feature"] == "f1" and r["threshold"] == 2
    assert r["pos_left"] == r["n_left"] and r["pos_right"] == 0
    # parent gini = 1 - (1/3)^2 - (2/3)^2 = 4/9; children pure → gain = 4/9
    assert abs(r["gain"] - 4 / 9) < 1e-12


def test_best_split_excludes_empty_right_child(spark):
    """The histogram's max value is not a candidate: with one feature
    value there is no legal split and the result is empty."""
    from mapreduce_hw05_spark.operators.trees import best_split

    df = spark.createDataFrame([(1, 1), (1, 0)], "f1 long, y int")
    assert best_split(df, ["f1"], "y").count() == 0


def test_tree_depth2_recurses_into_children(spark):
    """y = (f1<=2 AND f2<=5) on a 4x10 grid: the root takes f1@2 (tied
    gain with f2@5, feature-name tiebreak), the left child must then
    discover f2@5 with pure children (gain = its parent gini = 0.5),
    and the pure right child reports zero gain."""
    from mapreduce_hw05_spark.operators.trees import grow_tree_depth2

    rows = [
        (a, b, 1 if a <= 2 and b <= 5 else 0)
        for a in range(1, 5)
        for b in range(1, 11)
    ]
    df = spark.createDataFrame(rows, "f1 long, f2 long, y int")
    tree = {
        r["node"]: r for r in grow_tree_depth2(df, ["f1", "f2"], "y").collect()
    }
    assert (tree["root"]["feature"], tree["root"]["threshold"]) == ("f1", 2)
    assert (tree["left"]["feature"], tree["left"]["threshold"]) == ("f2", 5)
    assert abs(tree["left"]["gain"] - 0.5) < 1e-12
    assert tree["left"]["pos_left"] == tree["left"]["n_left"]
    assert tree["right"]["gain"] == 0.0


# ------------------------------------------- property differentials (new ops)


def _bruteforce_best_split(rows, feats):
    """Pure-Python reference for best_split: same float formula shape,
    same (gain desc, feature, threshold) tiebreak."""
    n = len(rows)
    pos = sum(r[-1] for r in rows)

    def gini(p, m):
        a = p / m
        b = (m - p) / m
        return 1.0 - a * a - b * b

    best = None
    for fi, fname in enumerate(feats):
        values = sorted({r[fi] for r in rows})
        for t in values[:-1]:
            nl = sum(1 for r in rows if r[fi] <= t)
            pl = sum(r[-1] for r in rows if r[fi] <= t)
            gain = (
                gini(float(pos), float(n))
                - (nl / n) * gini(pl, nl)
                - ((n - nl) / n) * gini(pos - pl, n - nl)
            )
            key = (-gain, fname, t)
            if best is None or key < best[0]:
                best = (key, (fname, t, nl, pl, n - nl, pos - pl, gain))
    return None if best is None else best[1]


@pytest.mark.parametrize("seed", range(12))
def test_best_split_matches_bruteforce(spark, seed):
    import random

    rng = random.Random(seed)
    n = rng.randint(4, 50)
    rows = [
        (
            rng.randint(1, 5),
            rng.randint(1, 4),
            1 if rng.random() < 0.4 else 0,
        )
        for _ in range(n)
    ]
    from mapreduce_hw05_spark.operators.trees import best_split

    df = spark.createDataFrame(rows, "f1 long, f2 long, y int")
    got = best_split(df, ["f1", "f2"], "y").first()
    want = _bruteforce_best_split(rows, ["f1", "f2"])
    if want is None:
        assert got is None
        return
    assert (
        got["feature"], got["threshold"], got["n_left"], got["pos_left"],
        got["n_right"], got["pos_right"],
    ) == want[:6]
    assert got["gain"] == want[6]  # identical IEEE op chain → exact


@pytest.mark.parametrize("seed", range(8))
def test_label_propagation_matches_python(spark, seed):
    import random

    rng = random.Random(1000 + seed)
    n = rng.randint(3, 14)
    edges = [
        (a, b)
        for a in range(n)
        for b in range(n)
        if a != b and rng.random() < 0.3
    ]
    if not edges:
        edges = [(0, 1)]
    from collections import Counter

    from mapreduce_hw05_spark.operators.graph import label_propagation

    nodes = {a for a, _ in edges} | {b for _, b in edges}
    labels = {v: v for v in nodes}
    for _ in range(3):
        nxt = {}
        for v in nodes:
            nbr = [labels[a] for a, b in edges if b == v]
            if not nbr:
                nxt[v] = labels[v]
                continue
            cnt = Counter(nbr)
            top = max(cnt.values())
            nxt[v] = min(l for l, c in cnt.items() if c == top)
        labels = nxt
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, rounds=3).collect()
    }
    assert got == labels


@pytest.mark.parametrize("seed", range(8))
def test_sssp_matches_python_bellman_ford(spark, seed):
    import random

    rng = random.Random(2000 + seed)
    n = rng.randint(3, 12)
    edges = [
        (a, b, rng.randint(1, 9))
        for a in range(n)
        for b in range(n)
        if a != b and rng.random() < 0.35
    ]
    if not edges:
        edges = [(0, 1, 1)]
    seeds = sorted({a for a, _, _ in edges})[:2]
    rounds = 4
    dist = {s: 0 for s in seeds}
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in edges:
            if a in dist and dist[a] + w < nxt.get(b, 1 << 60):
                nxt[b] = dist[a] + w
        dist = nxt
    from mapreduce_hw05_spark.operators.graph import sssp

    df = spark.createDataFrame(edges, "src long, dst long, w long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r["node"]: r["dist"] for r in sssp(df, sdf, rounds=rounds).collect()}
    assert got == dist


# ------------------------------------------------------------------- hits


def test_hits_star_graph_hand_values(spark):
    """On the star 1→9, 2→9, 3→9 plus 1→8: node 9 is the unique top
    authority (3 hub contributions vs 1), node 8 normalizes to 1/3 of
    the scale, and hubs 2/3 (who point only at 9) out-rank hub 1 only
    in round ≥2 ties — all at exact quantized values."""
    from mapreduce_hw05_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9), (1, 8)], "src long, dst long"
    )
    auth, hub = hits(edges, rounds=1)
    aq = {r["node"]: r["aq"] for r in auth.collect()}
    hq = {r["node"]: r["hq"] for r in hub.collect()}
    assert aq == {9: 1_000_000_000, 8: 333_333_333}
    # hub raw: 1 → aq[9]+aq[8]; 2,3 → aq[9] (max is node 1)
    assert hq[1] == 1_000_000_000
    assert hq[2] == hq[3] == 750_000_000  # floor(1e9/1333333333*1e9)


@pytest.mark.parametrize("seed", range(8))
def test_hits_matches_python(spark, seed):
    """Quantized HITS equals a pure-Python reference running the same
    BIGINT sums and the same (int→double divide, ×1e9, floor) chain on
    random digraphs — the bit-exactness claim behind the oracle."""
    import math
    import random

    rng = random.Random(3000 + seed)
    n = rng.randint(3, 12)
    edges = [
        (a, b)
        for a in range(n)
        for b in range(n)
        if a != b and rng.random() < 0.3
    ]
    if not edges:
        edges = [(0, 1)]
    rounds = 3
    hq = {u: 1_000_000_000 for u, _ in edges}
    aq = {}
    for _ in range(rounds):
        raw_a = {}
        for u, v in edges:
            raw_a[v] = raw_a.get(v, 0) + hq[u]
        m = float(max(raw_a.values()))
        aq = {
            v: math.floor(r / m * 1000000000.0) for v, r in raw_a.items()
        }
        raw_h = {}
        for u, v in edges:
            if v in aq:
                raw_h[u] = raw_h.get(u, 0) + aq[v]
        m = float(max(raw_h.values()))
        hq = {
            u: math.floor(r / m * 1000000000.0) for u, r in raw_h.items()
        }
    from mapreduce_hw05_spark.operators.graph import hits

    df = spark.createDataFrame(edges, "src long, dst long")
    got_a, got_h = hits(df, rounds=rounds)
    assert {r["node"]: r["aq"] for r in got_a.collect()} == aq
    assert {r["node"]: r["hq"] for r in got_h.collect()} == hq


def test_kfold_matches_explicit_refits(spark, tmp_path):
    """The leave-one-fold-out count-subtraction CV must equal the naive
    5× refit: for every fold, fit nb_fit on the other folds' tokens and
    score the held-out fold (round-6 argmax, label tie-break) — the
    per-fold (n_test, n_correct) must match q_kfold_nb_accuracy exactly.
    Corpus is seeded with class-skewed vocabularies so scores are far
    from ties."""
    import random

    from pyspark.sql import Window

    from mapreduce_hw05_spark.operators.naive_bayes import nb_fit, nb_score
    from mapreduce_hw05_spark.operators.text import tokenize
    from mapreduce_hw05_spark.plans import QUERIES

    rng = random.Random(7)
    vocab = {
        "en": ["the", "cat", "sat", "mat", "dog"],
        "fr": ["le", "chat", "sur", "tapis", "chien"],
        "de": ["die", "katze", "auf", "matte", "hund"],
    }
    common = ["data", "spark", "query"]
    rows = []
    for doc_id in range(60):
        lang = ["en", "fr", "de"][doc_id % 3]
        words = [rng.choice(vocab[lang] + common) for _ in range(12)]
        rows.append((doc_id, lang, "s%d" % (doc_id % 4), " ".join(words)))
    spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r["fold"]: (r["n_test"], r["n_correct"])
        for r in QUERIES["q_kfold_nb_accuracy"](
            spark, str(tmp_path)
        ).collect()
    }

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    want = {}
    for f in range(5):
        train = tokenize(
            docs.filter(F.col("doc_id") % 5 != f), "text", "doc_id", "lang"
        ).select("doc_id", F.col("lang").alias("label"), "token")
        priors, lik = nb_fit(train)
        test = tokenize(
            docs.filter(F.col("doc_id") % 5 == f), "text", "doc_id"
        )
        scores = nb_score(test, priors, lik)
        w = Window.partitionBy("doc_id").orderBy(
            F.round(F.col("score"), 6).desc(), F.col("label")
        )
        pred = (
            scores.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("label").alias("pred"))
        )
        joined = pred.join(docs.select("doc_id", "lang"), "doc_id")
        n_test = joined.count()
        n_correct = joined.filter(F.col("pred") == F.col("lang")).count()
        want[f] = (n_test, n_correct)
    assert got == want


def test_weighted_median_two_pass_matches_bruteforce(spark):
    """The two-pass histogram weighted median must equal the brute-force
    definition (smallest v whose cumulative weight in (v, tiebreak)
    order reaches half the total) on random integer data — including
    groups that are constant-valued (single bucket), single-row, and
    heavily tied."""
    import random

    from mapreduce_hw05_spark.operators.quantiles import (
        weighted_median_two_pass,
    )

    rng = random.Random(11)
    rows = []
    for key in range(6):
        n = [1, 2, 7, 40, 200, 33][key]
        for i in range(n):
            v = 500 if key == 3 else rng.randrange(-1000, 1000)
            rows.append((key, v, rng.randrange(1, 9), i))
    df = spark.createDataFrame(rows, "k long, v long, w long, tb long")
    got = {
        r["k"]: (r["total_weight"], r["median_val"])
        for r in weighted_median_two_pass(
            df, key="k", val="v", weight="w", tiebreak="tb", buckets=16
        ).collect()
    }
    want = {}
    by_key = {}
    for k, v, w, tb in rows:
        by_key.setdefault(k, []).append((v, tb, w))
    for k, items in by_key.items():
        items.sort()
        tw = sum(w for _, _, w in items)
        cum = 0
        for v, _, w in items:
            cum += w
            if 2 * cum >= tw:
                want[k] = (tw, v)
                break
    assert got == want


def test_weighted_median_two_pass_huge_span_exact(spark):
    """ADVICE r4: bucket ids are now exact BIGINT `DIV` arithmetic. A
    value span past 2^45 with 256 buckets puts (v-lo)*buckets beyond
    2^53 — where the old double-division path silently lost precision —
    and the two-pass median must still equal brute force."""
    import random

    from mapreduce_hw05_spark.operators.quantiles import (
        weighted_median_two_pass,
    )

    rng = random.Random(31)
    base = 1 << 45
    rows = []
    for i in range(400):
        # cluster values tightly around bucket edges of the huge span so
        # a 1-ulp double bucket error would actually move rows
        edge = base + (i % 16) * (base // 8)
        rows.append((0, edge + rng.randrange(-3, 4), rng.randrange(1, 9), i))
    rows.append((0, -base, 1, 400))  # stretch lo far below
    df = spark.createDataFrame(rows, "k long, v long, w long, tb long")
    got = weighted_median_two_pass(
        df, key="k", val="v", weight="w", tiebreak="tb", buckets=256
    ).collect()
    items = sorted((v, tb, w) for _, v, w, tb in rows)
    tw = sum(w for _, _, w in items)
    cum = 0
    for v, _, w in items:
        cum += w
        if 2 * cum >= tw:
            want_v = v
            break
    assert [(r["k"], r["total_weight"], r["median_val"]) for r in got] == [
        (0, tw, want_v)
    ]


def test_weighted_median_two_pass_mixed_sign_extremes_exact(spark):
    """ADVICE r5: bucket ids are DECIMAL(20,0) arithmetic, exact over
    the whole int64 domain. With lo = -2^62 and hi = 2^62 the old LONG
    path's ``v - lo`` hits 2^63 (ANSI arithmetic-overflow error; wrap
    on non-ANSI) — the decimal path must return the exact median."""
    from mapreduce_hw05_spark.operators.quantiles import (
        weighted_median_two_pass,
        weighted_quantiles_two_pass,
    )

    hi = 1 << 62
    rows = [
        (0, -hi, 1, 0),
        (0, -7, 2, 1),
        (0, 0, 1, 2),
        (0, 9, 2, 3),
        (0, hi, 1, 4),
    ]
    df = spark.createDataFrame(rows, "k long, v long, w long, tb long")
    got = weighted_median_two_pass(
        df, key="k", val="v", weight="w", tiebreak="tb", buckets=256
    ).collect()
    # cum weights in v order: 1, 3, 4, 6, 7; 2*cum >= 7 first at v=0
    assert [(r["k"], r["total_weight"], r["median_val"]) for r in got] == [
        (0, 7, 0)
    ]
    q = {
        r["quantile"]: r["quantile_val"]
        for r in weighted_quantiles_two_pass(
            df, key="k", val="v", weight="w", tiebreak="tb", buckets=256
        ).collect()
    }
    # w*10 >= {1,5,9}*7 first at cum {1,4,7} → v {-2^62, 0, 2^62}
    assert q == {"p10": -hi, "p50": 0, "p90": hi}


def test_weighted_quantiles_two_pass_matches_bruteforce(spark):
    """Multi-quantile two-pass must equal brute force for p10/p50/p90 on
    random data, including a group so small every quantile shares one
    bucket."""
    import random

    from mapreduce_hw05_spark.operators.quantiles import (
        weighted_quantiles_two_pass,
    )

    rng = random.Random(23)
    rows = []
    for key in range(4):
        n = [1, 3, 60, 500][key]
        for i in range(n):
            rows.append((key, rng.randrange(-50, 5000), rng.randrange(1, 6), i))
    df = spark.createDataFrame(rows, "k long, v long, w long, tb long")
    got = {
        (r["k"], r["quantile"]): (r["total_weight"], r["quantile_val"])
        for r in weighted_quantiles_two_pass(
            df, key="k", val="v", weight="w", tiebreak="tb", buckets=8
        ).collect()
    }
    want = {}
    by_key = {}
    for k, v, w, tb in rows:
        by_key.setdefault(k, []).append((v, tb, w))
    for k, items in by_key.items():
        items.sort()
        tw = sum(w for _, _, w in items)
        for qname, qn, qd in (("p10", 1, 10), ("p50", 5, 10), ("p90", 9, 10)):
            cum = 0
            for v, _, w in items:
                cum += w
                if cum * qd >= qn * tw:
                    want[(k, qname)] = (tw, v)
                    break
    assert got == want


def test_weighted_two_pass_jobs_do_not_depend_on_history(spark):
    """Each two-pass call costs the same Spark jobs the first and the
    second time on the same input, whichever of the two ran before: the
    operators leave nothing in the session's cache that a later call
    could reuse."""
    from mapreduce_hw05_spark.operators.quantiles import (
        weighted_median_two_pass,
        weighted_quantiles_two_pass,
    )
    from tests.conftest import count_jobs

    rows = [(k, (37 * i) % 101, 1 + i % 4, i) for k in range(3) for i in range(50)]
    df = spark.createDataFrame(rows, "k long, v long, w long, tb long")

    def jobs(fn):
        return count_jobs(
            spark,
            lambda: fn(df, key="k", val="v", weight="w", tiebreak="tb").collect(),
        )

    fns = (weighted_median_two_pass, weighted_quantiles_two_pass)
    first = [jobs(fn) for fn in fns]
    second = [jobs(fn) for fn in fns]
    assert first == second
