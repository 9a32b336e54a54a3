"""Chunk-boundary property tests (VERDICT r2 item 6): a streaming
contract's FINAL state must be invariant to micro-batch chunking — how
many micro-batches the stream arrives in and where the split points
fall. This is the bug class fixed unit fixtures keep missing (the r1
watermark-sentinel pushdown bug was exactly a chunk-boundary
interaction): state handoff between batches, watermark advancement at
boundaries, and at-least-once re-delivery.

Randomized but DETERMINISTIC: chunkings are derived from seeded
``random.Random`` so CI never flakes; each seeded chunking is compared
against the chunking-independent batch analog (equality to a common
reference ⇒ pairwise invariance across all chunkings).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mapreduce_hw05_spark.sources import load_table
from mapreduce_hw05_spark.streaming import ops
from tests.test_streaming import as_sorted_rows, replay_through

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_DIR, "events")


def random_chunks(df, ts_col: str, seed: int, duplicate_one: bool = False):
    """Split ``df`` into a seeded-random number of time-ordered chunks at
    seeded-random row boundaries (arrival order == event-time order, so
    no chunking can legitimately change results). With
    ``duplicate_one``, one random chunk is re-delivered immediately —
    the at-least-once scenario stateful dedup must absorb."""
    rng = random.Random(seed)
    n_rows = df.count()
    n_chunks = rng.randint(2, 7)
    cuts = sorted(rng.sample(range(1, n_rows), n_chunks - 1))
    bounds = [0, *cuts, n_rows]
    ordered = df.withColumn(
        "_rn", F.row_number().over(W.orderBy(ts_col, "event_id"))
    ).localCheckpoint()
    chunks = [
        ordered.filter(
            (F.col("_rn") > bounds[i]) & (F.col("_rn") <= bounds[i + 1])
        ).drop("_rn")
        for i in range(len(bounds) - 1)
    ]
    if duplicate_one:
        dup_at = rng.randrange(len(chunks))
        chunks = chunks[: dup_at + 1] + [chunks[dup_at]] + chunks[dup_at + 1 :]
    return chunks


# CI keeps the three pinned seeds (deterministic, never flakes); the
# periodic deeper sweep (PERF.md r3/r5/r6) overrides them via
#   SPARK_GRAFT_CHUNK_SEEDS="101,211,307,..." python -m pytest ...
# so fresh-seed batches are repeatable without editing this file.
import os as _os

SEEDS = [
    int(s)
    for s in _os.environ.get("SPARK_GRAFT_CHUNK_SEEDS", "11,23,47").split(",")
]


@pytest.mark.parametrize("seed", SEEDS)
def test_tumbling_agg_invariant_to_chunking(spark, events, seed):
    """st-1: windowed aggregation totals must not depend on where
    micro-batch boundaries fall relative to window boundaries."""
    got = replay_through(
        spark, random_chunks(events, "ts", seed), ops.tumbling_counts, "complete"
    )
    expect = events.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    assert as_sorted_rows(got) == as_sorted_rows(expect), f"seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_stateful_dedup_invariant_to_chunking_with_redelivery(
    spark, events, seed
):
    """st-5: dropDuplicates state must absorb a re-delivered chunk and
    emit each event exactly once for EVERY split of the stream —
    duplicates split across a batch boundary exercise cross-batch
    state, duplicates within one batch exercise in-batch dedup."""
    chunks = random_chunks(events, "ts", seed, duplicate_one=True)
    got = replay_through(spark, chunks, ops.dedup_events, "append")
    assert got.count() == events.count(), f"seed={seed}"
    assert got.select("event_id").distinct().count() == events.count()


@pytest.mark.parametrize("seed", SEEDS)
def test_stateful_counts_invariant_to_chunking(spark, events, seed):
    """st-7: applyInPandasWithState running totals must converge to the
    batch totals under any chunking (state handoff between batches)."""
    got = replay_through(
        spark,
        random_chunks(events, "ts", seed),
        ops.stateful_user_counts,
        "update",
    )
    latest = (
        got.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )
    expect = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    assert as_sorted_rows(latest) == as_sorted_rows(expect), f"seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_stream_stream_inner_join_invariant_to_chunking(spark, events, seed):
    """Stream-stream interval join: every (purchase, trailing-hour click)
    match must appear exactly once no matter where batch boundaries fall
    — a purchase arriving batches after its clicks probes RETAINED click
    state, which is where premature watermark eviction would show."""
    got = replay_through(
        spark,
        random_chunks(events, "ts", seed),
        ops.interval_join_purchases,
        "append",
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    expect = purchases.join(
        clicks,
        F.expr("p_user = c_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"),
    ).select(
        "purchase_id",
        "click_id",
        F.col("p_user").alias("user_id"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
        "click_value",
    )
    assert as_sorted_rows(got) == as_sorted_rows(expect), f"seed={seed}"


@pytest.fixture(scope="module")
def outer_join_reference(spark):
    """Single-chunk reference replay for the outer-join invariance tests
    — seed-independent by construction, so computed once per module
    instead of once per seed (r12: each ref replay is its own full
    watermark-flushed stream run)."""
    from mapreduce_hw05_spark.plans.streaming_queries import (
        _watermark_sentinels,
    )

    events = load_table(spark, SF_DIR, "events")
    flush = _watermark_sentinels(spark, events)
    ref = replay_through(
        spark,
        [events.localCheckpoint(), flush],
        lambda stream: ops.interval_join_purchases(stream, "left"),
        "append",
    )
    return as_sorted_rows(ref)


@pytest.mark.parametrize("seed", SEEDS[:2])
def test_stream_stream_outer_join_invariant_to_chunking(
    spark, events, seed, outer_join_reference
):
    """Left-outer stream-stream join: the null-extended rows may only
    emit once the watermark proves no match can arrive — but WHICH rows
    ultimately emit must not depend on micro-batch boundaries, since
    every chunking ends at the same sentinel-driven final watermark."""
    from mapreduce_hw05_spark.plans.streaming_queries import (
        _watermark_sentinels,
    )

    flush = _watermark_sentinels(spark, events)
    got = replay_through(
        spark,
        random_chunks(events, "ts", seed) + [flush],
        lambda stream: ops.interval_join_purchases(stream, "left"),
        "append",
    )
    assert as_sorted_rows(got) == outer_join_reference, f"seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_late_data_drop_invariant_to_chunking_and_late_set(spark, events, seed):
    """st-4 generalized: a seeded-random SET of events is re-stamped
    into the stream's first hour and delivered after a seeded-random
    chunking of the on-time rows. Their windows closed long before, so
    the engine must drop exactly the late set — no leakage into closed
    windows, no over-dropping — for every (late set, chunking) draw."""
    import datetime

    rng = random.Random(seed)
    ids = [r[0] for r in events.select("event_id").collect()]
    late_ids = sorted(rng.sample(ids, rng.randint(1, 5)))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("first_hour"),
        F.max("ts").alias("max_ts"),
    ).first()

    on_time = events.filter(~F.col("event_id").isin(late_ids))
    late = events.filter(F.col("event_id").isin(late_ids)).withColumn(
        "ts", F.lit(bounds["first_hour"]).cast("timestamp")
    )
    sentinel = spark.createDataFrame(
        [(-1, bounds["max_ts"] + datetime.timedelta(hours=2), -1,
          "click", 0.0, "{}")],
        events.schema,
    )
    chunks = random_chunks(on_time, "ts", seed) + [late, sentinel]
    got = replay_through(
        spark,
        chunks,
        lambda s: ops.tumbling_counts(s, watermark="10 minutes"),
        "append",
    )
    max_real_hour = int(bounds["max_ts"].replace(
        minute=0, second=0, microsecond=0).timestamp())
    got = got.filter(F.col("hour_epoch") <= max_real_hour)
    expect = on_time.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    assert as_sorted_rows(got) == as_sorted_rows(expect), (
        f"seed={seed} late_ids={late_ids}"
    )


@pytest.mark.parametrize("seed", SEEDS)
def test_session_window_invariant_to_chunking(spark, events, seed):
    """st-3: session-window state MERGES across micro-batches (a session
    split by a batch boundary must still coalesce into one window) —
    final sessions must equal the batch session_window aggregation for
    any seeded chunking."""
    got = replay_through(
        spark,
        random_chunks(events, "ts", seed),
        lambda s: ops.session_window_stats(s, gap="30 minutes"),
        "complete",
    )
    expect = (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("win.start").alias("session_start_epoch"),
            "n_events",
        )
    )
    assert as_sorted_rows(got) == as_sorted_rows(expect), f"seed={seed}"


@pytest.mark.parametrize("seed", [11, 47])
def test_near_dup_filter_invariant_to_chunking_with_redelivery(
    spark, seed, tmp_path
):
    """The online admission filter's final admitted set must equal the
    batch answer (docs never the larger id of a true >=0.8 pair) for
    ANY id-ordered micro-batch chunking, including a re-delivered
    chunk — cross-batch state (the persisted LSH index), within-batch
    candidates, and idempotent partition overwrites all exercised."""
    import os

    from mapreduce_hw05_spark.plans.similarity_queries import lsh_jaccard_pairs
    from tests.test_streaming import _capture_foreach_batch

    docs = load_table(spark, SF_DIR, "documents")
    dropped = {r["id2"] for r in lsh_jaccard_pairs(docs, 0.8).collect()}
    expect = {
        r["doc_id"] for r in docs.select("doc_id").collect()
    } - dropped

    rng = random.Random(seed)
    n_rows = docs.count()
    n_chunks = rng.randint(2, 5)
    cuts = sorted(rng.sample(range(1, n_rows), n_chunks - 1))
    bounds = [0, *cuts, n_rows]
    ordered = docs.withColumn(
        "_rn", F.row_number().over(W.orderBy("doc_id"))
    ).localCheckpoint()
    deliveries = [
        (
            i,
            ordered.filter(
                (F.col("_rn") > bounds[i]) & (F.col("_rn") <= bounds[i + 1])
            ).drop("_rn"),
        )
        for i in range(len(bounds) - 1)
    ]
    dup_at = rng.randrange(len(deliveries))
    deliveries = (
        deliveries[: dup_at + 1]
        + [deliveries[dup_at]]  # same batch id re-delivered
        + deliveries[dup_at + 1 :]
    )

    state_root = str(tmp_path / "state")
    apply_batch = _capture_foreach_batch(
        ops.stream_near_dup_filter_foreachbatch,
        "doc_id", "text", state_root, str(tmp_path / "ckpt"),
    )
    for batch_id, chunk in deliveries:
        apply_batch(chunk, batch_id)
    admitted = {
        r["doc_id"]
        for r in spark.read.parquet(
            os.path.join(state_root, "admitted")
        ).collect()
    }
    assert admitted == expect, f"seed={seed}"


@pytest.mark.parametrize("seed", SEEDS)
def test_stream_band_join_invariant_to_chunking(spark, events, seed):
    """Key-less stream-stream band join: every (purchase, near-value
    click in the trailing 2 h) match exactly once regardless of batch
    boundaries. On top of the interval-join retention property, this
    checks the bucket-explode probe side — a purchase probing 3 buckets
    must not double-emit a pair even when its probe rows land in the
    same micro-batch as the click's state insert."""
    got = replay_through(
        spark,
        random_chunks(events, "ts", seed),
        ops.band_join_clicks_purchases,
        "append",
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("c_value"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("p_value"),
    )
    expect = purchases.join(
        clicks,
        F.expr(
            "abs(p_value - c_value) <= 2.0 "
            "AND c_ts BETWEEN p_ts - INTERVAL 2 HOURS AND p_ts"
        ),
    ).select(
        "purchase_id",
        "click_id",
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
        F.round(F.abs(F.col("p_value") - F.col("c_value")), 6).alias("value_gap"),
    )
    assert as_sorted_rows(got) == as_sorted_rows(expect), f"seed={seed}"


def _hourly_delta_fns():
    from mapreduce_hw05_spark.plans.analytics_queries import (
        hourly_anomaly_stats,
    )
    from mapreduce_hw05_spark.plans.analytics_queries import (
        bootstrap_weighted_sums,
    )
    from mapreduce_hw05_spark.plans.events_queries import (
        hourly_value_stats,
        type_moment_stats,
    )

    return {
        "ewma": (hourly_value_stats, ["event_type", "hour_epoch"]),
        "anomaly": (hourly_anomaly_stats, ["event_type", "hour_epoch"]),
        "moments": (type_moment_stats, ["event_type"]),
        "bootstrap": (bootstrap_weighted_sums, ["b"]),
    }


@pytest.mark.parametrize(
    "delta", ["ewma", "anomaly", "moments", "bootstrap"]
)
@pytest.mark.parametrize("seed", SEEDS)
def test_additive_rollup_invariant_to_chunking_with_redelivery(
    spark, events, seed, delta, tmp_path
):
    """The additive hourly rollup must land on EXACTLY the batch hourly
    table for any chunking, even when one batch id is re-delivered (the
    manifest guard absorbs it). This is the state q_stream_ewma smooths
    and q_stream_anomaly sweeps, so their equality with the batch twins
    follows from this test plus the shared finisher plans."""
    import os

    hourly_value_stats, key_cols = _hourly_delta_fns()[delta]
    from tests.test_streaming import _capture_foreach_batch

    chunks = random_chunks(events, "ts", seed, duplicate_one=True)
    # re-deliver with the SAME batch id for the duplicated chunk, as a
    # recovered foreachBatch would
    seen, deliveries, next_id = set(), [], 0
    for c in chunks:
        key = id(c)
        if key in seen:
            deliveries.append((deliveries[-1][0], c))
            continue
        seen.add(key)
        deliveries.append((next_id, c))
        next_id += 1

    state = str(tmp_path / "state")
    apply_batch = _capture_foreach_batch(
        ops.stream_additive_rollup_foreachbatch,
        state, str(tmp_path / "ckpt"),
        key_cols, hourly_value_stats,
    )
    for batch_id, chunk in deliveries:
        apply_batch(chunk, batch_id)
    expect = hourly_value_stats(events)
    got = spark.read.parquet(state).select(*expect.columns)
    assert as_sorted_rows(got) == as_sorted_rows(expect), f"seed={seed}"
