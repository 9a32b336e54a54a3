"""Streaming engine tests (SURVEY §5.2 item 3): batch-equivalence by file
replay, watermark late-data drop, stateful ops, the exactly-once sinks.

Each replay test drives the sf0.001 events fixture (1000 rows) through
``streaming.replay.run_replay`` — the engine's one replay driver, so the
tests push, wait and clean up exactly as the streaming contracts do —
into a memory or foreachBatch sink, then compares against the batch
analog. The sink tests call a factory's foreachBatch function directly
(``_capture_foreach_batch``) to inject re-delivered batches and
crash-mid-swap states; one test pins that a failed replay leaves
nothing behind.
"""

from __future__ import annotations

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from mapreduce_hw05_spark.sources import load_table
from mapreduce_hw05_spark.streaming import ops
from mapreduce_hw05_spark.streaming.replay import run_replay, time_ordered_chunks

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_DIR, "events")


def replay_through(spark, chunks, op, output_mode: str):
    """Run a streaming op over a chunked replay into a memory sink;
    return a snapshot of the sink that outlives the replay's cleanup.

    The replay goes through the same memory-sink wrapper and driver
    (``run_replay``) as the streaming CONTRACTS, so it runs under the
    engine's row-scaled state partitioning. r12: the test session's 32
    shuffle partitions meant a stream-stream join spun up 32×4
    state-store instances per micro-batch — measured 25.4 s → 11.8 s on
    the seed-11 band-join replay at 4 partitions, identical results
    (partition count is not a result property; every test here asserts
    against a batch analog or a reference replay anyway).
    """
    from mapreduce_hw05_spark.plans.streaming_queries import _memory_replay

    return _memory_replay(spark, chunks, "test_replay_", op, output_mode)


def as_sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_batch_equivalence(spark, events):
    """st-1: streaming tumbling counts == batch analog after full replay."""
    got = replay_through(
        spark, time_ordered_chunks(events, "ts", 5), ops.tumbling_counts, "complete"
    )
    expect = (
        events.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    assert as_sorted_rows(got) == as_sorted_rows(expect)


def test_sliding_batch_equivalence(spark, events):
    """st-2: sliding windows — every event in exactly 2 windows."""
    got = replay_through(
        spark, time_ordered_chunks(events, "ts", 4), ops.sliding_counts, "complete"
    )
    n_events = events.count()
    assert got.agg(F.sum("n_events")).first()[0] == 2 * n_events


def test_session_window_batch_equivalence(spark, events):
    """st-3: native session_window session counts == lag+cumsum operator."""
    from mapreduce_hw05_spark.operators.sessions import session_stats

    got = replay_through(
        spark,
        time_ordered_chunks(events, "ts", 5),
        lambda s: ops.session_window_stats(s, gap="30 minutes"),
        "complete",
    )
    got_per_user = got.groupBy("user_id").agg(F.count("*").alias("n_sessions"))
    expect_per_user = (
        session_stats(events, "user_id", "ts", 1800, ("event_id",))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"))
    )
    assert as_sorted_rows(got_per_user) == as_sorted_rows(expect_per_user)


def test_watermark_drops_late_rows(spark, events):
    """st-4: a row arriving far behind the watermark is dropped (append mode)."""
    on_time = events.filter(F.col("event_id") != 0)
    late_row = events.filter(F.col("event_id") == 0).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    )
    # chunk order: all on-time data first (advances watermark to stream end),
    # then one chunk containing only the very-late row
    chunks = time_ordered_chunks(on_time, "ts", 3) + [late_row]
    got = replay_through(
        spark, chunks, lambda s: ops.tumbling_counts(s, watermark="10 minutes"), "append"
    )
    # append mode only emits finalized windows; the late row's window
    # (2024-01-01 00:00) was finalized long before it arrived → dropped.
    late_epoch = 1704067200  # 2024-01-01T00:00:00Z
    late_window = got.filter(
        (F.col("hour_epoch") == late_epoch) & (F.col("event_type").isNotNull())
    )
    on_time_first_hour = on_time.filter(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) == late_epoch
    ).count()
    emitted = late_window.agg(F.coalesce(F.sum("n_events"), F.lit(0))).first()[0]
    assert emitted == on_time_first_hour  # late row not counted


def test_streaming_dedup(spark, events):
    """st-5: duplicated chunk is emitted once (dropDuplicates state)."""
    chunks = time_ordered_chunks(events, "ts", 3)
    chunks = [chunks[0], chunks[0], chunks[1], chunks[2]]  # replay chunk 0 twice
    got = replay_through(spark, chunks, ops.dedup_events, "append")
    assert got.count() == events.count()
    assert got.select("event_id").distinct().count() == events.count()


def test_stream_static_join(spark, events):
    """st-6: stream-static broadcast join enriches every event."""
    customer = load_table(spark, SF_DIR, "customer")
    got = replay_through(
        spark,
        time_ordered_chunks(events, "ts", 3),
        lambda s: ops.enrich_with_users(s, customer),
        "append",
    )
    assert got.count() == events.count()
    # user_id domain ⊂ custkey domain at this SF → every row enriched
    n_users = customer.count()
    matched = got.filter(F.col("c_mktsegment").isNotNull()).count()
    assert matched == events.filter(F.col("user_id") < n_users).count()


def test_stateful_user_counts(spark, events):
    """st-7: applyInPandasWithState running counts converge to batch totals."""
    got = replay_through(
        spark, time_ordered_chunks(events, "ts", 4), ops.stateful_user_counts, "update"
    )
    # memory sink in update mode appends each emission; last per user wins
    from pyspark.sql import Window as W

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
        F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )
    assert as_sorted_rows(latest) == as_sorted_rows(expect)


def test_stream_upsert_foreachbatch(spark, events, tmp_path):
    """foreachBatch MERGE sink: after replaying all chunks, the parquet
    state table holds exactly the latest event per user."""
    state = str(tmp_path / "state")
    run_replay(
        spark, time_ordered_chunks(events, "ts", 4), "test_upsert_",
        lambda stream, root: ops.stream_upsert_foreachbatch(
            stream, state, os.path.join(root, "ckpt")
        ).start(),
        lambda root: None,
    )
    got = spark.read.parquet(state)
    from pyspark.sql import Window as W

    expect = (
        events.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(
                    F.col("ts").desc(), F.col("event_id").desc()
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    assert got.count() == expect.count()
    a = as_sorted_rows(got.select("user_id", "event_id"))
    b = as_sorted_rows(expect.select("user_id", "event_id"))
    assert a == b


def test_exactly_once_sink_batch_manifest_guard(spark, tmp_path):
    """A re-delivered foreachBatch batch id must be a no-op: the additive
    sink is duplicate-sensitive by design, so the committed-batch
    manifest inside the state dir is what makes it exactly-once."""
    from mapreduce_hw05_spark.plans.streaming_queries import user_event_totals

    state = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 2.0)], "user_id long, value double"
    )
    apply_batch = _capture_foreach_batch(
        ops.stream_additive_rollup_foreachbatch, state,
        str(tmp_path / "ckpt"), ["user_id"], user_event_totals,
    )

    def snapshot():
        return {
            r["user_id"]: (r["n_events"], r["sum_value"])
            for r in spark.read.parquet(state).collect()
        }

    apply_batch(batch, 0)
    first = snapshot()
    assert first == {1: (2, 15.0), 2: (1, 2.0)}

    apply_batch(batch, 0)  # re-delivery of a committed batch -> no-op
    assert snapshot() == first

    apply_batch(batch, 1)  # a new batch id does merge additively
    assert snapshot() == {1: (4, 30.0), 2: (2, 4.0)}
    assert sorted(os.listdir(os.path.join(state, "_batches"))) == ["0", "1"]


def test_compacting_sink_bounds_file_count(spark, tmp_path):
    """After a 6-batch replay with max_files=4 → target 1, the sink dir
    must hold far fewer part files than batches, and its contents must
    equal the input exactly."""
    import glob

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    out = str(tmp_path / "out")
    run_replay(
        spark, time_ordered_chunks(events, "ts", 6), "test_compact_",
        lambda stream, root: ops.stream_append_compacting_sink(
            stream, out, os.path.join(root, "ckpt"), max_files=4,
            target_files=1,
        ).start(),
        lambda root: None,
    )
    n_files = len(glob.glob(out + "/part-*") + glob.glob(out + "/b*-*.parquet"))
    assert n_files <= 4, n_files  # 6 batches appended, compaction fired
    got = spark.read.parquet(out)
    assert got.count() == events.count()
    assert got.select(F.sum("user_id")).first()[0] == \
        events.select(F.sum("user_id")).first()[0]


def _capture_foreach_batch(factory, *args, schema=None, **kwargs):
    """Extract a sink factory's foreachBatch callable without starting a
    real stream (the factories only touch stream.writeStream... and, for
    the sketch rollup, stream.schema — pass it as ``schema``)."""
    captured = {}

    class _CaptureWriter:
        def foreachBatch(self, fn):
            captured["fn"] = fn
            return self

        def outputMode(self, *_):
            return self

        def option(self, *_):
            return self

    class _FakeStream:
        writeStream = _CaptureWriter()

    stream = _FakeStream()
    stream.schema = schema
    factory(stream, *args, **kwargs)
    return captured["fn"]


def test_sketch_rollup_sink_survives_crash_mid_swap(spark, tmp_path):
    """Same crash window as the agg sink, for the theta-sketch rollup
    state: a fully-written .next left by a crash between the two swap
    renames must be rolled forward with its committed-batch manifest, so
    the replayed batch neither resets nor double-merges the sketches."""
    import os

    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    state = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 7)], "k string, v long"
    )
    apply_batch = _capture_foreach_batch(
        ops.stream_sketch_foreachbatch, ["k"], "v", partial(ThetaSketch, 64),
        state, str(tmp_path / "ckpt"), schema=batch.schema,
    )

    def estimates():
        return {
            r["k"]: round(
                ThetaSketch.deserialize(bytes(r["sketch"])).estimate(), 3
            )
            for r in spark.read.parquet(state).collect()
        }

    apply_batch(batch, 0)
    batch2 = spark.createDataFrame([("a", 3), ("b", 7)], "k string, v long")
    apply_batch(batch2, 1)
    post = estimates()
    assert post == {"a": 3.0, "b": 1.0}

    # crash: state fully swapped out to .next, dst missing
    os.rename(state, state + ".next")
    apply_batch(batch2, 1)  # replay: roll forward, marker makes it a no-op
    assert estimates() == post
    assert sorted(os.listdir(os.path.join(state, "_batches"))) == ["0", "1"]


def test_sketch_rollup_distributed_state_matches_driver_state(
    spark, tmp_path, monkeypatch
):
    """The distributed-state fallback (VERDICT r3 item 5): the same
    micro-batch sequence run through (a) the driver-side state path,
    (b) the forced distributed path, and (c) a threshold that flips the
    mode mid-stream must all produce BIT-IDENTICAL sketch state — the
    KMV union is associative and order-independent, so the merge
    topology must not leak into the persisted bytes."""
    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    batches = [
        spark.createDataFrame(
            [(f"k{i % 5}", i * 37 + j) for i in range(20) for j in range(3)],
            "k string, v long",
        )
        for _ in range(3)
    ]
    batches[1] = spark.createDataFrame(
        [(f"k{i % 7}", i * 11) for i in range(40)], "k string, v long"
    )

    def run(state, max_driver_state_keys=ops.MAX_DRIVER_STATE_KEYS):
        monkeypatch.setattr(
            ops, "MAX_DRIVER_STATE_KEYS", max_driver_state_keys
        )
        apply_batch = _capture_foreach_batch(
            ops.stream_sketch_foreachbatch, ["k"], "v",
            partial(ThetaSketch, 64), state, state + "_ckpt",
            schema=batches[0].schema,
        )
        for i, b in enumerate(batches):
            apply_batch(b, i)
        return {
            r["k"]: (
                ThetaSketch.deserialize(bytes(r["sketch"])).theta,
                tuple(ThetaSketch.deserialize(bytes(r["sketch"])).hashes),
            )
            for r in spark.read.parquet(state).collect()
        }

    driver = run(str(tmp_path / "drv"))                          # always driver
    distributed = run(str(tmp_path / "dst"), -1)  # always distributed
    crossing = run(str(tmp_path / "mix"), 5)      # flips after batch 0
    assert driver == distributed
    assert driver == crossing
    assert len(driver) == 7  # k0..k6 across the two key shapes


def test_sketch_rollup_distributed_replayed_batch_is_noop(
    spark, tmp_path, monkeypatch
):
    """Exactly-once on the distributed path: a re-delivered batch id is
    absorbed by the committed-batch manifest, same as driver-side."""
    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    monkeypatch.setattr(ops, "MAX_DRIVER_STATE_KEYS", -1)  # always distributed
    state = str(tmp_path / "state")

    batch = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 7)], "k string, v long"
    )
    apply = _capture_foreach_batch(
        ops.stream_sketch_foreachbatch, ["k"], "v", partial(ThetaSketch, 64),
        state, str(tmp_path / "ckpt"), schema=batch.schema,
    )
    apply(batch, 0)

    def estimates():
        return {
            r["k"]: round(
                ThetaSketch.deserialize(bytes(r["sketch"])).estimate(), 3
            )
            for r in spark.read.parquet(state).collect()
        }

    first = estimates()
    assert first == {"a": 2.0, "b": 1.0}
    apply(batch, 0)  # re-delivery: manifest makes it a no-op
    assert estimates() == first
    import os

    assert os.listdir(os.path.join(state, "_batches")) == ["0"]


def test_stream_count_min_sink_exact_and_replay_noop(spark, tmp_path):
    """The streaming CMS sink folds batch partials into one persisted
    blob: estimates equal exact counts in the sparse regime, and a
    re-delivered batch id is absorbed by the manifest (no double-add —
    CMS is duplicate-SENSITIVE, a replayed merge would inflate)."""
    import numpy as np

    from mapreduce_hw05_spark.operators.count_min import CountMinSketch

    state = str(tmp_path / "state")
    apply_batch = _capture_foreach_batch(
        ops.stream_sketch_foreachbatch,
        [], "k", CountMinSketch, state, str(tmp_path / "ckpt"),
    )
    b0 = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    b1 = spark.createDataFrame([("a",), ("c",), ("c",)], "k string")
    apply_batch(b0, 0)
    apply_batch(b1, 1)

    def estimates():
        blob = spark.read.parquet(state).collect()[0]["sketch"]
        sk = CountMinSketch.deserialize(bytes(blob))
        return list(sk.query_many(np.array(["a", "b", "c"], dtype=object)))

    assert estimates() == [3, 1, 2]
    apply_batch(b1, 1)  # at-least-once re-delivery: must not double-add
    assert estimates() == [3, 1, 2]


def test_stream_near_dup_filter_admission_and_replay(spark, tmp_path):
    """The online admission filter: a doc is admitted iff no earlier-id
    doc seen so far is a >=0.8 near-dup — across batches (vs the
    persisted index) AND within a batch; re-delivering a batch id must
    reconverge to the same state (idempotent partition overwrites)."""
    import os

    from mapreduce_hw05_spark.streaming import ops

    state_root = str(tmp_path / "state")
    apply_batch = _capture_foreach_batch(
        ops.stream_near_dup_filter_foreachbatch,
        "doc_id", "text", state_root, str(tmp_path / "ckpt"),
    )
    uniq1 = " ".join(f"w{i}" for i in range(20))
    uniq2 = " ".join(f"x{i}" for i in range(20))
    uniq3 = " ".join(f"y{i}" for i in range(20))
    b0 = spark.createDataFrame(
        [(1, uniq1), (2, uniq2)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(3, uniq1),   # near-dup of doc 1 (earlier batch) -> dropped
         (4, uniq3),   # admitted
         (5, uniq3)],  # near-dup of doc 4 (same batch) -> dropped
        "doc_id long, text string",
    )
    apply_batch(b0, 0)
    apply_batch(b1, 1)

    def admitted():
        return {
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(state_root, "admitted"))
            .collect()
        }

    assert admitted() == {1, 2, 4}
    apply_batch(b1, 1)  # at-least-once re-delivery
    assert admitted() == {1, 2, 4}


def test_stream_near_dup_filter_shingle_mode(spark, tmp_path):
    """shingle=2 switches both signatures and verify to word-bigram
    sets: a token-SHUFFLED copy (identical unigram set) must be
    ADMITTED in shingle mode and DROPPED in unigram mode."""
    import os

    from mapreduce_hw05_spark.streaming import ops

    base = " ".join(f"t{i}" for i in range(30))
    shuffled = " ".join(f"t{i}" for i in reversed(range(30)))
    b0 = spark.createDataFrame([(1, base)], "doc_id long, text string")
    b1 = spark.createDataFrame([(2, shuffled)], "doc_id long, text string")

    def admitted(shingle):
        root = str(tmp_path / f"s{shingle}")
        apply_batch = _capture_foreach_batch(
            ops.stream_near_dup_filter_foreachbatch,
            "doc_id", "text", root, root + "_ckpt", shingle=shingle,
        )
        apply_batch(b0, 0)
        apply_batch(b1, 1)
        return {
            r["doc_id"]
            for r in spark.read.parquet(os.path.join(root, "admitted"))
            .collect()
        }

    assert admitted(1) == {1}      # unigram: shuffled copy is a dup
    assert admitted(2) == {1, 2}   # shingle: order matters, admitted


def test_compacting_sink_replayed_batch_is_noop(spark, tmp_path):
    """foreachBatch is at-least-once: re-delivering a committed batch id
    to the compacting append sink must not duplicate rows (ADVICE r2
    item 2), including when the batch's files were already compacted
    away."""
    out = str(tmp_path / "out")
    apply_batch = _capture_foreach_batch(
        ops.stream_append_compacting_sink, out, str(tmp_path / "ckpt"),
        2, 1,  # max_files, target_files — force compaction quickly
    )
    batch = spark.createDataFrame(
        [(1, 10.0), (2, 2.0)], "user_id long, value double"
    )

    apply_batch(batch, 0)
    assert spark.read.parquet(out).count() == 2
    apply_batch(batch, 0)  # immediate re-delivery
    assert spark.read.parquet(out).count() == 2

    for bid in (1, 2, 3):  # trips compaction (max_files=2)
        apply_batch(batch, bid)
    total = spark.read.parquet(out).count()
    assert total == 8
    # re-deliver an old batch AFTER compaction rewrote its files
    apply_batch(batch, 2)
    assert spark.read.parquet(out).count() == total


def test_exactly_once_sink_survives_crash_mid_swap(spark, tmp_path):
    """Simulate a crash between the two renames of the state swap: on
    the next batch the sink must recover the fully-written .next state
    (roll-forward) instead of restarting from nothing — the silent
    state-reset bug of the old rmtree-then-rename swap."""
    from mapreduce_hw05_spark.plans.streaming_queries import user_event_totals

    state = str(tmp_path / "state")
    apply_batch = _capture_foreach_batch(
        ops.stream_additive_rollup_foreachbatch, state,
        str(tmp_path / "ckpt"), ["user_id"], user_event_totals,
    )
    batch = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 2.0)], "user_id long, value double"
    )

    apply_batch(batch, 0)
    apply_batch(batch, 1)
    expect = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(state).collect()
    }
    assert expect == {1: (4, 30.0), 2: (2, 4.0)}

    # crash injection: state was renamed aside, .next (complete, with
    # batch-2 merged + its marker) not yet renamed in
    os.rename(state, state + ".next")      # stand-in for the written tmp
    os.rename(state + ".next", state + ".old")
    # now simulate the real window: .old holds pre-batch state, .next
    # holds post-batch state. Rebuild both sides explicitly:
    os.rename(state + ".old", state)
    apply_batch(batch, 2)                  # commits batch 2 normally
    post = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(state).collect()
    }
    os.rename(state, state + ".next")      # crash left only .next
    apply_batch(batch, 2)                  # replay: recover + marker no-op
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(state).collect()
    }
    assert got == post  # state rolled forward, replayed batch a no-op


def test_heavy_hitters_sink_survives_crash_mid_swap(spark, tmp_path):
    """Crash-mid-swap + replayed-batch semantics for the space-saving
    frequent-items sink: a dangling .next rolls forward with its
    manifest, and the re-delivered batch id is a no-op (no double
    counting)."""
    import os

    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving

    state = str(tmp_path / "hh_state")
    apply_batch = _capture_foreach_batch(
        ops.stream_sketch_foreachbatch, [], "k", partial(SpaceSaving, 64),
        state, str(tmp_path / "ckpt"),
    )

    def counts():
        (row,) = spark.read.parquet(state).collect()
        return {
            it: (c, e)
            for it, c, e in SpaceSaving.deserialize(bytes(row["sketch"])).top(64)
        }

    b0 = spark.createDataFrame(
        [("a",), ("a",), ("b",)], "k string"
    )
    b1 = spark.createDataFrame([("a",), ("c",)], "k string")
    apply_batch(b0, 0)
    apply_batch(b1, 1)
    post = counts()
    assert post == {"a": (3, 0), "b": (1, 0), "c": (1, 0)}

    os.rename(state, state + ".next")  # crash between the two renames
    apply_batch(b1, 1)  # replay: roll forward; marker makes it a no-op
    assert counts() == post
    assert sorted(os.listdir(os.path.join(state, "_batches"))) == ["0", "1"]


def test_weighted_reservoir_sink_survives_crash_mid_swap(spark, tmp_path):
    """Crash-mid-swap + replayed-batch semantics for the weighted
    reservoir sink, and the fold property: per-batch top-k merged into
    state equals the global top-k over all delivered rows."""
    import os

    from mapreduce_hw05_spark.operators.sampling import weighted_sample
    from mapreduce_hw05_spark.streaming.ops import (
        stream_weighted_reservoir_foreachbatch,
    )

    state = str(tmp_path / "res_state")
    apply_batch = _capture_foreach_batch(
        stream_weighted_reservoir_foreachbatch, "id", "w", 5,
        state, str(tmp_path / "ckpt"),
    )
    b0 = spark.createDataFrame(
        [(i, float(10 + i)) for i in range(1, 8)], "id long, w double"
    )
    b1 = spark.createDataFrame(
        [(i, float(100 * i)) for i in range(8, 12)], "id long, w double"
    )
    apply_batch(b0, 0)
    apply_batch(b1, 1)

    def reservoir():
        return {r["id"] for r in spark.read.parquet(state).collect()}

    expect = {
        r["id"]
        for r in weighted_sample(b0.union(b1), "id", "w", 5).collect()
    }
    post = reservoir()
    assert post == expect

    os.rename(state, state + ".next")  # crash between the two renames
    apply_batch(b1, 1)  # replay: roll forward; marker makes it a no-op
    assert reservoir() == post
    assert sorted(os.listdir(os.path.join(state, "_batches"))) == ["0", "1"]


def _kv_batches(spark):
    """Two one-partition micro-batches every state sink below accepts
    (one partition keeps ``isEmpty`` at one job on any core count)."""
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k string, v long, ts long, event_id long"
    ).coalesce(1)
    return (
        mk([("a", 1, 1, 1), ("a", 2, 2, 2), ("b", 7, 3, 3)]),
        mk([("a", 3, 4, 4), ("c", 7, 5, 5)]),
    )


def _kv_sink(name, state, schema):
    """The foreachBatch function of one state sink over ``_kv_batches``."""
    from mapreduce_hw05_spark.operators.count_min import CountMinSketch
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving
    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    sketch = ops.stream_sketch_foreachbatch
    factory, args, kwargs = {
        "sketch_rollup": (
            sketch, (["k"], "v", partial(ThetaSketch, 64)), {}
        ),
        "heavy_hitters": (sketch, ([], "k", partial(SpaceSaving, 4096)), {}),
        "count_min": (sketch, ([], "k", CountMinSketch), {}),
        "weighted_reservoir": (
            ops.stream_weighted_reservoir_foreachbatch, ("k", "v", 2), {}
        ),
        "upsert": (ops.stream_upsert_foreachbatch, (), {"keys": ["k"]}),
    }[name]
    return _capture_foreach_batch(
        factory, *args, state, state + "_ckpt", schema=schema, **kwargs
    )


@pytest.mark.parametrize("sink", ["count_min", "upsert"])
def test_state_sink_survives_redelivery_and_crash_mid_swap(
    spark, tmp_path, sink
):
    """Crash-mid-swap + replayed-batch semantics for the count-min and
    upsert sinks: a re-delivered batch id is a no-op, and a dangling
    .next rolls forward with its manifest."""
    state = str(tmp_path / "state")
    b0, b1 = _kv_batches(spark)
    apply_batch = _kv_sink(sink, state, b0.schema)

    def snapshot():
        return sorted(tuple(r) for r in spark.read.parquet(state).collect())

    apply_batch(b0, 0)
    apply_batch(b1, 1)
    post = snapshot()
    apply_batch(b1, 1)  # at-least-once re-delivery: a no-op
    assert snapshot() == post
    os.rename(state, state + ".next")  # crash between the two renames
    apply_batch(b1, 1)  # replay: roll forward; marker makes it a no-op
    assert snapshot() == post
    assert sorted(os.listdir(os.path.join(state, "_batches"))) == ["0", "1"]


@pytest.mark.parametrize(
    "sink",
    ["sketch_rollup", "heavy_hitters", "count_min", "weighted_reservoir",
     "upsert"],
)
def test_state_sink_jobs_per_batch(spark, tmp_path, sink):
    """Spark jobs per foreachBatch call (first batch, second batch,
    replayed id, empty batch), counted by job tag. The driver-state
    sinks run ``isEmpty`` plus the partial build and nothing else: their
    state IO is pyarrow, never a ``spark.read`` job. A replayed id costs
    only the ``isEmpty`` probe, the upsert's included."""
    from tests.conftest import count_jobs

    b0, b1 = _kv_batches(spark)
    apply_batch = _kv_sink(sink, str(tmp_path / "state"), b0.schema)

    def jobs(batch, batch_id):
        return count_jobs(spark, lambda: apply_batch(batch, batch_id))

    got = (jobs(b0, 0), jobs(b1, 1), jobs(b1, 1), jobs(b0.limit(0), 2))
    if sink == "upsert":  # its merge plan's job count is Spark's own
        assert got[2:] == (1, 0)
    else:
        assert got == (2, 2, 1, 0)


def test_additive_rollup_sink_manifest_guard_and_merge(spark, tmp_path):
    """The generic additive rollup sink: per-batch deltas fold by
    per-alias re-sum, a re-delivered batch id is a no-op, and the final
    state equals the batch aggregate of the union of all chunks."""
    import datetime as dt

    from mapreduce_hw05_spark.plans.events_queries import hourly_value_stats
    from mapreduce_hw05_spark.streaming.ops import (
        stream_additive_rollup_foreachbatch,
    )

    state = str(tmp_path / "state")
    base = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "ts timestamp, event_type string, value double"
    )
    b0 = mk([(base, "click", 1.5), (base, "click", 2.5)])
    b1 = mk([(base, "click", 4.0), (base + dt.timedelta(hours=1), "view", 8.0)])

    apply_batch = _capture_foreach_batch(
        stream_additive_rollup_foreachbatch, state, str(tmp_path / "ckpt"),
        ["event_type", "hour_epoch"], hourly_value_stats,
    )

    def snapshot():
        return {
            (r["event_type"], r["hour_epoch"]): (r["s"], r["n"])
            for r in spark.read.parquet(state).collect()
        }

    apply_batch(b0, 0)
    epoch0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    assert snapshot() == {("click", epoch0): (4000, 2)}

    apply_batch(b0, 0)  # re-delivery -> no-op
    assert snapshot() == {("click", epoch0): (4000, 2)}

    apply_batch(b1, 1)
    assert snapshot() == {
        ("click", epoch0): (8000, 3),
        ("view", epoch0 + 3600): (8000, 1),
    }


def test_failed_replay_leaves_nothing_behind(spark, events):
    """A micro-batch that raises must still stop the query, drop its
    memory view, remove the scratch root and restore the session's
    shuffle-partition count: ``run_replay`` cleans up in ``finally``.
    The failure is JVM-side (``raise_error``), so no py4j callback is
    involved."""
    from pyspark.errors import StreamingQueryException

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    seen = {}

    def start(stream, root):
        seen["root"] = root
        seen["view"] = os.path.basename(root)
        query = (
            stream.select(F.raise_error(F.lit("replay-boom")).alias("x"))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(seen["view"])
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .start()
        )
        seen["view_at_start"] = spark.catalog.tableExists(seen["view"])
        return query

    with pytest.raises(StreamingQueryException, match="replay-boom"):
        run_replay(spark, time_ordered_chunks(events, "ts", 2),
                   "test_failed_", start, lambda root: None)
    assert seen["view_at_start"]  # the view existed, so its drop is tested
    assert not spark.streams.active
    assert not spark.catalog.tableExists(seen["view"])
    assert not os.path.exists(seen["root"])
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
