"""Streaming contract queries (SURVEY §2.1 src-4 / §2.9): genuinely
streaming-EXECUTED queries in the correctness registry.

Structured Streaming's unified semantics guarantee that a streaming
aggregation's final state equals the batch query over the same data —
so each streaming run can be hash-checked against the *batch* SQL
oracle. Every contract here replays a fixture as a chunked file stream
(the local stand-in for Kafka) through ``streaming.replay.run_replay``,
the one replay driver, and returns the final result table. Three thin
wrappers pick the sink: ``_memory_replay`` (memory sink, 13 contracts),
``_state_replay`` (foreachBatch or file sink, read back from its output
dir) and ``_rollup_replay`` (the additive rollup sink plus a shared
batch finisher).
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_hw05_spark.plans.common import money, snapshot_result
from mapreduce_hw05_spark.plans.analytics_queries import (
    ACF_ORACLE_SQL as _ACF_ORACLE_SQL_REF,
    BOOTSTRAP_ORACLE_SQL as _BOOTSTRAP_ORACLE_SQL_REF,
    ANOMALY_ORACLE_SQL as _ANOMALY_ORACLE_SQL_REF,
    CHI_SQUARE_ORACLE_SQL as _CHI_SQUARE_ORACLE_SQL_REF,
    CUSUM_ORACLE_SQL as _CUSUM_ORACLE_SQL_REF,
    FANO_ORACLE_SQL as _FANO_ORACLE_SQL_REF,
    PSI_ORACLE_SQL as _PSI_ORACLE_SQL_REF,
)
from mapreduce_hw05_spark.plans.events_queries import (
    EWMA_ORACLE_SQL as _EWMA_ORACLE_SQL_REF,
    JACKKNIFE_ORACLE_SQL as _JACKKNIFE_ORACLE_SQL_REF,
    MOMENTS_ORACLE_SQL as _MOMENTS_ORACLE_SQL_REF,
)
from mapreduce_hw05_spark.plans.registry import contract
from mapreduce_hw05_spark.sources import load_table
from mapreduce_hw05_spark.streaming import ops
from mapreduce_hw05_spark.streaming.replay import (
    EVENTS_STREAM_SCHEMA,
    ChunkList,
    run_replay,
    time_ordered_chunks,
)


def _memory_replay(spark: SparkSession, chunks, prefix: str, op, mode: str,
                   keep=None) -> DataFrame:
    """Replay ``chunks`` through ``op`` into a memory sink in output
    ``mode``; return a snapshot of the sink, through ``keep`` if given.

    The query (and so its memory view) is named after the scratch root,
    which ``run_replay`` drops again on the way out. The snapshot is a
    plain DataFrame whose contents survive that cleanup.
    """

    def start(stream, root):
        return (
            op(stream)
            .writeStream.outputMode(mode)
            .format("memory")
            .queryName(os.path.basename(root))
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .start()
        )

    def finish(root):
        sink = spark.table(os.path.basename(root))
        return snapshot_result(keep(sink) if keep else sink)

    return run_replay(spark, chunks, prefix, start, finish)


def _state_replay(spark: SparkSession, chunks, prefix: str, sink, finish,
                  *, schema=EVENTS_STREAM_SCHEMA):
    """Replay ``chunks`` into a foreachBatch or file sink; return
    ``finish(state)`` over the sink's output dir.

    ``sink(stream, state, ckpt)`` returns the configured writer for
    output dir ``state`` and checkpoint ``ckpt``; ``finish`` reads the
    result before the scratch root is removed.
    """

    def start(stream, root):
        return sink(stream, os.path.join(root, "state"),
                    os.path.join(root, "ckpt")).start()

    return run_replay(
        spark, chunks, prefix, start,
        lambda root: finish(os.path.join(root, "state")), schema=schema,
    )


def _delivered_twice(chunks: ChunkList) -> ChunkList:
    """Each chunk pushed twice in a row: the at-least-once redelivery of
    a flaky upstream, with the row count doubled to match."""
    doubled = ChunkList(c for chunk in chunks for c in (chunk, chunk))
    doubled.total_rows = (chunks.total_rows or 0) * 2
    return doubled


def user_event_totals(batch: DataFrame) -> DataFrame:
    """Per-user ``count(*) → n_events`` and ``sum(value) → sum_value``
    delta for the additive rollup sink."""
    return batch.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("sum_value"),
    )


def _rollup_replay(spark: SparkSession, sf_dir: str, prefix: str,
                   keys: list[str], delta_fn, finish, ddl: str) -> DataFrame:
    """Fold the events replay (4 chunks) into the additive rollup sink
    keyed on ``keys`` with per-batch deltas from ``delta_fn``; return the
    rows ``finish(state_df)`` collects from the final state as a
    DataFrame of schema ``ddl``."""
    events = load_table(spark, sf_dir, "events")
    rows = _state_replay(
        spark, time_ordered_chunks(events, "ts", 4), prefix,
        lambda stream, state, ckpt: ops.stream_additive_rollup_foreachbatch(
            stream, state, ckpt, keys, delta_fn,
        ),
        lambda state: finish(spark.read.parquet(state)),
    )
    return spark.createDataFrame(rows, ddl)


@contract(
    "q_stream_batch_equiv",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_batch_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour counts computed BY THE STREAMING ENGINE (file
    replay in 4 micro-batches, complete output mode) — final state must
    hash-match the batch SQL oracle. Watermark state stays bounded by
    (open windows × event types), never stream length.
    """
    events = load_table(spark, sf_dir, "events")
    return _memory_replay(spark, time_ordered_chunks(events, "ts", 4),
                          "q_stream_", ops.tumbling_counts, "complete")


@contract(
    "q_stream_static_join",
    oracle="""
    SELECT c.c_mktsegment AS mktsegment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e
    LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st-6 executed BY THE STREAMING ENGINE: the events file-replay
    stream enriched with the static (broadcast) customer dim, then
    aggregated per market segment in complete output mode — hash-checked
    against the batch left-join oracle.

    Stream-static joins are stateless (the dim is re-broadcast per
    micro-batch, so dim updates between batches are picked up); at
    cluster scale the same plan joins a Kafka stream against a warehouse
    dimension table with zero shuffle on the stream side.
    """
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")

    def by_segment(stream):
        return (
            ops.enrich_with_users(stream, customer)
            .groupBy(F.col("c_mktsegment").alias("mktsegment"))
            .agg(
                F.count("*").alias("n_events"),
                money(F.sum("value")).alias("sum_value"),
            )
        )

    return _memory_replay(spark, time_ordered_chunks(events, "ts", 3),
                          "q_sstat_", by_segment, "complete")


@contract(
    "q_stream_stream_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'click'
    ), purchases AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us,
           c.value AS click_value
    FROM purchases p
    JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined to the same user's clicks in the trailing hour,
    executed BY THE STREAMING ENGINE as a watermarked stream-stream inner
    join over a 3-chunk file replay, hash-checked against the batch join
    oracle. Inner matches emit per micro-batch (append mode); click state
    is evicted an hour-plus-delay behind the watermark, so final state is
    bounded by one hour of per-user clicks — the 100 TB posture.

    Chunks are time-ordered, so a purchase's 1-hour lookback is always
    within watermark-retained state and the stream result is EXACTLY the
    batch join (the unified-semantics guarantee this contract checks).
    """
    events = load_table(spark, sf_dir, "events")
    return _memory_replay(spark, time_ordered_chunks(events, "ts", 3),
                          "q_ssj_", ops.interval_join_purchases, "append")


@contract(
    "q_stream_file_sink",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    WHERE value > 1.0
    GROUP BY event_type
    """,
)
def q_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming FILE sink: the events replay stream is
    filtered/projected and appended to a parquet sink (checkpoint +
    _spark_metadata transaction log), then the sink directory is read
    back as a batch table and aggregated — hash-checked against the
    batch oracle over the original fixture.

    What this proves: no micro-batch is lost or double-written across
    the replay (the batch re-read honors the sink's commit log, so an
    uncommitted or duplicated task file would break the hash). The
    stateless stream keeps no store — at scale this is the bronze-layer
    ingest pattern (stream → filtered columnar files → batch analytics).
    """
    events = load_table(spark, sf_dir, "events")

    def parquet_sink(stream, out, ckpt):
        return (
            stream.filter(F.col("value") > 1.0)
            .select("event_id", "user_id", "event_type", "value")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )

    return _state_replay(
        spark, time_ordered_chunks(events, "ts", 3), "q_fsink_", parquet_sink,
        lambda out: snapshot_result(
            spark.read.parquet(out)
            .groupBy("event_type")
            .agg(
                F.count("*").alias("n_events"),
                money(F.sum("value")).alias("sum_value"),
                F.countDistinct("user_id").alias("n_users"),
            )
        ),
    )


@contract(
    "q_custom_stream_source",
    oracle="""
    SELECT CAST(i % 12 AS INTEGER) AS bucket,
           count(*) AS n_rows,
           CAST(sum(i) AS BIGINT) AS sum_id,
           max(md5(CAST(i AS VARCHAR))) AS max_md5
    FROM range(24000) t(i)
    GROUP BY bucket
    """,
)
def q_custom_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom PYTHON STREAMING source (SimpleDataSourceStreamReader):
    the seqgen connector served as a micro-batched stream — 24 000 rows
    in 6 000-row offset-tracked batches — aggregated incrementally in
    complete mode; final state must match the DuckDB range() oracle.

    What this proves beyond q_custom_datasource: driver-side offset
    management (initialOffset → read → commit) and deterministic batch
    replay, i.e. the machinery a Kafka-like connector needs for
    exactly-once. Fixture-independent by design.
    """
    from mapreduce_hw05_spark.sources.pydatasource import register_seqgen

    register_seqgen(spark)
    src = (
        spark.readStream.format("seqgen")
        .option("n", 24000)
        .option("batch", 6000)
        .option("buckets", 12)
        .load()
    )
    agg = src.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("id").alias("sum_id"),
        F.max("id_md5").alias("max_md5"),
    )
    # no file chunks: the query reads seqgen, and zero replayed rows
    # size the state scope to the minimum partition count
    return _memory_replay(spark, [], "q_csrc_", lambda _replay: agg,
                          "complete")


@contract(
    "q_stream_upsert_cdc",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           round(value, 6) AS last_value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def q_stream_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert executed BY THE STREAMING ENGINE: the events
    replay is MERGE-upserted per micro-batch into a parquet state table
    via foreachBatch (latest row per user wins), and the final state
    must hash-match the batch latest-per-user oracle — proving the
    per-batch compaction + keyed merge composes to exactly the batch
    semantics across arbitrary micro-batch boundaries.
    """
    events = load_table(spark, sf_dir, "events")
    return _state_replay(
        spark, time_ordered_chunks(events, "ts", 3), "q_upsert_",
        ops.stream_upsert_foreachbatch,
        lambda state: snapshot_result(
            spark.read.parquet(state).select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("event_type").alias("last_event_type"),
                F.round("value", 6).alias("last_value"),
            )
        ),
    )


@contract(
    "q_stream_session_window",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(epoch_us(min(ts)) // 1000000 AS BIGINT) AS session_start_epoch,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) computed BY THE STREAMING
    ENGINE: the events replay runs through ``F.session_window`` state
    that MERGES windows as later micro-batches extend open sessions, and
    the final table must hash-match the batch gap-and-cumsum oracle.

    Boundary semantics pinned by experiment: a Spark session window is
    ``[start, last_event + gap)``, so an event at exactly ``last + gap``
    opens a NEW session — the oracle's gap comparison is ``>=``, not
    ``>``. State is bounded by OPEN sessions per user (closed windows
    are emitted and dropped under a watermark in append mode; complete
    mode here keeps them only because the memory sink needs the full
    table for the hash check).
    """
    events = load_table(spark, sf_dir, "events")
    return _memory_replay(spark, time_ordered_chunks(events, "ts", 4),
                          "q_sesswin_", ops.session_window_stats, "complete")


@contract(
    "q_stream_dedup",
    oracle="""
    SELECT event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           user_id,
           event_type,
           round(value, 6) AS value
    FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st-5 executed BY THE STREAMING ENGINE: every replay chunk is
    pushed TWICE (each copy a separate file drop, mostly separate
    micro-batches — the at-least-once delivery model of a flaky
    upstream), and stateful ``dropDuplicates`` on (event_id, ts) within
    the watermark horizon must reconstruct exactly the original fixture.

    The watermark delay is set beyond the fixture's time span so no
    dedup state expires mid-replay; at scale the delay shrinks to the
    real delivery-lag bound and state stays O(events within horizon).
    """
    events = load_table(spark, sf_dir, "events")

    def dedup(stream):
        return ops.dedup_events(stream, watermark="3650 days").select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "user_id",
            "event_type",
            F.round("value", 6).alias("value"),
        )

    return _memory_replay(
        spark, _delivered_twice(time_ordered_chunks(events, "ts", 3)),
        "q_sdedup_", dedup, "append",
    )


@contract(
    "q_stream_exactly_once_cdc",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_exactly_once_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level exactly-once, end to end, executed BY THE STREAMING
    ENGINE: every replay chunk is delivered TWICE (at-least-once
    upstream), stateful ``dropDuplicates`` on (event_id, ts) removes the
    redelivery, and the surviving rows are ADDED into a per-user
    count/sum state table via the committed-batch-manifest foreachBatch
    sink. The sink is duplicate-SENSITIVE (an additive merge, not a
    keyed upsert), so a single row delivered twice — by the source, by
    dedup state loss, or by a replayed foreachBatch — inflates a count
    and fails the hash against the batch aggregate oracle. This is the
    thirteenth streaming-executed contract and the exactly-once
    completion of the q_stream_upsert_cdc family.
    """
    events = load_table(spark, sf_dir, "events")
    return _state_replay(
        spark, _delivered_twice(time_ordered_chunks(events, "ts", 3)),
        "q_eocdc_",
        lambda stream, state, ckpt: ops.stream_additive_rollup_foreachbatch(
            ops.dedup_events(stream, watermark="3650 days"), state, ckpt,
            ["user_id"], user_event_totals,
        ),
        lambda state: snapshot_result(
            spark.read.parquet(state).select(
                "user_id",
                "n_events",
                F.round("sum_value", 2).alias("sum_value"),
            )
        ),
    )


@contract(
    "q_stream_compacted_sink",
    oracle="""
    SELECT event_id,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us,
           user_id,
           event_type,
           round(value, 6) AS value
    FROM events
    """,
)
def q_stream_compacted_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental table maintenance executed BY THE STREAMING ENGINE:
    the events replay appends through a foreachBatch sink that compacts
    the directory to one right-sized file whenever the small-file count
    trips a threshold (6 micro-batches, compaction firing mid-stream
    multiple times). The final directory must still read back as exactly
    the fixture — compaction is pure maintenance, invisible to readers —
    and the engine test pins the file-count bound itself.
    """
    events = load_table(spark, sf_dir, "events")
    return _state_replay(
        spark, time_ordered_chunks(events, "ts", 6), "q_compsink_",
        lambda stream, out, ckpt: ops.stream_append_compacting_sink(
            stream, out, ckpt, max_files=4, target_files=1,
        ),
        lambda out: snapshot_result(
            spark.read.parquet(out).select(
                "event_id",
                F.unix_micros("ts").alias("ts_us"),
                "user_id",
                "event_type",
                F.round("value", 6).alias("value"),
            )
        ),
    )


@contract(
    "q_stream_sliding",
    oracle="""
    SELECT CAST((epoch_us(ts) // 1000000) // 1800 * 1800 - k.off AS BIGINT)
               AS window_start_epoch,
           event_type,
           count(*) AS n_events
    FROM events, (SELECT unnest([0, 1800]) AS off) k
    GROUP BY 1, 2
    """,
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st-2 executed BY THE STREAMING ENGINE: 1-hour windows sliding
    every 30 minutes maintained incrementally across 4 micro-batches
    (every event updates TWO window states), complete output mode; the
    final table must hash-match the batch offset-explode oracle. The
    last window type (tumbling/session/sliding) promoted from
    batch-analog-only to streaming-executed.
    """
    events = load_table(spark, sf_dir, "events")
    return _memory_replay(spark, time_ordered_chunks(events, "ts", 4),
                          "q_sslide_", ops.sliding_counts, "complete")


@contract(
    "q_stream_sketch_rollup",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS sketch_within_2pct
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sketch maintenance executed BY THE STREAMING ENGINE:
    the events replay (4 micro-batches) maintains per-type theta
    sketches through the foreachBatch union-merge sink — distinct-count
    state bounded at O(types × k hashes) regardless of stream length,
    and the persisted sketches keep supporting set algebra. The final
    merged estimates must land within 2% of the batch exact distinct
    (below k the sketch is exact, so drift here means a broken merge or
    a lost batch).
    """
    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    events = load_table(spark, sf_dir, "events")
    est = _state_replay(
        spark, time_ordered_chunks(events, "ts", 4), "q_sksink_",
        lambda stream, state, ckpt: ops.stream_sketch_foreachbatch(
            stream, ["event_type"], "user_id", ThetaSketch, state, ckpt,
        ),
        lambda state: {
            r["event_type"]: ThetaSketch.deserialize(bytes(r["sketch"])).estimate()
            for r in spark.read.parquet(state).collect()  # bounded: one sketch row per event_type
        },
    )
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()  # driver-sized: one row per event_type
    }
    rows = [
        (
            et,
            n,
            abs(est.get(et, 0.0) - n) <= max(n * 0.02, 1e-9),
        )
        for et, n in sorted(exact.items())
    ]
    return spark.createDataFrame(
        rows, "event_type string, n_users_exact long, sketch_within_2pct boolean"
    )


@contract(
    "q_stream_late_data",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    WHERE event_id <> (SELECT min(event_id) FROM events)
    GROUP BY 1, 2
    """,
)
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """st-4 as a DRIVER-CHECKED contract (previously engine-test only):
    the minimum-id event is re-stamped to the stream's FIRST hour and
    delivered AFTER all on-time chunks — by then the watermark sits at
    stream-end − 10 min, its window closed long ago, so the engine must
    DROP it. A far-future sentinel chunk (user_id = −1) then pushes the
    watermark past every real window so append mode emits the full
    table. Final output ≡ tumbling counts over the on-time events only
    — which is exactly the oracle's ``event_id <> min(event_id)``
    aggregate. If late rows leaked into closed windows (or on-time rows
    were over-dropped), the hash fails.

    The sentinel's own window never closes (watermark stops 10 min
    short of its end) so it cannot leak into the result; it is also
    defensively filtered by hour bound.
    """
    events = load_table(spark, sf_dir, "events")
    min_id = events.agg(F.min("event_id")).first()[0]
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("first_hour"),
        F.max("ts").alias("max_ts"),
    ).first()
    on_time = events.filter(F.col("event_id") != min_id)
    late = events.filter(F.col("event_id") == min_id).withColumn(
        "ts", F.lit(bounds["first_hour"]).cast("timestamp")
    )
    sentinel = spark.createDataFrame(
        [(int(-1), bounds["max_ts"], int(-1), "click", 0.0, "{}")],
        events.schema,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))

    def real_hours(sink):
        max_real_hour = spark.sql(
            f"SELECT unix_timestamp(date_trunc('hour', TIMESTAMP '{bounds['max_ts']}'))"
        ).first()[0]
        return sink.filter(F.col("hour_epoch") <= max_real_hour)

    return _memory_replay(
        spark, time_ordered_chunks(on_time, "ts", 3) + [late, sentinel],
        "q_late_", lambda s: ops.tumbling_counts(s, watermark="10 minutes"),
        "append", real_hours,
    )


def _watermark_sentinels(spark, events):
    """One far-future click + purchase (user_id=-1) used to flush
    stream-stream outer-join state at end of a finite replay.

    A neutral event_type does NOT work: Catalyst pushes each side's
    event_type filter below the EventTimeWatermark node, so a sentinel
    that survives neither filter never reaches either watermark branch
    and the global watermark stalls at the last real click/purchase —
    withholding the tail's outer rows (observed, not hypothetical).
    The sentinels join nothing (user_id=-1) and their own eventual
    null-rows are dropped by the callers' ``user_id >= 0`` filter.
    """
    import datetime

    from pyspark.sql import Row

    max_ts = events.agg(F.max("ts").alias("m")).first()["m"]
    far = max_ts + datetime.timedelta(days=1)
    return spark.createDataFrame(
        [
            Row(event_id=-1, ts=far, user_id=-1, event_type="click",
                value=0.0, props="{}"),
            Row(event_id=-2, ts=far, user_id=-1, event_type="purchase",
                value=0.0, props="{}"),
        ],
        schema=EVENTS_STREAM_SCHEMA,
    )


def _flushed_join_replay(spark: SparkSession, sf_dir: str, prefix: str,
                         how: str) -> DataFrame:
    """Replay the events in 3 chunks, then the watermark sentinels,
    through the ``how`` outer interval join in append mode; the
    sentinels' own rows are filtered out of the result."""
    events = load_table(spark, sf_dir, "events")
    chunks = time_ordered_chunks(events, "ts", 3)
    return _memory_replay(
        spark, chunks + [_watermark_sentinels(spark, events)], prefix,
        lambda stream: ops.interval_join_purchases(stream, how),
        "append", lambda sink: sink.filter(F.col("user_id") >= 0),
    )


@contract(
    "q_stream_stream_outer",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'click'
    ), purch AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us,
           c.value AS click_value
    FROM purch p
    LEFT JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_stream_stream_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NINTH streaming-executed contract: the stream-stream interval
    join run LEFT OUTER — purchases with no trailing-hour click must
    surface with nulls, which the engine only emits once the watermark
    proves no match can still arrive.

    The replay appends far-future sentinel click/purchase rows
    (user_id=-1, joined to nothing, dropped from the result) purely to
    advance the watermark past the data tail; without them the tail's
    null rows stay withheld in the state store — the canonical
    outer-stream-join gotcha, pinned here on purpose. The sentinels
    must survive each side's event_type filter: Catalyst pushes those
    filters below the watermark node, so a neutral event type never
    advances either watermark branch.
    """
    return _flushed_join_replay(spark, sf_dir, "q_ssjo_", "left")


@contract(
    "q_stream_stateful_counts",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TENTH streaming-executed contract — st-7 promoted from
    engine-only: the applyInPandasWithState running (count, value-sum)
    per user, replayed over 4 micro-batches in update mode; the LAST
    emission per user (the one with the max running count) must equal
    the batch aggregate.

    State is one (n, total) pair per user; the in-state total
    accumulates at full precision and is rounded only on emission, so
    the final row matches the batch sum to the same 2-decimal contract
    every other money aggregate uses.
    """
    events = load_table(spark, sf_dir, "events")
    return _memory_replay(
        spark, time_ordered_chunks(events, "ts", 4), "q_sstate_",
        ops.stateful_user_counts, "update",
        lambda updates: updates.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("sum_value"),
        ),
    )


@contract(
    "q_stream_stream_full",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'click'
    ), purch AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           coalesce(p.user_id, c.user_id) AS user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us,
           c.value AS click_value
    FROM purch p
    FULL JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_stream_stream_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ELEVENTH streaming-executed contract: the interval join run FULL
    OUTER — unmatched purchases AND unmatched clicks both surface with
    nulls, each only after the watermark proves no counterpart can
    arrive. Same sentinel watermark-flush as the left-outer contract,
    now clearing two state stores.
    """
    return _flushed_join_replay(spark, sf_dir, "q_ssjf_", "full")


@contract(
    "q_stream_stream_right",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, event_id, value FROM events
        WHERE event_type = 'click'
    ), purch AS (
        SELECT user_id, ts, event_id FROM events
        WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           coalesce(c.user_id, p.user_id) AS user_id,
           CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
           CAST(epoch_us(c.ts) AS BIGINT) AS click_ts_us,
           c.value AS click_value
    FROM purch p
    RIGHT JOIN clicks c
      ON p.user_id = c.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_stream_stream_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWELFTH streaming-executed contract, completing the stream-join
    matrix (inner / left / right / full): clicks that never converted
    to a purchase within the hour surface with nulls — the
    click-attribution view. Sentinel flush and result filter as in the
    other outer variants.
    """
    return _flushed_join_replay(spark, sf_dir, "q_ssjr_", "right")


@contract(
    "q_stream_heavy_hitters",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 20
    """,
)
def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming frequent-items maintenance executed BY THE STREAMING
    ENGINE: the events replay (4 micro-batches) folds per-partition
    space-saving summaries into one persisted O(k) summary blob through
    the manifest-guarded foreachBatch sketch sink — trending-user state
    bounded at k counters regardless of stream length. k = 4096 far
    exceeds the fixture's user cardinality, so the maintained counts are
    provably exact (no eviction in any batch or merge) and the top-20 is
    hash-comparable to the batch GROUP BY oracle; eviction-regime
    guarantees are engine-tested (tests/test_engine_ops.py).
    """
    from mapreduce_hw05_spark.operators.heavy_hitters import SpaceSaving

    events = load_table(spark, sf_dir, "events")
    blob = _state_replay(
        spark, time_ordered_chunks(events, "ts", 4), "q_shh_",
        lambda stream, state, ckpt: ops.stream_sketch_foreachbatch(
            stream, [], "user_id", partial(SpaceSaving, 4096), state, ckpt,
        ),
        lambda state: spark.read.parquet(state).collect()[0]["sketch"],  # bounded: single serialized summary blob
    )
    sk = SpaceSaving.deserialize(bytes(blob))
    rows = [(int(it), int(c)) for it, c, _e in sk.top(20)]
    return spark.createDataFrame(rows, "user_id long, n_events long")


@contract(
    "q_stream_weighted_reservoir",
    oracle="""
    WITH keyed AS (
        SELECT event_id, value,
               round(CASE WHEN value > 0 THEN pow(
                   (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 13))::UBIGINT
                    + 1) / 4503599627370497.0,
                   1.0 / value) ELSE 0.0 END, 9) AS sample_key
        FROM events
    ), topk AS (
        SELECT * FROM keyed ORDER BY sample_key DESC, event_id LIMIT 50
    )
    SELECT count(*) AS n_rows,
           CAST(sum(event_id) AS BIGINT) AS id_checksum,
           round(sum(value), 2) AS sum_value
    FROM topk
    """,
)
def q_stream_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling executed BY THE STREAMING ENGINE
    (19th streaming-executed contract): the events replay folds
    per-batch Efraimidis–Spirakis top-50 keys into a persisted 50-row
    reservoir through the manifest-guarded sink. The keys are
    deterministic functions of the event ids (hash-uniform, not
    rand()), so the streaming reservoir must EQUAL the batch weighted
    sample over the same rows — which the batch SQL oracle recomputes
    and the hash check enforces. Value-weighted: high-value events are
    proportionally more likely to be retained.
    """
    events = load_table(spark, sf_dir, "events")
    rows = _state_replay(
        spark, time_ordered_chunks(events, "ts", 4), "q_swres_",
        lambda stream, state, ckpt: ops.stream_weighted_reservoir_foreachbatch(
            stream, "event_id", "value", 50, state, ckpt,
        ),
        lambda state: spark.read.parquet(state).collect(),  # bounded: reservoir state has <= k rows
    )
    n = len(rows)
    return spark.createDataFrame(
        [(n,
          int(sum(r["event_id"] for r in rows)),
          round(sum(r["value"] for r in rows), 2))],
        "n_rows long, id_checksum long, sum_value double",
    )


@contract(
    "q_stream_near_dup_filter",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), sizes AS (
        SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT t1.doc_id AS id1, t2.doc_id AS id2, count(*) AS n_common
        FROM toks t1 JOIN toks t2
          ON t1.token = t2.token AND t1.doc_id < t2.doc_id
        GROUP BY 1, 2
    ), dropped AS (
        SELECT DISTINCT id2 AS doc_id
        FROM inter
        JOIN sizes s1 ON id1 = s1.doc_id
        JOIN sizes s2 ON id2 = s2.doc_id
        WHERE CAST(n_common AS DOUBLE) / (s1.n + s2.n - n_common) >= 0.8
    )
    SELECT lang,
           count(*) AS n_admitted,
           CAST(sum(doc_id) AS BIGINT) AS id_checksum,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    GROUP BY lang
    """,
)
def q_stream_near_dup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online near-dup ADMISSION filter executed BY THE STREAMING
    ENGINE (20th streaming-executed contract): the documents corpus
    arrives as a doc_id-ordered file replay; each micro-batch MinHashes
    its docs, appends their banded buckets and token arrays to a
    PERSISTED LSH index, bucket-joins the batch against the whole index
    for candidates, verifies exact Jaccard, and admits only docs with
    no earlier ≥0.8 near-dup — dedup at ingest time, the incremental
    form of the batch LSH sweep.

    Because arrival order is id order, the final admitted set must
    EQUAL the batch answer — every doc whose id never appears as the
    larger id of a true pair — which the SQL oracle recomputes from the
    exact pairwise-Jaccard query and the hash check enforces per
    language (count, id checksum, char sum).
    """
    docs = load_table(spark, sf_dir, "documents")
    return _state_replay(
        spark, time_ordered_chunks(docs, "doc_id", 3), "q_sndf_",
        lambda stream, state_root, ckpt: (
            ops.stream_near_dup_filter_foreachbatch(
                stream, "doc_id", "text", state_root, ckpt,
            )
        ),
        lambda state_root: snapshot_result(
            spark.read.parquet(os.path.join(state_root, "admitted"))
            .drop("b")
            .groupBy("lang")
            .agg(
                F.count("*").alias("n_admitted"),
                F.sum("doc_id").cast("long").alias("id_checksum"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
        ),
        schema=docs.schema,
    )


@contract(
    "q_stream_count_min",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           TRUE AS cms_equals_exact
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min maintenance executed BY THE STREAMING ENGINE
    (21st streaming-executed contract): the events replay folds
    per-batch d×w count-matrix partials into one persisted sketch blob
    through the manifest-guarded foreachBatch sink — point-frequency
    state bounded at O(d·w) forever. The sum-merge is exact, so the
    final sketch equals the batch-built sketch and, in the sparse
    regime (5 event types vs width 1024), its estimates are EXACT —
    hash-checked against plain SQL COUNT(*) like the batch
    q_count_min, plus the engine-side estimate == exact boolean.
    """
    import numpy as np

    from mapreduce_hw05_spark.operators.count_min import CountMinSketch

    events = load_table(spark, sf_dir, "events")
    blob = _state_replay(
        spark, time_ordered_chunks(events, "ts", 4), "q_scms_",
        lambda stream, state, ckpt: ops.stream_sketch_foreachbatch(
            stream, [], "event_type", CountMinSketch, state, ckpt,
        ),
        lambda state: spark.read.parquet(state).collect()[0]["sketch"],  # bounded: single serialized sketch blob
    )
    sk = CountMinSketch.deserialize(bytes(blob))
    exact = events.groupBy("event_type").agg(F.count("*").alias("n")).collect()  # driver-sized: one row per event_type
    types = np.array([r["event_type"] for r in exact], dtype=object)
    ests = sk.query_many(types)
    return spark.createDataFrame(
        [
            (r["event_type"], int(e), bool(int(e) == r["n"]))
            for r, e in zip(exact, ests)
        ],
        "event_type string, n_events long, cms_equals_exact boolean",
    )


# --------------------------------------------------------------------------
# st-8 (ext) — stream-stream KEY-LESS band join (bucketized range join,
# streaming form of operators.ranges.band_join)
# --------------------------------------------------------------------------


@contract(
    "q_stream_band_join",
    oracle="""
    WITH c AS (
        SELECT ts, event_id, value FROM events WHERE event_type = 'click'
    ), p AS (
        SELECT ts, event_id, value FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us,
           round(abs(p.value - c.value), 6) AS value_gap
    FROM p JOIN c
      ON abs(p.value - c.value) <= 2.0
     AND c.ts BETWEEN p.ts - INTERVAL 2 HOUR AND p.ts
    """,
)
def q_stream_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases matched to clicks of near-equal value (|Δ| ≤ 2.0) in
    the trailing two hours, executed BY THE STREAMING ENGINE over a
    3-chunk replay — with NO shared key to carry the join.

    Spark rejects a stream-stream join without an equality predicate
    (the symmetric hash join needs a state key), so the bucketized
    range-join rewrite is mandatory here, not just faster: click state
    keys on floor(value/band), each purchase probes its ≤ 3 reachable
    buckets via a stateless explode, and the exact band + event-time
    residual filters matches. Hash-checked against the batch inequality
    join oracle — the unified-semantics guarantee, duplicate-free
    because a pair meets only in the click's home bucket.
    """
    events = load_table(spark, sf_dir, "events")
    return _memory_replay(spark, time_ordered_chunks(events, "ts", 3),
                          "q_sbj_", ops.band_join_clicks_purchases, "append")


# --------------------------------------------------------------------------
# st-9 (ext) — streaming-maintained hourly rollup powering the EWMA
# --------------------------------------------------------------------------


@contract("q_stream_ewma", oracle=_EWMA_ORACLE_SQL_REF)
def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EWMA time-series contract executed BY THE STREAMING ENGINE
    (23rd streaming-executed contract): the events replay folds each
    micro-batch's exact hourly (Σ⌊value·1000⌋, count) deltas into a
    persisted rollup through the manifest-guarded additive sink, and the
    shared EWMA finisher runs over the final state.

    Because the hourly stats are integer-additive and the sink is
    exactly-once, the streaming state equals the batch hourly table
    bit-for-bit regardless of chunking — so the smoothed output matches
    the SAME DuckDB oracle as q_ewma_hourly with no tolerance. The
    state table is (types × hours)-sized, never event-sized.
    """
    from mapreduce_hw05_spark.plans.events_queries import (
        ewma_from_hourly,
        hourly_value_stats,
    )

    return _rollup_replay(
        spark, sf_dir, "q_sewma_",
        ["event_type", "hour_epoch"], hourly_value_stats,
        lambda state: ewma_from_hourly(
            state.select("event_type", "hour_epoch", "s", "n")
        ).collect(),  # driver-sized: grouped rollup state
        "event_type string, hour_epoch long, n_window long, "
        "x double, ewma double",
    )


# --------------------------------------------------------------------------
# st-10 (ext) — streaming-maintained hourly rollup powering the anomaly sweep
# --------------------------------------------------------------------------


@contract("q_stream_anomaly", oracle=_ANOMALY_ORACLE_SQL_REF)
def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trailing-baseline anomaly contract executed BY THE STREAMING
    ENGINE (24th streaming-executed contract): the events replay folds
    each micro-batch's exact hourly (Σ⌊v·1000⌋, Σ⌊v·1000⌋², count)
    deltas into a persisted rollup through the manifest-guarded additive
    sink, and the shared z²-sweep finisher runs over the final state.

    All three state columns are integer-additive and the sink is
    exactly-once, so the streaming state equals the batch hourly table
    bit-for-bit regardless of chunking — the sweep matches the SAME
    DuckDB oracle as q_anomaly_hours with no tolerance. State stays
    (types × hours)-sized, never event-sized.
    """
    from mapreduce_hw05_spark.plans.analytics_queries import (
        anomaly_from_hourly,
        hourly_anomaly_stats,
    )

    return _rollup_replay(
        spark, sf_dir, "q_sanom_",
        ["event_type", "hour_epoch"], hourly_anomaly_stats,
        lambda state: anomaly_from_hourly(
            state.select("event_type", "hour_epoch", "s", "s2", "n")
        ).collect(),  # driver-sized: grouped rollup state
        "event_type string, n_scored long, n_anomalies long, "
        "anomaly_checksum long",
    )


# --------------------------------------------------------------------------
# st-11 (ext) — streaming-maintained daily rollup powering the CUSUM argmax
# --------------------------------------------------------------------------


@contract("q_stream_cusum", oracle=_CUSUM_ORACLE_SQL_REF)
def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CUSUM change-point contract executed BY THE STREAMING ENGINE
    (25th streaming-executed contract): the events replay folds each
    micro-batch's exact daily Σ⌊value·1000⌋ deltas into a persisted
    rollup through the manifest-guarded additive sink, and the shared
    all-integer argmax finisher runs over the final state — matching
    the SAME DuckDB oracle as q_cusum_changepoint bit-for-bit (the
    state column is one additive BIGINT, so chunking cannot perturb
    it). State stays (types × days)-sized, never event-sized.
    """
    from mapreduce_hw05_spark.plans.analytics_queries import (
        cusum_from_daily,
        daily_revenue_stats,
    )

    return _rollup_replay(
        spark, sf_dir, "q_scusum_",
        ["event_type", "day_epoch"], daily_revenue_stats,
        lambda state: cusum_from_daily(
            state.select("event_type", "day_epoch", "s")
        ).collect(),  # driver-sized: grouped rollup state
        "event_type string, n_days long, cp_day_epoch long, "
        "max_abs_dev long",
    )


# --------------------------------------------------------------------------
# st-12 (ext) — streaming-maintained bucket sums powering the jackknife
# --------------------------------------------------------------------------


@contract("q_stream_jackknife", oracle=_JACKKNIFE_ORACLE_SQL_REF)
def q_stream_jackknife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The jackknife-uncertainty contract executed BY THE STREAMING
    ENGINE (26th streaming-executed contract): the events replay folds
    each micro-batch's exact per-(type, user-hash-bucket) (Σ⌊v·1000⌋,
    count) deltas through the manifest-guarded additive sink, and the
    shared delete-one-bucket finisher runs over the final state —
    matching the SAME DuckDB oracle as q_jackknife_mean bit-for-bit.
    The jackknife is EXACTLY the statistic whose partials a streaming
    rollup already maintains: replicate means need nothing beyond the
    additive bucket sums. State stays (types × 20)-sized.
    """
    from mapreduce_hw05_spark.plans.events_queries import (
        jackknife_bucket_stats,
        jackknife_from_buckets,
    )

    return _rollup_replay(
        spark, sf_dir, "q_sjk_",
        ["event_type", "bucket"], jackknife_bucket_stats,
        lambda state: jackknife_from_buckets(
            state.select("event_type", "bucket", "s_b", "n_b")
        ).collect(),  # driver-sized: grouped rollup state
        "event_type string, n_events long, n_replicates long, "
        "mean_v double, jk_sum_d2_q long",
    )


# --------------------------------------------------------------------------
# st-13 (ext) — streaming-maintained contingency table powering chi-square
# --------------------------------------------------------------------------


@contract("q_stream_chi_square", oracle=_CHI_SQUARE_ORACLE_SQL_REF)
def q_stream_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chi-square independence contract executed BY THE STREAMING
    ENGINE (27th streaming-executed contract): the replay folds each
    micro-batch's contingency-cell count deltas through the
    manifest-guarded additive sink and the shared quantized-term
    finisher runs over the final table — matching q_chi_square's DuckDB
    oracle bit-for-bit. This is the online experiment-health monitor:
    assignment-skew detection as a continuously maintained statistic.
    State stays (types × 2)-sized.
    """
    from mapreduce_hw05_spark.plans.analytics_queries import (
        chi_square_from_contingency,
        contingency_stats,
    )

    return _rollup_replay(
        spark, sf_dir, "q_schi_",
        ["event_type", "par"], contingency_stats,
        lambda state: chi_square_from_contingency(
            state.select("event_type", "par", "obs")
        ).collect(),  # driver-sized: grouped rollup state
        "n_events long, dof long, chi2_q9 long, cramers_v double",
    )


# --------------------------------------------------------------------------
# st-14 (ext) — streaming-maintained typed hourly counts powering the ACF
# --------------------------------------------------------------------------


@contract("q_stream_acf", oracle=_ACF_ORACLE_SQL_REF)
def q_stream_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lag-1..6 autocorrelation contract executed BY THE STREAMING
    ENGINE (28th streaming-executed contract): the events replay folds
    each micro-batch's exact (type, hour) count deltas through the
    manifest-guarded additive sink, and the shared ACF finisher runs
    over the final state — matching q_acf_lags' DuckDB oracle
    bit-for-bit (the state column is one additive BIGINT count, so
    chunking cannot perturb it; the finisher re-sums types into the
    global hourly series before the lag pass). This is the online
    seasonality monitor: the same rollup that feeds the EWMA and
    anomaly sinks also answers "is traffic periodic?" with zero extra
    stream-side state. State stays (types × hours)-sized.
    """
    from mapreduce_hw05_spark.plans.analytics_queries import (
        acf_from_hourly_counts,
        hourly_type_counts,
    )

    return _rollup_replay(
        spark, sf_dir, "q_sacf_",
        ["event_type", "hour_epoch"], hourly_type_counts,
        lambda state: acf_from_hourly_counts(
            state.select("event_type", "hour_epoch", "x")
        ).collect(),  # driver-sized: grouped rollup state
        "lag long, n_pairs long, acf double",
    )


# --------------------------------------------------------------------------
# st-15 (ext) — streaming-maintained typed hourly counts powering the Fano
# --------------------------------------------------------------------------


@contract("q_stream_fano", oracle=_FANO_ORACLE_SQL_REF)
def q_stream_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Fano-factor burstiness contract executed BY THE STREAMING
    ENGINE (29th streaming-executed contract): the events replay folds
    the SAME (type, hour) count deltas as q_stream_acf through the
    manifest-guarded additive sink, and the shared variance/mean
    finisher runs over the final state — matching q_fano_factor's
    DuckDB oracle bit-for-bit (per-type moments n, Σx, Σx² are exact
    integer aggregates of the additive counts; the final ratio is one
    shared IEEE expression tree). One maintained rollup, two
    statistics — the argument for typed hourly counts as the canonical
    streaming state table. State stays (types × hours)-sized.
    """
    from mapreduce_hw05_spark.plans.analytics_queries import (
        fano_from_hourly_counts,
        hourly_type_counts,
    )

    return _rollup_replay(
        spark, sf_dir, "q_sfano_",
        ["event_type", "hour_epoch"], hourly_type_counts,
        lambda state: fano_from_hourly_counts(
            state.select("event_type", "hour_epoch", "x")
        ).collect(),  # driver-sized: grouped rollup state
        "event_type string, n_hours long, n_events long, fano double",
    )


# --------------------------------------------------------------------------
# st-16 (ext) — streaming-maintained value-bucket counts powering the PSI
# --------------------------------------------------------------------------


@contract("q_stream_psi", oracle=_PSI_ORACLE_SQL_REF)
def q_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The population-stability drift contract executed BY THE STREAMING
    ENGINE (30th streaming-executed contract): the events replay folds
    each micro-batch's exact per-(value-bucket, user-parity) count
    deltas through the manifest-guarded additive sink, and the shared
    Laplace-smoothed PSI finisher runs over the final state — matching
    q_drift_psi's DuckDB oracle bit-for-bit (both state columns are
    additive BIGINT counts, so chunking cannot perturb them). This is
    the canonical production deployment of PSI: the live window IS a
    stream, and the 20-bucket state table is the entire memory
    footprint regardless of event volume.
    """
    from mapreduce_hw05_spark.plans.analytics_queries import (
        psi_bucket_counts,
        psi_from_buckets,
    )

    return _rollup_replay(
        spark, sf_dir, "q_spsi_",
        ["bucket"], psi_bucket_counts,
        lambda state: psi_from_buckets(
            state.select("bucket", "n_a", "n_b")
        ).collect(),  # driver-sized: grouped rollup state
        "bucket long, n_a long, n_b long, psi_term double",
    )


# --------------------------------------------------------------------------
# st-ext — streaming-maintained power sums powering skewness/kurtosis
# --------------------------------------------------------------------------


@contract("q_stream_moments", oracle=_MOMENTS_ORACLE_SQL_REF)
def q_stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skewness/kurtosis contract executed BY THE STREAMING ENGINE:
    the events replay folds each micro-batch's exact per-type power sums
    (n, Σq, Σq², Σq³, Σq⁴ over unit-quantized value) into a persisted
    rollup through the manifest-guarded additive sink, and the shared
    fixed-shape finisher runs over the final state — power sums are the
    canonical MERGEABLE aggregate (every distributed moments engine
    ships them), so the streaming state equals the batch table
    bit-for-bit regardless of chunking and the output matches the SAME
    DuckDB oracle as q_skew_kurtosis with no tolerance. State is one
    row per event type, never event-sized.
    """
    from mapreduce_hw05_spark.plans.events_queries import (
        moments_finish,
        type_moment_stats,
    )

    return _rollup_replay(
        spark, sf_dir, "q_smom_",
        ["event_type"], type_moment_stats,
        lambda state: moments_finish(
            state.select("event_type", "n", "s1", "s2", "s3", "s4")
        ).collect(),  # driver-sized: grouped rollup state
        "event_type string, n long, m double, m2 double, "
        "skew double, kurt_excess double",
    )


# --------------------------------------------------------------------------
# st-ext — streaming-maintained Poisson-bootstrap replicate sums
# --------------------------------------------------------------------------


@contract("q_stream_bootstrap", oracle=_BOOTSTRAP_ORACLE_SQL_REF)
def q_stream_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Poisson bootstrap executed BY THE STREAMING ENGINE: each
    micro-batch's per-replicate exact (Σw, Σw·q) partials fold into a
    persisted 100-row rollup through the manifest-guarded additive sink,
    and the shared finisher emits the replicate means — i.e. a LIVE
    confidence interval over the stream, the actual deployment mode of
    the Poisson bootstrap (replication weights are per-(row, b)
    deterministic, so they are indifferent to how rows arrive). The
    streaming state equals the batch table bit-for-bit for any chunking
    and matches the SAME DuckDB oracle as q_poisson_bootstrap with no
    tolerance. State is B=100 rows, never event-sized.
    """
    from mapreduce_hw05_spark.plans.analytics_queries import (
        bootstrap_finish,
        bootstrap_weighted_sums,
    )

    return _rollup_replay(
        spark, sf_dir, "q_sboot_",
        ["b"], bootstrap_weighted_sums,
        lambda state: bootstrap_finish(
            state.select("b", "n_eff", "sum_q")
        ).collect(),  # driver-sized: grouped rollup state
        "b int, n_eff long, sum_q long, boot_mean_milli double",
    )
