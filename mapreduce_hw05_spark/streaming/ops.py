"""Streaming operator definitions (st-1…st-7): transformations over an
unbounded events DataFrame.

Each function takes the streaming DataFrame (schema =
``replay.EVENTS_STREAM_SCHEMA``) and returns the transformed streaming
DataFrame; the caller picks sink + output mode. Watermarks bound state:
at scale every stateful op here holds state proportional to
(keys × open windows), never to stream length.
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# ---------------------------------------------------------------- st-1/st-2


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Events per 1-hour tumbling window × event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_timestamp("win.start").alias("hour_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """1-hour windows sliding every 30 minutes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("win.start").alias("window_start_epoch"),
            "event_type",
            "n_events",
        )
    )


# ------------------------------------------------------------------- st-3


def session_window_stats(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "10 minutes") -> DataFrame:
    """Native session windows per user (Spark's session_window)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("win.start").alias("session_start_epoch"),
            "n_events",
        )
    )


# ------------------------------------------------------------------- st-5


def dedup_events(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful exact-once dedup on event_id within the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id", "ts"])


# ------------------------------------------------------------------- st-6


def enrich_with_users(events: DataFrame, customer_dim: DataFrame) -> DataFrame:
    """Stream-static join: events ⋈ customer dim on user_id. The dim is
    row-count-proportional, so the broadcast is counted, not assumed
    (r6): past the gate the same join runs as a shuffled stream-static
    join — identical results, one extra exchange per micro-batch."""
    from mapreduce_hw05_spark.operators.similarity import maybe_broadcast

    dim = maybe_broadcast(
        customer_dim.select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
        ),
        customer_dim.count(),
    )
    return events.join(dim, "user_id", "left")


# ------------------------------------------------------------------- st-8


def interval_join_purchases(
    events: DataFrame, how: str = "inner", watermark: str = "10 minutes"
) -> DataFrame:
    """Stream-stream interval join: each purchase matched to the same
    user's clicks in the preceding hour (inclusive bound on both ends),
    as join type ``how`` — ``"inner"``, ``"left"`` (every purchase, nulls
    if no click), ``"right"`` (every click, nulls when no purchase
    followed it: the click-attribution view) or ``"full"`` (unmatched
    rows from both sides). Matched rows have equal users, so
    ``coalesce(p_user, c_user)`` is the right ``user_id`` for all four.

    Both sides carry a watermark and the join condition bounds event-time
    distance, so click state is evicted once the watermark passes
    click_ts + 1 h + delay — state is proportional to one hour of
    clicks per user, never stream length. Inner-join matches emit as
    soon as both rows have arrived; outer results are emitted only once
    the watermark passes ``p_ts + 1 h + delay`` (the engine must be sure
    no matching row can still arrive), so state AND result latency are
    watermark-bounded.

    The watermark is applied BEFORE the event_type filters so any event
    advances it. Callers replaying finite data into an outer join must
    advance the watermark past the tail with sentinel rows that SURVIVE
    the event_type filters (Catalyst pushes those filters below the
    watermark node, so a filtered-out sentinel never advances it) or
    the last unmatched rows stay withheld in the state store.
    """
    wm = events.withWatermark("ts", watermark)
    clicks = wm.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    purchases = wm.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    return purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND "
            "c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
        ),
        how,
    ).select(
        "purchase_id",
        "click_id",
        F.coalesce("p_user", "c_user").alias("user_id"),
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
        "click_value",
    )


def band_join_clicks_purchases(
    events: DataFrame,
    band: float = 2.0,
    bucket_width: float | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream KEY-LESS band join: each purchase matched to clicks
    of near-equal value (|Δvalue| ≤ band) in the preceding two hours —
    no shared key carries the join.

    Spark refuses a stream-stream join with no equality predicate (the
    symmetric hash join needs a state key), so this is the streaming
    form of ``operators.ranges.band_join``: the click side keeps its
    single home bucket ``floor(value / w)``, the purchase side explodes
    into the ≤ 3 buckets its band can reach (a stateless projection),
    the join keys state on the bucket id, and the exact |Δ| ≤ band
    residual plus the event-time bound filter the matches. A qualifying
    pair meets only in the click's home bucket, so no dedup is needed.
    Click state is evicted once the watermark passes c_ts + 2 h + delay,
    exactly like the keyed interval join.
    """
    w = float(bucket_width if bucket_width is not None else band)
    wm = events.withWatermark("ts", watermark)
    clicks = wm.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
        F.col("value").alias("c_value"),
        F.floor(F.col("value") / w).cast("long").alias("c_bucket"),
    )
    purchases = (
        wm.filter(F.col("event_type") == "purchase")
        .select(
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("p_value"),
        )
        .withColumn(
            "p_bucket",
            F.explode(
                F.sequence(
                    F.floor((F.col("p_value") - band) / w).cast("long"),
                    F.floor((F.col("p_value") + band) / w).cast("long"),
                )
            ),
        )
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_bucket = c_bucket AND "
            f"abs(p_value - c_value) <= {band} AND "
            f"c_ts BETWEEN p_ts - INTERVAL 2 HOURS AND p_ts"
        ),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        F.unix_micros("p_ts").alias("purchase_ts_us"),
        F.unix_micros("c_ts").alias("click_ts_us"),
        F.round(F.abs(F.col("p_value") - F.col("c_value")), 6).alias(
            "value_gap"
        ),
    )


# ------------------------------------------------------------------- st-7


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Arbitrary stateful op via applyInPandasWithState: per-user running
    event count + running value sum, emitted once per micro-batch.

    State = one (count, sum) pair per user — constant per key, the
    applyInPandasWithState analog of the genre's stateful reducer.
    """

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, sum_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ------------------------------------------------- exactly-once state sinks

#: Persisted keys past which the sketch sink's state merge routes through
#: Spark (``merge_by_key`` + parquet write) instead of the driver; read
#: at call time, so tests can lower it.
MAX_DRIVER_STATE_KEYS = 200_000


def _commit_once_sink(stream: DataFrame, state_dir: str, checkpoint_dir: str,
                      write_state):
    """foreachBatch writer shared by the exactly-once state sinks.

    ``write_state(batch_df, tmp)`` holds only the sink's own logic: it
    writes the complete new state (old state folded with the batch) into
    ``tmp``. Everything else is here and in ``fsutil``: recover a crash
    mid-swap, skip an empty batch, skip a batch id already in the
    committed-batch manifest, then commit state + manifest in one
    rename-aside swap (``fsutil.commit_once``).
    """
    from mapreduce_hw05_spark.fsutil import commit_once, recover

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        recover(state_dir)
        if not batch_df.isEmpty():
            commit_once(
                state_dir, batch_id, lambda tmp: write_state(batch_df, tmp)
            )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )


def _state_rows(state_dir: str) -> list[dict]:
    """Every row of a committed state table, read driver-side with
    pyarrow; ``[]`` before the first commit."""
    if not os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        return []
    return [
        rec
        for part in sorted(os.listdir(state_dir))
        if part.endswith(".parquet")
        for rec in pq.read_table(os.path.join(state_dir, part)).to_pylist()
    ]


def _write_state(tmp: str, table: pa.Table) -> None:
    """Write a driver-sized state table as one part plus ``_SUCCESS``."""
    os.makedirs(tmp, exist_ok=True)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()


def _footer_rows(root: str) -> int:
    """Rows of every parquet file under ``root``, from footers only (no
    data read); 0 when ``root`` is missing."""
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def stream_upsert_foreachbatch(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: list[str] = ["user_id"],
):
    """Streaming CDC sink: each micro-batch is compacted to its latest
    row per key (max ts wins) and MERGE-upserted into a parquet state
    table via ``foreachBatch`` — the standard "streaming upsert into a
    lakehouse table" recipe when no transactional table format is
    mounted.

    Exactly-once: the sink commits through fsutil's committed-batch
    manifest and rename-aside swap (``_commit_once_sink``), so a
    re-delivered batch id is a no-op (one ``isEmpty`` job, no merge).
    The keyed merge is idempotent anyway, so the manifest changes cost,
    not results. State is read+rewritten per batch; a real deployment
    swaps the parquet rewrite for a format with MERGE support, keeping
    this exact plan.
    """
    from pyspark.sql import Window as W

    from mapreduce_hw05_spark.operators.cdc import merge_upsert

    def write_state(batch_df: DataFrame, tmp: str) -> None:
        latest = (
            batch_df.withColumn(
                "__rn",
                F.row_number().over(
                    W.partitionBy(*keys).orderBy(
                        F.col("ts").desc(), F.col("event_id").desc()
                    )
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("op", F.lit("U"))
        )
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            base = batch_df.sparkSession.read.parquet(state_dir)
            merged = merge_upsert(base, latest, keys)
        else:
            merged = latest.drop("op")
        # tmp, not state_dir: the plan reads state_dir, so writing over
        # it in place would race the scan.
        merged.write.mode("overwrite").parquet(tmp)

    return _commit_once_sink(stream, state_dir, checkpoint_dir, write_state)


def stream_sketch_foreachbatch(
    stream: DataFrame,
    key_cols: list[str],
    value_col: str,
    new,
    state_dir: str,
    checkpoint_dir: str,
):
    """Streaming maintenance of any mergeable sketch (theta, KLL,
    count-min, space-saving; ``new`` builds an empty one): each
    micro-batch is reduced to per-key sketch PARTIALS (bounded blobs,
    built distributed by ``operators.sketches.sketch_partials``) and
    merged into a persisted state table of ``(key…, sketch)`` —
    ``key_cols=[]`` keeps one sketch. State is O(keys × sketch size)
    forever, never O(stream length); with ``merge`` exact (count-min's
    sum, theta's KMV union) the final state equals the batch-built
    sketch over the same rows.

    Two state strategies, chosen PER BATCH from the persisted key count
    (read from parquet footers only — no data scan):

    - ≤ ``MAX_DRIVER_STATE_KEYS``: the state table is driver-sized, so
      the merge point is the driver — one Spark job per batch (the
      partial build), direct pyarrow state IO.
    - past the MAX_DRIVER_STATE_KEYS bound: the DISTRIBUTED path —
      batch partials union the persisted state table as DataFrames, one
      keyed ``merge_by_key``, and a Spark parquet write of the new
      state. State is bounded only by cluster storage. Both paths
      produce bit-identical theta state (engine-tested), so a stream can
      cross the threshold mid-flight.

    Exactly-once through fsutil's committed-batch manifest + atomic
    directory swap, like the sibling state sinks (a replayed
    foreachBatch id is a no-op).
    """
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    from mapreduce_hw05_spark.operators.sketches import (
        fold,
        merge_by_key,
        sketch_partials,
    )

    state_schema = T.StructType(
        [stream.schema[c] for c in key_cols]
        + [T.StructField("sketch", T.BinaryType())]
    )
    arrow_schema = pa.schema(
        [(f.name, to_arrow_type(f.dataType, timestamp_utc=False))
         for f in state_schema]
    )

    def write_state(batch_df: DataFrame, tmp: str) -> None:
        parts = sketch_partials(batch_df, key_cols, value_col, new)
        n_keys = _footer_rows(state_dir)
        if n_keys > MAX_DRIVER_STATE_KEYS:
            if n_keys:
                parts = parts.unionByName(
                    batch_df.sparkSession.read.schema(state_schema)
                    .parquet(state_dir)
                )
            # Spark writes the state table (and its own _SUCCESS) before
            # the swap, so the lazy read of the old state above is fully
            # consumed by the time the swap runs.
            merge_by_key(parts, key_cols, new).write.mode(
                "overwrite"
            ).parquet(tmp)
            return
        # The driver is already the merge point (state ∪ batch), so a
        # keyed merge_by_key here would be a redundant shuffle + Python
        # stage per micro-batch: the partial build is the ONLY Spark job.
        blobs: dict[tuple, list] = {}
        # bounded: one sketch per partition × key, keys under the gate
        rows = parts.collect()
        for rec in [r.asDict() for r in rows] + _state_rows(state_dir):
            key = tuple(rec[c] for c in key_cols)
            blobs.setdefault(key, []).append(rec["sketch"])
        keys = sorted(blobs, key=lambda t: tuple(map(str, t)))
        _write_state(tmp, pa.table(
            {
                **{c: [key[i] for key in keys] for i, c in enumerate(key_cols)},
                "sketch": [fold(blobs[key], new).serialize() for key in keys],
            },
            schema=arrow_schema,
        ))

    return _commit_once_sink(stream, state_dir, checkpoint_dir, write_state)


def stream_append_compacting_sink(
    stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    max_files: int = 4,
    target_files: int = 1,
):
    """Append streaming sink with INCREMENTAL COMPACTION: each micro-batch
    appends its parquet files; whenever the sink's small-file count
    exceeds ``max_files``, the whole directory is rewritten to
    ``target_files`` right-sized files and atomically swapped in — the
    streaming-maintenance counterpart of the batch q_compact_small_files
    pass (SURVEY §8 r2 item 4: a long-running ingest stream otherwise
    accretes one file per micro-batch per partition until scans die of
    file-listing overhead).

    Compaction runs driver-side BETWEEN micro-batches (foreachBatch is
    sequential), so the swap never races an in-flight append; readers see
    either the old file set or the compacted one, never a mix. At scale
    the rewrite scopes to a partition subdirectory (compact only
    partitions whose file count tripped) — same swap protocol.

    Replay-safe: foreachBatch is at-least-once, so the sink keeps fsutil's
    committed-batch manifest (``_batches/<id>`` — underscore dirs are
    invisible to Spark's file index) like the sibling state sinks, and
    appends under deterministic per-batch file names (``b<id>-<i>``,
    crash remnants deleted before re-staging). Unlike them it appends in
    place and marks the batch in place; the compaction commits through
    ``fsutil.rewrite_dir``, which carries the manifest into the new
    directory before the crash-safe rename-aside swap. A replayed batch
    id is a no-op; a half-appended batch is re-staged cleanly.
    """
    import glob
    import shutil

    from mapreduce_hw05_spark.fsutil import (
        committed,
        mark_committed,
        recover,
        rewrite_dir,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        recover(out_dir)
        if batch_df.isEmpty() or committed(out_dir, batch_id):
            return  # empty, or a replayed batch already committed
        spark = batch_df.sparkSession
        # Stage the batch, then move its files in under deterministic
        # names so a replay of a half-appended batch replaces rather
        # than duplicates.
        stage = out_dir.rstrip("/") + f".stage-{batch_id}"
        shutil.rmtree(stage, ignore_errors=True)
        batch_df.write.mode("overwrite").parquet(stage)
        os.makedirs(out_dir, exist_ok=True)
        for leftover in glob.glob(os.path.join(out_dir, f"b{batch_id}-*")):
            os.remove(leftover)
        staged = sorted(glob.glob(os.path.join(stage, "part-*")))
        for i, src in enumerate(staged):
            os.rename(src, os.path.join(out_dir, f"b{batch_id}-{i}.parquet"))
        open(os.path.join(out_dir, "_SUCCESS"), "w").close()
        shutil.rmtree(stage, ignore_errors=True)
        mark_committed(out_dir, batch_id)
        n_files = len(
            glob.glob(os.path.join(out_dir, "part-*"))
            + glob.glob(os.path.join(out_dir, "b*-*.parquet"))
        )
        if n_files > max_files:
            rewrite_dir(
                out_dir,
                lambda tmp: spark.read.parquet(out_dir)
                .repartition(target_files)
                .write.mode("overwrite")
                .parquet(tmp),
            )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )


def stream_weighted_reservoir_foreachbatch(
    stream: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    state_dir: str,
    checkpoint_dir: str,
):
    """Streaming weighted reservoir (A-Res over a stream): each
    micro-batch computes its rows' hash-seeded Efraimidis–Spirakis
    keys and folds the per-batch top-k into a persisted k-row
    reservoir — O(k) state forever, and because the keys are
    deterministic functions of the ids (not rand()), the final
    reservoir EQUALS the batch weighted sample over the same data,
    which is what the contract hash-checks. Same exactly-once manifest
    + atomic-swap + driver-side pyarrow state IO as the sibling sinks;
    the per-batch top-k (one TakeOrdered) is the only Spark job.
    """
    from mapreduce_hw05_spark.operators.sampling import weighted_sample

    def write_state(batch_df: DataFrame, tmp: str) -> None:
        batch_top = weighted_sample(
            batch_df.select(id_col, weight_col), id_col, weight_col, k
        ).collect()  # bounded: <= k sampled rows
        rows = {}
        for rec in [r.asDict() for r in batch_top] + _state_rows(state_dir):
            rows[rec[id_col]] = (rec[id_col], rec[weight_col], rec["sample_key"])
        keep = sorted(rows.values(), key=lambda t: (-t[2], t[0]))[:k]
        pdf = pd.DataFrame(keep, columns=[id_col, weight_col, "sample_key"])
        _write_state(tmp, pa.Table.from_pandas(pdf, preserve_index=False))

    return _commit_once_sink(stream, state_dir, checkpoint_dir, write_state)


def stream_near_dup_filter_foreachbatch(
    stream: DataFrame,
    id_col: str,
    text_col: str,
    state_root: str,
    checkpoint_dir: str,
    shingle: int = 1,
):
    """Online near-dup ADMISSION filter: documents arrive in id order;
    a document is admitted iff NO earlier-id document seen so far
    (admitted or not, this batch included) has token-set Jaccard ≥ 0.8
    with it (``shingle >= 2`` switches both the signatures AND the exact
    verify to word-shingle sets — the order-sensitive measure) — the
    incremental form of the batch LSH dedup
    (``plans.similarity_queries.lsh_jaccard_pairs``: the same 128-hash /
    32-band MinHash, ``doc_elements`` sets and ``set_jaccard``), i.e.
    what an ingest pipeline runs so near-dups never enter the corpus
    instead of being swept out afterwards.

    Per micro-batch: MinHash signatures → banded (id, band, bucket)
    rows appended to a PERSISTED LSH index (parquet, partitioned by
    batch id), candidates = batch ids bucket-joined against the whole
    index (keyed on (band, bucket), never all-pairs), verified with
    exact Jaccard over persisted per-doc token arrays, and the
    surviving batch rows appended to the admitted store. Every write is
    an idempotent overwrite of this batch's own ``b=<id>`` partition,
    so an at-least-once foreachBatch replay reconverges to the same
    state (no manifest needed — the partition IS the marker).

    Because arrival order is id order, "earlier in the stream" and
    "smaller id" coincide, and the final admitted set equals the batch
    answer: every doc whose id never appears as the larger id of a true
    ≥-threshold pair — which is what the contract's SQL oracle
    recomputes. Scale: state grows with the corpus (it is the corpus
    index); the bucket join prunes by key, and BOTH verify-side token
    tables are pruned before broadcasting — the index side (id1) is
    SEMI-JOIN-PRUNED to the ids the batch's candidates actually touch,
    and the probe side (id2) reads only this batch's own partition —
    so the broadcasts are bounded by candidate fan-out and batch size
    respectively, never the corpus. The routing past those bounds is
    IMPLEMENTED (r5): once the persisted index holds more than
    ``MAX_BROADCAST_TOKEN_DOCS`` documents (counted from parquet
    footers, no data scan — the conservative envelope for both pruned
    tables), the same verify joins run shuffled instead of broadcast —
    identical results, one extra exchange per side.
    """
    from mapreduce_hw05_spark.operators.similarity import (
        doc_elements,
        lsh_band_buckets,
        maybe_broadcast,
        minhash_signatures,
        set_jaccard,
    )

    bands_root = os.path.join(state_root, "bands")
    toks_root = os.path.join(state_root, "toks")
    admitted_root = os.path.join(state_root, "admitted")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # pin the chunk: three jobs below must see one snapshot of it
        batch_df = batch_df.localCheckpoint()
        sigs = minhash_signatures(batch_df, id_col, text_col, shingle=shingle)
        bands = lsh_band_buckets(sigs, id_col)
        toks = (
            doc_elements(batch_df, shingle, id_col, text_col)
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list("elem")).alias("toks"))
        )
        bands.write.mode("overwrite").parquet(
            os.path.join(bands_root, f"b={batch_id}")
        )
        toks.write.mode("overwrite").parquet(
            os.path.join(toks_root, f"b={batch_id}")
        )
        all_bands = spark.read.parquet(bands_root)
        all_toks = spark.read.parquet(toks_root).drop("b")
        left = all_bands.select(
            F.col(id_col).alias("id1"), "band", "bucket"
        )
        right = (
            all_bands.filter(F.col("b") == batch_id)
            .select(F.col(id_col).alias("id2"), "band", "bucket")
        )
        cands = (
            left.join(right, ["band", "bucket"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .distinct()
        )
        # prune the index-side token table to candidate-touched ids
        # BEFORE broadcasting: the broadcast is bounded by the batch's
        # candidate fan-out, never the full corpus index
        touched = cands.select(F.col("id1").alias(id_col)).distinct()
        d1 = (
            all_toks.join(touched, id_col, "left_semi")
            .withColumnsRenamed({id_col: "id1", "toks": "toks1"})
        )
        # id2 always comes from THIS batch (the probe side of the band
        # join is filtered to b == batch_id), so the probe-side token
        # table reads only the current batch's partition — bounded by
        # batch size, never the corpus index (ADVICE r4: the previous
        # all_toks read grew with the corpus).
        d2 = (
            spark.read.parquet(os.path.join(toks_root, f"b={batch_id}"))
            .withColumnsRenamed({id_col: "id2", "toks": "toks2"})
        )
        jac = set_jaccard(
            F.size(F.array_intersect("toks1", "toks2")),
            F.size("toks1"),
            F.size("toks2"),
        )
        # route the verify joins on the persisted index size (parquet
        # footers only): both pruned tables are subsets of the index,
        # so index-docs <= cap makes the broadcasts safe; past it the
        # same joins run shuffled with identical results
        n_index = _footer_rows(toks_root)
        dropped = (
            cands.join(maybe_broadcast(d1, n_index), "id1")
            .join(maybe_broadcast(d2, n_index), "id2")
            .filter(jac >= 0.8)
            .select(F.col("id2").alias(id_col))
            .distinct()
        )
        admitted = batch_df.join(dropped, id_col, "left_anti")
        admitted.write.mode("overwrite").parquet(
            os.path.join(admitted_root, f"b={batch_id}")
        )

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )


def stream_additive_rollup_foreachbatch(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    delta_fn,
):
    """Generic exactly-once ADDITIVE keyed rollup into a parquet state
    table: ``delta_fn(batch_df)`` produces a keyed delta whose non-key
    columns are all SUM-mergeable (counts and sums), and each batch's
    delta is folded into the state by a per-alias re-sum.

    The sink is duplicate-SENSITIVE, unlike a keyed upsert: any
    duplicate row that slips past upstream dedup inflates the result
    and fails the batch-oracle hash. foreachBatch itself is only
    at-least-once (a recovered query re-runs the last uncommitted
    batch), so the sink commits through fsutil's committed-batch
    manifest (``_batches/<id>`` INSIDE the state directory) and
    rename-aside swap, which moves state + manifest in one atomic
    rename: a re-delivered batch id is a no-op, which upgrades the
    additive merge to exactly-once. Underscore-prefixed entries are
    invisible to Spark's file index, so the manifest rides the parquet
    dir without disturbing reads. A real deployment swaps the rewrite
    for a transactional table format (MERGE + txn id), keeping this
    exact plan.

    The additive merge means the final state is EXACTLY the batch
    aggregate of the union of all chunks, which is what lets a
    downstream plan (e.g. the EWMA finisher) be bit-identical to its
    batch twin.
    """

    def write_state(batch_df: DataFrame, tmp: str) -> None:
        merged = delta = delta_fn(batch_df)
        val_cols = [c for c in delta.columns if c not in key_cols]
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            base = batch_df.sparkSession.read.parquet(state_dir)
            merged = (
                base.select(*delta.columns)
                .unionByName(delta)
                .groupBy(*key_cols)
                .agg(*[F.sum(c).alias(c) for c in val_cols])
            )
        merged.write.mode("overwrite").parquet(tmp)

    return _commit_once_sink(stream, state_dir, checkpoint_dir, write_state)
