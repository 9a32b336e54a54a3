"""Source/sink contract queries (SURVEY §2.1 src-2/src-3).

Each roundtrip writes a fixture table to a non-parquet format under the
repo-local scratch dir, reads it back with an explicit schema (never
inferSchema in an engine path) using Spark's symmetric default timestamp
format, and aggregates — the oracle runs the same
aggregate on the original parquet, so any write/read corruption
(delimiters, quoting, timestamp formats, nulls) breaks the hash.
"""

from __future__ import annotations

import os
import shutil


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mapreduce_hw05_spark.plans.common import lng, money
from mapreduce_hw05_spark.plans.registry import contract
from mapreduce_hw05_spark.sources import load_table

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".tmp")

_LINEITEM_CSV_SCHEMA = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType()),
        T.StructField("l_partkey", T.LongType()),
        T.StructField("l_quantity", T.DoubleType()),
        T.StructField("l_extendedprice", T.DoubleType()),
        T.StructField("l_shipdate", T.TimestampType()),
    ]
)


def _scratch_dir(name: str) -> str:
    """Fixed per-query scratch path: the writer's mode('overwrite')
    replaces prior contents, so repeated invocations don't accumulate
    directories under .tmp (they did with mkdtemp)."""
    path = os.path.join(_SCRATCH, name)
    os.makedirs(path, exist_ok=True)
    return path


@contract(
    "q_csv_roundtrip",
    oracle="""
    SELECT count(*) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_price,
           CAST(epoch_us(max(l_shipdate)) // 1000000 AS BIGINT) AS max_ship_epoch
    FROM lineitem
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → CSV (header, explicit ts format) → re-read → aggregate.

    The oracle aggregates the original parquet, so the CSV write+read must
    be lossless for longs, doubles, and ms timestamps to hash-match.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    path = _scratch_dir("csv_roundtrip")
    (
        li.write.mode("overwrite")
        .option("header", "true")
        .csv(path)
    )
    back = (
        spark.read.schema(_LINEITEM_CSV_SCHEMA)
        .option("header", "true")
        .csv(path)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        money(F.sum("l_quantity")).alias("sum_qty"),
        money(F.sum("l_extendedprice")).alias("sum_price"),
        F.unix_timestamp(F.max("l_shipdate")).alias("max_ship_epoch"),
    )


_ORDERS_JSON_SCHEMA = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType()),
        T.StructField("o_orderstatus", T.StringType()),
        T.StructField("o_totalprice", T.DoubleType()),
        T.StructField("o_orderdate", T.TimestampType()),
    ]
)


@contract(
    "q_json_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price,
           CAST(epoch_us(max(o_orderdate)) // 1000000 AS BIGINT) AS max_order_epoch
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON-lines → re-read with explicit schema → aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    path = _scratch_dir("json_roundtrip")
    o.write.mode("overwrite").json(path)
    back = (
        spark.read.schema(_ORDERS_JSON_SCHEMA)
        .json(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        money(F.sum("o_totalprice")).alias("sum_price"),
        F.unix_timestamp(F.max("o_orderdate")).alias("max_order_epoch"),
    )


@contract(
    "q_orc_roundtrip",
    oracle="""
    SELECT p_brand,
           count(*) AS n_parts,
           round(sum(p_retailprice), 2) AS sum_price,
           CAST(max(p_size) AS BIGINT) AS max_size
    FROM part
    GROUP BY p_brand
    """,
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part → ORC → re-read → aggregate vs the original-parquet oracle.

    ORC is the second columnar container Spark ships a vectorized
    reader/writer for; the roundtrip proves type fidelity (longs,
    doubles, strings) through the ORC writer path. Schema comes from the
    files themselves — columnar formats are self-describing, unlike the
    CSV path's explicit schema.
    """
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )
    path = _scratch_dir("orc_roundtrip")
    p.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        money(F.sum("p_retailprice")).alias("sum_price"),
        F.max("p_size").cast("long").alias("max_size"),
    )


@contract(
    "q_partitioned_pruning",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           o_orderstatus,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE year(o_orderdate) BETWEEN 1996 AND 1997
    GROUP BY 1, 2
    """,
)
def q_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned sink + partition-pruned scan (src-3's
    partitionBy surface): orders written partitioned by order year, then
    re-read with a year predicate that resolves against directory names —
    pruned partitions are never opened (tests assert the plan's
    PartitionFilters), which at 100 TB is the difference between scanning
    two years and scanning all of them.
    """
    o = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    path = _scratch_dir("partitioned_orders")
    o.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("o_year").between(1996, 1997))
        .groupBy(F.col("o_year").cast("long").alias("o_year"), "o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# llm-8 — multimodal columns
# --------------------------------------------------------------------------


@contract(
    "q_multimodal_features",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               repeat(sha256(text), 4) AS hx
        FROM documents
    ), per_doc AS (
        SELECT kind,
               round(len(list_filter(
                   list_transform(generate_series(1, 255, 2),
                                  i -> substring(hx, i, 1)),
                   c -> c = '0')) / 128.0, 6) AS bin1
        FROM m
    )
    SELECT kind, count(*) AS n_media,
           CAST(count(*) * 128 AS BIGINT) AS total_bytes,
           round(avg(bin1), 6) AS avg_bin1
    FROM per_doc GROUP BY kind
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-media-kind feature profile over synthesized binary payloads.

    Exercises the full multimodal pipeline: binary column + typed metadata
    struct (Catalyst) → Arrow-batched mapInPandas decode/feature-extract →
    relational aggregate. The oracle re-derives the payload bytes in SQL
    (sha256 hex, high nibble = odd hex positions), so even the Python
    decode kernel is hash-checked, not just row-counted.
    """
    from mapreduce_hw05_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(attach_fake_media(docs))
    return feats.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg(F.element_at("features", 1)), 6).alias("avg_bin1"),
    )


# --------------------------------------------------------------------------
# src-5 (ext) — bucketed tables: pay the shuffle at ingest, never again
# --------------------------------------------------------------------------


@contract(
    "q_bucketed_join_contract",
    oracle="""
    SELECT c_mktsegment,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment, o_year
    """,
)
def q_bucketed_join_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two bucketed tables and aggregate — result-identical to the
    plain join (the oracle), with the join exchange proven away by the
    persisted bucketing (engine test asserts the shuffle-free plan).

    Both sides are written bucketed on the join key into external tables
    under .tmp: the 100-TB pattern where the biggest fact pays its
    dominant-key shuffle once at ingest and every later join/agg on that
    key is co-located. 8 buckets here (fixture-sized); bucket count at
    scale sizes to target-partition bytes, not cores.
    """
    from mapreduce_hw05_spark.sources.bucketing import read_table, write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "custkey"),
        "bkt_orders",
        "custkey",
        num_buckets=8,
        path=_scratch_dir("bucketed_orders"),
    )
    write_bucketed(
        cust.withColumnRenamed("c_custkey", "custkey"),
        "bkt_customer",
        "custkey",
        num_buckets=8,
        path=_scratch_dir("bucketed_customer"),
    )
    return (
        read_table(spark, "bkt_orders")
        .join(read_table(spark, "bkt_customer"), "custkey")
        .groupBy(
            "c_mktsegment",
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            money(F.sum("o_totalprice")).alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# src-6 (ext) — custom connector via the Python DataSource API (Spark 4)
# --------------------------------------------------------------------------


@contract(
    "q_custom_datasource",
    oracle="""
    SELECT CAST(i % 16 AS INTEGER) AS bucket,
           count(*) AS n_rows,
           CAST(sum(i) AS BIGINT) AS sum_id,
           min(md5(CAST(i AS VARCHAR))) AS min_md5
    FROM range(20000) t(i)
    GROUP BY bucket
    """,
)
def q_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a pure-Python custom connector (DataSource API) and
    aggregate: 20 000 generated rows over 8 declared input partitions,
    per-bucket count / id sum / min md5. The oracle regenerates the same
    deterministic payload with DuckDB's range() — any drift in the
    connector's partition planning or per-task iteration breaks the
    hash. Fixture-independent by design: the capability under test is
    the connector machinery, not the data.
    """
    from mapreduce_hw05_spark.sources.pydatasource import register_seqgen

    register_seqgen(spark)
    src = (
        spark.read.format("seqgen")
        .option("n", 20000)
        .option("parts", 8)
        .option("buckets", 16)
        .load()
    )
    return src.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("id").alias("sum_id"),
        F.min("id_md5").alias("min_md5"),
    )


# --------------------------------------------------------------------------
# src-7 (ext) — custom transactional sink (Python DataSourceWriter)
# --------------------------------------------------------------------------


@contract(
    "q_custom_sink_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_custom_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders through the custom JSONL sink (Python
    DataSourceWriter with task-temp-file → driver-commit → manifest
    two-phase protocol), read back ONLY the manifest-committed files,
    and aggregate — hash-checked against the original table. A lost,
    duplicated, or uncommitted task file breaks the hash; the engine
    test exercises the abort path.
    """
    from mapreduce_hw05_spark.sources.pydatasource import (
        manifest_files,
        register_jsonlsink,
    )

    register_jsonlsink(spark)
    out = _scratch_dir("jsonl_sink")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.format("jsonlsink").option("path", out).mode("append").save()
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(manifest_files(out))
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        lng(F.sum("o_orderkey")).alias("sum_keys"),
        money(F.sum("o_totalprice")).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# src-2c — XML source/sink roundtrip (Spark 4 native XML)
# --------------------------------------------------------------------------


@contract(
    "q_xml_roundtrip",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_custs,
           CAST(sum(c_custkey) AS BIGINT) AS sum_keys,
           round(sum(c_acctbal), 2) AS sum_acctbal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write customer to XML (native Spark 4 XML sink), re-read it with
    an explicit schema, and aggregate — the oracle aggregates the
    original parquet, so any element/attribute mangling, escaping bug,
    or type coercion in the roundtrip breaks the hash. Completes the
    format matrix: parquet / csv / json / orc / xml."""
    out = _scratch_dir("xml_roundtrip")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    (
        cust.write.mode("overwrite")
        .format("xml")
        .option("rowTag", "customer")
        .save(out)
    )
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema).format("xml").option("rowTag", "customer").load(out)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_custs"),
        lng(F.sum("c_custkey")).alias("sum_keys"),
        money(F.sum("c_acctbal")).alias("sum_acctbal"),
    )


# --------------------------------------------------------------------------
# src-2d — malformed-record tolerance (PERMISSIVE CSV with corrupt column)
# --------------------------------------------------------------------------


@contract(
    "q_permissive_csv",
    oracle="""
    SELECT count(*) AS n_good,
           CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
           73 AS n_bad
    FROM orders
    """,
)
def q_permissive_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest a CSV with 73 injected malformed lines in PERMISSIVE mode:
    good rows parse, bad rows land in ``_corrupt_record`` instead of
    failing the job — the posture a 100-TB ingest needs (one torn line
    in a billion must not kill the pipeline, and dropping it silently
    is worse). The contract checks BOTH populations: the good-row
    aggregate must match the clean source table and the quarantined
    count must equal exactly the injected 73.
    """
    out = _scratch_dir("permissive_csv")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    good = orders.select(
        F.concat_ws(",", "o_orderkey", "o_totalprice").alias("line")
    )
    bad = (
        spark.range(73)
        .select(F.concat(F.lit("corrupt<"), "id", F.lit(">line,x,y,z,")).alias("line"))
    )
    good.unionAll(bad).coalesce(4).write.mode("overwrite").text(out)
    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    parsed = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
        .cache()  # SPARK-21610: corrupt-column queries need the full parse retained
    )
    return parsed.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        lng(F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("o_orderkey")))).alias(
            "sum_keys"
        ),
        F.count("_corrupt_record").cast("int").alias("n_bad"),
    )


# --------------------------------------------------------------------------
# llm-8 (cont.) — multimodal frame sampling and image resize, hex-oracled
# --------------------------------------------------------------------------


@contract(
    "q_frame_sample",
    oracle="""
    WITH m AS (
        SELECT doc_id, repeat(sha256(text), 4) AS hx
        FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           substring(hx, CAST(i AS BIGINT) * 32 + 1, 32) AS frame_hex
    FROM m, UNNEST([0, 2, 4, 6]) AS t(i)
    ORDER BY doc_id, frame_idx
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sample the video payloads (every 2nd of 8 fixed-size frames)
    and emit each kept frame as its own row, hex-encoded.

    Drives the ``sample_frames`` mapInPandas explode end-to-end: binary
    payload + metadata struct in, one row per kept frame out, no shuffle
    until the final presentation sort. The oracle re-derives every frame's
    exact bytes at the hex-string level (frame i = hex chars
    [32·i, 32·i+32) of the repeated sha256), so the Python slicing kernel
    is value-checked byte-for-byte, not just row-counted.
    """
    from mapreduce_hw05_spark.operators.multimodal import (
        attach_fake_media,
        sample_frames,
    )

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_fake_media(docs), every=2)
    return (
        frames.select(
            "doc_id",
            "frame_idx",
            F.lower(F.hex("frame")).alias("frame_hex"),
        )
        .orderBy("doc_id", "frame_idx")
    )


@contract(
    "q_resize_images",
    oracle="""
    WITH m AS (
        SELECT doc_id, repeat(sha256(text), 4) AS hx
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id,
           CAST(128 AS BIGINT) AS orig_bytes,
           CAST(64 AS BIGINT) AS resized_bytes,
           regexp_replace(hx, '(..)(..)', '\\1', 'g') AS resized_hex
    FROM m
    ORDER BY doc_id
    """,
)
def q_resize_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample the image payloads 2× (strided-subsample stand-in for
    interpolation) and emit the resized bytes hex-encoded.

    Drives the ``resize_images`` kernel: metadata-pruned scan (only
    image rows reach Python), Arrow-batched decode → stride → re-encode.
    The oracle computes the same stride in SQL — keep the first byte of
    every 2-byte group, i.e. drop the second hex pair of every 4 — so
    the resized payload is compared exactly.
    """
    from mapreduce_hw05_spark.operators.multimodal import (
        attach_fake_media,
        resize_images,
    )

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(attach_fake_media(docs), factor=2)
    return (
        resized.select(
            "doc_id",
            "orig_bytes",
            "resized_bytes",
            F.lower(F.hex("resized")).alias("resized_hex"),
        )
        .orderBy("doc_id")
    )


@contract(
    "q_resample_audio",
    oracle="""
    WITH m AS (
        SELECT doc_id, repeat(sha256(text), 4) AS hx
        FROM documents WHERE doc_id % 3 = 1
    ), pos AS (
        SELECT doc_id, hx, unnest(generate_series(0, 63)) AS i FROM m
    ), outb AS (
        SELECT doc_id, i,
               ((strpos('0123456789abcdef', substring(hx, i * 4 + 1, 1)) - 1)
                    * 16
                + strpos('0123456789abcdef', substring(hx, i * 4 + 2, 1)) - 1
                + (strpos('0123456789abcdef', substring(hx, i * 4 + 3, 1)) - 1)
                    * 16
                + strpos('0123456789abcdef', substring(hx, i * 4 + 4, 1)) - 1
               ) // 2 AS v
        FROM pos
    )
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS new_rate,
           CAST(64 AS BIGINT) AS n_samples,
           string_agg(
               substring('0123456789abcdef', v // 16 + 1, 1)
               || substring('0123456789abcdef', v % 16 + 1, 1),
               '' ORDER BY i
           ) AS resampled_hex,
           CAST(sum(v * v) AS BIGINT) AS energy
    FROM outb GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_resample_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decimate the audio payloads 2× (integer boxcar mean per window)
    and emit the resampled bytes hex-encoded with their exact energy.

    Completes the multimodal kernel family (features / frame-sample /
    resize / resample): metadata-pruned scan, Arrow-batched NumPy window
    mean, output compared byte-for-byte — the oracle re-derives every
    output sample as ⌊(b₂ᵢ+b₂ᵢ₊₁)/2⌋ straight from the sha256 hex and
    re-assembles the hex string in sample order.
    """
    from mapreduce_hw05_spark.operators.multimodal import (
        attach_fake_media,
        resample_audio,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = resample_audio(attach_fake_media(docs), factor=2)
    return (
        out.select(
            "doc_id",
            "new_rate",
            "n_samples",
            F.lower(F.hex("resampled")).alias("resampled_hex"),
            "energy",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# mm-5 (ext) — energy-threshold voice-activity detection on audio payloads
# --------------------------------------------------------------------------


@contract(
    "q_audio_vad",
    oracle="""
    WITH m AS (
        SELECT doc_id, repeat(sha256(text), 4) AS hx
        FROM documents WHERE doc_id % 3 = 1
    ), pos AS (
        SELECT doc_id, hx, unnest(generate_series(0, 127)) AS i FROM m
    ), samp AS (
        SELECT doc_id, i // 16 AS f,
               (strpos('0123456789abcdef', substring(hx, i * 2 + 1, 1)) - 1)
                   * 16
               + strpos('0123456789abcdef', substring(hx, i * 2 + 2, 1)) - 1
                   AS v
        FROM pos
    ), fr AS (
        SELECT doc_id, f, CAST(sum(v * v) AS BIGINT) AS e
        FROM samp GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN e > 260000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_voiced,
           string_agg(CASE WHEN e > 260000 THEN '1' ELSE '0' END,
                      '' ORDER BY f) AS voiced_mask,
           CAST(sum(e) AS BIGINT) AS total_energy
    FROM fr GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity detection over the audio payloads: 16-sample
    frames, a frame is voiced when its exact integer energy Σs² exceeds
    the uniform-noise midpoint (16·127.5² ≈ 260 k) — the first stage of
    every speech-data pipeline (silence stripping before ASR /
    diarization), completing the multimodal kernel family next to
    [[q_resample_audio]]. Output is the per-clip voiced mask in frame
    order plus counts and total energy — all integers, no rounding.

    The oracle re-derives every sample from the sha256 hex and gates on
    the identical threshold; the engine path is the Arrow-batched
    mapInPandas kernel (metadata prunes non-audio rows BEFORE Python).
    A production VAD swaps the energy gate for a learned model inside
    the same kernel signature.
    """
    from mapreduce_hw05_spark.operators.multimodal import (
        attach_fake_media,
        vad_energy,
    )

    docs = load_table(spark, sf_dir, "documents")
    return vad_energy(attach_fake_media(docs)).orderBy("doc_id")


# --------------------------------------------------------------------------
# mm-6 (ext) — shot-boundary (scene cut) detection on video payloads
# --------------------------------------------------------------------------


@contract(
    "q_scene_cuts",
    oracle="""
    WITH m AS (
        SELECT doc_id, repeat(sha256(text), 4) AS hx
        FROM documents WHERE doc_id % 3 = 2
    ), pos AS (
        SELECT doc_id, hx, unnest(generate_series(0, 127)) AS i FROM m
    ), samp AS (
        SELECT doc_id, i,
               (strpos('0123456789abcdef', substring(hx, i * 2 + 1, 1)) - 1)
                   * 16
               + strpos('0123456789abcdef', substring(hx, i * 2 + 2, 1)) - 1
                   AS v
        FROM pos
    ), d AS (
        SELECT a.doc_id, a.i // 16 AS t, abs(a.v - b.v) AS ad
        FROM samp a
        JOIN samp b ON b.doc_id = a.doc_id AND b.i = a.i - 16
        WHERE a.i >= 16
    ), tr AS (
        SELECT doc_id, t, CAST(sum(ad) AS BIGINT) AS l1
        FROM d GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(8 AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN l1 > 1360 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cuts,
           string_agg(CASE WHEN l1 > 1360 THEN '1' ELSE '0' END,
                      '' ORDER BY t) AS cut_mask,
           CAST(sum(l1) AS BIGINT) AS total_l1
    FROM tr GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the video payloads: exact L1 pixel
    difference between consecutive frames, cut where the difference
    exceeds the uniform-noise midpoint (16·85 = 1360) — the
    frame-difference first pass every video ingest runs (keyframe
    selection for captioning / dedup), closing the multimodal family
    (features / frame-sample / resize / resample / VAD / scene cut).
    Output is the per-clip transition mask plus counts — all integers.

    The oracle re-derives each of the 8×16-byte frames from the sha256
    hex and diffs adjacent positions with a self-join; the engine path
    is one NumPy ``diff`` inside the Arrow-batched mapInPandas kernel,
    with non-video rows pruned by metadata before Python.
    """
    from mapreduce_hw05_spark.operators.multimodal import (
        attach_fake_media,
        scene_cuts,
    )

    docs = load_table(spark, sf_dir, "documents")
    return scene_cuts(attach_fake_media(docs)).orderBy("doc_id")
