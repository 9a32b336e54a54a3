"""Event-table contract queries (SURVEY.md §2.4 agg-2/3/4, §2.7 f-5,
§2.9 st-1/st-2/st-3 batch analogs).

The streaming operators' correctness contract is their batch analog
(Structured Streaming's unified semantics); the live streaming variants
with watermarks live in ``mapreduce_hw05_spark.streaming`` and are tested
for batch-equivalence in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from mapreduce_hw05_spark.operators.sessions import session_stats
from mapreduce_hw05_spark.plans.common import lng, money, ratio
from mapreduce_hw05_spark.plans.registry import contract
from mapreduce_hw05_spark.sources import load_table

# --------------------------------------------------------------------------
# agg-2 — average by key (the genre's (sum,count)-pair combiner lesson)
# --------------------------------------------------------------------------


@contract(
    "q_avg_value_by_type",
    oracle="""
    SELECT event_type,
           round(avg(value), 6) AS avg_value,
           round(sum(value), 2) AS sum_value,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def q_avg_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg/sum/count of events.value per event_type.

    Catalyst decomposes avg into partial (sum, count) + final divide —
    exactly the in-mapper-combining pattern the genre hand-writes.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        ratio(F.avg("value")).alias("avg_value"),
        money(F.sum("value")).alias("sum_value"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# agg-3 — exact distinct / count-distinct
# --------------------------------------------------------------------------


@contract(
    "q_distinct_users",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event_type (two-phase shuffle in Spark)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


# --------------------------------------------------------------------------
# agg-4 — approximate count-distinct (HLL++)
# --------------------------------------------------------------------------


@contract(
    "q_approx_distinct",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           TRUE AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event_type (HyperLogLog++), made
    hashable: the ±ε estimate itself is not cross-engine comparable, so
    the contract emits the EXACT count plus a boolean computed engine-side
    — ``|approx − exact| / exact ≤ 5%`` — and the oracle emits the exact
    count plus literal TRUE. A broken HLL (or a broken exact path) flips
    the boolean and fails the driver's value hash.

    Scale: HLL sketches merge associatively — constant-size shuffle
    regardless of input rows, the right tool at 100 TB where exact
    distinct would shuffle every key. The exact count here is the sf0.01
    verification side, not the scale path.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )
    within = (
        F.abs(F.col("approx_users") - F.col("n_users_exact"))
        <= F.col("n_users_exact") * F.lit(0.05)
    )
    return agg.select(
        "event_type",
        "n_users_exact",
        within.alias("approx_within_5pct"),
    )


# --------------------------------------------------------------------------
# f-5 — JSON extraction from the props column
# --------------------------------------------------------------------------


@contract(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           count(CAST(props->>'k' AS DOUBLE)) AS n_with_k,
           round(avg(CAST(props->>'k' AS DOUBLE)), 6) AS avg_k,
           round(sum(CAST(props->>'k' AS DOUBLE)), 2) AS sum_k
    FROM events
    GROUP BY event_type
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg/sum of the JSON field ``props.$.k`` per event_type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        ratio(F.avg(k)).alias("avg_k"),
        money(F.sum(k)).alias("sum_k"),
    )


# --------------------------------------------------------------------------
# st-1 — tumbling window aggregation (batch analog)
# --------------------------------------------------------------------------


@contract(
    "q_tumbling_counts",
    oracle="""
    SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_epoch,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per hour × event_type (1-hour tumbling window, batch analog).

    Window start is emitted as epoch seconds (BIGINT) to keep the hash
    independent of timestamp/timezone rendering on either engine.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        money(F.sum("value")).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# st-2 — sliding window aggregation (batch analog)
# --------------------------------------------------------------------------


@contract(
    "q_sliding_counts",
    oracle="""
    SELECT CAST((epoch_us(ts) // 1000000) // 1800 * 1800 - k.off AS BIGINT)
               AS window_start_epoch,
           event_type,
           count(*) AS n_events
    FROM events, (SELECT unnest([0, 1800]) AS off) k
    GROUP BY 1, 2
    """,
)
def q_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min: each event lands in 2 windows.

    Spark's native ``F.window(ts, '1 hour', '30 minutes')``; the oracle
    explodes the two window-start offsets per event.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# st-3 — sessionization (batch analog; operator in operators.sessions)
# --------------------------------------------------------------------------


@contract(
    "q_sessionize",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    ), per_session AS (
        SELECT user_id, session_id,
               count(*) AS n_events,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        FROM numbered
        GROUP BY user_id, session_id
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST((2 * sum(dur_us) + count(*)) // (2 * count(*)) AS DOUBLE)
               / 1000000.0 AS avg_session_secs,
           CAST((2 * sum(n_events) * 1000000 + count(*))
                // (2 * count(*)) AS DOUBLE)
               / 1000000.0 AS avg_events_per_session
    FROM per_session
    GROUP BY user_id
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-min-gap sessions per user: session count, avg length, avg size.

    Bit-exactness: both averages are EXACT-INTEGER half-up divisions at
    microsecond/1e-6 precision — ``(2·sum + n) DIV (2·n)`` — followed by
    one IEEE divide by 1e6, no ``round()`` anywhere. The r5 sf0.1 sweep
    caught two divergence modes in the earlier round-6 shapes:
    ``avg(dur_secs)`` (order-dependent double sum, 1 ulp off) and, after
    switching to sum-then-round, an exact round-6 TIE (HALF_UP vs
    multiply-round — the recorded negative-result class). Integer
    half-up is the same quantity with the tie decided identically on
    both engines by construction.
    """
    ev = load_table(spark, sf_dir, "events")
    per_session = session_stats(
        ev, "user_id", "ts", gap_seconds=1800, tiebreak_cols=("event_id",)
    )
    agg = per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("dur_us").alias("sum_us"),
        F.sum("n_events").alias("sum_events"),
    )
    return agg.select(
        "user_id",
        "n_sessions",
        (
            F.expr("(2 * sum_us + n_sessions) DIV (2 * n_sessions)")
            / F.lit(1_000_000.0)
        ).alias("avg_session_secs"),
        (
            F.expr(
                "(2 * sum_events * 1000000 + n_sessions)"
                " DIV (2 * n_sessions)"
            )
            / F.lit(1_000_000.0)
        ).alias("avg_events_per_session"),
    )


# --------------------------------------------------------------------------
# j-9 — as-of join (operator in operators.asof)
# --------------------------------------------------------------------------


@contract(
    "q_asof_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ), purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id,
           p.user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us,
           c.value AS click_value
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the same user's most recent prior click
    (timestamp, value, gap); purchases with no prior click keep nulls.

    The engine's as-of realization is union + one window pass
    (operators.asof) — a single key shuffle, vs the oracle's native
    ``ASOF LEFT JOIN``.
    """
    from mapreduce_hw05_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, clicks, on=["user_id"], ts_col="ts", carry_cols=["value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.unix_micros("ts_asof").alias("click_ts_us"),
        (F.unix_micros("ts") - F.unix_micros("ts_asof")).alias("gap_us"),
        F.col("value_asof").alias("click_value"),
    )


# --------------------------------------------------------------------------
# ts-1 (ext) — gap-fill / resample: dense hourly series with zero-fill
# --------------------------------------------------------------------------


@contract(
    "q_gapfill_hourly",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events WHERE event_type = 'purchase'
    ), hours AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour FROM bounds
    ), actual AS (
        SELECT date_trunc('hour', ts) AS hour,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    )
    SELECT CAST(epoch(h.hour) AS BIGINT) AS hour_epoch,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_purchases,
           coalesce(a.sum_value, 0.0) AS sum_value
    FROM hours h LEFT JOIN actual a ON h.hour = a.hour
    """,
)
def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly purchase series: every hour between the first and
    last purchase appears, empty hours zero-filled.

    The dense axis comes from sequence()+explode over the min/max bounds
    (one-row cross join — broadcast, no skew); actual counts left-join
    onto it. This is the batch analog of a streaming tumbling window with
    emit-on-empty, and the standard shape for training-data time curves.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    actual = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n"), money(F.sum("value")).alias("sum_value")
    )
    return hours.join(actual, "hour", "left").select(
        F.unix_timestamp("hour").alias("hour_epoch"),
        lng(F.coalesce("n", F.lit(0))).alias("n_purchases"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# ts-3 (ext) — OHLC resample: per-hour open/high/low/close per event type
# --------------------------------------------------------------------------


@contract(
    "q_ohlc_hourly",
    oracle="""
    SELECT event_type,
           CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT)
               AS hour_epoch,
           round(arg_min(value, ts), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(arg_max(value, ts), 6) AS close,
           count(*) AS n_events
    FROM events
    WHERE event_type IN ('purchase', 'click')
    GROUP BY event_type, hour_epoch
    """,
)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) bars of event value per type —
    the time-series resample every metrics pipeline runs.

    One hash aggregate: open/close are ``min_by``/``max_by`` ordered by
    ``ts``, which the fixture generator keeps unique at every scale
    factor (verified sf0.001/0.01/0.1), so the argmin/argmax are
    tie-free. With a non-unique event time this must order by a
    composite (ts, event_id) instead — DuckDB's arg_min can't, which is
    why the contract pins the unique-ts fixture. No window functions:
    OHLC via first/last-over-window would sort every partition; min_by
    folds it into the same partial agg as high/low.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    return ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
    ).agg(
        ratio(F.min_by("value", "ts")).alias("open"),
        ratio(F.max("value")).alias("high"),
        ratio(F.min("value")).alias("low"),
        ratio(F.max_by("value", "ts")).alias("close"),
        F.count("*").alias("n_events"),
    )


# --------------------------------------------------------------------------
# f-5b (ext) — VARIANT semi-structured type (Spark 4 parse_json)
# --------------------------------------------------------------------------


@contract(
    "q_variant_json",
    oracle="""
    SELECT event_type,
           count(CAST(props->>'k' AS BIGINT)) AS n_k,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k,
           count(props->>'absent') AS n_absent
    FROM events
    GROUP BY event_type
    """,
)
def q_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the VARIANT type (Spark 4):
    ``parse_json`` once, then typed ``variant_get`` path extraction —
    including a missing path, which must be NULL (count 0), not an
    error.

    Against q_json_extract's per-access string re-parse
    (get_json_object), VARIANT parses each document once into a binary
    form all later accesses share — the 100-TB answer for JSON-heavy
    event tables. The oracle reads the same fields relationally
    (DuckDB has no VARIANT; the values, not the encoding, are the
    contract).
    """
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "long")
    absent = F.variant_get(v, "$.absent", "string")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_k"),
        lng(F.sum(k)).alias("sum_k"),
        lng(F.max(k)).alias("max_k"),
        F.count(absent).alias("n_absent"),
    )


@contract(
    "q_time_weighted_avg",
    oracle="""
    WITH stepped AS (
        SELECT user_id, value, ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_ts
        FROM events
    ), weighted AS (
        SELECT user_id,
               value * (epoch_us(next_ts) - epoch_us(ts)) / 1000000.0
                   AS v_dur,
               (epoch_us(next_ts) - epoch_us(ts)) / 1000000.0 AS dur
        FROM stepped WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_intervals,
           round(sum(v_dur) / sum(dur), 6) AS twa_value
    FROM weighted GROUP BY user_id
    """,
)
def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregularly-sampled series: each
    observation holds until the next one (step interpolation), so its
    weight is the interval it covers — the correct mean for sensor-style
    data where a plain AVG over-counts bursts of dense samples.

    One window pass (lead) + one keyed aggregate; no state beyond the
    per-key sort the window already needs.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.withColumn("next_ts", F.lead("ts").over(w)).filter(
        F.col("next_ts").isNotNull()
    )
    dur = (
        F.unix_micros("next_ts") - F.unix_micros("ts")
    ) / F.lit(1000000.0)
    weighted = stepped.select(
        "user_id", (F.col("value") * dur).alias("v_dur"), dur.alias("dur")
    )
    return weighted.groupBy("user_id").agg(
        F.count("*").alias("n_intervals"),
        ratio(F.sum("v_dur") / F.sum("dur")).alias("twa_value"),
    )


# --------------------------------------------------------------------------
# ev-9 (ext) — ordered event sequences per user (behavioral n-gram input)
# --------------------------------------------------------------------------


@contract(
    "q_event_sequences",
    oracle="""
    WITH numbered AS (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY rn) AS seq,
           CAST(count(*) AS BIGINT) AS seq_len
    FROM numbered
    WHERE rn <= 10
    GROUP BY user_id
    """,
)
def q_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's first 10 events as a '>'-joined event-type sequence in
    strict (ts, event_id) order — the per-entity ordered-collect pattern
    behind behavioral sequence models.

    collect_list is merge-order-nondeterministic, so order is pinned by
    collecting (rn, event_type) structs and sort_array-ing them (struct
    comparison is field-lexicographic and rn is unique). The window and
    the aggregation share the user_id shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 10)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("seq"),
            F.count("*").alias("seq_len"),
        )
    )


# --------------------------------------------------------------------------
# ts-3 (ext) — EWMA smoothing over the hourly series (truncated window)
# --------------------------------------------------------------------------


def hourly_value_stats(ev: DataFrame) -> DataFrame:
    """(event_type, hour_epoch) → exact integer (s, n) with
    s = Σ floor(value·1000): the order-free additive hourly rollup the
    EWMA contracts smooth. Additive in both columns, so a streaming
    sink can merge per-batch deltas and land on the identical table."""
    return ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_epoch"),
    ).agg(
        F.sum(F.floor(F.col("value") * 1000)).cast("long").alias("s"),
        F.count("*").alias("n"),
    )


def ewma_from_hourly(hourly: DataFrame) -> DataFrame:
    """Finish the EWMA plan from the exact hourly (s, n) table — shared
    verbatim by the batch and streaming contracts so their outputs are
    bit-identical by construction."""
    seq = hourly.select(
        "event_type",
        "hour_epoch",
        (F.col("s") / (F.lit(1000.0) * F.col("n"))).alias("x"),
    )
    frame = (
        W.partitionBy("event_type").orderBy("hour_epoch").rowsBetween(-23, 0)
    )
    with_arr = seq.withColumn("arr", F.collect_list("x").over(frame))
    n = F.size("arr")
    num = F.aggregate(
        F.transform(
            "arr", lambda x, i: x * F.pow(F.lit(0.75), n - F.lit(1) - i)
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    den = (F.lit(1.0) - F.pow(F.lit(0.75), n)) / F.lit(0.25)
    return with_arr.select(
        "event_type",
        "hour_epoch",
        lng(n).alias("n_window"),
        "x",
        (num / den).alias("ewma"),
    )


#: Shared oracle text for the batch and streaming EWMA contracts.
EWMA_ORACLE_SQL = """
    WITH hourly AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT)
                   AS hour_epoch,
               CAST(sum(floor(value * 1000)) AS BIGINT) AS s,
               count(*) AS n
        FROM events GROUP BY event_type, hour_epoch
    ), seq AS (
        SELECT event_type, hour_epoch, s / (1000.0 * n) AS x FROM hourly
    ), framed AS (
        SELECT event_type, hour_epoch, x,
               list(x) OVER (PARTITION BY event_type ORDER BY hour_epoch
                             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) AS arr
        FROM seq
    )
    SELECT event_type, hour_epoch,
           CAST(len(arr) AS BIGINT) AS n_window,
           x,
           list_reduce(
               list_transform(arr, (v, i) -> v * power(0.75, len(arr) - i)),
               (a, b) -> a + b
           ) / ((1 - power(0.75, len(arr))) / 0.25) AS ewma
    FROM framed
    """


@contract("q_ewma_hourly", oracle=EWMA_ORACLE_SQL)
def q_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.25) of the hourly mean
    event value per type, truncated to the 24 most recent observations —
    BIT-exact across engines, no rounding anywhere.

    Exactness argument: the hourly mean is a ratio of exact integers
    (per-row floor(value·1000) — single IEEE ops are engine-identical;
    the BIGINT sum is order-free), so the series is bit-identical before
    smoothing. Weights (1−α)^k are exact dyadics for k ≤ 24, the
    normalizer is the closed form (1−0.75ⁿ)/0.25, and BOTH engines fold
    the weighted terms oldest→newest (Spark ``aggregate`` HOF over a
    ROWS-frame collect_list; DuckDB ``list_reduce`` over the same framed
    list) — identical operations on identical doubles in the identical
    order. A per-row round() here would actually be LESS stable (Spark
    HALF_UP vs DuckDB multiply-round diverge on exact-tie inputs, which
    the integer-ratio series can produce).
    """
    ev = load_table(spark, sf_dir, "events")
    return ewma_from_hourly(hourly_value_stats(ev))


# --------------------------------------------------------------------------
# j-9b (ext) — last-touch marketing attribution over the as-of join
# --------------------------------------------------------------------------


@contract(
    "q_attribution_last_touch",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, CAST(props->>'k' AS BIGINT) % 4 AS chan
        FROM events WHERE event_type = 'click'
    ), purchases AS (
        SELECT user_id, ts, CAST(floor(value * 1000) AS BIGINT) AS v_ms
        FROM events WHERE event_type = 'purchase'
    ), j AS (
        SELECT p.user_id, p.v_ms, p.ts, c.ts AS cts, c.chan
        FROM purchases p
        ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
    )
    SELECT CASE WHEN cts IS NOT NULL AND chan IS NOT NULL
                     AND cts >= ts - INTERVAL 3 DAY
                THEN 'ch' || chan ELSE 'none' END AS channel,
           count(*) AS n_purchases,
           CAST(sum(v_ms) AS BIGINT) AS revenue_ms,
           count(DISTINCT user_id) AS n_users
    FROM j GROUP BY 1
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the same user's
    most recent click within a 3-day lookback (channel = the click's
    ``props.k % 4``), else the 'none' bucket — the marketing-analytics
    staple built on the as-of join + JSON extraction.

    The engine's as-of realization is the union + one-window-pass
    operator (one user-keyed shuffle, streaming 'last seen' within each
    sorted partition — scales to any clicks-per-user); the oracle uses
    DuckDB's native ASOF LEFT JOIN. Revenue is millisecond-quantized
    BIGINT, so every output cell is exact.
    """
    from mapreduce_hw05_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        (F.get_json_object("props", "$.k").cast("long") % 4).alias("chan"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 1000).cast("long").alias("v_ms"),
    )
    j = asof_join(
        purchases, clicks, on=["user_id"], ts_col="ts", carry_cols=["chan"]
    )
    channel = F.when(
        F.col("ts_asof").isNotNull()
        & F.col("chan_asof").isNotNull()
        & (F.col("ts_asof") >= F.col("ts") - F.expr("INTERVAL 3 DAYS")),
        F.concat(F.lit("ch"), F.col("chan_asof").cast("string")),
    ).otherwise("none")
    return j.groupBy(channel.alias("channel")).agg(
        F.count("*").alias("n_purchases"),
        lng(F.sum("v_ms")).alias("revenue_ms"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --------------------------------------------------------------------------
# an-24 (ext) — Kaplan–Meier view→purchase survival curve
# --------------------------------------------------------------------------


@contract(
    "q_survival_km",
    oracle="""
    WITH bounds AS (
        SELECT CAST(epoch_us(max(ts)) // 1000000 AS BIGINT) AS t_max
        FROM events
    ), v AS (
        SELECT user_id, min(ts) AS v_ts
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS p_ts
        FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ), obs AS (
        SELECT v.user_id,
               CASE WHEN p.p_ts IS NOT NULL THEN
                   (CAST(epoch_us(p.p_ts) // 1000000 AS BIGINT)
                    - CAST(epoch_us(v.v_ts) // 1000000 AS BIGINT)) // 86400
               ELSE
                   (b.t_max
                    - CAST(epoch_us(v.v_ts) // 1000000 AS BIGINT)) // 86400
               END AS obs_day,
               CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS is_event
        FROM v LEFT JOIN p ON v.user_id = p.user_id CROSS JOIN bounds b
    ), daily AS (
        SELECT obs_day, count(*) AS n_obs,
               CAST(sum(is_event) AS BIGINT) AS d
        FROM obs GROUP BY obs_day
    ), risk AS (
        SELECT obs_day, d,
               CAST(sum(n_obs) OVER () AS BIGINT)
               - CAST(coalesce(sum(n_obs) OVER (ORDER BY obs_day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_at_risk
        FROM daily
    ), factors AS (
        SELECT obs_day, d, n_at_risk,
               1.0 - CAST(d AS DOUBLE) / n_at_risk AS factor
        FROM risk WHERE d > 0
    )
    SELECT obs_day AS t_day, n_at_risk, d AS d_events,
           list_reduce(
               list(factor) OVER (ORDER BY obs_day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               (a, b) -> a * b
           ) AS km_surv
    FROM factors
    """,
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier estimate of view→purchase conversion time: per
    event day, users still at risk, conversions, and the survival
    probability — right-censoring no-purchase users at the observation
    end, the textbook time-to-event readout.

    Bit-exact by the EWMA recipe: day offsets and risk sets are pure
    integer arithmetic (epoch seconds, integer division), each hazard
    factor 1 − d/n is a single division, and BOTH engines compute the
    running product with the SAME oldest→newest fold (Spark
    ``aggregate`` HOF over a framed collect_list; DuckDB
    ``list_reduce`` over the same framed list) — no rounding anywhere.
    Windows run over the day-count-sized daily table, never user-sized;
    the only data-sized work is the three per-user aggregates.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    t_max = int(
        ev.agg(F.max(F.unix_timestamp("ts")).alias("m")).first()["m"]
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    obs = (
        v.join(p, "user_id", "left")
        .select(
            F.col("user_id"),
            F.unix_timestamp("v_ts").alias("vu"),
            F.unix_timestamp("p_ts").alias("pu"),
        )
        .select(
            F.when(
                F.col("pu").isNotNull(),
                F.expr("(pu - vu) div 86400"),
            )
            .otherwise(F.expr(f"({t_max} - vu) div 86400"))
            .alias("obs_day"),
            F.when(F.col("pu").isNotNull(), 1).otherwise(0).alias("is_event"),
        )
    )
    daily = obs.groupBy("obs_day").agg(
        F.count("*").alias("n_obs"), lng(F.sum("is_event")).alias("d")
    )
    # global-window: day-grouped aggregate (O(days) rows, all three specs)
    whole = Window.orderBy("obs_day").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # global-window: same O(days) aggregate
    before = Window.orderBy("obs_day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = daily.select(
        "obs_day",
        "d",
        (
            F.sum("n_obs").over(whole).cast("long")
            - F.coalesce(F.sum("n_obs").over(before), F.lit(0)).cast("long")
        ).alias("n_at_risk"),
    )
    factors = risk.filter(F.col("d") > 0).select(
        "obs_day",
        "d",
        "n_at_risk",
        (
            F.lit(1.0) - F.col("d").cast("double") / F.col("n_at_risk")
        ).alias("factor"),
    )
    # global-window: same O(days) aggregate
    frame = Window.orderBy("obs_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return factors.select(
        F.col("obs_day").alias("t_day"),
        "n_at_risk",
        F.col("d").alias("d_events"),
        F.aggregate(
            F.collect_list("factor").over(frame),
            F.lit(1.0),
            lambda a, b: a * b,
        ).alias("km_surv"),
    )


# --------------------------------------------------------------------------
# an-25 (ext) — top session paths (first three steps of each session)
# --------------------------------------------------------------------------


@contract(
    "q_top_paths",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_sess) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM flagged
    ), stepped AS (
        SELECT user_id, session_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id, session_id
                   ORDER BY ts, event_id) AS step
        FROM numbered
    ), paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY step) AS path
        FROM stepped WHERE step <= 3
        GROUP BY user_id, session_id
    )
    SELECT path, count(*) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 15
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 session-opening paths: the first three event types of
    every 30-min-gap session, joined with '>' — the clickstream
    path-analysis readout next to q_sessionize / q_event_sequences.

    Sessions come from the shared gap-cumsum operator (one user-keyed
    window pass); steps are a second window over the SAME partitioning
    (no extra exchange — the sort carries), and the path string
    aggregates at most three rows per session. Counts are exact and the
    top-15 tiebreaks on the path string.
    """
    from mapreduce_hw05_spark.operators.sessions import assign_sessions

    ev = load_table(spark, sf_dir, "events")
    sessions = assign_sessions(
        ev, "user_id", "ts", gap_seconds=1800, tiebreak_cols=("event_id",)
    )
    w = W.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    stepped = sessions.withColumn("step", F.row_number().over(w)).filter(
        F.col("step") <= 3
    )
    paths = stepped.groupBy("user_id", "session_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("step", "event_type"))),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


# --------------------------------------------------------------------------
# an-26 (ext) — jackknife (delete-one-bucket) uncertainty of the mean
# --------------------------------------------------------------------------


#: shared verbatim by the batch and streaming jackknife contracts — the
#: streaming rollup lands on the identical per-bucket table, so both
#: match this oracle bit-for-bit.
JACKKNIFE_ORACLE_SQL = """
    WITH q AS (
        SELECT event_type, user_id % 20 AS bucket,
               CAST(floor(value * 1000) AS BIGINT) AS v
        FROM events
    ), per_bucket AS (
        SELECT event_type, bucket,
               CAST(sum(v) AS BIGINT) AS s_b, count(*) AS n_b
        FROM q GROUP BY event_type, bucket
    ), totals AS (
        SELECT event_type,
               CAST(sum(s_b) AS BIGINT) AS s,
               CAST(sum(n_b) AS BIGINT) AS n,
               count(*) AS n_buckets
        FROM per_bucket GROUP BY event_type
    ), reps AS (
        SELECT p.event_type, p.bucket, t.s, t.n, t.n_buckets,
               CAST(floor(
                   CAST(t.s - p.s_b AS DOUBLE) / (t.n - p.n_b) * 1000
               ) AS BIGINT) AS q_b
        FROM per_bucket p JOIN totals t ON p.event_type = t.event_type
        WHERE t.n > p.n_b
    ), centered AS (
        SELECT event_type, s, n, n_buckets, q_b,
               q_b - CAST(sum(q_b) OVER (PARTITION BY event_type)
                          AS BIGINT) // n_buckets AS d
        FROM reps
    )
    SELECT event_type,
           n AS n_events,
           CAST(n_buckets AS BIGINT) AS n_replicates,
           CAST(s AS DOUBLE) / n AS mean_v,
           CAST(sum(d * d) AS BIGINT) AS jk_sum_d2_q
    FROM centered
    GROUP BY event_type, n, n_buckets, s
    """


def jackknife_bucket_stats(ev: DataFrame) -> DataFrame:
    """(event_type, bucket) → exact integer (s_b, n_b) partial sums over
    user-hash buckets — order-free and additive in both columns, so a
    streaming sink can fold per-batch deltas and land on the identical
    per-bucket table."""
    return ev.groupBy(
        "event_type", (F.col("user_id") % 20).alias("bucket")
    ).agg(
        lng(F.sum(F.floor(F.col("value") * 1000))).alias("s_b"),
        F.count("*").cast("long").alias("n_b"),
    )


def jackknife_from_buckets(per_bucket: DataFrame) -> DataFrame:
    """Finish the delete-one-bucket jackknife from the exact per-bucket
    (s_b, n_b) table — shared verbatim by the batch and streaming
    contracts so their outputs are bit-identical by construction."""
    totals = per_bucket.groupBy("event_type").agg(
        lng(F.sum("s_b")).alias("s"),
        lng(F.sum("n_b")).alias("n"),
        F.count("*").alias("n_buckets"),
    )
    reps = (
        # label-sized: one row per event_type
        per_bucket.join(F.broadcast(totals), "event_type")
        .filter(F.col("n") > F.col("n_b"))
        .select(
            "event_type",
            "s",
            "n",
            "n_buckets",
            F.floor(
                (F.col("s") - F.col("s_b")).cast("double")
                / (F.col("n") - F.col("n_b"))
                * 1000
            )
            .cast("long")
            .alias("q_b"),
        )
    )
    centered = reps.select(
        "event_type",
        "s",
        "n",
        "n_buckets",
        (
            F.col("q_b")
            - F.expr(
                "CAST(sum(q_b) OVER (PARTITION BY event_type) AS BIGINT)"
                " div n_buckets"
            )
        ).alias("d"),
    )
    return centered.groupBy("event_type", "n", "n_buckets", "s").agg(
        lng(F.sum(F.col("d") * F.col("d"))).alias("jk_sum_d2_q")
    ).select(
        "event_type",
        F.col("n").alias("n_events"),
        F.col("n_buckets").cast("long").alias("n_replicates"),
        (F.col("s").cast("double") / F.col("n")).alias("mean_v"),
        "jk_sum_d2_q",
    )


@contract("q_jackknife_mean", oracle=JACKKNIFE_ORACLE_SQL)
def q_jackknife_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife over the hash-bucketed event values
    (20 user-hash buckets per type): the replicate-mean dispersion that
    puts an uncertainty on a distributed mean WITHOUT resampling —
    each replicate is 'the mean with bucket b removed', computed from
    the same per-bucket partial sums the mean itself needs.

    Bit-exact: per-bucket (Σv, n) are order-free BIGINTs, each
    replicate mean is one exact-integer division quantized via a
    deterministic single-op chain (·1000, floor), centering subtracts
    the integer-division replicate average, and the dispersion Σd² is
    an exact integer — the (B−1)/B·10⁻⁶ scaling to a variance is left
    symbolic. One data-sized shuffle (the bucket aggregate); everything
    after is bucket-count-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    return jackknife_from_buckets(jackknife_bucket_stats(ev))


# --------------------------------------------------------------------------
# ts-4 (ext) — higher central moments: skewness + excess kurtosis per type
# --------------------------------------------------------------------------


def type_moment_stats(ev: DataFrame) -> DataFrame:
    """event_type → exact integer power sums (n, s1..s4) over the
    unit-quantized value q = ⌊value + ½⌋. UNIT (not milli) quantization
    keeps q⁴ ≤ ~1.3e11 per row and Σq⁴ far inside BIGINT even at 100×
    the fixture. All five columns are SUM-mergeable, so a streaming
    sink can fold per-batch deltas and land on the identical table."""
    q = F.floor(F.col("value") + 0.5).cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(q).cast("long").alias("s1"),
        F.sum(q * q).cast("long").alias("s2"),
        F.sum(q * q * q).cast("long").alias("s3"),
        F.sum(q * q * q * q).cast("long").alias("s4"),
    )


def moments_finish(stats: DataFrame) -> DataFrame:
    """Finish skewness / excess kurtosis from the exact power-sum table —
    shared verbatim by the batch and streaming contracts. Every output
    is a FIXED-SHAPE IEEE expression tree over exact-integer-derived
    doubles (raw moments are single divides; the central-moment and
    standardization chains are written with identical association on
    both engines), so no rounding is needed anywhere."""
    nd = F.col("n").cast("double")
    r = stats.select(
        "event_type",
        "n",
        (F.col("s1").cast("double") / nd).alias("m"),
        (F.col("s2").cast("double") / nd).alias("r2"),
        (F.col("s3").cast("double") / nd).alias("r3"),
        (F.col("s4").cast("double") / nd).alias("r4"),
    )
    m, r2 = F.col("m"), F.col("r2")
    with_m2 = r.select(
        "event_type", "n", "m", "r2", "r3", "r4",
        (r2 - m * m).alias("m2"),
    )
    m2, r3, r4 = F.col("m2"), F.col("r3"), F.col("r4")
    return with_m2.select(
        "event_type",
        "n",
        "m",
        "m2",
        (
            (r3 - 3 * m * r2 + 2 * m * m * m) / (m2 * F.sqrt(m2))
        ).alias("skew"),
        (
            (r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m)
            / (m2 * m2)
            - 3.0
        ).alias("kurt_excess"),
    )


#: Shared oracle text for the batch and streaming moments contracts.
MOMENTS_ORACLE_SQL = """
    WITH g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value + 0.5) AS BIGINT)) AS BIGINT) AS s1,
               CAST(sum(CAST(floor(value + 0.5) AS BIGINT)
                        * CAST(floor(value + 0.5) AS BIGINT))
                    AS BIGINT) AS s2,
               CAST(sum(CAST(floor(value + 0.5) AS BIGINT)
                        * CAST(floor(value + 0.5) AS BIGINT)
                        * CAST(floor(value + 0.5) AS BIGINT))
                    AS BIGINT) AS s3,
               CAST(sum(CAST(floor(value + 0.5) AS BIGINT)
                        * CAST(floor(value + 0.5) AS BIGINT)
                        * CAST(floor(value + 0.5) AS BIGINT)
                        * CAST(floor(value + 0.5) AS BIGINT))
                    AS BIGINT) AS s4
        FROM events GROUP BY event_type
    ), r AS (
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
               CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
               CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
               CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
        FROM g
    ), c AS (
        SELECT event_type, n, m, r2, r3, r4, r2 - m * m AS m2 FROM r
    )
    SELECT event_type, n, m, m2,
           (r3 - 3 * m * r2 + 2 * m * m * m) / (m2 * sqrt(m2)) AS skew,
           (r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m)
               / (m2 * m2) - 3.0 AS kurt_excess
    FROM c
    """


@contract("q_skew_kurtosis", oracle=MOMENTS_ORACLE_SQL)
def q_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of event value per type, computed
    from exact integer power sums — the shape statistics missing from
    [[q_stats_moments]] (which stops at second moments and rounds).
    Skewness separates the long-tailed purchase distribution from
    symmetric noise; excess kurtosis flags heavy tails before they break
    mean-based monitors.

    Bit-exact with ZERO rounding: unit-quantized BIGINT power sums
    (order-free), raw moments are exact-int divides, and the
    central-moment chains are fixed-shape IEEE trees written with
    identical association on both engines. One map-side-combinable
    5-group aggregate at any scale; n·E[x⁴] stays inside BIGINT through
    ~1e7 rows per type at value ≤ 1000 (promote s4 to DECIMAL(38,0)
    past that — ANSI mode fails loudly, not silently).
    """
    ev = load_table(spark, sf_dir, "events")
    return moments_finish(type_moment_stats(ev))


# --------------------------------------------------------------------------
# ts-5 (ext) — gap-aware forward fill (last_value IGNORE NULLS)
# --------------------------------------------------------------------------


@contract(
    "q_forward_fill",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo,
               date_trunc('hour', max(ts)) AS hi
        FROM events WHERE event_type = 'purchase'
    ), hours AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    ), actual AS (
        SELECT date_trunc('hour', ts) AS hour,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ), spine AS (
        SELECT h.hour, coalesce(a.n, 0) AS n, a.cents
        FROM hours h LEFT JOIN actual a ON h.hour = a.hour
    )
    SELECT CAST(epoch_us(hour) // 1000000 AS BIGINT) AS hour_epoch,
           n,
           CAST(last_value(cents IGNORE NULLS)
                    OVER (ORDER BY hour
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW)
                AS BIGINT) AS filled_cents,
           (cents IS NULL) AS is_gap
    FROM spine
    ORDER BY hour_epoch
    """,
)
def q_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill over the gap-filled hourly purchase series: missing
    hours (inserted by the calendar spine, like [[q_gapfill_hourly]])
    carry the LAST OBSERVED hourly revenue via ``last_value … IGNORE
    NULLS`` — the null-skipping window-frame semantics this suite didn't
    exercise yet (coalesce-style gap fill substitutes a constant;
    forward fill propagates state down the frame). First-hour
    observations guarantee the fill is total on this fixture.

    Exact integers everywhere (cent-quantized BIGINT sums, counts, a
    boolean gap flag) — nothing to round. Scale: one hourly aggregate,
    a broadcast spine join, and a single unbounded-preceding window —
    the fill is one sequential pass per ordering key (here a global
    series; a per-entity fill would partition the window and
    parallelize).
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    actual = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count("*").cast("long").alias("n"),
        lng(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        ).alias("cents"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    spine = hours.join(actual, "hour", "left").select(
        "hour",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        "cents",
    )
    # global-window: hourly spine (O(hours), time-range-bounded)
    w = W.orderBy("hour").rowsBetween(W.unboundedPreceding, W.currentRow)
    return spine.select(
        F.unix_timestamp("hour").alias("hour_epoch"),
        "n",
        F.last("cents", ignorenulls=True).over(w).cast("long").alias(
            "filled_cents"
        ),
        F.col("cents").isNull().alias("is_gap"),
    ).orderBy("hour_epoch")


# --------------------------------------------------------------------------
# agg-ext — weighted median (orders-weighted customer balance) per nation
# --------------------------------------------------------------------------


#: Shared by the one-pass window plan and the two-pass histogram plan —
#: same semantics, so the same oracle proves them result-identical.
WEIGHTED_MEDIAN_ORACLE_SQL = """
    WITH wts AS (
        SELECT c.c_nationkey AS nk, c.c_custkey AS cust,
               CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
               CAST(count(o.o_orderkey) AS BIGINT) AS w
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    ), cum AS (
        SELECT nk, cust, cents, w,
               CAST(sum(w) OVER (PARTITION BY nk
                                 ORDER BY cents, cust) AS BIGINT) AS cw,
               CAST(sum(w) OVER (PARTITION BY nk) AS BIGINT) AS tw
        FROM wts
    ), med AS (
        SELECT nk, tw, cents,
               row_number() OVER (PARTITION BY nk
                                  ORDER BY cents, cust) AS rn
        FROM cum WHERE 2 * cw >= tw
        QUALIFY rn = 1
    )
    SELECT n.n_name AS n_name, m.tw AS total_weight,
           m.cents AS median_cents
    FROM med m JOIN nation n ON m.nk = n.n_nationkey
    """


@contract("q_weighted_median", oracle=WEIGHTED_MEDIAN_ORACLE_SQL)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-count-WEIGHTED median of customer account balance per
    nation: the smallest balance whose cumulative weight reaches half
    the nation's total order count — the robust center for populations
    where entities carry different mass ([[q_median_exact]] weights
    every customer equally). Pure integers (cent-quantized balances,
    BIGINT weights, deterministic (cents, custkey) order) — no rounding,
    no interpolation ambiguity.

    The plan is the standard distributed weighted-quantile shape: one
    per-customer rollup, one partitioned cumulative-sum window, and the
    2·cumw ≥ total threshold pick. At 100 TB the window sort is
    per-nation; a high-cardinality group key would swap in the
    two-pass histogram approach ([[q_decision_stump]]'s split search)
    to avoid the global sort per key.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    wts = (
        customer.join(
            orders, orders.o_custkey == customer.c_custkey
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("c_custkey").alias("cust"),
            F.floor(F.col("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .agg(F.count("o_orderkey").cast("long").alias("w"))
    )
    w_cum = W.partitionBy("nk").orderBy("cents", "cust")
    cum = wts.select(
        "nk",
        "cust",
        "cents",
        "w",
        F.sum("w").over(w_cum).cast("long").alias("cw"),
        F.sum("w").over(W.partitionBy("nk")).cast("long").alias("tw"),
    )
    med = (
        cum.filter(2 * F.col("cw") >= F.col("tw"))
        .withColumn("rn", F.row_number().over(w_cum))
        .filter(F.col("rn") == 1)
    )
    nation = load_table(spark, sf_dir, "nation")
    return med.join(
        # dim-sized: nation
        F.broadcast(nation), F.col("nk") == F.col("n_nationkey")
    ).select(
        "n_name",
        F.col("tw").alias("total_weight"),
        F.col("cents").alias("median_cents"),
    )


@contract("q_weighted_median_hist", oracle=WEIGHTED_MEDIAN_ORACLE_SQL)
def q_weighted_median_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME weighted median computed by the TWO-PASS HISTOGRAM scale
    path ([[q_weighted_median]]'s docstring names it; this contract
    makes it real): pass 1 histograms each nation's cent-quantized
    balances into 256 integer-bounded buckets and locates the bucket
    holding the weighted midpoint from the ≤256-row cumulative profile;
    pass 2 sorts ONLY that bucket. Result-identical to the one-pass
    window plan by construction — both run against the same oracle —
    while replacing the per-group full sort with two scans plus a
    bucket-sized sort, the shape that survives a 10⁹-row group.
    """
    from mapreduce_hw05_spark.operators.quantiles import (
        weighted_median_two_pass,
    )

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    wts = (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("c_custkey").alias("cust"),
            F.floor(F.col("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .agg(F.count("o_orderkey").cast("long").alias("w"))
    )
    med = weighted_median_two_pass(
        wts, key="nk", val="cents", weight="w", tiebreak="cust"
    )
    return med.join(
        # dim-sized: nation
        F.broadcast(nation), F.col("nk") == F.col("n_nationkey")
    ).select(
        "n_name",
        "total_weight",
        F.col("median_val").alias("median_cents"),
    )


@contract(
    "q_weighted_percentiles_hist",
    oracle="""
    WITH wts AS (
        SELECT c.c_nationkey AS nk, c.c_custkey AS cust,
               CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS cents,
               CAST(count(o.o_orderkey) AS BIGINT) AS w
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
    ), cum AS (
        SELECT nk, cust, cents,
               CAST(sum(w) OVER (PARTITION BY nk
                                 ORDER BY cents, cust) AS BIGINT) AS cw,
               CAST(sum(w) OVER (PARTITION BY nk) AS BIGINT) AS tw
        FROM wts
    ), q AS (
        SELECT unnest(['p10', 'p50', 'p90']) AS quantile,
               unnest([1, 5, 9]) AS qn
    ), pick AS (
        SELECT c.nk, q.quantile, c.tw, c.cents,
               row_number() OVER (PARTITION BY c.nk, q.quantile
                                  ORDER BY c.cents, c.cust) AS rn
        FROM cum c CROSS JOIN q
        WHERE c.cw * 10 >= q.qn * c.tw
        QUALIFY rn = 1
    )
    SELECT n.n_name AS n_name, p.quantile,
           p.tw AS total_weight, p.cents AS quantile_cents
    FROM pick p JOIN nation n ON p.nk = n.n_nationkey
    """,
)
def q_weighted_percentiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-weighted p10/p50/p90 of customer balance per nation via the
    MULTI-quantile two-pass histogram: ONE shared profile pass locates
    all three target buckets, pass 2 sorts only those buckets — adding
    a quantile costs a bucket-sized sort, not a scan. The oracle
    computes the identical pure-integer definition (smallest value with
    cum·10 ≥ qn·total, (cents, custkey) order) through the one-pass
    window, so this contract proves the scale path result-identical to
    the textbook plan across three probabilities at once.

    All integers; the quantile probabilities live as integer num/den
    pairs so no float ever multiplies a weight. Generalizes
    [[q_weighted_median_hist]].
    """
    from mapreduce_hw05_spark.operators.quantiles import (
        weighted_quantiles_two_pass,
    )

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    wts = (
        customer.join(orders, orders.o_custkey == customer.c_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("c_custkey").alias("cust"),
            F.floor(F.col("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        .agg(F.count("o_orderkey").cast("long").alias("w"))
    )
    out = weighted_quantiles_two_pass(
        wts, key="nk", val="cents", weight="w", tiebreak="cust"
    )
    return out.join(
        # dim-sized: nation
        F.broadcast(nation), F.col("nk") == F.col("n_nationkey")
    ).select(
        "n_name",
        "quantile",
        "total_weight",
        F.col("quantile_val").alias("quantile_cents"),
    )


# --------------------------------------------------------------------------
# j-9c (ext) — NEAREST as-of join (closest click in either direction)
# --------------------------------------------------------------------------


@contract(
    "q_asof_nearest",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ), c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), x AS (
        SELECT p.event_id, p.user_id, p.ts,
               (SELECT max(c.ts) FROM c
                WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS prev_ts,
               (SELECT min(c.ts) FROM c
                WHERE c.user_id = p.user_id AND c.ts > p.ts) AS next_ts
        FROM p
    )
    SELECT event_id, user_id,
           CAST(epoch_us(ts) AS BIGINT) AS purchase_ts_us,
           CAST(CASE
               WHEN prev_ts IS NULL THEN epoch_us(next_ts)
               WHEN next_ts IS NULL THEN epoch_us(prev_ts)
               WHEN epoch_us(ts) - epoch_us(prev_ts)
                    <= epoch_us(next_ts) - epoch_us(ts)
                   THEN epoch_us(prev_ts)
               ELSE epoch_us(next_ts)
           END AS BIGINT) AS nearest_click_ts_us
    FROM x
    """,
)
def q_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase joined to the same user's NEAREST click in either
    direction (ties to the earlier click) — the "closest", not "latest
    prior", as-of variant that quote/trade matching and sensor
    alignment want; [[q_asof_join]] is the backward-only sibling.

    The engine reads BOTH directions from one union + one (ts, side)
    sort per user — ``last ignorenulls`` over the preceding frame and
    ``first ignorenulls`` over the strictly-following frame — then
    picks the winner with exact integer microsecond gaps; the oracle
    states the same definition as two correlated extrema. One key
    shuffle total at any scale, same envelope as a sort-merge join.
    """
    from mapreduce_hw05_spark.operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join_nearest(
        purchases, clicks, on=["user_id"], ts_col="ts", carry_cols=[]
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.unix_micros("ts_near").alias("nearest_click_ts_us"),
    )
