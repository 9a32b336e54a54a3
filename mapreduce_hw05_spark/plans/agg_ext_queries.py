"""Aggregation / join extensions: grouping sets, FILTER-clause aggregates,
ordered string_agg, min_by/max_by, statistical moments, null-safe join,
deterministic hash sampling, rank-distribution windows, and correctness
contracts for the skew utilities in :mod:`operators.skew`.

Everything here is a single Catalyst aggregate or window over a pruned
scan — no Python in the hot path; the skew contracts prove that salting
changes ONLY the shuffle distribution, never the result set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_hw05_spark.operators.bloom import bloom_semi_join
from mapreduce_hw05_spark.operators.skew import salted_join, two_phase_agg
from mapreduce_hw05_spark.plans.common import lng, money, ratio
from mapreduce_hw05_spark.plans.registry import contract
from mapreduce_hw05_spark.sources import load_table

# --------------------------------------------------------------------------
# agg-11 (ext) — GROUPING SETS (arbitrary set list, not rollup/cube)
# --------------------------------------------------------------------------


@contract(
    "q_grouping_sets",
    oracle="""
    WITH src AS (
        SELECT n_name, c_mktsegment, c_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name, c_mktsegment,
           CAST(grouping(n_name) * 2 + grouping(c_mktsegment) AS BIGINT) AS gid,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS sum_bal
    FROM src
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer counts by nation, by segment, and in total — an explicit
    GROUPING SETS list (not derivable from rollup/cube), exercised via
    the SQL entry point. One Expand + one aggregate, not three scans."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    src = c.join(n, c.c_nationkey == n.n_nationkey).select(
        "n_name", "c_mktsegment", "c_acctbal"
    )
    src.createOrReplaceTempView("gs_src")
    return spark.sql(
        """
        SELECT n_name, c_mktsegment,
               CAST(grouping(n_name) * 2 + grouping(c_mktsegment) AS BIGINT) AS gid,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS sum_bal
        FROM gs_src
        GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
        """
    )


# --------------------------------------------------------------------------
# agg-12 (ext) — conditional aggregation (FILTER clause / count_if)
# --------------------------------------------------------------------------


@contract(
    "q_conditional_agg",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(count_if(c_acctbal > 0) AS BIGINT) AS n_positive,
           round(sum(c_acctbal) FILTER (c_acctbal > 0), 2) AS sum_positive,
           round(avg(c_acctbal) FILTER (c_acctbal < 0), 6) AS avg_negative
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per segment: conditional counts/sums/avgs in ONE aggregate pass —
    the FILTER-clause family (count_if + sum/avg over when()), never a
    self-join per condition."""
    c = load_table(spark, sf_dir, "customer")
    pos = F.when(F.col("c_acctbal") > 0, F.col("c_acctbal"))
    neg = F.when(F.col("c_acctbal") < 0, F.col("c_acctbal"))
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        lng(F.count_if(F.col("c_acctbal") > 0)).alias("n_positive"),
        money(F.sum(pos)).alias("sum_positive"),
        ratio(F.avg(neg)).alias("avg_negative"),
    )


# --------------------------------------------------------------------------
# agg-13 (ext) — ordered string aggregation (deterministic collect)
# --------------------------------------------------------------------------


@contract(
    "q_string_agg",
    oracle="""
    SELECT r_name,
           CAST(count(*) AS BIGINT) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nation_list
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per region: its nations as one sorted comma-joined string.
    collect_list is order-nondeterministic under parallel merge, so the
    list is array_sort-ed before joining — the only way a collected
    string is reproducible across partitionings (and engines)."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        # dim-sized: region
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            lng(F.count("*")).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias(
                "nation_list"
            ),
        )
    )


# --------------------------------------------------------------------------
# agg-14 (ext) — min_by / max_by (argmin/argmax accessory aggregates)
# --------------------------------------------------------------------------


@contract(
    "q_min_max_by",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           arg_max(o_totalprice, o_orderkey) AS price_of_last_key,
           arg_min(o_totalprice, o_orderkey) AS price_of_first_key,
           epoch_us(arg_max(o_orderdate, o_orderkey)) AS date_us_of_last_key
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per status: accessory-column argmin/argmax. All three order by the
    unique o_orderkey, so they are tie-free by construction — argmax over
    a NON-unique ordering column (e.g. a day-granular date) is
    engine-nondeterministic and must not sit in a checked contract."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.max_by("o_totalprice", "o_orderkey").alias("price_of_last_key"),
        F.min_by("o_totalprice", "o_orderkey").alias("price_of_first_key"),
        F.unix_micros(
            F.max_by("o_orderdate", "o_orderkey").cast("timestamp")
        ).alias("date_us_of_last_key"),
    )


# --------------------------------------------------------------------------
# agg-15 (ext) — statistical moments: stddev/variance/corr/covar
# --------------------------------------------------------------------------


@contract(
    "q_stats_moments",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per returnflag — all four are single-pass
    mergeable aggregates (sum/sumsq/cross-product partials), so they
    partial-aggregate map-side like any sum. Rounded because moment sums
    are summation-order-dependent in the last ulps."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        ratio(F.stddev_samp("l_quantity")).alias("sd_qty"),
        ratio(F.var_samp("l_quantity")).alias("var_qty"),
        ratio(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        money(F.covar_samp("l_quantity", "l_extendedprice")).alias("covar_qty_price"),
    )


# --------------------------------------------------------------------------
# j-11 (ext) — null-safe equality join (<=> / IS NOT DISTINCT FROM)
# --------------------------------------------------------------------------


@contract(
    "q_null_safe_join",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers
    FROM (SELECT nullif(c_nationkey, 3) AS k FROM customer) c
    JOIN (SELECT nullif(n_nationkey, 7) AS k, n_name FROM nation) n
      ON (c.k IS NOT DISTINCT FROM n.k)
    GROUP BY n_name
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join: nulls manufactured on BOTH sides with
    different nullif pivots, so the null↔null matches (nation-3 customers
    landing on NATION_7) are produced ONLY by <=> semantics — a plain
    equi-join would drop them. Null-safe equality stays hash-joinable
    (null is an ordinary key value), unlike general non-equi predicates.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck")
    )
    n = load_table(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey"), F.lit(7)).alias("nk"), "n_name"
    )
    return (
        # dim-sized: nation
        c.join(F.broadcast(n), F.col("ck").eqNullSafe(F.col("nk")))
        .groupBy("n_name")
        .agg(lng(F.count("*")).alias("n_customers"))
    )


# --------------------------------------------------------------------------
# src-5 (ext) — deterministic hash sampling (reproducible TABLESAMPLE)
# --------------------------------------------------------------------------


@contract(
    "q_sample_hash",
    oracle="""
    SELECT count(*) AS n_sampled,
           round(sum(o_totalprice), 2) AS sum_price,
           min(o_orderkey) AS min_key,
           max(o_orderkey) AS max_key
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A deterministic ~1/8 sample of orders: rows whose key's md5 starts
    with '0' or '1'. Unlike TABLESAMPLE/rand(), a content-hash sample is
    reproducible across engines, retries, and partitionings — the only
    sampling that can sit inside a correctness-checked pipeline (and the
    standard trick for holdout splits in training-data pipelines)."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    return o.filter(bucket.isin("0", "1")).agg(
        F.count("*").alias("n_sampled"),
        money(F.sum("o_totalprice")).alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )


# --------------------------------------------------------------------------
# w-5 (ext) — rank-distribution windows: percent_rank / cume_dist
# --------------------------------------------------------------------------


@contract(
    "q_rank_distribution",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative price position of every order within its status:
    percent_rank = (rank-1)/(n-1) and cume_dist = |rows ≤ current|/n,
    identical definitions on both engines; ties broken by the unique
    orderkey so ranks are deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        ratio(F.percent_rank().over(w)).alias("pct_rank"),
        ratio(F.cume_dist().over(w)).alias("cum_dist"),
    )


# --------------------------------------------------------------------------
# skew-1 / skew-2 — correctness contracts for the skew utilities
# --------------------------------------------------------------------------


@contract(
    "q_salted_join_contract",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def q_salted_join_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer executed through operators.skew.salted_join with
    16 salt buckets, checked against the PLAIN join oracle — proof that
    salting redistributes the shuffle without changing the result set
    (the property that makes it safe to deploy on a skewed key)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, "custkey", salt_buckets=16)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        money(F.sum("o_totalprice")).alias("sum_price"),
    )


@contract(
    "q_two_phase_agg_contract",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity), 2) AS sum_l_quantity,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_two_phase_agg_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation vs the plain GROUP BY oracle: the
    (key, salt) pre-aggregate followed by the key final-aggregate must be
    value-identical to the direct aggregate (rounded — the two summation
    orders differ in the last ulp)."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = two_phase_agg(li, "l_returnflag", "l_quantity", salt_buckets=16)
    return agg.select(
        "l_returnflag", money(F.col("sum_l_quantity")).alias("sum_l_quantity"), "n_rows"
    )


# --------------------------------------------------------------------------
# Bloom-filter semi-join — shuffle pre-filter correctness contract
# --------------------------------------------------------------------------


@contract(
    "q_bloom_join_contract",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 45)
    GROUP BY l_returnflag
    """,
)
def q_bloom_join_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem semi-joined to large parts through
    :func:`operators.bloom.bloom_semi_join` (64 Kbit bitmap, 3 hashes),
    checked against the PLAIN ``IN``-subquery oracle — proof that the
    Bloom pre-filter + exact-join composition never changes the result,
    the property that makes it safe to deploy as a shuffle reducer when
    the build side outgrows the broadcast threshold."""
    li = load_table(spark, sf_dir, "lineitem")
    big_parts = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 45)
    kept = bloom_semi_join(
        li.withColumnRenamed("l_partkey", "partkey"),
        big_parts.select(F.col("p_partkey").alias("partkey")),
        "partkey",
    )
    return kept.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        money(F.sum("l_extendedprice")).alias("sum_price"),
    )


# --------------------------------------------------------------------------
# Join strategy hints — physical-plan control, result-invariance contract
# --------------------------------------------------------------------------


@contract(
    "q_join_hints_contract",
    oracle="""
    SELECT n_name,
           count(*) AS n_suppliers,
           round(sum(s_acctbal), 2) AS sum_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_hints_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same supplier⋈nation aggregate executed through an explicit
    MERGE (sort-merge) join hint, checked against the plain-join oracle:
    strategy hints steer the physical plan (engine test asserts
    SortMergeJoin appears where the default would broadcast) without
    touching results — the knob you reach for when a 'small' dim turns
    out to be 100 GB at production scale."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").hint("merge")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            money(F.sum("s_acctbal")).alias("sum_bal"),
        )
    )


@contract(
    "q_approx_quantile",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50_exact,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90_exact,
           round(quantile_cont(o_totalprice, 0.99), 2) AS p99_exact,
           count(*) AS n_orders,
           TRUE AS approx_within_2pct
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def q_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 of order totals per status via
    ``percentile_approx`` (Greenwald–Khanna sketch, accuracy 1/10000) —
    the single-pass, mergeable-sketch path for quantiles at 100 TB where
    exact percentiles would need a full sort.

    The ±ε sketch values are not cross-engine hashable, so the contract
    emits the EXACT percentiles (which DuckDB's quantile_cont reproduces)
    plus an engine-computed boolean bounding each GK estimate within 2%
    relative of its exact counterpart; the oracle asserts TRUE. A broken
    sketch, a broken exact-percentile path, or drifted interpolation
    semantics each fail the hash.
    """
    o = load_table(spark, sf_dir, "orders")
    q = F.percentile_approx("o_totalprice", F.array(
        F.lit(0.5), F.lit(0.9), F.lit(0.99)), F.lit(10000))
    e = F.percentile("o_totalprice", F.array(
        F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    agg = o.groupBy("o_orderstatus").agg(
        q.alias("qa"), e.alias("qe"), F.count("*").alias("n_orders")
    )

    def close(i: int) -> F.Column:
        a, x = F.element_at("qa", i), F.element_at("qe", i)
        return F.abs(a - x) <= F.abs(x) * F.lit(0.02)

    return agg.select(
        "o_orderstatus",
        F.round(F.element_at("qe", 1), 2).alias("p50_exact"),
        F.round(F.element_at("qe", 2), 2).alias("p90_exact"),
        F.round(F.element_at("qe", 3), 2).alias("p99_exact"),
        "n_orders",
        (close(1) & close(2) & close(3)).alias("approx_within_2pct"),
    )


# --------------------------------------------------------------------------
# agg-12 (ext) — exact median (percentile_cont 0.5)
# --------------------------------------------------------------------------


@contract(
    "q_median_exact",
    oracle="""
    SELECT l_returnflag,
           round(median(l_quantity), 6) AS med_qty,
           round(median(l_extendedprice), 6) AS med_price,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_median_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group medians over lineitem (percentile_cont semantics:
    linear interpolation between the two middle values on even counts).

    Exact percentile is a full-sort-per-group aggregate — fine per group
    at any scale since groups are few; the single-pass mergeable-sketch
    alternative for 100 TB interactive use is q_approx_quantile.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        ratio(F.median("l_quantity")).alias("med_qty"),
        ratio(F.median("l_extendedprice")).alias("med_price"),
        F.count("*").alias("n"),
    )


# --------------------------------------------------------------------------
# agg-13 (ext) — winsorized mean (robust stats: clamp at p05/p95)
# --------------------------------------------------------------------------


@contract(
    "q_winsorized_mean",
    oracle="""
    WITH q AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(avg(e.value), 6) AS avg_raw,
           round(avg(least(greatest(e.value, q.p05), q.p95)), 6) AS avg_winsor,
           CAST(sum(CASE WHEN e.value < q.p05 OR e.value > q.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of events.value per type: clamp below-p05 /
    above-p95 values to the exact percentile bounds, then average —
    the outlier-robust aggregate for quality-score distributions.

    Two passes over the fact: one exact-percentile agg (few groups →
    tiny result, broadcast back), one clamp+avg probe. At 100 TB the
    first pass drops to percentile_approx with no shape change.
    """
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    out_of_range = (F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95"))
    return (
        # label-sized: one row per event_type
        ev.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            ratio(F.avg("value")).alias("avg_raw"),
            ratio(F.avg(clamped)).alias("avg_winsor"),
            F.sum(out_of_range.cast("long")).alias("n_clamped"),
        )
    )


# --------------------------------------------------------------------------
# agg-14 (ext) — mergeable HLL sketch rollup (pre-aggregated distinct)
# --------------------------------------------------------------------------


@contract(
    "q_hll_rollup",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_users_exact,
           count(*) AS n_events,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           TRUE AS sketch_within_2pct
    FROM events
    GROUP BY event_type
    """,
)
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL rollup: per (event_type, day) user sketches built
    once, then union-merged per event_type and estimated — the
    pre-aggregation pattern that makes distinct counting reaggregatable
    at 100 TB (daily sketch partials persist; any date-range distinct is
    a cheap union of sketches, never a re-scan of raw events).

    Hashable contract shape: the merged-sketch estimate itself is
    engine-specific, so the query emits the EXACT distinct count plus an
    engine-computed boolean bounding the sketch estimate within 2% of it
    (lgK=14 ⇒ ~0.8% RSE); the oracle emits the exact count and TRUE.
    A broken sketch build, merge, or estimate flips the boolean.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk"),
        F.count("*").alias("n"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
        F.sum("n").alias("n_events"),
        F.count("*").alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    within = (
        F.abs(F.col("approx_users") - F.col("n_users_exact"))
        <= F.col("n_users_exact") * F.lit(0.02)
    )
    return merged.join(exact, "event_type").select(
        "event_type",
        "n_users_exact",
        "n_events",
        "n_days",
        within.alias("sketch_within_2pct"),
    )


# --------------------------------------------------------------------------
# agg-15 (ext) — ratio-to-report: nation revenue share within region
# --------------------------------------------------------------------------


@contract(
    "q_percent_of_total",
    oracle="""
    WITH nat AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               sum(o.o_totalprice) AS rev
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation,
           round(rev, 2) AS rev,
           round(rev / sum(rev) OVER (PARTITION BY region), 6)
               AS share_in_region,
           round(rev / sum(rev) OVER (), 6) AS share_global
    FROM nat
    """,
)
def q_percent_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's revenue share of its region and of
    the global total — aggregate once at fact scale, then window over
    the (≤ nations-sized) aggregate, so the unpartitioned total-sum
    window is O(nations), never O(fact).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    nat = (
        o.join(c, o.o_custkey == c.c_custkey)
        # dim-sized: nation
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        # dim-sized: region
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum("o_totalprice").alias("rev"))
    )
    w_region = W.partitionBy("region")
    w_all = W.partitionBy()
    return nat.select(
        "region",
        "nation",
        money(F.col("rev")).alias("rev"),
        ratio(F.col("rev") / F.sum("rev").over(w_region)).alias("share_in_region"),
        ratio(F.col("rev") / F.sum("rev").over(w_all)).alias("share_global"),
    )


# --------------------------------------------------------------------------
# agg-16 (ext) — conditional distinct: distinct users per behavior slice
# --------------------------------------------------------------------------


@contract(
    "q_conditional_distinct",
    oracle="""
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
           CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) AS BIGINT) AS buyers,
           CAST(count(DISTINCT CASE WHEN event_type = 'error'
                                    THEN user_id END) AS BIGINT)
               AS error_users,
           CAST(count(DISTINCT CASE WHEN value > 90
                                    THEN user_id END) AS BIGINT)
               AS high_value_users
    FROM events
    GROUP BY 1
    """,
)
def q_conditional_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day distinct users overall and within behavior slices —
    count(DISTINCT CASE WHEN …) in one aggregation pass.

    Catalyst expands the multi-distinct aggregate with a single `expand`
    + two-level plan; the NULL branch of each CASE is skipped by
    count(DISTINCT), so no per-slice re-scan of the fact.
    """
    ev = load_table(spark, sf_dir, "events")
    buyer = F.when(F.col("event_type") == "purchase", F.col("user_id"))
    errs = F.when(F.col("event_type") == "error", F.col("user_id"))
    high = F.when(F.col("value") > 90, F.col("user_id"))
    return ev.groupBy(
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.count_distinct("user_id").alias("dau"),
        F.count_distinct(buyer).alias("buyers"),
        F.count_distinct(errs).alias("error_users"),
        F.count_distinct(high).alias("high_value_users"),
    )


# --------------------------------------------------------------------------
# agg-16 (ext) — mergeable KLL-style quantile sketch rollup
# --------------------------------------------------------------------------


@contract(
    "q_kll_rollup",
    oracle="""
    SELECT event_type,
           count(value) AS n_rows,
           round(quantile_cont(value, 0.5), 6) AS p50_exact,
           round(quantile_cont(value, 0.9), 6) AS p90_exact,
           round(quantile_cont(value, 0.99), 6) AS p99_exact,
           TRUE AS sketch_rank_within_2pct
    FROM events
    GROUP BY event_type
    """,
)
def q_kll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-sketch rollup (operators.quantile_sketch):
    per-partition KLL-style partials → associative blob merge per
    event_type → rank-error-bounded p50/p90/p99 — the reaggregatable
    quantile pattern next to the HLL distinct rollup; at 100 TB the
    daily partials persist and any date range re-rolls without touching
    raw rows.

    Hashable shape (same pattern as q_approx_quantile / q_hll_rollup):
    exact percentiles plus the sketch's row count (which must equal the
    oracle's count(value) — proving no partial was lost in the merge)
    plus an engine-side boolean. The boolean bounds RANK error — the
    guarantee a quantile sketch actually makes: the true rank fraction
    of each estimate must lie within 2% of its target quantile (value
    error is unbounded in a heavy tail where a 1% rank slip moves the
    p99 value by ~10%). The rank check is one broadcast join of the
    5-row estimate table back over events plus one conditional-avg pass.
    """
    from mapreduce_hw05_spark.operators.quantile_sketch import (
        quantile_sketch_rollup,
    )

    ev = load_table(spark, sf_dir, "events")
    sk = quantile_sketch_rollup(
        ev, ["event_type"], "value", [0.5, 0.9, 0.99]
    ).withColumnsRenamed({"q50": "s50", "q90": "s90", "q99": "s99"})
    exact = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("e50"),
        F.percentile("value", F.lit(0.9)).alias("e90"),
        F.percentile("value", F.lit(0.99)).alias("e99"),
    )
    # True rank fraction of each sketch estimate, computed distributed:
    # frac_lt <= q+tol and frac_le >= q-tol ⇔ the estimate sits within
    # ±tol rank of the target quantile (the two-sided form is tie-safe).
    # label-sized: one row per event_type
    probes = ev.join(F.broadcast(sk), "event_type")
    checks = []
    for q, col in [(0.5, "s50"), (0.9, "s90"), (0.99, "s99")]:
        lt = F.avg((F.col("value") < F.col(col)).cast("double"))
        le = F.avg((F.col("value") <= F.col(col)).cast("double"))
        checks.append(
            ((lt <= F.lit(q + 0.02)) & (le >= F.lit(q - 0.02))).alias(
                f"ok_{col}"
            )
        )
    ranks = probes.groupBy("event_type").agg(*checks)
    return (
        sk.join(exact, "event_type")
        .join(ranks, "event_type")
        .select(
            "event_type",
            "n_rows",
            F.round("e50", 6).alias("p50_exact"),
            F.round("e90", 6).alias("p90_exact"),
            F.round("e99", 6).alias("p99_exact"),
            (F.col("ok_s50") & F.col("ok_s90") & F.col("ok_s99")).alias(
                "sketch_rank_within_2pct"
            ),
        )
    )


# --------------------------------------------------------------------------
# agg-17 (ext) — theta-sketch set operations (intersectable distinct)
# --------------------------------------------------------------------------


@contract(
    "q_theta_sketch_ops",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT (SELECT count(*) FROM c) AS n_click_exact,
           (SELECT count(*) FROM p) AS n_purchase_exact,
           (SELECT count(*) FROM (SELECT user_id FROM c
                                  UNION SELECT user_id FROM p)) AS n_union_exact,
           (SELECT count(*) FROM c WHERE user_id IN (SELECT user_id FROM p))
               AS n_intersect_exact,
           (SELECT count(*) FROM c WHERE user_id NOT IN (SELECT user_id FROM p))
               AS n_diff_exact,
           TRUE AS sketch_within_5pct
    """,
)
def q_theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV sketch SET ALGEBRA (operators.theta_sketch): distinct
    clickers, purchasers, their union, intersection, and difference —
    the "users who did A AND B" question HLL cannot answer (HLL unions
    but never intersects). Per-type sketches are built from bounded
    per-partition partials (only blobs shuffle, the same topology as the
    HLL/KLL rollups); set ops run on the two retained hash sets under
    the common θ.

    Hashable shape: the oracle computes all five EXACT cardinalities
    relationally; the engine emits them plus a boolean bounding every
    sketch estimate within 5% of its exact counterpart (at fixture
    cardinality the sketches are below k and therefore exact — the 5%
    bound is exercised at scale by the synthetic invariant test).
    """
    from mapreduce_hw05_spark.operators.sketches import (
        merge_by_key,
        sketch_partials,
    )
    from mapreduce_hw05_spark.operators.theta_sketch import ThetaSketch

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    merged = merge_by_key(
        sketch_partials(ev, ["event_type"], "user_id", ThetaSketch),
        ["event_type"], ThetaSketch,
    )
    blobs = {
        r["event_type"]: ThetaSketch.deserialize(bytes(r["sketch"]))
        for r in merged.collect()  # bounded: one sketch row per event_type
    }
    clicks, purchases = blobs["click"], blobs["purchase"]
    est = {
        "click": clicks.estimate(),
        "purchase": purchases.estimate(),
        "union": clicks.union(purchases).estimate(),
        "intersect": clicks.intersect(purchases).estimate(),
        "diff": clicks.difference(purchases).estimate(),
    }
    exact_row = ev.agg(
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("n_click"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_purchase"),
        F.countDistinct("user_id").alias("n_union"),
    ).first()
    both = (
        ev.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .filter(F.col("nt") == 2)
        .count()
    )
    exact = {
        "click": exact_row["n_click"],
        "purchase": exact_row["n_purchase"],
        "union": exact_row["n_union"],
        "intersect": both,
        "diff": exact_row["n_click"] - both,
    }
    ok = all(
        abs(est[key] - exact[key]) <= max(exact[key] * 0.05, 1e-9)
        for key in exact
    )
    return spark.createDataFrame(
        [
            (
                exact["click"],
                exact["purchase"],
                exact["union"],
                exact["intersect"],
                exact["diff"],
                ok,
            )
        ],
        "n_click_exact long, n_purchase_exact long, n_union_exact long, "
        "n_intersect_exact long, n_diff_exact long, sketch_within_5pct boolean",
    )


# --------------------------------------------------------------------------
# agg-18 (ext) — count-min sketch point-frequency rollup
# --------------------------------------------------------------------------


@contract(
    "q_count_min",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           TRUE AS cms_equals_exact
    FROM events
    GROUP BY event_type
    """,
)
def q_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency rollup (operators.count_min):
    per-event-type occurrence counts estimated from TWO sketches built
    over disjoint corpus shards (events split by event_id parity) and
    union-merged by elementwise addition — the cross-shard
    reaggregation a 100-TB ingest does daily (persist per-shard
    sketches, answer "how often did X occur" over any shard union
    without re-reading rows).

    Hashable shape (the space-saving exactness-regime discipline): with
    5 distinct event types against width 1024, every item is
    collision-free and the estimates are EXACT, so the contract emits
    them as the count column hash-checked against plain SQL COUNT(*) —
    plus an engine-side boolean re-asserting estimate == exact per key.
    The collision regime's one-sided εN bound (never undercounts,
    overcounts ≤ e/w of the stream w.h.p.) is engine-tested on crafted
    Zipf data (tests/test_engine_ops.py).
    """
    import numpy as np

    from mapreduce_hw05_spark.operators.count_min import CountMinSketch
    from mapreduce_hw05_spark.operators.sketches import fold, sketch_partials

    ev = load_table(spark, sf_dir, "events")
    shards = [ev.filter(F.col("event_id") % 2 == r) for r in (0, 1)]
    blobs = [
        rec["sketch"]
        for shard in shards
        for rec in sketch_partials(
            shard, [], "event_type", CountMinSketch
        ).collect()  # bounded: one d×w sketch row per partition
    ]
    sk = fold(blobs, CountMinSketch)  # the shards' sketches merge by sum
    exact = ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()  # driver-sized: one row per event_type
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
# stat-ext — equi-depth histogram of order totals (optimizer statistics)
# --------------------------------------------------------------------------


@contract(
    "q_equi_depth_histogram",
    oracle="""
    WITH t AS (
        SELECT o_orderkey,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               ntile(16) OVER (ORDER BY
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT),
                   o_orderkey) AS bucket
        FROM orders
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS lo_cents,
           max(cents) AS hi_cents,
           CAST(count(DISTINCT cents) AS BIGINT) AS n_distinct
    FROM t GROUP BY bucket ORDER BY bucket
    """,
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bucket EQUI-DEPTH histogram of order totals — the
    cost-based-optimizer statistic (every warehouse's ANALYZE builds
    these): equal ROW counts per bucket, so selectivity estimates stay
    accurate under skew where the equi-WIDTH [[q_histogram_totalprice]]
    collapses into one hot bar. Emits per-bucket row count, exact
    [lo, hi] boundaries, and the distinct-value count (the other half
    of a CBO's selectivity model).

    Deterministic ntile (cents, orderkey tie-break), exact integers
    only. Scale (r8): the bucket cut is
    :func:`operators.ranks.distributed_ntile` — range shuffle +
    per-partition offsets, exact SQL ntile semantics, no
    single-partition sort — so the ANALYZE-style scan stays
    partition-parallel at fact-table scale (the sketch alternative,
    [[q_weighted_percentiles_hist]]'s two-pass histogram, trades
    exactness for one fewer shuffle).
    """
    from mapreduce_hw05_spark.operators.ranks import distributed_ntile

    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    t = distributed_ntile(
        orders.select(cents.alias("cents"), "o_orderkey"),
        16,
        [F.col("cents").asc(), F.col("o_orderkey").asc()],
    )
    return (
        t.groupBy("bucket")
        .agg(
            lng(F.count("*")).alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
            lng(F.countDistinct("cents")).alias("n_distinct"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# skew-ext — join-key skew advisor (who needs salting?)
# --------------------------------------------------------------------------


@contract(
    "q_join_skew_report",
    oracle="""
    WITH per_key AS (
        SELECT 'lineitem.l_partkey' AS join_key, l_partkey AS k,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 2
        UNION ALL
        SELECT 'lineitem.l_orderkey', l_orderkey, CAST(count(*) AS BIGINT)
        FROM lineitem GROUP BY 2
        UNION ALL
        SELECT 'orders.o_custkey', o_custkey, CAST(count(*) AS BIGINT)
        FROM orders GROUP BY 2
        UNION ALL
        SELECT 'events.user_id', user_id, CAST(count(*) AS BIGINT)
        FROM events GROUP BY 2
    )
    SELECT join_key,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(c) AS BIGINT) AS n_rows,
           max(c) AS max_rows,
           CAST(max(c) * count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT)
               AS skew_ratio
    FROM per_key GROUP BY join_key ORDER BY join_key
    """,
)
def q_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW ADVISOR over the star schema's four busiest join
    columns: per key column, the key cardinality, total rows, the
    hottest key's row count, and skew_ratio = max/mean — the number
    that decides whether a shuffle join needs the salting utilities
    ([[q_salted_join_contract]]) or AQE skew splitting (ratio ≈ 1 =
    uniform; ≫ 1 = one reducer drowns). Running this BEFORE a big join
    is how a pipeline picks its strategy at 100 TB instead of finding
    out from a straggler.

    Exact integers; the ratio is (max·n_keys)/Σc — one exact-int
    divide. Each per-key profile is a map-side-combinable aggregate;
    the four profiles share nothing and union into one DAG.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")

    def profile(name, df, col):
        per = df.groupBy(F.col(col).alias("k")).agg(
            F.count("*").cast("long").alias("c")
        )
        return per.agg(
            F.lit(name).alias("join_key"),
            lng(F.count("*")).alias("n_keys"),
            lng(F.sum("c")).alias("n_rows"),
            F.max("c").alias("max_rows"),
            (
                (F.max("c") * F.count("*")).cast("double")
                / F.sum("c").cast("double")
            ).alias("skew_ratio"),
        )

    out = (
        profile("lineitem.l_partkey", li, "l_partkey")
        .unionAll(profile("lineitem.l_orderkey", li, "l_orderkey"))
        .unionAll(profile("orders.o_custkey", orders, "o_custkey"))
        .unionAll(profile("events.user_id", ev, "user_id"))
    )
    return out.orderBy("join_key")
