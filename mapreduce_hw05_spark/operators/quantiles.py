"""Distributed exact weighted quantiles — the two-pass histogram path.

The single-window weighted median (sort every group, cumulative-sum,
threshold pick) is exact but pays one full sort per group — fine when
groups are nation-sized, wrong when one group holds 10^9 rows. The
standard scale fix is the two-pass histogram: pass 1 histograms each
group into a fixed number of integer-bounded buckets and finds the
bucket containing the weighted midpoint from the ≤``buckets``-row
cumulative profile; pass 2 sorts ONLY that bucket's rows. Total work is
two scans plus a bucket-sized sort — the same shape distributed
engines use for exact percentile pushdown (and the approach the
decision-stump split search already uses for gain argmax).

Everything stays in exact integer arithmetic (bucket ids are DECIMAL
integer divides of BIGINT-quantized values — exact over the whole int64
domain), so the result is bit-identical to the one-pass window plan —
proven by the contract that runs both against the same oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def weighted_median_two_pass(
    wts: DataFrame,
    key: str,
    val: str,
    weight: str,
    tiebreak: str,
    buckets: int = 256,
) -> DataFrame:
    """Exact weighted median per ``key`` → (key, total_weight,
    median_val): the smallest ``val`` whose cumulative ``weight`` (in
    (val, tiebreak) order) reaches half the group total — identical
    semantics to the single-window plan. It is
    :func:`weighted_quantiles_two_pass` at the one probability 1/2.
    """
    return weighted_quantiles_two_pass(
        wts, key, val, weight, tiebreak, (("p50", 1, 2),), buckets
    ).select(
        key, "total_weight", F.col("quantile_val").alias("median_val")
    )


def weighted_quantiles_two_pass(
    wts: DataFrame,
    key: str,
    val: str,
    weight: str,
    tiebreak: str,
    quantiles: tuple[tuple[str, int, int], ...] = (
        ("p10", 1, 10),
        ("p50", 5, 10),
        ("p90", 9, 10),
    ),
    buckets: int = 256,
) -> DataFrame:
    """Exact weighted quantiles per ``key`` for SEVERAL probabilities in
    ONE histogram pass → (key, quantile, total_weight, value): for each
    (name, num, den), the smallest ``val`` whose cumulative weight w
    satisfies w·den ≥ num·total (pure integer comparison — no float
    probability ever multiplies a weight). The profile pass is shared
    across quantiles; pass 2 sorts only the union of each quantile's
    target bucket, so adding a quantile costs one more ≤bucket-sized
    sort, not another scan.

    ``val`` must be integer-typed (pre-quantize doubles to BIGINT
    first); bucket ids are ``(v - lo) * buckets // (hi - lo + 1)``
    computed in DECIMAL(20,0) — unconditionally exact over the whole
    int64 domain, including mixed-sign extremes where ``v - lo`` or
    ``span * buckets`` would overflow BIGINT (ADVICE r5: the previous
    pure-LONG ``DIV`` was exact only while span·buckets < 2⁶³ and could
    wrap/error near the edge under ANSI).

    Nothing is persisted: a cache the returned lazy plan still needs
    could never be released, and the session's shared CacheManager would
    then make later calls' job counts depend on what ran before.
    """
    wts = wts.select(
        F.col(key).alias("k"),
        F.col(val).cast("long").alias("v"),
        F.col(weight).cast("long").alias("w"),
        F.col(tiebreak).alias("tb"),
    )
    bounds = wts.groupBy("k").agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.sum("w").cast("long").alias("tw"),
    )
    with_b = (
        # label-sized: one bounds row per group key (few-key/huge-group shape)
        wts.join(F.broadcast(bounds), "k")
        .withColumn(
            "b",
            # DECIMAL(20,0) holds the full int64 range, so v - lo, the
            # span, and span*buckets are unconditionally exact here —
            # no 2^63 wrap for mixed-sign extremes (ADVICE r5; ANSI
            # would error on the LONG overflow, non-ANSI would wrap).
            # DIV on nonnegative operands == floor division → BIGINT.
            F.expr(
                f"(CAST(v AS DECIMAL(20,0)) - lo) * {int(buckets)}"
                " DIV (CAST(hi AS DECIMAL(20,0)) - lo + 1)"
            ),
        )
        .select("k", "v", "w", "tb", "b")
    )
    hist = with_b.groupBy("k", "b").agg(
        F.sum("w").cast("long").alias("bw")
    )
    cum_w = (
        W.partitionBy("k").orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    )
    profile = (
        # label-sized: one total-weight row per group key
        hist.join(F.broadcast(bounds.select("k", "tw")), "k")
        .withColumn("cum", F.sum("bw").over(cum_w).cast("long"))
    )
    # each profile row fans out to one row per requested quantile: a
    # generator over literals, not a join against a quantile table
    spine = F.inline(
        F.array(
            *(
                F.struct(
                    F.lit(name).alias("qname"),
                    F.lit(int(num)).cast("long").alias("qnum"),
                    F.lit(int(den)).cast("long").alias("qden"),
                )
                for name, num, den in quantiles
            )
        )
    )
    targets = (
        profile.select("*", spine)
        .filter(F.col("cum") * F.col("qden") >= F.col("qnum") * F.col("tw"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("k", "qname").orderBy("b")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            F.col("k").alias("t_k"),
            F.col("qname").alias("t_q"),
            F.col("qnum").alias("t_qnum"),
            F.col("qden").alias("t_qden"),
            F.col("b").alias("t_b"),
            (F.col("cum") - F.col("bw")).alias("offset"),
            F.col("tw").alias("t_tw"),
        )
    )
    in_bucket = with_b.join(
        # label-sized: one row per (group key, quantile)
        F.broadcast(targets),
        (F.col("k") == F.col("t_k")) & (F.col("b") == F.col("t_b")),
    ).select(
        "k", "v", "w", "tb",
        F.col("t_q").alias("qname"),
        F.col("t_qnum").alias("qnum"),
        F.col("t_qden").alias("qden"),
        "offset",
        F.col("t_tw").alias("tw"),
    )
    cum_in = W.partitionBy("k", "qname").orderBy("v", "tb").rowsBetween(
        W.unboundedPreceding, 0
    )
    pick = (
        in_bucket.withColumn(
            "cum", F.col("offset") + F.sum("w").over(cum_in).cast("long")
        )
        .filter(F.col("cum") * F.col("qden") >= F.col("qnum") * F.col("tw"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("k", "qname").orderBy("v", "tb")
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return pick.select(
        F.col("k").alias(key),
        F.col("qname").alias("quantile"),
        F.col("tw").alias("total_weight"),
        F.col("v").alias("quantile_val"),
    )
