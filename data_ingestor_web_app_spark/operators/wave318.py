"""Wave-318: coupon-collector completion audit and a birthday-paradox
hash-collision check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_HASH_BITS = 24
_SPACE = 1 << _HASH_BITS


@query(
    "events_coupon_collector",
    oracle="""
    WITH k AS (
        SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
    ),
    seq AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
    ),
    firsts AS (
        SELECT user_id, event_type, MIN(rn) AS first_rn
        FROM seq GROUP BY user_id, event_type
    ),
    per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(MAX(first_rn) AS BIGINT) AS done_at
        FROM firsts GROUP BY user_id
    ),
    h AS (
        SELECT k.k,
               (SELECT SUM(1.0 / i.i)
                FROM (SELECT UNNEST(RANGE(1, k.k + 1)) AS i) i) AS hk
        FROM k
    )
    SELECT CAST(h.k AS BIGINT) AS n_types,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN p.n_types = h.k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_complete,
           ROUND(AVG(CASE WHEN p.n_types = h.k
                          THEN CAST(p.done_at AS DOUBLE) END), 6)
               AS mean_events_to_complete,
           ROUND(h.k * h.hk, 6) AS coupon_expectation,
           ROUND(AVG(CASE WHEN p.n_types = h.k
                          THEN CAST(p.done_at AS DOUBLE) END)
                 / (h.k * h.hk), 6) AS ratio_vs_uniform
    FROM per_user p CROSS JOIN h
    GROUP BY h.k, h.hk
    """,
)
def events_coupon_collector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coupon-collector completion audit (the classical occupancy
    result E[T] = k·H_k for uniform coupons — Feller vol. I, public):
    per user, how many events it took to witness every event type,
    averaged over users who completed the set, against the uniform-
    coupon expectation k·H_k (5·H_5 ≈ 11.417). ratio > 1 means types
    arrive with UNEQUAL probabilities or serial correlation (both
    lengthen collection) — a one-number behavioral-diversity check
    that complements win_rolling_distinct's per-window view with the
    renewal-theory baseline.

    Determinism: first-occurrence indices come from per-user
    PARTITIONED rank windows (total order ts, event_id); H_k is an
    exact k-term rational sum; ROUND 6.

    Scale shape: one partitioned window + two keyed groupBys; nothing
    global touches raw rows."""
    e = table(spark, sf_dir, "events")
    k = e.agg(F.countDistinct("event_type").cast("long").alias("k"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
    firsts = seq.groupBy("user_id", "event_type").agg(
        F.min("rn").alias("first_rn")
    )
    per_user = firsts.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_types"),
        F.max("first_rn").cast("long").alias("done_at"),
    )
    hk = k.select(
        "k",
        F.expr(
            "aggregate(sequence(1, k), cast(0.0 as double), (a, i) -> a + 1.0 / i)"
        ).alias("hk"),
    )
    j = per_user.crossJoin(F.broadcast(hk))
    return j.groupBy("k", "hk").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(F.when(F.col("n_types") == F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("n_complete"),
        F.avg(
            F.when(
                F.col("n_types") == F.col("k"),
                F.col("done_at").cast("double"),
            )
        ).alias("m"),
    ).select(
        F.col("k").alias("n_types"),
        "n_users",
        "n_complete",
        F.round("m", 6).alias("mean_events_to_complete"),
        F.round(F.col("k") * F.col("hk"), 6).alias("coupon_expectation"),
        F.round(F.col("m") / (F.col("k") * F.col("hk")), 6).alias(
            "ratio_vs_uniform"
        ),
    )


@query(
    "agg_birthday_collisions",
    oracle=f"""
    WITH h AS (
        SELECT CAST(('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 6))
                    AS BIGINT) AS hv
        FROM orders
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT hv) AS BIGINT) AS n_distinct
        FROM h
    ),
    pairs AS (
        SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS coll_pairs
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM h GROUP BY hv)
    )
    SELECT s.n AS n_keys, s.n_distinct,
           s.n - s.n_distinct AS n_collided,
           p.coll_pairs,
           ROUND(CAST(s.n AS DOUBLE) * (s.n - 1) / 2 / {_SPACE}, 6)
               AS expected_pairs,
           ROUND(1 - EXP(-CAST(s.n AS DOUBLE) * (s.n - 1) / 2 / {_SPACE}),
                 6) AS p_any_collision,
           ROUND(CAST(p.coll_pairs AS DOUBLE)
                 / (CAST(s.n AS DOUBLE) * (s.n - 1) / 2 / {_SPACE}), 6)
               AS pairs_vs_expected
    FROM s CROSS JOIN pairs p
    """,
)
def agg_birthday_collisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Birthday-paradox collision audit (the classical occupancy
    approximation E[pairs] = C(n,2)/M, P[any] ≈ 1 - exp(-C(n,2)/M) —
    public) of a 24-bit md5-prefix hash over order keys: observed
    colliding pairs against the birthday expectation, as a ratio. A
    healthy hash sits near 1; a ratio well above 1 means structure
    leaking through the hash (the pair-level complement to
    pipeline_shard_balance's bucket-level view, and the quantitative
    answer to 'can I use a 24-bit key for this join fingerprint').

    Determinism: the md5 prefix is an exact hex-to-int chain identical
    in both engines; pair counts are exact integers; fixed chains
    rounded 6dp.

    Scale shape: one groupBy(hash) over the scan (map-side combinable)
    + exact distinct count; everything else is 1-row arithmetic."""
    h = table(spark, sf_dir, "orders").select(
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6),
            16,
            10,
        )
        .cast("long")
        .alias("hv")
    )
    s = h.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("hv").cast("long").alias("n_distinct"),
    )
    pairs = (
        h.groupBy("hv")
        .agg(F.count("*").cast("long").alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("long")
            .alias("coll_pairs")
        )
    )
    j = s.crossJoin(F.broadcast(pairs))
    exp_pairs = F.col("n").cast("double") * (F.col("n") - 1) / 2 / _SPACE
    return j.select(
        F.col("n").alias("n_keys"),
        "n_distinct",
        (F.col("n") - F.col("n_distinct")).alias("n_collided"),
        "coll_pairs",
        F.round(exp_pairs, 6).alias("expected_pairs"),
        F.round(1 - F.exp(-exp_pairs), 6).alias("p_any_collision"),
        F.round(F.col("coll_pairs").cast("double") / exp_pairs, 6).alias(
            "pairs_vs_expected"
        ),
    )
