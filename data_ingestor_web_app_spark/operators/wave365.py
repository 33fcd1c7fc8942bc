"""Wave-365: DDM concept-drift detector replay (Gama, Medas, Castillo &
Rodrigues, SBIA 2004) and exact top-down binary segmentation of the daily
series (Scott & Knott 1974 lineage; the classic changepoint baseline PELT
is measured against).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_ddm_drift",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               COUNT(*) AS n,
               SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS e
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT day,
               SUM(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cn,
               SUM(e) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS ce
        FROM daily
    ),
    q AS (
        SELECT day, cn, ce,
               CAST(FLOOR(1e9 * (CAST(ce AS DOUBLE) / cn)) AS BIGINT)
                   AS p_nano,
               CAST(FLOOR(1e9 * SQRT((CAST(ce AS DOUBLE) / cn)
                        * (1.0 - CAST(ce AS DOUBLE) / cn) / cn))
                    AS BIGINT) AS s_nano
        FROM cum
    ),
    packed AS (
        SELECT day, cn, ce, p_nano, s_nano,
               MIN((p_nano + s_nano) * CAST(10000000000 AS HUGEINT) + s_nano)
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS mn
        FROM q
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           CAST(cn AS BIGINT) AS n_seen,
           CAST(ce AS BIGINT) AS n_errors,
           ROUND(p_nano / 1e9, 6) AS p_hat,
           ROUND(s_nano / 1e9, 6) AS s_hat,
           CASE
             WHEN p_nano + s_nano >= CAST(mn // 10000000000 AS BIGINT)
                                     + 2 * CAST(mn % 10000000000 AS BIGINT)
             THEN CASE
               WHEN p_nano + s_nano >= CAST(mn // 10000000000 AS BIGINT)
                                       + 3 * CAST(mn % 10000000000 AS BIGINT)
               THEN 'drift' ELSE 'warning' END
             ELSE 'ok'
           END AS level
    FROM packed
    """,
)
def model_ddm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDM drift-detection replay (Gama et al. 2004) over the daily
    error-rate stream: running error proportion p̂ with binomial
    deviation ŝ = √(p̂(1−p̂)/n); the detector remembers the minimum of
    p̂+ŝ (with its ŝ) and raises 'warning' past p_min+s_min+2·s_min and
    'drift' past +3·s_min — the exact online rule, replayed in batch.

    Determinism: p̂ and ŝ quantize to nano-ints BEFORE the running min
    (house idiom), and the (p+s, s)-at-the-min pair rides ONE packed
    integer min — (p+s)·10¹⁰ + s — so both engines recover the identical
    (p_min, s_min) without a nested-window construction. All level
    comparisons are pure integer arithmetic.

    Scale shape: the corpus collapses to a calendar-sized daily frame;
    three cumulative windows over that aggregate; O(days) output."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
                "e"
            ),
        )
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        F.sum("n").over(w).alias("cn"),
        F.sum("e").over(w).alias("ce"),
    )
    p = F.col("ce").cast("double") / F.col("cn")
    q = cum.select(
        "day",
        "cn",
        "ce",
        F.floor(1e9 * p).cast("long").alias("p_nano"),
        F.floor(1e9 * F.sqrt(p * (1.0 - p) / F.col("cn")))
        .cast("long")
        .alias("s_nano"),
    )
    pack = (F.col("p_nano") + F.col("s_nano")).cast("decimal(38,0)") * F.lit(
        10000000000
    ).cast("decimal(38,0)") + F.col("s_nano")
    packed = q.select(
        "day",
        "cn",
        "ce",
        "p_nano",
        "s_nano",
        F.min(pack).over(w).alias("mn"),
    )
    # exact decimal floor-division/modulo (the packed value exceeds 2^63,
    # so this must never pass through double)
    pmin_s = F.floor(F.col("mn") / F.lit(10000000000)).cast("long")
    smin = (F.col("mn") % 10000000000).cast("long")
    ps = F.col("p_nano") + F.col("s_nano")
    return packed.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cn").cast("long").alias("n_seen"),
        F.col("ce").cast("long").alias("n_errors"),
        F.round(F.col("p_nano") / 1e9, 6).alias("p_hat"),
        F.round(F.col("s_nano") / 1e9, 6).alias("s_hat"),
        F.when(
            ps >= pmin_s + 3 * smin, F.lit("drift")
        )
        .when(ps >= pmin_s + 2 * smin, F.lit("warning"))
        .otherwise(F.lit("ok"))
        .alias("level"),
    )


@query(
    "events_binary_segmentation",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    seq AS (
        SELECT d, y,
               ROW_NUMBER() OVER (ORDER BY d) AS i,
               COUNT(*) OVER () AS n,
               SUM(y) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cy,
               SUM(y) OVER () AS ty
        FROM daily
    ),
    cand1 AS (
        SELECT i AS k,
               CAST(cy AS DOUBLE) * cy / i
               + CAST(ty - cy AS DOUBLE) * (ty - cy) / (n - i) AS gain
        FROM seq WHERE i < n
    ),
    k1 AS (
        SELECT k FROM cand1 ORDER BY gain DESC, k LIMIT 1
    ),
    seg2 AS (
        SELECT s.d, s.y, s.i,
               CASE WHEN s.i <= k1.k THEN 0 ELSE 1 END AS seg
        FROM seq s CROSS JOIN k1
    ),
    seq2 AS (
        SELECT d, y, seg,
               ROW_NUMBER() OVER (PARTITION BY seg ORDER BY d) AS i,
               COUNT(*) OVER (PARTITION BY seg) AS n,
               SUM(y) OVER (PARTITION BY seg ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS cy,
               SUM(y) OVER (PARTITION BY seg) AS ty
        FROM seg2
    ),
    cand2 AS (
        SELECT seg, i AS k, d AS split_day,
               CAST(cy AS DOUBLE) * cy / i
               + CAST(ty - cy AS DOUBLE) * (ty - cy) / (n - i)
               - CAST(ty AS DOUBLE) * ty / n AS improve
        FROM seq2 WHERE i < n
    ),
    k2 AS (
        SELECT seg AS kseg, k AS kk
        FROM (
            SELECT seg, k,
                   ROW_NUMBER() OVER (PARTITION BY seg
                                      ORDER BY improve DESC, k) AS rk
            FROM cand2
        ) q WHERE rk = 1
    ),
    fine AS (
        -- LEFT join: a 1-day segment has no admissible split (i < n is
        -- empty); it stays whole as child 2*seg instead of vanishing
        SELECT s2.y,
               CASE WHEN k2.kk IS NULL OR s2.i <= k2.kk THEN s2.seg * 2
                    ELSE s2.seg * 2 + 1 END AS segment
        FROM seq2 s2 LEFT JOIN k2 ON k2.kseg = s2.seg
    )
    SELECT CAST(segment AS BIGINT) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(CAST(y AS DOUBLE)), 6) AS seg_mean
    FROM fine
    GROUP BY segment
    ORDER BY segment
    """,
)
def events_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-down binary segmentation of daily spend into 4 segments: the
    classic changepoint baseline — pick the split maximizing the
    between-segment fit gain S_L²/n_L + S_R²/n_R (equivalently the SSE
    drop, since Σy² is constant), then split each half once more by the
    same rule. Depth 2 = up to 3 changepoints, the elbow regime for a
    month of data.

    Determinism: daily sums are exact cents; gains are fixed double
    chains over exact integer prefix sums with (gain DESC, k) argmax
    tie-break; segment labels are pure integer arithmetic.

    Scale shape: one per-day collapse; all windows run over the bounded
    calendar frame (partitioned by segment at depth 2); candidate
    evaluation is O(days) via prefix sums, not O(days²) SSE recompute."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )
    wd = Window.orderBy("d")
    seq = daily.select(
        "d",
        "y",
        F.row_number().over(wd).alias("i"),
        F.count("*")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("n"),
        F.sum("y").over(wd.rowsBetween(Window.unboundedPreceding, 0)).alias("cy"),
        F.sum("y")
        .over(wd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("ty"),
    )
    gain = (
        F.col("cy").cast("double") * F.col("cy") / F.col("i")
        + (F.col("ty") - F.col("cy")).cast("double")
        * (F.col("ty") - F.col("cy"))
        / (F.col("n") - F.col("i"))
    )
    k1 = (
        seq.where(F.col("i") < F.col("n"))
        .select(F.col("i").alias("k"), gain.alias("g"))
        .orderBy(F.col("g").desc(), "k")
        .limit(1)
        .select("k")
    )
    seg2 = seq.crossJoin(F.broadcast(k1)).select(
        "d", "y", F.when(F.col("i") <= F.col("k"), 0).otherwise(1).alias("seg")
    )
    ws = Window.partitionBy("seg").orderBy("d")
    seq2 = seg2.select(
        "d",
        "y",
        "seg",
        F.row_number().over(ws).alias("i"),
        F.count("*").over(Window.partitionBy("seg")).alias("n"),
        F.sum("y").over(ws.rowsBetween(Window.unboundedPreceding, 0)).alias("cy"),
        F.sum("y").over(Window.partitionBy("seg")).alias("ty"),
    )
    improve = (
        F.col("cy").cast("double") * F.col("cy") / F.col("i")
        + (F.col("ty") - F.col("cy")).cast("double")
        * (F.col("ty") - F.col("cy"))
        / (F.col("n") - F.col("i"))
        - F.col("ty").cast("double") * F.col("ty") / F.col("n")
    )
    k2 = (
        seq2.where(F.col("i") < F.col("n"))
        .select("seg", F.col("i").alias("k"), improve.alias("imp"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("seg").orderBy(F.col("imp").desc(), "k")
            ),
        )
        .where(F.col("rk") == 1)
        .select(F.col("seg").alias("kseg"), F.col("k").alias("kk"))
    )
    fine = (
        # LEFT join: a 1-day segment has no admissible split — keep it
        # whole as child 2*seg instead of dropping its days
        seq2.join(F.broadcast(k2), F.col("seg") == F.col("kseg"), "left")
        .select(
            "y",
            F.when(
                F.col("kk").isNull() | (F.col("i") <= F.col("kk")),
                F.col("seg") * 2,
            )
            .otherwise(F.col("seg") * 2 + 1)
            .alias("segment"),
        )
    )
    return (
        fine.groupBy("segment")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.round(F.avg(F.col("y").cast("double")), 6).alias("seg_mean"),
        )
        .select(F.col("segment").cast("long").alias("segment"), "n_days", "seg_mean")
        .orderBy("segment")
    )
