"""Wave-377: Passing-Bablok regression (Passing & Bablok, J. Clin. Chem.
Clin. Biochem. 1983 — the method-comparison regression that is robust AND
scale-invariant, unlike Theil-Sen it shift-corrects the slope median) and
group-sequential monitoring boundaries (O'Brien & Fleming, Biometrics
1979; Pocock, Biometrika 1977) applied to a sequential A/B metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Daily paired measurements: "method X" = click count, "method Y" = view
# count per day — the two instruments whose agreement PB tests.
_PAIRS_SQL = """
    pairs AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    )
"""


@query(
    "model_passing_bablok",
    oracle=f"""
    WITH {_PAIRS_SQL},
    ij AS (
        SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
        FROM pairs a JOIN pairs b ON a.day < b.day
        WHERE a.x <> b.x
    ),
    slopes AS (
        -- exact micro-quantized slope: floor(1e6 * dy / dx); PB discards
        -- slopes of exactly -1 (direction-ambiguous pairs)
        SELECT CAST(1000000 * (y2 - y1) // (x2 - x1) AS BIGINT) AS s
        FROM ij
        WHERE 1000000 * (y2 - y1) // (x2 - x1) <> -1000000
    ),
    counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN s < -1000000 THEN 1 ELSE 0 END) AS BIGINT)
                   AS k_neg
        FROM slopes
    ),
    ranked AS (
        SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS r FROM slopes
    ),
    med AS (
        -- PB slope = the K-offset median: element at rank ceil(n/2) + K
        -- (odd n) or the average of ranks n/2 + K and n/2 + 1 + K
        SELECT CASE WHEN c.n % 2 = 1
                    THEN (SELECT CAST(s AS DOUBLE) FROM ranked
                          WHERE r = (c.n + 1) // 2 + c.k_neg)
                    ELSE (SELECT AVG(CAST(s AS DOUBLE)) FROM ranked
                          WHERE r IN (c.n // 2 + c.k_neg,
                                      c.n // 2 + 1 + c.k_neg))
               END / 1000000 AS b
        FROM counts c
    ),
    inter AS (
        -- intercept = median over days of y - b*x (quantized micro)
        SELECT CAST(FLOOR(1000000 * (p.y - m.b * p.x)) AS BIGINT) AS a_q
        FROM pairs p, med m
    ),
    ia AS (
        SELECT CAST(a_q AS DOUBLE) / 1000000 AS a,
               ROW_NUMBER() OVER (ORDER BY a_q) AS r,
               COUNT(*) OVER () AS n
        FROM inter
    ),
    a_med AS (
        SELECT AVG(a) AS a FROM ia
        WHERE r IN ((n + 1) // 2, n // 2 + 1)
    )
    SELECT c.n AS n_slopes, c.k_neg,
           ROUND(m.b, 6) AS slope,
           ROUND(a.a, 6) AS intercept
    FROM counts c, med m, a_med a
    """,
)
def model_passing_bablok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passing-Bablok regression (1983) of daily view counts on daily
    click counts: all pairwise slopes (dy/dx over day pairs, vertical
    pairs dropped, slope −1 discarded per the original procedure), the
    estimator is the median OFFSET by K = #(slopes < −1) — this shift is
    what makes PB invariant to swapping the methods, the property the
    replay pytest verifies. Intercept = median of y − b·x.

    Determinism: slopes are micro-quantized by exact floor division
    (1e6·dy // dx) BEFORE ranking, so order statistics are taken over
    exact integers in both engines; the final slope/intercept are single
    double expressions ROUND 6.

    Scale shape: the day-pair join is over the bounded calendar frame
    (n(n−1)/2 ≈ 65k pairs for a year), never over raw rows; ranking is a
    window over that bounded frame."""
    pairs = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    a = pairs.select(
        F.col("day").alias("d1"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = pairs.select(
        F.col("day").alias("d2"), F.col("x").alias("x2"), F.col("y").alias("y2")
    )
    slopes = (
        a.join(b, (F.col("d1") < F.col("d2")) & (F.col("x1") != F.col("x2")))
        # nullif guards the div: codegen can fuse this projection with the
        # join stage and evaluate it on rows the x1 != x2 predicate will
        # drop — ANSI mode then raises DIVIDE_BY_ZERO on a row that never
        # reaches the output
        .select(
            F.expr(
                "CAST(1000000 * (y2 - y1) div nullif(x2 - x1, 0) AS LONG)"
            ).alias("s")
        )
        .where(F.col("s").isNotNull() & (F.col("s") != -1000000))
    )
    counts = slopes.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("s") < -1000000, 1).otherwise(0))
        .cast("long")
        .alias("k_neg"),
    )
    ranked = slopes.select(
        "s", F.row_number().over(Window.orderBy("s")).alias("r")
    )
    med = (
        ranked.crossJoin(F.broadcast(counts))
        .where(
            (
                (F.col("n") % 2 == 1)
                & (F.col("r") == F.expr("(n + 1) div 2 + k_neg"))
            )
            | (
                (F.col("n") % 2 == 0)
                & (
                    (F.col("r") == F.expr("n div 2 + k_neg"))
                    | (F.col("r") == F.expr("n div 2 + 1 + k_neg"))
                )
            )
        )
        .agg((F.avg(F.col("s").cast("double")) / 1000000).alias("b"))
    )
    inter = pairs.crossJoin(F.broadcast(med)).select(
        F.floor(1000000 * (F.col("y") - F.col("b") * F.col("x")))
        .cast("long")
        .alias("a_q")
    )
    ia = inter.select(
        (F.col("a_q").cast("double") / 1000000).alias("a"),
        F.row_number().over(Window.orderBy("a_q")).alias("r"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    a_med = ia.where(
        (F.col("r") == F.expr("(n + 1) div 2")) | (F.col("r") == F.expr("n div 2 + 1"))
    ).agg(F.avg("a").alias("a"))
    return (
        counts.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(a_med))
        .select(
            F.col("n").alias("n_slopes"),
            "k_neg",
            F.round(F.col("b"), 6).alias("slope"),
            F.round(F.col("a"), 6).alias("intercept"),
        )
    )


# Two-sided alpha = 0.05, K = 4 equally-spaced looks — published critical
# constants (Jennison & Turnbull 2000, Tables 2.1/2.3): Pocock c_P = 2.361,
# O'Brien-Fleming C_B = 2.024 (boundary C_B / sqrt(t_k)).
_POCOCK_C = 2.361
_OBF_C = 2.024


@query(
    "events_group_sequential",
    oracle=f"""
    WITH span AS (
        SELECT MIN(EPOCH_US(ts)) AS lo, MAX(EPOCH_US(ts)) AS hi FROM events
    ),
    base AS (
        -- look = which quarter of the observed time span the event falls
        -- in (exact integer arithmetic — no global row ordering needed)
        SELECT user_id % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv,
               1 + (4 * (EPOCH_US(ts) - s.lo)) // (s.hi - s.lo + 1) AS look
        FROM events, span s
    ),
    cum AS (
        SELECT l.look,
               CAST(SUM(CASE WHEN b.arm = 1 THEN b.conv ELSE 0 END) AS BIGINT) AS xa,
               CAST(SUM(CASE WHEN b.arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN b.arm = 0 THEN b.conv ELSE 0 END) AS BIGINT) AS xb,
               CAST(SUM(CASE WHEN b.arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
        FROM base b JOIN (SELECT UNNEST([1,2,3,4]) AS look) l
          ON b.look <= l.look
        GROUP BY l.look
    ),
    z AS (
        SELECT look, xa, na, xb, nb,
               (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
               / SQRT((CAST(xa + xb AS DOUBLE) / (na + nb))
                      * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
                      * (1.0 / na + 1.0 / nb)) AS zstat
        FROM cum
    )
    SELECT CAST(look AS INT) AS look,
           na + nb AS n_cum,
           ROUND(zstat, 6) AS z,
           ROUND({_OBF_C} / SQRT(look / 4.0), 6) AS obf_bound,
           ROUND({_POCOCK_C}, 6) AS pocock_bound,
           ABS(zstat) > {_OBF_C} / SQRT(look / 4.0) AS crosses_obf,
           ABS(zstat) > {_POCOCK_C} AS crosses_pocock
    FROM z ORDER BY look
    """,
)
def events_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitoring at K = 4 equally-spaced looks:
    cumulative two-proportion z for purchase conversion (arms = user-id
    parity) against the O'Brien-Fleming boundary C_B/√t_k (spends almost
    nothing early, C_B = 2.024) and the flat Pocock boundary (2.361) —
    the published critical constants for two-sided α = 0.05, K = 4
    (Jennison & Turnbull tables). The peeking-correction machinery every
    sequential experimentation platform implements.

    Determinism: looks are CALENDAR quarters of the observed time span —
    look = 1 + (4·(tsμs − lo)) // (hi − lo + 1), exact integer floor
    division in both engines (no global row ordering anywhere); counts
    are exact integers; z and the boundary comparisons are the same
    double expressions in both engines, ROUND 6 on display.

    Scale shape: one 1-row min/max aggregate broadcast back as the look
    assignment (a production monitor keys looks on wall-clock exactly
    like this), then a 4-row broadcast join + per-look aggregates — no
    single-partition window."""
    ev = table(spark, sf_dir, "events")
    span = ev.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    )
    e = ev.crossJoin(F.broadcast(span)).select(
        (F.col("user_id") % 2).alias("arm"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
        (
            1
            + F.expr(
                "(4 * (unix_micros(ts) - lo)) div (hi - lo + 1)"
            )
        ).alias("look"),
    )
    looks = spark.range(1, 5).select(F.col("id").cast("int").alias("lk"))
    cum = (
        e.join(F.broadcast(looks), F.col("look") <= F.col("lk"))
        .groupBy("lk")
        .agg(
            F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
            .cast("long")
            .alias("xa"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            .cast("long")
            .alias("xb"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("nb"),
        )
    )
    p = (F.col("xa") + F.col("xb")).cast("double") / (F.col("na") + F.col("nb"))
    z = (
        F.col("xa").cast("double") / F.col("na")
        - F.col("xb").cast("double") / F.col("nb")
    ) / F.sqrt(p * (1 - p) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    obf = _OBF_C / F.sqrt(F.col("lk") / 4.0)
    return (
        cum.select(
            F.col("lk").cast("int").alias("look"),
            (F.col("na") + F.col("nb")).alias("n_cum"),
            F.round(z, 6).alias("z"),
            F.round(obf, 6).alias("obf_bound"),
            F.round(F.lit(_POCOCK_C), 6).alias("pocock_bound"),
            (F.abs(z) > obf).alias("crosses_obf"),
            (F.abs(z) > _POCOCK_C).alias("crosses_pocock"),
        )
        .orderBy("look")
    )
