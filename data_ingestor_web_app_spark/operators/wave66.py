"""Wave-66: empirical-Bayes rate shrinkage, embedding drift between
corpus halves, peak detection with prominence, uncertainty sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_empirical_bayes_rates",
    oracle="""
    WITH per AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM events GROUP BY user_id
    )
    SELECT user_id, n, x,
           ROUND(x * 1.0 / n, 6) AS raw_rate,
           ROUND((x + 2.0) / (n + 10.0), 6) AS shrunk_rate,
           ROUND(ABS(x * 1.0 / n - (x + 2.0) / (n + 10.0)), 6) AS shrink_amount
    FROM per
    """,
)
def agg_empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-binomial rate shrinkage (the empirical-Bayes recipe of
    Robbins 1956 / Efron-Morris, public): each user's purchase rate is
    pulled toward the prior mean by pseudo-counts (Beta(2, 8) prior —
    20% prior rate, 10 pseudo-observations), so a 1-for-2 user stops
    outranking a 45-for-100 user on a leaderboard. Production fits the
    prior by method of moments; the mechanism — (x+a)/(n+a+b) — is what
    this operator pins, with a fixed prior for cross-engine exactness.

    Determinism: integer counts through exact ratio arithmetic.

    Scale shape: one map-side-combined user groupBy; shrinkage is a
    projection."""
    e = table(spark, sf_dir, "events")
    per = e.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    raw = F.col("x") * 1.0 / F.col("n")
    shrunk = (F.col("x") + 2.0) / (F.col("n") + 10.0)
    return per.select(
        "user_id",
        "n",
        "x",
        F.round(raw, 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.round(F.abs(raw - shrunk), 6).alias("shrink_amount"),
    )


@query(
    "sim_embedding_drift",
    oracle="""
    WITH ue AS (
        SELECT vec_id, label, UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS i
        FROM embeddings
    ),
    halves AS (
        SELECT label, i, vec_id % 2 AS half, AVG(CAST(x AS DOUBLE)) AS cx
        FROM ue GROUP BY label, i, vec_id % 2
    ),
    paired AS (
        SELECT a.label, a.i, a.cx AS c0, b.cx AS c1
        FROM halves a JOIN halves b
          ON b.label = a.label AND b.i = a.i AND a.half = 0 AND b.half = 1
    )
    SELECT label,
           ROUND(SUM(c0 * c1)
                 / (SQRT(SUM(c0 * c0)) * SQRT(SUM(c1 * c1))), 6)
               AS centroid_cosine,
           ROUND(SQRT(SUM((c0 - c1) * (c0 - c1))), 6) AS centroid_l2,
           CAST(SUM(c0 * c1)
                / (SQRT(SUM(c0 * c0)) * SQRT(SUM(c1 * c1))) < 0.99
                AS BOOLEAN) AS drifted
    FROM paired GROUP BY label
    """,
)
def sim_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift check between two corpus halves (even vs
    odd vec_ids standing in for week-1 vs week-2 batches): per label,
    the cosine between the halves' centroids and their L2 gap — the
    monitor that catches a silently retrained or re-normalized upstream
    encoder before stale vectors poison the ANN index. Cosine < 0.99
    flags drift.

    Scale shape: centroids are per-(label, dim, half) partial averages
    (map-side combined, K x dim x 2 rows total); everything downstream
    is arithmetic on that tiny aggregate."""
    e = table(spark, sf_dir, "embeddings")
    ue = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("i", "x"),
    )
    halves = ue.groupBy("label", "i", "half").agg(
        F.avg(F.col("x").cast("double")).alias("cx")
    )
    h0 = halves.where(F.col("half") == 0).select(
        "label", "i", F.col("cx").alias("c0")
    )
    h1 = halves.where(F.col("half") == 1).select(
        "label", "i", F.col("cx").alias("c1")
    )
    paired = h0.join(h1, ["label", "i"])
    cos = F.sum(F.col("c0") * F.col("c1")) / (
        F.sqrt(F.sum(F.col("c0") * F.col("c0")))
        * F.sqrt(F.sum(F.col("c1") * F.col("c1")))
    )
    return paired.groupBy("label").agg(
        F.round(cos, 6).alias("centroid_cosine"),
        F.round(
            F.sqrt(F.sum((F.col("c0") - F.col("c1")) * (F.col("c0") - F.col("c1")))),
            6,
        ).alias("centroid_l2"),
        (cos < 0.99).alias("drifted"),
    )


@query(
    "events_peak_prominence",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    ctx AS (
        SELECT d, y,
               MAX(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
                   AS lmax,
               MAX(y) OVER (ORDER BY d ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
                   AS rmax
        FROM daily
    )
    SELECT STRFTIME(d, '%Y-%m-%d') AS d, y,
           CAST(y - GREATEST(lmax, rmax) AS BIGINT) AS prominence
    FROM ctx
    WHERE lmax IS NOT NULL AND rmax IS NOT NULL
      AND y > lmax AND y > rmax
    """,
)
def events_peak_prominence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peak detection with prominence over the daily volume
    series: a day is a peak when it tops every neighbor within +/-3
    days, and its prominence (height above the taller flank) separates
    marketing-spike days from noise wiggle — the day-picker feeding
    events_change_point's 'what happened here' follow-up.

    Determinism: counts and maxima are exact integers.

    Scale shape: the stream collapses to one row per day; both flank
    maxima ride a single bounded ROWS window over the ~30-day series."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("long").alias("y")
    )
    w = Window.orderBy("d")  # bounded: one row per calendar day
    ctx = daily.select(
        "d",
        "y",
        F.max("y").over(w.rowsBetween(-3, -1)).alias("lmax"),
        F.max("y").over(w.rowsBetween(1, 3)).alias("rmax"),
    )
    return (
        ctx.where(
            F.col("lmax").isNotNull()
            & F.col("rmax").isNotNull()
            & (F.col("y") > F.col("lmax"))
            & (F.col("y") > F.col("rmax"))
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("d"),
            "y",
            (F.col("y") - F.greatest("lmax", "rmax")).cast("long").alias("prominence"),
        )
    )


@query(
    "pipeline_uncertainty_sample",
    oracle="""
    WITH g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s1,
               CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                        * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) AS s2
        FROM orders
    ),
    scored AS (
        SELECT o.o_orderkey,
               1.0 / (1.0 + EXP(-(-1.0 + 0.5 *
                   (CAST(ROUND(o.o_totalprice * 100) AS BIGINT) - g.s1 * 1.0 / g.n)
                   / SQRT(g.s2 / g.n
                          - (g.s1 * 1.0 / g.n) * (g.s1 * 1.0 / g.n))))) AS conf
        FROM orders o, g
    )
    SELECT o_orderkey, ROUND(conf, 6) AS conf,
           ROUND(ABS(conf - 0.5), 6) AS uncertainty_margin
    FROM scored
    ORDER BY ABS(conf - 0.5), o_orderkey LIMIT 20
    """,
)
def pipeline_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncertainty sampling for active learning (Lewis & Gale 1994,
    public): the 20 orders whose model confidence sits closest to 0.5
    under the same fixed logistic scorer model_calibration_ece audits —
    the rows a labeling budget buys the most from, because the model
    literally cannot decide them.

    Determinism: shares the exact-moment standardization and fixed
    sigmoid; the top-k is totally ordered by (margin, orderkey).

    Scale shape: scoring is a projection over a broadcast moment row;
    the selection compiles to TakeOrderedAndProject (a per-partition
    heap + driver merge of 20-row heads — no global sort)."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = o.agg(
        F.count("*").alias("n"),
        F.sum(cents).cast("long").alias("s1"),
        F.sum(cents.cast("decimal(38,0)") * cents).cast("double").alias("s2"),
    )
    gm = F.col("s1") * 1.0 / F.col("n")
    gsd = F.sqrt(F.col("s2") / F.col("n") - gm * gm)
    conf = 1.0 / (1.0 + F.exp(-(-1.0 + 0.5 * (cents - gm) / gsd)))
    scored = o.crossJoin(F.broadcast(g)).select(
        "o_orderkey",
        conf.alias("conf"),
    )
    return (
        scored.orderBy(F.abs(F.col("conf") - 0.5), "o_orderkey")
        .limit(20)
        .select(
            "o_orderkey",
            F.round("conf", 6).alias("conf"),
            F.round(F.abs(F.col("conf") - 0.5), 6).alias("uncertainty_margin"),
        )
    )
