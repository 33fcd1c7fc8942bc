"""Wave-321: Schechtman-Yitzhaki Gini correlations and the robust
skewness family (Kelly, Groeneveld-Meeden, Pearson-2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_gini_correlation",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    rx AS (
        SELECT x AS v, SUM(k) OVER (ORDER BY x) - k + (k + 1) / 2e0 AS r
        FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS k FROM pts GROUP BY x)
    ),
    ry AS (
        SELECT y AS v, SUM(k) OVER (ORDER BY y) - k + (k + 1) / 2e0 AS r
        FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS k FROM pts GROUP BY y)
    ),
    j AS (
        SELECT p.x, p.y, rx.r AS rkx, ry.r AS rky
        FROM pts p JOIN rx ON p.x = rx.v JOIN ry ON p.y = ry.v
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(CAST(x AS DOUBLE)) AS mx, AVG(CAST(y AS DOUBLE)) AS my,
               AVG(rkx) AS mrx, AVG(rky) AS mry,
               AVG(CAST(x AS DOUBLE) * rky) AS xry,
               AVG(CAST(x AS DOUBLE) * rkx) AS xrx,
               AVG(CAST(y AS DOUBLE) * rkx) AS yrx,
               AVG(CAST(y AS DOUBLE) * rky) AS yry
        FROM j
    )
    SELECT n AS n_obs,
           ROUND((xry - mx * mry) / (xrx - mx * mrx), 6) AS gini_corr_xy,
           ROUND((yrx - my * mrx) / (yry - my * mry), 6) AS gini_corr_yx,
           ROUND((xry - mx * mry) / (xrx - mx * mrx)
                 - (yrx - my * mrx) / (yry - my * mry), 6) AS asymmetry
    FROM m
    """,
)
def agg_gini_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini correlations (Schechtman & Yitzhaki, Comm. Statist. 1987,
    public): Γ(X|Y) = cov(X, rank(Y)) / cov(X, rank(X)) — mixing one
    variable's VALUES with the other's RANKS, which puts it exactly
    between Pearson (values × values, outlier-fragile) and Spearman
    (ranks × ranks, magnitude-blind). Unlike both, the two directions
    need not agree: the asymmetry Γ(X|Y) - Γ(Y|X) is itself a
    diagnostic (zero under exchangeability, nonzero when the marginals
    differ in shape — Schechtman-Yitzhaki's exchangeability test).

    Determinism: midranks come from distinct-value cumulative frames
    (exact halves); the covariances are one pass of fixed chains
    rounded 6dp.

    Scale shape: two distinct-value collapses for the rank maps
    (windows over Aggregates), joined back to the pair scan — the same
    shuffle budget as the reworked Spearman."""
    pts = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )

    def rank_map(col):
        vals = pts.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("long").alias("k")
        )
        wv = Window.orderBy("v")
        return vals.select(
            "v",
            (
                F.sum("k").over(wv) - F.col("k") + (F.col("k") + 1) / 2.0
            ).alias("r"),
        )

    rx = rank_map("x").select(F.col("v").alias("x"), F.col("r").alias("rkx"))
    ry = rank_map("y").select(F.col("v").alias("y"), F.col("r").alias("rky"))
    j = pts.join(rx, "x").join(ry, "y")
    m = j.agg(
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("x").cast("double")).alias("mx"),
        F.avg(F.col("y").cast("double")).alias("my"),
        F.avg("rkx").alias("mrx"),
        F.avg("rky").alias("mry"),
        F.avg(F.col("x").cast("double") * F.col("rky")).alias("xry"),
        F.avg(F.col("x").cast("double") * F.col("rkx")).alias("xrx"),
        F.avg(F.col("y").cast("double") * F.col("rkx")).alias("yrx"),
        F.avg(F.col("y").cast("double") * F.col("rky")).alias("yry"),
    )
    gxy = (F.col("xry") - F.col("mx") * F.col("mry")) / (
        F.col("xrx") - F.col("mx") * F.col("mrx")
    )
    gyx = (F.col("yrx") - F.col("my") * F.col("mrx")) / (
        F.col("yry") - F.col("my") * F.col("mry")
    )
    return m.select(
        F.col("n").alias("n_obs"),
        F.round(gxy, 6).alias("gini_corr_xy"),
        F.round(gyx, 6).alias("gini_corr_yx"),
        F.round(gxy - gyx, 6).alias("asymmetry"),
    )


@query(
    "agg_skewness_robust_family",
    oracle="""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM orders GROUP BY 1
    ),
    cum AS (
        SELECT v, k, SUM(k) OVER (ORDER BY v) - k AS below,
               SUM(k) OVER (ORDER BY v) AS upto,
               SUM(k) OVER () AS n
        FROM vals
    ),
    q AS (
        SELECT MIN(CASE WHEN below < GREATEST(CAST(CEIL(0.10 * n) AS BIGINT),
                                              1)
                         AND GREATEST(CAST(CEIL(0.10 * n) AS BIGINT), 1)
                             <= upto THEN v END) AS p10,
               MIN(CASE WHEN below < GREATEST(CAST(CEIL(0.50 * n) AS BIGINT),
                                              1)
                         AND GREATEST(CAST(CEIL(0.50 * n) AS BIGINT), 1)
                             <= upto THEN v END) AS p50,
               MIN(CASE WHEN below < GREATEST(CAST(CEIL(0.90 * n) AS BIGINT),
                                              1)
                         AND GREATEST(CAST(CEIL(0.90 * n) AS BIGINT), 1)
                             <= upto THEN v END) AS p90,
               CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(k * v) AS BIGINT) AS s1,
               SUM(CAST(k AS HUGEINT) * v * v) AS s2
        FROM cum
    ),
    dev AS (
        SELECT q.n, q.p10, q.p50, q.p90, q.s1, q.s2,
               (SELECT SUM(c.k * ABS(c.v - q.p50)) FROM cum c) AS sad
        FROM q
    )
    SELECT n AS n_obs,
           ROUND(CAST(p90 + p10 - 2 * p50 AS DOUBLE) / (p90 - p10), 6)
               AS kelly_skew,
           ROUND((CAST(s1 AS DOUBLE) / n - p50)
                 / (CAST(sad AS DOUBLE) / n), 6) AS groeneveld_meeden,
           ROUND(3 * (CAST(s1 AS DOUBLE) / n - p50)
                 / SQRT(CAST(s2 AS DOUBLE) / n
                        - (CAST(s1 AS DOUBLE) / n)
                          * (CAST(s1 AS DOUBLE) / n)), 6) AS pearson2_skew
    FROM dev
    """,
)
def agg_skewness_robust_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust skewness family beyond Bowley (all public): Kelly's
    decile skewness (P90 + P10 - 2·median)/(P90 - P10) (Kelly 1947 —
    Bowley's quartile version widened to the deciles, so it sees tail
    asymmetry the quartiles miss), the Groeneveld-Meeden coefficient
    (mean - median)/E|X - median| (The Statistician 1984 — bounded in
    [-1, 1], zero iff symmetric around the median in the L1 sense),
    and Pearson's second coefficient 3(mean - median)/sd for the
    classical reference point. Three lenses, one collapse pass —
    together with agg_bowley_skewness the full ladder of 'how skewed,
    robustly?'.

    Determinism: order statistics from the distinct-value cumulative
    frame; moments and the absolute-deviation sum are exact integers
    (the median is broadcast into a second pass over the SAME collapsed
    frame); fixed chains rounded 6dp.

    Scale shape: one distinct-cents collapse; the |v - median| pass
    reuses it with the median as a 1-row broadcast — no raw-row window
    anywhere."""
    vals = (
        table(spark, sf_dir, "orders")
        .groupBy(F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
        .agg(F.count("*").cast("long").alias("k"))
        .cache()  # reused for the quantile pass and the |v - median| pass
    )
    wv = Window.orderBy("v")
    cum = vals.select(
        "v",
        "k",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )

    def sel(frac):
        r = F.greatest(F.ceil(frac * F.col("n")).cast("long"), F.lit(1))
        return F.min(
            F.when((F.col("below") < r) & (r <= F.col("upto")), F.col("v"))
        )

    q = cum.agg(
        sel(0.10).alias("p10"),
        sel(0.50).alias("p50"),
        sel(0.90).alias("p90"),
        F.max("n").cast("long").alias("n"),
        F.sum(F.col("k") * F.col("v")).cast("long").alias("s1"),
        F.sum(
            F.col("k").cast("decimal(38,0)") * F.col("v") * F.col("v")
        ).alias("s2"),
    )
    sad = (
        vals.crossJoin(F.broadcast(q.select("p50")))
        .agg(
            F.sum(F.col("k") * F.abs(F.col("v") - F.col("p50")))
            .cast("long")
            .alias("sad")
        )
    )
    d = q.crossJoin(F.broadcast(sad))
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(F.col("s2").cast("double") / F.col("n") - mean * mean)
    return d.select(
        F.col("n").alias("n_obs"),
        F.round(
            (F.col("p90") + F.col("p10") - 2 * F.col("p50")).cast("double")
            / (F.col("p90") - F.col("p10")),
            6,
        ).alias("kelly_skew"),
        F.round(
            (mean - F.col("p50")) / (F.col("sad").cast("double") / F.col("n")),
            6,
        ).alias("groeneveld_meeden"),
        F.round(3 * (mean - F.col("p50")) / sd, 6).alias("pearson2_skew"),
    )
