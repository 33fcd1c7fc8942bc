"""Wave-381: Engle's ARCH LM test (Engle, Econometrica 1982 — volatility
clustering) and the Goldfeld-Quandt heteroscedasticity test (Goldfeld &
Quandt, JASA 1965) on the daily event-count series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_CHI2_2_95 = 5.991464547107979  # chi-square(2) upper 5% critical value


@query(
    "agg_arch_lm_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(c) AS BIGINT) AS s
        FROM daily
    ),
    -- milli-quantized demeaned residual (exact integer): both engines'
    -- integer division truncates toward zero
    e AS (
        SELECT day, CAST((1000 * (c * nd - s)) // nd AS BIGINT) AS r
        FROM daily, tot
    ),
    sq AS (
        SELECT day, CAST(r * r AS HUGEINT) AS y,
               LAG(r * r, 1) OVER (ORDER BY day) AS x1,
               LAG(r * r, 2) OVER (ORDER BY day) AS x2
        FROM e
    ),
    obs AS (
        SELECT CAST(y AS HUGEINT) AS y, CAST(x1 AS HUGEINT) AS x1,
               CAST(x2 AS HUGEINT) AS x2
        FROM sq WHERE x1 IS NOT NULL AND x2 IS NOT NULL
    ),
    m AS (
        -- all moments exact 128-bit integers (order-independent sums)
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
               SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22,
               SUM(x1 * x2) AS s12,
               SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y,
               SUM(y * y) AS syy
        FROM obs
    ),
    cen AS (
        -- centered moments scaled by n stay EXACT integers (the n*Sxx -
        -- Sx^2 trick): the catastrophic cancellation happens in exact
        -- arithmetic; doubles only from here on, and R^2 / LM are scale-
        -- invariant to the common n factor
        SELECT CAST(n AS BIGINT) AS n,
               CAST(n * s11 - sx1 * sx1 AS DOUBLE) AS a11,
               CAST(n * s12 - sx1 * sx2 AS DOUBLE) AS a12,
               CAST(n * s22 - sx2 * sx2 AS DOUBLE) AS a22,
               CAST(n * s1y - sx1 * sy AS DOUBLE) AS b1,
               CAST(n * s2y - sx2 * sy AS DOUBLE) AS b2,
               CAST(n * syy - sy * sy AS DOUBLE) AS styy
        FROM m
    ),
    fit AS (
        SELECT n, styy,
               (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta1,
               (b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12) AS beta2,
               b1, b2
        FROM cen
    )
    SELECT n AS n_obs,
           ROUND((beta1 * b1 + beta2 * b2) / styy, 6) AS r2,
           ROUND(n * (beta1 * b1 + beta2 * b2) / styy, 4) AS lm_stat,
           n * (beta1 * b1 + beta2 * b2) / styy > {_CHI2_2_95}
               AS arch_effect_5pct
    FROM fit
    """,
)
def agg_arch_lm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH LM test (1982) with q = 2 lags on the demeaned daily
    event counts: regress squared residuals on their two lags, LM = n·R²
    ~ χ²(2) under no ARCH — the volatility-clustering screen run before
    trusting any homoscedastic interval. Residuals are milli-quantized
    exact integers; their squares enter the regression as doubles through
    IDENTICAL centered-moment expressions in both engines (R² =
    β·b / Syy from the 2×2 normal equations), ROUND 6/4; the 5% verdict
    compares the same double to the literal χ² critical value.

    Scale shape: calendar collapse → one lag window over the bounded
    daily frame → a single 1-row moment aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("c").cast("long").alias("s"),
    )
    e = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        F.expr("CAST((1000 * (c * nd - s)) div nd AS LONG)").alias("r"),
    )
    w = Window.orderBy("day")
    sq = e.select(
        (F.col("r") * F.col("r")).alias("y"),
        F.lag(F.col("r") * F.col("r"), 1).over(w).alias("x1"),
        F.lag(F.col("r") * F.col("r"), 2).over(w).alias("x2"),
    )
    obs = sq.where(F.col("x1").isNotNull() & F.col("x2").isNotNull()).select(
        F.col("y").cast("decimal(19,0)").alias("y"),
        F.col("x1").cast("decimal(19,0)").alias("x1"),
        F.col("x2").cast("decimal(19,0)").alias("x2"),
    )
    # all moments exact 128-bit decimals (order-independent sums)
    m = obs.agg(
        F.count("*").cast("decimal(19,0)").alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # centered moments scaled by n stay EXACT (the n*Sxx - Sx^2 trick):
    # the catastrophic cancellation happens in exact decimal arithmetic;
    # doubles only from here on — R^2/LM are invariant to the n scaling
    cen = m.select(
        F.col("n").cast("long").alias("n"),
        (F.col("n") * F.col("s11") - F.col("sx1") * F.col("sx1"))
        .cast("double")
        .alias("a11"),
        (F.col("n") * F.col("s12") - F.col("sx1") * F.col("sx2"))
        .cast("double")
        .alias("a12"),
        (F.col("n") * F.col("s22") - F.col("sx2") * F.col("sx2"))
        .cast("double")
        .alias("a22"),
        (F.col("n") * F.col("s1y") - F.col("sx1") * F.col("sy"))
        .cast("double")
        .alias("b1"),
        (F.col("n") * F.col("s2y") - F.col("sx2") * F.col("sy"))
        .cast("double")
        .alias("b2"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("styy"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    beta1 = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    beta2 = (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
    r2 = (beta1 * F.col("b1") + beta2 * F.col("b2")) / F.col("styy")
    return cen.select(
        F.col("n").alias("n_obs"),
        F.round(r2, 6).alias("r2"),
        F.round(F.col("n") * r2, 4).alias("lm_stat"),
        (F.col("n") * r2 > _CHI2_2_95).alias("arch_effect_5pct"),
    )


@query(
    "agg_goldfeld_quandt",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY day) AS t,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    labeled AS (
        SELECT c, t,
               CASE WHEN t <= n // 3 THEN 1
                    WHEN t > n - n // 3 THEN 2
                    ELSE 0 END AS third
        FROM idx
    ),
    m AS (
        SELECT third,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(t AS DOUBLE)) AS sx,
               SUM(CAST(c AS DOUBLE)) AS sy,
               SUM(CAST(t AS DOUBLE) * t) AS sxx,
               SUM(CAST(t AS DOUBLE) * c) AS sxy,
               SUM(CAST(c AS DOUBLE) * c) AS syy
        FROM labeled WHERE third <> 0 GROUP BY third
    ),
    rss AS (
        SELECT third, n,
               (syy - sy * sy / n)
                 - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                   / (sxx - sx * sx / n) AS rss
        FROM m
    )
    SELECT a.n AS n_early, b.n AS n_late,
           ROUND(a.rss / (a.n - 2), 4) AS var_early,
           ROUND(b.rss / (b.n - 2), 4) AS var_late,
           ROUND((b.rss / (b.n - 2)) / (a.rss / (a.n - 2)), 6) AS gq_f,
           (b.rss / (b.n - 2)) / (a.rss / (a.n - 2)) > 1.0
               AS variance_increasing
    FROM rss a, rss b
    WHERE a.third = 1 AND b.third = 2
    """,
)
def agg_goldfeld_quandt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goldfeld-Quandt test (1965): fit a linear trend separately to the
    first and last third of the daily series (middle third dropped, per
    the original design, to sharpen the contrast) and compare residual
    variances — F = s²_late / s²_early detects variance growing with the
    ordering variable. RSS comes from the closed-form simple-OLS identity
    RSS = Syy − Sxy²/Sxx on centered moments.

    Determinism: t and c are exact integers; moments and the F ratio are
    the same double expressions in both engines, ROUND 4/6; the direction
    flag compares that same double to 1.

    Scale shape: calendar collapse → bounded row_number window → two
    3-column moment aggregates."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    idx = daily.select(
        "c",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    labeled = idx.select(
        "c",
        "t",
        F.when(F.col("t") <= F.expr("n div 3"), 1)
        .when(F.col("t") > F.col("n") - F.expr("n div 3"), 2)
        .otherwise(0)
        .alias("third"),
    ).where(F.col("third") != 0)
    m = labeled.groupBy("third").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("t").cast("double")).alias("sx"),
        F.sum(F.col("c").cast("double")).alias("sy"),
        F.sum(F.col("t").cast("double") * F.col("t")).alias("sxx"),
        F.sum(F.col("t").cast("double") * F.col("c")).alias("sxy"),
        F.sum(F.col("c").cast("double") * F.col("c")).alias("syy"),
    )
    rss = m.select(
        "third",
        "n",
        (
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            - (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            * (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        ).alias("rss"),
    )
    a = rss.where(F.col("third") == 1).select(
        F.col("n").alias("n_early"), F.col("rss").alias("rss_a")
    )
    b = rss.where(F.col("third") == 2).select(
        F.col("n").alias("n_late"), F.col("rss").alias("rss_b")
    )
    va = F.col("rss_a") / (F.col("n_early") - 2)
    vb = F.col("rss_b") / (F.col("n_late") - 2)
    return a.crossJoin(F.broadcast(b)).select(
        "n_early",
        "n_late",
        F.round(va, 4).alias("var_early"),
        F.round(vb, 4).alias("var_late"),
        F.round(vb / va, 6).alias("gq_f"),
        (vb / va > 1.0).alias("variance_increasing"),
    )
