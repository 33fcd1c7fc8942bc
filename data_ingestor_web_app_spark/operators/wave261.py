"""Wave-261: classical forecasting completion — the Theta method (the
M3-competition winner) as a closed-form window computation, and the
Kolmogorov-Zurbenko kz(5,3) iterated-moving-average filter.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_ALPHA = 0.3
_LN_BETA = math.log(1.0 - _ALPHA)


@query(
    "events_theta_forecast",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS t,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ),
    ols AS (
        SELECT ANY_VALUE(n) AS n,
               (SUM(t * y) - COUNT(*) * AVG(t) * AVG(y))
               / (SUM(CAST(t AS DOUBLE) * t)
                  - COUNT(*) * AVG(t) * AVG(t)) AS b,
               AVG(y) - (SUM(t * y) - COUNT(*) * AVG(t) * AVG(y))
                        / (SUM(CAST(t AS DOUBLE) * t)
                           - COUNT(*) * AVG(t) * AVG(t)) * AVG(t) AS a
        FROM idx
    ),
    theta2 AS (
        SELECT i.t, i.n, 2 * i.y - (o.a + o.b * i.t) AS z,
               i.y
        FROM idx i CROSS JOIN ols o
    ),
    ses AS (
        SELECT ANY_VALUE(n) AS n,
               SUM(CASE WHEN t = 1
                        THEN EXP((n - 1) * {_LN_BETA!r}) * z
                        ELSE {_ALPHA!r} * EXP((n - t) * {_LN_BETA!r}) * z
                   END) AS level,
               MAX(CASE WHEN t = n THEN y END) AS y_last
        FROM theta2
    )
    SELECT s.n AS n_days,
           ROUND(o.a, 6) AS trend_intercept,
           ROUND(o.b, 6) AS trend_slope,
           ROUND(s.level, 6) AS ses_level_theta2,
           ROUND(o.a + o.b * (s.n + 1), 6) AS f_theta0,
           ROUND((o.a + o.b * (s.n + 1) + s.level) / 2, 6) AS f_theta,
           ROUND(s.y_last, 6) AS f_naive
    FROM ses s CROSS JOIN ols o
    """,
)
def events_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Theta method (Assimakopoulos & Nikolopoulos, IJF 2000,
    public; the M3 competition's winning benchmark) for the daily mean
    value, h=1: decompose into theta-lines theta=0 (the OLS linear
    trend) and theta=2 (z_t = 2*y_t - trend_t, double-curvature), run
    simple exponential smoothing (alpha=0.3, s_1 = z_1) on the theta=2
    line, and average the two extrapolations. The key to a set-based
    implementation: SES telescopes to EXPLICIT exponential weights
    s_n = (1-a)^(n-1) z_1 + sum_t a(1-a)^(n-t) z_t — one weighted
    aggregate, no recursion (powers written EXP(k*ln(1-a)), the
    NOTES_BUILD pow rule).

    Exactness device: the OLS chain uses exact integer t sums; SES
    weights are exp/ln primitives; seven rounded outputs from two
    1-row frames.

    Scale shape: daily rollup + two aggregates over the bounded day
    frame; per-series forecasting at 100 TB adds the series key to
    every group/window."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    idx = daily.select(
        "y",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    t_d = F.col("t").cast("double")
    ols = idx.agg(
        F.first("n").alias("n"),
        (
            (F.sum(F.col("t") * F.col("y")) - F.count("*") * F.avg("t") * F.avg("y"))
            / (F.sum(t_d * F.col("t")) - F.count("*") * F.avg("t") * F.avg("t"))
        ).alias("b"),
        (
            F.avg("y")
            - (
                (
                    F.sum(F.col("t") * F.col("y"))
                    - F.count("*") * F.avg("t") * F.avg("y")
                )
                / (
                    F.sum(t_d * F.col("t"))
                    - F.count("*") * F.avg("t") * F.avg("t")
                )
            )
            * F.avg("t")
        ).alias("a"),
    )
    theta2 = idx.crossJoin(F.broadcast(ols.drop("n"))).select(
        "t",
        "n",
        "y",
        (2 * F.col("y") - (F.col("a") + F.col("b") * F.col("t"))).alias("z"),
    )
    ses = theta2.agg(
        F.first("n").alias("n"),
        F.sum(
            F.when(
                F.col("t") == 1,
                F.exp((F.col("n") - 1) * _LN_BETA) * F.col("z"),
            ).otherwise(
                _ALPHA * F.exp((F.col("n") - F.col("t")) * _LN_BETA) * F.col("z")
            )
        ).alias("level"),
        F.max(F.when(F.col("t") == F.col("n"), F.col("y"))).alias("y_last"),
    )
    return ses.crossJoin(F.broadcast(ols.drop("n"))).select(
        F.col("n").alias("n_days"),
        F.round("a", 6).alias("trend_intercept"),
        F.round("b", 6).alias("trend_slope"),
        F.round("level", 6).alias("ses_level_theta2"),
        F.round(F.col("a") + F.col("b") * (F.col("n") + 1), 6).alias(
            "f_theta0"
        ),
        F.round(
            (F.col("a") + F.col("b") * (F.col("n") + 1) + F.col("level")) / 2,
            6,
        ).alias("f_theta"),
        F.round("y_last", 6).alias("f_naive"),
    )


@query(
    "events_kz_filter",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    p1 AS (
        SELECT day, y,
               AVG(y) OVER (ORDER BY day
                            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                   AS s
        FROM daily
    ),
    p2 AS (
        SELECT day, y,
               AVG(s) OVER (ORDER BY day
                            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                   AS s
        FROM p1
    ),
    p3 AS (
        SELECT day, y,
               AVG(s) OVER (ORDER BY day
                            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
                   AS s
        FROM p2
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           ROUND(y, 6) AS raw,
           ROUND(s, 6) AS kz
    FROM p3
    """,
)
def events_kz_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Zurbenko filter kz(m=5, k=3) of the daily mean value
    (Zurbenko, The Spectral Analysis of Time Series, 1986, public; the
    EPA's standard ozone-trend smoother): three iterations of a
    centered 5-point moving average, whose effective kernel converges
    toward a Gaussian (CLT on the rectangular kernel) while keeping
    FINITE support of m*k - k + 1 = 13 days — sharper cutoff than one
    wide MA, no ringing, and edge windows shrink to the available rows
    (the standard KZ boundary convention, identical AVG-over-frame
    semantics in both engines).

    Exactness device: every pass is the same deterministic frame
    average; dates serialize as strings (registry date rule).

    Scale shape: three window passes over the bounded day frame, each
    reusing the day ordering — one sort, three cheap frames."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    w = Window.orderBy("day").rowsBetween(-2, 2)
    s = F.avg("y").over(w)
    p1 = daily.select("day", "y", s.alias("s"))
    p2 = p1.select("day", "y", F.avg("s").over(w).alias("s"))
    p3 = p2.select("day", "y", F.avg("s").over(w).alias("s"))
    return p3.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("y", 6).alias("raw"),
        F.round("s", 6).alias("kz"),
    )
