"""Wave-356: the Hotelling T² multivariate control chart (Hotelling
1947, the original multivariate SPC statistic) on the daily
purchase/click mean pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_UCL = 9.21034  # chi2(2) 99% quantile — the asymptotic phase-I limit


@query(
    "events_hotelling_t2",
    oracle=f"""
    WITH cell AS (
        SELECT CAST(ts AS DATE) AS d,
               SUM(CASE WHEN event_type = 'purchase'
                   THEN CAST(ROUND(value * 100) AS BIGINT) END) AS sp,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS np,
               SUM(CASE WHEN event_type = 'click'
                   THEN CAST(ROUND(value * 100) AS BIGINT) END) AS sc,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS nc
        FROM events GROUP BY 1
    ),
    pair AS (
        SELECT STRFTIME(d, '%Y-%m-%d') AS d,
               CAST(sp AS DOUBLE) / 100.0 / np AS x,
               CAST(sc AS DOUBLE) / 100.0 / nc AS y
        FROM cell WHERE np > 0 AND nc > 0
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS mx, AVG(y) AS my,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM pair
    ),
    cov AS (
        SELECT n, mx, my,
               (sxx - n * mx * mx) / (n - 1) AS vxx,
               (syy - n * my * my) / (n - 1) AS vyy,
               (sxy - n * mx * my) / (n - 1) AS vxy
        FROM mom
    ),
    t2 AS (
        SELECT p.d, p.x, p.y, c.n,
               ((p.x - c.mx) * (p.x - c.mx) * c.vyy
                - 2.0 * (p.x - c.mx) * (p.y - c.my) * c.vxy
                + (p.y - c.my) * (p.y - c.my) * c.vxx)
               / (c.vxx * c.vyy - c.vxy * c.vxy) AS t2
        FROM pair p CROSS JOIN cov c
    )
    SELECT d, ROUND(x, 6) AS purchase_mean, ROUND(y, 6) AS click_mean,
           ROUND(t2, 6) AS hotelling_t2,
           t2 > {_UCL} AS out_of_control
    FROM t2 ORDER BY d
    """,
)
def events_hotelling_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hotelling T² chart (Hotelling, 1947 Techniques of
    Statistical Analysis — the first multivariate control chart):
    each day's (purchase mean, click mean) point is scored by the
    Mahalanobis distance to the phase-I centroid under the sample
    covariance (2×2 inverse in closed form), against the asymptotic
    chi²(2) 99% limit {_UCL}. Catches jointly-unusual days that both
    univariate charts (the registry's p-chart/c-chart/EWMA rows) miss
    when the variables are correlated.

    Determinism: daily means are exact rationals; moments are ≤30-term
    fixed chains; T² is a fixed closed-form chain rounded 6dp; the
    flag compares identical unrounded doubles to a shared literal.

    Scale shape: one conditional daily aggregate, one 1-row moment
    fold broadcast back over the calendar-bounded frame."""
    cell = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ).alias("sp"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("np"),
            F.sum(
                F.when(
                    F.col("event_type") == "click",
                    F.round(F.col("value") * 100).cast("long"),
                )
            ).alias("sc"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("nc"),
        )
        .where((F.col("np") > 0) & (F.col("nc") > 0))
    )
    pair = cell.select(
        F.date_format("d", "yyyy-MM-dd").alias("d"),
        (F.col("sp").cast("double") / 100.0 / F.col("np")).alias("x"),
        (F.col("sc").cast("double") / 100.0 / F.col("nc")).alias("y"),
    )
    mom = pair.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    cov = mom.select(
        "n",
        "mx",
        "my",
        ((F.col("sxx") - n * F.col("mx") * F.col("mx")) / (n - 1)).alias(
            "vxx"
        ),
        ((F.col("syy") - n * F.col("my") * F.col("my")) / (n - 1)).alias(
            "vyy"
        ),
        ((F.col("sxy") - n * F.col("mx") * F.col("my")) / (n - 1)).alias(
            "vxy"
        ),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    t2 = (
        dx * dx * F.col("vyy")
        - 2.0 * dx * dy * F.col("vxy")
        + dy * dy * F.col("vxx")
    ) / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"))
    return (
        pair.crossJoin(F.broadcast(cov))
        .select(
            "d",
            F.round(F.col("x"), 6).alias("purchase_mean"),
            F.round(F.col("y"), 6).alias("click_mean"),
            F.round(t2, 6).alias("hotelling_t2"),
            (t2 > _UCL).alias("out_of_control"),
        )
        .orderBy("d")
    )
