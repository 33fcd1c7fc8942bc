"""Wave-371: Bass diffusion model fit (Bass, Management Science 1969 —
"A New Product Growth Model for Consumer Durables") by the discrete-form
OLS of Bass's own paper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"


@query(
    "model_bass_diffusion",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS s
        FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    seq AS (
        SELECT day, s,
               CAST(COALESCE(SUM(s) OVER (ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS cprev
        FROM daily
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(cprev AS HUGEINT)) AS sx,
               SUM(CAST(cprev AS HUGEINT) * cprev) AS sx2,
               SUM(CAST(cprev AS HUGEINT) * cprev * cprev) AS sx3,
               SUM(CAST(cprev AS HUGEINT) * cprev * cprev * cprev) AS sx4,
               SUM(CAST(s AS HUGEINT)) AS sy,
               SUM(CAST(cprev AS HUGEINT) * s) AS sxy,
               SUM(CAST(cprev AS HUGEINT) * cprev * s) AS sx2y
        FROM seq
    ),
    dets AS (
        SELECT n,
               CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dx,
               CAST(sx2 AS DOUBLE) AS dx2, CAST(sx3 AS DOUBLE) AS dx3,
               CAST(sx4 AS DOUBLE) AS dx4, CAST(sy AS DOUBLE) AS dy,
               CAST(sxy AS DOUBLE) AS dxy, CAST(sx2y AS DOUBLE) AS dx2y
        FROM sums
    ),
    fit AS (
        SELECT n,
               dn * (dx2 * dx4 - dx3 * dx3)
                 - dx * (dx * dx4 - dx3 * dx2)
                 + dx2 * (dx * dx3 - dx2 * dx2) AS det,
               dy * (dx2 * dx4 - dx3 * dx3)
                 - dx * (dxy * dx4 - dx2y * dx3)
                 + dx2 * (dxy * dx3 - dx2y * dx2) AS det_a,
               dn * (dxy * dx4 - dx2y * dx3)
                 - dy * (dx * dx4 - dx3 * dx2)
                 + dx2 * (dx * dx2y - dx2 * dxy) AS det_b,
               dn * (dx2 * dx2y - dx3 * dxy)
                 - dx * (dx * dx2y - dxy * dx2)
                 + dy * (dx * dx3 - dx2 * dx2) AS det_c
        FROM dets
    ),
    coef AS (
        SELECT n, det_a / det AS a, det_b / det AS b, det_c / det AS c
        FROM fit
    ),
    rooted AS (
        -- a non-saturating series can have b^2 - 4ca < 0 (no real market
        -- size); emit NULL structural params then, in BOTH engines
        -- (DuckDB SQRT throws on negatives where Spark yields NaN)
        SELECT n, a, b, c,
               CASE WHEN b * b - 4.0 * c * a >= 0.0
                    THEN (-b - SQRT(b * b - 4.0 * c * a)) / (2.0 * c)
               END AS m
        FROM coef
    )
    SELECT n AS n_days,
           ROUND(a, 6) AS coef_a,
           ROUND(b, 6) AS coef_b,
           ROUND(c, 6) AS coef_c,
           ROUND(m, 2) AS m_potential,
           ROUND(a / m, 6) AS p_innovation,
           ROUND(b + a / m, 6) AS q_imitation
    FROM rooted
    """,
)
def model_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion fit (Bass 1969) on daily signup adoption: the
    discrete form S_t = a + b·C_{t−1} + c·C_{t−1}² from the original
    paper, solved by closed-form 3-parameter OLS (3×3 Cramer), then the
    structural parameters — market potential m as the quadratic root
    (−b − √(b²−4ca))/(2c) (c < 0 on any saturating series, so this is
    the positive root), innovation p = a/m and imitation q = b + p. The
    growth-curve fit every product-adoption forecast starts from.

    Determinism: S and C are exact counts; every moment up to ΣC³S and
    ΣC⁴ is summed in 128-bit integers (ΣC⁴ passes 2⁵³ at sf0.1, so
    double-summing would be shuffle-order-dependent — HUGEINT /
    decimal(38,0) first, ONE cast to double after); the Cramer chain and
    root are fixed double expressions; ROUND 6 (m at 2dp — it is in
    adopter units).

    Scale shape: one calendar collapse, one cumulative window over the
    bounded daily frame, a single 1-row moment aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "signup")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("s"))
    )
    seq = daily.select(
        "s",
        F.coalesce(
            F.sum("s").over(
                Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cprev"),
    )
    c = F.col("cprev").cast(_DEC)
    sums = seq.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(c).alias("sx"),
        F.sum(c * F.col("cprev")).alias("sx2"),
        F.sum(c * F.col("cprev") * F.col("cprev")).alias("sx3"),
        F.sum(c * F.col("cprev") * F.col("cprev") * F.col("cprev")).alias("sx4"),
        F.sum(F.col("s").cast(_DEC)).alias("sy"),
        F.sum(c * F.col("s")).alias("sxy"),
        F.sum(c * F.col("cprev") * F.col("s")).alias("sx2y"),
    )
    d = {
        k: F.col(k).cast("double")
        for k in ["sx", "sx2", "sx3", "sx4", "sy", "sxy", "sx2y"]
    }
    dn = F.col("n").cast("double")
    det = (
        dn * (d["sx2"] * d["sx4"] - d["sx3"] * d["sx3"])
        - d["sx"] * (d["sx"] * d["sx4"] - d["sx3"] * d["sx2"])
        + d["sx2"] * (d["sx"] * d["sx3"] - d["sx2"] * d["sx2"])
    )
    det_a = (
        d["sy"] * (d["sx2"] * d["sx4"] - d["sx3"] * d["sx3"])
        - d["sx"] * (d["sxy"] * d["sx4"] - d["sx2y"] * d["sx3"])
        + d["sx2"] * (d["sxy"] * d["sx3"] - d["sx2y"] * d["sx2"])
    )
    det_b = (
        dn * (d["sxy"] * d["sx4"] - d["sx2y"] * d["sx3"])
        - d["sy"] * (d["sx"] * d["sx4"] - d["sx3"] * d["sx2"])
        + d["sx2"] * (d["sx"] * d["sx2y"] - d["sx2"] * d["sxy"])
    )
    det_c = (
        dn * (d["sx2"] * d["sx2y"] - d["sx3"] * d["sxy"])
        - d["sx"] * (d["sx"] * d["sx2y"] - d["sxy"] * d["sx2"])
        + d["sy"] * (d["sx"] * d["sx3"] - d["sx2"] * d["sx2"])
    )
    coef = sums.select(
        "n",
        (det_a / det).alias("a"),
        (det_b / det).alias("b"),
        (det_c / det).alias("c"),
    )
    disc = F.col("b") * F.col("b") - 4.0 * F.col("c") * F.col("a")
    m = F.when(
        disc >= 0.0,
        (-F.col("b") - F.sqrt(disc)) / (2.0 * F.col("c")),
    )
    return coef.select(
        F.col("n").alias("n_days"),
        F.round("a", 6).alias("coef_a"),
        F.round("b", 6).alias("coef_b"),
        F.round("c", 6).alias("coef_c"),
        F.round(m, 2).alias("m_potential"),
        F.round(F.col("a") / m, 6).alias("p_innovation"),
        F.round(F.col("b") + F.col("a") / m, 6).alias("q_imitation"),
    )
