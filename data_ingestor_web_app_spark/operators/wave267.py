"""Wave-267: Oaxaca-Blinder decomposition of a between-group mean gap
into endowments / coefficients / interaction — the econometric
accounting identity behind every pay-gap and conversion-gap study.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_oaxaca_blinder",
    oracle="""
    WITH pts AS (
        SELECT (event_type = 'purchase')::INT AS g,
               (epoch_us(ts) % 86400000000) / 3600000000.0 AS x,
               value AS y
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    fits AS (
        SELECT g,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(x) AS mx, AVG(y) AS my,
               (SUM(x * y) - COUNT(*) * AVG(x) * AVG(y))
               / (SUM(x * x) - COUNT(*) * AVG(x) * AVG(x)) AS b
        FROM pts GROUP BY g
    ),
    wide AS (
        SELECT MAX(CASE WHEN g = 1 THEN n END) AS n1,
               MAX(CASE WHEN g = 0 THEN n END) AS n0,
               MAX(CASE WHEN g = 1 THEN mx END) AS mx1,
               MAX(CASE WHEN g = 0 THEN mx END) AS mx0,
               MAX(CASE WHEN g = 1 THEN my END) AS my1,
               MAX(CASE WHEN g = 0 THEN my END) AS my0,
               MAX(CASE WHEN g = 1 THEN b END) AS b1,
               MAX(CASE WHEN g = 0 THEN b END) AS b0
        FROM fits
    )
    SELECT n1, n0,
           ROUND(my1 - my0, 6) AS total_gap,
           ROUND(b0 * (mx1 - mx0), 6) AS endowments,
           ROUND(mx0 * (b1 - b0) + ((my1 - b1 * mx1)
                                    - (my0 - b0 * mx0)), 6)
               AS coefficients,
           ROUND((mx1 - mx0) * (b1 - b0), 6) AS interaction,
           ROUND(b0 * (mx1 - mx0)
                 + mx0 * (b1 - b0) + ((my1 - b1 * mx1)
                                      - (my0 - b0 * mx0))
                 + (mx1 - mx0) * (b1 - b0), 6) AS decomposition_sum
    FROM wide
    """,
)
def model_oaxaca_blinder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threefold Oaxaca-Blinder decomposition (Oaxaca, IER 1973;
    Blinder, JHR 1973, public) of the purchase-vs-view mean value gap
    with time-of-day as the explanatory covariate: fit each group's
    OLS y = a_g + b_g x, then the gap my1 - my0 splits EXACTLY into
    endowments b0*(mx1-mx0) (the part explained by the groups keeping
    different hours), coefficients mx0*(b1-b0) + (a1-a0) (different
    behavior at the same hours), and the interaction (mx1-mx0)(b1-b0).
    The emitted decomposition_sum equals total_gap to float precision —
    the accounting identity is asserted, not assumed, in this wave's
    test.

    Exactness device: per-group OLS from one-pass raw moments (the
    agg_linreg chain); intercepts enter as my - b*mx; five rounded
    chains over the same eight scalars.

    Scale shape: one group-keyed moment rollup over the scan, then
    2-row pivot arithmetic — gap studies at 100 TB are one aggregate."""
    pts = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.col("event_type") == "purchase").cast("int").alias("g"),
            (F.expr("unix_micros(ts) % 86400000000") / 3600000000.0).alias(
                "x"
            ),
            F.col("value").alias("y"),
        )
    )
    fits = pts.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        (
            (F.sum(F.col("x") * F.col("y")) - F.count("*") * F.avg("x") * F.avg("y"))
            / (
                F.sum(F.col("x") * F.col("x"))
                - F.count("*") * F.avg("x") * F.avg("x")
            )
        ).alias("b"),
    )
    wide = fits.agg(
        *[
            F.max(F.when(F.col("g") == gv, F.col(c))).alias(f"{c}{gv}")
            for c in ("n", "mx", "my", "b")
            for gv in (1, 0)
        ]
    )
    endow = F.col("b0") * (F.col("mx1") - F.col("mx0"))
    coefs = F.col("mx0") * (F.col("b1") - F.col("b0")) + (
        (F.col("my1") - F.col("b1") * F.col("mx1"))
        - (F.col("my0") - F.col("b0") * F.col("mx0"))
    )
    inter = (F.col("mx1") - F.col("mx0")) * (F.col("b1") - F.col("b0"))
    return wide.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n0").cast("long").alias("n0"),
        F.round(F.col("my1") - F.col("my0"), 6).alias("total_gap"),
        F.round(endow, 6).alias("endowments"),
        F.round(coefs, 6).alias("coefficients"),
        F.round(inter, 6).alias("interaction"),
        F.round(endow + coefs + inter, 6).alias("decomposition_sum"),
    )
