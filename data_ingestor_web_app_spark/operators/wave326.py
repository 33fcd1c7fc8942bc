"""Wave-326: the 2x2 association shelf (phi, Yule's Q and Y) and the
point-biserial correlation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_yule_q_phi",
    oracle="""
    WITH cm AS (
        SELECT CAST(SUM(CASE WHEN w = 1 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN w = 1 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN w = 0 AND y = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(SUM(CASE WHEN w = 0 AND y = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS d
        FROM (
            SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS w,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
            FROM events)
    )
    SELECT a, b, c, d,
           ROUND((CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                 / SQRT(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)),
                 6) AS phi,
           ROUND((CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
                 / (CAST(a AS DOUBLE) * d + CAST(b AS DOUBLE) * c), 6)
               AS yule_q,
           ROUND((SQRT(CAST(a AS DOUBLE) * d) - SQRT(CAST(b AS DOUBLE) * c))
                 / (SQRT(CAST(a AS DOUBLE) * d) + SQRT(CAST(b AS DOUBLE) * c)),
                 6) AS yule_y
    FROM cm
    """,
)
def agg_yule_q_phi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 2x2 association shelf (all public): the phi coefficient
    (ad-bc)/sqrt of the margin product (Pearson's r specialized to two
    binaries — margin-sensitive), Yule's Q = (ad-bc)/(ad+bc) (Yule
    1900 — the odds ratio mapped onto [-1,1], margin-FREE) and Yule's
    colligation Y = (sqrt(ad)-sqrt(bc))/(sqrt(ad)+sqrt(bc)) (Yule 1912
    — the geometric compromise), on the weekend x purchase table. The
    textbook ordering |phi| <= |Y| <= |Q| is pinned in pytest — the
    three coefficients ARE the lesson that 'association strength'
    depends on what you hold fixed.

    Determinism: four exact integer cells; three fixed chains rounded
    6dp.

    Scale shape: one conditional aggregate over the scan."""
    cm = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("w"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    ).agg(
        F.sum(F.when((F.col("w") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when((F.col("w") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("w") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("w") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("d"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in ("a", "b", "c", "d"))
    return cm.select(
        "a",
        "b",
        "c",
        "d",
        F.round(
            (a * d - b * c)
            / F.sqrt((a + b) * (c + d) * (a + c) * (b + d)),
            6,
        ).alias("phi"),
        F.round((a * d - b * c) / (a * d + b * c), 6).alias("yule_q"),
        F.round(
            (F.sqrt(a * d) - F.sqrt(b * c)) / (F.sqrt(a * d) + F.sqrt(b * c)),
            6,
        ).alias("yule_y"),
    )


@query(
    "agg_point_biserial",
    oracle="""
    WITH u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CAST(ROUND(value * 1000) AS BIGINT) AS m
        FROM events
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS n1,
               CAST(SUM(m) AS BIGINT) AS s1,
               SUM(CAST(m AS HUGEINT) * m) AS s2,
               CAST(SUM(CASE WHEN g = 1 THEN m ELSE 0 END) AS BIGINT) AS sg1
        FROM u
    ),
    d AS (
        SELECT n, n1, n - n1 AS n0,
               CAST(sg1 AS DOUBLE) / n1 / 1000 AS m1,
               CAST(s1 - sg1 AS DOUBLE) / (n - n1) / 1000 AS m0,
               SQRT(CAST(s2 AS DOUBLE) / n / 1e6
                    - (CAST(s1 AS DOUBLE) / n / 1000)
                      * (CAST(s1 AS DOUBLE) / n / 1000)) AS sd,
               CAST(n1 AS DOUBLE) / n AS p
        FROM mom
    )
    SELECT n AS n_obs, CAST(n1 AS BIGINT) AS n_weekend,
           ROUND(m1, 6) AS mean_weekend,
           ROUND(m0, 6) AS mean_weekday,
           ROUND((m1 - m0) / sd * SQRT(p * (1 - p)), 6) AS r_pb,
           ROUND((m1 - m0) / sd * SQRT(p * (1 - p))
                 * SQRT((n - 2)
                        / (1 - ((m1 - m0) / sd * SQRT(p * (1 - p)))
                             * ((m1 - m0) / sd * SQRT(p * (1 - p))))), 6)
               AS t_stat
    FROM d
    """,
)
def agg_point_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-biserial correlation (the classical binary-vs-continuous
    correlation; identical to Pearson's r with a 0/1 regressor — Lev
    1949 formalization, public): r_pb = (m1 - m0)/s · sqrt(p(1-p)) for
    weekend membership against event value, with the exact-identity
    t = r·sqrt((n-2)/(1-r²)) reported alongside (numerically the
    two-sample pooled t — the equivalence is the pedagogical point, and
    the registry's Welch/t rows give the unpooled verdicts). The
    item-analysis building block (item-total discrimination IS a
    point-biserial) attached to the simplest possible design.

    Determinism: group sums and the pooled second moment are exact
    integer milli-sums; fixed chains rounded 6dp.

    Scale shape: one conditional moment aggregate over the scan."""
    u = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
        F.round(F.col("value") * 1000).cast("long").alias("m"),
    )
    mom = u.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("g").cast("long").alias("n1"),
        F.sum("m").cast("long").alias("s1"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("s2"),
        F.sum(F.when(F.col("g") == 1, F.col("m")).otherwise(0))
        .cast("long")
        .alias("sg1"),
    )
    m1 = F.col("sg1").cast("double") / F.col("n1") / 1000
    m0 = (F.col("s1") - F.col("sg1")).cast("double") / (
        F.col("n") - F.col("n1")
    ) / 1000
    mu = F.col("s1").cast("double") / F.col("n") / 1000
    sd = F.sqrt(F.col("s2").cast("double") / F.col("n") / 1e6 - mu * mu)
    p = F.col("n1").cast("double") / F.col("n")
    r = (m1 - m0) / sd * F.sqrt(p * (1 - p))
    t = r * F.sqrt((F.col("n") - 2) / (1 - r * r))
    return mom.select(
        F.col("n").alias("n_obs"),
        F.col("n1").alias("n_weekend"),
        F.round(m1, 6).alias("mean_weekend"),
        F.round(m0, 6).alias("mean_weekday"),
        F.round(r, 6).alias("r_pb"),
        F.round(t, 6).alias("t_stat"),
    )
