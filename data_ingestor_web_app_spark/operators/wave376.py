"""Wave-376: the Cox-Stuart trend test (Cox & Stuart, Biometrika 1955 —
the sign test on first-half/second-half pairs) and the Shewhart X̄-R
control chart (Shewhart 1931; constants from the ASTM STP-15D tables)
over daily event loads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_cox_stuart",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY day) AS i,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    -- pair i with i + floor(n/2); the middle element of an odd series is
    -- unpaired (the original Cox-Stuart convention)
    pairs AS (
        SELECT a.c AS c1, b.c AS c2
        FROM idx a JOIN idx b ON b.i = a.i + a.n // 2
        WHERE a.i <= a.n // 2
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN c2 > c1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS s_plus,
               CAST(SUM(CASE WHEN c2 < c1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS s_minus
        FROM pairs
    )
    SELECT s_plus, s_minus,
           s_plus + s_minus AS n_eff,
           ROUND((2.0 * GREATEST(s_plus, s_minus) - (s_plus + s_minus))
                 / SQRT(CAST(s_plus + s_minus AS DOUBLE)), 6) AS z,
           CASE WHEN s_plus > s_minus THEN 'increasing'
                WHEN s_minus > s_plus THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM s
    """,
)
def agg_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test (1955) on the daily event-count series: pair
    day i with day i + ⌊n/2⌋, count sign agreements — under no trend the
    signs are Binomial(n', ½), and the normal-approximation
    z = (2·max(S⁺,S⁻) − n')/√n' flags a monotone drift. The
    distribution-free trend check run before fitting anything seasonal.

    Determinism: S⁺/S⁻/n' are exact integers; z is one double expression
    ROUND 6; the trend label compares exact integers.

    Scale shape: one calendar collapse, a row_number over the bounded
    daily frame, and a half-offset self-equi-join on the index."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    idx = daily.select(
        "c",
        F.row_number().over(Window.orderBy("day")).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    a = idx.select("c", "i", "n")
    b = idx.select(F.col("c").alias("c2"), F.col("i").alias("j"))
    pairs = a.where(F.col("i") <= F.expr("n div 2")).join(
        b, F.col("j") == F.col("i") + F.expr("n div 2")
    )
    s = pairs.agg(
        F.sum(F.when(F.col("c2") > F.col("c"), 1).otherwise(0))
        .cast("long")
        .alias("s_plus"),
        F.sum(F.when(F.col("c2") < F.col("c"), 1).otherwise(0))
        .cast("long")
        .alias("s_minus"),
    )
    n_eff = F.col("s_plus") + F.col("s_minus")
    return s.select(
        "s_plus",
        "s_minus",
        n_eff.alias("n_eff"),
        F.round(
            (2.0 * F.greatest(F.col("s_plus"), F.col("s_minus")) - n_eff)
            / F.sqrt(n_eff.cast("double")),
            6,
        ).alias("z"),
        F.when(F.col("s_plus") > F.col("s_minus"), "increasing")
        .when(F.col("s_minus") > F.col("s_plus"), "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


# ASTM STP-15D control-chart constants for subgroup size n = 7
_A2, _D3, _D4 = 0.419, 0.076, 1.924


@query(
    "events_xbar_r_chart",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT day, c, (ROW_NUMBER() OVER (ORDER BY day) - 1) // 7 AS grp,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    full_weeks AS (
        SELECT grp, c FROM idx WHERE grp < n // 7
    ),
    sub AS (
        SELECT grp,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(MAX(c) - MIN(c) AS BIGINT) AS r
        FROM full_weeks GROUP BY grp
    ),
    center AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(CAST(s AS DOUBLE)) / (7 * COUNT(*)) AS xbar,
               SUM(CAST(r AS DOUBLE)) / COUNT(*) AS rbar
        FROM sub
    ),
    flagsum AS (
        SELECT CAST(SUM(CASE WHEN s.s / 7.0 > c.xbar + {_A2} * c.rbar
                          OR s.s / 7.0 < c.xbar - {_A2} * c.rbar
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_xbar_ooc,
               CAST(SUM(CASE WHEN s.r > {_D4} * c.rbar
                          OR s.r < {_D3} * c.rbar
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_range_ooc
        FROM sub s, center c
    )
    SELECT c.k AS n_subgroups,
           ROUND(c.xbar, 4) AS xbar_center,
           ROUND(c.rbar, 4) AS rbar_center,
           ROUND(c.xbar + {_A2} * c.rbar, 4) AS x_ucl,
           ROUND(c.xbar - {_A2} * c.rbar, 4) AS x_lcl,
           ROUND({_D4} * c.rbar, 4) AS r_ucl,
           ROUND({_D3} * c.rbar, 4) AS r_lcl,
           f.n_xbar_ooc, f.n_range_ooc
    FROM center c, flagsum f
    """,
)
def events_xbar_r_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart X̄-R chart over weekly subgroups (7 consecutive days) of
    the daily event counts, using the published STP-15D constants for
    n = 7 (A₂ = 0.419, D₃ = 0.076, D₄ = 1.924): center lines X̿ and R̄,
    the ±A₂R̄ and [D₃R̄, D₄R̄] control limits, and how many subgroups
    fall out of control on each chart — the first chart any SPC
    deployment draws. Trailing partial weeks are dropped (subgroup size
    must be constant for the constants to apply).

    Determinism: subgroup sums and ranges are exact integers; centers
    and limits are fixed double expressions with literal constants,
    ROUND 4; out-of-control flags compare the SAME double expressions in
    both engines.

    Scale shape: calendar collapse → bounded weekly groupBy → one 1-row
    aggregate; the flags stage is a broadcast of the 1-row center."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    idx = daily.select(
        "c",
        ((F.row_number().over(Window.orderBy("day")) - 1) / 7)
        .cast("long")
        .alias("grp"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    full = idx.where(F.col("grp") < F.expr("n div 7"))
    sub = full.groupBy("grp").agg(
        F.sum("c").cast("long").alias("s"),
        (F.max("c") - F.min("c")).cast("long").alias("r"),
    )
    center = sub.agg(
        F.count("*").cast("long").alias("k"),
        (F.sum(F.col("s").cast("double")) / (7 * F.count("*"))).alias("xbar"),
        (F.sum(F.col("r").cast("double")) / F.count("*")).alias("rbar"),
    )
    flagsum = (
        sub.crossJoin(F.broadcast(center))
        .agg(
            F.sum(
                F.when(
                    (F.col("s") / 7.0 > F.col("xbar") + _A2 * F.col("rbar"))
                    | (F.col("s") / 7.0 < F.col("xbar") - _A2 * F.col("rbar")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_xbar_ooc"),
            F.sum(
                F.when(
                    (F.col("r") > _D4 * F.col("rbar"))
                    | (F.col("r") < _D3 * F.col("rbar")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_range_ooc"),
        )
    )
    return center.crossJoin(F.broadcast(flagsum)).select(
        F.col("k").alias("n_subgroups"),
        F.round(F.col("xbar"), 4).alias("xbar_center"),
        F.round(F.col("rbar"), 4).alias("rbar_center"),
        F.round(F.col("xbar") + _A2 * F.col("rbar"), 4).alias("x_ucl"),
        F.round(F.col("xbar") - _A2 * F.col("rbar"), 4).alias("x_lcl"),
        F.round(_D4 * F.col("rbar"), 4).alias("r_ucl"),
        F.round(_D3 * F.col("rbar"), 4).alias("r_lcl"),
        "n_xbar_ooc",
        "n_range_ooc",
    )
