"""Wave-324: the classical homogeneity screen suite (Buishand, SNHT,
von Neumann) and Bartels' rank version of the von Neumann ratio.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DAILY = """
    daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    )
"""


@query(
    "events_homogeneity_suite",
    oracle=f"""
    WITH {_DAILY},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(CAST(x AS DOUBLE)) AS mu,
               SQRT(VAR_POP(CAST(x AS DOUBLE))) AS sd
        FROM daily
    ),
    walk AS (
        SELECT day, x,
               ROW_NUMBER() OVER (ORDER BY day) AS i,
               SUM(CAST(x AS DOUBLE) - m.mu) OVER (ORDER BY day) AS sk
        FROM daily CROSS JOIN mom m
    ),
    lagd AS (
        SELECT x, LEAD(x) OVER (ORDER BY day) AS nx FROM daily
    ),
    vn AS (
        SELECT SUM(CAST(nx - x AS DOUBLE) * (nx - x)) AS d2
        FROM lagd WHERE nx IS NOT NULL
    ),
    snht AS (
        SELECT MAX(p.i * ((p.sk / p.i) / m.sd) * ((p.sk / p.i) / m.sd)
                   + (m.n - p.i)
                     * ((-p.sk / (m.n - p.i)) / m.sd)
                     * ((-p.sk / (m.n - p.i)) / m.sd)) AS t_max
        FROM walk p CROSS JOIN mom m
        WHERE p.i < m.n
    ),
    agg AS (
        SELECT m.n, m.sd,
               (MAX(w.sk) - MIN(w.sk)) / m.sd AS r_range
        FROM walk w CROSS JOIN mom m
        GROUP BY m.n, m.sd
    )
    SELECT a.n AS n_days,
           ROUND(a.r_range / SQRT(CAST(a.n AS DOUBLE)), 6)
               AS buishand_r_sqrtn,
           ROUND(s.t_max, 6) AS snht_t_max,
           ROUND(v.d2 / (a.n * a.sd * a.sd), 6) AS von_neumann_ratio,
           v.d2 / (a.n * a.sd * a.sd) < 2 AS positively_dependent
    FROM agg a CROSS JOIN vn v CROSS JOIN snht s
    """,
)
def events_homogeneity_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classical homogeneity screen suite on the daily series (all
    public): Buishand's rescaled cumulative-deviation range R/(s·sqrt n)
    (Buishand, J. Hydrology 1982 — sensitive to a mid-series level
    shift), Alexandersson's SNHT max T(k) = k·z1² + (n-k)·z2²
    (J. Climatology 1986 — sensitive to early/late breaks), and von
    Neumann's ratio Σ(x_{{t+1}}-x_t)²/(n·s²) (Ann. Math. Stat. 1941 —
    E = 2 under independence, < 2 under positive dependence OR any
    break). Hydrology/climatology run exactly this trio before
    trusting a series; here it fronts the registry's Pettitt/CUSUM
    rows with the three screens' complementary break sensitivities.

    Determinism: daily counts exact; one pass of fixed chains over the
    calendar frame (cumulative walk, lead diffs); ROUND 6; the flag
    compares the unrounded ratio to the literal 2.

    Scale shape: daily collapse first; every window runs over the
    calendar-bounded Aggregate frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("x").cast("double")).alias("mu"),
        F.sqrt(F.var_pop(F.col("x").cast("double"))).alias("sd"),
    )
    w = Window.orderBy("day")
    walk = daily.crossJoin(F.broadcast(mom)).select(
        "day",
        "x",
        "n",
        "mu",
        "sd",
        F.row_number().over(w).alias("i"),
        F.sum(F.col("x").cast("double") - F.col("mu")).over(w).alias("sk"),
    )
    agg = walk.groupBy("n", "sd").agg(
        ((F.max("sk") - F.min("sk")) / F.first("sd")).alias("r_range")
    )
    snht = (
        walk.where(F.col("i") < F.col("n"))
        .select(
            (
                F.col("i")
                * ((F.col("sk") / F.col("i")) / F.col("sd"))
                * ((F.col("sk") / F.col("i")) / F.col("sd"))
                + (F.col("n") - F.col("i"))
                * ((-F.col("sk") / (F.col("n") - F.col("i"))) / F.col("sd"))
                * ((-F.col("sk") / (F.col("n") - F.col("i"))) / F.col("sd"))
            ).alias("t")
        )
        .agg(F.max("t").alias("t_max"))
    )
    lagd = daily.select("x", F.lead("x").over(w).alias("nx")).where(
        F.col("nx").isNotNull()
    )
    vn = lagd.agg(
        F.sum(
            (F.col("nx") - F.col("x")).cast("double")
            * (F.col("nx") - F.col("x"))
        ).alias("d2")
    )
    j = (
        agg.crossJoin(F.broadcast(snht))
        .crossJoin(F.broadcast(vn))
    )
    ratio = F.col("d2") / (F.col("n") * F.col("sd") * F.col("sd"))
    return j.select(
        F.col("n").alias("n_days"),
        F.round(
            F.col("r_range") / F.sqrt(F.col("n").cast("double")), 6
        ).alias("buishand_r_sqrtn"),
        F.round("t_max", 6).alias("snht_t_max"),
        F.round(ratio, 6).alias("von_neumann_ratio"),
        (ratio < 2).alias("positively_dependent"),
    )


@query(
    "agg_bartels_rank",
    oracle=f"""
    WITH {_DAILY},
    rk AS (
        SELECT day,
               ROW_NUMBER() OVER (ORDER BY x, day) AS r
        FROM daily
    ),
    seq AS (
        SELECT r, LEAD(r) OVER (ORDER BY day) AS nr,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM rk
    ),
    s AS (
        SELECT n,
               SUM(CASE WHEN nr IS NOT NULL
                        THEN CAST(nr - r AS DOUBLE) * (nr - r) END) AS num,
               SUM((r - (n + 1) / 2.0) * (r - (n + 1) / 2.0)) AS den
        FROM seq GROUP BY n
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(num / den, 6) AS bartels_rvn,
           ROUND((num / den - 2) / SQRT(4.0 / n), 6) AS z_bartels,
           ABS((num / den - 2) / SQRT(4.0 / n)) > 1.959964 AS nonrandom
    FROM s
    """,
)
def agg_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels' rank test of randomness (Bartels, JASA 1982, public):
    von Neumann's successive-difference ratio computed on the RANKS of
    the daily series — RVN = Σ(r_{{t+1}}-r_t)² / Σ(r_t - r̄)², E = 2,
    Var ≈ 4/n — which keeps the von Neumann idea but sheds its
    normality assumption entirely (Bartels showed ~0.91 asymptotic
    efficiency against the parametric version). Ranks break value ties
    by day (documented total order). Completes the randomness corner:
    turning points (wiggle count), runs (sign changes), Bartels (rank
    momentum).

    Determinism: ranks are total-ordered integers over the calendar
    frame; the ratio's numerator and denominator are exact integer
    sums cast once; ROUND 6; flag compares unrounded.

    Scale shape: daily collapse; rank + lead windows over the calendar
    frame; one aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    rk = daily.select(
        "day", F.row_number().over(Window.orderBy("x", "day")).alias("r")
    )
    w = Window.orderBy("day")
    seq = rk.select(
        "r",
        F.lead("r").over(w).alias("nr"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    s = seq.groupBy("n").agg(
        F.sum(
            F.when(
                F.col("nr").isNotNull(),
                (F.col("nr") - F.col("r")).cast("double")
                * (F.col("nr") - F.col("r")),
            )
        ).alias("num"),
        F.sum(
            (F.col("r") - (F.col("n") + 1) / 2.0)
            * (F.col("r") - (F.col("n") + 1) / 2.0)
        ).alias("den"),
    )
    rvn = F.col("num") / F.col("den")
    z = (rvn - 2) / F.sqrt(4.0 / F.col("n"))
    return s.select(
        F.col("n").alias("n_days"),
        F.round(rvn, 6).alias("bartels_rvn"),
        F.round(z, 6).alias("z_bartels"),
        (F.abs(z) > 1.959964).alias("nonrandom"),
    )
