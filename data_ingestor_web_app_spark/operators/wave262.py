"""Wave-262: outbreak analytics on the daily event-count series treated
as an incidence curve — the Cori instantaneous reproduction number R_t
(the EpiEstim estimator) with a literal serial-interval kernel, and the
early exponential growth rate with doubling time and the SIR-implied
R0.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Discretized serial-interval kernel w_1..w_5 (mean ~2.6 days), a fixed
# literal distribution shipped to both engines; sums to 1 exactly in
# binary (all terms are dyadic rationals).
_SI_W = [0.25, 0.3125, 0.25, 0.125, 0.0625]


@query(
    "events_rt_cori",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lam AS (
        SELECT day, y,
               {" + ".join(f"{w!r} * LAG(y, {k + 1}) OVER (ORDER BY day)"
                           for k, w in enumerate(_SI_W))} AS lambda_t
        FROM daily
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day, y AS incidence,
           ROUND(lambda_t, 6) AS lambda_t,
           ROUND(y / lambda_t, 6) AS r_t,
           y / lambda_t > 1.0 AS growing
    FROM lam WHERE lambda_t IS NOT NULL AND lambda_t > 0
    """,
)
def events_rt_cori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instantaneous reproduction number R_t (Cori, Ferguson, Fraser &
    Cauchemez, AJE 2013, public — the EpiEstim estimator's posterior
    mean with a flat prior): R_t = I_t / Lambda_t, where Lambda_t =
    sum_s w_s I_{{t-s}} convolves incidence with a LITERAL discretized
    serial-interval kernel (dyadic weights, exactly summing to 1). The
    same renewal-equation arithmetic monitors anything self-exciting —
    retries causing retries, shares causing shares — which is why this
    belongs in an events engine, not just an epi package.

    Exactness device: the kernel is five literal dyadic multiplies of
    integer counts over LAG windows; R_t is one division; the growing
    flag compares the identical unrounded ratio.

    Scale shape: daily rollup + one five-lag window over the bounded
    day frame; per-region R_t adds the region key to both."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    w = Window.orderBy("day")
    lam_expr = None
    for k, wt in enumerate(_SI_W):
        term = F.lit(wt) * F.lag("y", k + 1).over(w)
        lam_expr = term if lam_expr is None else lam_expr + term
    lam = daily.select("day", "y", lam_expr.alias("lambda_t"))
    rt = F.col("y") / F.col("lambda_t")
    return lam.where(
        F.col("lambda_t").isNotNull() & (F.col("lambda_t") > 0)
    ).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("y").alias("incidence"),
        F.round("lambda_t", 6).alias("lambda_t"),
        F.round(rt, 6).alias("r_t"),
        (rt > 1.0).alias("growing"),
    )


_SIR_GAMMA = 1.0 / 7.0  # literal recovery rate (7-day infectious period)
_GROWTH_DAYS = 10


@query(
    "events_epidemic_growth",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT y, ROW_NUMBER() OVER (ORDER BY day) AS t
        FROM daily
    ),
    early AS (
        SELECT t, LN(CAST(y AS DOUBLE)) AS ly
        FROM idx WHERE t <= {_GROWTH_DAYS} AND y > 0
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               (SUM(t * ly) - COUNT(*) * AVG(t) * AVG(ly))
               / (SUM(CAST(t AS DOUBLE) * t)
                  - COUNT(*) * AVG(t) * AVG(t)) AS r
        FROM early
    )
    SELECT n AS n_days_fit,
           ROUND(r, 6) AS growth_rate,
           ROUND(CASE WHEN r <= 0 THEN -1.0 ELSE LN(2.0) / r END, 6)
               AS doubling_days,
           ROUND(1.0 + r / {_SIR_GAMMA!r}, 6) AS r0_sir,
           ROUND(EXP(r), 6) AS daily_multiplier
    FROM fit
    """,
)
def events_epidemic_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Early exponential growth analysis (Wallinga & Lipsitch, Proc R
    Soc B 2007, public): the log-linear OLS growth rate r over the
    first 10 days of the incidence curve, the doubling time ln2/r
    (sentinel -1 when not growing), the SIR-implied R0 = 1 + r/gamma
    at a literal gamma = 1/7, and the plain daily multiplier e^r. The
    two-line summary every outbreak (or virality, or incident-storm)
    review starts with, complementing events_rt_cori's day-by-day view
    with a single early-phase number.

    Exactness device: the OLS chain uses exact integer day indices and
    LN of integer counts; sentinels and outputs are single rounded
    chains.

    Scale shape: daily rollup + one aggregate over a 10-row slice."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("y"))
    )
    idx = daily.select(
        "y", F.row_number().over(Window.orderBy("day")).alias("t")
    )
    early = idx.where(
        (F.col("t") <= _GROWTH_DAYS) & (F.col("y") > 0)
    ).select("t", F.log(F.col("y").cast("double")).alias("ly"))
    t_d = F.col("t").cast("double")
    fit = early.agg(
        F.count("*").cast("long").alias("n"),
        (
            (
                F.sum(F.col("t") * F.col("ly"))
                - F.count("*") * F.avg("t") * F.avg("ly")
            )
            / (F.sum(t_d * F.col("t")) - F.count("*") * F.avg("t") * F.avg("t"))
        ).alias("r"),
    )
    return fit.select(
        F.col("n").alias("n_days_fit"),
        F.round("r", 6).alias("growth_rate"),
        F.round(
            F.when(F.col("r") <= 0, F.lit(-1.0)).otherwise(
                math.log(2.0) / F.col("r")
            ),
            6,
        ).alias("doubling_days"),
        F.round(1.0 + F.col("r") / _SIR_GAMMA, 6).alias("r0_sir"),
        F.round(F.exp("r"), 6).alias("daily_multiplier"),
    )
