"""Wave-282: the Bates-Granger optimal forecast combination (the 1969
result that launched forecast ensembling) and the shorth / least median
of squares location-scale (the 50%-breakdown mode estimator).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_bates_granger_blend",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    preds AS (
        SELECT y,
               LAG(y, 1) OVER (ORDER BY day) AS f1,
               LAG(y, 7) OVER (ORDER BY day) AS f2
        FROM daily
    ),
    errs AS (
        SELECT f1 - y AS e1, f2 - y AS e2
        FROM preds WHERE f2 IS NOT NULL
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(e1 * e1) / COUNT(*) AS v1,
               SUM(e2 * e2) / COUNT(*) AS v2,
               SUM(e1 * e2) / COUNT(*) AS c12
        FROM errs
    ),
    wts AS (
        SELECT n, v1, v2, c12,
               (v2 - c12) / (v1 + v2 - 2 * c12) AS w1
        FROM mom
    )
    SELECT n AS n_obs,
           ROUND(v1, 6) AS mse_persistence,
           ROUND(v2, 6) AS mse_seasonal,
           ROUND(w1, 6) AS w_persistence,
           ROUND(1 - w1, 6) AS w_seasonal,
           ROUND(w1 * w1 * v1 + (1 - w1) * (1 - w1) * v2
                 + 2 * w1 * (1 - w1) * c12, 6) AS mse_combined,
           ROUND(LEAST(v1, v2)
                 - (w1 * w1 * v1 + (1 - w1) * (1 - w1) * v2
                    + 2 * w1 * (1 - w1) * c12), 6)
               AS gain_vs_best_single
    FROM wts
    """,
)
def model_bates_granger_blend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Optimal forecast combination (Bates & Granger, OR Quarterly
    1969, public) of the persistence and seasonal forecasters: the
    convex weights minimizing combined error variance are w1 = (v2 -
    c12)/(v1 + v2 - 2*c12) in closed form from the error second
    moments, and the combined MSE w'Σw is NEVER worse than the best
    single forecaster (asserted in the test). The third leg of this
    round's forecast-comparison suite: Diebold-Mariano asks "is one
    better?", the randomization test asks it distribution-free, and
    Bates-Granger answers "stop choosing — blend, with THESE weights".

    Exactness device: error moments in one pass; the weight and both
    MSE chains round once.

    Scale shape: daily rollup, two lag windows, one aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    w = Window.orderBy("day")
    errs = (
        daily.select(
            "y",
            F.lag("y", 1).over(w).alias("f1"),
            F.lag("y", 7).over(w).alias("f2"),
        )
        .where(F.col("f2").isNotNull())
        .select(
            (F.col("f1") - F.col("y")).alias("e1"),
            (F.col("f2") - F.col("y")).alias("e2"),
        )
    )
    mom = errs.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum(F.col("e1") * F.col("e1")) / F.count("*")).alias("v1"),
        (F.sum(F.col("e2") * F.col("e2")) / F.count("*")).alias("v2"),
        (F.sum(F.col("e1") * F.col("e2")) / F.count("*")).alias("c12"),
    )
    w1 = (F.col("v2") - F.col("c12")) / (
        F.col("v1") + F.col("v2") - 2 * F.col("c12")
    )
    mse_c = (
        w1 * w1 * F.col("v1")
        + (1 - w1) * (1 - w1) * F.col("v2")
        + 2 * w1 * (1 - w1) * F.col("c12")
    )
    return mom.select(
        F.col("n").alias("n_obs"),
        F.round("v1", 6).alias("mse_persistence"),
        F.round("v2", 6).alias("mse_seasonal"),
        F.round(w1, 6).alias("w_persistence"),
        F.round(1 - w1, 6).alias("w_seasonal"),
        F.round(mse_c, 6).alias("mse_combined"),
        F.round(F.least(F.col("v1"), F.col("v2")) - mse_c, 6).alias(
            "gain_vs_best_single"
        ),
    )


@query(
    "agg_shorth_lms",
    oracle="""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    ),
    ordered AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY x, hidx) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM hourly
    ),
    h AS (SELECT ANY_VALUE(n) // 2 + 1 AS hh, ANY_VALUE(n) AS n
          FROM ordered),
    spans AS (
        SELECT a.i, a.x AS lo, b.x AS hi, b.x - a.x AS width
        FROM ordered a
        JOIN h ON TRUE
        JOIN ordered b ON b.i = a.i + h.hh - 1
    ),
    best AS (
        SELECT lo, hi, width,
               ROW_NUMBER() OVER (ORDER BY width, lo) AS rk
        FROM spans
    )
    SELECT (SELECT n FROM h) AS n_obs,
           (SELECT hh FROM h) AS half_size,
           ROUND(lo, 6) AS shorth_lo,
           ROUND(hi, 6) AS shorth_hi,
           ROUND((lo + hi) / 2, 6) AS lms_location,
           ROUND(width / 2, 6) AS lms_scale_raw
    FROM best WHERE rk = 1
    """,
)
def agg_shorth_lms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shorth and least-median-of-squares location (Andrews et al.,
    Princeton Robustness Study 1972 for the shorth; Rousseeuw, JASA
    1984 for LMS, public): the SHORTEST interval containing half the
    hourly means — its midpoint is the LMS location estimate (a robust
    MODE, 50% breakdown) and its half-width the LMS scale. Where mean
    and median track the distribution's center of mass, the shorth
    tracks its densest region — the right summary for multimodal
    metrics (a bimodal latency profile has a misleading median but an
    honest shorth).

    Exactness device: the sweep over candidate intervals is an exact
    self-join on order-statistic index i -> i + h - 1; the minimum has
    a total order (width, lo).

    Scale shape: hourly rollup, one ranked frame, one index equi-join
    over the bounded series — O(n) candidate intervals, not O(n^2)."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"))
    )
    ordered = hourly.select(
        "x",
        F.row_number().over(Window.orderBy("x", "hidx")).alias("i"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    hh = ordered.agg(
        (F.first("n") / 2 + 1).cast("long").alias("hh"),
        F.first("n").alias("n"),
    )
    a = ordered.select(F.col("i").alias("ia"), F.col("x").alias("lo"))
    b = ordered.select(F.col("i").alias("ib"), F.col("x").alias("hi"))
    spans = (
        a.crossJoin(F.broadcast(hh))
        .join(b, F.col("ib") == F.col("ia") + F.col("hh") - 1)
        .select(
            "n",
            "hh",
            "lo",
            "hi",
            (F.col("hi") - F.col("lo")).alias("width"),
        )
    )
    best = spans.withColumn(
        "rk", F.row_number().over(Window.orderBy("width", "lo"))
    ).where(F.col("rk") == 1)
    return best.select(
        F.col("n").alias("n_obs"),
        F.col("hh").alias("half_size"),
        F.round("lo", 6).alias("shorth_lo"),
        F.round("hi", 6).alias("shorth_hi"),
        F.round((F.col("lo") + F.col("hi")) / 2, 6).alias("lms_location"),
        F.round(F.col("width") / 2, 6).alias("lms_scale_raw"),
    )
