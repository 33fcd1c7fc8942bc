"""Wave-302: empirical semivariogram of the hourly series and the
Hyndman-Koehler forecast-accuracy triple (MAPE/sMAPE/MASE) for the
seasonal-naive baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_variogram",
    oracle="""
    WITH hourly AS (
        SELECT epoch_us(DATE_TRUNC('hour', ts)) // 3600000000 AS hidx,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    lags AS (SELECT UNNEST(RANGE(1, 7)) AS h),
    pairs AS (
        SELECT l.h,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(CAST((b.x - a.x) AS DOUBLE) * (b.x - a.x)) AS ss
        FROM lags l
        JOIN hourly a ON TRUE
        JOIN hourly b ON b.hidx = a.hidx + l.h
        GROUP BY l.h
    ),
    sill AS (
        SELECT VAR_POP(CAST(x AS DOUBLE)) AS v FROM hourly
    )
    SELECT CAST(p.h AS BIGINT) AS lag_hours, p.n_pairs,
           ROUND(p.ss / (2 * p.n_pairs), 6) AS semivariance,
           ROUND(p.ss / (2 * p.n_pairs) / s.v, 6) AS sill_ratio
    FROM pairs p CROSS JOIN sill s
    ORDER BY lag_hours
    """,
)
def events_variogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram (Matheron 1963, public) of the hourly
    volume series: gamma(h) = (1/2N(h)) Σ (x_{t+h} - x_t)² at lags
    h = 1..6 hours, normalized by the series variance (the sill). The
    geostatistician's dual of the ACF — gamma(h) = sill·(1 - rho(h))
    for a stationary series, so a sill_ratio climbing to 1 by lag 6
    reads "memory exhausted in six hours", while a flat-low profile is
    the nugget-free smooth field. Complements the registry's ACF/PACF
    rows with the increment-based view that tolerates mild trend.

    Determinism: hourly counts are exact integers keyed by integer
    epoch-hour; squared-increment sums are exact integers in double
    range; one rounded ratio pair per lag.

    Scale shape: hourly collapse first (one partial-agg shuffle); the
    lag pairing is an equi-join of the calendar-bounded hourly frame
    against a 6-row literal lag dim — never corpus-sized."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(
            (F.expr("unix_micros(date_trunc('hour', ts))") / 3600000000)
            .cast("long")
            .alias("hidx")
        )
        .agg(F.count("*").cast("long").alias("x"))
    )
    lags = spark.range(1, 7).select(F.col("id").alias("h"))
    a = hourly.select(F.col("hidx").alias("ia"), F.col("x").alias("xa"))
    b = hourly.select(F.col("hidx").alias("ib"), F.col("x").alias("xb"))
    pairs = (
        lags.crossJoin(a)
        .join(b, F.col("ib") == F.col("ia") + F.col("h"))
        .groupBy("h")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(
                (F.col("xb") - F.col("xa")).cast("double")
                * (F.col("xb") - F.col("xa"))
            ).alias("ss"),
        )
    )
    sill = hourly.agg(F.var_pop(F.col("x").cast("double")).alias("v"))
    return (
        pairs.crossJoin(F.broadcast(sill))
        .select(
            F.col("h").cast("long").alias("lag_hours"),
            "n_pairs",
            F.round(F.col("ss") / (2 * F.col("n_pairs")), 6).alias(
                "semivariance"
            ),
            F.round(
                F.col("ss") / (2 * F.col("n_pairs")) / F.col("v"), 6
            ).alias("sill_ratio"),
        )
        .orderBy("lag_hours")
    )


@query(
    "model_forecast_accuracy",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    seq AS (
        SELECT x,
               LAG(x, 7) OVER (ORDER BY day) AS f,
               LAG(x, 1) OVER (ORDER BY day) AS prev
        FROM daily
    ),
    scale AS (
        SELECT AVG(ABS(CAST(x - prev AS DOUBLE))) AS mae_naive1
        FROM seq WHERE prev IS NOT NULL
    ),
    err AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
               AVG(ABS(CAST(x - f AS DOUBLE))) AS mae,
               AVG(ABS(CAST(x - f AS DOUBLE)) / x) AS mape,
               AVG(2.0 * ABS(CAST(x - f AS DOUBLE)) / (ABS(x) + ABS(f)))
                   AS smape
        FROM seq WHERE f IS NOT NULL
    )
    SELECT e.n_eval,
           ROUND(e.mae, 6) AS mae,
           ROUND(e.mape, 6) AS mape,
           ROUND(e.smape, 6) AS smape,
           ROUND(e.mae / s.mae_naive1, 6) AS mase,
           e.mae / s.mae_naive1 < 1 AS beats_naive1
    FROM err e CROSS JOIN scale s
    """,
)
def model_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy triple for the seasonal-naive baseline
    (Hyndman & Koehler, IJF 2006, public): forecast each day with the
    value seven days earlier, then report MAPE (classic but explodes
    near zero), sMAPE (the M3-competition symmetric fix, bounded by 2)
    and MASE (mean absolute error scaled by the in-sample one-step
    naive MAE — the unit-free, zero-safe metric the paper argues for;
    MASE < 1 beats the random walk). The evaluation harness every
    forecasting row in the registry (Holt, Winters, Theta, Croston,
    Bates-Granger) gets judged with in practice — here measuring the
    weekly-naive itself against the daily-naive floor.

    Determinism: daily counts are exact integers; three averages of
    fixed float chains over the calendar-bounded frame; ROUND 6; the
    flag compares the unrounded ratio.

    Scale shape: daily collapse first; lag windows run over the
    calendar-bounded Aggregate frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = Window.orderBy("day")
    seq = daily.select(
        "x",
        F.lag("x", 7).over(w).alias("f"),
        F.lag("x", 1).over(w).alias("prev"),
    )
    scale = seq.where(F.col("prev").isNotNull()).agg(
        F.avg(F.abs((F.col("x") - F.col("prev")).cast("double"))).alias(
            "mae_naive1"
        )
    )
    err = seq.where(F.col("f").isNotNull()).agg(
        F.count("*").cast("long").alias("n_eval"),
        F.avg(F.abs((F.col("x") - F.col("f")).cast("double"))).alias("mae"),
        F.avg(
            F.abs((F.col("x") - F.col("f")).cast("double")) / F.col("x")
        ).alias("mape"),
        F.avg(
            2.0
            * F.abs((F.col("x") - F.col("f")).cast("double"))
            / (F.abs(F.col("x")) + F.abs(F.col("f")))
        ).alias("smape"),
    )
    return err.crossJoin(F.broadcast(scale)).select(
        "n_eval",
        F.round("mae", 6).alias("mae"),
        F.round("mape", 6).alias("mape"),
        F.round("smape", 6).alias("smape"),
        F.round(F.col("mae") / F.col("mae_naive1"), 6).alias("mase"),
        (F.col("mae") / F.col("mae_naive1") < 1).alias("beats_naive1"),
    )
