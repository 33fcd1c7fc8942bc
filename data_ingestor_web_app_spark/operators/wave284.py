"""Wave-284: forecast verification and distribution-free randomness —
the CRPS of the two-forecaster ensemble (the proper score for
probabilistic forecasts, in its exact empirical closed form) and Renyi
record statistics (the expected number of record highs is the harmonic
number, NO MATTER the distribution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_crps_ensemble",
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
    d AS (SELECT y, f1, f2 FROM preds WHERE f2 IS NOT NULL),
    scores AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG((ABS(f1 - y) + ABS(f2 - y)) / 2
                   - 0.5 * ABS(f1 - f2) / 2) AS crps,
               AVG(ABS(f1 - y)) AS mae_f1,
               AVG(ABS(f2 - y)) AS mae_f2,
               AVG(ABS((f1 + f2) / 2 - y)) AS mae_mean
        FROM d
    )
    SELECT n AS n_obs,
           ROUND(crps, 6) AS crps,
           ROUND(mae_f1, 6) AS mae_persistence,
           ROUND(mae_f2, 6) AS mae_seasonal,
           ROUND(mae_mean, 6) AS mae_ensemble_mean,
           crps <= LEAST(mae_f1, mae_f2) AS crps_beats_members
    FROM scores
    """,
)
def events_crps_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous Ranked Probability Score of the 2-member forecast
    ensemble (persistence, seasonal) via the exact empirical identity
    CRPS = (1/m) sum |f_i - y| - (1/2m^2) sum |f_i - f_j| (Gneiting &
    Raftery, JASA 2007, public): the PROPER score that rewards both
    accuracy and honest spread — a point forecast is scored by MAE,
    an ensemble by CRPS, and CRPS <= the members' mean MAE ALWAYS
    (the spread term is the discount), with equality only when the
    members agree. The flag checks whether the ensemble's CRPS beats
    the better member — the practical "is the ensemble earning its
    keep" question.

    Exactness device: the m=2 closed form is two ABS chains; one
    moment pass; the flag compares identical unrounded values.

    Scale shape: daily rollup, two lag windows, one aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    w = Window.orderBy("day")
    d = daily.select(
        "y",
        F.lag("y", 1).over(w).alias("f1"),
        F.lag("y", 7).over(w).alias("f2"),
    ).where(F.col("f2").isNotNull())
    crps_term = (
        F.abs(F.col("f1") - F.col("y")) + F.abs(F.col("f2") - F.col("y"))
    ) / 2 - 0.5 * F.abs(F.col("f1") - F.col("f2")) / 2
    scores = d.agg(
        F.count("*").cast("long").alias("n"),
        F.avg(crps_term).alias("crps"),
        F.avg(F.abs(F.col("f1") - F.col("y"))).alias("mae_f1"),
        F.avg(F.abs(F.col("f2") - F.col("y"))).alias("mae_f2"),
        F.avg(
            F.abs((F.col("f1") + F.col("f2")) / 2 - F.col("y"))
        ).alias("mae_mean"),
    )
    return scores.select(
        F.col("n").alias("n_obs"),
        F.round("crps", 6).alias("crps"),
        F.round("mae_f1", 6).alias("mae_persistence"),
        F.round("mae_f2", 6).alias("mae_seasonal"),
        F.round("mae_mean", 6).alias("mae_ensemble_mean"),
        (
            F.col("crps") <= F.least(F.col("mae_f1"), F.col("mae_f2"))
        ).alias("crps_beats_members"),
    )


@query(
    "events_record_statistics",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    runmax AS (
        SELECT day, y,
               MAX(y) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max,
               MIN(y) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_min,
               ROW_NUMBER() OVER (ORDER BY day) AS k
        FROM daily
    ),
    recs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN prev_max IS NULL OR y > prev_max
                             THEN 1 ELSE 0 END) AS BIGINT) AS rec_hi,
               CAST(SUM(CASE WHEN prev_min IS NULL OR y < prev_min
                             THEN 1 ELSE 0 END) AS BIGINT) AS rec_lo,
               SUM(1.0 / k) AS harmonic,
               SUM(1.0 / k - 1.0 / (CAST(k AS DOUBLE) * k)) AS var_rec
        FROM runmax
    )
    SELECT n AS n_days, rec_hi AS records_high, rec_lo AS records_low,
           ROUND(harmonic, 6) AS expected_records,
           ROUND((rec_hi - harmonic) / SQRT(var_rec), 6) AS z_high,
           ROUND((rec_lo - harmonic) / SQRT(var_rec), 6) AS z_low
    FROM recs
    """,
)
def events_record_statistics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Record-value statistics (Renyi 1962; Arnold, Balakrishnan &
    Nagaraja, Records, 1998, public): in ANY i.i.d. continuous series
    the k-th observation is a record high with probability exactly
    1/k, so E[#records] = H_n (the harmonic number) and Var =
    sum(1/k - 1/k^2) — DISTRIBUTION-FREE, no moments needed. Observed
    record highs/lows of the daily series against H_n with the exact
    z: too many records = trend (cross-check events_seasonal_mann_
    kendall), too few = mean reversion. The randomness test that needs
    to know nothing about the data.

    Exactness device: records are strict comparisons against running
    extrema (ROWS ... 1 PRECEDING windows); H_n and the variance are
    exact harmonic chains over the ordered frame.

    Scale shape: daily rollup + two running-extremum windows + one
    aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    wprev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    runmax = daily.select(
        "y",
        F.max("y").over(wprev).alias("prev_max"),
        F.min("y").over(wprev).alias("prev_min"),
        F.row_number().over(Window.orderBy("day")).alias("k"),
    )
    recs = runmax.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("prev_max").isNull() | (F.col("y") > F.col("prev_max")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("rec_hi"),
        F.sum(
            F.when(
                F.col("prev_min").isNull() | (F.col("y") < F.col("prev_min")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("rec_lo"),
        F.sum(1.0 / F.col("k")).alias("harmonic"),
        F.sum(
            1.0 / F.col("k") - 1.0 / (F.col("k").cast("double") * F.col("k"))
        ).alias("var_rec"),
    )
    return recs.select(
        F.col("n").alias("n_days"),
        F.col("rec_hi").alias("records_high"),
        F.col("rec_lo").alias("records_low"),
        F.round("harmonic", 6).alias("expected_records"),
        F.round(
            (F.col("rec_hi") - F.col("harmonic")) / F.sqrt("var_rec"), 6
        ).alias("z_high"),
        F.round(
            (F.col("rec_lo") - F.col("harmonic")) / F.sqrt("var_rec"), 6
        ).alias("z_low"),
    )
