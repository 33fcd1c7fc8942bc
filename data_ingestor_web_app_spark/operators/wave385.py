"""Wave-385: seasonal Sen slope (Hirsch, Slack & Smith, Water Resources
Research 1982 — the magnitude estimator paired with the seasonal
Mann-Kendall test of wave383).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_seasonal_sen_slope",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               ISODOW(ts) - 1 AS dow,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT (b.c - a.c) * 1.0 / DATEDIFF('day', a.day, b.day) AS s
        FROM daily a JOIN daily b ON b.dow = a.dow AND b.day > a.day
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(MEDIAN(s), 6) AS sen_slope_per_day,
           ROUND(MEDIAN(s) * 7, 6) AS sen_slope_per_week
    FROM slopes
    """,
)
def events_seasonal_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal Sen slope: the median of all within-weekday pairwise
    slopes (Δcount / Δdays) of the daily event-count series — the robust
    trend MAGNITUDE that accompanies wave383's seasonal Mann-Kendall
    direction test (Hirsch-Slack 1982; Sen, JASA 1968). Restricting
    pairs to the same weekday removes the weekly cycle from the slope
    distribution exactly as it removes it from S.

    Determinism: each slope is ONE double division of exact integers;
    the median of an even pair count averages the two identical middle
    doubles in both engines (Spark median == DuckDB MEDIAN linear rule);
    ROUND 6 on the single final expression.

    Scale shape: calendar collapse first (daily counts bounded by the
    observation window), then a within-season pair join over the bounded
    daily frame — corpus rows see one map-side-combined groupBy only,
    the wave383 discipline."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            F.weekday("ts").alias("dow"),
        )
        .agg(F.count("*").cast("long").alias("c"))
    )
    a = daily.select(
        F.col("dow").alias("adow"), F.col("day").alias("aday"), F.col("c").alias("ac")
    )
    b = daily.select(
        F.col("dow").alias("bdow"), F.col("day").alias("bday"), F.col("c").alias("bc")
    )
    slopes = a.join(
        b, (F.col("bdow") == F.col("adow")) & (F.col("bday") > F.col("aday"))
    ).select(
        (
            (F.col("bc") - F.col("ac"))
            * 1.0
            / F.datediff(F.col("bday"), F.col("aday"))
        ).alias("s")
    )
    med = F.median("s")
    return slopes.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(med, 6).alias("sen_slope_per_day"),
        F.round(med * 7, 6).alias("sen_slope_per_week"),
    )
