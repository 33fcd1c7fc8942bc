"""Wave-69: pinball-loss quantile forecast evaluation, Haar wavelet
multi-scale energy decomposition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_pinball_loss",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    fc AS (
        SELECT d, y,
               SUM(y) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   * 1.0 /
               COUNT(y) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
                   AS f,
               ROW_NUMBER() OVER (ORDER BY d) AS rn
        FROM daily
    ),
    scored AS (SELECT y, f FROM fc WHERE rn > 7),
    q AS (SELECT UNNEST([0.5, 0.9]) AS q)
    SELECT q.q AS quantile,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(GREATEST(q.q * (s.y - s.f), (q.q - 1) * (s.y - s.f))), 6)
               AS pinball_loss
    FROM scored s, q GROUP BY q.q
    """,
)
def events_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss evaluation of a trailing-7-day-mean
    forecast of daily volume at q = 0.5 and 0.9 — the metric that
    scores quantile forecasts the way MAE scores point forecasts
    (asymmetric: under-forecasting the P90 hurts 9x more than over).
    Complements events_forecast_backtest's point metrics with the
    probabilistic-forecast readout capacity planning actually uses.

    Determinism: daily counts are exact ints; the trailing mean is one
    exact division; each loss term is one fixed double expression.

    Scale shape: the stream collapses to per-day rows; the trailing
    window and the loss rollup run over the ~30-day series."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("long").alias("y")
    )
    w = Window.orderBy("d")  # bounded: one row per day
    trail = w.rowsBetween(-7, -1)
    fc = daily.select(
        "y",
        (F.sum("y").over(trail) * 1.0 / F.count("y").over(trail)).alias("f"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") > 7)
    qs = fc.crossJoin(
        F.broadcast(
            fc.sparkSession.createDataFrame([(0.5,), (0.9,)], "q double")
        )
    )
    err = F.col("y") - F.col("f")
    return qs.groupBy(F.col("q").alias("quantile")).agg(
        F.count("*").cast("long").alias("n_days"),
        F.round(
            F.avg(F.greatest(F.col("q") * err, (F.col("q") - 1) * err)), 6
        ).alias("pinball_loss"),
    )


@query(
    "events_haar_energy",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events
        WHERE CAST(ts AS DATE) < DATE '2024-01-17'
        GROUP BY 1
    ),
    x0 AS (SELECT t, y * 1.0 AS v FROM daily),
    l1 AS (
        SELECT t // 2 AS t,
               SUM(CASE WHEN t % 2 = 0 THEN v ELSE 0 END) / 2
             + SUM(CASE WHEN t % 2 = 1 THEN v ELSE 0 END) / 2 AS a,
               SUM(CASE WHEN t % 2 = 0 THEN v ELSE 0 END) / 2
             - SUM(CASE WHEN t % 2 = 1 THEN v ELSE 0 END) / 2 AS d
        FROM x0 GROUP BY t // 2
    ),
    l2 AS (
        SELECT t // 2 AS t,
               SUM(CASE WHEN t % 2 = 0 THEN a ELSE 0 END) / 2
             + SUM(CASE WHEN t % 2 = 1 THEN a ELSE 0 END) / 2 AS a,
               SUM(CASE WHEN t % 2 = 0 THEN a ELSE 0 END) / 2
             - SUM(CASE WHEN t % 2 = 1 THEN a ELSE 0 END) / 2 AS d
        FROM l1 GROUP BY t // 2
    ),
    l3 AS (
        SELECT t // 2 AS t,
               SUM(CASE WHEN t % 2 = 0 THEN a ELSE 0 END) / 2
             + SUM(CASE WHEN t % 2 = 1 THEN a ELSE 0 END) / 2 AS a,
               SUM(CASE WHEN t % 2 = 0 THEN a ELSE 0 END) / 2
             - SUM(CASE WHEN t % 2 = 1 THEN a ELSE 0 END) / 2 AS d
        FROM l2 GROUP BY t // 2
    )
    SELECT * FROM (
        SELECT 1 AS level, CAST(COUNT(*) AS BIGINT) AS n_coeffs,
               SUM(d * d) AS energy FROM l1
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT), SUM(d * d) FROM l2
        UNION ALL
        SELECT 3, CAST(COUNT(*) AS BIGINT), SUM(d * d) FROM l3
        UNION ALL
        SELECT 0, CAST(COUNT(*) AS BIGINT), SUM(a * a) FROM l3
    )
    """,
)
def events_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition (Haar 1910 / Mallat's fast
    transform, public) of the first 16 days of daily volume: three
    detail levels (day-to-day, 2-day, 4-day fluctuation energy) plus
    the level-3 approximation — the multi-scale fingerprint that tells
    daily jitter apart from week-scale regime shifts, each level one
    more groupBy-by-halved-index.

    Determinism: every coefficient is a dyadic rational (ints halved
    <= 3 times) — exact in binary, so even the unrounded energies are
    bit-identical; no rounding anywhere.

    Scale shape: the cascade is 3 tiny groupBys over 16 -> 8 -> 4 -> 2
    rows after the one real rollup; at 100 TB only the first daily
    aggregation touches data."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.where(
            F.col("ts").cast("date") < F.lit("2024-01-17").cast("date")
        )
        .groupBy(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).cast("long").alias("t")
        )
        .agg(F.count("*").cast("long").alias("y"))
    )
    x = daily.select("t", (F.col("y") * 1.0).alias("v"))

    def level(df: DataFrame, col: str) -> DataFrame:
        even = F.sum(F.when(F.col("t") % 2 == 0, F.col(col)).otherwise(0.0)) / 2
        odd = F.sum(F.when(F.col("t") % 2 == 1, F.col(col)).otherwise(0.0)) / 2
        return df.groupBy(F.floor(F.col("t") / 2).cast("long").alias("t")).agg(
            (even + odd).alias("a"), (even - odd).alias("d")
        )

    l1 = level(x, "v")
    l2 = level(l1, "a")
    l3 = level(l2, "a")

    def erow(df: DataFrame, lvl: int, col: str) -> DataFrame:
        return df.agg(
            F.lit(lvl).alias("level"),
            F.count("*").cast("long").alias("n_coeffs"),
            F.sum(F.col(col) * F.col(col)).alias("energy"),
        )

    return (
        erow(l1, 1, "d")
        .unionByName(erow(l2, 2, "d"))
        .unionByName(erow(l3, 3, "d"))
        .unionByName(erow(l3, 0, "a"))
    )
