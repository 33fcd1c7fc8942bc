"""Wave-380: isotonic regression by the minimax formula (Ayer et al. 1955;
Barlow & Brunk 1972 — the estimator PAVA computes) over the hourly value
profile, and classical seasonal decomposition (the moving-average method of
Macaulay 1931, the "decompose" every forecasting course starts with) of
the daily event series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_Q = 1_000_000  # micro-quantization of segment means


@query(
    "model_isotonic_pava",
    oracle=f"""
    WITH hourly AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    pre AS (
        SELECT h, s, c,
               SUM(s) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cs,
               SUM(c) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS cc
        FROM hourly
    ),
    seg AS (
        -- micro-quantized mean of hours j..k (exact floor division)
        SELECT a.h AS j, b.h AS k,
               CAST(({_Q} * (b.cs - a.cs + a.s))
                    // (b.cc - a.cc + a.c) AS BIGINT) AS m
        FROM pre a JOIN pre b ON b.h >= a.h
    ),
    inner_min AS (
        SELECT i.h AS i, s.j, MIN(s.m) AS mn
        FROM hourly i JOIN seg s ON s.j <= i.h AND s.k >= i.h
        GROUP BY i.h, s.j
    ),
    fit AS (
        SELECT i, CAST(MAX(mn) AS BIGINT) AS fit_micro
        FROM inner_min GROUP BY i
    )
    SELECT f.i AS hour,
           h.c AS n,
           ROUND(CAST(h.s AS DOUBLE) / h.c / 1000, 6) AS raw_mean,
           f.fit_micro,
           ROUND(CAST(f.fit_micro AS DOUBLE) / {_Q} / 1000, 6) AS iso_fit
    FROM fit f JOIN hourly h ON h.h = f.i
    """,
)
def model_isotonic_pava(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted isotonic regression of mean event value (milli) on hour of
    day via the MINIMAX characterization fit(i) = max_{{j≤i}} min_{{k≥i}}
    mean(j..k) — the exact estimator PAVA's pooling computes, evaluated
    directly because the hour grid is 24 points (so the (i,j,k) triple is
    ≤ 24³, bounded). Segment means are micro-quantized by exact floor
    division BEFORE the minimax — part of the operator contract: two
    near-equal exact rationals with denominators up to Σc could differ by
    less than a double ulp at this magnitude, so ordering raw ratios could
    pick different argmins across engines; on the integer grid minimax is
    exact. The replay pytest runs true rational PAVA and checks the
    quantized fit within one micro-unit, plus monotonicity.

    Scale shape: one groupBy to the bounded hour grid; everything after
    is 24-row algebra (prefix sums + bounded self-joins)."""
    hourly = table(spark, sf_dir, "events").groupBy(
        F.hour("ts").cast("long").alias("h")
    ).agg(
        F.sum(F.round(F.col("value") * 1000).cast("long")).alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    w = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    pre = hourly.select(
        "h", "s", "c", F.sum("s").over(w).alias("cs"), F.sum("c").over(w).alias("cc")
    )
    a = pre.select(
        F.col("h").alias("j"),
        F.col("s").alias("js"),
        F.col("c").alias("jc"),
        F.col("cs").alias("jcs"),
        F.col("cc").alias("jcc"),
    )
    b = pre.select(
        F.col("h").alias("k"), F.col("cs").alias("kcs"), F.col("cc").alias("kcc")
    )
    seg = a.join(b, F.col("k") >= F.col("j")).select(
        "j",
        "k",
        F.expr(f"CAST(({_Q} * (kcs - jcs + js)) div (kcc - jcc + jc) AS LONG)").alias(
            "m"
        ),
    )
    hours = hourly.select(F.col("h").alias("i"))
    inner_min = (
        hours.join(seg, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("m").alias("mn"))
    )
    fit = inner_min.groupBy("i").agg(F.max("mn").cast("long").alias("fit_micro"))
    return fit.join(hourly, F.col("i") == F.col("h")).select(
        F.col("i").alias("hour"),
        F.col("c").alias("n"),
        F.round(F.col("s").cast("double") / F.col("c") / 1000, 6).alias("raw_mean"),
        "fit_micro",
        F.round(F.col("fit_micro").cast("double") / _Q / 1000, 6).alias("iso_fit"),
    )


@query(
    "events_seasonal_decompose",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, ISODOW(ts) - 1 AS dow,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    ma AS (
        SELECT day, dow, c,
               SUM(c) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                            AND 3 FOLLOWING) AS trend_x7,
               COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
                              AND 3 FOLLOWING) AS win
        FROM daily
    ),
    interior AS (
        SELECT day, dow, c,
               CAST(trend_x7 AS BIGINT) AS trend_x7,
               CAST(7 * c - trend_x7 AS BIGINT) AS detrended_x7
        FROM ma WHERE win = 7
    ),
    seasonal AS (
        SELECT dow,
               CAST(({_Q} * SUM(detrended_x7)) // (7 * COUNT(*)) AS BIGINT)
                   AS seasonal_micro
        FROM interior GROUP BY dow
    )
    SELECT STRFTIME(i.day, '%Y-%m-%d') AS day,
           i.c AS raw,
           i.trend_x7,
           i.detrended_x7,
           s.seasonal_micro,
           ROUND(CAST(i.trend_x7 AS DOUBLE) / 7, 4) AS trend,
           ROUND(CAST(s.seasonal_micro AS DOUBLE) / {_Q}, 4) AS seasonal,
           ROUND(i.c - CAST(i.trend_x7 AS DOUBLE) / 7
                 - CAST(s.seasonal_micro AS DOUBLE) / {_Q}, 4) AS remainder
    FROM interior i JOIN seasonal s ON s.dow = i.dow
    """,
)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the daily event count
    series with weekly seasonality: trend = centered 7-day moving average
    (interior days only), seasonal = per-weekday mean of the detrended
    series, remainder = raw − trend − seasonal. Emitted alongside the
    EXACT integer anchors (trend×7, detrended×7, seasonal in micro-units
    via floor division) so the driver hash rides on integers, with the
    conventional double views rounded 4dp.

    Scale shape: calendar collapse, one 7-row sliding window over the
    bounded daily frame, a 7-row seasonal aggregate broadcast back."""
    daily = table(spark, sf_dir, "events").groupBy(
        F.col("ts").cast("date").alias("day"),
        F.weekday("ts").alias("dow"),
    ).agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("day").rowsBetween(-3, 3)
    ma = daily.select(
        "day",
        "dow",
        "c",
        F.sum("c").over(w).alias("trend_x7"),
        F.count("*").over(w).alias("win"),
    )
    interior = ma.where(F.col("win") == 7).select(
        "day",
        "dow",
        "c",
        F.col("trend_x7").cast("long").alias("trend_x7"),
        (7 * F.col("c") - F.col("trend_x7")).cast("long").alias("detrended_x7"),
    )
    seasonal = interior.groupBy("dow").agg(
        F.expr(f"CAST(({_Q} * SUM(detrended_x7)) div (7 * COUNT(*)) AS LONG)").alias(
            "seasonal_micro"
        )
    )
    return interior.join(F.broadcast(seasonal), "dow").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("c").alias("raw"),
        "trend_x7",
        "detrended_x7",
        "seasonal_micro",
        F.round(F.col("trend_x7").cast("double") / 7, 4).alias("trend"),
        F.round(F.col("seasonal_micro").cast("double") / _Q, 4).alias("seasonal"),
        F.round(
            F.col("c")
            - F.col("trend_x7").cast("double") / 7
            - F.col("seasonal_micro").cast("double") / _Q,
            4,
        ).alias("remainder"),
    )
