"""Wave-311: Apdex satisfaction index per event type and SLO error-budget
burn analysis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_APDEX_T_MS = 50_000  # the target threshold T (value column as ms)
_SLO = 0.999
_FAST_BURN = 14.4  # Google SRE workbook 1h-window page threshold
_SLOW_BURN = 6.0  # 6h-window ticket threshold


@query(
    "events_apdex",
    oracle=f"""
    WITH lat AS (
        SELECT event_type,
               CAST(ROUND(value * 1000) AS BIGINT) AS ms
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN ms <= {_APDEX_T_MS} THEN 1 ELSE 0 END)
                AS BIGINT) AS satisfied,
           CAST(SUM(CASE WHEN ms > {_APDEX_T_MS} AND ms <= {4 * _APDEX_T_MS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS tolerating,
           CAST(SUM(CASE WHEN ms > {4 * _APDEX_T_MS} THEN 1 ELSE 0 END)
                AS BIGINT) AS frustrated,
           ROUND((SUM(CASE WHEN ms <= {_APDEX_T_MS} THEN 1 ELSE 0 END)
                  + 0.5 * SUM(CASE WHEN ms > {_APDEX_T_MS}
                                    AND ms <= {4 * _APDEX_T_MS}
                                   THEN 1 ELSE 0 END))
                 / CAST(COUNT(*) AS DOUBLE), 6) AS apdex,
           CASE WHEN (SUM(CASE WHEN ms <= {_APDEX_T_MS} THEN 1 ELSE 0 END)
                      + 0.5 * SUM(CASE WHEN ms > {_APDEX_T_MS}
                                        AND ms <= {4 * _APDEX_T_MS}
                                       THEN 1 ELSE 0 END))
                     / CAST(COUNT(*) AS DOUBLE) >= 0.94 THEN 'good'
                WHEN (SUM(CASE WHEN ms <= {_APDEX_T_MS} THEN 1 ELSE 0 END)
                      + 0.5 * SUM(CASE WHEN ms > {_APDEX_T_MS}
                                        AND ms <= {4 * _APDEX_T_MS}
                                       THEN 1 ELSE 0 END))
                     / CAST(COUNT(*) AS DOUBLE) >= 0.85 THEN 'fair'
                WHEN (SUM(CASE WHEN ms <= {_APDEX_T_MS} THEN 1 ELSE 0 END)
                      + 0.5 * SUM(CASE WHEN ms > {_APDEX_T_MS}
                                        AND ms <= {4 * _APDEX_T_MS}
                                       THEN 1 ELSE 0 END))
                     / CAST(COUNT(*) AS DOUBLE) >= 0.70 THEN 'poor'
                ELSE 'unacceptable' END AS rating
    FROM lat GROUP BY event_type
    """,
)
def events_apdex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex — Application Performance Index (Apdex Alliance
    specification, Sevcik 2005, public): with target threshold T,
    Apdex = (satisfied + tolerating/2) / n where satisfied <= T <
    tolerating <= 4T < frustrated, here per event type over the value
    column read as milliseconds (T = 50 s, the spec's default
    zone ratio of exactly 4 preserved). The one-number latency-UX
    summary ops dashboards standardized on before percentile SLOs —
    and unlike a p95 it degrades SMOOTHLY, which is why alerting on it
    flaps less. Ratings use the published bands (0.94 good / 0.85 fair
    / 0.70 poor).

    Determinism: zone counts are exact integer comparisons on exact
    milli-values; one rounded ratio; the rating reads the unrounded
    ratio against literal bands.

    Scale shape: one conditional partial-agg groupBy over the scan —
    map-side combinable, no window."""
    ms = F.round(F.col("value") * 1000).cast("long")
    lat = table(spark, sf_dir, "events").select("event_type", ms.alias("ms"))
    sat = F.sum(F.when(F.col("ms") <= _APDEX_T_MS, 1).otherwise(0))
    tol = F.sum(
        F.when(
            (F.col("ms") > _APDEX_T_MS) & (F.col("ms") <= 4 * _APDEX_T_MS), 1
        ).otherwise(0)
    )
    fru = F.sum(F.when(F.col("ms") > 4 * _APDEX_T_MS, 1).otherwise(0))
    apdex = (sat + 0.5 * tol) / F.count("*").cast("double")
    return lat.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        sat.cast("long").alias("satisfied"),
        tol.cast("long").alias("tolerating"),
        fru.cast("long").alias("frustrated"),
        F.round(apdex, 6).alias("apdex"),
        F.when(apdex >= 0.94, "good")
        .when(apdex >= 0.85, "fair")
        .when(apdex >= 0.70, "poor")
        .otherwise("unacceptable")
        .alias("rating"),
    )


@query(
    "events_error_budget",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errors
        FROM events GROUP BY day
    ),
    rates AS (
        SELECT day, total, errors,
               CAST(errors AS DOUBLE) / total / {1 - _SLO!r} AS burn_rate
        FROM daily
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(total) AS BIGINT) AS n_events,
               CAST(SUM(errors) AS BIGINT) AS n_errors,
               MAX(burn_rate) AS max_burn,
               CAST(SUM(CASE WHEN burn_rate > {_FAST_BURN!r}
                             THEN 1 ELSE 0 END) AS BIGINT) AS fast_burn_days,
               CAST(SUM(CASE WHEN burn_rate > {_SLOW_BURN!r}
                             THEN 1 ELSE 0 END) AS BIGINT) AS slow_burn_days
        FROM rates
    )
    SELECT n_days, n_events, n_errors,
           ROUND(CAST(n_errors AS DOUBLE) / n_events, 6) AS error_rate,
           ROUND(CAST(n_errors AS DOUBLE) / n_events / {1 - _SLO!r}, 6)
               AS budget_consumed_x,
           ROUND(max_burn, 6) AS max_daily_burn_rate,
           fast_burn_days, slow_burn_days,
           CAST(n_errors AS DOUBLE) / n_events <= {1 - _SLO!r} AS within_slo
    FROM agg
    """,
)
def events_error_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn analysis (Google SRE Workbook ch. 2 & 5,
    public): with a 99.9% availability SLO the error budget is 0.1% of
    requests; burn rate = (observed error rate)/(budget rate), and the
    workbook's multiwindow alert thresholds — burn > 14.4 pages (the
    budget would die in ~2 days), burn > 6 tickets — are applied here
    per day. budget_consumed_x says how many PERIOD budgets the whole
    window actually spent (> 1 = the SLO was missed). The
    dashboard-facing summary on top of the registry's raw error-rate
    and MTBF rows.

    Determinism: daily error/total counts are exact integers; burn
    rates are one fixed division; day counts against literal
    thresholds; the flag compares the unrounded rate.

    Scale shape: one daily conditional collapse over the scan; the
    budget math runs on the calendar-bounded frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("total"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("errors"),
        )
    )
    burn = F.col("errors").cast("double") / F.col("total") / (1 - _SLO)
    agg = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("total").cast("long").alias("n_events"),
        F.sum("errors").cast("long").alias("n_errors"),
        F.max(burn).alias("max_burn"),
        F.sum(F.when(burn > _FAST_BURN, 1).otherwise(0))
        .cast("long")
        .alias("fast_burn_days"),
        F.sum(F.when(burn > _SLOW_BURN, 1).otherwise(0))
        .cast("long")
        .alias("slow_burn_days"),
    )
    rate = F.col("n_errors").cast("double") / F.col("n_events")
    return agg.select(
        "n_days",
        "n_events",
        "n_errors",
        F.round(rate, 6).alias("error_rate"),
        F.round(rate / (1 - _SLO), 6).alias("budget_consumed_x"),
        F.round("max_burn", 6).alias("max_daily_burn_rate"),
        "fast_burn_days",
        "slow_burn_days",
        (rate <= (1 - _SLO)).alias("within_slo"),
    )
