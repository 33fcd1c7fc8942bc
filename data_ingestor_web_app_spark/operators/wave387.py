"""Wave-387: Crow-AMSAA reliability-growth MLE (Crow, AMSAA TR-652 1975;
MIL-HDBK-189 — the NHPP power-law process) and the u-chart (defects per
unit with varying subgroup size; Shewhart/Western Electric SPC family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_LQ = 1_000_000  # per-event log quantization grid (micro-nats)


@query(
    "events_crow_amsaa",
    oracle=f"""
    WITH base AS (
        SELECT (EPOCH_US(ts) - (SELECT MIN(EPOCH_US(ts)) FROM events
                                WHERE event_type = 'error')) / 1000000.0
                   + 1.0 AS tau
        FROM events WHERE event_type = 'error'
    ),
    trunc_t AS (
        SELECT MAX(tau) + 3600.0 AS t FROM base
    ),
    q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(LN(trunc_t.t / base.tau) * {_LQ})
                             AS BIGINT)) AS BIGINT) AS s_micro
        FROM base, trunc_t
    )
    SELECT q.n AS n_failures,
           q.s_micro,
           ROUND(q.n * {_LQ}.0 / q.s_micro, 6) AS beta_hat,
           ROUND(q.n / POW(trunc_t.t, q.n * {_LQ}.0 / q.s_micro), 6)
               AS lambda_hat,
           q.n * {_LQ} < q.s_micro AS reliability_growth
    FROM q, trunc_t
    """,
)
def events_crow_amsaa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crow-AMSAA (NHPP power-law) reliability growth fit over the error
    event stream: with failure times τ_i (seconds since first error, +1)
    and a time-truncated test at T = τ_max + 1 h, the MLE is
    β̂ = N / Σ ln(T/τ_i) and λ̂ = N / T^β̂; β̂ < 1 is the
    reliability-GROWTH verdict (failure intensity falling — the
    MIL-HDBK-189 acceptance signal), β̂ > 1 a deteriorating system.

    Determinism: a corpus-wide sum of raw ln doubles would be
    summation-order-dependent across engines, so each per-event term is
    floor-quantized to integer micro-nats FIRST — the sum is then exact
    integer arithmetic (order-free), and the quantized Σ IS the operator
    definition (the BOCPD/Kalman fixed-point discipline applied to a
    log-likelihood). β̂/λ̂ are single double chains off the integer
    anchors, ROUND 6.

    Scale shape: one filtered scan with a map-side-combined integer sum
    — no shuffle beyond the 1-row aggregate; the min-epoch anchor is a
    broadcast scalar."""
    e = table(spark, sf_dir, "events").where(F.col("event_type") == "error")
    t0 = e.agg(F.min(F.unix_micros("ts")).alias("t0"))
    base = e.crossJoin(F.broadcast(t0)).select(
        ((F.unix_micros("ts") - F.col("t0")) / 1000000.0 + 1.0).alias("tau")
    )
    tt = base.agg((F.max("tau") + 3600.0).alias("t"))
    q = base.crossJoin(F.broadcast(tt)).agg(
        F.count("*").cast("long").alias("n_failures"),
        F.sum(
            F.floor(F.log(F.col("t") / F.col("tau")) * _LQ).cast("long")
        )
        .cast("long")
        .alias("s_micro"),
    )
    beta = F.col("n_failures") * float(_LQ) / F.col("s_micro")
    return q.crossJoin(F.broadcast(tt)).select(
        "n_failures",
        "s_micro",
        F.round(beta, 6).alias("beta_hat"),
        F.round(F.col("n_failures") / F.pow(F.col("t"), beta), 6).alias(
            "lambda_hat"
        ),
        (F.col("n_failures") * _LQ < F.col("s_micro")).alias(
            "reliability_growth"
        ),
    )


@query(
    "events_u_chart",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_units,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_defects
        FROM events GROUP BY 1
    ),
    bar AS (
        SELECT SUM(n_defects) * 1.0 / SUM(n_units) AS u FROM daily
    )
    SELECT STRFTIME(d.day, '%Y-%m-%d') AS day,
           d.n_units,
           d.n_defects,
           ROUND(d.n_defects * 1.0 / d.n_units, 6) AS u_i,
           ROUND(bar.u, 6) AS u_bar,
           ROUND(bar.u + 3 * SQRT(bar.u / d.n_units), 6) AS ucl,
           ROUND(GREATEST(bar.u - 3 * SQRT(bar.u / d.n_units), 0.0), 6)
               AS lcl,
           d.n_defects * 1.0 / d.n_units
               > bar.u + 3 * SQRT(bar.u / d.n_units)
           OR d.n_defects * 1.0 / d.n_units
               < GREATEST(bar.u - 3 * SQRT(bar.u / d.n_units), 0.0)
               AS out_of_control
    FROM daily d, bar
    """,
)
def events_u_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The u-chart (defects per unit with VARYING subgroup sizes): daily
    error rate per event against per-day 3-sigma Poisson limits
    ū ± 3√(ū/n_d), LCL floored at 0 — the varying-n counterpart of the
    registry's c-chart (fixed-n counts) that completes the attribute-SPC
    family alongside events_p_chart. Out-of-control days compare the
    UNROUNDED rate to the UNROUNDED limit, so the flag never flips on
    display rounding.

    Determinism: daily counts are exact integers; ū is one exact ratio;
    limits are fixed double chains ROUND 6.

    Scale shape: one map-side-combined calendar collapse; ū is a 1-row
    broadcast scalar; limits are per-row expressions on the bounded
    daily frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_units"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_defects"),
        )
    )
    bar = daily.agg(
        (F.sum("n_defects") * 1.0 / F.sum("n_units")).alias("u")
    )
    ui = F.col("n_defects") * 1.0 / F.col("n_units")
    ucl = F.col("u") + 3 * F.sqrt(F.col("u") / F.col("n_units"))
    lcl = F.greatest(F.col("u") - 3 * F.sqrt(F.col("u") / F.col("n_units")), F.lit(0.0))
    return daily.crossJoin(F.broadcast(bar)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_units",
        "n_defects",
        F.round(ui, 6).alias("u_i"),
        F.round(F.col("u"), 6).alias("u_bar"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((ui > ucl) | (ui < lcl)).alias("out_of_control"),
    )
