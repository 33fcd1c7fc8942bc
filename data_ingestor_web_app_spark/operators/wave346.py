"""Wave-346: phase dispersion minimization (Stellingwerf, ApJ 1978)
— period detection by folding the daily series on candidate periods
and scoring the pooled within-phase-bin variance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_PERIODS = [3, 5, 7, 10]  # candidate periods in days
_NBINS = {3: 3, 5: 5, 7: 7, 10: 5}  # phase bins per period


@query(
    "events_phase_dispersion",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS i,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS m
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(m) AS mu,
               SUM(m * m) AS s2
        FROM daily
    ),
    cand AS (
        SELECT p.period, p.nbins, d.i % p.period * p.nbins // p.period
                   AS bin, d.m
        FROM daily d CROSS JOIN (
            SELECT UNNEST([{",".join(str(p) for p in _PERIODS)}]) AS period,
                   UNNEST([{",".join(str(_NBINS[p]) for p in _PERIODS)}])
                       AS nbins
        ) p
    ),
    bins AS (
        SELECT period, nbins, bin, CAST(COUNT(*) AS BIGINT) AS nb,
               SUM(m * m) - SUM(m) * SUM(m) / COUNT(*) AS ssb
        FROM cand GROUP BY period, nbins, bin
    ),
    theta AS (
        SELECT b.period,
               CAST(SUM(b.nb) AS BIGINT) AS n_days,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               SUM(b.ssb) / (SUM(b.nb) - COUNT(*)) AS s2_pooled,
               (SELECT (s2 - n * mu * mu) / (n - 1) FROM tot) AS s2_total
        FROM bins b GROUP BY b.period
    )
    SELECT period, n_days, n_bins,
           ROUND(s2_pooled, 6) AS pooled_var,
           ROUND(s2_total, 6) AS total_var,
           ROUND(s2_pooled / s2_total, 6) AS theta,
           s2_pooled / s2_total
               = MIN(s2_pooled / s2_total) OVER () AS best_period
    FROM theta ORDER BY period
    """,
)
def events_phase_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase dispersion minimization (Stellingwerf, ApJ 224:953,
    1978 — the astronomer's period finder for unevenly-sampled or
    non-sinusoidal signals, complementing the registry's Lomb-Scargle
    row): fold the daily mean-value series on each candidate period,
    bin by phase, and score Θ = pooled within-bin variance / total
    variance. A true period drives Θ well below 1; noise keeps it
    near 1. The minimum-Θ candidate is flagged.

    Determinism: day indices fold by exact integer arithmetic (i %
    period · nbins // period with BIGINT semantics both engines);
    bin moments are ≤30-term fixed chains against 6dp rounding; the
    flag compares identical unrounded doubles.

    Scale shape: one daily aggregate, a 4-period × 30-day fan-out,
    and a (period, bin) partial-agg groupBy — everything after the
    collapse is calendar-bounded."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
            .cast("long")
            .alias("i")
        )
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
                / F.count("*")
            ).alias("m")
        )
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("m").alias("mu"),
        F.sum(F.col("m") * F.col("m")).alias("s2"),
    ).select(
        ((F.col("s2") - F.col("n") * F.col("mu") * F.col("mu")) / (F.col("n") - 1)).alias(
            "s2_total"
        )
    )
    periods = spark.createDataFrame(
        [(p, _NBINS[p]) for p in _PERIODS], "period long, nbins long"
    )
    cand = daily.crossJoin(F.broadcast(periods)).select(
        "period",
        "nbins",
        (
            (F.col("i") % F.col("period"))
            * F.col("nbins")
            / F.col("period")
        )
        .cast("long")
        .alias("bin"),
        "m",
    )
    bins = cand.groupBy("period", "nbins", "bin").agg(
        F.count("*").cast("long").alias("nb"),
        (
            F.sum(F.col("m") * F.col("m"))
            - F.sum("m") * F.sum("m") / F.count("*")
        ).alias("ssb"),
    )
    theta = bins.groupBy("period").agg(
        F.sum("nb").cast("long").alias("n_days"),
        F.count("*").cast("long").alias("n_bins"),
        (F.sum("ssb") / (F.sum("nb") - F.count("*"))).alias("s2_pooled"),
    ).crossJoin(F.broadcast(tot))
    from pyspark.sql import Window

    th = F.col("s2_pooled") / F.col("s2_total")
    return theta.select(
        "period",
        "n_days",
        "n_bins",
        F.round(F.col("s2_pooled"), 6).alias("pooled_var"),
        F.round(F.col("s2_total"), 6).alias("total_var"),
        F.round(th, 6).alias("theta"),
        (th == F.min(th).over(Window.partitionBy())).alias("best_period"),
    ).orderBy("period")
