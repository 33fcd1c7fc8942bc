"""Wave-225: Erlang-B blocking probabilities across a channel-count
sweep, and DKW confidence bands around the empirical CDF.

Erlang B is the loss-system companion to the registered M/M/1 and
Erlang-C queueing ops: calls that find all k channels busy are DROPPED
(the reference's reject-above-cap admission semantics, main.go:252-255,
is exactly a loss system) — B(k, a) follows the classic recurrence
B(k) = a*B(k-1) / (k + a*B(k-1)), folded in fixed order so both engines
produce identical doubles. DKW puts distribution-free 95% bands around
the ECDF — the honest error bars for every quantile read off it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_KMAX = 20
# DKW 95%: eps = sqrt(ln(2/alpha) / (2n))
_LN40 = math.log(2 / 0.05)


@query(
    "events_erlang_b_blocking",
    oracle=f"""
    WITH load AS (
        -- offered load a = arrival rate x mean hold time; proxy: mean
        -- events per hour (arrivals) x 0.25 h nominal service
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               COUNT(*) / CAST(24 * COUNT(DISTINCT CAST(ts AS DATE))
                               AS DOUBLE) * 0.25e0 AS a
        FROM events
    ),
    ks AS (SELECT k FROM UNNEST(GENERATE_SERIES(1, {_KMAX})) AS t(k)),
    blocked AS (
        SELECT ks.k, l.a, l.n,
               LIST_REDUCE(
                   LIST_PREPEND(1.0e0,
                       LIST_TRANSFORM(GENERATE_SERIES(1, ks.k),
                                      j -> CAST(j AS DOUBLE))),
                   (b, j) -> l.a * b / (j + l.a * b)) AS b
        FROM ks, load l
    )
    SELECT k AS channels, ROUND(a, 6) AS offered_load,
           ROUND(b, 6) AS blocking_prob,
           ROUND(a * (1 - b), 6) AS carried_load,
           b <= 0.01e0 AS meets_1pct_slo
    FROM blocked ORDER BY channels
    """,
)
def events_erlang_b_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-B blocking probability for 1..{_KMAX} channels at the
    measured offered load (mean hourly arrivals x 0.25 h nominal
    service): the probability an arriving request is DROPPED because
    every channel is busy — the loss-system model matching the
    reference's reject-above-cap admission (connections over the
    semaphore limit are closed, not queued). The sweep row where
    blocking first dips under 1% is the capacity answer; Erlang C
    (registered) gives the queueing alternative for wait-instead-of-
    drop designs.

    Determinism: the offered load is an exact count ratio; each B(k)
    folds the recurrence B <- a*B/(j + a*B) over j = 1..k in fixed
    order — identical double chains in both engines.

    Scale shape: one aggregate for the load, then a {_KMAX}-row
    constant-size fold sweep."""
    events = table(spark, sf_dir, "events")
    load = events.agg(
        F.count("*").cast("long").alias("n"),
        (
            F.count("*")
            / (24 * F.countDistinct(F.to_date("ts"))).cast("double")
            * F.lit(0.25)
        ).alias("a"),
    )
    ks = spark.range(1, _KMAX + 1).select(
        F.col("id").cast("int").alias("k")
    )
    swept = ks.crossJoin(F.broadcast(load)).withColumn(
        "b",
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.col("k")),
                lambda j: j.cast("double"),
            ),
            F.lit(1.0),
            lambda b, j: F.col("a") * b / (j + F.col("a") * b),
        ),
    )
    return swept.select(
        F.col("k").alias("channels"),
        F.round("a", 6).alias("offered_load"),
        F.round("b", 6).alias("blocking_prob"),
        F.round(F.col("a") * (1 - F.col("b")), 6).alias("carried_load"),
        (F.col("b") <= 0.01).alias("meets_1pct_slo"),
    ).orderBy("channels")


@query(
    "agg_ecdf_dkw_bands",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT d, y,
               ROW_NUMBER() OVER (ORDER BY y, d) AS i,
               COUNT(*) OVER () AS n
        FROM daily
    )
    SELECT y AS units, CAST(i AS BIGINT) AS rank,
           ROUND(i / CAST(n AS DOUBLE), 6) AS ecdf,
           ROUND(GREATEST(i / CAST(n AS DOUBLE)
                 - SQRT({_LN40} / (2.0e0 * n)), 0.0e0), 6) AS band_lo,
           ROUND(LEAST(i / CAST(n AS DOUBLE)
                 + SQRT({_LN40} / (2.0e0 * n)), 1.0e0), 6) AS band_hi
    FROM ranked ORDER BY rank
    """,
)
def agg_ecdf_dkw_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical CDF of daily spend with Dvoretzky-Kiefer-Wolfowitz 95%
    confidence bands: eps = sqrt(ln(2/alpha)/(2n)) uniformly over the
    whole curve, clipped to [0, 1]. The distribution-free error bars
    that belong on every quantile read from an ECDF — at n = 30 days
    the band is +-0.25, which is exactly the honesty a "p90 spend"
    readout needs attached.

    Determinism: ranks order by (value, day); the band half-width is a
    shared closed-form literal expression; clipping uses exact
    comparisons.

    Scale shape: per-day collapse then a rank window over the bounded
    calendar frame."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    # n folded in as a 1-row broadcast (no build-time job); JVM SQRT is the
    # same IEEE double as math.sqrt, so values are unchanged
    nf = daily.agg(F.count("*").cast("long").alias("n"))
    ranked = daily.crossJoin(F.broadcast(nf)).withColumn(
        "i",
        F.row_number().over(
            # bounded: one row per calendar day
            Window.orderBy("y", "d")
        ),
    )
    eps = F.sqrt(F.lit(_LN40) / (2.0 * F.col("n")))
    ecdf = F.col("i") / F.col("n").cast("double")
    return ranked.select(
        F.col("y").alias("units"),
        F.col("i").cast("long").alias("rank"),
        F.round(ecdf, 6).alias("ecdf"),
        F.round(F.greatest(ecdf - eps, F.lit(0.0)), 6).alias("band_lo"),
        F.round(F.least(ecdf + eps, F.lit(1.0)), 6).alias("band_hi"),
    ).orderBy("rank")
