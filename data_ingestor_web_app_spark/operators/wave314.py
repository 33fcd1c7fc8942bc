"""Wave-314: Hawkes branching-ratio moment estimate from window counts
and Breslau/Zipf LFU cache hit ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_hawkes_branching",
    oracle="""
    WITH hourly AS (
        SELECT DATE_TRUNC('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               SUM(CAST(x AS HUGEINT) * x) AS s2
        FROM hourly
    ),
    f AS (
        SELECT n, s1,
               (CAST(s2 AS DOUBLE) / n
                - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
               / (CAST(s1 AS DOUBLE) / n) AS fano
        FROM mom
    )
    SELECT n AS n_hours,
           CAST(s1 AS BIGINT) AS n_events,
           ROUND(fano, 6) AS fano_factor,
           ROUND(GREATEST(0, 1 - 1 / SQRT(GREATEST(fano, 1.0))), 6)
               AS branching_ratio,
           ROUND(1 - GREATEST(0, 1 - 1 / SQRT(GREATEST(fano, 1.0))), 6)
               AS exogenous_fraction,
           fano > 1 AS self_exciting
    FROM f
    """,
)
def events_hawkes_branching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hawkes branching-ratio moment estimate (Hawkes, Biometrika 1971;
    the window-count dispersion inversion used across seismology and
    finance — for a stationary Hawkes process the long-window Fano
    factor is F = 1/(1-n)², so n = 1 - 1/sqrt(F), public): from hourly
    volume counts, how much of the traffic is SELF-EXCITED (each event
    breeding n offspring on average) versus exogenous? n -> 0 is
    Poisson arrivals; n -> 1 is criticality (every event mostly echoes
    of prior events — retry storms, cascades). The registry's
    events_burstiness row reports the per-type Fano; this inverts the
    GLOBAL series into the generative quantity capacity planners
    actually reason about, clamped at the Poisson floor (F < 1, i.e.
    underdispersion, reads as n = 0).

    Determinism: hourly counts exact; one fixed chain; the flag
    compares the unrounded Fano to 1.

    Scale shape: one hourly collapse + one moment aggregate."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    mom = hourly.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    fano = (F.col("s2").cast("double") / F.col("n") - mean * mean) / mean
    nb = F.greatest(
        F.lit(0.0), 1 - 1 / F.sqrt(F.greatest(fano, F.lit(1.0)))
    )
    return mom.select(
        F.col("n").alias("n_hours"),
        F.col("s1").alias("n_events"),
        F.round(fano, 6).alias("fano_factor"),
        F.round(nb, 6).alias("branching_ratio"),
        F.round(1 - nb, 6).alias("exogenous_fraction"),
        (fano > 1).alias("self_exciting"),
    )


@query(
    "events_cache_lfu_hit",
    oracle="""
    WITH pop AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT c,
               ROW_NUMBER() OVER (ORDER BY c DESC, user_id) AS rk,
               SUM(c) OVER () AS total,
               CAST(COUNT(*) OVER () AS BIGINT) AS n_items
        FROM pop
    ),
    hits AS (
        SELECT CAST(MAX(n_items) AS BIGINT) AS n_items,
               CAST(MAX(total) AS BIGINT) AS n_requests,
               CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT)
                   AS top10,
               CAST(SUM(CASE WHEN rk <= 50 THEN c ELSE 0 END) AS BIGINT)
                   AS top50,
               CAST(SUM(CASE WHEN rk <= 100 THEN c ELSE 0 END) AS BIGINT)
                   AS top100
        FROM ranked
    ),
    zipf AS (
        SELECT (SUM(LN(CAST(rk AS DOUBLE)) * LN(CAST(c AS DOUBLE)))
                - COUNT(*) * AVG(LN(CAST(rk AS DOUBLE)))
                  * AVG(LN(CAST(c AS DOUBLE))))
               / (SUM(LN(CAST(rk AS DOUBLE)) * LN(CAST(rk AS DOUBLE)))
                  - COUNT(*) * AVG(LN(CAST(rk AS DOUBLE)))
                    * AVG(LN(CAST(rk AS DOUBLE)))) AS slope
        FROM ranked
    )
    SELECT h.n_items, h.n_requests,
           ROUND(-z.slope, 6) AS zipf_alpha,
           ROUND(CAST(h.top10 AS DOUBLE) / h.n_requests, 6) AS hit_at_10,
           ROUND(CAST(h.top50 AS DOUBLE) / h.n_requests, 6) AS hit_at_50,
           ROUND(CAST(h.top100 AS DOUBLE) / h.n_requests, 6) AS hit_at_100
    FROM hits h CROSS JOIN zipf z
    """,
)
def events_cache_lfu_hit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LFU cache hit ratios under the independent-reference model
    (Breslau, Cao, Fan, Phillips & Shenker, INFOCOM 1999 — 'Web
    caching and Zipf-like distributions', public): under IRM the
    optimal (LFU) cache of size C hits exactly the popularity mass of
    the top-C objects, so hit_at_C = Σ_{top C} p_i — computed here for
    user-keyed traffic at C = 10/50/100 alongside the fitted Zipf
    exponent of the rank-frequency curve (Breslau's whole point: alpha
    < 1 makes caching returns grow only logarithmically in C; the
    hit-ratio ladder IS the capacity-planning curve).

    Determinism: popularity counts exact; the rank is total-ordered
    (count desc, user_id); the Zipf fit is a closed-form OLS on
    <=n_items log points; ROUND 6.

    Scale shape: one partial-agg groupBy(user) over the scan; the
    ranked walk runs over the distinct-user frame (window over an
    Aggregate), and the ladder is three conditional sums on it."""
    pop = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), "user_id")
    ranked = pop.select(
        "c",
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(Window.partitionBy()).alias("total"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n_items"),
    )
    hits = ranked.agg(
        F.max("n_items").cast("long").alias("n_items"),
        F.max("total").cast("long").alias("n_requests"),
        *[
            F.sum(F.when(F.col("rk") <= cz, F.col("c")).otherwise(0))
            .cast("long")
            .alias(f"top{cz}")
            for cz in (10, 50, 100)
        ],
    )
    lx = F.log(F.col("rk").cast("double"))
    ly = F.log(F.col("c").cast("double"))
    sxx = F.sum(lx * lx) - F.count("*") * F.avg(lx) * F.avg(lx)
    sxy = F.sum(lx * ly) - F.count("*") * F.avg(lx) * F.avg(ly)
    zipf = ranked.agg((sxy / sxx).alias("slope"))
    return hits.crossJoin(F.broadcast(zipf)).select(
        "n_items",
        "n_requests",
        F.round(-F.col("slope"), 6).alias("zipf_alpha"),
        *[
            F.round(
                F.col(f"top{cz}").cast("double") / F.col("n_requests"), 6
            ).alias(f"hit_at_{cz}")
            for cz in (10, 50, 100)
        ],
    )
