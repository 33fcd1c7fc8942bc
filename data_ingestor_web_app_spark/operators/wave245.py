"""Wave-245: renewal/queueing analytics beyond M/M/1 — the M/G/1
Pollaczek-Khinchine mean waiting time from EMPIRICAL service moments
(no exponential-service assumption), and the inspection-paradox audit
quantifying length-biased sampling of inter-event gaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_mg1_pollaczek",
    oracle="""
    WITH arr AS (
        SELECT (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 1000000.0
                   / (COUNT(*) - 1) AS mean_ia
        FROM events
    ),
    svc AS (
        SELECT AVG(value / 100.0) AS es,
               AVG((value / 100.0) * (value / 100.0)) AS es2,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events
    )
    SELECT svc.n,
           ROUND(1.0 / arr.mean_ia, 6) AS lambda_rate,
           ROUND(svc.es, 6) AS mean_service,
           ROUND((svc.es2 - svc.es * svc.es) / (svc.es * svc.es), 6)
               AS cv2_service,
           ROUND((1.0 / arr.mean_ia) * svc.es, 6) AS rho,
           CASE WHEN (1.0 / arr.mean_ia) * svc.es >= 1
                THEN -1.0
                ELSE ROUND((1.0 / arr.mean_ia) * svc.es2
                           / (2 * (1 - (1.0 / arr.mean_ia) * svc.es)), 6)
           END AS wq_pk,
           CASE WHEN (1.0 / arr.mean_ia) * svc.es >= 1
                THEN -1.0
                ELSE ROUND(((1.0 / arr.mean_ia) * svc.es
                            / (1 - (1.0 / arr.mean_ia) * svc.es)) * svc.es
                           * (1 + (svc.es2 - svc.es * svc.es)
                                  / (svc.es * svc.es)) / 2, 6)
           END AS wq_mm1_adjusted
    FROM arr CROSS JOIN svc
    """,
)
def events_mg1_pollaczek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M/G/1 mean queueing delay via the Pollaczek-Khinchine formula
    (Pollaczek 1930; Khinchine 1932, public): Wq = lambda*E[S^2] /
    (2*(1-rho)), with the arrival rate from the observed span/(n-1)
    and the service moments taken EMPIRICALLY from the value column
    (scaled to seconds at value/100) — no exponential-service
    assumption, which is the entire point over events_mm1_queue_metrics:
    the second moment E[S^2] (equivalently CV^2) is what makes heavy-
    tailed service hurt. The wq_mm1_adjusted column is the same number
    via the rho/(1-rho)*E[S]*(1+CV^2)/2 form — an algebraic identity,
    asserted in this wave's test. An overloaded fit (rho >= 1) emits
    the -1 sentinel in both engines.

    Exactness device: moments are one-pass raw averages; every output
    is a single rounded chain over them.

    Scale shape: two 1-row aggregates over the scan — the queueing
    screen is O(scan) with map-side combine, nothing else."""
    e = table(spark, sf_dir, "events")
    arr = e.agg(
        (
            (F.max(F.expr("unix_micros(ts)")) - F.min(F.expr("unix_micros(ts)")))
            / 1000000.0
            / (F.count("*") - 1)
        ).alias("mean_ia")
    )
    s = F.col("value") / 100.0
    svc = e.agg(
        F.avg(s).alias("es"),
        F.avg(s * s).alias("es2"),
        F.count("*").cast("long").alias("n"),
    )
    lam = 1.0 / F.col("mean_ia")
    rho = lam * F.col("es")
    cv2 = (F.col("es2") - F.col("es") * F.col("es")) / (
        F.col("es") * F.col("es")
    )
    return arr.crossJoin(F.broadcast(svc)).select(
        "n",
        F.round(lam, 6).alias("lambda_rate"),
        F.round("es", 6).alias("mean_service"),
        F.round(cv2, 6).alias("cv2_service"),
        F.round(rho, 6).alias("rho"),
        F.when(rho >= 1, F.lit(-1.0))
        .otherwise(F.round(lam * F.col("es2") / (2 * (1 - rho)), 6))
        .alias("wq_pk"),
        F.when(rho >= 1, F.lit(-1.0))
        .otherwise(
            F.round((rho / (1 - rho)) * F.col("es") * (1 + cv2) / 2, 6)
        )
        .alias("wq_mm1_adjusted"),
    )


@query(
    "events_inspection_paradox",
    oracle="""
    WITH dts AS (
        SELECT ts, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY ts
    ),
    d AS (
        SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (ORDER BY ts) AS du
        FROM dts
    ),
    mom AS (
        SELECT CAST((SELECT SUM(c) FROM dts) - 1 AS BIGINT) AS n,
               CAST(SUM(du) AS BIGINT) AS sum_us,
               SUM(CAST(du AS HUGEINT) * du) AS sum_us2
        FROM d WHERE du IS NOT NULL
    ),
    eg AS (
        SELECT n,
               CAST(sum_us AS DOUBLE) / n / 1000000.0 AS eg,
               CAST(sum_us2 AS DOUBLE) / n / 1000000000000.0 AS eg2
        FROM mom
    )
    SELECT n AS n_gaps,
           ROUND(eg, 6) AS mean_gap_s,
           ROUND(eg2 / eg, 6) AS length_biased_mean_s,
           ROUND(eg2 / (eg * eg), 6) AS inspection_ratio,
           ROUND((eg2 - eg * eg) / (eg * eg), 6) AS cv2_gap,
           ROUND(eg2 / (2 * eg), 6) AS mean_residual_life_s
    FROM eg
    """,
)
def events_inspection_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inspection-paradox audit (Feller vol. II, 1966, public) of the
    inter-event gap process: an observer landing at a random TIME sees
    a gap with mean E[X^2]/E[X] (length-biased), not E[X] — the ratio
    E[X^2]/E[X]^2 = 1 + CV^2 quantifies how badly "sample a moment,
    measure the current gap" overestimates typical gaps, and
    E[X^2]/(2E[X]) is the renewal-theory mean residual waiting time
    (the "bus paradox" number). For exponential gaps the ratio is 2 —
    the emitted cv2_gap near 1 confirms/denies Poisson arrivals, which
    is exactly what events_mg1_pollaczek's M/ assumption needs checked.

    Exactness device: gaps are exact integer micro differences over a
    totally ordered lag window ((ts, event_id) tie-break); one-pass
    moments; five rounded chains.

    Scale shape (r8 rework, VERDICT r7 item 4): the gap multiset's
    moments only — same-ts events contribute exactly zero gaps (count
    toward n, add nothing to the sums), so the lag runs over the
    distinct-ts frame (a window over an Aggregate, never raw rows) and
    the micro-gap sums stay EXACT integers (decimal(38,0)/HUGEINT for
    the squares) in both engines, divided once at the end."""
    e = table(spark, sf_dir, "events")
    dts = e.groupBy("ts").agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("ts")
    d = dts.select(
        (
            F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(w)
        ).alias("du")
    ).where(F.col("du").isNotNull())
    n_events = dts.agg(F.sum("c").cast("long").alias("ne"))
    mom = (
        d.agg(
            F.sum("du").cast("long").alias("sum_us"),
            F.sum(F.col("du").cast("decimal(38,0)") * F.col("du")).alias(
                "sum_us2"
            ),
        )
        .crossJoin(F.broadcast(n_events))
        .select(
            (F.col("ne") - 1).alias("n"),
            (
                F.col("sum_us").cast("double") / (F.col("ne") - 1) / 1000000.0
            ).alias("eg"),
            (
                F.col("sum_us2").cast("double")
                / (F.col("ne") - 1)
                / 1000000000000.0
            ).alias("eg2"),
        )
    )
    return mom.select(
        F.col("n").alias("n_gaps"),
        F.round("eg", 6).alias("mean_gap_s"),
        F.round(F.col("eg2") / F.col("eg"), 6).alias("length_biased_mean_s"),
        F.round(F.col("eg2") / (F.col("eg") * F.col("eg")), 6).alias(
            "inspection_ratio"
        ),
        F.round(
            (F.col("eg2") - F.col("eg") * F.col("eg"))
            / (F.col("eg") * F.col("eg")),
            6,
        ).alias("cv2_gap"),
        F.round(F.col("eg2") / (2 * F.col("eg")), 6).alias(
            "mean_residual_life_s"
        ),
    )
