"""Wave-305: Kingman's VUT (G/G/1) waiting-time approximation from
arrival/service variability and XYZ demand-variability classification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_kingman_vut",
    oracle="""
    WITH dts AS (
        SELECT ts, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY ts
    ),
    d AS (
        SELECT epoch_us(ts) - LAG(epoch_us(ts)) OVER (ORDER BY ts) AS du
        FROM dts
    ),
    amom AS (
        SELECT CAST((SELECT SUM(c) FROM dts) - 1 AS BIGINT) AS na,
               CAST(SUM(du) AS BIGINT) AS s1,
               SUM(CAST(du AS HUGEINT) * du) AS s2
        FROM d WHERE du IS NOT NULL
    ),
    smom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ns,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS t1,
               SUM(CAST(CAST(ROUND(value * 1000) AS BIGINT) AS HUGEINT)
                   * CAST(ROUND(value * 1000) AS BIGINT)) AS t2
        FROM events
    ),
    derived AS (
        SELECT na, ns,
               CAST(s1 AS DOUBLE) / na / 1000000.0 AS tau,
               (CAST(s2 AS DOUBLE) / na / 1e12
                - (CAST(s1 AS DOUBLE) / na / 1000000.0)
                  * (CAST(s1 AS DOUBLE) / na / 1000000.0))
               / ((CAST(s1 AS DOUBLE) / na / 1000000.0)
                  * (CAST(s1 AS DOUBLE) / na / 1000000.0)) AS ca2,
               CAST(t1 AS DOUBLE) / ns / 1000.0 AS es,
               (CAST(t2 AS DOUBLE) / ns / 1e6
                - (CAST(t1 AS DOUBLE) / ns / 1000.0)
                  * (CAST(t1 AS DOUBLE) / ns / 1000.0))
               / ((CAST(t1 AS DOUBLE) / ns / 1000.0)
                  * (CAST(t1 AS DOUBLE) / ns / 1000.0)) AS cs2
        FROM amom CROSS JOIN smom
    )
    SELECT na AS n_gaps, ns AS n_jobs,
           ROUND(tau, 6) AS mean_interarrival_s,
           ROUND(es, 6) AS mean_service_s,
           ROUND(es / tau, 6) AS rho,
           ROUND(ca2, 6) AS ca2,
           ROUND(cs2, 6) AS cs2,
           ROUND((es / tau) / (1 - es / tau) * (ca2 + cs2) / 2 * es, 6)
               AS kingman_wq_s,
           ROUND((es / tau) / (1 - es / tau) * es, 6) AS mm1_wq_s
    FROM derived
    """,
)
def events_kingman_vut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kingman's VUT formula (Kingman, Proc. Camb. Phil. Soc. 1961;
    the factory-physics V·U·T decomposition — public): G/G/1 queueing
    delay W_q ≈ [ρ/(1-ρ)] · [(c_a² + c_s²)/2] · E[S] — Variability ×
    Utilization × Time, the single most-used capacity-planning formula.
    Arrivals are the event stream (interarrival CV² from exact
    micro-gap moments, same distinct-ts device as
    events_inspection_paradox); service times take the value column as
    milliseconds. Emitted next to the M/M/1 delay (c² = 1 each) so the
    variability premium — Kingman's whole point — is the visible gap
    between the two columns.

    Determinism: gap and service moments are exact integer sums
    (HUGEINT/decimal(38,0) squares) divided once, identical chains both
    engines; ROUND 6.

    Scale shape: one distinct-ts collapse + one moment aggregate over
    the scan — no corpus-sized window (the gap lag runs on the
    Aggregate frame), map-side combinable."""
    e = table(spark, sf_dir, "events")
    dts = e.groupBy("ts").agg(F.count("*").cast("long").alias("c"))
    w = Window.orderBy("ts")
    d = dts.select(
        (
            F.expr("unix_micros(ts)") - F.lag(F.expr("unix_micros(ts)")).over(w)
        ).alias("du")
    ).where(F.col("du").isNotNull())
    n_events = dts.agg(F.sum("c").cast("long").alias("ne"))
    amom = (
        d.agg(
            F.sum("du").cast("long").alias("s1"),
            F.sum(F.col("du").cast("decimal(38,0)") * F.col("du")).alias("s2"),
        )
        .crossJoin(F.broadcast(n_events))
        .select((F.col("ne") - 1).alias("na"), "s1", "s2")
    )
    sv = F.round(F.col("value") * 1000).cast("long")
    smom = e.select(sv.alias("m")).agg(
        F.count("*").cast("long").alias("ns"),
        F.sum("m").cast("long").alias("t1"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("t2"),
    )
    j = amom.crossJoin(F.broadcast(smom))
    tau = F.col("s1").cast("double") / F.col("na") / 1000000.0
    ca2 = (
        F.col("s2").cast("double") / F.col("na") / 1e12 - tau * tau
    ) / (tau * tau)
    es = F.col("t1").cast("double") / F.col("ns") / 1000.0
    cs2 = (
        F.col("t2").cast("double") / F.col("ns") / 1e6 - es * es
    ) / (es * es)
    rho = es / tau
    return j.select(
        F.col("na").alias("n_gaps"),
        F.col("ns").alias("n_jobs"),
        F.round(tau, 6).alias("mean_interarrival_s"),
        F.round(es, 6).alias("mean_service_s"),
        F.round(rho, 6).alias("rho"),
        F.round(ca2, 6).alias("ca2"),
        F.round(cs2, 6).alias("cs2"),
        F.round(rho / (1 - rho) * (ca2 + cs2) / 2 * es, 6).alias(
            "kingman_wq_s"
        ),
        F.round(rho / (1 - rho) * es, 6).alias("mm1_wq_s"),
    )


@query(
    "warehouse_xyz_analysis",
    oracle="""
    WITH weekly AS (
        SELECT l.l_partkey,
               DATE_TRUNC('week', o.o_orderdate) AS wk,
               CAST(SUM(l.l_quantity) AS BIGINT) AS q
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    per_part AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n_weeks,
               CAST(SUM(q) AS BIGINT) AS s1,
               SUM(CAST(q AS HUGEINT) * q) AS s2
        FROM weekly GROUP BY l_partkey
    ),
    cv AS (
        SELECT l_partkey, n_weeks,
               CASE WHEN n_weeks = 1 THEN 0.0
                    ELSE SQRT(CAST(s2 AS DOUBLE) / n_weeks
                              - (CAST(s1 AS DOUBLE) / n_weeks)
                                * (CAST(s1 AS DOUBLE) / n_weeks))
                         / (CAST(s1 AS DOUBLE) / n_weeks) END AS cv
        FROM per_part
    ),
    cls AS (
        SELECT CASE WHEN cv < 0.5 THEN 'X'
                    WHEN cv < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz_class,
               cv, n_weeks
        FROM cv
    )
    SELECT xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(AVG(cv), 6) AS avg_cv,
           ROUND(AVG(CAST(n_weeks AS DOUBLE)), 6) AS avg_active_weeks
    FROM cls GROUP BY xyz_class
    """,
)
def warehouse_xyz_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XYZ demand-variability classification (the standard companion to
    ABC value analysis in inventory texts; Errasti et al. / REFA
    conventions — public): per part, the coefficient of variation of
    weekly demand sorts items into X (steady, CV < 0.5 — forecast and
    automate), Y (seasonal/fluctuating, CV < 1.0) and Z (erratic —
    safety stock or make-to-order). The registry's agg_abc_analysis
    answers "which parts matter"; this answers "which parts are even
    forecastable" — practitioners cross the two into the 9-cell AX..CZ
    policy matrix.

    Determinism: weekly quantity sums are exact integers; CV from exact
    power sums divided once (single-week parts pinned to CV = 0); class
    thresholds are literals; per-class averages rounded 6dp.

    Scale shape: one join on the order key (both sides shuffle once),
    two nested partial-agg groupBys; the class rollup sees only the
    part dimension."""
    weekly = (
        table(spark, sf_dir, "lineitem")
        .join(
            table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "l_partkey",
            F.date_trunc("week", "o_orderdate").alias("wk"),
        )
        .agg(F.sum("l_quantity").cast("long").alias("q"))
    )
    per_part = weekly.groupBy("l_partkey").agg(
        F.count("*").cast("long").alias("n_weeks"),
        F.sum("q").cast("long").alias("s1"),
        F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n_weeks")
    cv = F.when(F.col("n_weeks") == 1, F.lit(0.0)).otherwise(
        F.sqrt(F.col("s2").cast("double") / F.col("n_weeks") - mean * mean)
        / mean
    )
    cls = per_part.select(
        F.when(cv < 0.5, "X").when(cv < 1.0, "Y").otherwise("Z").alias(
            "xyz_class"
        ),
        cv.alias("cv"),
        "n_weeks",
    )
    return cls.groupBy("xyz_class").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.round(F.avg("cv"), 6).alias("avg_cv"),
        F.round(F.avg(F.col("n_weeks").cast("double")), 6).alias(
            "avg_active_weeks"
        ),
    )
