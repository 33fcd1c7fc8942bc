"""Wave-372: the German tank problem (serial-number estimation — the
frequentist MVUE of Goodman, JASA 1952, popularized by the WWII Allied
armor-production estimates) and the Vargha-Delaney A measure (Vargha &
Delaney, J. Educ. Behav. Stat. 2000 — the common-language stochastic-
superiority effect size CS/SE benchmarking guidelines mandate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_german_tank",
    oracle="""
    WITH sample AS (
        SELECT o_orderkey AS serial FROM orders WHERE o_orderkey % 97 = 3
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(serial) AS BIGINT) AS m,
               CAST(SUM(CAST(serial AS HUGEINT)) AS HUGEINT) AS tot
        FROM sample
    )
    SELECT k AS n_observed,
           m AS max_serial,
           ROUND(CAST(m AS DOUBLE) * (k + 1) / k - 1, 4) AS mvue,
           ROUND(2.0 * CAST(tot AS DOUBLE) / k - 1, 4) AS mom,
           ROUND(m + CAST(m AS DOUBLE) * LN(2) / k, 4) AS median_unbiased,
           ROUND(CAST(m AS DOUBLE) * POWER(20.0, 1.0 / k), 4) AS ci95_upper
    FROM s
    """,
)
def model_german_tank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """German tank estimators over a deterministic pseudo-random subsample
    of order serial numbers (o_orderkey % 97 = 3 — every 97th key, the
    sampling-without-replacement regime the estimator assumes): the MVUE
    m(1 + 1/k) − 1 (max + average gap), the method-of-moments 2·mean − 1,
    the median-unbiased m + m·ln2/k, and the exact one-sided 95% upper
    bound m·20^(1/k) (from P(max ≤ x·N) = x^k under the uniform model).

    Determinism: k, m and Σserial are exact integers (128-bit sum); every
    estimator is a fixed double expression on those three scalars, ROUND 4.

    Scale shape: one filtered scan into a single 1-row aggregate — the
    filter pushes to parquet and the agg is map-side partial."""
    s = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 97 == 3)
        .agg(
            F.count("*").cast("long").alias("k"),
            F.max("o_orderkey").cast("long").alias("m"),
            F.sum(F.col("o_orderkey").cast("decimal(38,0)")).alias("tot"),
        )
    )
    k = F.col("k")
    m = F.col("m").cast("double")
    return s.select(
        F.col("k").alias("n_observed"),
        F.col("m").alias("max_serial"),
        F.round(m * (k + 1) / k - 1, 4).alias("mvue"),
        F.round(2.0 * F.col("tot").cast("double") / k - 1, 4).alias("mom"),
        F.round(F.col("m") + m * F.log(F.lit(2.0)) / k, 4).alias(
            "median_unbiased"
        ),
        F.round(m * F.pow(F.lit(20.0), 1.0 / k), 4).alias("ci95_upper"),
    )


@query(
    "agg_vargha_delaney_a",
    oracle="""
    WITH u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CAST(ROUND(value * 100) AS BIGINT) AS v
        FROM events
    ),
    dv AS (
        SELECT v,
               CAST(SUM(g) AS BIGINT) AS ca,
               CAST(COUNT(*) - SUM(g) AS BIGINT) AS cb,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM u GROUP BY v
    ),
    pre AS (
        SELECT v, ca, cnt,
               COALESCE(SUM(cnt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM dv
    ),
    s AS (
        -- 2*midrank(v) = 2*cum_before + cnt + 1 is an exact integer, so
        -- 2*R1 stays exact through the sum
        SELECT SUM(CAST(ca AS HUGEINT) * (2 * cum_before + cnt + 1)) AS r1x2,
               CAST(SUM(ca) AS BIGINT) AS mm
        FROM pre
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM u),
    a AS (
        SELECT mm, n_all - mm AS nn,
               (CAST(r1x2 AS DOUBLE) / mm - (mm + 1))
                   / (2.0 * (n_all - mm)) AS a_meas
        FROM s, tot
    )
    SELECT mm AS n_weekend, nn AS n_weekday,
           ROUND(a_meas, 6) AS a_measure,
           ROUND(2 * a_meas - 1, 6) AS rank_biserial,
           CASE WHEN ABS(a_meas - 0.5) < 0.06 THEN 'negligible'
                WHEN ABS(a_meas - 0.5) < 0.14 THEN 'small'
                WHEN ABS(a_meas - 0.5) < 0.21 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM a
    """,
)
def agg_vargha_delaney_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vargha-Delaney A (2000): P(X > Y) + ½P(X = Y) for weekend vs
    weekday event values — the common-language effect size (0.5 = no
    effect) with their published magnitude bands (|A−0.5| ≥ 0.06 / 0.14 /
    0.21 = small / medium / large), plus the equivalent rank-biserial
    r = 2A − 1. Computed from the midrank sum: A = (R₁/m − (m+1)/2)/n.

    Determinism: the merged-EDF distinct-value collapse keeps everything
    integer — 2·midrank = 2·cum_before + cnt + 1, so 2·R₁ is an exact
    128-bit sum; A is one double division, ROUND 6; the magnitude CASE
    compares the same exact-rational A in both engines.

    Scale shape: one groupBy on the bounded centi-value grid + one ordered
    prefix window over that grid (distinct values, not rows) — the same
    shape as every rank statistic in this registry."""
    u = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    dv = u.groupBy("v").agg(
        F.sum("g").cast("long").alias("ca"),
        (F.count("*") - F.sum("g")).cast("long").alias("cb"),
        F.count("*").cast("long").alias("cnt"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    pre = dv.select(
        "v",
        "ca",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
    )
    s = pre.agg(
        F.sum(
            F.col("ca").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("cnt") + 1)
        ).alias("r1x2"),
        F.sum("ca").cast("long").alias("mm"),
    )
    tot = u.agg(F.count("*").cast("long").alias("n_all"))
    a = s.crossJoin(F.broadcast(tot)).select(
        "mm",
        (F.col("n_all") - F.col("mm")).alias("nn"),
        (
            (F.col("r1x2").cast("double") / F.col("mm") - (F.col("mm") + 1))
            / (2.0 * (F.col("n_all") - F.col("mm")))
        ).alias("a_meas"),
    )
    return a.select(
        F.col("mm").alias("n_weekend"),
        F.col("nn").alias("n_weekday"),
        F.round(F.col("a_meas"), 6).alias("a_measure"),
        F.round(2 * F.col("a_meas") - 1, 6).alias("rank_biserial"),
        F.when(F.abs(F.col("a_meas") - 0.5) < 0.06, "negligible")
        .when(F.abs(F.col("a_meas") - 0.5) < 0.14, "small")
        .when(F.abs(F.col("a_meas") - 0.5) < 0.21, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )
