"""Wave-316: round-number bunching audit and per-part price dispersion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_round_number_bunching",
    oracle="""
    WITH c AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN cents % 10000 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS at_100s,
               CAST(SUM(CASE WHEN cents % 100 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS whole_dollars,
               CAST(SUM(CASE WHEN (cents // 100) % 100 = 99 THEN 1 ELSE 0 END)
                    AS BIGINT) AS ending_99
        FROM c
    )
    SELECT n AS n_obs, at_100s, whole_dollars, ending_99,
           ROUND(at_100s * 10000.0 / n, 6) AS excess_100s,
           ROUND(whole_dollars * 100.0 / n, 6) AS excess_whole,
           ROUND(ending_99 * 100.0 / n, 6) AS excess_99,
           ROUND((at_100s - n / 10000.0)
                 / SQRT(n / 10000.0 * (1 - 1 / 10000.0)), 6) AS z_100s,
           ABS((at_100s - n / 10000.0)
               / SQRT(n / 10000.0 * (1 - 1 / 10000.0))) > 1.959964
               AS bunched_at_100s
    FROM m
    """,
)
def agg_round_number_bunching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-number bunching audit (the bunching-estimator tradition,
    Kleven, Annual Rev. of Economics 2016; psychological-pricing endings
    per Schindler & Kirby, J. Consumer Research 1997 — public): the
    share of order totals landing exactly on $100 multiples, whole
    dollars, and .99-dollar endings, each expressed as the EXCESS over
    the smooth-counterfactual rate (a price continuum puts 1/10000 of
    mass on each cent residue class, so excess = observed/expected; 1 =
    no bunching) with a binomial z for the $100 wall. Human-set prices
    bunch; machine-generated ones don't — the same forensic read as the
    registry's Benford rows, aimed at the OTHER end of the digits.

    Determinism: residue-class counts are exact integer arithmetic on
    exact cents; fixed chains rounded 6dp; the flag compares the
    unrounded z.

    Scale shape: one conditional aggregate over the scan — no window,
    map-side combinable."""
    c = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    m = c.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("cents") % 10000 == 0, 1).otherwise(0))
        .cast("long")
        .alias("at_100s"),
        F.sum(F.when(F.col("cents") % 100 == 0, 1).otherwise(0))
        .cast("long")
        .alias("whole_dollars"),
        F.sum(
            F.when(F.expr("(cents div 100) % 100") == 99, 1).otherwise(0)
        )
        .cast("long")
        .alias("ending_99"),
    )
    z = (F.col("at_100s") - F.col("n") / 10000.0) / F.sqrt(
        F.col("n") / 10000.0 * (1 - 1 / 10000.0)
    )
    return m.select(
        F.col("n").alias("n_obs"),
        "at_100s",
        "whole_dollars",
        "ending_99",
        F.round(F.col("at_100s") * 10000.0 / F.col("n"), 6).alias(
            "excess_100s"
        ),
        F.round(F.col("whole_dollars") * 100.0 / F.col("n"), 6).alias(
            "excess_whole"
        ),
        F.round(F.col("ending_99") * 100.0 / F.col("n"), 6).alias("excess_99"),
        F.round(z, 6).alias("z_100s"),
        (F.abs(z) > 1.959964).alias("bunched_at_100s"),
    )


@query(
    "warehouse_price_dispersion",
    oracle="""
    WITH pp AS (
        SELECT l_partkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(l_extendedprice / l_quantity * 100)
                             AS BIGINT)) AS BIGINT) AS s1,
               SUM(CAST(CAST(ROUND(l_extendedprice / l_quantity * 100)
                             AS BIGINT) AS HUGEINT)
                   * CAST(ROUND(l_extendedprice / l_quantity * 100)
                          AS BIGINT)) AS s2,
               CAST(MIN(CAST(ROUND(l_extendedprice / l_quantity * 100)
                             AS BIGINT)) AS BIGINT) AS pmin,
               CAST(MAX(CAST(ROUND(l_extendedprice / l_quantity * 100)
                             AS BIGINT)) AS BIGINT) AS pmax
        FROM lineitem GROUP BY l_partkey
    ),
    multi AS (SELECT * FROM pp WHERE n >= 2),
    d AS (
        SELECT l_partkey, n,
               SQRT(GREATEST((CAST(s2 AS DOUBLE) / n
                    - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)),
                    0))
               / (CAST(s1 AS DOUBLE) / n) AS cv,
               CAST(pmax - pmin AS DOUBLE)
                 / ((pmax + pmin) / 2.0) AS rel_range
        FROM multi
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts_multi,
           ROUND(AVG(cv), 6) AS mean_cv,
           ROUND(MAX(cv), 6) AS max_cv,
           ROUND(AVG(rel_range), 6) AS mean_rel_range,
           ROUND(SUM(CASE WHEN cv > 0.1 THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS frac_dispersed
    FROM d
    """,
)
def warehouse_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price dispersion audit (Pratt, Wise & Zeckhauser, QJE 1979 —
    'the law of one price is no law at all'; Baye, Morgan & Scholten's
    dispersion measures — public): per part sold at least twice, the
    coefficient of variation and relative range of its realized UNIT
    price (extendedprice/quantity), rolled up to the market view —
    mean/max CV and the fraction of parts whose unit price varies more
    than 10%. Identical goods selling at different prices is the
    cleanest data-quality-or-economics flag a sales table can raise:
    either a discount policy (join it) or a data bug (fix it).

    Determinism: unit prices round to exact integer cents BEFORE the
    moments (the same guard as every cents column); per-part variance
    floors at 0 against roundoff; fixed chains rounded 6dp.

    Scale shape: one partial-agg groupBy(part) over the scan; the
    market rollup runs on the part dimension."""
    up = F.round(F.col("l_extendedprice") / F.col("l_quantity") * 100).cast(
        "long"
    )
    pp = (
        table(spark, sf_dir, "lineitem")
        .select("l_partkey", up.alias("p"))
        .groupBy("l_partkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("p").cast("long").alias("s1"),
            F.sum(F.col("p").cast("decimal(38,0)") * F.col("p")).alias("s2"),
            F.min("p").cast("long").alias("pmin"),
            F.max("p").cast("long").alias("pmax"),
        )
        .where(F.col("n") >= 2)
    )
    mean = F.col("s1").cast("double") / F.col("n")
    cv = (
        F.sqrt(
            F.greatest(
                F.col("s2").cast("double") / F.col("n") - mean * mean,
                F.lit(0.0),
            )
        )
        / mean
    )
    rel_range = (F.col("pmax") - F.col("pmin")).cast("double") / (
        (F.col("pmax") + F.col("pmin")) / 2.0
    )
    d = pp.select(cv.alias("cv"), rel_range.alias("rel_range"))
    return d.agg(
        F.count("*").cast("long").alias("n_parts_multi"),
        F.round(F.avg("cv"), 6).alias("mean_cv"),
        F.round(F.max("cv"), 6).alias("max_cv"),
        F.round(F.avg("rel_range"), 6).alias("mean_rel_range"),
        F.round(
            F.sum(F.when(F.col("cv") > 0.1, 1).otherwise(0))
            * 1.0
            / F.count("*"),
            6,
        ).alias("frac_dispersed"),
    )
