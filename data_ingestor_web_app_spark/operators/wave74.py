"""Wave-74: Gumbel extreme-value fit with return levels, existence
(mark) join flags, Shewhart individuals control chart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_extreme_value_gumbel",
    oracle="""
    WITH daily_max AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS mx
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(mx) AS BIGINT) AS s1,
               CAST(SUM(mx * mx) AS BIGINT) AS s2
        FROM daily_max
    ),
    fit AS (
        SELECT n,
               SQRT((CAST(s2 AS DOUBLE) / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)))
                   * 0.7796968012336761 AS beta,
               s1 * 1.0 / n
               - SQRT((CAST(s2 AS DOUBLE) / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)))
                 * 0.7796968012336761 * 0.5772156649015329 AS mu
        FROM mom
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           ROUND(mu / 100.0, 4) AS gumbel_mu_usd,
           ROUND(beta / 100.0, 4) AS gumbel_beta_usd,
           ROUND((mu - beta * LN(-LN(1 - 1.0 / 10))) / 100.0, 4)
               AS return_level_10d_usd,
           ROUND((mu - beta * LN(-LN(1 - 1.0 / 100))) / 100.0, 4)
               AS return_level_100d_usd
    FROM fit
    """,
)
def events_extreme_value_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit (Gumbel 1958, public) of daily maximum
    event values by method of moments (beta = sd*sqrt(6)/pi, mu =
    mean - gamma*beta), with 10-day and 100-day return levels — the
    capacity-planning readout ('what's the biggest value we should
    expect per quarter') that mean/percentile monitoring structurally
    underestimates, because maxima follow EVT, not the bulk
    distribution.

    Determinism: daily maxima are exact integer cents; moments are
    exact BIGINT sums; the fit and return levels are one fixed double
    formula (sqrt(6)/pi and Euler-Mascheroni as literals).

    Scale shape: one map-side-combined daily max, one 3-value moment
    rollup over ~30 rows."""
    e = table(spark, sf_dir, "events")
    daily_max = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.max(F.round(F.col("value") * 100).cast("long")).cast("long").alias("mx")
    )
    mom = daily_max.agg(
        F.count("*").alias("n"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("n")
    sd = F.sqrt(F.col("s2").cast("double") / F.col("n") - mean * mean)
    beta = sd * 0.7796968012336761  # sqrt(6)/pi
    mu = mean - beta * 0.5772156649015329
    rl = lambda t: (mu - beta * F.log(-F.log(F.lit(1 - 1.0 / t)))) / 100.0  # noqa: E731
    return mom.select(
        F.col("n").cast("long").alias("n_days"),
        F.round(mu / 100.0, 4).alias("gumbel_mu_usd"),
        F.round(beta / 100.0, 4).alias("gumbel_beta_usd"),
        F.round(rl(10), 4).alias("return_level_10d_usd"),
        F.round(rl(100), 4).alias("return_level_100d_usd"),
    )


@query(
    "join_exists_flag",
    oracle="""
    WITH flagged AS (
        SELECT c.c_mktsegment AS segment,
               EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_orderpriority = '1-URGENT') AS has_urgent
        FROM customer c
    )
    SELECT segment, has_urgent,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM flagged GROUP BY segment, has_urgent
    """,
)
def join_exists_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence (mark) join: EXISTS as a BOOLEAN COLUMN rather than a
    filter — every customer keeps a row, annotated with whether they
    ever placed an urgent order. Catalyst compiles this to an
    ExistenceJoin (a semi-join that marks instead of filters), the
    fourth member of the semi/anti/inner family join_semi and join_anti
    already pin: downstream logic branches on the flag without losing
    the non-matching population.

    Scale shape: one hash join on custkey producing the mark bit (AQE
    broadcasts the urgent-order keys when small), then a map-side
    rollup over 10 (segment, flag) cells."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("v_customer_w74")
    o.createOrReplaceTempView("v_orders_w74")
    return spark.sql(
        """
        SELECT segment, has_urgent,
               CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM (
            SELECT c.c_mktsegment AS segment,
                   EXISTS (SELECT 1 FROM v_orders_w74 o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderpriority = '1-URGENT') AS has_urgent
            FROM v_customer_w74 c
        ) GROUP BY segment, has_urgent
        """
    )


@query(
    "events_control_chart_imr",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    mr AS (
        SELECT d, y,
               ABS(y - LAG(y) OVER (ORDER BY d)) AS r
        FROM daily
    ),
    lims AS (
        SELECT AVG(y) AS center, AVG(r) AS mrbar FROM mr
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(lims.center, 4) AS center,
           ROUND(lims.mrbar, 4) AS mr_bar,
           ROUND(lims.center + 2.66 * lims.mrbar, 4) AS ucl,
           ROUND(lims.center - 2.66 * lims.mrbar, 4) AS lcl,
           CAST(SUM(CASE WHEN mr.y > lims.center + 2.66 * lims.mrbar
                           OR mr.y < lims.center - 2.66 * lims.mrbar
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM mr, lims
    GROUP BY lims.center, lims.mrbar
    """,
)
def events_control_chart_imr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals / moving-range control chart (the SPC
    classic, public): daily volume as individuals, the average moving
    range estimating short-term sigma, and the 2.66*MR-bar control
    limits — the chart that distinguishes common-cause wiggle from a
    process shift worth paging on (the complement of
    events_change_point's retrospective CUSUM: I-MR is the ONLINE
    rule).

    Determinism: counts and moving ranges are exact integers; limits
    are exact-ratio means through one fixed formula.

    Scale shape: per-day rollup, one LAG over the bounded day series,
    one aggregate."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count("*").cast("long").alias("y")
    )
    w = Window.orderBy("d")  # bounded: one row per day
    mr = daily.select("y", F.abs(F.col("y") - F.lag("y").over(w)).alias("r"))
    lims = mr.agg(F.avg("y").alias("center"), F.avg("r").alias("mrbar"))
    j = mr.crossJoin(F.broadcast(lims))
    ucl = F.col("center") + 2.66 * F.col("mrbar")
    lcl = F.col("center") - 2.66 * F.col("mrbar")
    return j.groupBy("center", "mrbar").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.when((F.col("y") > ucl) | (F.col("y") < lcl), 1).otherwise(0))
        .cast("long")
        .alias("n_violations"),
    ).select(
        "n_days",
        F.round("center", 4).alias("center"),
        F.round("mrbar", 4).alias("mr_bar"),
        F.round(ucl, 4).alias("ucl"),
        F.round(lcl, 4).alias("lcl"),
        "n_violations",
    )
