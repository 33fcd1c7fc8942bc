"""Wave-320: Cuzick's trend test across ordered groups and the paired
sign test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_cuzick_trend",
    oracle="""
    WITH vals AS (
        SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS z,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    pc AS (
        SELECT cents, z, CAST(COUNT(*) AS BIGINT) AS k
        FROM vals GROUP BY cents, z
    ),
    vtot AS (
        SELECT cents, CAST(SUM(k) AS BIGINT) AS t FROM pc GROUP BY cents
    ),
    cum AS (
        SELECT cents, t,
               SUM(t) OVER (ORDER BY cents) - t AS below
        FROM vtot
    ),
    ranked AS (
        SELECT p.z, p.k,
               2 * c.below + c.t + 1 AS dblrank
        FROM pc p JOIN cum c ON p.cents = c.cents
    ),
    sums AS (
        SELECT CAST(SUM(k) AS BIGINT) AS n,
               CAST(SUM(k * z) AS BIGINT) AS sz,
               SUM(CAST(k AS HUGEINT) * z * z) AS szz,
               CAST(SUM(CAST(k AS HUGEINT) * z * dblrank) AS HUGEINT) AS t2
        FROM ranked
    )
    SELECT n AS n_obs,
           ROUND((CAST(t2 AS DOUBLE) / 2 - CAST(sz AS DOUBLE) * (n + 1) / 2)
                 / SQRT((n + 1.0) / 12
                        * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                           - CAST(sz AS DOUBLE) * sz)), 6) AS z_cuzick,
           ABS((CAST(t2 AS DOUBLE) / 2 - CAST(sz AS DOUBLE) * (n + 1) / 2)
               / SQRT((n + 1.0) / 12
                      * (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                         - CAST(sz AS DOUBLE) * sz))) > 1.959964
               AS monotone_trend
    FROM sums
    """,
)
def agg_cuzick_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuzick's nonparametric trend test across ordered groups (Cuzick,
    Statistics in Medicine 1985, public): do order values trend
    MONOTONICALLY across the priority ladder 1-URGENT .. 5-LOW? The
    statistic is T = Σ z_i·rank_i with group scores z = the priority's
    leading digit; under H0, E[T] = Σz·(N+1)/2 and Var[T] =
    (N+1)/12·(N·Σz² - (Σz)²) (midranks via the doubled-rank device keep
    everything integer until one division). The ORDERED-alternative
    companion to agg_kruskal_wallis, which only sees heterogeneity —
    Cuzick sees direction, like Jonckheere but score-based and O(N).

    Determinism: doubled midranks from the distinct-value cumulative
    frame are exact integers; T2 = Σ k·z·dblrank accumulates in
    HUGEINT/decimal(38,0); one rounded chain; flag compares unrounded.

    Scale shape: distinct-cents collapse + a per-(value, group) count
    frame joined to it — the global cumulative window's input is an
    Aggregate, never raw rows (guard-clean from birth)."""
    vals = table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("z"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    pc = vals.groupBy("cents", "z").agg(F.count("*").cast("long").alias("k"))
    vtot = pc.groupBy("cents").agg(F.sum("k").cast("long").alias("t"))
    wv = Window.orderBy("cents")
    cum = vtot.select(
        "cents", "t", (F.sum("t").over(wv) - F.col("t")).alias("below")
    )
    ranked = pc.join(cum, "cents").select(
        "z", "k", (2 * F.col("below") + F.col("t") + 1).alias("dblrank")
    )
    kd = F.col("k").cast("decimal(38,0)")
    sums = ranked.agg(
        F.sum("k").cast("long").alias("n"),
        F.sum(F.col("k") * F.col("z")).cast("long").alias("sz"),
        F.sum(kd * F.col("z") * F.col("z")).cast("double").alias("szz"),
        F.sum(kd * F.col("z") * F.col("dblrank")).cast("double").alias("t2"),
    )
    t = F.col("t2") / 2
    et = F.col("sz").cast("double") * (F.col("n") + 1) / 2
    var = (
        (F.col("n") + 1.0)
        / 12
        * (
            F.col("n").cast("double") * F.col("szz")
            - F.col("sz").cast("double") * F.col("sz")
        )
    )
    zc = (t - et) / F.sqrt(var)
    return sums.select(
        F.col("n").alias("n_obs"),
        F.round(zc, 6).alias("z_cuzick"),
        (F.abs(zc) > 1.959964).alias("monotone_trend"),
    )


@query(
    "agg_sign_test",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS v,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events GROUP BY day
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN v > c THEN 1 ELSE 0 END) AS BIGINT) AS plus,
               CAST(SUM(CASE WHEN v < c THEN 1 ELSE 0 END) AS BIGINT)
                   AS minus,
               CAST(SUM(CASE WHEN v = c THEN 1 ELSE 0 END) AS BIGINT) AS ties
        FROM daily
    )
    SELECT plus AS n_plus, minus AS n_minus, ties AS n_ties,
           ROUND((plus - (plus + minus) / 2.0)
                 / SQRT((plus + minus) / 4.0), 6) AS z_sign,
           ABS((plus - (plus + minus) / 2.0)
               / SQRT((plus + minus) / 4.0)) > 1.959964
               AS medians_differ
    FROM s
    """,
)
def agg_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paired sign test (Arbuthnott 1710 — the oldest significance
    test on record — public): per day, is the view count above or below
    the click count? Under the no-difference null the signs are fair
    coin flips, so z = (n+ - m/2)/sqrt(m/4) with m the untied days.
    The assumption-free floor of the paired family: the registry's
    Wilcoxon signed-rank and paired-t rows add power by using
    magnitudes; the sign test survives ANY monotone transformation of
    the data, which is why it is still the referee's sanity check.

    Determinism: sign counts are exact integer comparisons on exact
    daily counts; one rounded chain; flag compares unrounded.

    Scale shape: one daily conditional collapse + a 1-row aggregate."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("v"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("c"),
        )
    )
    s = daily.agg(
        F.sum(F.when(F.col("v") > F.col("c"), 1).otherwise(0))
        .cast("long")
        .alias("plus"),
        F.sum(F.when(F.col("v") < F.col("c"), 1).otherwise(0))
        .cast("long")
        .alias("minus"),
        F.sum(F.when(F.col("v") == F.col("c"), 1).otherwise(0))
        .cast("long")
        .alias("ties"),
    )
    m = F.col("plus") + F.col("minus")
    z = (F.col("plus") - m / 2.0) / F.sqrt(m / 4.0)
    return s.select(
        F.col("plus").alias("n_plus"),
        F.col("minus").alias("n_minus"),
        F.col("ties").alias("n_ties"),
        F.round(z, 6).alias("z_sign"),
        (F.abs(z) > 1.959964).alias("medians_differ"),
    )
