"""Wave-97: Gamma method-of-moments fitting, Cronbach's alpha, and
Fleiss' kappa multi-rater agreement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_gamma_mom",
    oracle="""
    WITH m AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sx,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS HUGEINT)
                        * CAST(ROUND(o_totalprice * 100) AS HUGEINT)) AS DOUBLE)
                   AS sxx
        FROM orders GROUP BY o_orderpriority
    ),
    stats AS (
        SELECT o_orderpriority, n,
               CAST(sx AS DOUBLE) / n / 100 AS mu,
               (sxx - CAST(sx AS DOUBLE) * sx / n) / n / 10000 AS var
        FROM m
    )
    SELECT o_orderpriority, n,
           ROUND(mu, 4) AS mean_price,
           ROUND(mu * mu / var, 6) AS k_shape,
           ROUND(var / mu, 4) AS theta_scale,
           ROUND(SQRT(var) / mu, 6) AS cv
    FROM stats
    ORDER BY o_orderpriority
    """,
)
def model_gamma_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma-distribution method-of-moments fit (Pearson's MoM, public)
    of order values per priority class: shape k = mu²/sigma², scale
    theta = sigma²/mu — the two-parameter positive-skew model revenue
    and latency distributions are routinely summarized by (and the
    moment-matching strategy every distributed fitter uses before MLE
    refinement). The coefficient of variation 1/sqrt(k) doubles as the
    'how Gamma-like' readout.

    Determinism: cents sums are exact (the squared sum accumulates in
    HUGEINT / Spark DECIMAL(38,0) before ONE cast to double — the
    sf0.1 overflow lesson from NOTES_BUILD); mu/var and the parameters
    are fixed double formulas rounded at display.

    Scale shape: one map-side-combined groupBy carrying 3 partials per
    class."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    m = table(spark, sf_dir, "orders").groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(cents).cast("long").alias("sx"),
        F.sum(cents.cast("decimal(38,0)") * cents).cast("double").alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n") / 100
    var = (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")) / F.col("n") / 10000
    return m.select(
        "o_orderpriority",
        "n",
        F.round(mu, 4).alias("mean_price"),
        F.round(mu * mu / var, 6).alias("k_shape"),
        F.round(var / mu, 4).alias("theta_scale"),
        F.round(F.sqrt(var) / mu, 6).alias("cv"),
    ).orderBy("o_orderpriority")


@query(
    "agg_cronbach_alpha",
    oracle="""
    WITH items AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS i1,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS i2,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS i3
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(i1) AS BIGINT) AS s1, CAST(SUM(i1 * i1) AS BIGINT) AS ss1,
               CAST(SUM(i2) AS BIGINT) AS s2, CAST(SUM(i2 * i2) AS BIGINT) AS ss2,
               CAST(SUM(i3) AS BIGINT) AS s3, CAST(SUM(i3 * i3) AS BIGINT) AS ss3,
               CAST(SUM(i1 + i2 + i3) AS BIGINT) AS st,
               CAST(SUM((i1 + i2 + i3) * (i1 + i2 + i3)) AS BIGINT) AS sst
        FROM items
    ),
    vars AS (
        SELECT n,
               (CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / n AS v1,
               (CAST(ss2 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n) / n AS v2,
               (CAST(ss3 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n) / n AS v3,
               (CAST(sst AS DOUBLE) - CAST(st AS DOUBLE) * st / n) / n AS vt
        FROM m
    )
    SELECT n AS n_users,
           ROUND(v1, 4) AS var_clicks,
           ROUND(v2, 4) AS var_views,
           ROUND(v3, 4) AS var_purchases,
           ROUND(vt, 4) AS var_total,
           ROUND(1.5 * (1 - (v1 + v2 + v3) / vt), 6) AS cronbach_alpha
    FROM vars
    """,
)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha (1951, public): internal-consistency
    reliability of a 3-item 'engagement scale' (per-user click, view
    and purchase counts) — alpha = k/(k-1) · (1 - sum(item var)/var of
    the summed scale), the standard answer to 'do these metrics hang
    together well enough to report as one index?'. k/(k-1) = 1.5 for
    the 3-item scale.

    Determinism: all item and total moments are exact BIGINTs (the
    variance of the sum comes from summing (i1+i2+i3)² exactly — no
    covariance matrix needed); alpha is one fixed double formula over
    them, rounded 6dp.

    Scale shape: one per-user groupBy then one 9-partial scalar
    aggregate; adding items adds columns, not passes."""
    items = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).cast("long").alias("i1"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).cast("long").alias("i2"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).cast("long").alias("i3"),
        )
    )
    tot = (F.col("i1") + F.col("i2") + F.col("i3"))
    m = items.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("i1").cast("long").alias("s1"),
        F.sum(F.col("i1") * F.col("i1")).cast("long").alias("ss1"),
        F.sum("i2").cast("long").alias("s2"),
        F.sum(F.col("i2") * F.col("i2")).cast("long").alias("ss2"),
        F.sum("i3").cast("long").alias("s3"),
        F.sum(F.col("i3") * F.col("i3")).cast("long").alias("ss3"),
        F.sum(tot).cast("long").alias("st"),
        F.sum(tot * tot).cast("long").alias("sst"),
    )

    def var(ss, s):
        return (F.col(ss).cast("double") - F.col(s).cast("double") * F.col(s) / F.col("n")) / F.col("n")

    vars_ = m.select(
        "n",
        var("ss1", "s1").alias("v1"),
        var("ss2", "s2").alias("v2"),
        var("ss3", "s3").alias("v3"),
        var("sst", "st").alias("vt"),
    )
    return vars_.select(
        F.col("n").alias("n_users"),
        F.round("v1", 4).alias("var_clicks"),
        F.round("v2", 4).alias("var_views"),
        F.round("v3", 4).alias("var_purchases"),
        F.round("vt", 4).alias("var_total"),
        F.round(1.5 * (1 - (F.col("v1") + F.col("v2") + F.col("v3")) / F.col("vt")), 6).alias(
            "cronbach_alpha"
        ),
    )


@query(
    "agg_fleiss_kappa",
    oracle="""
    WITH rated AS (
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_discount < 0.03 THEN 0
                    WHEN l_discount < 0.07 THEN 1 ELSE 2 END AS r_a,
               CASE WHEN l_quantity < 17 THEN 0
                    WHEN l_quantity < 34 THEN 1 ELSE 2 END AS r_b,
               CASE WHEN l_extendedprice < 15000 THEN 0
                    WHEN l_extendedprice < 40000 THEN 1 ELSE 2 END AS r_c
        FROM lineitem
    ),
    counts AS (
        SELECT l_orderkey, l_linenumber,
               CAST((CASE WHEN r_a = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_b = 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST((CASE WHEN r_a = 1 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_b = 1 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST((CASE WHEN r_a = 2 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_b = 2 THEN 1 ELSE 0 END)
                  + (CASE WHEN r_c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM rated
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_subjects,
               CAST(SUM(n0 * n0 + n1 * n1 + n2 * n2) AS BIGINT) AS ssq,
               CAST(SUM(n0) AS BIGINT) AS t0,
               CAST(SUM(n1) AS BIGINT) AS t1,
               CAST(SUM(n2) AS BIGINT) AS t2
        FROM counts
    ),
    agree AS (
        SELECT n_subjects,
               (CAST(ssq AS DOUBLE) - 3 * n_subjects) / (n_subjects * 6.0) AS p_bar,
               (CAST(t0 AS DOUBLE) * t0 + CAST(t1 AS DOUBLE) * t1
                + CAST(t2 AS DOUBLE) * t2)
                   / (9.0 * n_subjects * n_subjects) AS p_e
        FROM sums
    )
    SELECT n_subjects,
           ROUND(p_bar, 6) AS observed_agreement,
           ROUND(p_e, 6) AS expected_agreement,
           ROUND((p_bar - p_e) / (1 - p_e), 6) AS fleiss_kappa
    FROM agree
    """,
)
def agg_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (1971, public): chance-corrected agreement among
    THREE raters assigning each line item to one of three tiers — here
    the raters are deterministic heuristics (discount bands, quantity
    bands, price bands), so kappa measures how interchangeable the
    three tiering rules are. Extends the registry's 2-rater Cohen's
    kappa (pipeline_cohens_kappa) to the multi-rater labeling-QA
    setting every annotation pipeline reports.

    Determinism: per-subject category counts n_ij and their squared
    sums are exact integers; P_bar = (sum n_ij² - N·n)/(N·n·(n-1)) and
    P_e = sum p_j² are fixed double formulas (n = 3 raters), rounded
    6dp.

    Scale shape: one projection (three CASE raters), one scalar
    aggregate of 5 integer partials — map-side combined, single pass."""
    r_a = (
        F.when(F.col("l_discount") < 0.03, 0).when(F.col("l_discount") < 0.07, 1).otherwise(2)
    )
    r_b = F.when(F.col("l_quantity") < 17, 0).when(F.col("l_quantity") < 34, 1).otherwise(2)
    r_c = (
        F.when(F.col("l_extendedprice") < 15000, 0)
        .when(F.col("l_extendedprice") < 40000, 1)
        .otherwise(2)
    )
    rated = table(spark, sf_dir, "lineitem").select(
        r_a.alias("r_a"), r_b.alias("r_b"), r_c.alias("r_c")
    )

    def n_cat(c: int):
        return (
            F.when(F.col("r_a") == c, 1).otherwise(0)
            + F.when(F.col("r_b") == c, 1).otherwise(0)
            + F.when(F.col("r_c") == c, 1).otherwise(0)
        ).cast("long")

    counts = rated.select(
        n_cat(0).alias("n0"), n_cat(1).alias("n1"), n_cat(2).alias("n2")
    )
    sums = counts.agg(
        F.count("*").cast("long").alias("n_subjects"),
        F.sum(
            F.col("n0") * F.col("n0") + F.col("n1") * F.col("n1") + F.col("n2") * F.col("n2")
        )
        .cast("long")
        .alias("ssq"),
        F.sum("n0").cast("long").alias("t0"),
        F.sum("n1").cast("long").alias("t1"),
        F.sum("n2").cast("long").alias("t2"),
    )
    p_bar = (F.col("ssq").cast("double") - 3 * F.col("n_subjects")) / (
        F.col("n_subjects") * 6.0
    )
    p_e = (
        F.col("t0").cast("double") * F.col("t0")
        + F.col("t1").cast("double") * F.col("t1")
        + F.col("t2").cast("double") * F.col("t2")
    ) / (9.0 * F.col("n_subjects") * F.col("n_subjects"))
    return sums.select(
        "n_subjects",
        F.round(p_bar, 6).alias("observed_agreement"),
        F.round(p_e, 6).alias("expected_agreement"),
        F.round((p_bar - p_e) / (1 - p_e), 6).alias("fleiss_kappa"),
    )
