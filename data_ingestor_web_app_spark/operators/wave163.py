"""Wave-163: closed-form estimation — two-feature ridge regression,
M/M/1 queue metrics, and the jackknife for a ratio estimator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_LAMBDA = 10.0  # ridge penalty (fixed, documented)


@query(
    "model_ridge_closed_form",
    oracle=f"""
    WITH c AS (
        SELECT AVG(l_quantity) AS mx1, AVG(l_discount) AS mx2,
               AVG(l_extendedprice) AS my, CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
    ),
    s AS (
        SELECT n,
               SUM((l_quantity - mx1) * (l_quantity - mx1)) + {_LAMBDA} AS a11,
               SUM((l_quantity - mx1) * (l_discount - mx2)) AS a12,
               SUM((l_discount - mx2) * (l_discount - mx2)) + {_LAMBDA} AS a22,
               SUM((l_quantity - mx1) * (l_extendedprice - my)) AS b1,
               SUM((l_discount - mx2) * (l_extendedprice - my)) AS b2,
               ANY_VALUE(mx1) AS mx1, ANY_VALUE(mx2) AS mx2, ANY_VALUE(my) AS my
        FROM lineitem CROSS JOIN c
        GROUP BY n
    )
    SELECT n,
           ROUND((a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12), 6) AS beta_qty,
           ROUND((a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12), 6) AS beta_disc,
           ROUND(my - (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12) * mx1
                    - (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) * mx2, 6)
               AS intercept
    FROM s
    """,
)
def model_ridge_closed_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature ridge regression (Hoerl & Kennard 1970, public) solved
    in CLOSED FORM: center the features, accumulate the 2x2 Gram matrix
    and cross-moments in one algebraic pass, add λI, and invert the 2x2
    analytically (Cramer). Price ~ quantity + discount with λ=10 — the
    regularized fit that stays stable when features correlate, computed
    the way 100 TB regression should be: moments are map-side partial
    sums, the solve is O(1) arithmetic on the driver-side single row; no
    gradient loop, no feature matrix ever materialized.

    Determinism: each moment is one double SUM (fold-order ulps absorbed
    by ROUND 6, the agg_stats precedent); the solve is a fixed op chain.

    Scale shape: two passes (means, then centered moments) — both
    all-reduce aggregations with tiny results."""
    li = table(spark, sf_dir, "lineitem")
    c = li.agg(
        F.avg("l_quantity").alias("mx1"),
        F.avg("l_discount").alias("mx2"),
        F.avg("l_extendedprice").alias("my"),
        F.count("*").cast("long").alias("n"),
    )
    s = (
        li.crossJoin(F.broadcast(c))
        .agg(
            F.first("n").alias("n"),
            (
                F.sum((F.col("l_quantity") - F.col("mx1")) * (F.col("l_quantity") - F.col("mx1")))
                + _LAMBDA
            ).alias("a11"),
            F.sum((F.col("l_quantity") - F.col("mx1")) * (F.col("l_discount") - F.col("mx2"))).alias("a12"),
            (
                F.sum((F.col("l_discount") - F.col("mx2")) * (F.col("l_discount") - F.col("mx2")))
                + _LAMBDA
            ).alias("a22"),
            F.sum((F.col("l_quantity") - F.col("mx1")) * (F.col("l_extendedprice") - F.col("my"))).alias("b1"),
            F.sum((F.col("l_discount") - F.col("mx2")) * (F.col("l_extendedprice") - F.col("my"))).alias("b2"),
            F.first("mx1").alias("mx1"),
            F.first("mx2").alias("mx2"),
            F.first("my").alias("my"),
        )
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    bq = (F.col("a22") * F.col("b1") - F.col("a12") * F.col("b2")) / det
    bd = (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / det
    return s.select(
        "n",
        F.round(bq, 6).alias("beta_qty"),
        F.round(bd, 6).alias("beta_disc"),
        F.round(F.col("my") - bq * F.col("mx1") - bd * F.col("mx2"), 6).alias(
            "intercept"
        ),
    )


@query(
    "events_mm1_queue_metrics",
    oracle="""
    WITH lam AS (
        SELECT event_type,
               COUNT(*) * 1e0
                   / ((EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts))) / 3600000000.0) AS lam_hr
        FROM events GROUP BY event_type
    ),
    mm1 AS (
        SELECT event_type, lam_hr,
               lam_hr / (1.25 * (SELECT MAX(lam_hr) FROM lam)) AS rho,
               1.25 * (SELECT MAX(lam_hr) FROM lam) AS mu_hr
        FROM lam
    )
    SELECT event_type,
           ROUND(lam_hr, 6) AS lam_hr,
           ROUND(rho, 6) AS rho,
           ROUND(rho * rho / (1 - rho), 6) AS lq,
           ROUND(rho * rho / (1 - rho) / lam_hr * 60, 6) AS wq_minutes,
           ROUND(1 / (mu_hr - lam_hr) * 60, 6) AS w_minutes
    FROM mm1
    """,
)
def events_mm1_queue_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M/M/1 queueing metrics (Kendall 1953 notation; Little's-law
    algebra, public) per event type: arrival rate λ from the observed
    event span, a service rate μ provisioned at 1.25x the BUSIEST type
    (one shared server spec), then the closed forms — utilization ρ=λ/μ,
    queue length Lq=ρ²/(1−ρ), waits via Little's law. The capacity-
    planning companion to events_littles_law and events_erlang_c_staffing
    (those fix the service level; this fixes the server and reports the
    consequences).

    Determinism: λ is an exact count over an exact epoch span; the rest
    is a fixed float op chain, ROUND 6.

    Scale shape: one groupBy for rates; the scalar max-λ broadcast
    replaces the correlated subquery at scale."""
    e = table(spark, sf_dir, "events")
    lam = e.groupBy("event_type").agg(
        (
            F.count("*")
            * F.lit(1.0)
            / (
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / 3600000000.0
            )
        ).alias("lam_hr")
    )
    mx = lam.agg(F.max("lam_hr").alias("mxl"))
    mm1 = lam.crossJoin(F.broadcast(mx)).select(
        "event_type",
        "lam_hr",
        (F.col("lam_hr") / (1.25 * F.col("mxl"))).alias("rho"),
        (1.25 * F.col("mxl")).alias("mu_hr"),
    )
    lq = F.col("rho") * F.col("rho") / (1 - F.col("rho"))
    return mm1.select(
        "event_type",
        F.round("lam_hr", 6).alias("lam_hr"),
        F.round("rho", 6).alias("rho"),
        F.round(lq, 6).alias("lq"),
        F.round(lq / F.col("lam_hr") * 60, 6).alias("wq_minutes"),
        F.round(1 / (F.col("mu_hr") - F.col("lam_hr")) * 60, 6).alias("w_minutes"),
    )


@query(
    "agg_jackknife_ratio",
    oracle="""
    WITH tot AS (
        SELECT event_type, SUM(value) AS sy, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CASE WHEN user_id % 3 = 0 THEN 1e0 ELSE 0e0 END) AS sx
        FROM events GROUP BY event_type
    ),
    loo AS (
        SELECT e.event_type,
               (t.sy - e.value)
                   / (t.sx - CASE WHEN e.user_id % 3 = 0 THEN 1e0 ELSE 0e0 END)
                   AS r_i,
               t.sy / t.sx AS r_full, t.n AS n
        FROM events e JOIN tot t ON t.event_type = e.event_type
    ),
    mns AS (SELECT event_type, AVG(r_i) AS rbar FROM loo GROUP BY event_type)
    SELECT l.event_type, l.n,
           ROUND(ANY_VALUE(l.r_full), 6) AS ratio,
           ROUND(l.n * ANY_VALUE(l.r_full) - (l.n - 1e0) * ANY_VALUE(m.rbar), 6)
               AS jackknife_unbiased,
           ROUND(SQRT((l.n - 1e0) / l.n
                 * SUM((l.r_i - m.rbar) * (l.r_i - m.rbar))), 6)
               AS jackknife_se
    FROM loo l JOIN mns m ON m.event_type = l.event_type
    GROUP BY l.event_type, l.n
    """,
)
def agg_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife bias correction and standard error (Quenouille 1949 /
    Tukey 1958, public) for a RATIO estimator — total value per marked
    user (user_id%3=0) within each event type. Ratios are the classic
    biased estimator; the jackknife's leave-one-out replicates have a
    CLOSED FORM here (r_(-i) = (Sy−y_i)/(Sx−x_i) from the group totals),
    so the "resampling" is one broadcast join + one pass — no actual
    resampling at 100 TB, which is the whole trick.

    Determinism: totals are single SUMs; replicate mean/variance are one
    aggregation; ROUND 6 (the agg_stats float precedent).

    Scale shape: totals (tiny) broadcast back onto the fact table; two
    aggregations; never materializes n copies of anything."""
    e = table(spark, sf_dir, "events")
    x = F.when(F.col("user_id") % 3 == 0, F.lit(1.0)).otherwise(F.lit(0.0))
    tot = e.groupBy("event_type").agg(
        F.sum("value").alias("sy"),
        F.count("*").cast("long").alias("n"),
        F.sum(x).alias("sx"),
    )
    loo = e.join(F.broadcast(tot), "event_type").select(
        "event_type",
        ((F.col("sy") - F.col("value")) / (F.col("sx") - x)).alias("r_i"),
        (F.col("sy") / F.col("sx")).alias("r_full"),
        "n",
    )
    # two-pass CENTERED variance (never sum-of-squares-minus-mean-squared:
    # the replicates cluster tightly around r_full, and catastrophic
    # cancellation there would amplify fold-order ulps past ROUND 6)
    mns = loo.groupBy("event_type").agg(F.avg("r_i").alias("rbar"))
    stats = (
        loo.join(F.broadcast(mns), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.first("r_full").alias("r_full"),
            F.first("rbar").alias("rbar"),
            F.sum(
                (F.col("r_i") - F.col("rbar")) * (F.col("r_i") - F.col("rbar"))
            ).alias("css"),
        )
    )
    return stats.select(
        "event_type",
        "n",
        F.round("r_full", 6).alias("ratio"),
        F.round(
            F.col("n") * F.col("r_full") - (F.col("n") - 1.0) * F.col("rbar"), 6
        ).alias("jackknife_unbiased"),
        F.round(
            F.sqrt((F.col("n") - 1.0) / F.col("n") * F.col("css")), 6
        ).alias("jackknife_se"),
    )
