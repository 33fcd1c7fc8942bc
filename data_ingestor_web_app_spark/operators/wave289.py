"""Wave-289: nonlinear time-series structure — the Ramsey-Rothman
time-irreversibility statistic (does the series look the same played
backwards? linear Gaussian processes do; crashes-vs-rallies don't) and
one exact EM step for a two-component binomial mixture over per-user
conversion rates (EM's monotone-likelihood property asserted in-band).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_TR_LAG = 1


@query(
    "events_time_irreversibility",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    ),
    xb AS (SELECT AVG(x) AS m FROM hourly),
    c AS (
        SELECT hidx, x - xb.m AS z FROM hourly CROSS JOIN xb
    ),
    lagged AS (
        SELECT z, LAG(z, {_TR_LAG}) OVER (ORDER BY hidx) AS zl
        FROM c
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(z * z * zl) AS m21,
               AVG(z * zl * zl) AS m12,
               AVG(z * z) AS v
        FROM lagged WHERE zl IS NOT NULL
    )
    SELECT n AS n_pairs,
           ROUND(m21, 6) AS e_x2_xlag,
           ROUND(m12, 6) AS e_x_xlag2,
           ROUND((m21 - m12) / (v * SQRT(v)), 6) AS tr_statistic,
           ROUND(SQRT(CAST(n AS DOUBLE)) * (m21 - m12)
                 / (v * SQRT(v)), 6) AS tr_scaled
    FROM mom
    """,
)
def events_time_irreversibility(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The Ramsey-Rothman time-reversibility statistic (Ramsey &
    Rothman, J. Money Credit Banking 1996, public) on the centered
    hourly series at lag 1: TR = (E[z_t^2 z_{{t-1}}] - E[z_t
    z_{{t-1}}^2]) / sigma^3. Any stationary GAUSSIAN LINEAR process is
    time-reversible (TR = 0) — a significantly nonzero TR PROVES
    nonlinearity or non-Gaussian innovations, the precondition for
    bothering with asymmetric models (slow build-ups with sharp drops
    give TR < 0 at this orientation). The third-moment cousin of
    events_dfa_alpha's memory diagnostics: memory says HOW LONG the
    series remembers; TR says whether its arrow of time is visible.

    Exactness device: one lag window, one pass of bilinear moments,
    two rounded chains.

    Scale shape: hourly rollup + lag window + one aggregate."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"))
    )
    xb = hourly.agg(F.avg("x").alias("m"))
    c = hourly.crossJoin(F.broadcast(xb)).select(
        "hidx", (F.col("x") - F.col("m")).alias("z")
    )
    w = Window.orderBy("hidx")
    lagged = c.select(
        "z", F.lag("z", _TR_LAG).over(w).alias("zl")
    ).where(F.col("zl").isNotNull())
    mom = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("z") * F.col("z") * F.col("zl")).alias("m21"),
        F.avg(F.col("z") * F.col("zl") * F.col("zl")).alias("m12"),
        F.avg(F.col("z") * F.col("z")).alias("v"),
    )
    tr = (F.col("m21") - F.col("m12")) / (F.col("v") * F.sqrt("v"))
    return mom.select(
        F.col("n").alias("n_pairs"),
        F.round("m21", 6).alias("e_x2_xlag"),
        F.round("m12", 6).alias("e_x_xlag2"),
        F.round(tr, 6).alias("tr_statistic"),
        F.round(F.sqrt(F.col("n").cast("double")) * tr, 6).alias(
            "tr_scaled"
        ),
    )


_EM_P1, _EM_P2, _EM_W = 0.1, 0.3, 0.5


@query(
    "model_em_binomial_step",
    oracle=f"""
    WITH users AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS k
        FROM events GROUP BY user_id
    ),
    resp AS (
        SELECT user_id, n, k,
               {_EM_W!r} * EXP(k * LN({_EM_P1!r})
                               + (n - k) * LN(1 - {_EM_P1!r})) AS l1,
               (1 - {_EM_W!r}) * EXP(k * LN({_EM_P2!r})
                                     + (n - k) * LN(1 - {_EM_P2!r})) AS l2
        FROM users
    ),
    gam AS (
        SELECT user_id, n, k, l1, l2,
               l1 / (l1 + l2) AS g1
        FROM resp
    ),
    mstep AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               AVG(g1) AS w_new,
               SUM(g1 * k) / SUM(g1 * n) AS p1_new,
               SUM((1 - g1) * k) / SUM((1 - g1) * n) AS p2_new,
               SUM(LN(l1 + l2)) AS ll_old
        FROM gam
    ),
    ll AS (
        SELECT m.n_users, m.w_new, m.p1_new, m.p2_new, m.ll_old,
               (SELECT SUM(LN(m.w_new * EXP(k * LN(m.p1_new)
                                  + (n - k) * LN(1 - m.p1_new))
                              + (1 - m.w_new)
                                * EXP(k * LN(m.p2_new)
                                      + (n - k) * LN(1 - m.p2_new))))
                FROM users) AS ll_new
        FROM mstep m
    )
    SELECT n_users,
           ROUND(w_new, 6) AS weight_comp1,
           ROUND(p1_new, 6) AS p1_updated,
           ROUND(p2_new, 6) AS p2_updated,
           ROUND(ll_old, 6) AS loglik_before,
           ROUND(ll_new, 6) AS loglik_after,
           ll_new >= ll_old AS em_monotone
    FROM ll
    """,
)
def model_em_binomial_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact EM step for a two-component binomial mixture
    (Dempster, Laird & Rubin, JRSS-B 1977, public; the two-coins
    teaching example) over per-user purchase rates: E-step
    responsibilities from the literal init (p = 0.1 / 0.3, w = 0.5;
    binomial coefficients cancel in the ratio), M-step closed-form
    updates, and — the point — the likelihood BEFORE and AFTER with
    the em_monotone flag: EM's ascent property is a theorem, asserted
    in-band and in the test. The binomial sibling of
    model_gmm_em_step, segmenting users into low/high converters.

    Exactness device: per-user (n, k) are integers; likelihoods are
    EXP/LN chains of literals; one rounded output set (the binomial
    coefficient is omitted from BOTH likelihood displays — it shifts
    loglik by a constant that cancels in the monotonicity comparison).

    Scale shape: one user rollup, one responsibility projection, two
    aggregates — an EM step is two scans of the user frame."""
    users = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("k"),
        )
    )
    import math

    l1 = _EM_W * F.exp(
        F.col("k") * math.log(_EM_P1)
        + (F.col("n") - F.col("k")) * math.log(1 - _EM_P1)
    )
    l2 = (1 - _EM_W) * F.exp(
        F.col("k") * math.log(_EM_P2)
        + (F.col("n") - F.col("k")) * math.log(1 - _EM_P2)
    )
    gam = users.select(
        "n",
        "k",
        l1.alias("l1"),
        l2.alias("l2"),
        (l1 / (l1 + l2)).alias("g1"),
    )
    mstep = gam.agg(
        F.count("*").cast("long").alias("n_users"),
        F.avg("g1").alias("w_new"),
        (
            F.sum(F.col("g1") * F.col("k"))
            / F.sum(F.col("g1") * F.col("n"))
        ).alias("p1_new"),
        (
            F.sum((1 - F.col("g1")) * F.col("k"))
            / F.sum((1 - F.col("g1")) * F.col("n"))
        ).alias("p2_new"),
        F.sum(F.log(F.col("l1") + F.col("l2"))).alias("ll_old"),
    )
    ll_new = (
        users.crossJoin(F.broadcast(mstep))
        .agg(
            F.sum(
                F.log(
                    F.col("w_new")
                    * F.exp(
                        F.col("k") * F.log("p1_new")
                        + (F.col("n") - F.col("k"))
                        * F.log(1 - F.col("p1_new"))
                    )
                    + (1 - F.col("w_new"))
                    * F.exp(
                        F.col("k") * F.log("p2_new")
                        + (F.col("n") - F.col("k"))
                        * F.log(1 - F.col("p2_new"))
                    )
                )
            ).alias("ll_new")
        )
    )
    return mstep.crossJoin(F.broadcast(ll_new)).select(
        "n_users",
        F.round("w_new", 6).alias("weight_comp1"),
        F.round("p1_new", 6).alias("p1_updated"),
        F.round("p2_new", 6).alias("p2_updated"),
        F.round("ll_old", 6).alias("loglik_before"),
        F.round("ll_new", 6).alias("loglik_after"),
        (F.col("ll_new") >= F.col("ll_old")).alias("em_monotone"),
    )
