"""Wave-243: classical model fits with closed forms — Fisher's linear
discriminant (2 features, 2x2 inverse), the Cox proportional-hazards
score test / one-step estimator at beta=0 over risk sets (Breslow ties),
and binned Sobol first-order sensitivity indices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_fisher_lda",
    oracle="""
    WITH pts AS (
        SELECT (event_type = 'purchase')::INT AS c,
               value AS x1,
               (epoch_us(ts) % 86400000000) / 3600000000.0 AS x2
        FROM events WHERE event_type IN ('purchase', 'view')
    ),
    percls AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS n,
               AVG(x1) AS m1, AVG(x2) AS m2,
               SUM(x1 * x1) AS q11, SUM(x2 * x2) AS q22, SUM(x1 * x2) AS q12
        FROM pts GROUP BY c
    ),
    sw AS (
        SELECT SUM(q11 - n * m1 * m1) AS s11,
               SUM(q22 - n * m2 * m2) AS s22,
               SUM(q12 - n * m1 * m2) AS s12,
               MAX(CASE WHEN c = 1 THEN m1 END)
                 - MAX(CASE WHEN c = 0 THEN m1 END) AS d1,
               MAX(CASE WHEN c = 1 THEN m2 END)
                 - MAX(CASE WHEN c = 0 THEN m2 END) AS d2,
               MAX(CASE WHEN c = 1 THEN m1 END)
                 + MAX(CASE WHEN c = 0 THEN m1 END) AS a1,
               MAX(CASE WHEN c = 1 THEN m2 END)
                 + MAX(CASE WHEN c = 0 THEN m2 END) AS a2,
               MAX(CASE WHEN c = 0 THEN n END) AS n0,
               MAX(CASE WHEN c = 1 THEN n END) AS n1
        FROM percls
    ),
    wv AS (
        SELECT n0, n1, a1, a2,
               (s22 * d1 - s12 * d2) / (s11 * s22 - s12 * s12) AS w1r,
               (s11 * d2 - s12 * d1) / (s11 * s22 - s12 * s12) AS w2r
        FROM sw
    ),
    unit AS (
        SELECT n0, n1,
               w1r / SQRT(w1r * w1r + w2r * w2r) AS w1,
               w2r / SQRT(w1r * w1r + w2r * w2r) AS w2,
               (w1r * a1 / 2 + w2r * a2 / 2)
                   / SQRT(w1r * w1r + w2r * w2r) AS thr
        FROM wv
    ),
    acc AS (
        SELECT SUM(CASE WHEN ((p.x1 * u.w1 + p.x2 * u.w2 > u.thr)
                              = (p.c = 1)) THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE) AS accuracy
        FROM pts p CROSS JOIN unit u
    )
    SELECT u.n0, u.n1,
           ROUND(u.w1, 6) AS w1, ROUND(u.w2, 6) AS w2,
           ROUND(u.thr, 6) AS threshold,
           ROUND(a.accuracy, 6) AS train_accuracy
    FROM unit u CROSS JOIN acc a
    """,
)
def model_fisher_lda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's linear discriminant (Fisher, Annals of Eugenics 1936,
    public) separating 'purchase' from 'view' events on (value,
    time-of-day): w = S_w^-1 (mu1 - mu0) via the closed-form 2x2
    inverse of the pooled within-class scatter, reported as a UNIT
    vector (the raw solution's scale is data-dependent and would drown
    in display rounding), with the midpoint threshold and the training
    accuracy of sign(w.x - thr).

    Exactness device: scatter from one-pass raw sums; the unit
    normalization divides by one sqrt chain; accuracy compares the
    identical unrounded projection in both engines (a sample would
    need to sit within float-jitter of the hyperplane to flip — the
    same tolerated risk as agg_getis_ord_hotspots' hot/cold CASE).

    Scale shape: one class-keyed rollup + a broadcast 1-row model +
    one filter-count pass — LDA as two aggregates, no iteration."""
    pts = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            (F.col("event_type") == "purchase").cast("int").alias("c"),
            F.col("value").alias("x1"),
            (F.expr("unix_micros(ts) % 86400000000") / 3600000000.0).alias(
                "x2"
            ),
        )
    )
    percls = pts.groupBy("c").agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x1").alias("m1"),
        F.avg("x2").alias("m2"),
        F.sum(F.col("x1") * F.col("x1")).alias("q11"),
        F.sum(F.col("x2") * F.col("x2")).alias("q22"),
        F.sum(F.col("x1") * F.col("x2")).alias("q12"),
    )
    sw = percls.agg(
        F.sum(F.col("q11") - F.col("n") * F.col("m1") * F.col("m1")).alias(
            "s11"
        ),
        F.sum(F.col("q22") - F.col("n") * F.col("m2") * F.col("m2")).alias(
            "s22"
        ),
        F.sum(F.col("q12") - F.col("n") * F.col("m1") * F.col("m2")).alias(
            "s12"
        ),
        (
            F.max(F.when(F.col("c") == 1, F.col("m1")))
            - F.max(F.when(F.col("c") == 0, F.col("m1")))
        ).alias("d1"),
        (
            F.max(F.when(F.col("c") == 1, F.col("m2")))
            - F.max(F.when(F.col("c") == 0, F.col("m2")))
        ).alias("d2"),
        (
            F.max(F.when(F.col("c") == 1, F.col("m1")))
            + F.max(F.when(F.col("c") == 0, F.col("m1")))
        ).alias("a1"),
        (
            F.max(F.when(F.col("c") == 1, F.col("m2")))
            + F.max(F.when(F.col("c") == 0, F.col("m2")))
        ).alias("a2"),
        F.max(F.when(F.col("c") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("c") == 1, F.col("n"))).alias("n1"),
    )
    det = F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12")
    wv = sw.select(
        "n0",
        "n1",
        "a1",
        "a2",
        ((F.col("s22") * F.col("d1") - F.col("s12") * F.col("d2")) / det).alias(
            "w1r"
        ),
        ((F.col("s11") * F.col("d2") - F.col("s12") * F.col("d1")) / det).alias(
            "w2r"
        ),
    )
    norm = F.sqrt(F.col("w1r") * F.col("w1r") + F.col("w2r") * F.col("w2r"))
    unit = wv.select(
        "n0",
        "n1",
        (F.col("w1r") / norm).alias("w1"),
        (F.col("w2r") / norm).alias("w2"),
        (
            (F.col("w1r") * F.col("a1") / 2 + F.col("w2r") * F.col("a2") / 2)
            / norm
        ).alias("thr"),
    )
    acc = (
        pts.crossJoin(F.broadcast(unit))
        .agg(
            (
                F.sum(
                    F.when(
                        (
                            F.col("x1") * F.col("w1")
                            + F.col("x2") * F.col("w2")
                            > F.col("thr")
                        )
                        == (F.col("c") == 1),
                        1,
                    ).otherwise(0)
                )
                / F.count("*").cast("double")
            ).alias("accuracy")
        )
    )
    return unit.crossJoin(F.broadcast(acc)).select(
        "n0",
        "n1",
        F.round("w1", 6).alias("w1"),
        F.round("w2", 6).alias("w2"),
        F.round("thr", 6).alias("threshold"),
        F.round("accuracy", 6).alias("train_accuracy"),
    )


@query(
    "model_cox_score_step",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS us,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id) AS tp
        FROM events
    ),
    users AS (
        SELECT user_id,
               MIN(us) AS t0, MAX(us) AS tlast, MIN(tp) AS tp,
               MAX(CASE WHEN event_type = 'click'
                         AND us < COALESCE(tp, 9223372036854775807)
                        THEN 1 ELSE 0 END) AS z
        FROM ev GROUP BY user_id
    ),
    times AS (
        SELECT CASE WHEN tp IS NULL
                    THEN (tlast - t0) // 3600000000
                    ELSE (tp - t0) // 3600000000 END AS t,
               CASE WHEN tp IS NULL THEN 0 ELSE 1 END AS died,
               z
        FROM users
    ),
    byt AS (
        SELECT t,
               CAST(COUNT(*) AS BIGINT) AS n_at,
               CAST(SUM(z) AS BIGINT) AS z_at,
               CAST(SUM(died) AS BIGINT) AS d_t,
               CAST(SUM(died * z) AS BIGINT) AS s_t
        FROM times GROUP BY t
    ),
    risk AS (
        SELECT t, d_t, s_t,
               SUM(n_at) OVER (ORDER BY t DESC) AS n_t,
               SUM(z_at) OVER (ORDER BY t DESC) AS m_t
        FROM byt
    ),
    score AS (
        SELECT COALESCE(SUM(s_t - d_t * (CAST(m_t AS DOUBLE) / n_t)), 0.0)
                   AS u,
               COALESCE(SUM(d_t * (CAST(m_t AS DOUBLE) / n_t)
                            * (1 - CAST(m_t AS DOUBLE) / n_t)), 0.0) AS i,
               CAST(COALESCE(SUM(d_t), 0) AS BIGINT) AS n_deaths
        FROM risk WHERE d_t > 0
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(z) AS BIGINT) AS n_treated
            FROM times)
    SELECT t.n_users, t.n_treated, s.n_deaths,
           ROUND(s.u, 6) AS u_score,
           ROUND(s.i, 6) AS information,
           CASE WHEN s.i = 0 THEN 0.0 ELSE ROUND(s.u / s.i, 6) END
               AS beta_one_step,
           CASE WHEN s.i = 0 THEN 0.0 ELSE ROUND(s.u * s.u / s.i, 6) END
               AS score_chi2
    FROM score s CROSS JOIN tot t
    """,
)
def model_cox_score_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional-hazards score test and one-step estimator (Cox,
    JRSS-B 1972, public) at beta = 0, framed as TIME-TO-CONVERSION:
    the "event" is a user's first purchase (hour granularity from their
    first activity; never-purchasers are right-censored at last
    activity), and the covariate z is "clicked before converting".
    U(0) = sum over event times of (events' z-sum - d_t * mean z in
    risk set), I(0) = sum d_t * p_t * (1 - p_t) with Breslow tie
    handling; beta_1 = U/I is the first Newton step from 0 and U^2/I
    is the logrank chi-square — the classical identity linking the
    two, asserted in this wave's test. (The events_kaplan_meier
    lifetime construction censors EVERY fixture user — conversion is
    the survival question this data can actually answer.)

    Exactness device: risk-set sizes and z-sums are DESC-ordered
    cumulative sums of integer per-day counts (never per-user windows);
    each output is one rounded chain.

    Scale shape: per-user rollup, per-day rollup, one window over the
    bounded day frame — the survival-regression screen at fact scale."""
    wuser = Window.partitionBy("user_id")
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.expr("unix_micros(ts)").alias("us"),
    )
    ev = ev.withColumn(
        "tp",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).over(wuser),
    )
    users = ev.groupBy("user_id").agg(
        F.min("us").alias("t0"),
        F.max("us").alias("tlast"),
        F.min("tp").alias("tp"),
        F.max(
            F.when(
                (F.col("event_type") == "click")
                & (
                    F.col("us")
                    < F.coalesce(F.col("tp"), F.lit(9223372036854775807))
                ),
                1,
            ).otherwise(0)
        ).alias("z"),
    )
    times = users.select(
        F.when(
            F.col("tp").isNull(),
            F.expr("(tlast - t0) div 3600000000"),
        )
        .otherwise(F.expr("(tp - t0) div 3600000000"))
        .alias("t"),
        F.when(F.col("tp").isNull(), 0).otherwise(1).alias("died"),
        "z",
    )
    byt = times.groupBy("t").agg(
        F.count("*").cast("long").alias("n_at"),
        F.sum("z").cast("long").alias("z_at"),
        F.sum("died").cast("long").alias("d_t"),
        F.sum(F.col("died") * F.col("z")).cast("long").alias("s_t"),
    )
    w = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = byt.select(
        "t",
        "d_t",
        "s_t",
        F.sum("n_at").over(w).alias("n_t"),
        F.sum("z_at").over(w).alias("m_t"),
    )
    p = F.col("m_t").cast("double") / F.col("n_t")
    score = risk.where(F.col("d_t") > 0).agg(
        F.coalesce(
            F.sum(F.col("s_t") - F.col("d_t") * p), F.lit(0.0)
        ).alias("u"),
        F.coalesce(F.sum(F.col("d_t") * p * (1 - p)), F.lit(0.0)).alias("i"),
        F.coalesce(F.sum("d_t"), F.lit(0)).cast("long").alias("n_deaths"),
    )
    tot = times.agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("z").cast("long").alias("n_treated"),
    )
    return score.crossJoin(F.broadcast(tot)).select(
        "n_users",
        "n_treated",
        "n_deaths",
        F.round("u", 6).alias("u_score"),
        F.round("i", 6).alias("information"),
        F.when(F.col("i") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("u") / F.col("i"), 6))
        .alias("beta_one_step"),
        F.when(F.col("i") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("u") * F.col("u") / F.col("i"), 6))
        .alias("score_chi2"),
    )


@query(
    "model_sobol_binned",
    oracle="""
    WITH pts AS (
        SELECT l_extendedprice AS y,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(ROUND(l_discount * 100) AS BIGINT) AS d
        FROM lineitem
    ),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(y) AS mu,
                 SUM(y * y) / COUNT(*) - AVG(y) * AVG(y) AS vy
          FROM pts),
    vq AS (
        SELECT SUM(nk * (mk - g.mu) * (mk - g.mu)) / ANY_VALUE(g.n) AS v
        FROM (SELECT q, COUNT(*) AS nk, AVG(y) AS mk FROM pts GROUP BY q)
        CROSS JOIN g
    ),
    vd AS (
        SELECT SUM(nk * (mk - g.mu) * (mk - g.mu)) / ANY_VALUE(g.n) AS v
        FROM (SELECT d, COUNT(*) AS nk, AVG(y) AS mk FROM pts GROUP BY d)
        CROSS JOIN g
    ),
    vqd AS (
        SELECT SUM(nk * (mk - g.mu) * (mk - g.mu)) / ANY_VALUE(g.n) AS v
        FROM (SELECT q, d, COUNT(*) AS nk, AVG(y) AS mk
              FROM pts GROUP BY q, d)
        CROSS JOIN g
    )
    SELECT g.n,
           ROUND(g.vy, 2) AS var_y,
           ROUND(vq.v / g.vy, 6) AS s_qty,
           ROUND(vd.v / g.vy, 6) AS s_disc,
           ROUND(vqd.v / g.vy, 6) AS s_joint,
           ROUND((vqd.v - vq.v - vd.v) / g.vy, 6) AS s_interaction
    FROM g CROSS JOIN vq CROSS JOIN vd CROSS JOIN vqd
    """,
)
def model_sobol_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned first-order Sobol sensitivity indices (Sobol 1993, public;
    the binning estimator is Plischke's EASI-style conditional-variance
    form) of extended price against its two drivers: S_q = Var(E[y|
    quantity]) / Var(y), S_d likewise for the discount percentage, the
    joint index from the (q, d) table, and the interaction remainder
    S_joint - S_q - S_d (exactly 0 for a product-form y only under
    input independence — the emitted value measures both interaction
    and input correlation, stated per Saltelli's caveat).

    Exactness device: both factors are ALREADY discrete (integer
    quantity, integer discount cents), so the conditional expectations
    are exact group means — no binning error; population variances from
    raw sums; five rounded outputs.

    Scale shape: three map-side-combinable rollups over one scan (q has
    ~50 groups, d ~11, (q, d) ~550) plus broadcast scalars — the
    sensitivity screen that, at 100 TB, replaces a model fit."""
    pts = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("y"),
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100).cast("long").alias("d"),
    )
    g = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("y").alias("mu"),
        (
            F.sum(F.col("y") * F.col("y")) / F.count("*")
            - F.avg("y") * F.avg("y")
        ).alias("vy"),
    )

    def cond_var(keys: list[str]):
        grp = pts.groupBy(*keys).agg(
            F.count("*").alias("nk"), F.avg("y").alias("mk")
        )
        return (
            grp.crossJoin(F.broadcast(g))
            .agg(
                (
                    F.sum(
                        F.col("nk")
                        * (F.col("mk") - F.col("mu"))
                        * (F.col("mk") - F.col("mu"))
                    )
                    / F.first("n")
                ).alias("v")
            )
        )

    vq = cond_var(["q"]).withColumnRenamed("v", "vq")
    vd = cond_var(["d"]).withColumnRenamed("v", "vd")
    vqd = cond_var(["q", "d"]).withColumnRenamed("v", "vqd")
    return (
        g.crossJoin(F.broadcast(vq))
        .crossJoin(F.broadcast(vd))
        .crossJoin(F.broadcast(vqd))
        .select(
            "n",
            F.round("vy", 2).alias("var_y"),
            F.round(F.col("vq") / F.col("vy"), 6).alias("s_qty"),
            F.round(F.col("vd") / F.col("vy"), 6).alias("s_disc"),
            F.round(F.col("vqd") / F.col("vy"), 6).alias("s_joint"),
            F.round(
                (F.col("vqd") - F.col("vq") - F.col("vd")) / F.col("vy"), 6
            ).alias("s_interaction"),
        )
    )
