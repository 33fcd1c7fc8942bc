"""Wave-165: adoption-curve econometrics — Bass diffusion via its exact
discrete linearization, logistic growth via log-linearization, and the
Schnabel multi-sample population estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Monthly adoption series: each customer's FIRST order month; n_t = new
# adopters, cum_prev = adopters before month t. Orders give a 7-year span
# (the events fixture compresses all first-seens into 2 days — degenerate
# for any growth fit). Shared by the two growth fits.
_ADOPT_SQL = """adopt AS (
        SELECT o_custkey, MIN(DATE_TRUNC('month', o_orderdate)) AS d0
        FROM orders GROUP BY o_custkey
    ),
    daily AS (
        SELECT d0 AS d, CAST(COUNT(*) AS BIGINT) AS n_t
        FROM adopt GROUP BY d0
    ),
    series AS (
        SELECT d, n_t,
               COALESCE(SUM(n_t) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev
        FROM daily
    )"""


def _adopt_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    adopt = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("d0")
    )
    daily = adopt.groupBy(F.col("d0").alias("d")).agg(
        F.count("*").cast("long").alias("n_t")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    return daily.select(
        "d", "n_t", F.coalesce(F.sum("n_t").over(w), F.lit(0)).alias("cum_prev")
    )


@query(
    "events_bass_diffusion_fit",
    oracle=f"""
    WITH {_ADOPT_SQL},
    mns AS (
        SELECT AVG(n_t * 1e0) AS my, AVG(cum_prev * 1e0) AS mx1,
               AVG(cum_prev * 1e0 * cum_prev) AS mx2,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM series
    ),
    mom AS (
        SELECT n,
               SUM((cum_prev - mx1) * (cum_prev - mx1)) AS a11,
               SUM((cum_prev - mx1) * (cum_prev * 1e0 * cum_prev - mx2)) AS a12,
               SUM((cum_prev * 1e0 * cum_prev - mx2)
                   * (cum_prev * 1e0 * cum_prev - mx2)) AS a22,
               SUM((cum_prev - mx1) * (n_t - my)) AS b1,
               SUM((cum_prev * 1e0 * cum_prev - mx2) * (n_t - my)) AS b2,
               ANY_VALUE(my) AS my, ANY_VALUE(mx1) AS mx1, ANY_VALUE(mx2) AS mx2
        FROM series CROSS JOIN mns
        GROUP BY n
    ),
    beta AS (
        SELECT n, my, mx1, mx2,
               (a22 * b1 - a12 * b2) / (a11 * a22 - a12 * a12) AS b,
               (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS c
        FROM mom
    ),
    coef AS (
        SELECT n, b, c, my - b * mx1 - c * mx2 AS a FROM beta
    )
    SELECT n AS n_periods,
           ROUND(a, 6) AS coef_a, ROUND(b, 6) AS coef_b, ROUND(c, 6) AS coef_c,
           ROUND((-b - SQRT(b * b + 4 * (-c) * a)) / (2 * c), 2) AS m_hat,
           ROUND(a / ((-b - SQRT(b * b + 4 * (-c) * a)) / (2 * c)), 6) AS p_hat,
           ROUND(b + a / ((-b - SQRT(b * b + 4 * (-c) * a)) / (2 * c)), 6) AS q_hat
    FROM coef
    """,
)
def events_bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model (Bass 1969, public) fitted by its EXACT
    discrete linearization: n_t = a + b·N_{t-1} + c·N²_{t-1} with
    a = pm, b = q−p, c = −q/m — ordinary least squares on the monthly
    first-order series recovers (m, p, q): market size, innovation
    and imitation coefficients, the forecast trio behind every product-
    adoption S-curve. m comes from the quadratic root
    m = (−b − √(b²−4ca))/(2c) (the positive branch for c<0).

    Determinism: the 2-feature OLS runs on CENTERED moments (the
    model_ridge_closed_form pattern — no raw-power cancellation), one
    Cramer solve, fixed root chain, ROUND 6/2.

    Scale shape: first-order is one groupBy; the month series is tiny;
    moments are algebraic. The cumulative window runs over MONTHS, not
    orders."""
    series = _adopt_spark(spark, sf_dir)
    s = series.select(
        F.col("n_t").cast("double").alias("y"),
        F.col("cum_prev").cast("double").alias("x1"),
        (F.col("cum_prev").cast("double") * F.col("cum_prev")).alias("x2"),
    )
    mns = s.agg(
        F.avg("y").alias("my"),
        F.avg("x1").alias("mx1"),
        F.avg("x2").alias("mx2"),
        F.count("*").cast("long").alias("n"),
    )
    mom = (
        s.crossJoin(F.broadcast(mns))
        .agg(
            F.first("n").alias("n"),
            F.sum((F.col("x1") - F.col("mx1")) * (F.col("x1") - F.col("mx1"))).alias("a11"),
            F.sum((F.col("x1") - F.col("mx1")) * (F.col("x2") - F.col("mx2"))).alias("a12"),
            F.sum((F.col("x2") - F.col("mx2")) * (F.col("x2") - F.col("mx2"))).alias("a22"),
            F.sum((F.col("x1") - F.col("mx1")) * (F.col("y") - F.col("my"))).alias("b1"),
            F.sum((F.col("x2") - F.col("mx2")) * (F.col("y") - F.col("my"))).alias("b2"),
            F.first("my").alias("my"),
            F.first("mx1").alias("mx1"),
            F.first("mx2").alias("mx2"),
        )
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    b = (F.col("a22") * F.col("b1") - F.col("a12") * F.col("b2")) / det
    c = (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / det
    coef = mom.select(
        "n",
        b.alias("b"),
        c.alias("c"),
        (F.col("my") - b * F.col("mx1") - c * F.col("mx2")).alias("a"),
    )
    m = (-F.col("b") - F.sqrt(F.col("b") * F.col("b") + 4 * (-F.col("c")) * F.col("a"))) / (
        2 * F.col("c")
    )
    return coef.select(
        F.col("n").alias("n_periods"),
        F.round("a", 6).alias("coef_a"),
        F.round("b", 6).alias("coef_b"),
        F.round("c", 6).alias("coef_c"),
        F.round(m, 2).alias("m_hat"),
        F.round(F.col("a") / m, 6).alias("p_hat"),
        F.round(F.col("b") + F.col("a") / m, 6).alias("q_hat"),
    )


@query(
    "events_logistic_growth_fit",
    oracle=f"""
    WITH {_ADOPT_SQL},
    cum AS (
        SELECT d, cum_prev + n_t AS big_n,
               ROW_NUMBER() OVER (ORDER BY d) AS t
        FROM series
    ),
    cap AS (SELECT MAX(big_n) * 1.05 AS m FROM cum),
    lin AS (
        SELECT t, LN(m / big_n - 1) AS z
        FROM cum CROSS JOIN cap
        WHERE big_n > 0 AND big_n < m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_periods,
           ROUND((SELECT m FROM cap), 2) AS m_cap,
           ROUND(-REGR_SLOPE(z, t), 6) AS growth_rate,
           ROUND(EXP(REGR_INTERCEPT(z, t)), 6) AS a_hat,
           ROUND(REGR_R2(z, t), 6) AS r2
    FROM lin
    """,
)
def events_logistic_growth_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic (Verhulst 1838, public) growth fit of the cumulative
    adopter curve by log-linearization: with capacity M fixed at 1.05x
    the observed maximum, N_t = M/(1+A·e^{−rt}) becomes
    ln(M/N_t − 1) = ln A − r·t — one REGR_SLOPE/INTERCEPT pass recovers
    growth rate r and scale A, with R² as the linearity audit. The
    closed-form sibling of events_bass_diffusion_fit (no imitation/
    innovation split, but a capacity ceiling).

    Determinism: regr_* algebraic aggregates over a tiny month series;
    ln/exp on matching doubles; ROUND 6.

    Scale shape: identical to the Bass fit — day-level series, algebraic
    moments."""
    series = _adopt_spark(spark, sf_dir)
    w = Window.orderBy("d")
    cum = series.select(
        "d",
        (F.col("cum_prev") + F.col("n_t")).alias("big_n"),
        F.row_number().over(w).alias("t"),
    )
    cap = cum.agg((F.max("big_n") * 1.05).alias("m"))
    lin = (
        cum.crossJoin(F.broadcast(cap))
        .where((F.col("big_n") > 0) & (F.col("big_n") < F.col("m")))
        .select("t", F.log(F.col("m") / F.col("big_n") - 1).alias("z"), "m")
    )
    return lin.agg(
        F.count("*").cast("long").alias("n_periods"),
        F.round(F.first("m"), 2).alias("m_cap"),
        F.round(-F.regr_slope("z", "t"), 6).alias("growth_rate"),
        F.round(F.exp(F.regr_intercept("z", "t")), 6).alias("a_hat"),
        F.round(F.regr_r2("z", "t"), 6).alias("r2"),
    )


@query(
    "agg_schnabel_estimate",
    oracle="""
    WITH weekly AS (
        SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS wk, user_id
        FROM events GROUP BY 1, 2
    ),
    ordered AS (SELECT DISTINCT wk FROM weekly),
    seen AS (
        SELECT w.wk, w.user_id,
               CASE WHEN EXISTS (
                   SELECT 1 FROM weekly p
                   WHERE p.user_id = w.user_id AND p.wk < w.wk
               ) THEN 1 ELSE 0 END AS recap
        FROM weekly w
    ),
    marks AS (
        SELECT wk,
               CAST(COUNT(*) AS BIGINT) AS c_t,
               CAST(SUM(recap) AS BIGINT) AS r_t
        FROM seen GROUP BY wk
    ),
    cum AS (
        SELECT wk, c_t, r_t,
               COALESCE(SUM(c_t - r_t) OVER (ORDER BY wk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS m_t
        FROM marks
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(c_t * m_t) AS BIGINT) AS sum_cm,
           CAST(SUM(r_t) AS BIGINT) AS sum_r,
           CAST(ROUND(SUM(c_t * m_t) * 1e0 / (SUM(r_t) + 1)) AS BIGINT)
               AS n_hat,
           CAST((SELECT COUNT(DISTINCT user_id) FROM weekly) AS BIGINT)
               AS true_universe
    FROM cum WHERE m_t > 0
    """,
)
def agg_schnabel_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schnabel multi-sample capture-recapture (Schnabel 1938, public),
    Chapman-corrected: each week is a capture occasion; c_t users seen,
    r_t of them already marked (seen in an earlier week), M_t marked
    before week t. N̂ = Σc_t·M_t / (Σr_t + 1) estimates the universe from
    overlap structure alone — the multi-occasion upgrade of the two-
    sample events_capture_recapture, and the honest way to size a user
    base (or a dedup key space) you only ever observe in samples. The
    true distinct count rides along as the audit column.

    Determinism: all counts exact integers; one rounded division.

    Scale shape: weekly dedup is one groupBy; the recapture flag is a
    per-user first-week comparison (broadcastable first-seen map at
    scale, EXISTS at fixture scale); the occasion series is tiny."""
    e = table(spark, sf_dir, "events")
    weekly = e.select(
        F.date_trunc("week", "ts").cast("date").alias("wk"), "user_id"
    ).distinct()
    first = weekly.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    seen = weekly.join(F.broadcast(first), "user_id").select(
        "wk",
        "user_id",
        (F.col("wk") > F.col("first_wk")).cast("int").alias("recap"),
    )
    marks = seen.groupBy("wk").agg(
        F.count("*").cast("long").alias("c_t"),
        F.sum("recap").cast("long").alias("r_t"),
    )
    w = Window.orderBy("wk").rowsBetween(Window.unboundedPreceding, -1)
    cum = marks.select(
        "wk",
        "c_t",
        "r_t",
        F.coalesce(F.sum(F.col("c_t") - F.col("r_t")).over(w), F.lit(0)).alias("m_t"),
    ).where(F.col("m_t") > 0)
    # universe folded in as a 1-row broadcast frame (no build-time job)
    uf = weekly.select("user_id").distinct().agg(
        F.count("*").cast("long").alias("true_universe")
    )
    return (
        cum.agg(
            F.count("*").cast("long").alias("n_samples"),
            F.sum(F.col("c_t") * F.col("m_t")).cast("long").alias("sum_cm"),
            F.sum("r_t").cast("long").alias("sum_r"),
            F.round(
                F.sum(F.col("c_t") * F.col("m_t")) * F.lit(1.0)
                / (F.sum("r_t") + 1)
            )
            .cast("long")
            .alias("n_hat"),
        )
        .crossJoin(F.broadcast(uf))
        .select("n_samples", "sum_cm", "sum_r", "n_hat", "true_universe")
    )
