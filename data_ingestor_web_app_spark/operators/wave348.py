"""Wave-348: the unit-root/stationarity shelf — Dickey-Fuller tau
(Dickey & Fuller, JASA 1979), the KPSS level-stationarity test
(Kwiatkowski, Phillips, Schmidt & Shin, J. Econometrics 1992), and
the Cochrane-Orcutt AR(1) correction (Cochrane & Orcutt, JASA 1949)
on the daily mean-value series.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DAILY_SQL = """
    daily AS (
        SELECT ROW_NUMBER() OVER (ORDER BY CAST(ts AS DATE)) AS t,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / COUNT(*) AS y
        FROM events GROUP BY CAST(ts AS DATE)
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
                / F.count("*")
            ).alias("y")
        )
        .select(F.row_number().over(Window.orderBy("d")).alias("t"), "y")
    )


@query(
    "events_dickey_fuller",
    oracle=f"""
    WITH {_DAILY_SQL},
    pairs AS (
        SELECT y - LAG(y) OVER (ORDER BY t) AS dy,
               LAG(y) OVER (ORDER BY t) AS yl
        FROM daily
    ),
    mom AS (
        SELECT CAST(COUNT(dy) AS BIGINT) AS n,
               AVG(dy) AS mdy, AVG(yl) AS myl,
               SUM(dy * yl) AS sxy, SUM(yl * yl) AS sxx,
               SUM(dy * dy) AS syy
        FROM pairs WHERE dy IS NOT NULL
    ),
    fit AS (
        SELECT n,
               (sxy - n * mdy * myl) / (sxx - n * myl * myl) AS rho,
               mdy - (sxy - n * mdy * myl) / (sxx - n * myl * myl) * myl
                   AS alpha,
               (syy - n * mdy * mdy)
               - (sxy - n * mdy * myl) * (sxy - n * mdy * myl)
                 / (sxx - n * myl * myl) AS ssr,
               sxx - n * myl * myl AS sxx_c
        FROM mom
    )
    SELECT n AS n_diffs,
           ROUND(rho, 6) AS rho_hat,
           ROUND(alpha, 6) AS drift,
           ROUND(rho / SQRT(ssr / (n - 2) / sxx_c), 6) AS df_tau,
           rho / SQRT(ssr / (n - 2) / sxx_c) < -2.986 AS rejects_unit_root
    FROM fit
    """,
)
def events_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Dickey-Fuller test (JASA 1979): regress Δy_t on y_{{t-1}}
    with drift; under a unit root ρ = 0 and the t-ratio follows the
    DF distribution, so τ is compared against the literal 5%
    constant-case critical value −2.986 (n = 25 table row) — the
    stationarity gate every forecasting pipeline runs before trusting
    an AR model. A strongly negative τ (mean reversion) rejects the
    random walk.

    Determinism: daily means are exact rationals; the OLS moments are
    ≤29-term fixed chains against 6dp rounding; the flag compares
    identical unrounded doubles to a shared literal.

    Scale shape: one daily aggregate, one lag window on the
    calendar-bounded frame, 1-row closed-form math."""
    daily = _daily(spark, sf_dir)
    w = Window.orderBy("t")
    pairs = daily.select(
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        F.lag("y").over(w).alias("yl"),
    ).where(F.col("dy").isNotNull())
    mom = pairs.agg(
        F.count("dy").cast("long").alias("n"),
        F.avg("dy").alias("mdy"),
        F.avg("yl").alias("myl"),
        F.sum(F.col("dy") * F.col("yl")).alias("sxy"),
        F.sum(F.col("yl") * F.col("yl")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    n = F.col("n")
    cov = F.col("sxy") - n * F.col("mdy") * F.col("myl")
    varx = F.col("sxx") - n * F.col("myl") * F.col("myl")
    rho = cov / varx
    ssr = (F.col("syy") - n * F.col("mdy") * F.col("mdy")) - cov * cov / varx
    tau = rho / F.sqrt(ssr / (n - 2) / varx)
    return mom.select(
        n.alias("n_diffs"),
        F.round(rho, 6).alias("rho_hat"),
        F.round(F.col("mdy") - rho * F.col("myl"), 6).alias("drift"),
        F.round(tau, 6).alias("df_tau"),
        (tau < -2.986).alias("rejects_unit_root"),
    )


@query(
    "events_kpss_test",
    oracle=f"""
    WITH {_DAILY_SQL},
    cen AS (
        SELECT t, y - AVG(y) OVER () AS e FROM daily
    ),
    parts AS (
        SELECT t, e,
               SUM(e) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS s
        FROM cen
    ),
    lagd AS (
        SELECT t, e, s,
               LAG(e) OVER (ORDER BY t) AS e1,
               LAG(e, 2) OVER (ORDER BY t) AS e2
        FROM parts
    ),
    gam AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(e * e) AS g0,
               SUM(e * e1) AS g1x,
               SUM(e * e2) AS g2x,
               SUM(s * s) AS ss2
        FROM lagd
    )
    SELECT n AS n_days,
           ROUND(g0 / n, 6) AS gamma0,
           ROUND((g0 + 2.0 * (1.0 - 1.0 / 3.0) * COALESCE(g1x, 0)
                  + 2.0 * (1.0 - 2.0 / 3.0) * COALESCE(g2x, 0)) / n, 6)
               AS long_run_var,
           ROUND(ss2 / (CAST(n AS DOUBLE) * n)
                 / ((g0 + 2.0 * (1.0 - 1.0 / 3.0) * COALESCE(g1x, 0)
                     + 2.0 * (1.0 - 2.0 / 3.0) * COALESCE(g2x, 0)) / n), 6)
               AS kpss_eta,
           ss2 / (CAST(n AS DOUBLE) * n)
             / ((g0 + 2.0 * (1.0 - 1.0 / 3.0) * COALESCE(g1x, 0)
                 + 2.0 * (1.0 - 2.0 / 3.0) * COALESCE(g2x, 0)) / n)
             > 0.463 AS rejects_stationarity
    FROM gam
    """,
)
def events_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KPSS level-stationarity test (J. Econometrics 1992) — the
    mirror of Dickey-Fuller (stationarity is the NULL here): η =
    Σ S_t² / (n²·σ̂²_lr) with S_t the partial sums of demeaned values
    and the Bartlett long-run variance at bandwidth L = 2; compared
    against the literal 5% critical value 0.463. Running DF and KPSS
    together is the standard four-quadrant verdict (reject/reject =
    misspecified, etc.).

    Determinism: the partial-sum walk is an ordered prefix over the
    30-row frame; autocovariance terms are lag chains; fixed closing
    ratios rounded 6dp; the flag compares identical doubles.

    Scale shape: one daily aggregate, one prefix-sum window and two
    lags on the calendar-bounded frame."""
    daily = _daily(spark, sf_dir)
    mu = daily.agg(F.avg("y").alias("mu"))
    cen = daily.crossJoin(F.broadcast(mu)).select(
        "t", (F.col("y") - F.col("mu")).alias("e")
    )
    w = Window.orderBy("t")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    parts = cen.select(
        "t", "e", F.sum("e").over(wcum).alias("s"),
        F.lag("e").over(w).alias("e1"),
        F.lag("e", 2).over(w).alias("e2"),
    )
    gam = parts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("e") * F.col("e")).alias("g0"),
        F.sum(F.col("e") * F.col("e1")).alias("g1x"),
        F.sum(F.col("e") * F.col("e2")).alias("g2x"),
        F.sum(F.col("s") * F.col("s")).alias("ss2"),
    )
    n = F.col("n")
    lrv = (
        F.col("g0")
        + 2.0 * (1.0 - 1.0 / 3.0) * F.coalesce(F.col("g1x"), F.lit(0.0))
        + 2.0 * (1.0 - 2.0 / 3.0) * F.coalesce(F.col("g2x"), F.lit(0.0))
    ) / n
    eta = F.col("ss2") / (n.cast("double") * n) / lrv
    return gam.select(
        n.alias("n_days"),
        F.round(F.col("g0") / n, 6).alias("gamma0"),
        F.round(lrv, 6).alias("long_run_var"),
        F.round(eta, 6).alias("kpss_eta"),
        (eta > 0.463).alias("rejects_stationarity"),
    )


@query(
    "model_cochrane_orcutt",
    oracle=f"""
    WITH {_DAILY_SQL},
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(CAST(t AS DOUBLE)) AS mt,
               AVG(y) AS my, SUM(t * y) AS sty,
               SUM(CAST(t AS DOUBLE) * t) AS stt
        FROM daily
    ),
    ols AS (
        SELECT n,
               (sty - n * mt * my) / (stt - n * mt * mt) AS b,
               my - (sty - n * mt * my) / (stt - n * mt * mt) * mt AS a
        FROM mom
    ),
    resid AS (
        SELECT d.t, d.y - (o.a + o.b * d.t) AS e, o.a AS a0, o.b AS b0
        FROM daily d CROSS JOIN ols o
    ),
    rlag AS (
        SELECT t, e, LAG(e) OVER (ORDER BY t) AS el, a0, b0
        FROM resid
    ),
    rho AS (
        SELECT SUM(e * el)
               / SUM(CASE WHEN el IS NOT NULL THEN el * el END) AS r,
               MAX(b0) AS b0, MAX(a0) AS a0
        FROM rlag
    ),
    star AS (
        SELECT t, r, b0, a0,
               y - r * LAG(y) OVER (ORDER BY t) AS ys,
               t - r * (t - 1) AS xs
        FROM (SELECT d.t, d.y, r.r, r.b0, r.a0
              FROM daily d CROSS JOIN rho r)
    ),
    mom2 AS (
        SELECT CAST(COUNT(ys) AS BIGINT) AS n2, AVG(ys) AS mys,
               AVG(xs) AS mxs, SUM(ys * xs) AS sxy2, SUM(xs * xs) AS sxx2,
               MAX(r) AS r, MAX(b0) AS b0, MAX(a0) AS a0
        FROM star WHERE ys IS NOT NULL
    )
    SELECT n2 + 1 AS n_days,
           ROUND(b0, 6) AS slope_ols,
           ROUND(r, 6) AS rho_hat,
           ROUND((sxy2 - n2 * mys * mxs) / (sxx2 - n2 * mxs * mxs), 6)
               AS slope_co,
           ROUND((mys - (sxy2 - n2 * mys * mxs) / (sxx2 - n2 * mxs * mxs)
                        * mxs) / (1.0 - r), 6) AS intercept_co
    FROM mom2
    """,
)
def model_cochrane_orcutt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Cochrane-Orcutt AR(1) correction (JASA 1949): fit the daily
    trend y = a + b·t by OLS, estimate the residual autocorrelation
    ρ̂ = Σe_t e_{{t-1}}/Σe²_{{t-1}}, quasi-difference (y* = y_t − ρ̂y_{{t-1}},
    x* = t − ρ̂(t−1)) and refit — the one-step GLS that rescues trend
    inference when Durbin-Watson (the registry's agg_durbin_watson
    row) flags serial correlation; the intercept transforms back via
    a = a*/(1−ρ̂).

    Determinism: all moments are fixed chains over the exact-rational
    daily frame; two lag windows; rounded 6dp.

    Scale shape: one daily aggregate, two passes of 1-row closed-form
    math over the calendar-bounded frame."""
    daily = _daily(spark, sf_dir)
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.avg(F.col("t").cast("double")).alias("mt"),
        F.avg("y").alias("my"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t").cast("double") * F.col("t")).alias("stt"),
    )
    n = F.col("n")
    b = (F.col("sty") - n * F.col("mt") * F.col("my")) / (
        F.col("stt") - n * F.col("mt") * F.col("mt")
    )
    ols = mom.select(
        b.alias("b0"), (F.col("my") - b * F.col("mt")).alias("a0")
    )
    resid = daily.crossJoin(F.broadcast(ols)).select(
        "t",
        "y",
        (F.col("y") - (F.col("a0") + F.col("b0") * F.col("t"))).alias("e"),
        "a0",
        "b0",
    )
    w = Window.orderBy("t")
    rl = resid.select(
        "t", "y", "e", F.lag("e").over(w).alias("el"), "a0", "b0"
    )
    rho = rl.agg(
        (
            F.sum(F.col("e") * F.col("el"))
            / F.sum(
                F.when(
                    F.col("el").isNotNull(), F.col("el") * F.col("el")
                )
            )
        ).alias("r"),
        F.max("b0").alias("b0"),
        F.max("a0").alias("a0"),
    )
    star = daily.crossJoin(F.broadcast(rho)).select(
        "t",
        "r",
        "b0",
        (F.col("y") - F.col("r") * F.lag("y").over(w)).alias("ys"),
        (F.col("t") - F.col("r") * (F.col("t") - 1)).alias("xs"),
    ).where(F.col("ys").isNotNull())
    mom2 = star.agg(
        F.count("ys").cast("long").alias("n2"),
        F.avg("ys").alias("mys"),
        F.avg("xs").alias("mxs"),
        F.sum(F.col("ys") * F.col("xs")).alias("sxy2"),
        F.sum(F.col("xs") * F.col("xs")).alias("sxx2"),
        F.max("r").alias("r"),
        F.max("b0").alias("b0"),
    )
    n2 = F.col("n2")
    b2 = (F.col("sxy2") - n2 * F.col("mys") * F.col("mxs")) / (
        F.col("sxx2") - n2 * F.col("mxs") * F.col("mxs")
    )
    return mom2.select(
        (n2 + 1).alias("n_days"),
        F.round(F.col("b0"), 6).alias("slope_ols"),
        F.round(F.col("r"), 6).alias("rho_hat"),
        F.round(b2, 6).alias("slope_co"),
        F.round(
            (F.col("mys") - b2 * F.col("mxs")) / (1.0 - F.col("r")), 6
        ).alias("intercept_co"),
    )
