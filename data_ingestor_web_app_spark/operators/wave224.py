"""Wave-224: OLS influence diagnostics (leverage, studentized residuals,
Cook's distance) and design-matrix health (VIF and the closed-form 2x2
condition number).

The regression family (OLS, ridge, Theil-Sen, LAD, RANSAC, segmented,
Chow, Breusch-Pagan, Durbin-Watson) fits lines but never asked WHICH
observations drive the fit — leverage and Cook's D are the standard
answer. VIF and the condition number are the multicollinearity health
check every 2+ feature fit (agg_ols_two_feature, model_linear_shap)
should report; for two standardized features both have exact closed
forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"


@query(
    "model_ols_influence",
    oracle="""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM daily
    ),
    fit AS (
        SELECT n, sx, sy,
               CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                   AS sxx_c,
               CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                   AS sxy_c,
               CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                   AS syy_c
        FROM mom
    ),
    scored AS (
        SELECT d.x, d.y, f.n,
               -- residual of the OLS fit (beta = sxy_c/sxx_c)
               d.y - f.sy / CAST(f.n AS DOUBLE)
                 - f.sxy_c / f.sxx_c
                   * (d.x - f.sx / CAST(f.n AS DOUBLE)) AS e,
               -- leverage h = 1/n + n*(x - xbar)^2 / sxx_c
               1.0e0 / f.n
                 + f.n * (d.x - f.sx / CAST(f.n AS DOUBLE))
                       * (d.x - f.sx / CAST(f.n AS DOUBLE)) / f.sxx_c
                   AS h,
               -- SSE/(n-2) from the centered identity
               (f.syy_c - f.sxy_c * f.sxy_c / f.sxx_c)
                 / (CAST(f.n AS DOUBLE) * (f.n - 2)) AS mse
        FROM daily d, fit f
    )
    SELECT x AS day_idx, y AS units,
           ROUND(e, 4) AS residual,
           ROUND(h, 6) AS leverage,
           ROUND(e / SQRT(mse * (1 - h)), 6) AS studentized,
           ROUND(e * e * h / (2 * mse * (1 - h) * (1 - h)), 6)
               AS cooks_d,
           e * e * h / (2 * mse * (1 - h) * (1 - h)) > 4.0e0 / n
               AS influential
    FROM scored ORDER BY day_idx
    """,
)
def model_ols_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Influence diagnostics for the OLS of daily spend on time: per
    day, the residual, leverage h_i = 1/n + (x-xbar)^2/Sxx, the
    internally studentized residual e/sqrt(MSE(1-h)), Cook's distance
    D = e^2 h / (p MSE (1-h)^2) with p = 2, and the conventional
    D > 4/n influence flag. The answer to "is this trend real or is it
    three weird days" — which the fit statistics alone cannot give.

    Determinism: all centered sums are exact 128-bit integers; each
    per-day diagnostic is a fixed double expression over them.

    Scale shape: per-day collapse, one broadcast moment row, per-day
    map-side arithmetic."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("x")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    mom = daily.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x").cast(_DEC) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(_DEC) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
    )
    fit = mom.select(
        "n",
        "sx",
        "sy",
        (F.col("n") * F.col("sxx") - F.col("sx").cast(_DEC) * F.col("sx"))
        .cast("double")
        .alias("sxx_c"),
        (F.col("n") * F.col("sxy") - F.col("sx").cast(_DEC) * F.col("sy"))
        .cast("double")
        .alias("sxy_c"),
        (F.col("n") * F.col("syy") - F.col("sy").cast(_DEC) * F.col("sy"))
        .cast("double")
        .alias("syy_c"),
    )
    j = daily.crossJoin(F.broadcast(fit))
    xbar = F.col("sx") / F.col("n").cast("double")
    e = (
        F.col("y")
        - F.col("sy") / F.col("n").cast("double")
        - F.col("sxy_c") / F.col("sxx_c") * (F.col("x") - xbar)
    )
    h = F.lit(1.0) / F.col("n") + F.col("n") * (F.col("x") - xbar) * (
        F.col("x") - xbar
    ) / F.col("sxx_c")
    mse = (
        F.col("syy_c") - F.col("sxy_c") * F.col("sxy_c") / F.col("sxx_c")
    ) / (F.col("n").cast("double") * (F.col("n") - 2))
    cd = e * e * h / (2 * mse * (1 - h) * (1 - h))
    return j.select(
        F.col("x").alias("day_idx"),
        F.col("y").alias("units"),
        F.round(e, 4).alias("residual"),
        F.round(h, 6).alias("leverage"),
        F.round(e / F.sqrt(mse * (1 - h)), 6).alias("studentized"),
        F.round(cd, 6).alias("cooks_d"),
        (cd > F.lit(4.0) / F.col("n")).alias("influential"),
    ).orderBy("day_idx")


@query(
    "model_vif_condition",
    oracle="""
    WITH f AS (
        SELECT CAST(FLOOR(l_quantity * 10 + 0.5) AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x2
        FROM lineitem
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
               CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
               CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12
        FROM f
    ),
    r AS (
        SELECT n,
               CAST(n * s12 - CAST(s1 AS HUGEINT) * s2 AS DOUBLE)
                 / SQRT(CAST(n * s11 - CAST(s1 AS HUGEINT) * s1
                             AS DOUBLE)
                        * CAST(n * s22 - CAST(s2 AS HUGEINT) * s2
                               AS DOUBLE)) AS r12
        FROM mom
    )
    SELECT n AS n_rows, ROUND(r12, 6) AS r12,
           ROUND(1.0e0 / (1 - r12 * r12), 6) AS vif,
           -- standardized 2x2 correlation matrix eigenvalues: 1 +- |r|
           ROUND(SQRT((1 + ABS(r12)) / (1 - ABS(r12))), 6)
               AS condition_number,
           1.0e0 / (1 - r12 * r12) > 5.0e0 AS collinear_flag
    FROM r
    """,
)
def model_vif_condition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multicollinearity health of the (quantity, discount) design used
    by agg_ols_two_feature / model_linear_shap: the pairwise VIF =
    1/(1 - r12^2) and the condition number of the standardized design —
    for two features the correlation matrix eigenvalues are exactly
    1 +- |r|, so kappa = sqrt((1+|r|)/(1-|r|)) in closed form. VIF > 5
    is the conventional "coefficients are unstable" alarm that should
    gate any interpretation of the fitted betas.

    Determinism: r12 comes from exact integer moments; the remaining
    expressions are fixed doubles with correctly-rounded sqrt.

    Scale shape: one moment pass, one row out."""
    li = table(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity") * 10 + 0.5).cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("x2"),
    )
    mom = li.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(F.col("x1").cast(_DEC) * F.col("x1")).alias("s11"),
        F.sum(F.col("x2").cast(_DEC) * F.col("x2")).alias("s22"),
        F.sum(F.col("x1").cast(_DEC) * F.col("x2")).alias("s12"),
    )
    r12 = (
        F.col("n") * F.col("s12") - F.col("s1").cast(_DEC) * F.col("s2")
    ).cast("double") / F.sqrt(
        (F.col("n") * F.col("s11") - F.col("s1").cast(_DEC) * F.col("s1")).cast(
            "double"
        )
        * (F.col("n") * F.col("s22") - F.col("s2").cast(_DEC) * F.col("s2")).cast(
            "double"
        )
    )
    r = mom.select("n", r12.alias("r12"))
    vif = F.lit(1.0) / (1 - F.col("r12") * F.col("r12"))
    return r.select(
        F.col("n").alias("n_rows"),
        F.round("r12", 6).alias("r12"),
        F.round(vif, 6).alias("vif"),
        F.round(
            F.sqrt((1 + F.abs("r12")) / (1 - F.abs("r12"))), 6
        ).alias("condition_number"),
        (vif > 5.0).alias("collinear_flag"),
    )
