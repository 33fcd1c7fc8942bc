"""Wave-198: Atkinson inequality indices, Box-Cox lambda grid search by
profile log-likelihood, and churn-label construction for supervised
training.

Atkinson complements the Gini/Lorenz/Theil family with the one
inequality index that has an explicit social-welfare parameter (the two
closed-form epsilons: 0.5 via the mean-of-roots, 2 via the harmonic
mean). Box-Cox picks the variance-stabilizing power transform the
modeling queries assume. Churn labels are the canonical
"observation window -> future-silence target" construction every
retention model trains on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
_LAMBDAS = [-1.0, -0.5, 0.0, 0.5, 1.0]
_OBS_END = 20  # churn: observe days [0, 20), label on days [20, 30)


@query(
    "agg_atkinson_index",
    oracle="""
    WITH x AS (
        SELECT o_totalprice AS p FROM orders WHERE o_totalprice > 0
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(p * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(SUM(CAST(FLOOR(SQRT(p) * 1e6) AS BIGINT)) AS BIGINT)
                   AS sqrt_micro,
               CAST(SUM(CAST(FLOOR(1e12 / p) AS BIGINT)) AS BIGINT)
                   AS inv_pico
        FROM x
    )
    SELECT n,
           ROUND(cents / (100.0e0 * n), 6) AS mean_price,
           ROUND(1 - (sqrt_micro / (1e6 * n)) * (sqrt_micro / (1e6 * n))
                     / (cents / (100.0e0 * n)), 6) AS atkinson_eps_half,
           ROUND(1 - (n * 1e12 / CAST(inv_pico AS DOUBLE))
                     / (cents / (100.0e0 * n)), 6) AS atkinson_eps_two
    FROM mom
    """,
)
def agg_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index of the order-value distribution at the
    two closed-form welfare parameters: eps=0.5 -> 1 - (mean sqrt)^2 /
    mean, eps=2 -> 1 - harmonic_mean / mean. Unlike Gini, Atkinson says
    HOW MUCH total value society (here: the revenue mix) could give up
    for perfect equality — the equity knob the Lorenz family lacks.

    Determinism: each per-row nonlinearity (sqrt, reciprocal) floors to
    a scaled integer BEFORE summation (micro for sqrt, pico for 1/x), so
    all three sums are exact BIGINTs and the final expressions divide
    identically in both engines.

    Scale shape: one aggregate pass, map-side combinable — the whole
    query is a single reduce."""
    orders = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    p = F.col("o_totalprice")
    mom = orders.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.floor(p * 100 + 0.5).cast("long")).cast("long").alias("cents"),
        F.sum(F.floor(F.sqrt(p) * 1e6).cast("long"))
        .cast("long")
        .alias("sqrt_micro"),
        F.sum(F.floor(F.lit(1e12) / p).cast("long"))
        .cast("long")
        .alias("inv_pico"),
    )
    mean = F.col("cents") / (F.lit(100.0) * F.col("n"))
    msqrt = F.col("sqrt_micro") / (F.lit(1e6) * F.col("n"))
    hmean = F.col("n") * F.lit(1e12) / F.col("inv_pico").cast("double")
    return mom.select(
        "n",
        F.round(mean, 6).alias("mean_price"),
        F.round(1 - msqrt * msqrt / mean, 6).alias("atkinson_eps_half"),
        F.round(1 - hmean / mean, 6).alias("atkinson_eps_two"),
    )


def _boxcox_oracle() -> str:
    rows = []
    # sqrt/reciprocal forms, never POW: Java Math.pow and C pow are not
    # ulp-identical, but sqrt and division are correctly rounded in both
    _Y = {
        -1.0: "(1.0 / p - 1) / -1.0",
        -0.5: "(1.0 / SQRT(p) - 1) / -0.5",
        0.0: "LN(p)",
        0.5: "(SQRT(p) - 1) / 0.5",
        1.0: "(p - 1) / 1.0",
    }
    for lam in _LAMBDAS:
        y = _Y[lam]
        rows.append(
            f"""SELECT {lam} AS lambda,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(FLOOR(({y}) * 1e6) AS BIGINT)) AS BIGINT)
                   AS sy,
               CAST(SUM(CAST(FLOOR(({y}) * 1e6) AS BIGINT)
                        * CAST(FLOOR(({y}) * 1e6) AS HUGEINT))
                    AS HUGEINT) AS sy2,
               CAST(SUM(CAST(FLOOR(LN(p) * 1e9) AS BIGINT)) AS BIGINT)
                   AS slnx
        FROM (SELECT o_totalprice AS p FROM orders WHERE o_totalprice > 0)
        GROUP BY 1"""
        )
    union = "\n        UNION ALL\n        ".join(rows)
    return f"""
    WITH grid AS (
        {union}
    ),
    ll AS (
        SELECT lambda, n,
               -0.5e0 * n * LN((CAST(n AS HUGEINT) * sy2
                                - CAST(sy AS HUGEINT) * sy)
                               / (1e12 * CAST(n AS DOUBLE) * n))
               + (lambda - 1) * (slnx / 1e9) AS loglik
        FROM grid
    )
    SELECT lambda, ROUND(loglik, 4) AS loglik,
           loglik = MAX(loglik) OVER () AS is_best
    FROM ll ORDER BY lambda
    """


@query("model_boxcox_grid", oracle=_boxcox_oracle())
def model_boxcox_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box-Cox power-transform selection over the order-value column:
    for lambda in {-1, -0.5, 0, 0.5, 1}, the profile log-likelihood
    -n/2 * ln(var(y_lambda)) + (lambda-1) * sum(ln x). The transform
    every Gaussian-assuming downstream model (z-scores, control charts,
    OLS queries) should run on skewed money columns; the grid is the
    standard closed-form way to pick it without an optimizer.

    Determinism: each transformed value floors to a micro-int and ln x
    to a nano-int BEFORE summation, so variance comes from exact integer
    moments (n*S2 - S^2, in 128-bit) with one double log at the end; the
    is_best flag compares identical doubles (window max over 5 rows).

    Scale shape: 5 single-pass aggregates (one per lambda, all map-side
    combinable over the same scan — Spark shares the scan via the union);
    the grid frame is 5 rows."""
    orders = table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    p = F.col("o_totalprice")
    grids = []
    for lam in _LAMBDAS:
        if lam == 0.0:
            y = F.log(p)
        elif lam == 0.5:
            y = (F.sqrt(p) - 1) / F.lit(0.5)
        elif lam == -0.5:
            y = (F.lit(1.0) / F.sqrt(p) - 1) / F.lit(-0.5)
        elif lam == -1.0:
            y = (F.lit(1.0) / p - 1) / F.lit(-1.0)
        else:
            y = (p - 1) / F.lit(1.0)
        ym = F.floor(y * 1e6).cast("long")
        grids.append(
            orders.agg(
                F.lit(lam).alias("lambda"),
                F.count("*").cast("long").alias("n"),
                F.sum(ym).cast("long").alias("sy"),
                F.sum(ym.cast(_DEC) * ym).alias("sy2"),
                F.sum(F.floor(F.log(p) * 1e9).cast("long"))
                .cast("long")
                .alias("slnx"),
            )
        )
    grid = grids[0]
    for g in grids[1:]:
        grid = grid.unionAll(g)
    var = (
        F.col("n") * F.col("sy2") - F.col("sy").cast(_DEC) * F.col("sy")
    ).cast("double") / (F.lit(1e12) * F.col("n").cast("double") * F.col("n"))
    ll = grid.select(
        "lambda",
        (
            F.lit(-0.5) * F.col("n") * F.log(var)
            + (F.col("lambda") - 1) * (F.col("slnx") / F.lit(1e9))
        ).alias("loglik"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy()  # bounded: 5-row lambda grid
    return ll.select(
        "lambda",
        F.round("loglik", 4).alias("loglik"),
        (F.col("loglik") == F.max("loglik").over(w)).alias("is_best"),
    ).orderBy("lambda")


@query(
    "events_churn_labels",
    oracle=f"""
    WITH d AS (
        SELECT user_id,
               CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day_idx
        FROM events
    ),
    obs AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events_obs,
               CAST(COUNT(DISTINCT day_idx) AS BIGINT) AS active_days,
               CAST(MAX(day_idx) AS BIGINT) AS last_day
        FROM d WHERE day_idx < {_OBS_END} GROUP BY user_id
    ),
    fut AS (
        SELECT DISTINCT user_id FROM d WHERE day_idx >= {_OBS_END}
    )
    SELECT o.user_id, o.n_events_obs, o.active_days, o.last_day,
           CAST({_OBS_END} - 1 - o.last_day AS BIGINT) AS recency_days,
           f.user_id IS NULL AS churned
    FROM obs o LEFT JOIN fut f ON f.user_id = o.user_id
    """,
)
def events_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-label construction: observe each user through day
    {_OBS_END - 1}, label churned = TRUE iff the user has NO event from
    day {_OBS_END} on. Emits the standard observation-window features
    (event count, active-day count, recency at the cutoff) next to the
    label — the exact frame a retention model trains on, built with a
    leakage-safe time split (features never see post-cutoff rows).

    Determinism: all features are integer counts/extrema on integer day
    indices; the label is a null-check on a semi-join.

    Scale shape: one filtered groupBy(user) plus one DISTINCT-user
    shuffle for the future window; the label join is user-keyed (both
    sides shrink to one row per user before joining)."""
    events = table(spark, sf_dir, "events")
    d = events.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
    )
    obs = (
        d.where(F.col("day_idx") < _OBS_END)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events_obs"),
            F.countDistinct("day_idx").cast("long").alias("active_days"),
            F.max("day_idx").cast("long").alias("last_day"),
        )
    )
    fut = (
        d.where(F.col("day_idx") >= _OBS_END)
        .select("user_id")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    return obs.join(fut, "user_id", "left").select(
        "user_id",
        "n_events_obs",
        "active_days",
        "last_day",
        (F.lit(_OBS_END - 1) - F.col("last_day")).cast("long").alias(
            "recency_days"
        ),
        F.col("seen").isNull().alias("churned"),
    )
