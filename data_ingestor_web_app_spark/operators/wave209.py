"""Wave-209: Seasonal-Hybrid ESD anomaly detection (Twitter's
AnomalyDetection algorithm, simplified to the median-seasonal form) and
exact per-row SHAP attributions for the closed-form two-feature OLS.

S-H-ESD composes two registered primitives — robust seasonal removal
and generalized-ESD peeling — into the industry-standard "find the
anomalous DAYS, not just extreme values" detector: a Monday spike that
is normal for Mondays survives, a mild Tuesday that is wild FOR A
TUESDAY gets flagged. Linear SHAP is the one explainability primitive
the model family lacked; for a linear model the Shapley value has the
exact closed form phi_i = beta_i * (x_i - mean(x_i)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
_ROUNDS = 3

_RESID_SQL = """daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(DAYOFWEEK(CAST(ts AS DATE)) AS BIGINT) AS dow,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1, 2
    ),
    season AS (
        SELECT dow, CAST(2 * MEDIAN(y) AS BIGINT) AS m2
        FROM daily GROUP BY dow
    ),
    resid AS (
        SELECT d.d, d.y, 2 * d.y - s.m2 AS r2
        FROM daily d JOIN season s ON s.dow = d.dow
    )"""


def _shesd_oracle() -> str:
    ctes = [_RESID_SQL, "r0 AS (SELECT d, y, r2 FROM resid)"]
    selects = []
    for r in range(1, _ROUNDS + 1):
        prev = f"r{r - 1}"
        ctes.append(
            f"""m{r} AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(r2) AS BIGINT) AS s,
               CAST(SUM(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS s2
        FROM {prev}
    )"""
        )
        ctes.append(
            f"""x{r} AS (
        SELECT p.d, p.y, p.r2, m.n, m.s, m.s2,
               ABS(m.n * p.r2 - m.s) AS dev
        FROM {prev} p, m{r} m
        ORDER BY ABS(m.n * p.r2 - m.s) DESC, p.d
        LIMIT 1
    )"""
        )
        ctes.append(
            f"""r{r} AS (
        SELECT p.d, p.y, p.r2 FROM {prev} p
        WHERE p.d <> (SELECT d FROM x{r})
    )"""
        )
        selects.append(
            f"""SELECT {r} AS iteration, d AS day_idx, y AS units,
           ROUND(r2 / 2.0e0, 6) AS residual,
           ROUND(CAST(dev AS DOUBLE)
                 / (n * SQRT(CAST(n * s2 - CAST(s AS HUGEINT) * s
                                  AS DOUBLE) / (CAST(n AS HUGEINT) * n
                                                * (n - 1)))), 6) AS r_stat
    FROM x{r}"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
        + "\n    ORDER BY iteration"
    )


@query("events_shesd_anomalies", oracle=_shesd_oracle())
def events_shesd_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-Hybrid ESD (the Twitter AnomalyDetection shape): remove
    the per-day-of-week MEDIAN from the daily spend series, then run
    {_ROUNDS} generalized-ESD peeling rounds on the residuals. Unlike
    the plain ESD (agg_esd_extremes), a big-but-normal Saturday no
    longer masks a genuinely weird Wednesday — seasonality is subtracted
    before the studentized argmax.

    Determinism: residuals are doubled integers (2*median of integers is
    always an integer — the sum of the two middle order statistics), so
    every ESD round compares exact |n*r - S| integers with a day
    tie-break; one double per round for the studentized r.

    Scale shape: per-day collapse, a 7-row median frame, then
    {_ROUNDS} bounded aggregate/TakeOrdered(1)/anti-filter stages over
    the calendar-bounded residual frame."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
        F.dayofweek(F.to_date("ts")).cast("long").alias("dow"),
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    season = daily.groupBy("dow").agg(
        (2 * F.expr("median(y)")).cast("long").alias("m2")
    )
    remaining = daily.join(F.broadcast(season), "dow").select(
        "d", "y", (2 * F.col("y") - F.col("m2")).alias("r2")
    )
    out = None
    for r in range(1, _ROUNDS + 1):
        m = remaining.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("r2").cast("long").alias("s"),
            F.sum(F.col("r2").cast(_DEC) * F.col("r2")).alias("s2"),
        )
        x = (
            remaining.crossJoin(F.broadcast(m))
            .withColumn("dev", F.abs(F.col("n") * F.col("r2") - F.col("s")))
            .orderBy(F.col("dev").desc(), "d")
            .limit(1)
        )
        sd = F.sqrt(
            (F.col("n") * F.col("s2") - F.col("s").cast(_DEC) * F.col("s")).cast(
                "double"
            )
            / (F.col("n").cast(_DEC) * F.col("n") * (F.col("n") - 1)).cast(
                "double"
            )
        )
        row = x.select(
            F.lit(r).cast("int").alias("iteration"),
            F.col("d").alias("day_idx"),
            F.col("y").alias("units"),
            F.round(F.col("r2") / 2.0, 6).alias("residual"),
            F.round(F.col("dev").cast("double") / (F.col("n") * sd), 6).alias(
                "r_stat"
            ),
        )
        out = row if out is None else out.unionAll(row)
        remaining = remaining.join(x.select("d"), "d", "left_anti")
    return out.orderBy("iteration")


@query(
    "model_linear_shap",
    oracle="""
    WITH f AS (
        SELECT l_orderkey, l_linenumber,
               CAST(FLOOR(l_quantity * 10 + 0.5) AS BIGINT) AS x1,
               CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x2,
               CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS yy
        FROM lineitem
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               CAST(SUM(yy) AS BIGINT) AS sy,
               CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
               CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
               CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
               CAST(SUM(CAST(x1 AS HUGEINT) * yy) AS HUGEINT) AS s1y,
               CAST(SUM(CAST(x2 AS HUGEINT) * yy) AS HUGEINT) AS s2y
        FROM f
    ),
    beta AS (
        SELECT n, s1, s2, sy,
               -- centered normal equations, Cramer's rule (exact ints)
               CAST(n * s11 - CAST(s1 AS HUGEINT) * s1 AS HUGEINT) AS a11,
               CAST(n * s12 - CAST(s1 AS HUGEINT) * s2 AS HUGEINT) AS a12,
               CAST(n * s22 - CAST(s2 AS HUGEINT) * s2 AS HUGEINT) AS a22,
               CAST(n * s1y - CAST(s1 AS HUGEINT) * sy AS HUGEINT) AS b1,
               CAST(n * s2y - CAST(s2 AS HUGEINT) * sy AS HUGEINT) AS b2
        FROM mom
    ),
    coef AS (
        SELECT n, s1, s2, sy,
               CAST(a22 * b1 - a12 * b2 AS DOUBLE)
                 / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS beta1,
               CAST(a11 * b2 - a12 * b1 AS DOUBLE)
                 / CAST(a11 * a22 - a12 * a12 AS DOUBLE) AS beta2
        FROM beta
    )
    SELECT f.l_orderkey, f.l_linenumber,
           ROUND(c.beta1 * (f.x1 - CAST(c.s1 AS DOUBLE) / c.n) / 100,
                 6) AS shap_quantity,
           ROUND(c.beta2 * (f.x2 - CAST(c.s2 AS DOUBLE) / c.n) / 100,
                 6) AS shap_discount,
           ROUND(c.sy / (100.0e0 * c.n), 6) AS base_value
    FROM f, coef c
    """,
)
def model_linear_shap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHAP attributions for the closed-form two-feature OLS of
    extended price on (quantity, discount): for a linear model the
    Shapley value needs no sampling — phi_i(row) = beta_i * (x_i -
    mean(x_i)), and base_value + sum(phi) = the model's prediction.
    Per-row explainability, the piece the model family (OLS, ridge,
    stumps, calibration) lacked.

    Determinism: betas come from Cramer's rule on exact 128-bit centered
    normal equations (same construction as agg_ols_two_feature); each
    attribution is one double expression on integer features.

    Scale shape: one moment pass (map-side), then a broadcast of the
    5-number coefficient frame onto the fact table — attribution is
    embarrassingly parallel."""
    f = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") * 10 + 0.5).cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("x2"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("long")
        .alias("yy"),
    )
    mom = f.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("yy").cast("long").alias("sy"),
        F.sum(F.col("x1").cast(_DEC) * F.col("x1")).alias("s11"),
        F.sum(F.col("x2").cast(_DEC) * F.col("x2")).alias("s22"),
        F.sum(F.col("x1").cast(_DEC) * F.col("x2")).alias("s12"),
        F.sum(F.col("x1").cast(_DEC) * F.col("yy")).alias("s1y"),
        F.sum(F.col("x2").cast(_DEC) * F.col("yy")).alias("s2y"),
    )
    n, s1, s2, sy = (F.col(c) for c in ["n", "s1", "s2", "sy"])
    a11 = n * F.col("s11") - s1.cast(_DEC) * s1
    a12 = n * F.col("s12") - s1.cast(_DEC) * s2
    a22 = n * F.col("s22") - s2.cast(_DEC) * s2
    b1 = n * F.col("s1y") - s1.cast(_DEC) * sy
    b2 = n * F.col("s2y") - s2.cast(_DEC) * sy
    det = (a11 * a22 - a12 * a12).cast("double")
    coef = mom.select(
        "n",
        "s1",
        "s2",
        "sy",
        ((a22 * b1 - a12 * b2).cast("double") / det).alias("beta1"),
        ((a11 * b2 - a12 * b1).cast("double") / det).alias("beta2"),
    )
    return f.crossJoin(F.broadcast(coef)).select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.col("beta1")
            * (F.col("x1") - F.col("s1").cast("double") / F.col("n"))
            / 100,
            6,
        ).alias("shap_quantity"),
        F.round(
            F.col("beta2")
            * (F.col("x2") - F.col("s2").cast("double") / F.col("n"))
            / 100,
            6,
        ).alias("shap_discount"),
        F.round(F.col("sy") / (F.lit(100.0) * F.col("n")), 6).alias(
            "base_value"
        ),
    )
