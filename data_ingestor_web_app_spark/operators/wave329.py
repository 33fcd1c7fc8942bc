"""Wave-329: the causal-inference shelf — difference-in-differences on
the canonical 2x2 design, the instrumental-variable Wald estimator,
and the risk-difference / NNT / E-value trio for the exposure-outcome
table. All public textbook estimators (Card & Krueger 1994 DiD form,
Wald 1940 / Angrist 1991 IV, Laupacis 1988 NNT, VanderWeele & Ding
2017 E-value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# The 2x2 design on the fixed 30-day window: 'treated' = weekend
# events, 'post' = days 16-30. Outcome = value in exact centi-units.
_CELLS_SQL = """
    u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                    THEN 1 ELSE 0 END AS post,
               CAST(ROUND(value * 100) AS BIGINT) AS y
        FROM events
    ),
    cells AS (
        SELECT g, post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               SUM(CAST(y AS HUGEINT) * y) AS s2
        FROM u GROUP BY g, post
    )
"""


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .select(
            F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
            F.when(F.to_date("ts") >= F.lit("2024-01-16"), 1)
            .otherwise(0)
            .alias("post"),
            F.round(F.col("value") * 100).cast("long").alias("y"),
        )
        .groupBy("g", "post")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
            F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("s2"),
        )
    )


@query(
    "events_did_estimator",
    oracle=f"""
    WITH {_CELLS_SQL},
    m AS (
        SELECT g, post, CAST(s AS DOUBLE) / n / 100.0 AS mu,
               (CAST(s2 AS DOUBLE) / n / 1e4
                - (CAST(s AS DOUBLE) / n / 100.0)
                  * (CAST(s AS DOUBLE) / n / 100.0)) * n / (n - 1.0) AS v,
               n
        FROM cells
    ),
    wide AS (
        SELECT SUM(CASE WHEN g = 1 AND post = 1 THEN mu END) AS m11,
               SUM(CASE WHEN g = 1 AND post = 0 THEN mu END) AS m10,
               SUM(CASE WHEN g = 0 AND post = 1 THEN mu END) AS m01,
               SUM(CASE WHEN g = 0 AND post = 0 THEN mu END) AS m00,
               SUM(CASE WHEN g = 1 AND post = 1 THEN v / n END) AS se11,
               SUM(CASE WHEN g = 1 AND post = 0 THEN v / n END) AS se10,
               SUM(CASE WHEN g = 0 AND post = 1 THEN v / n END) AS se01,
               SUM(CASE WHEN g = 0 AND post = 0 THEN v / n END) AS se00,
               CAST(SUM(n) AS BIGINT) AS n_obs
        FROM m
    )
    SELECT n_obs,
           ROUND(m11 - m10, 6) AS delta_treated,
           ROUND(m01 - m00, 6) AS delta_control,
           ROUND((m11 - m10) - (m01 - m00), 6) AS did,
           ROUND(SQRT(se11 + se10 + se01 + se00), 6) AS did_se,
           ROUND(((m11 - m10) - (m01 - m00))
                 / SQRT(se11 + se10 + se01 + se00), 6) AS did_z
    FROM wide
    """,
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on the canonical 2x2 design (the Card
    & Krueger 1994 four-means form): treated = weekend events, post =
    the back half of the 30-day window, outcome = event value. DiD =
    (m11-m10) - (m01-m00) with the four-cell large-sample SE
    sqrt(Σ s²/n) and its z — the parallel-trends workhorse of every
    experimentation platform.

    Determinism: cell means/variances from exact integer centi-sums;
    one fixed closing chain rounded 6dp.

    Scale shape: one conditional 4-cell aggregate over the scan; the
    closing math is a 1-row pivot."""
    m = _cells(spark, sf_dir).select(
        "g",
        "post",
        "n",
        (F.col("s").cast("double") / F.col("n") / 100.0).alias("mu"),
        (
            (
                F.col("s2").cast("double") / F.col("n") / 1e4
                - (F.col("s").cast("double") / F.col("n") / 100.0)
                * (F.col("s").cast("double") / F.col("n") / 100.0)
            )
            * F.col("n")
            / (F.col("n") - 1.0)
        ).alias("v"),
    )

    def cell(gv, pv, col):
        return F.sum(
            F.when((F.col("g") == gv) & (F.col("post") == pv), col)
        )

    wide = m.agg(
        cell(1, 1, F.col("mu")).alias("m11"),
        cell(1, 0, F.col("mu")).alias("m10"),
        cell(0, 1, F.col("mu")).alias("m01"),
        cell(0, 0, F.col("mu")).alias("m00"),
        cell(1, 1, F.col("v") / F.col("n")).alias("se11"),
        cell(1, 0, F.col("v") / F.col("n")).alias("se10"),
        cell(0, 1, F.col("v") / F.col("n")).alias("se01"),
        cell(0, 0, F.col("v") / F.col("n")).alias("se00"),
        F.sum("n").cast("long").alias("n_obs"),
    )
    did = (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00"))
    se = F.sqrt(
        F.col("se11") + F.col("se10") + F.col("se01") + F.col("se00")
    )
    return wide.select(
        "n_obs",
        F.round(F.col("m11") - F.col("m10"), 6).alias("delta_treated"),
        F.round(F.col("m01") - F.col("m00"), 6).alias("delta_control"),
        F.round(did, 6).alias("did"),
        F.round(se, 6).alias("did_se"),
        F.round(did / se, 6).alias("did_z"),
    )


@query(
    "agg_wald_iv",
    oracle="""
    WITH u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS z,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x,
               CAST(ROUND(value * 100) AS BIGINT) AS y
        FROM events
    ),
    arms AS (
        SELECT z, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM u GROUP BY z
    ),
    wide AS (
        SELECT SUM(CASE WHEN z = 1 THEN CAST(sy AS DOUBLE) / n / 100 END)
                   AS y1,
               SUM(CASE WHEN z = 0 THEN CAST(sy AS DOUBLE) / n / 100 END)
                   AS y0,
               SUM(CASE WHEN z = 1 THEN CAST(sx AS DOUBLE) / n END) AS x1,
               SUM(CASE WHEN z = 0 THEN CAST(sx AS DOUBLE) / n END) AS x0,
               CAST(SUM(n) AS BIGINT) AS n_obs
        FROM arms
    )
    SELECT n_obs,
           ROUND(y1 - y0, 6) AS itt_effect,
           ROUND(x1 - x0, 6) AS first_stage,
           ROUND((y1 - y0) / (x1 - x0), 6) AS wald_iv
    FROM wide
    """,
)
def agg_wald_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Wald instrumental-variable estimator (Wald 1940; the
    binary-instrument LATE of Imbens & Angrist 1994): instrument z =
    weekend, endogenous exposure x = purchase event, outcome y =
    value. IV = (E[y|z=1]-E[y|z=0]) / (E[x|z=1]-E[x|z=0]) — the
    intention-to-treat effect rescaled by the first stage, the
    simplest two-stage causal ratio an experimentation stack reports.

    Determinism: two-arm integer sums; one fixed ratio chain 6dp.

    Scale shape: a 2-cell conditional aggregate over the scan."""
    u = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("z"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    arms = u.groupBy("z").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
    )
    wide = arms.agg(
        F.sum(
            F.when(F.col("z") == 1, F.col("sy").cast("double") / F.col("n") / 100)
        ).alias("y1"),
        F.sum(
            F.when(F.col("z") == 0, F.col("sy").cast("double") / F.col("n") / 100)
        ).alias("y0"),
        F.sum(
            F.when(F.col("z") == 1, F.col("sx").cast("double") / F.col("n"))
        ).alias("x1"),
        F.sum(
            F.when(F.col("z") == 0, F.col("sx").cast("double") / F.col("n"))
        ).alias("x0"),
        F.sum("n").cast("long").alias("n_obs"),
    )
    return wide.select(
        "n_obs",
        F.round(F.col("y1") - F.col("y0"), 6).alias("itt_effect"),
        F.round(F.col("x1") - F.col("x0"), 6).alias("first_stage"),
        F.round(
            (F.col("y1") - F.col("y0")) / (F.col("x1") - F.col("x0")), 6
        ).alias("wald_iv"),
    )


@query(
    "agg_risk_nnt_evalue",
    oracle="""
    WITH u AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS g,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    arms AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS e
        FROM u GROUP BY g
    ),
    wide AS (
        SELECT SUM(CASE WHEN g = 1 THEN CAST(e AS DOUBLE) / n END) AS p1,
               SUM(CASE WHEN g = 0 THEN CAST(e AS DOUBLE) / n END) AS p0,
               CAST(SUM(n) AS BIGINT) AS n_obs
        FROM arms
    ),
    rr AS (
        SELECT n_obs, p1, p0, p1 - p0 AS rd, p1 / p0 AS risk_ratio,
               CASE WHEN p1 >= p0 THEN p1 / p0 ELSE p0 / p1 END AS rr_up
        FROM wide
    )
    SELECT n_obs,
           ROUND(p1, 6) AS risk_exposed,
           ROUND(p0, 6) AS risk_unexposed,
           ROUND(rd, 6) AS risk_difference,
           ROUND(1.0 / ABS(rd), 6) AS nnt,
           ROUND(risk_ratio, 6) AS risk_ratio,
           ROUND(rr_up + SQRT(rr_up * (rr_up - 1.0)), 6) AS e_value
    FROM rr
    """,
)
def agg_risk_nnt_evalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epidemiological effect trio on the weekend-vs-error 2x2:
    risk difference, number needed to treat NNT = 1/|RD| (Laupacis,
    Sackett & Roberts 1988), and the E-value for unmeasured
    confounding E = RR* + sqrt(RR*(RR*-1)) on the above-1 orientation
    of the risk ratio (VanderWeele & Ding, Annals of Internal Medicine
    2017) — the minimum confounder strength that could explain the
    association away.

    Determinism: arm risks are exact-integer ratios; fixed chains 6dp.

    Scale shape: a 2-cell conditional aggregate over the scan."""
    u = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("g"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("y"),
    )
    arms = u.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("e"),
    )
    wide = arms.agg(
        F.sum(
            F.when(F.col("g") == 1, F.col("e").cast("double") / F.col("n"))
        ).alias("p1"),
        F.sum(
            F.when(F.col("g") == 0, F.col("e").cast("double") / F.col("n"))
        ).alias("p0"),
        F.sum("n").cast("long").alias("n_obs"),
    )
    p1, p0 = F.col("p1"), F.col("p0")
    rd = p1 - p0
    rr_up = F.when(p1 >= p0, p1 / p0).otherwise(p0 / p1)
    return wide.select(
        "n_obs",
        F.round(p1, 6).alias("risk_exposed"),
        F.round(p0, 6).alias("risk_unexposed"),
        F.round(rd, 6).alias("risk_difference"),
        F.round(1.0 / F.abs(rd), 6).alias("nnt"),
        F.round(p1 / p0, 6).alias("risk_ratio"),
        F.round(rr_up + F.sqrt(rr_up * (rr_up - 1.0)), 6).alias("e_value"),
    )
