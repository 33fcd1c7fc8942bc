"""Wave-347: Thurstone Case V paired-comparison scaling (Thurstone,
Psychological Review 1927) with Acklam's inverse-normal-CDF rational
approximation (public algorithm, |rel err| < 1.15e-9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Acklam's coefficients — identical literals in both engines.
_A = [
    -3.969683028665376e01, 2.209460984245205e02, -2.759285104469687e02,
    1.383577518672690e02, -3.066479806614716e01, 2.506628277459239e00,
]
_B = [
    -5.447609879822406e01, 1.615858368580409e02, -1.556989798598866e02,
    6.680131188771972e01, -1.328068155288572e01,
]
_C = [
    -7.784894002430293e-03, -3.223964580411365e-01, -2.400758277161838e00,
    -2.549732539343734e00, 4.374664141464968e00, 2.938163982698783e00,
]
_D = [
    7.784695709041462e-03, 3.224671290700398e-01, 2.445134137142996e00,
    3.754408661907416e00,
]
_PLOW = 0.02425


def _horner_sql(coeffs: list[float], var: str) -> str:
    expr = repr(coeffs[0])
    for c in coeffs[1:]:
        expr = f"({expr} * {var} + {c!r})"
    return expr


def _horner_col(coeffs: list[float], var: Column) -> Column:
    expr = F.lit(coeffs[0])
    for c in coeffs[1:]:
        expr = expr * var + F.lit(c)
    return expr


def _probit_sql(p: str) -> str:
    ql = f"SQRT(-2.0 * LN({p}))"
    qh = f"SQRT(-2.0 * LN(1.0 - ({p})))"
    qc = f"(({p}) - 0.5)"
    rc = f"({qc} * {qc})"
    low = f"({_horner_sql(_C, ql)} / ({_horner_sql(_D, ql)} * {ql} + 1.0))"
    high = f"(-({_horner_sql(_C, qh)}) / ({_horner_sql(_D, qh)} * {qh} + 1.0))"
    cen = (
        f"({_horner_sql(_A, rc)} * {qc} "
        f"/ ({_horner_sql(_B, rc)} * {rc} + 1.0))"
    )
    return (
        f"(CASE WHEN ({p}) < {_PLOW} THEN {low} "
        f"WHEN ({p}) > {1.0 - _PLOW!r} THEN {high} ELSE {cen} END)"
    )


def _probit_col(p: Column) -> Column:
    ql = F.sqrt(-2.0 * F.log(p))
    qh = F.sqrt(-2.0 * F.log(1.0 - p))
    qc = p - 0.5
    rc = qc * qc
    low = _horner_col(_C, ql) / (_horner_col(_D, ql) * ql + 1.0)
    high = -_horner_col(_C, qh) / (_horner_col(_D, qh) * qh + 1.0)
    cen = _horner_col(_A, rc) * qc / (_horner_col(_B, rc) * rc + 1.0)
    return (
        F.when(p < _PLOW, low)
        .when(p > 1.0 - _PLOW, high)
        .otherwise(cen)
    )


@query(
    "model_thurstone_scaling",
    oracle=f"""
    WITH cell AS (
        SELECT CAST(ts AS DATE) AS d, event_type,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)
               / COUNT(*) AS m
        FROM events GROUP BY 1, 2
    ),
    duels AS (
        SELECT a.event_type AS ti, b.event_type AS tj,
               CAST(SUM(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS wins,
               CAST(SUM(CASE WHEN a.m < b.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS losses
        FROM cell a JOIN cell b
          ON b.d = a.d AND b.event_type <> a.event_type
        GROUP BY a.event_type, b.event_type
    ),
    z AS (
        SELECT ti, tj,
               {_probit_sql(
                   "GREATEST(1.0/60, LEAST(59.0/60, "
                   "CAST(wins AS DOUBLE) / (wins + losses)))"
               )} AS zij,
               wins, losses
        FROM duels
    ),
    scale AS (
        SELECT ti AS event_type,
               CAST(SUM(wins) AS BIGINT) AS total_wins,
               SUM(zij) / 5.0 AS s
        FROM z GROUP BY ti
    )
    SELECT event_type, total_wins,
           ROUND(s, 6) AS thurstone_scale,
           ROW_NUMBER() OVER (ORDER BY s DESC, event_type) AS rank
    FROM scale ORDER BY event_type
    """,
)
def model_thurstone_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thurstone Case V scaling (Psych. Review 1927 — the original
    paired-comparison measurement model, the analytic ancestor of
    Bradley-Terry and Elo): daily mean values give each ordered type
    pair a win proportion; z_ij = Φ⁻¹(p_ij) via Acklam's rational
    approximation (clamped to [1/60, 59/60] so extreme duels stay
    finite), and each type's scale is the mean of its row of z —
    Case V's least-squares solution under unit comparison variance.

    Determinism: win counts are exact integers; p is an exact-integer
    ratio so both engines take identical probit branches over
    identical doubles (the Horner chains share the same literal
    coefficients); rounded 6dp; rank has a (s, name) total order.

    Scale shape: one (day,type) aggregate, a days×k² duel join on
    the calendar-bounded frame, then k-row math."""
    cell = (
        table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"), "event_type")
        .agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast(
                    "double"
                )
                / F.count("*")
            ).alias("m")
        )
    )
    a = cell.select(
        F.col("d").alias("da"), F.col("event_type").alias("ti"), F.col("m").alias("ma")
    )
    b = cell.select(
        F.col("d").alias("db"), F.col("event_type").alias("tj"), F.col("m").alias("mb")
    )
    duels = (
        a.join(b, (F.col("db") == F.col("da")) & (F.col("tj") != F.col("ti")))
        .groupBy("ti", "tj")
        .agg(
            F.sum(F.when(F.col("ma") > F.col("mb"), 1).otherwise(0))
            .cast("long")
            .alias("wins"),
            F.sum(F.when(F.col("ma") < F.col("mb"), 1).otherwise(0))
            .cast("long")
            .alias("losses"),
        )
    )
    p = F.greatest(
        F.lit(1.0 / 60),
        F.least(
            F.lit(59.0 / 60),
            F.col("wins").cast("double") / (F.col("wins") + F.col("losses")),
        ),
    )
    z = duels.select("ti", "wins", _probit_col(p).alias("zij"))
    scale = z.groupBy(F.col("ti").alias("event_type")).agg(
        F.sum("wins").cast("long").alias("total_wins"),
        (F.sum("zij") / 5.0).alias("s"),
    )
    from pyspark.sql import Window

    return scale.select(
        "event_type",
        "total_wins",
        F.round(F.col("s"), 6).alias("thurstone_scale"),
        F.row_number()
        .over(Window.orderBy(F.col("s").desc(), "event_type"))
        .alias("rank"),
    ).orderBy("event_type")
