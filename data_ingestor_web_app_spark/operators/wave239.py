"""Wave-239: rank-based two-sample tests beyond location — the
Brunner-Munzel test (the heteroskedasticity-robust replacement for
Mann-Whitney) and the Ansari-Bradley dispersion test. Both operate on
the 'view' vs 'click' value samples like agg_mann_whitney, sharing its
scalable groupBy-value midrank device (wave30.py:287).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Distinct-value rollup with cumulative counts — midranks for ties come
# from value-group counts, never per-row ranks, so the window runs over
# the (bounded) distinct-value frame, not the fact table.
_BYVAL_SQL = """
    tagged AS (
        SELECT value, (event_type = 'view')::INT AS in_a
        FROM events WHERE event_type IN ('view', 'click')
    ),
    by_val AS (
        SELECT value,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(in_a) AS BIGINT) AS cnt_a,
               CAST(COUNT(*) - SUM(in_a) AS BIGINT) AS cnt_b
        FROM tagged GROUP BY value
    ),
    cum AS (
        SELECT value, cnt, cnt_a, cnt_b,
               SUM(cnt) OVER (ORDER BY value) - cnt AS bef,
               SUM(cnt_a) OVER (ORDER BY value) - cnt_a AS bef_a,
               SUM(cnt_b) OVER (ORDER BY value) - cnt_b AS bef_b
        FROM by_val
    )
"""


def _cum(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").where(
        F.col("event_type").isin("view", "click")
    )
    by_val = e.groupBy("value").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum((F.col("event_type") == "view").cast("int"))
        .cast("long")
        .alias("cnt_a"),
        (F.count("*") - F.sum((F.col("event_type") == "view").cast("int")))
        .cast("long")
        .alias("cnt_b"),
    )
    w = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    return by_val.select(
        "value",
        "cnt",
        "cnt_a",
        "cnt_b",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("bef"),
        (F.sum("cnt_a").over(w) - F.col("cnt_a")).alias("bef_a"),
        (F.sum("cnt_b").over(w) - F.col("cnt_b")).alias("bef_b"),
    )


@query(
    "agg_brunner_munzel",
    oracle=f"""
    WITH {_BYVAL_SQL},
    mid AS (
        SELECT cnt_a, cnt_b,
               bef + (cnt + 1) / 2.0 AS m,
               bef_a + (cnt_a + 1) / 2.0 AS mx,
               bef_b + (cnt_b + 1) / 2.0 AS my
        FROM cum
    ),
    sizes AS (
        SELECT CAST(SUM(cnt_a) AS BIGINT) AS n1,
               CAST(SUM(cnt_b) AS BIGINT) AS n2,
               SUM(cnt_a * m) / SUM(cnt_a) AS rx,
               SUM(cnt_b * m) / SUM(cnt_b) AS ry
        FROM mid
    ),
    vs AS (
        SELECT ANY_VALUE(s.n1) AS n1, ANY_VALUE(s.n2) AS n2,
               ANY_VALUE(s.rx) AS rx, ANY_VALUE(s.ry) AS ry,
               SUM(cnt_a * (m - mx - s.rx + (s.n1 + 1) / 2.0)
                         * (m - mx - s.rx + (s.n1 + 1) / 2.0))
                   / (ANY_VALUE(s.n1) - 1) AS v1,
               SUM(cnt_b * (m - my - s.ry + (s.n2 + 1) / 2.0)
                         * (m - my - s.ry + (s.n2 + 1) / 2.0))
                   / (ANY_VALUE(s.n2) - 1) AS v2
        FROM mid CROSS JOIN sizes s
    )
    SELECT n1, n2,
           ROUND((ry - (n2 + 1) / 2.0) / n1, 6) AS p_hat,
           ROUND(n1 * n2 * (ry - rx) / (n1 + n2)
                 / SQRT(n1 * v1 + n2 * v2), 6) AS bm_stat,
           ROUND((n1 * v1 + n2 * v2) * (n1 * v1 + n2 * v2)
                 / ((n1 * v1) * (n1 * v1) / (n1 - 1)
                    + (n2 * v2) * (n2 * v2) / (n2 - 1)), 6) AS df
    FROM vs
    """,
)
def agg_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brunner-Munzel generalized Wilcoxon test (Brunner & Munzel,
    Biometrical Journal 2000, public): tests P(X<Y) + 0.5*P(X=Y) = 1/2
    WITHOUT Mann-Whitney's equal-variance-under-null assumption, using
    the rank-variance estimator v_k from combined-minus-within midranks
    and a Welch-Satterthwaite df. p_hat is the estimated stochastic
    superiority of 'click' values over 'view' values.

    Exactness device: midranks derive from integer value-group counts
    ((2*bef + cnt + 1)/2 arithmetic — no per-row rank); variances are
    weighted sums over the distinct-value frame; three rounded chains.

    Scale shape: the fact scan folds to distinct values first (the
    wave30 Mann-Whitney device), so the ordering window runs over the
    bounded value frame; at 100 TB the prefix sums shard with the
    agg_salted_twophase two-phase pattern."""
    cum = _cum(spark, sf_dir)
    mid = cum.select(
        "cnt_a",
        "cnt_b",
        (F.col("bef") + (F.col("cnt") + 1) / 2.0).alias("m"),
        (F.col("bef_a") + (F.col("cnt_a") + 1) / 2.0).alias("mx"),
        (F.col("bef_b") + (F.col("cnt_b") + 1) / 2.0).alias("my"),
    )
    sizes = mid.agg(
        F.sum("cnt_a").cast("long").alias("n1"),
        F.sum("cnt_b").cast("long").alias("n2"),
        (F.sum(F.col("cnt_a") * F.col("m")) / F.sum("cnt_a")).alias("rx"),
        (F.sum(F.col("cnt_b") * F.col("m")) / F.sum("cnt_b")).alias("ry"),
    )
    dxa = F.col("m") - F.col("mx") - F.col("rx") + (F.col("n1") + 1) / 2.0
    dxb = F.col("m") - F.col("my") - F.col("ry") + (F.col("n2") + 1) / 2.0
    vs = (
        mid.crossJoin(F.broadcast(sizes))
        .agg(
            F.first("n1").alias("n1"),
            F.first("n2").alias("n2"),
            F.first("rx").alias("rx"),
            F.first("ry").alias("ry"),
            (F.sum(F.col("cnt_a") * dxa * dxa) / (F.first("n1") - 1)).alias(
                "v1"
            ),
            (F.sum(F.col("cnt_b") * dxb * dxb) / (F.first("n2") - 1)).alias(
                "v2"
            ),
        )
    )
    nv1 = F.col("n1") * F.col("v1")
    nv2 = F.col("n2") * F.col("v2")
    return vs.select(
        "n1",
        "n2",
        F.round((F.col("ry") - (F.col("n2") + 1) / 2.0) / F.col("n1"), 6).alias(
            "p_hat"
        ),
        F.round(
            F.col("n1")
            * F.col("n2")
            * (F.col("ry") - F.col("rx"))
            / (F.col("n1") + F.col("n2"))
            / F.sqrt(nv1 + nv2),
            6,
        ).alias("bm_stat"),
        F.round(
            (nv1 + nv2)
            * (nv1 + nv2)
            / (
                nv1 * nv1 / (F.col("n1") - 1)
                + nv2 * nv2 / (F.col("n2") - 1)
            ),
            6,
        ).alias("df"),
    )


@query(
    "agg_ansari_bradley",
    oracle=f"""
    WITH {_BYVAL_SQL},
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nn FROM by_val),
    sc AS (
        SELECT cnt, cnt_a, cnt_b,
               -- exact mean Ansari score over the tie block's positions
               -- p in [bef+1, bef+cnt]: score(p) = min(p, N+1-p); k1
               -- positions fall in the lower half (p <= (N+1)/2)
               GREATEST(0, LEAST(bef + cnt, (t.nn + 1) // 2) - bef) AS k1,
               bef, t.nn
        FROM cum CROSS JOIN tot t
    ),
    scored AS (
        SELECT cnt, cnt_a, cnt_b,
               (
                 (k1 * (bef + 1) + k1 * (k1 - 1) // 2)
                 + ((cnt - k1) * (nn + 1)
                    - ((cnt - k1) * (bef + k1 + 1)
                       + (cnt - k1) * (cnt - k1 - 1) // 2))
               ) / CAST(cnt AS DOUBLE) AS a
        FROM sc
    ),
    mom AS (
        SELECT CAST(SUM(cnt_a) AS BIGINT) AS n1,
               CAST(SUM(cnt_b) AS BIGINT) AS n2,
               CAST(SUM(cnt) AS BIGINT) AS nn,
               SUM(cnt_a * a) AS ab,
               SUM(cnt * a) / SUM(cnt) AS abar,
               SUM(cnt * a * a) / SUM(cnt) AS a2bar
        FROM scored
    )
    SELECT n1, n2,
           ROUND(ab, 6) AS ab_stat,
           ROUND(n1 * abar, 6) AS e_ab,
           ROUND((ab - n1 * abar)
                 / SQRT(n1 * (nn - n1) / (nn - 1.0)
                        * (a2bar - abar * abar)), 6) AS z
    FROM mom
    """,
)
def agg_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley dispersion test (Ansari & Bradley, AMS 1960,
    public): scores a_p = min(p, N+1-p) rank observations from BOTH ends
    toward the middle, so a small score-sum for one sample means its
    values sit in the tails — a scale difference, not a location one.
    Ties get the EXACT mean score over the tie block's positions (the
    closed-form two-segment arithmetic series, integer until one
    division), and the z-score uses the exact finite-population moments
    E = n1*abar, Var = n1(N-n1)/(N-1) * pvar(a) given the realized
    scores — correct under any tie structure, no parametric formula.

    Scale shape: identical to agg_brunner_munzel — distinct-value
    rollup, bounded-frame prefix sums, one moment aggregate."""
    cum = _cum(spark, sf_dir)
    tot = cum.agg(F.sum("cnt").cast("long").alias("nn"))
    sc = cum.crossJoin(F.broadcast(tot)).select(
        "cnt",
        "cnt_a",
        "cnt_b",
        "bef",
        "nn",
        F.greatest(
            F.lit(0).cast("long"),
            F.least(
                F.col("bef") + F.col("cnt"),
                F.floor((F.col("nn") + 1) / 2).cast("long"),
            )
            - F.col("bef"),
        ).alias("k1"),
    )
    k1 = F.col("k1")
    k2 = F.col("cnt") - k1
    scored = sc.select(
        "cnt",
        "cnt_a",
        "cnt_b",
        (
            (
                k1 * (F.col("bef") + 1)
                + F.floor(k1 * (k1 - 1) / 2)
                + k2 * (F.col("nn") + 1)
                - (k2 * (F.col("bef") + k1 + 1) + F.floor(k2 * (k2 - 1) / 2))
            )
            / F.col("cnt").cast("double")
        ).alias("a"),
    )
    mom = scored.agg(
        F.sum("cnt_a").cast("long").alias("n1"),
        F.sum("cnt_b").cast("long").alias("n2"),
        F.sum("cnt").cast("long").alias("nn"),
        F.sum(F.col("cnt_a") * F.col("a")).alias("ab"),
        (F.sum(F.col("cnt") * F.col("a")) / F.sum("cnt")).alias("abar"),
        (
            F.sum(F.col("cnt") * F.col("a") * F.col("a")) / F.sum("cnt")
        ).alias("a2bar"),
    )
    return mom.select(
        "n1",
        "n2",
        F.round("ab", 6).alias("ab_stat"),
        F.round(F.col("n1") * F.col("abar"), 6).alias("e_ab"),
        F.round(
            (F.col("ab") - F.col("n1") * F.col("abar"))
            / F.sqrt(
                F.col("n1")
                * (F.col("nn") - F.col("n1"))
                / (F.col("nn") - 1.0)
                * (F.col("a2bar") - F.col("abar") * F.col("abar"))
            ),
            6,
        ).alias("z"),
    )
