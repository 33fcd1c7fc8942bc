"""Wave-309: Hartley F-max + Cochran's C variance-homogeneity screens and
Scheffé simultaneous pairwise contrasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_MOM_SQL = """
    mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS s1,
               SUM(CAST(CAST(ROUND(value * 1000) AS BIGINT) AS HUGEINT)
                   * CAST(ROUND(value * 1000) AS BIGINT)) AS s2
        FROM events GROUP BY event_type
    ),
    v AS (
        SELECT event_type, n,
               CAST(s1 AS DOUBLE) / n / 1000.0 AS mean,
               (CAST(s2 AS DOUBLE) / 1e6
                - (CAST(s1 AS DOUBLE) / 1000.0)
                  * (CAST(s1 AS DOUBLE) / 1000.0) / n) / (n - 1) AS s2v
        FROM mom
    )
"""


@query(
    "agg_hartley_cochran",
    oracle=f"""
    WITH {_MOM_SQL}
    SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
           CAST(MIN(n) AS BIGINT) AS min_n,
           ROUND(MAX(s2v), 6) AS max_var,
           ROUND(MIN(s2v), 6) AS min_var,
           ROUND(MAX(s2v) / MIN(s2v), 6) AS hartley_fmax,
           ROUND(MAX(s2v) / SUM(s2v), 6) AS cochran_c
    FROM v
    """,
)
def agg_hartley_cochran(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hartley's F-max (Hartley, Biometrika 1950) and Cochran's C
    (Cochran 1941 — both public): the two classical quick screens for
    variance homogeneity across the event-type groups — F-max is the
    largest-to-smallest variance ratio, C the largest variance's share
    of the total. They are what practitioners eyeball BEFORE trusting
    the pooled-variance tests the registry already carries (one-way
    ANOVA, Bartlett, Levene, Brown-Forsythe): F-max near 1 and C near
    1/k mean the pooling is safe. Statistics only — their critical
    values are small-k table lookups, and the calibrated verdicts
    already live in the Bartlett/Levene rows.

    Determinism: per-group variance from exact integer milli-sums
    (HUGEINT/decimal(38,0) squares) in one fixed chain; extrema are
    order-free; ROUND 6.

    Scale shape: one map-side-combinable groupBy over the scan; the
    screen itself runs on a k-row frame."""
    mv = F.round(F.col("value") * 1000).cast("long")
    mom = (
        table(spark, sf_dir, "events")
        .select("event_type", mv.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("m").cast("long").alias("s1"),
            F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("s2"),
        )
    )
    s2v = (
        F.col("s2").cast("double") / 1e6
        - (F.col("s1").cast("double") / 1000.0)
        * (F.col("s1").cast("double") / 1000.0)
        / F.col("n")
    ) / (F.col("n") - 1)
    v = mom.select("event_type", "n", s2v.alias("s2v"))
    return v.agg(
        F.count("*").cast("long").alias("k_groups"),
        F.min("n").cast("long").alias("min_n"),
        F.round(F.max("s2v"), 6).alias("max_var"),
        F.round(F.min("s2v"), 6).alias("min_var"),
        F.round(F.max("s2v") / F.min("s2v"), 6).alias("hartley_fmax"),
        F.round(F.max("s2v") / F.sum("s2v"), 6).alias("cochran_c"),
    )


@query(
    "agg_scheffe_contrasts",
    oracle=f"""
    WITH {_MOM_SQL},
    mse AS (
        SELECT SUM((n - 1) * s2v) / SUM(n - 1) AS mse,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM v
    )
    SELECT a.event_type AS group_a, b.event_type AS group_b,
           ROUND(a.mean - b.mean, 6) AS mean_diff,
           ROUND(SQRT((m.k - 1) * 2.371936
                      * m.mse * (1.0 / a.n + 1.0 / b.n)), 6)
               AS scheffe_halfwidth,
           ABS(a.mean - b.mean)
             > SQRT((m.k - 1) * 2.371936 * m.mse * (1.0 / a.n + 1.0 / b.n))
               AS significant
    FROM v a JOIN v b ON a.event_type < b.event_type
    CROSS JOIN mse m
    ORDER BY group_a, group_b
    """,
)
def agg_scheffe_contrasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scheffé's simultaneous pairwise contrasts (Scheffé, Biometrika
    1953, public): every pairwise mean difference of the event-type
    groups against the half-width sqrt((k-1)·F_crit·MSE·(1/n_i+1/n_j)),
    with F_crit the literal F(k-1 = 4, inf) 5% point 2.371936 (the
    residual df is corpus-sized, so the asymptote is the honest
    constant). Scheffé's guarantee covers ALL linear contrasts at once
    — the most conservative of the post-hoc family — so a pair the
    registry's Tukey-HSD row flags but Scheffé doesn't is exactly the
    marginal case a reviewer should squint at.

    Determinism: means and pooled MSE from exact integer milli-moments;
    the pair frame is k(k-1)/2 rows with a name-ordered total order;
    the flag compares unrounded values.

    Scale shape: one map-side-combinable groupBy; the contrast table is
    a k-row self-join — dimension-sized."""
    mv = F.round(F.col("value") * 1000).cast("long")
    mom = (
        table(spark, sf_dir, "events")
        .select("event_type", mv.alias("m"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("m").cast("long").alias("s1"),
            F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("s2"),
        )
    )
    mean = F.col("s1").cast("double") / F.col("n") / 1000.0
    s2v = (
        F.col("s2").cast("double") / 1e6
        - (F.col("s1").cast("double") / 1000.0)
        * (F.col("s1").cast("double") / 1000.0)
        / F.col("n")
    ) / (F.col("n") - 1)
    v = mom.select("event_type", "n", mean.alias("mean"), s2v.alias("s2v"))
    mse = v.agg(
        (
            F.sum((F.col("n") - 1) * F.col("s2v")) / F.sum(F.col("n") - 1)
        ).alias("mse"),
        F.count("*").cast("long").alias("k"),
    )
    a = v.select(
        F.col("event_type").alias("group_a"),
        F.col("n").alias("na"),
        F.col("mean").alias("ma"),
    )
    b = v.select(
        F.col("event_type").alias("group_b"),
        F.col("n").alias("nb"),
        F.col("mean").alias("mb"),
    )
    pairs = a.join(b, F.col("group_a") < F.col("group_b")).crossJoin(
        F.broadcast(mse)
    )
    half = F.sqrt(
        (F.col("k") - 1)
        * 2.371936
        * F.col("mse")
        * (1.0 / F.col("na") + 1.0 / F.col("nb"))
    )
    return pairs.select(
        "group_a",
        "group_b",
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round(half, 6).alias("scheffe_halfwidth"),
        (F.abs(F.col("ma") - F.col("mb")) > half).alias("significant"),
    ).orderBy("group_a", "group_b")
