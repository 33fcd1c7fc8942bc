"""Wave-221: Tukey-Kramer HSD post-hoc after one-way ANOVA.

agg_anova_oneway says the event-type spend means differ SOMEWHERE;
Tukey-Kramer is the standard parametric answer to WHERE, with the
studentized-range correction that keeps the familywise error at alpha
across all k(k-1)/2 comparisons (the Nemenyi twin for means instead of
ranks). Unequal group sizes use the Kramer per-pair standard error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.registry import query
from data_ingestor_web_app_spark.io import table

_DEC = "decimal(38,0)"
_Q05_K5 = 3.858  # studentized range q_0.05, k=5, df=inf


@query(
    "agg_tukey_hsd",
    oracle=f"""
    WITH base AS (
        SELECT event_type AS g,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
        FROM events
    ),
    mom AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s2
        FROM base GROUP BY g
    ),
    mse AS (
        SELECT LIST_REDUCE(
                   LIST(CAST(n * s2 - CAST(s AS HUGEINT) * s AS DOUBLE)
                        / n ORDER BY g), (x, y) -> x + y)
                 / ((SELECT SUM(n) FROM mom)
                    - (SELECT COUNT(*) FROM mom)) AS mse,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM mom) AS k
        FROM mom
    )
    SELECT a.g AS group_i, b.g AS group_j,
           ROUND(a.s / (100.0e0 * a.n), 6) AS mean_i,
           ROUND(b.s / (100.0e0 * b.n), 6) AS mean_j,
           ROUND(ABS(a.s / CAST(a.n AS DOUBLE)
                     - b.s / CAST(b.n AS DOUBLE)) / 100, 6) AS abs_diff,
           ROUND({_Q05_K5} * SQRT(m.mse / 2
                 * (1.0e0 / a.n + 1.0e0 / b.n)) / 100, 6)
               AS critical_diff,
           ABS(a.s / CAST(a.n AS DOUBLE) - b.s / CAST(b.n AS DOUBLE))
               > {_Q05_K5} * SQRT(m.mse / 2
                                  * (1.0e0 / a.n + 1.0e0 / b.n))
               AS significant
    FROM mom a JOIN mom b ON a.g < b.g, mse m
    ORDER BY group_i, group_j
    """,
)
def agg_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer HSD on mean spend per event type: every pair is
    significantly different iff |mean_i - mean_j| > q_alpha *
    sqrt(MSE/2 * (1/n_i + 1/n_j)) with MSE the pooled within-group
    variance. The post-hoc that agg_anova_oneway needs — testing the 10
    pairs at raw alpha would inflate the familywise error to ~40%; the
    studentized-range q holds it at 5%.

    Determinism: per-group moments are exact integers; the pooled MSE
    sums the per-group exact-rational variances in an ORDERED group
    fold; each pair's critical difference is one double expression.

    Scale shape: one groupBy(type) moment pass (map-side partials),
    then a k^2 = 25-row pair frame."""
    events = table(spark, sf_dir, "events")
    base = events.select(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y"),
    )
    mom = base.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("s2"),
    )
    tot = mom.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
        F.aggregate(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "g",
                            (
                                (
                                    F.col("n") * F.col("s2")
                                    - F.col("s").cast(_DEC) * F.col("s")
                                ).cast("double")
                                / F.col("n")
                            ).alias("w"),
                        )
                    )
                ),
                lambda t: t.w,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("ssw"),
    )
    mse = tot.select(
        (F.col("ssw") / (F.col("nn") - F.col("k"))).alias("mse")
    )
    a = mom.select(
        F.col("g").alias("group_i"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
    )
    b = mom.select(
        F.col("g").alias("group_j"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
    )
    pairs = a.join(b, F.col("group_i") < F.col("group_j")).crossJoin(
        F.broadcast(mse)
    )
    diff = F.abs(
        F.col("sa") / F.col("na").cast("double")
        - F.col("sb") / F.col("nb").cast("double")
    )
    cd = F.lit(_Q05_K5) * F.sqrt(
        F.col("mse")
        / 2
        * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
    )
    return pairs.select(
        "group_i",
        "group_j",
        F.round(F.col("sa") / (F.lit(100.0) * F.col("na")), 6).alias(
            "mean_i"
        ),
        F.round(F.col("sb") / (F.lit(100.0) * F.col("nb")), 6).alias(
            "mean_j"
        ),
        F.round(diff / 100, 6).alias("abs_diff"),
        F.round(cd / 100, 6).alias("critical_diff"),
        (diff > cd).alias("significant"),
    ).orderBy("group_i", "group_j")
