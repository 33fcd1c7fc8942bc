"""Wave-312: DDSketch relative-error quantiles, with the guarantee
audited against exact order statistics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_ALPHA = 0.01  # DDSketch relative-error target
# gamma = (1+a)/(1-a); buckets are ceil(log_gamma(x))
_GAMMA = (1 + _ALPHA) / (1 - _ALPHA)


@query(
    "agg_ddsketch_quantiles",
    oracle=f"""
    WITH vals AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    b AS (
        SELECT CAST(CEIL(LN(CAST(v AS DOUBLE)) / LN({_GAMMA!r})) AS BIGINT)
                   AS bucket,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM vals GROUP BY 1
    ),
    cum AS (
        SELECT bucket, k,
               SUM(k) OVER (ORDER BY bucket) AS upto,
               SUM(k) OVER (ORDER BY bucket) - k AS below,
               SUM(k) OVER () AS n
        FROM b
    ),
    est AS (
        SELECT
          MIN(CASE WHEN below < CAST(CEIL(0.50 * n) AS BIGINT)
                    AND CAST(CEIL(0.50 * n) AS BIGINT) <= upto
                   THEN bucket END) AS b50,
          MIN(CASE WHEN below < CAST(CEIL(0.95 * n) AS BIGINT)
                    AND CAST(CEIL(0.95 * n) AS BIGINT) <= upto
                   THEN bucket END) AS b95,
          MIN(CASE WHEN below < CAST(CEIL(0.99 * n) AS BIGINT)
                    AND CAST(CEIL(0.99 * n) AS BIGINT) <= upto
                   THEN bucket END) AS b99,
          CAST(COUNT(*) AS BIGINT) AS n_buckets,
          CAST(MAX(n) AS BIGINT) AS n
        FROM cum
    ),
    exact AS (
        SELECT
          MIN(CASE WHEN below < CAST(CEIL(0.95 * n) AS BIGINT)
                    AND CAST(CEIL(0.95 * n) AS BIGINT) <= upto
                   THEN v END) AS q95_exact
        FROM (SELECT v, SUM(k) OVER (ORDER BY v) AS upto,
                     SUM(k) OVER (ORDER BY v) - k AS below,
                     SUM(k) OVER () AS n
              FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS k
                    FROM vals GROUP BY v))
    )
    SELECT e.n AS n_obs, e.n_buckets,
           ROUND(2 * POWER({_GAMMA!r}, e.b50)
                 / ({_GAMMA!r} + 1) / 100, 2) AS p50_estimate,
           ROUND(2 * POWER({_GAMMA!r}, e.b95)
                 / ({_GAMMA!r} + 1) / 100, 2) AS p95_estimate,
           ROUND(2 * POWER({_GAMMA!r}, e.b99)
                 / ({_GAMMA!r} + 1) / 100, 2) AS p99_estimate,
           ROUND(x.q95_exact / 100.0, 2) AS p95_exact,
           ABS(2 * POWER({_GAMMA!r}, e.b95) / ({_GAMMA!r} + 1)
               - x.q95_exact) / x.q95_exact <= {_ALPHA!r} AS p95_within_alpha
    FROM est e CROSS JOIN exact x
    """,
)
def agg_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantile estimation (Masson, Rim & Lee, VLDB 2019,
    public): log-spaced buckets ceil(log_gamma(x)) with gamma =
    (1+alpha)/(1-alpha) give every quantile a RELATIVE-error guarantee
    alpha (here 1%) with O(log range) space — the sketch Datadog runs
    on every latency stream, and unlike KLL/t-digest the bucketing is
    fully deterministic, so the whole estimator has an exact SQL twin.
    The quantile estimate is the bucket's geometric-mean representative
    2·gamma^b/(gamma+1); the query also computes the EXACT p95 order
    statistic from the distinct-value frame and emits the audited
    within-alpha flag — the guarantee, checked, not assumed.

    Determinism: bucket indices are integers from one LN chain (cents
    >= 3 on this schema, so x > 0); counts exact; representatives are
    fixed POWER chains rounded 2dp; the audit flag compares unrounded.

    Scale shape: one bucket groupBy over the scan (map-side combinable,
    ~O(log range) distinct buckets) + the distinct-value collapse for
    the exact p95; both global cumulative windows run over Aggregates."""
    vals = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    import math

    lng = math.log(_GAMMA)
    b = vals.groupBy(
        F.ceil(F.log(F.col("v").cast("double")) / lng).cast("long").alias("bucket")
    ).agg(F.count("*").cast("long").alias("k"))
    wb = Window.orderBy("bucket")
    cum = b.select(
        "bucket",
        "k",
        F.sum("k").over(wb).alias("upto"),
        (F.sum("k").over(wb) - F.col("k")).alias("below"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )

    def sel(frac):
        r = F.ceil(frac * F.col("n")).cast("long")
        return F.min(
            F.when((F.col("below") < r) & (r <= F.col("upto")), F.col("bucket"))
        )

    est = cum.agg(
        sel(0.50).alias("b50"),
        sel(0.95).alias("b95"),
        sel(0.99).alias("b99"),
        F.count("*").cast("long").alias("n_buckets"),
        F.max("n").cast("long").alias("n"),
    )
    dv = vals.groupBy("v").agg(F.count("*").cast("long").alias("k"))
    wv = Window.orderBy("v")
    cv = dv.select(
        "v",
        F.sum("k").over(wv).alias("upto"),
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )
    r95 = F.ceil(0.95 * F.col("n")).cast("long")
    exact = cv.agg(
        F.min(
            F.when((F.col("below") < r95) & (r95 <= F.col("upto")), F.col("v"))
        ).alias("q95_exact")
    )

    def rep(bcol):
        return 2 * F.pow(F.lit(_GAMMA), F.col(bcol)) / (_GAMMA + 1)

    j = est.crossJoin(F.broadcast(exact))
    return j.select(
        F.col("n").alias("n_obs"),
        "n_buckets",
        F.round(rep("b50") / 100, 2).alias("p50_estimate"),
        F.round(rep("b95") / 100, 2).alias("p95_estimate"),
        F.round(rep("b99") / 100, 2).alias("p99_estimate"),
        F.round(F.col("q95_exact") / 100.0, 2).alias("p95_exact"),
        (
            F.abs(rep("b95") - F.col("q95_exact")) / F.col("q95_exact")
            <= _ALPHA
        ).alias("p95_within_alpha"),
    )
