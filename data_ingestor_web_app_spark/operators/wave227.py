"""Wave-227: AIC/BIC model selection across the trend-model ladder
(constant, linear, broken-stick) with the BIC-approximate Bayes factor.

The regression family fits many models but never scores them against
each other; AIC/BIC is the standard ladder ranking, and exp(dBIC/2) is
the classic Bayes-factor approximation for "how much better is the
kinked trend, really". All three SSEs come from the same exact integer
moments the segmented/Chow queries use; the information criteria are
single ln expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_DEC = "decimal(38,0)"
_BP = 15  # broken-stick knot (same as model_chow_test)


@query(
    "model_aic_bic_ladder",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS d,
               CAST(SUM(CAST(FLOOR(value + 0.5) AS BIGINT)) AS BIGINT)
                   AS y
        FROM events GROUP BY 1
    ),
    seg AS (
        SELECT CASE WHEN d < {_BP} THEN 1 ELSE 2 END AS grp, d, y
        FROM daily
    ),
    moms AS (
        SELECT 0 AS grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT)
                   AS sy,
               CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(d AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM daily
        UNION ALL
        SELECT grp, CAST(COUNT(*) AS BIGINT), CAST(SUM(d) AS BIGINT),
               CAST(SUM(y) AS BIGINT),
               CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT),
               CAST(SUM(CAST(d AS HUGEINT) * y) AS HUGEINT),
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT)
        FROM seg GROUP BY grp
    ),
    sses AS (
        SELECT grp, n,
               CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                   / n AS sse_const,
               (CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE)
                - CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                  * CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
                  / CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
               / n AS sse_lin
        FROM moms
    ),
    models AS (
        SELECT 'constant' AS model, 1 AS k,
               (SELECT sse_const FROM sses WHERE grp = 0) AS sse
        UNION ALL
        SELECT 'linear', 2, (SELECT sse_lin FROM sses WHERE grp = 0)
        UNION ALL
        SELECT 'broken_stick', 4,
               (SELECT sse_lin FROM sses WHERE grp = 1)
               + (SELECT sse_lin FROM sses WHERE grp = 2)
    ),
    scored AS (
        SELECT m.model, m.k, m.sse,
               (SELECT n FROM sses WHERE grp = 0) AS n,
               (SELECT n FROM sses WHERE grp = 0)
                   * LN(m.sse / (SELECT n FROM sses WHERE grp = 0))
                 + 2 * m.k AS aic,
               (SELECT n FROM sses WHERE grp = 0)
                   * LN(m.sse / (SELECT n FROM sses WHERE grp = 0))
                 + m.k * LN(CAST((SELECT n FROM sses WHERE grp = 0)
                                 AS DOUBLE)) AS bic
        FROM models m
    )
    SELECT model, CAST(k AS BIGINT) AS k_params,
           ROUND(sse, 4) AS sse, ROUND(aic, 6) AS aic,
           ROUND(bic, 6) AS bic,
           ROUND(bic - MIN(bic) OVER (), 6) AS delta_bic,
           -- log10 BF from the ALREADY-ROUNDED delta: exp() would
           -- amplify last-ulp ln differences into hash mismatches
           ROUND(ROUND(bic - MIN(bic) OVER (), 6)
                 / (2 * 2.302585092994046e0), 4) AS log10_bf_vs_best,
           bic = MIN(bic) OVER () AS is_best
    FROM scored ORDER BY model
    """,
)
def model_aic_bic_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIC/BIC ladder over three nested trend models of daily spend —
    constant mean (k=1), linear (k=2), broken stick at day {_BP} (k=4)
    — with delta-BIC and log10 of the exp(dBIC/2) Bayes-factor
    approximation against the winner. The registry fits all three shapes
    (agg_global / agg_linreg / model_segmented_regression) but never
    SCORES them: this is the one-query answer to "is the extra kink
    worth two parameters", penalized so more parameters must earn
    their keep.

    Determinism: every SSE comes from exact 128-bit centered moments
    (the Chow machinery); AIC/BIC are single ln expressions; the
    Bayes factor is reported in log10 from the already-rounded delta
    (a raw exp() would amplify last-ulp ln differences at dBIC ~ 100).

    Scale shape: one grouped moment pass (pooled + both segments in a
    single shuffle), then a 3-row model frame."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") + 0.5).cast("long"))
        .cast("long")
        .alias("y")
    )
    seg = daily.withColumn(
        "grp", F.when(F.col("d") < _BP, 1).otherwise(2)
    )
    pooled = daily.withColumn("grp", F.lit(0))
    both = seg.unionByName(pooled)
    moms = both.groupBy("grp").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("d").cast(_DEC) * F.col("d")).alias("sxx"),
        F.sum(F.col("d").cast(_DEC) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(_DEC) * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    syy_c = (n * F.col("syy") - sy.cast(_DEC) * sy).cast("double")
    sxy_c = (n * F.col("sxy") - sx.cast(_DEC) * sy).cast("double")
    sxx_c = (n * F.col("sxx") - sx.cast(_DEC) * sx).cast("double")
    sses = moms.select(
        "grp",
        "n",
        (syy_c / n).alias("sse_const"),
        ((syy_c - sxy_c * sxy_c / sxx_c) / n).alias("sse_lin"),
    )
    rows = {r["grp"]: r for r in sses.collect()}  # bounded: 3 rows
    nn = rows[0]["n"]
    models = spark.createDataFrame(
        [
            ("broken_stick", 4, rows[1]["sse_lin"] + rows[2]["sse_lin"]),
            ("constant", 1, rows[0]["sse_const"]),
            ("linear", 2, rows[0]["sse_lin"]),
        ],
        ["model", "k", "sse"],
    )
    import math

    aic = nn * F.log(F.col("sse") / nn) + 2 * F.col("k")
    bic = nn * F.log(F.col("sse") / nn) + F.col("k") * math.log(float(nn))
    from pyspark.sql import Window

    w = Window.partitionBy()  # bounded: 3-row model frame
    scored = models.select(
        "model",
        F.col("k").cast("long").alias("k_params"),
        F.round("sse", 4).alias("sse"),
        F.round(aic, 6).alias("aic"),
        F.round(bic, 6).alias("bic"),
        F.round(bic - F.min(bic).over(w), 6).alias("delta_bic"),
        # log10 BF from the ALREADY-ROUNDED delta (exp() would amplify
        # last-ulp ln differences into hash mismatches)
        F.round(
            F.round(bic - F.min(bic).over(w), 6)
            / (2 * 2.302585092994046),
            4,
        ).alias("log10_bf_vs_best"),
        (bic == F.min(bic).over(w)).alias("is_best"),
    )
    return scored.orderBy("model")
