"""Wave-149: Chao1 unseen-vocabulary estimation with Good-Turing mass,
and Taylor's power law across event types.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "text_chao1_good_turing",
    oracle="""
    WITH tf AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
        GROUP BY tok
    ),
    fof AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS n_c FROM tf GROUP BY c
    ),
    s AS (
        SELECT CAST(SUM(n_c) AS BIGINT) AS observed,
               CAST(SUM(c * n_c) AS BIGINT) AS n_tokens,
               CAST(COALESCE(SUM(CASE WHEN c = 1 THEN n_c END), 0) AS BIGINT)
                   AS f1,
               CAST(COALESCE(SUM(CASE WHEN c = 2 THEN n_c END), 0) AS BIGINT)
                   AS f2
        FROM fof
    )
    SELECT observed, n_tokens, f1, f2,
           ROUND(observed + f1 * f1 * 1e0 / (2 * (f2 + 1))
                 - f1 * f2 * 1e0 / (2 * (f2 + 1) * (f2 + 1)), 4)
               AS chao1_bias_corrected,
           ROUND(f1 * 1e0 / n_tokens, 6) AS gt_unseen_mass
    FROM s
    """,
)
def text_chao1_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unseen-vocabulary estimation: Chao1 bias-corrected richness (Chao
    1984/1987, public) S + f1²/(2(f2+1)) − f1·f2/(2(f2+1)²) from the
    singleton/doubleton counts, plus the Good-Turing unseen-probability
    mass f1/N (Good 1953) — what fraction of the NEXT token draw will be
    a never-seen type. The estimate that tells a crawler whether the
    corpus's vocabulary is near-exhausted or barely sampled.

    Determinism: the frequency-of-frequencies table is exact integers;
    both estimators are one rounded chain.

    Scale shape: token counts collapse map-side; the
    frequency-of-frequencies aggregate is a second tiny groupBy — two
    shuffles total, both on uniform keys."""
    tf = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    fof = tf.groupBy("c").agg(F.count("*").cast("long").alias("n_c"))
    s = fof.agg(
        F.sum("n_c").cast("long").alias("observed"),
        F.sum(F.col("c") * F.col("n_c")).cast("long").alias("n_tokens"),
        F.coalesce(F.sum(F.when(F.col("c") == 1, F.col("n_c"))), F.lit(0))
        .cast("long")
        .alias("f1"),
        F.coalesce(F.sum(F.when(F.col("c") == 2, F.col("n_c"))), F.lit(0))
        .cast("long")
        .alias("f2"),
    )
    return s.select(
        "observed",
        "n_tokens",
        "f1",
        "f2",
        F.round(
            F.col("observed")
            + F.col("f1") * F.col("f1") * F.lit(1.0) / (2 * (F.col("f2") + 1))
            - F.col("f1")
            * F.col("f2")
            * F.lit(1.0)
            / (2 * (F.col("f2") + 1) * (F.col("f2") + 1)),
            4,
        ).alias("chao1_bias_corrected"),
        F.round(F.col("f1") * F.lit(1.0) / F.col("n_tokens"), 6).alias(
            "gt_unseen_mass"
        ),
    )


@query(
    "agg_taylor_power_law",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, day
    ),
    mv AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(x * x) AS BIGINT) AS q
        FROM daily GROUP BY event_type
    ),
    lp AS (
        SELECT event_type,
               LN(s * 1e0 / n) AS lm,
               LN((q - CAST(s AS DOUBLE) * s / n) / (n - 1)) AS lv
        FROM mv
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               SUM(lm) AS sx, SUM(lv) AS sy,
               SUM(lm * lm) AS sxx, SUM(lm * lv) AS sxy
        FROM lp
    )
    SELECT k,
           ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6) AS taylor_b,
           ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 6)
               AS taylor_ln_a
    FROM fit
    """,
)
def agg_taylor_power_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law (Taylor, Nature 1961, public): across event
    types, daily-count variance scales as a·mean^b; the slope b of the
    log-variance ~ log-mean OLS distinguishes Poisson-like arrivals
    (b≈1) from aggregated/bursty ones (b≈2) — one scalar that
    characterizes the fleet's burstiness regime, complementing the
    per-series burst detectors.

    Determinism: per-type moments are exact integers; the two logs and
    the closed-form OLS are one double chain over k=5 points.

    Scale shape: daily collapse map-side; the fit runs on k rows."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    mv = daily.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    lp = mv.select(
        F.log(F.col("s") * F.lit(1.0) / F.col("n")).alias("lm"),
        F.log(
            (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("lv"),
    )
    fit = lp.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("lm").alias("sx"),
        F.sum("lv").alias("sy"),
        F.sum(F.col("lm") * F.col("lm")).alias("sxx"),
        F.sum(F.col("lm") * F.col("lv")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        "k",
        F.round(slope, 6).alias("taylor_b"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6).alias(
            "taylor_ln_a"
        ),
    )
