"""Wave-263: causal-path accounting — Baron-Kenny mediation with the
Sobel test (three closed-form OLS fits from one moment pass) on the
discount -> quantity -> revenue chain, and time-decay multi-touch
attribution (the exponential-half-life credit rule that completes the
last-touch / position / Markov / Shapley family).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_mediation_sobel",
    oracle="""
    WITH pts AS (
        SELECT l_discount AS x, CAST(l_quantity AS DOUBLE) AS m,
               l_extendedprice / 1000.0 AS y
        FROM lineitem
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(x) AS mx, AVG(m) AS mm, AVG(y) AS my,
               SUM(x * x) AS sxx, SUM(m * m) AS smm, SUM(y * y) AS syy,
               SUM(x * m) AS sxm, SUM(x * y) AS sxy, SUM(m * y) AS smy
        FROM pts
    ),
    c AS (
        SELECT n,
               sxx - n * mx * mx AS cxx, smm - n * mm * mm AS cmm,
               syy - n * my * my AS cyy, sxm - n * mx * mm AS cxm,
               sxy - n * mx * my AS cxy, smy - n * mm * my AS cmy
        FROM mom
    ),
    fits AS (
        SELECT n, cxx, cmm, cyy, cxm, cxy, cmy,
               cxm / cxx AS a,
               (cmy * cxx - cxy * cxm) / (cxx * cmm - cxm * cxm) AS b,
               (cxy * cmm - cmy * cxm) / (cxx * cmm - cxm * cxm) AS cprime
        FROM c
    ),
    ses AS (
        SELECT n, a, b, cprime,
               (cmm - cxm * cxm / cxx) / (n - 2) / cxx AS var_a,
               ((cyy - cprime * cxy - b * cmy) / (n - 3))
                   * cxx / (cxx * cmm - cxm * cxm) AS var_b
        FROM fits
    )
    SELECT n,
           ROUND(a, 6) AS path_a,
           ROUND(b, 6) AS path_b,
           ROUND(cprime, 6) AS direct_cprime,
           ROUND(a * b, 6) AS indirect_ab,
           ROUND(a * b / SQRT(b * b * var_a + a * a * var_b), 6)
               AS sobel_z,
           ABS(a * b / SQRT(b * b * var_a + a * a * var_b)) > 1.959964
               AS mediation_present
    FROM ses
    """,
)
def model_mediation_sobel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron-Kenny mediation with the Sobel first-order test (Baron &
    Kenny, JPSP 1986; Sobel, Sociological Methodology 1982, public) on
    the discount -> quantity -> revenue chain: path a from the simple
    OLS M ~ X, paths b and c' from the two-regressor OLS Y ~ X + M
    (closed 2x2 solve on centered moments), indirect effect a*b, and
    Sobel z = ab / sqrt(b^2*se_a^2 + a^2*se_b^2) with the textbook
    coefficient variances se_a^2 = sigma_a^2/Sxx and se_b^2 = sigma^2 *
    Sxx/(Sxx*Smm - Sxm^2). The fixture's columns make the chain
    mechanical rather than causal — the op pins the ARITHMETIC every
    mediation analysis runs (stated in-band, per the covariate-balance
    precedent).

    Exactness device: every fit derives from ONE pass of raw moments;
    sigma_a^2 uses the identity SSE_a = Cmm - Cxm^2/Cxx (no residual
    materialization); the flag compares the identical unrounded z.

    Scale shape: one 1-row moment aggregate — three regressions, zero
    extra scans."""
    pts = table(spark, sf_dir, "lineitem").select(
        F.col("l_discount").alias("x"),
        F.col("l_quantity").cast("double").alias("m"),
        (F.col("l_extendedprice") / 1000.0).alias("y"),
    )
    mom = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("m").alias("mm"),
        F.avg("y").alias("my"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("m")).alias("sxm"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("m") * F.col("y")).alias("smy"),
    )
    c = mom.select(
        "n",
        (F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx")).alias("cxx"),
        (F.col("smm") - F.col("n") * F.col("mm") * F.col("mm")).alias("cmm"),
        (F.col("syy") - F.col("n") * F.col("my") * F.col("my")).alias("cyy"),
        (F.col("sxm") - F.col("n") * F.col("mx") * F.col("mm")).alias("cxm"),
        (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")).alias("cxy"),
        (F.col("smy") - F.col("n") * F.col("mm") * F.col("my")).alias("cmy"),
    )
    det = F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm")
    a = F.col("cxm") / F.col("cxx")
    b = (F.col("cmy") * F.col("cxx") - F.col("cxy") * F.col("cxm")) / det
    cp = (F.col("cxy") * F.col("cmm") - F.col("cmy") * F.col("cxm")) / det
    fits = c.select("n", "cxx", "cmm", "cyy", "cxm", "cxy", "cmy",
                    a.alias("a"), b.alias("b"), cp.alias("cprime"))
    var_a = (
        (F.col("cmm") - F.col("cxm") * F.col("cxm") / F.col("cxx"))
        / (F.col("n") - 2)
        / F.col("cxx")
    )
    var_b = (
        (
            F.col("cyy")
            - F.col("cprime") * F.col("cxy")
            - F.col("b") * F.col("cmy")
        )
        / (F.col("n") - 3)
    ) * F.col("cxx") / (
        F.col("cxx") * F.col("cmm") - F.col("cxm") * F.col("cxm")
    )
    z = (F.col("a") * F.col("b")) / F.sqrt(
        F.col("b") * F.col("b") * var_a + F.col("a") * F.col("a") * var_b
    )
    return fits.select(
        "n",
        F.round("a", 6).alias("path_a"),
        F.round("b", 6).alias("path_b"),
        F.round("cprime", 6).alias("direct_cprime"),
        F.round(F.col("a") * F.col("b"), 6).alias("indirect_ab"),
        F.round(z, 6).alias("sobel_z"),
        (F.abs(z) > 1.959964).alias("mediation_present"),
    )


_HL_US = 3 * 86400000000.0  # 3-day half-life
_WIN_US = 7 * 86400000000  # 7-day lookback window
_LN2 = math.log(2.0)


@query(
    "events_attribution_time_decay",
    oracle=f"""
    WITH conv AS (
        SELECT user_id, event_id AS conv_id, epoch_us(ts) AS tc
        FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT user_id, event_id AS touch_id, event_type,
               epoch_us(ts) AS tt
        FROM events WHERE event_type IN ('click', 'view')
    ),
    pairs AS (
        SELECT c.conv_id, t.event_type,
               EXP(-(c.tc - t.tt) * {_LN2!r} / {_HL_US!r}) AS w
        FROM conv c JOIN touch t
          ON t.user_id = c.user_id
         AND t.tt < c.tc AND t.tt >= c.tc - {_WIN_US}
    ),
    norm AS (
        SELECT conv_id, event_type, w,
               SUM(w) OVER (PARTITION BY conv_id) AS z
        FROM pairs
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           ROUND(SUM(w / z), 6) AS credit
    FROM norm GROUP BY event_type
    """,
)
def events_attribution_time_decay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Time-decay multi-touch attribution (the standard exponential
    half-life rule, e.g. the Google Analytics attribution model,
    public): each purchase distributes one unit of credit over the
    user's click/view touches in the preceding 7 days, weighted
     2^(-age/half-life) with a 3-day half-life and normalized per
    conversion — recent touches earn more, every touch earns some.
    Completes the attribution family (last-touch / position / Markov
    removal / Shapley) with the recency-weighted member; total credit
    across rows equals the number of attributed conversions, asserted
    in this wave's test.

    Exactness device: ages are exact integer micro differences; the
    decay is one EXP chain; per-conversion normalization is a window
    sum (exchange shared with the final rollup by conv_id... by
    event_type after — two small shuffles).

    Scale shape: the touch-to-conversion join is user-keyed with a
    time-range predicate (the join_asof family's shape); the per-
    conversion window and the final rollup are both map-side-friendly."""
    e = table(spark, sf_dir, "events")
    conv = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.expr("unix_micros(ts)").alias("tc"),
    )
    touch = e.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("tu"),
        F.col("event_type").alias("etype"),
        F.expr("unix_micros(ts)").alias("tt"),
    )
    pairs = conv.join(
        touch,
        (F.col("tu") == F.col("user_id"))
        & (F.col("tt") < F.col("tc"))
        & (F.col("tt") >= F.col("tc") - _WIN_US),
    ).select(
        "conv_id",
        "etype",
        F.exp(-(F.col("tc") - F.col("tt")) * _LN2 / _HL_US).alias("w"),
    )
    norm = pairs.withColumn(
        "z", F.sum("w").over(Window.partitionBy("conv_id"))
    )
    return norm.groupBy(F.col("etype").alias("event_type")).agg(
        F.count("*").cast("long").alias("n_touches"),
        F.count_distinct("conv_id").cast("long").alias("n_conversions"),
        F.round(F.sum(F.col("w") / F.col("z")), 6).alias("credit"),
    )
