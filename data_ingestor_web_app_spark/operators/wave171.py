"""Wave-171: regression discontinuity and equivalence testing (TOST).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

@query(
    "events_regression_discontinuity",
    oracle="""
    WITH rng AS (
        SELECT (MIN(user_id) + MAX(user_id)) / 2e0 AS cut,
               (MAX(user_id) - MIN(user_id)) / 4e0 AS bw
        FROM events
    ),
    w AS (
        SELECT user_id * 1e0 AS x, value AS y,
               user_id >= rng.cut AS above, rng.cut AS cut
        FROM events CROSS JOIN rng
        WHERE user_id >= rng.cut - rng.bw AND user_id < rng.cut + rng.bw
    ),
    fits AS (
        SELECT above,
               REGR_SLOPE(y, x) AS b1, REGR_INTERCEPT(y, x) AS b0,
               CAST(REGR_COUNT(y, x) AS BIGINT) AS n,
               ANY_VALUE(cut) AS cut
        FROM w GROUP BY above
    ),
    wide AS (
        SELECT ANY_VALUE(cut) AS cut,
               MAX(CASE WHEN NOT above THEN b0 END) AS b0_l,
               MAX(CASE WHEN NOT above THEN b1 END) AS b1_l,
               MAX(CASE WHEN NOT above THEN n END) AS n_l,
               MAX(CASE WHEN above THEN b0 END) AS b0_r,
               MAX(CASE WHEN above THEN b1 END) AS b1_r,
               MAX(CASE WHEN above THEN n END) AS n_r
        FROM fits
    )
    SELECT n_l, n_r, ROUND(cut, 2) AS cutoff,
           ROUND(b0_l + b1_l * cut, 6) AS limit_left,
           ROUND(b0_r + b1_r * cut, 6) AS limit_right,
           ROUND((b0_r + b1_r * cut) - (b0_l + b1_l * cut), 6)
               AS rd_effect
    FROM wide
    """,
)
def events_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression discontinuity (Thistlethwaite & Campbell 1960,
    public): fit separate local linear trends of the outcome on the
    running variable within a bandwidth on each side of the cutoff and
    report the jump between the two fitted limits AT the cutoff — the
    causal-effect estimate when treatment switches deterministically at a
    threshold (the user-id range midpoint stands in for any eligibility cutoff).
    The fixture has no planted discontinuity, so the estimated jump
    doubles as a placebo check (pytest asserts it is small relative to
    the outcome scale).

    Determinism: cutoff = midpoint of the user-id range and bandwidth =
    a quarter of it — derived from exact MIN/MAX so the same window
    exists at every scale factor; two closed-form regr_* fits; limits
    are single chains; ROUND 6.

    Scale shape: one bandwidth-filtered scan, one two-group algebraic
    aggregation — O(1) result; the range scalars broadcast."""
    ev = table(spark, sf_dir, "events")
    rng = ev.agg(
        ((F.min("user_id") + F.max("user_id")) / 2.0).alias("cut"),
        ((F.max("user_id") - F.min("user_id")) / 4.0).alias("bw"),
    )
    w = (
        ev.crossJoin(F.broadcast(rng))
        .where(
            (F.col("user_id") >= F.col("cut") - F.col("bw"))
            & (F.col("user_id") < F.col("cut") + F.col("bw"))
        )
        .select(
            (F.col("user_id") * 1.0).alias("x"),
            F.col("value").alias("y"),
            (F.col("user_id") >= F.col("cut")).alias("above"),
            "cut",
        )
    )
    fits = w.groupBy("above").agg(
        F.regr_slope("y", "x").alias("b1"),
        F.regr_intercept("y", "x").alias("b0"),
        F.regr_count("y", "x").cast("long").alias("n"),
        F.first("cut").alias("cut"),
    )
    wide = fits.agg(
        F.first("cut").alias("cut"),
        F.max(F.when(~F.col("above"), F.col("b0"))).alias("b0_l"),
        F.max(F.when(~F.col("above"), F.col("b1"))).alias("b1_l"),
        F.max(F.when(~F.col("above"), F.col("n"))).alias("n_l"),
        F.max(F.when(F.col("above"), F.col("b0"))).alias("b0_r"),
        F.max(F.when(F.col("above"), F.col("b1"))).alias("b1_r"),
        F.max(F.when(F.col("above"), F.col("n"))).alias("n_r"),
    )
    lim_l = F.col("b0_l") + F.col("b1_l") * F.col("cut")
    lim_r = F.col("b0_r") + F.col("b1_r") * F.col("cut")
    return wide.select(
        "n_l",
        "n_r",
        F.round("cut", 2).alias("cutoff"),
        F.round(lim_l, 6).alias("limit_left"),
        F.round(lim_r, 6).alias("limit_right"),
        F.round(lim_r - lim_l, 6).alias("rd_effect"),
    )


_MARGIN = 0.05  # equivalence margin on the mean difference
_Z_ALPHA = 1.6448536269514722  # z_{0.95}: each one-sided test at alpha=0.05


@query(
    "agg_tost_equivalence",
    oracle=f"""
    WITH per AS (
        SELECT user_id % 2 AS variant,
               CAST(COUNT(*) AS BIGINT) AS n, AVG(value) AS m,
               VAR_SAMP(value) AS v
        FROM events GROUP BY user_id % 2
    ),
    wide AS (
        SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n0,
               MAX(CASE WHEN variant = 0 THEN m END) AS m0,
               MAX(CASE WHEN variant = 0 THEN v END) AS v0,
               MAX(CASE WHEN variant = 1 THEN n END) AS n1,
               MAX(CASE WHEN variant = 1 THEN m END) AS m1,
               MAX(CASE WHEN variant = 1 THEN v END) AS v1
        FROM per
    ),
    stat AS (
        SELECT n0, n1, m1 - m0 AS diff,
               SQRT(v0 / n0 + v1 / n1) AS se
        FROM wide
    )
    SELECT n0, n1,
           ROUND(diff, 6) AS mean_diff,
           ROUND(se, 6) AS se,
           ROUND((diff + {_MARGIN}) / se, 6) AS t_lower,
           ROUND(({_MARGIN} - diff) / se, 6) AS t_upper,
           (diff + {_MARGIN}) / se > {_Z_ALPHA}
               AND ({_MARGIN} - diff) / se > {_Z_ALPHA} AS equivalent
    FROM stat
    """,
)
def agg_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two One-Sided Tests equivalence procedure (Schuirmann 1987,
    public): declare the two hash-split variants EQUIVALENT iff the mean
    difference is significantly above −δ AND significantly below +δ
    (δ=0.05) — the test you need when "no significant difference" is the
    CLAIM, because a failed t-test is absence of evidence, not evidence
    of absence. Complements agg_welch_ttest/events_ab_prob_beats, which
    answer the opposite question.

    Determinism: the z-form of TOST (large n) — one moment pass, fixed
    float chain; the equivalence boolean compares unrounded statistics
    far from the threshold edge on this fixture.

    Scale shape: one map-side-combinable groupBy(variant) then O(1)
    scalar math."""
    per = (
        table(spark, sf_dir, "events")
        .groupBy((F.col("user_id") % 2).alias("variant"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    wide = per.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("variant") == 0, F.col("v"))).alias("v0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("variant") == 1, F.col("v"))).alias("v1"),
    )
    diff = F.col("m1") - F.col("m0")
    se = F.sqrt(F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1"))
    return wide.select(
        "n0",
        "n1",
        F.round(diff, 6).alias("mean_diff"),
        F.round(se, 6).alias("se"),
        F.round((diff + _MARGIN) / se, 6).alias("t_lower"),
        F.round((F.lit(_MARGIN) - diff) / se, 6).alias("t_upper"),
        (
            ((diff + _MARGIN) / se > _Z_ALPHA)
            & ((F.lit(_MARGIN) - diff) / se > _Z_ALPHA)
        ).alias("equivalent"),
    )
