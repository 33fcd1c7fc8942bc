"""Wave-259: online learning and agreement — the Hedge / multiplicative-
weights forecaster replayed in CLOSED FORM over the daily series with
its regret bound checked in-band, and Gwet's AC1 agreement coefficient
(the paradox-resistant alternative to Cohen's kappa, on the same two
heuristic raters as pipeline_cohens_kappa, wave72.py:20).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_ETA = 0.5
_LOSS_SCALE = 400.0  # squared-error clamp scale -> losses in [0, 1]


@query(
    "opt_hedge_regret",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    preds AS (
        SELECT day, y,
               LAG(y, 1) OVER (ORDER BY day) AS e1,
               LAG(y, 7) OVER (ORDER BY day) AS e2,
               AVG(y) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS e3
        FROM daily
    ),
    losses AS (
        SELECT day, y,
               LEAST(1.0, (e1 - y) * (e1 - y) / {_LOSS_SCALE!r}) AS l1,
               LEAST(1.0, (e2 - y) * (e2 - y) / {_LOSS_SCALE!r}) AS l2,
               LEAST(1.0, (e3 - y) * (e3 - y) / {_LOSS_SCALE!r}) AS l3
        FROM preds WHERE e2 IS NOT NULL
    ),
    cums AS (
        SELECT day, l1, l2, l3,
               COALESCE(SUM(l1) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS c1,
               COALESCE(SUM(l2) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS c2,
               COALESCE(SUM(l3) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS c3
        FROM losses
    ),
    algo AS (
        SELECT day, l1, l2, l3,
               (EXP(-{_ETA!r} * c1) * l1 + EXP(-{_ETA!r} * c2) * l2
                + EXP(-{_ETA!r} * c3) * l3)
               / (EXP(-{_ETA!r} * c1) + EXP(-{_ETA!r} * c2)
                  + EXP(-{_ETA!r} * c3)) AS la
        FROM cums
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS t_rounds,
           ROUND(SUM(l1), 6) AS loss_persistence,
           ROUND(SUM(l2), 6) AS loss_seasonal,
           ROUND(SUM(l3), 6) AS loss_mean,
           ROUND(SUM(la), 6) AS loss_hedge,
           ROUND(SUM(la) - LEAST(SUM(l1), SUM(l2), SUM(l3)), 6) AS regret,
           ROUND(LN(3.0) / {_ETA!r} + {_ETA!r} * COUNT(*) / 8.0, 6)
               AS regret_bound,
           SUM(la) - LEAST(SUM(l1), SUM(l2), SUM(l3))
               <= LN(3.0) / {_ETA!r} + {_ETA!r} * COUNT(*) / 8.0
               AS bound_holds
    FROM algo
    """,
)
def opt_hedge_regret(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hedge / multiplicative-weights forecaster (Littlestone &
    Warmuth 1994; Freund & Schapire, JCSS 1997, public) replayed over
    the daily mean-value series against three experts — persistence
    (yesterday), seasonal (a week ago), and the expanding mean — with
    clamped squared-error losses in [0,1] and eta = 0.5. The key
    identity that makes this a PURE WINDOW computation: Hedge's weight
    at round t is softmax of the CUMULATIVE past loss, w_e,t = exp(-eta
    * L_{{e,t-1}}) / Z_t — no sequential state, just exclusive prefix
    sums. The emitted regret vs the best single expert is checked
    against the textbook bound ln(K)/eta + eta*T/8 in-band.

    Exactness device: every weight is one exp of an ordered prefix sum
    (sequential accumulation, same order both engines); the bound flag
    compares identical unrounded chains.

    Scale shape: daily rollup + four windows over the bounded day frame
    — online learning replay as three aggregates; per-slice ensembles
    just add the slice key."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    w = Window.orderBy("day")
    wmean = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    preds = daily.select(
        "day",
        "y",
        F.lag("y", 1).over(w).alias("e1"),
        F.lag("y", 7).over(w).alias("e2"),
        F.avg("y").over(wmean).alias("e3"),
    )
    def loss(e):
        return F.least(
            F.lit(1.0), (F.col(e) - F.col("y")) * (F.col(e) - F.col("y")) / _LOSS_SCALE
        )

    losses = preds.where(F.col("e2").isNotNull()).select(
        "day",
        loss("e1").alias("l1"),
        loss("e2").alias("l2"),
        loss("e3").alias("l3"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    cums = losses.select(
        "day",
        "l1",
        "l2",
        "l3",
        F.coalesce(F.sum("l1").over(wcum), F.lit(0.0)).alias("c1"),
        F.coalesce(F.sum("l2").over(wcum), F.lit(0.0)).alias("c2"),
        F.coalesce(F.sum("l3").over(wcum), F.lit(0.0)).alias("c3"),
    )
    w1, w2, w3 = (F.exp(-_ETA * F.col(c)) for c in ("c1", "c2", "c3"))
    algo = cums.select(
        "l1",
        "l2",
        "l3",
        (
            (w1 * F.col("l1") + w2 * F.col("l2") + w3 * F.col("l3"))
            / (w1 + w2 + w3)
        ).alias("la"),
    )
    best = F.least(F.sum("l1"), F.sum("l2"), F.sum("l3"))
    bound = math.log(3.0) / _ETA + _ETA * F.count("*") / 8.0
    return algo.agg(
        F.count("*").cast("long").alias("t_rounds"),
        F.round(F.sum("l1"), 6).alias("loss_persistence"),
        F.round(F.sum("l2"), 6).alias("loss_seasonal"),
        F.round(F.sum("l3"), 6).alias("loss_mean"),
        F.round(F.sum("la"), 6).alias("loss_hedge"),
        F.round(F.sum("la") - best, 6).alias("regret"),
        F.round(bound, 6).alias("regret_bound"),
        (F.sum("la") - best <= bound).alias("bound_holds"),
    )


@query(
    "agg_gwets_ac1",
    oracle="""
    WITH rated AS (
        SELECT CASE WHEN LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) * 2
                         >= LEN(STRING_SPLIT(text, ' ')) THEN 1 ELSE 0 END
                   AS ra,
               CASE WHEN LEN(STRING_SPLIT(text, ' ')) >= 50 THEN 1 ELSE 0
                   END AS rb
        FROM documents
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CASE WHEN ra = rb THEN 1.0 ELSE 0 END) / COUNT(*) AS pa,
               (SUM(ra) * 1.0 / COUNT(*)
                + SUM(rb) * 1.0 / COUNT(*)) / 2 AS pi1
        FROM rated
    )
    SELECT n,
           ROUND(pa, 6) AS observed_agreement,
           ROUND(2 * pi1 * (1 - pi1), 6) AS chance_agreement_ac1,
           ROUND((pa - 2 * pi1 * (1 - pi1)) / (1 - 2 * pi1 * (1 - pi1)), 6)
               AS gwets_ac1
    FROM m
    """,
)
def agg_gwets_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gwet's AC1 agreement coefficient (Gwet, BJMSP 2008, public) for
    the same two heuristic raters as pipeline_cohens_kappa (lexical-
    diversity rater vs length rater): chance agreement is modeled as
    2*pi*(1-pi) with pi the MEAN of the raters' marginal prevalences —
    which stays bounded away from 1 when both raters agree that one
    class dominates, fixing the "kappa paradox" (high observed
    agreement, near-zero kappa) that makes kappa useless on skewed
    labeling tasks. Reporting both (this op next to wave72's kappa)
    is the methodologists' recommendation.

    Exactness device: the rater CASEs are wave72's verbatim; three
    rounded rational chains from one aggregate.

    Scale shape: one pass, one 1-row aggregate."""
    d = table(spark, sf_dir, "documents")
    ra = (
        F.size(F.array_distinct(F.split("text", " "))) * 2
        >= F.size(F.split("text", " "))
    ).cast("int")
    rb = (F.size(F.split("text", " ")) >= 50).cast("int")
    rated = d.select(ra.alias("ra"), rb.alias("rb"))
    m = rated.agg(
        F.count("*").cast("long").alias("n"),
        (
            F.sum(F.when(F.col("ra") == F.col("rb"), 1.0).otherwise(0))
            / F.count("*")
        ).alias("pa"),
        (
            (
                F.sum("ra") * 1.0 / F.count("*")
                + F.sum("rb") * 1.0 / F.count("*")
            )
            / 2
        ).alias("pi1"),
    )
    pe = 2 * F.col("pi1") * (1 - F.col("pi1"))
    return m.select(
        "n",
        F.round("pa", 6).alias("observed_agreement"),
        F.round(pe, 6).alias("chance_agreement_ac1"),
        F.round((F.col("pa") - pe) / (1 - pe), 6).alias("gwets_ac1"),
    )
