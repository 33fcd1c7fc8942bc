"""Wave-292: Nigrini's MAD conformity verdict for Benford screening
(the bands auditors actually quote) and the CAP / accuracy-ratio curve
with the AR = 2*AUC - 1 identity asserted in-band.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_BENFORD1 = [math.log10(1 + 1.0 / d) for d in range(1, 10)]
_B1_SQL = "[" + ",".join(repr(p) for p in _BENFORD1) + "]"
_B1_SPARK = "array(" + ",".join(f"{p!r}D" for p in _BENFORD1) + ")"


@query(
    "model_benford_mad",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(SUBSTR(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS d1
        FROM orders WHERE o_totalprice > 0
    ),
    obs AS (
        SELECT d1, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM obs),
    dev AS (
        SELECT d.d AS d1,
               ABS(COALESCE(o.n, 0) / CAST(t.t AS DOUBLE)
                   - ({_B1_SQL})[d.d]) AS ad
        FROM (SELECT UNNEST(RANGE(1, 10)) AS d) d
        LEFT JOIN obs o ON o.d1 = d.d
        CROSS JOIN tot t
    ),
    mad AS (SELECT AVG(ad) AS mad FROM dev)
    SELECT (SELECT t FROM tot) AS n_values,
           ROUND(mad, 6) AS mad,
           CASE WHEN mad <= 0.006 THEN 'close'
                WHEN mad <= 0.012 THEN 'acceptable'
                WHEN mad <= 0.015 THEN 'marginal'
                ELSE 'nonconforming' END AS nigrini_verdict
    FROM mad
    """,
)
def model_benford_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nigrini's MAD conformity verdict for first-digit Benford
    screening (Nigrini, Benford's Law, Wiley 2012, public): the mean
    absolute deviation between observed and Benford first-digit
    proportions, bucketed into the practitioner bands (<= 0.006 close
    conformity, <= 0.012 acceptable, <= 0.015 marginally acceptable,
    else nonconforming). agg_benford emits the per-digit table and a
    chi-square — which rejects EVERYTHING at audit-scale n; MAD is the
    effect-size verdict Nigrini introduced precisely because of that,
    and the one auditors quote.

    Exactness device: digit counts are integers; the Benford table is
    a driver-computed literal (wave-233 discipline); MAD is one
    average of nine exact chains; the verdict CASE compares the
    identical unrounded MAD.

    Scale shape: one digit rollup + 9-row arithmetic."""
    digits = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.round(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("d1")
        )
    )
    obs = digits.groupBy("d1").agg(F.count("*").cast("long").alias("n"))
    tot = obs.agg(F.sum("n").cast("long").alias("t"))
    dom = digits.sparkSession.range(1, 10).select(F.col("id").alias("d"))
    dev = (
        dom.join(obs, dom.d == obs.d1, "left_outer")
        .crossJoin(F.broadcast(tot))
        .select(
            F.abs(
                F.coalesce("n", F.lit(0)) / F.col("t").cast("double")
                - F.element_at(F.expr(_B1_SPARK), F.col("d").cast("int"))
            ).alias("ad")
        )
    )
    mad = dev.agg(F.avg("ad").alias("mad"))
    return mad.crossJoin(F.broadcast(tot)).select(
        F.col("t").alias("n_values"),
        F.round("mad", 6).alias("mad"),
        F.when(F.col("mad") <= 0.006, "close")
        .when(F.col("mad") <= 0.012, "acceptable")
        .when(F.col("mad") <= 0.015, "marginal")
        .otherwise("nonconforming")
        .alias("nigrini_verdict"),
    )


@query(
    "model_cap_accuracy_ratio",
    oracle="""
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS s
        FROM orders
    ),
    byval AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM scored GROUP BY s
    ),
    cum AS (
        SELECT s, cnt, pos,
               SUM(cnt) OVER (ORDER BY s) - cnt AS bef,
               SUM(pos) OVER (ORDER BY s) - pos AS bef_pos
        FROM byval
    ),
    tots AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS np
        FROM byval
    ),
    -- AUC by the midrank formula: (sum of positive midranks - np(np+1)/2)
    -- / (np * nn)
    ranks AS (
        SELECT SUM(pos * (bef + (cnt + 1) / 2.0)) AS rpos
        FROM cum
    )
    SELECT t.n, t.np,
           ROUND((r.rpos - t.np * (t.np + 1) / 2.0)
                 / (CAST(t.np AS DOUBLE) * (t.n - t.np)), 6) AS auc_rank,
           ROUND(2 * ((r.rpos - t.np * (t.np + 1) / 2.0)
                      / (CAST(t.np AS DOUBLE) * (t.n - t.np))) - 1, 6)
               AS accuracy_ratio
    FROM tots t CROSS JOIN ranks r
    """,
)
def model_cap_accuracy_ratio(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CAP accuracy ratio (Cumulative Accuracy Profile / Gini
    coefficient of a scorer; Engelmann, Hayden & Tasche, Bundesbank
    2003, public): AR = 2*AUC - 1 — the identity connecting the credit-
    scoring CAP curve to the ROC area, with AUC computed by the exact
    midrank (Mann-Whitney) formula on the score's distinct-value frame
    (the wave30/wave239 device — scores are exact integer cents, ties
    handled by midranks). AR is how rating-model validation reports
    discrimination; the test cross-checks the engine's value against
    model_auc_roc's construction on the same scorer.

    Exactness device: integer score groups, midrank prefix sums,
    two rounded chains.

    Scale shape: one distinct-score rollup + one prefix window on the
    bounded score frame + one aggregate."""
    scored = table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("s"),
    )
    byval = scored.groupBy("s").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    cum = byval.select(
        "s",
        "cnt",
        "pos",
        (F.sum("cnt").over(w) - F.col("cnt")).alias("bef"),
    )
    tots = byval.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("np"),
    )
    ranks = cum.agg(
        F.sum(
            F.col("pos") * (F.col("bef") + (F.col("cnt") + 1) / 2.0)
        ).alias("rpos")
    )
    auc = (
        F.col("rpos") - F.col("np") * (F.col("np") + 1) / 2.0
    ) / (F.col("np").cast("double") * (F.col("n") - F.col("np")))
    return tots.crossJoin(F.broadcast(ranks)).select(
        "n",
        "np",
        F.round(auc, 6).alias("auc_rank"),
        F.round(2 * auc - 1, 6).alias("accuracy_ratio"),
    )
