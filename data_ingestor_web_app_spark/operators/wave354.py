"""Wave-354: the ROC convex hull with the cost-optimal operating
point (Provost & Fawcett, Machine Learning 2001).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_THRESHOLDS = list(range(20, 241, 20))  # 12 literal score cuts
_C_FP, _C_FN = 1, 5  # literal cost ratio for the operating point


@query(
    "model_roc_convex_hull",
    oracle=f"""
    WITH thr AS (
        SELECT UNNEST([{",".join(str(t) for t in _THRESHOLDS)}]) AS thr
    ),
    u AS (
        SELECT value AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events
    ),
    marg AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(1 - pos) AS BIGINT) AS neg
        FROM u
    ),
    pts AS (
        SELECT t.thr,
               CAST(SUM(CASE WHEN u.s >= t.thr AND u.pos = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN u.s >= t.thr AND u.pos = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp
        FROM u CROSS JOIN thr t GROUP BY t.thr
    ),
    marg1 AS (SELECT p, neg FROM marg),
    allpts AS (
        SELECT CAST(-1 AS BIGINT) AS thr, CAST(0 AS BIGINT) AS tp,
               CAST(0 AS BIGINT) AS fp FROM marg1
        UNION ALL
        SELECT CAST(10000 AS BIGINT), p, neg FROM marg1
        UNION ALL
        SELECT thr, tp, fp FROM pts
    ),
    below AS (
        SELECT k.thr,
               CAST(SUM(CASE WHEN i.fp <= k.fp AND k.fp <= j.fp
                             AND (i.fp <> k.fp OR i.tp <> k.tp)
                             AND (j.fp <> k.fp OR j.tp <> k.tp)
                             AND (k.tp - i.tp) * (j.fp - i.fp)
                                 < (j.tp - i.tp) * (k.fp - i.fp)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_dominating
        FROM allpts k CROSS JOIN allpts i CROSS JOIN allpts j
        WHERE i.fp < j.fp
        GROUP BY k.thr
    ),
    cost AS (
        SELECT pts.thr,
               {_C_FP} * pts.fp + {_C_FN} * (m.p - pts.tp) AS c
        FROM pts CROSS JOIN marg1 m
    ),
    best AS (SELECT MIN(c) AS cmin FROM cost),
    bestthr AS (
        SELECT MIN(cost.thr) AS bthr FROM cost, best
        WHERE cost.c = best.cmin
    )
    SELECT pts.thr AS threshold, pts.tp, pts.fp,
           ROUND(CAST(pts.tp AS DOUBLE) / m.p, 6) AS tpr,
           ROUND(CAST(pts.fp AS DOUBLE) / m.neg, 6) AS fpr,
           b.n_dominating = 0 AS on_hull,
           pts.thr = (SELECT bthr FROM bestthr) AS cost_optimal,
           CAST({_C_FP} * pts.fp + {_C_FN} * (m.p - pts.tp) AS BIGINT)
               AS expected_cost
    FROM pts
    JOIN below b ON b.thr = pts.thr
    CROSS JOIN marg1 m
    ORDER BY pts.thr
    """,
)
def model_roc_convex_hull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROC convex hull (Provost & Fawcett, ML 2001): score =
    value, positive = purchase, 12 literal thresholds. A threshold is
    ON the hull iff no segment between two other ROC points (corners
    (0,0) and (P,N) included) passes strictly above it — tested in
    exact integer (fp, tp) space by cross-multiplication, so no float
    ever decides hull membership. The cost-optimal operating point
    minimizes {_C_FP}·FP + {_C_FN}·FN (Provost-Fawcett iso-performance
    tangency): expected cost is linear in (fp, tp), so the hull
    vertices (corners included) are never beaten by any threshold —
    the paper's theorem, pinned in pytest in its discrete form.

    Determinism: tp/fp are exact counts; hull and cost comparisons
    are pure integer; only the display TPR/FPR divide, rounded 6dp.

    Scale shape: one 12× threshold fan-out + groupBy over the scan
    (linear), then a 14³ bounded triple join on the point frame."""
    thr = spark.createDataFrame(
        [(t,) for t in _THRESHOLDS], "thr long"
    )
    u = table(spark, sf_dir, "events").select(
        F.col("value").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    marg = u.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum(1 - F.col("pos")).cast("long").alias("neg"),
    )
    pts = (
        u.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(
                F.when((F.col("s") >= F.col("thr")) & (F.col("pos") == 1), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when((F.col("s") >= F.col("thr")) & (F.col("pos") == 0), 1)
                .otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
        .cache()
    )
    corners = marg.select(
        F.lit(-1).cast("long").alias("thr"),
        F.lit(0).cast("long").alias("tp"),
        F.lit(0).cast("long").alias("fp"),
    ).unionAll(
        marg.select(
            F.lit(10000).cast("long").alias("thr"),
            F.col("p").alias("tp"),
            F.col("neg").alias("fp"),
        )
    )
    allpts = pts.select("thr", "tp", "fp").unionAll(corners).cache()
    k = allpts.select(
        F.col("thr").alias("kthr"), F.col("tp").alias("ktp"), F.col("fp").alias("kfp")
    )
    i = allpts.select(
        F.col("thr").alias("ithr"), F.col("tp").alias("itp"), F.col("fp").alias("ifp")
    )
    j = allpts.select(
        F.col("thr").alias("jthr"), F.col("tp").alias("jtp"), F.col("fp").alias("jfp")
    )
    dominated = (
        (F.col("ifp") <= F.col("kfp"))
        & (F.col("kfp") <= F.col("jfp"))
        & ((F.col("ifp") != F.col("kfp")) | (F.col("itp") != F.col("ktp")))
        & ((F.col("jfp") != F.col("kfp")) | (F.col("jtp") != F.col("ktp")))
        & (
            (F.col("ktp") - F.col("itp")) * (F.col("jfp") - F.col("ifp"))
            < (F.col("jtp") - F.col("itp")) * (F.col("kfp") - F.col("ifp"))
        )
    )
    below = (
        k.crossJoin(i)
        .crossJoin(j)
        .where(F.col("ifp") < F.col("jfp"))
        .groupBy("kthr")
        .agg(
            F.sum(F.when(dominated, 1).otherwise(0))
            .cast("long")
            .alias("n_dominating")
        )
    )
    cost = pts.crossJoin(F.broadcast(marg)).select(
        "thr",
        "tp",
        "fp",
        "p",
        "neg",
        (_C_FP * F.col("fp") + _C_FN * (F.col("p") - F.col("tp"))).alias("c"),
    )
    best = cost.agg(F.min("c").alias("cmin"))
    bthr = (
        cost.crossJoin(F.broadcast(best))
        .where(F.col("c") == F.col("cmin"))
        .agg(F.min("thr").alias("bthr"))
    )
    return (
        cost.join(below, cost.thr == below.kthr)
        .crossJoin(F.broadcast(bthr))
        .select(
            F.col("thr").alias("threshold"),
            "tp",
            "fp",
            F.round(F.col("tp").cast("double") / F.col("p"), 6).alias("tpr"),
            F.round(F.col("fp").cast("double") / F.col("neg"), 6).alias(
                "fpr"
            ),
            (F.col("n_dominating") == 0).alias("on_hull"),
            (F.col("thr") == F.col("bthr")).alias("cost_optimal"),
            F.col("c").cast("long").alias("expected_cost"),
        )
        .orderBy("threshold")
    )
