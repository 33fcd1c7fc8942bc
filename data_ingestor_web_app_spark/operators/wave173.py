"""Wave-173: classifier evaluation and ordinal association — MCC/F1
suite, precision-recall curve with average precision, and Somers' D.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# The evaluated heuristic: "a high-value event is a purchase" — predict
# event_type = 'purchase' whenever value exceeds the global 75th
# percentile of milli-quantized values (exact integer threshold, so both
# engines draw the identical decision boundary).
_TRUTH = "event_type = 'purchase'"


@query(
    "model_mcc_score",
    oracle=f"""
    WITH mv AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS s, {_TRUTH} AS y
        FROM events
    ),
    thr AS (
        SELECT MAX(CASE WHEN rk <= CEIL(0.75 * n) THEN s END) AS t FROM (
            SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS rk,
                   COUNT(*) OVER () AS n
            FROM mv) r
    ),
    cm AS (
        SELECT CAST(SUM(CASE WHEN s > t AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN s > t AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN s <= t AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
               CAST(SUM(CASE WHEN s <= t AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM mv CROSS JOIN thr
    )
    SELECT tp, fp, fn, tn,
           ROUND((tp * tn - fp * fn) * 1e0
                 / SQRT(CAST((tp + fp) AS DOUBLE) * (tp + fn)
                        * (tn + fp) * (tn + fn)), 6) AS mcc,
           ROUND(2e0 * tp / (2 * tp + fp + fn), 6) AS f1,
           ROUND((tp * 1e0 / (tp + fn) + tn * 1e0 / (tn + fp)) / 2, 6)
               AS balanced_accuracy
    FROM cm
    """,
)
def model_mcc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient (Matthews 1975, public) plus F1
    and balanced accuracy for the value→purchase heuristic: MCC =
    (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) — the single
    confusion-matrix number that stays honest under class imbalance,
    where accuracy and even F1 flatter a majority-class guesser. The
    decision threshold is the exact 75th-percentile milli-value (rank
    ceil(0.75n) of the sorted integers — identical in both engines).

    Determinism: integer confusion counts; three short float chains,
    ROUND 6.

    Scale shape (r8 rework, VERDICT r7 item 4): the threshold is the
    rank-ceil(0.75n) order statistic selected from the distinct-value
    cumulative-count frame (histogram inversion — the global window's
    input is an Aggregate, never raw rows), then one confusion
    aggregation."""
    mv = table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 1000).cast("long").alias("s"),
        F.expr(_TRUTH).alias("y"),
    )
    vals = mv.groupBy("s").agg(F.count("*").cast("long").alias("k"))
    wv = Window.orderBy("s")
    cum = vals.select(
        "s",
        (F.sum("k").over(wv) - F.col("k")).alias("below"),
        F.sum("k").over(wv).alias("upto"),
        F.sum("k").over(Window.partitionBy()).alias("n"),
    )
    r = F.ceil(0.75 * F.col("n"))
    thr = cum.agg(
        F.min(
            F.when((F.col("below") < r) & (r <= F.col("upto")), F.col("s"))
        ).alias("t")
    )
    cm = mv.crossJoin(F.broadcast(thr)).agg(
        F.sum(((F.col("s") > F.col("t")) & F.col("y")).cast("long")).alias("tp"),
        F.sum(((F.col("s") > F.col("t")) & ~F.col("y")).cast("long")).alias("fp"),
        F.sum(((F.col("s") <= F.col("t")) & F.col("y")).cast("long")).alias("fn"),
        F.sum(((F.col("s") <= F.col("t")) & ~F.col("y")).cast("long")).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    mcc = (tp * tn - fp * fn) * F.lit(1.0) / F.sqrt(
        (tp + fp).cast("double") * (tp + fn) * (tn + fp) * (tn + fn)
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(mcc, 6).alias("mcc"),
        F.round(2.0 * tp / (2 * tp + fp + fn), 6).alias("f1"),
        F.round(
            (tp * F.lit(1.0) / (tp + fn) + tn * F.lit(1.0) / (tn + fp)) / 2, 6
        ).alias("balanced_accuracy"),
    )


@query(
    "model_pr_curve_ap",
    oracle=f"""
    WITH mv AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS s, {_TRUTH} AS y
        FROM events
    ),
    tot AS (
        SELECT CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM mv
    ),
    by_score AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS posc
        FROM mv GROUP BY s
    ),
    cum AS (
        SELECT s,
               SUM(cnt) OVER (ORDER BY s DESC) AS n_pred,
               SUM(posc) OVER (ORDER BY s DESC) AS tp,
               SUM(posc) OVER (ORDER BY s DESC) - posc AS tp_prev
        FROM by_score
    ),
    curve AS (
        SELECT s AS threshold,
               CAST(n_pred AS BIGINT) AS n_predicted,
               CAST(tp AS BIGINT) AS tp,
               tp * 1e0 / n_pred AS precision_at,
               tp * 1e0 / tot.pos AS recall_at,
               (tp - tp_prev) * 1e0 / tot.pos AS d_recall
        FROM cum CROSS JOIN tot
    ),
    ap AS (SELECT SUM(precision_at * d_recall) AS ap FROM curve)
    SELECT threshold, n_predicted, tp,
           ROUND(precision_at, 6) AS precision_at,
           ROUND(recall_at, 6) AS recall_at,
           ROUND((SELECT ap FROM ap), 6) AS average_precision
    FROM curve
    WHERE CAST(FLOOR(recall_at * 10) AS BIGINT)
          <> CAST(FLOOR((recall_at - d_recall) * 10) AS BIGINT)
    """,
)
def model_pr_curve_ap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve with average precision (the IR evaluation
    standard, public): sweep the decision threshold down the exact
    milli-value score axis, accumulate TP/predicted counts per distinct
    score, and integrate AP = Σ P(t)·ΔR(t) — the step-function area that
    sklearn's average_precision_score computes, here as ONE window pass
    over the score histogram. Emitted rows are the thresholds where
    recall crosses a new decile (a readable 10-ish-point curve); the AP
    constant rides on every row. The imbalanced-class companion to
    model_auc_roc.

    Determinism: integer score histogram; cumulative sums over a total
    ORDER BY s DESC; exact count ratios rounded 6dp.

    Scale shape: groupBy(score) collapses the stream; the sweep is a
    window over distinct scores (at 100 TB: quantize scores — already
    integer milli-units here)."""
    mv = table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 1000).cast("long").alias("s"),
        F.expr(_TRUTH).alias("y"),
    )
    tot = mv.agg(F.sum(F.col("y").cast("long")).alias("pos"))
    by_score = mv.groupBy("s").agg(
        F.count("*").cast("long").alias("cnt"),
        F.sum(F.col("y").cast("long")).alias("posc"),
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = by_score.select(
        "s",
        F.sum("cnt").over(w).alias("n_pred"),
        F.sum("posc").over(w).alias("tp"),
        (F.sum("posc").over(w) - F.col("posc")).alias("tp_prev"),
    )
    curve = cum.crossJoin(F.broadcast(tot)).select(
        F.col("s").alias("threshold"),
        F.col("n_pred").cast("long").alias("n_predicted"),
        F.col("tp").cast("long").alias("tp"),
        (F.col("tp") * F.lit(1.0) / F.col("n_pred")).alias("precision_at"),
        (F.col("tp") * F.lit(1.0) / F.col("pos")).alias("recall_at"),
        ((F.col("tp") - F.col("tp_prev")) * F.lit(1.0) / F.col("pos")).alias(
            "d_recall"
        ),
    )
    ap = curve.agg(F.sum(F.col("precision_at") * F.col("d_recall")).alias("ap"))
    return (
        curve.crossJoin(F.broadcast(ap))
        .where(
            F.floor(F.col("recall_at") * 10).cast("long")
            != F.floor((F.col("recall_at") - F.col("d_recall")) * 10).cast("long")
        )
        .select(
            "threshold",
            "n_predicted",
            "tp",
            F.round("precision_at", 6).alias("precision_at"),
            F.round("recall_at", 6).alias("recall_at"),
            F.round("ap", 6).alias("average_precision"),
        )
    )


@query(
    "agg_somers_d",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY day
    ),
    pairs AS (
        SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.x <> b.x AND a.y = b.y THEN 1 ELSE 0 END AS ty
        FROM daily a JOIN daily b ON a.day < b.day
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS concordant,
           CAST(SUM(disc) AS BIGINT) AS discordant,
           CAST(SUM(ty) AS BIGINT) AS ties_y,
           ROUND((SUM(conc) - SUM(disc)) * 1e0
                 / (SUM(conc) + SUM(disc) + SUM(ty)), 6) AS somers_d_yx
    FROM pairs
    """,
)
def agg_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D(y|x) (Somers 1962, public): the asymmetric ordinal
    association (C−D)/(C+D+Ty) of daily value total on daily event count
    — the rank statistic credit scoring reads as "Gini" and survival
    analysis as the c-index rescaled (D = 2c−1). Asymmetric where
    Kendall's tau-b (agg_kendall_tau, same daily frame) is symmetric:
    ties in the DEPENDENT variable count against the association, ties
    in x are ignored.

    Determinism: integer pair classification on exact daily aggregates;
    one rounded division.

    Scale shape: the aggregate-then-quadratic pattern — the O(d²) pair
    join runs on the daily frame, never the raw stream."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias("y"),
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        (
            ((F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y")) > 0)
        ).cast("int").alias("conc"),
        (
            ((F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y")) < 0)
        ).cast("int").alias("disc"),
        (
            (F.col("a.x") != F.col("b.x")) & (F.col("a.y") == F.col("b.y"))
        ).cast("int").alias("ty"),
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
        F.sum("ty").cast("long").alias("ties_y"),
        F.round(
            (F.sum("conc") - F.sum("disc"))
            * F.lit(1.0)
            / (F.sum("conc") + F.sum("disc") + F.sum("ty")),
            6,
        ).alias("somers_d_yx"),
    )
