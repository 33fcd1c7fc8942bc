"""Wave-277: robust estimation completion — the Tukey biweight one-step
location estimate (the redescending counterpart to agg_huber_m_estimator)
and the Rousseeuw-Croux Qn scale estimator (robust scale WITHOUT a
location estimate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_BIWEIGHT_C = 9.0  # the conventional c = 9 on the MAD scale


@query(
    "agg_biweight_location",
    oracle=f"""
    WITH med AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY value) AS m
        FROM events
    ),
    absdev AS (
        SELECT ABS(value - med.m) AS ad FROM events CROSS JOIN med
    ),
    madv AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY ad) AS mad
        FROM absdev
    ),
    u AS (
        SELECT value,
               (value - med.m) / ({_BIWEIGHT_C!r} * madv.mad) AS uu
        FROM events CROSS JOIN med CROSS JOIN madv
    ),
    w AS (
        SELECT value,
               CASE WHEN ABS(uu) < 1
                    THEN (1 - uu * uu) * (1 - uu * uu) ELSE 0.0 END AS wt
        FROM u
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(wt * value) AS swx, SUM(wt) AS sw,
               CAST(SUM(CASE WHEN wt = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_rejected
        FROM w
    )
    SELECT n, n_rejected,
           ROUND((SELECT m FROM med), 6) AS median,
           ROUND((SELECT mad FROM madv), 6) AS mad,
           ROUND(swx / sw, 6) AS biweight_location
    FROM agg
    """,
)
def agg_biweight_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey biweight one-step location estimate (Beaton & Tukey,
    Technometrics 1974; Mosteller & Tukey 1977, public): weights
    w = (1 - u^2)^2 for |u| < 1 with u = (x - median)/(9*MAD), zero
    beyond — a REDESCENDING M-estimator that gives outliers exactly
    zero influence, where agg_huber_m_estimator only caps it. The
    emitted n_rejected is the hard-rejection count — what a robust
    metrics pipeline reports as "points ignored". Median and MAD are
    exact order statistics, so the whole estimate is one deterministic
    chain.

    Exactness device: both centers are PERCENTILE_DISC order
    statistics (element_at(sorted, ceil) in the engine); the weight
    CASE and the weighted mean are single chains.

    Scale shape: two exact-median passes plus one weighted aggregate —
    three scans, no iteration (the one-step estimator is the
    production form; full IRLS buys little at this breakdown point)."""
    e = table(spark, sf_dir, "events")
    med = e.agg(
        F.expr(
            "element_at(array_sort(collect_list(value)),"
            " cast(ceil(count(*) * 0.5) as int))"
        ).alias("m")
    )
    absdev = e.crossJoin(F.broadcast(med)).select(
        F.abs(F.col("value") - F.col("m")).alias("ad")
    )
    madv = absdev.agg(
        F.expr(
            "element_at(array_sort(collect_list(ad)),"
            " cast(ceil(count(*) * 0.5) as int))"
        ).alias("mad")
    )
    u = (
        e.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(madv))
        .select(
            "value",
            "m",
            "mad",
            (
                (F.col("value") - F.col("m")) / (_BIWEIGHT_C * F.col("mad"))
            ).alias("uu"),
        )
    )
    wt = F.when(
        F.abs(F.col("uu")) < 1,
        (1 - F.col("uu") * F.col("uu")) * (1 - F.col("uu") * F.col("uu")),
    ).otherwise(F.lit(0.0))
    w = u.select("value", "m", "mad", wt.alias("wt"))
    agg = w.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("wt") * F.col("value")).alias("swx"),
        F.sum("wt").alias("sw"),
        F.sum(F.when(F.col("wt") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_rejected"),
        F.first("m").alias("m"),
        F.first("mad").alias("mad"),
    )
    return agg.select(
        "n",
        "n_rejected",
        F.round("m", 6).alias("median"),
        F.round("mad", 6).alias("mad"),
        F.round(F.col("swx") / F.col("sw"), 6).alias("biweight_location"),
    )


@query(
    "agg_qn_scale",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, AVG(value) AS y
        FROM events GROUP BY 1
    ),
    diffs AS (
        SELECT ABS(a.y - b.y) AS d
        FROM daily a JOIN daily b ON b.day > a.day
    ),
    n_d AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
    kth AS (
        SELECT (SELECT n FROM n_d) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               -- k = C(h, 2) with h = floor(n/2) + 1 (Rousseeuw-Croux);
               -- // keeps it integer (DuckDB / is float division)
               ((SELECT n FROM n_d) // 2 + 1)
                   * ((SELECT n FROM n_d) // 2) // 2 AS k
        FROM diffs
    ),
    ordered AS (
        SELECT d, ROW_NUMBER() OVER (ORDER BY d) AS rk FROM diffs
    )
    SELECT k2.n AS n_days, k2.n_pairs, CAST(k2.k AS BIGINT) AS k_order,
           ROUND((SELECT d FROM ordered WHERE rk = k2.k), 6)
               AS qn_raw,
           ROUND(2.2219 * (SELECT d FROM ordered WHERE rk = k2.k), 6)
               AS qn_scaled
    FROM kth k2
    """,
)
def agg_qn_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Qn scale estimator (Rousseeuw & Croux, JASA 1993, public)
    of the daily mean-value series: the k-th order statistic of ALL
    pairwise absolute differences, k = C(floor(n/2)+1, 2), scaled by
    the Gaussian-consistency constant 2.2219. Qn needs NO location
    estimate (unlike MAD), reaches a 50% breakdown point AND 82%
    Gaussian efficiency (MAD: 37%) — the robust-scale default that
    statisticians actually recommend, and the pairwise-order-statistic
    shape the engine must handle for it.

    Exactness device: integer day-pair construction, exact k-th order
    statistic via a totally ordered row_number (ties in d are
    irrelevant to the selected VALUE), literal constant.

    Scale shape: the fact scan folds to ~30 daily rows FIRST; the
    O(n^2) difference set lives on aggregates (the agg_hoeffding_d
    discipline), and the order statistic is a bounded sort."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("y"))
    )
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    diffs = a.join(b, F.col("db") > F.col("da")).select(
        F.abs(F.col("ya") - F.col("yb")).alias("d")
    )
    n_d = daily.agg(F.count("*").cast("long").alias("n"))
    stats = diffs.crossJoin(F.broadcast(n_d)).agg(
        F.first("n").alias("n"),
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(
            "element_at(array_sort(collect_list(d)),"
            " cast((first(n) div 2 + 1) * (first(n) div 2) / 2 as int))"
        ).alias("qn_raw"),
    )
    k = (F.col("n") / 2 + 1).cast("long") * (F.col("n") / 2).cast(
        "long"
    ) / 2
    return stats.select(
        F.col("n").alias("n_days"),
        "n_pairs",
        k.cast("long").alias("k_order"),
        F.round("qn_raw", 6).alias("qn_raw"),
        F.round(2.2219 * F.col("qn_raw"), 6).alias("qn_scaled"),
    )
