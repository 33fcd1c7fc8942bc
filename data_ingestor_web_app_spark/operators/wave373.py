"""Wave-373: Kadane's maximum-subarray problem (Bentley, CACM 1984
"Programming Pearls" — here in the exact prefix-sum formulation, which is
windowable) over the demeaned daily event series, and Savitzky-Golay
polynomial smoothing (Savitzky & Golay, Analytical Chemistry 1964) with
their exact integer convolution weights.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_kadane_subarray",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(c) AS BIGINT) AS s
        FROM daily
    ),
    x AS (
        -- demeaned and scaled by n_days so the series stays integer:
        -- x_d = c_d * nd - s  (sum over all days is exactly 0)
        SELECT day, c * nd - s AS v FROM daily, tot
    ),
    pre AS (
        SELECT day, v,
               SUM(v) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS p
        FROM x
    ),
    runmin AS (
        SELECT day, p,
               COALESCE(MIN(p) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS mn,
               COALESCE(MAX(p) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS mx
        FROM pre
    ),
    gains AS (
        SELECT day,
               p - LEAST(mn, 0) AS gain,
               p - GREATEST(mx, 0) AS loss
        FROM runmin
    ),
    best AS (
        SELECT MAX(gain) AS best_gain, MIN(loss) AS worst_loss FROM gains
    ),
    ends AS (
        SELECT MIN(CASE WHEN g.gain = b.best_gain THEN g.day END) AS best_end,
               MIN(CASE WHEN g.loss = b.worst_loss THEN g.day END) AS worst_end
        FROM gains g, best b
    )
    SELECT CAST(b.best_gain AS BIGINT) AS max_subarray_scaled,
           CAST(b.worst_loss AS BIGINT) AS min_subarray_scaled,
           STRFTIME(e.best_end, '%Y-%m-%d') AS best_end_day,
           STRFTIME(e.worst_end, '%Y-%m-%d') AS worst_end_day,
           t.nd AS n_days
    FROM best b, ends e, tot t
    """,
)
def events_kadane_subarray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kadane's maximum (and minimum) subarray over the DEMEANED daily
    event-count series — the "longest hot streak / deepest slump relative
    to average load" question. Demeaning is done exactly by scaling:
    x_d = c_d·n − Σc (integer, sums to zero), so a positive subarray is a
    period genuinely above average. Kadane's sequential DP becomes the
    prefix-sum identity max_t (P_t − min_{s<t} P_s) — two ordered windows
    over the bounded daily frame, no recursion. End day of each extreme
    reported with first-day-wins tie-break.

    Determinism: all integers until the output; tie-breaks are MIN(day)
    over exact-integer equality in both engines.

    Scale shape: one calendar collapse then two running windows over the
    daily frame (bounded by the calendar, not row count) — the same
    aggregate-then-window shape as events_max_drawdown."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = daily.agg(
        F.count("*").cast("long").alias("nd"),
        F.sum("c").cast("long").alias("s"),
    )
    x = daily.crossJoin(F.broadcast(tot)).select(
        "day", (F.col("c") * F.col("nd") - F.col("s")).alias("v"), "nd"
    )
    wp = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wb = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    pre = x.select("day", "nd", F.sum("v").over(wp).alias("p"))
    runm = pre.select(
        "day",
        "nd",
        "p",
        F.coalesce(F.min("p").over(wb), F.lit(0)).alias("mn"),
        F.coalesce(F.max("p").over(wb), F.lit(0)).alias("mx"),
    )
    gains = runm.select(
        "day",
        "nd",
        (F.col("p") - F.least(F.col("mn"), F.lit(0))).alias("gain"),
        (F.col("p") - F.greatest(F.col("mx"), F.lit(0))).alias("loss"),
    )
    best = gains.agg(
        F.max("gain").alias("best_gain"),
        F.min("loss").alias("worst_loss"),
        F.max("nd").alias("nd"),
    )
    ends = (
        gains.crossJoin(F.broadcast(best.select("best_gain", "worst_loss")))
        .agg(
            F.min(
                F.when(F.col("gain") == F.col("best_gain"), F.col("day"))
            ).alias("best_end"),
            F.min(
                F.when(F.col("loss") == F.col("worst_loss"), F.col("day"))
            ).alias("worst_end"),
        )
    )
    return best.crossJoin(F.broadcast(ends)).select(
        F.col("best_gain").alias("max_subarray_scaled"),
        F.col("worst_loss").alias("min_subarray_scaled"),
        F.date_format("best_end", "yyyy-MM-dd").alias("best_end_day"),
        F.date_format("worst_end", "yyyy-MM-dd").alias("worst_end_day"),
        F.col("nd").alias("n_days"),
    )


# Exact integer Savitzky-Golay convolution weights (quadratic/cubic fit):
# window 5 -> (-3, 12, 17, 12, -3) / 35 ; window 7 -> (-2, 3, 6, 7, 6, 3, -2) / 21
_SG5 = [-3, 12, 17, 12, -3]
_SG7 = [-2, 3, 6, 7, 6, 3, -2]


@query(
    "fn_savitzky_golay",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT day, c,
               LAG(c, 2) OVER w AS m2, LAG(c, 1) OVER w AS m1,
               LEAD(c, 1) OVER w AS p1, LEAD(c, 2) OVER w AS p2,
               LAG(c, 3) OVER w AS m3, LEAD(c, 3) OVER w AS p3
        FROM daily WINDOW w AS (ORDER BY day)
    )
    SELECT STRFTIME(day, '%Y-%m-%d') AS day,
           c AS raw_count,
           -3*m2 + 12*m1 + 17*c + 12*p1 - 3*p2 AS sg5_x35,
           ROUND((-3*m2 + 12*m1 + 17*c + 12*p1 - 3*p2) / 35.0, 4)
               AS sg5_smoothed,
           CASE WHEN m3 IS NOT NULL AND p3 IS NOT NULL
                THEN -2*m3 + 3*m2 + 6*m1 + 7*c + 6*p1 + 3*p2 - 2*p3
           END AS sg7_x21,
           ROUND((-2*m3 + 3*m2 + 6*m1 + 7*c + 6*p1 + 3*p2 - 2*p3) / 21.0, 4)
               AS sg7_smoothed
    FROM lagged
    WHERE m2 IS NOT NULL AND p2 IS NOT NULL
    """,
)
def fn_savitzky_golay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Savitzky-Golay smoothing (1964) of the daily event counts with the
    published exact integer convolution weights for a quadratic local fit:
    window-5 (−3,12,17,12,−3)/35 and window-7 (−2,3,6,7,6,3,−2)/21 — the
    derivative-preserving smoother every chromatography/telemetry pipeline
    uses instead of a moving average (it keeps peak heights). Interior
    days only (full window required; the 7-window columns are NULL on the
    two extra edge days).

    Determinism: the convolution numerators are exact integer dot products
    (emitted as sg5_x35 / sg7_x21); the smoothed values are one division
    ROUND 4.

    Scale shape: one calendar collapse + one ordered lag/lead window over
    the bounded daily frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "day",
        "c",
        F.lag("c", 2).over(w).alias("m2"),
        F.lag("c", 1).over(w).alias("m1"),
        F.lead("c", 1).over(w).alias("p1"),
        F.lead("c", 2).over(w).alias("p2"),
        F.lag("c", 3).over(w).alias("m3"),
        F.lead("c", 3).over(w).alias("p3"),
    )
    sg5 = (
        -3 * F.col("m2")
        + 12 * F.col("m1")
        + 17 * F.col("c")
        + 12 * F.col("p1")
        - 3 * F.col("p2")
    )
    sg7 = (
        -2 * F.col("m3")
        + 3 * F.col("m2")
        + 6 * F.col("m1")
        + 7 * F.col("c")
        + 6 * F.col("p1")
        + 3 * F.col("p2")
        - 2 * F.col("p3")
    )
    return (
        lagged.where(F.col("m2").isNotNull() & F.col("p2").isNotNull())
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("c").alias("raw_count"),
            sg5.alias("sg5_x35"),
            F.round(sg5 / 35.0, 4).alias("sg5_smoothed"),
            F.when(
                F.col("m3").isNotNull() & F.col("p3").isNotNull(), sg7
            ).alias("sg7_x21"),
            F.round(sg7 / 21.0, 4).alias("sg7_smoothed"),
        )
    )
