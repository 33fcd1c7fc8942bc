"""Wave-255: the temporal ALIGNMENT join (two per-user attribute streams
normalized onto one timeline of elementary intervals — Snodgrass'
"temporal join" building block that interval_overlap/coalesce don't
cover), and Spiegelhalter's calibration z-test on the wave-63 logistic
scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "join_temporal_align",
    oracle="""
    WITH clicks AS (
        SELECT user_id, epoch_us(ts) AS t,
               CAST(FLOOR(value / 25) AS BIGINT) AS band
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, epoch_us(ts) AS t,
               CAST(FLOOR(value / 25) AS BIGINT) AS band
        FROM events WHERE event_type = 'purchase'
    ),
    bounds AS (
        SELECT user_id, t, band AS cb, NULL AS pb FROM clicks
        UNION ALL
        SELECT user_id, t, NULL AS cb, band AS pb FROM purch
    ),
    filled AS (
        SELECT user_id, t,
               LAST_VALUE(cb IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY t, cb NULLS LAST
                         ROWS UNBOUNDED PRECEDING) AS click_band,
               LAST_VALUE(pb IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY t, cb NULLS LAST
                         ROWS UNBOUNDED PRECEDING) AS purchase_band,
               LEAD(t) OVER (PARTITION BY user_id
                             ORDER BY t, cb NULLS LAST) AS t_end
        FROM bounds
    ),
    elem AS (
        SELECT user_id, click_band, purchase_band,
               t_end - t AS dur_us
        FROM filled
        WHERE t_end IS NOT NULL AND t_end > t
          AND click_band IS NOT NULL AND purchase_band IS NOT NULL
    )
    SELECT click_band, purchase_band,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dur_us) // 1000000 AS BIGINT) AS total_secs,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM elem GROUP BY click_band, purchase_band
    """,
)
def join_temporal_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal alignment join (Snodgrass, Developing Time-Oriented
    Database Applications in SQL, 1999, public; the 'align' primitive
    of temporal algebra): two independently-changing per-user attribute
    streams — the value band of the latest CLICK and of the latest
    PURCHASE — are normalized onto ONE timeline by unioning their
    change points, forward-filling each attribute, and slicing
    elementary intervals between consecutive boundaries; time spent in
    each joint (click_band, purchase_band) state is then a plain
    rollup. This is the op that turns two SCD2 histories into a joint
    history, which no equi/asof/overlap join produces directly.

    Exactness device: boundaries are exact integer micros; the
    forward-fill windows have a total order ((t, cb NULLS LAST) breaks
    the click-vs-purchase tie at equal timestamps identically in both
    engines); durations stay integer to the end.

    Scale shape: one user-keyed shuffle; both IGNORE-NULLS fills, the
    LEAD, and nothing else — the single-exchange plan; the joint-state
    rollup is bounded by band-pair cardinality."""
    ev = table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("t"),
        F.floor(F.col("value") / 25).cast("long").alias("cb"),
        F.lit(None).cast("long").alias("pb"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("t"),
        F.lit(None).cast("long").alias("cb"),
        F.floor(F.col("value") / 25).cast("long").alias("pb"),
    )
    bounds = clicks.unionAll(purch)
    order = [F.col("t"), F.col("cb").asc_nulls_last()]
    wfill = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wlead = Window.partitionBy("user_id").orderBy(*order)
    filled = bounds.select(
        "user_id",
        "t",
        F.last("cb", ignorenulls=True).over(wfill).alias("click_band"),
        F.last("pb", ignorenulls=True).over(wfill).alias("purchase_band"),
        F.lead("t").over(wlead).alias("t_end"),
    )
    elem = filled.where(
        F.col("t_end").isNotNull()
        & (F.col("t_end") > F.col("t"))
        & F.col("click_band").isNotNull()
        & F.col("purchase_band").isNotNull()
    ).select(
        "user_id",
        "click_band",
        "purchase_band",
        (F.col("t_end") - F.col("t")).alias("dur_us"),
    )
    return elem.groupBy("click_band", "purchase_band").agg(
        F.count("*").cast("long").alias("n_intervals"),
        F.expr("sum(dur_us) div 1000000").cast("long").alias("total_secs"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@query(
    "model_spiegelhalter_z",
    oracle="""
    WITH g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS s1,
               CAST(SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             AS HUGEINT)
                        * CAST(ROUND(o_totalprice * 100) AS BIGINT))
                    AS DOUBLE) AS s2
        FROM orders
    ),
    scored AS (
        SELECT CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               1.0 / (1.0 + EXP(-(-1.0 + 0.5 *
                   (CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
                    - g.s1 * 1.0 / g.n)
                   / SQRT(g.s2 / g.n
                          - (g.s1 * 1.0 / g.n) * (g.s1 * 1.0 / g.n)))))
                   AS p
        FROM orders o, g
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM((y - p) * (y - p)) AS brier_sum,
               SUM((y - p) * (1 - 2 * p)) AS num,
               SUM((1 - 2 * p) * (1 - 2 * p) * p * (1 - p)) AS den
        FROM scored
    )
    SELECT n AS n_obs,
           ROUND(brier_sum / n, 6) AS brier,
           ROUND(num / SQRT(den), 6) AS spiegelhalter_z,
           ABS(num / SQRT(den)) > 1.959964 AS miscalibrated
    FROM mom
    """,
)
def model_spiegelhalter_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter's z-test of probability calibration (Spiegelhalter,
    Statistics in Medicine 1986, public) on the wave-63 logistic scorer
    (standardized order total predicting status 'F'): z = sum (y-p)
    (1-2p) / sqrt(sum (1-2p)^2 p(1-p)) — the decomposition of the Brier
    score that isolates CALIBRATION from discrimination, testable
    without binning (the weakness of ECE, model_calibration_ece: its
    verdict depends on the bin grid; Spiegelhalter's does not).

    Exactness device: the scorer reuses wave63's exact-cents
    standardization chain verbatim; the three sums reduce in one pass;
    the flag compares the identical unrounded z.

    Scale shape: one 1-row moment frame broadcast into a single scan
    pass — calibration testing at 100 TB is two aggregates."""
    o = table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = o.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(cents).cast("long").alias("s1"),
        F.sum(cents.cast("decimal(38,0)") * cents).cast("double").alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    p = 1.0 / (1.0 + F.exp(-(-1.0 + 0.5 * (cents - mean) / sd)))
    scored = o.crossJoin(F.broadcast(g)).select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        p.alias("p"),
    )
    mom = scored.agg(
        F.count("*").cast("long").alias("n"),
        F.sum((F.col("y") - F.col("p")) * (F.col("y") - F.col("p"))).alias(
            "brier_sum"
        ),
        F.sum((F.col("y") - F.col("p")) * (1 - 2 * F.col("p"))).alias("num"),
        F.sum(
            (1 - 2 * F.col("p"))
            * (1 - 2 * F.col("p"))
            * F.col("p")
            * (1 - F.col("p"))
        ).alias("den"),
    )
    z = F.col("num") / F.sqrt(F.col("den"))
    return mom.select(
        F.col("n").alias("n_obs"),
        F.round(F.col("brier_sum") / F.col("n"), 6).alias("brier"),
        F.round(z, 6).alias("spiegelhalter_z"),
        (F.abs(z) > 1.959964).alias("miscalibrated"),
    )
