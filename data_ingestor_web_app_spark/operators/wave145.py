"""Wave-145: Little's law via an independent sweep-line, fill-rate
service levels, and EOQ lot sizing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_GAP_MS = 30 * 60 * 1000


@query(
    "events_littles_law",
    oracle=f"""
    WITH e AS (
        SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events
    ),
    lagd AS (
        SELECT user_id, ms,
               LAG(ms) OVER (PARTITION BY user_id ORDER BY ms) AS pms
        FROM e
    ),
    marks AS (
        SELECT user_id, ms,
               CASE WHEN pms IS NULL OR ms - pms > {_GAP_MS}
                    THEN 1 ELSE 0 END AS new_s
        FROM lagd
    ),
    sess AS (
        SELECT user_id, sid, CAST(MIN(ms) AS BIGINT) AS s,
               CAST(MAX(ms) AS BIGINT) AS t
        FROM (SELECT user_id, ms,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ms
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS sid
              FROM marks)
        GROUP BY user_id, sid
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
               CAST(SUM(t - s) AS BIGINT) AS total_dur_ms,
               CAST(MAX(t) - MIN(s) AS BIGINT) AS span_ms
        FROM sess
    ),
    pts AS (
        SELECT s AS tm, 1 AS delta FROM sess
        UNION ALL
        SELECT t AS tm, -1 AS delta FROM sess
    ),
    sweep AS (
        SELECT tm, delta,
               SUM(delta) OVER (ORDER BY tm, delta
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc,
               LEAD(tm) OVER (ORDER BY tm, delta) - tm AS seg
        FROM pts
    ),
    sw AS (
        SELECT CAST(SUM(conc * seg) AS BIGINT) AS weighted
        FROM sweep WHERE seg IS NOT NULL
    )
    SELECT a.n_sessions, a.total_dur_ms, a.span_ms,
           ROUND(a.total_dur_ms * 1e0 / a.n_sessions, 4) AS w_mean_ms,
           ROUND(a.n_sessions * 3600000e0 / a.span_ms, 6) AS lambda_per_hour,
           CAST(ROUND(1000000 * sw.weighted * 1e0 / a.span_ms) AS BIGINT)
               AS l_sweep_micro,
           CAST(ROUND(1000000 * a.total_dur_ms * 1e0 / a.span_ms) AS BIGINT)
               AS l_law_micro
    FROM agg a CROSS JOIN sw
    """,
)
def events_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit (Little 1961, public): L = λW checked through
    two INDEPENDENT computations — W and λ from the 30-min-gap session
    list, and L from a sweep-line over session start/end marks (running
    concurrency × segment length, time-averaged over the span; ends
    sort before starts at equal timestamps, the closed-open convention).
    The sweep is the real operator here — the time-weighted concurrency
    profile capacity dashboards plot — and the law is the cross-check:
    l_sweep_micro must equal l_law_micro exactly, which both the oracle
    and pytest enforce.

    Determinism: all sums are exact ms BIGINTs; the three ratios are
    single rounded chains.

    Scale shape: sessionization shuffles once on user_id; the sweep is
    a global ordered prefix sum — at 100 TB it range-partitions by time
    with per-partition sweeps + boundary offsets (same plan family as
    any global cumulative)."""
    e = table(spark, sf_dir, "events").select(
        "user_id", F.unix_millis("ts").alias("ms")
    )
    wu = Window.partitionBy("user_id").orderBy("ms")
    marks = e.select(
        "user_id",
        "ms",
        F.when(
            F.lag("ms").over(wu).isNull()
            | (F.col("ms") - F.lag("ms").over(wu) > _GAP_MS),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    sess = (
        marks.select(
            "user_id",
            "ms",
            F.sum("new_s").over(wu.rowsBetween(Window.unboundedPreceding, 0)).alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(F.min("ms").alias("s"), F.max("ms").alias("t"))
    )
    agg = sess.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(F.col("t") - F.col("s")).cast("long").alias("total_dur_ms"),
        (F.max("t") - F.min("s")).cast("long").alias("span_ms"),
    )
    pts = sess.select(F.col("s").alias("tm"), F.lit(1).alias("delta")).unionAll(
        sess.select(F.col("t").alias("tm"), F.lit(-1).alias("delta"))
    )
    ws = Window.orderBy("tm", "delta")
    sweep = pts.select(
        F.sum("delta").over(ws.rowsBetween(Window.unboundedPreceding, 0)).alias("conc"),
        (F.lead("tm").over(ws) - F.col("tm")).alias("seg"),
    )
    sw = sweep.where(F.col("seg").isNotNull()).agg(
        F.sum(F.col("conc") * F.col("seg")).cast("long").alias("weighted")
    )
    return agg.crossJoin(sw).select(
        "n_sessions",
        "total_dur_ms",
        "span_ms",
        F.round(F.col("total_dur_ms") * F.lit(1.0) / F.col("n_sessions"), 4).alias(
            "w_mean_ms"
        ),
        F.round(F.col("n_sessions") * F.lit(3600000.0) / F.col("span_ms"), 6).alias(
            "lambda_per_hour"
        ),
        F.round(1000000 * F.col("weighted") * F.lit(1.0) / F.col("span_ms"))
        .cast("long")
        .alias("l_sweep_micro"),
        F.round(1000000 * F.col("total_dur_ms") * F.lit(1.0) / F.col("span_ms"))
        .cast("long")
        .alias("l_law_micro"),
    )


@query(
    "events_fill_rate",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS demand
        FROM events GROUP BY event_type, day
    ),
    r AS (
        SELECT event_type, demand, day,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY demand, day) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM daily
    ),
    fc AS (
        SELECT event_type,
               MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT)
                   THEN demand END) AS stock
        FROM r GROUP BY event_type
    )
    SELECT d.event_type, CAST(MAX(f.stock) AS BIGINT) AS stock_level,
           CAST(SUM(d.demand) AS BIGINT) AS total_demand,
           CAST(SUM(CASE WHEN d.demand < f.stock THEN d.demand
                    ELSE f.stock END) AS BIGINT) AS filled,
           CAST(SUM(CASE WHEN d.demand > f.stock THEN 1 ELSE 0 END)
                AS BIGINT) AS stockout_days,
           ROUND(SUM(CASE WHEN d.demand < f.stock THEN d.demand
                     ELSE f.stock END) * 1e0 / SUM(d.demand), 6) AS fill_rate
    FROM daily d JOIN fc f USING (event_type)
    GROUP BY d.event_type
    """,
)
def events_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill rate / type-2 service level (inventory theory, public): with
    the newsvendor 0.9-fractile stock per event type, the fraction of
    daily demand actually served — Σ min(demand, stock)/Σ demand — plus
    stockout-day counts. The quantity-weighted service measure that the
    simple in-stock probability (type-1, = 0.9 by construction here)
    overstates.

    Determinism: exact order-stat stock, exact integer min/sum, one
    division.

    Scale shape: daily collapse, broadcast stock row, one summing
    pass."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("demand"))
    )
    w = Window.partitionBy("event_type").orderBy("demand", "day")
    r = daily.select(
        "event_type",
        "demand",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    fc = r.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.9).cast("long"),
                F.col("demand"),
            )
        ).alias("stock")
    )
    served = F.when(F.col("demand") < F.col("stock"), F.col("demand")).otherwise(
        F.col("stock")
    )
    return (
        daily.join(F.broadcast(fc), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("stock").cast("long").alias("stock_level"),
            F.sum("demand").cast("long").alias("total_demand"),
            F.sum(served).cast("long").alias("filled"),
            F.sum(F.when(F.col("demand") > F.col("stock"), 1).otherwise(0))
            .cast("long")
            .alias("stockout_days"),
            F.round(F.sum(served) * F.lit(1.0) / F.sum("demand"), 6).alias(
                "fill_rate"
            ),
        )
    )


_EOQ_K = 100  # ordering cost
_EOQ_H = 2  # holding cost per unit per period


@query(
    "inventory_eoq",
    oracle=f"""
    WITH d AS (
        SELECT p.p_brand,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS demand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand
    )
    SELECT p_brand, demand,
           ROUND(SQRT(2e0 * demand * {_EOQ_K} / {_EOQ_H}), 4) AS eoq,
           ROUND(demand / SQRT(2e0 * demand * {_EOQ_K} / {_EOQ_H}), 4)
               AS orders_per_period
    FROM d
    """,
)
def inventory_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity (Harris 1913, public): per part brand,
    EOQ = √(2DK/h) with ordering cost K=100 and holding cost h=2 —
    the square-root lot-sizing law, plus the implied order frequency.
    The batching-vs-holding trade every replenishment (and every
    micro-batch size choice) instantiates.

    Determinism: demand sums are exact BIGINTs; EOQ is one sqrt chain.

    Scale shape: fact-to-dim join (part broadcastable), one
    map-side-combined groupBy, a formula projection."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    d = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("demand"))
    )
    eoq = F.sqrt(2.0 * F.col("demand") * _EOQ_K / _EOQ_H)
    return d.select(
        "p_brand",
        "demand",
        F.round(eoq, 4).alias("eoq"),
        F.round(F.col("demand") / eoq, 4).alias("orders_per_period"),
    )
