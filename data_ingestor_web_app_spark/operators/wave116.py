"""Wave-116: Cutler-smoothed RSI overbought/oversold audit, Kendall
tau-b with full tie correction, and a Kimball periodic-snapshot fact
with month-end cumulative balances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_rsi_cutler",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS c
        FROM events GROUP BY event_type, day
    ),
    diffs AS (
        SELECT event_type, day, c,
               c - LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS d
        FROM daily
    ),
    gl AS (
        SELECT event_type, day,
               ROW_NUMBER() OVER w AS rn,
               SUM(CASE WHEN d > 0 THEN d ELSE 0 END)
                   OVER (w ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS g,
               SUM(CASE WHEN d < 0 THEN -d ELSE 0 END)
                   OVER (w ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS l
        FROM diffs WHERE d IS NOT NULL
        WINDOW w AS (PARTITION BY event_type ORDER BY day)
    ),
    rsi AS (
        SELECT event_type, g, l,
               100.0 * g / NULLIF(g + l, 0) AS r
        FROM gl WHERE rn >= 14
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN 10 * g > 7 * (g + l) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_overbought,
           CAST(SUM(CASE WHEN g + l > 0 AND 10 * g < 3 * (g + l)
                    THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oversold,
           ROUND(MIN(r), 4) AS min_rsi,
           ROUND(MAX(r), 4) AS max_rsi
    FROM rsi GROUP BY event_type
    """,
)
def events_rsi_cutler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Strength Index, Cutler's simple-moving-average variant
    (public; Cutler's RSI uses plain 14-period sums of gains and losses
    instead of Wilder's recursive smoothing, which makes it
    window-expressible and start-point-independent): daily per-type value
    totals (milli-scaled exact BIGINT), day-over-day gains/losses, and
    RSI = 100*G/(G+L) over full 14-change windows, with the classic
    70/30 overbought/oversold band counts.

    Determinism: closes, diffs, and the G/L window sums are exact
    integers; RSI is a single division rounded 4dp; band membership
    compares a rational G/(G+L) against 0.7/0.3 — never a float chain.

    Scale shape: one daily pre-aggregate collapses the stream, then a
    per-type lag + 14-row window over the small daily frame and a final
    per-type fold — the heavy table is touched once, map-side combined."""
    milli = F.round(F.col("value") * 1000).cast("long")
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.sum(milli).alias("c"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    diffs = daily.select(
        "event_type",
        "day",
        (F.col("c") - F.lag("c").over(w)).alias("d"),
    ).where(F.col("d").isNotNull())
    wf = w.rowsBetween(-13, 0)
    gl = diffs.select(
        "event_type",
        F.row_number().over(w).alias("rn"),
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0)).over(wf).alias("g"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0)).over(wf).alias("l"),
    ).where(F.col("rn") >= 14)
    r = 100.0 * F.col("g") / F.nullif(F.col("g") + F.col("l"), F.lit(0))
    # Band membership compares the rational 10*g vs 7|3*(g+l) in exact
    # BIGINTs (r > 70 ⇔ 10g > 7(g+l)); only min/max RSI touch the float r.
    return (
        gl.select("event_type", "g", "l", r.alias("r"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum(
                F.when(10 * F.col("g") > 7 * (F.col("g") + F.col("l")), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_overbought"),
            F.sum(
                F.when(
                    (F.col("g") + F.col("l") > 0)
                    & (10 * F.col("g") < 3 * (F.col("g") + F.col("l"))),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_oversold"),
            F.round(F.min("r"), 4).alias("min_rsi"),
            F.round(F.max("r"), 4).alias("max_rsi"),
        )
    )


@query(
    "agg_kendall_tau",
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
               CASE WHEN a.x = b.x AND a.y <> b.y THEN 1 ELSE 0 END AS tx,
               CASE WHEN a.y = b.y AND a.x <> b.x THEN 1 ELSE 0 END AS ty
        FROM daily a JOIN daily b ON a.day < b.day
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(conc) AS BIGINT) AS concordant,
           CAST(SUM(disc) AS BIGINT) AS discordant,
           CAST(SUM(tx) AS BIGINT) AS ties_x_only,
           CAST(SUM(ty) AS BIGINT) AS ties_y_only,
           ROUND((SUM(conc) - SUM(disc))
                 / SQRT(CAST((COUNT(*) - SUM(tx)) AS DOUBLE)
                        * (COUNT(*) - SUM(ty))), 6) AS tau_b
    FROM pairs
    """,
)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b (Kendall 1938; tau-b tie correction public) between
    daily event count and daily value total: exact concordant /
    discordant / tied pair counting over all day pairs, with
    tau_b = (C - D) / sqrt((n0 - Tx)(n0 - Ty)) — the rank correlation
    whose pair semantics (unlike Spearman's rho) survive heavy ties and
    give the direct probabilistic reading P(concordant) - P(discordant).

    Determinism: every pair classification is integer arithmetic on exact
    BIGINT daily aggregates; the only floats are one sqrt and one
    division, rounded 6dp.

    Scale shape: the O(d^2) self-join runs on the DAILY frame (365 rows/
    year after the map-side daily collapse), never the raw stream; at
    100 TB the daily frame is still tiny — the classic
    aggregate-then-quadratic pattern. A merge-sort O(n log n) Knight
    variant only pays off when the paired grain itself is huge."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").cast("long").alias("x"),
            F.sum(F.round(F.col("value") * 1000).cast("long")).alias("y"),
        )
    )
    a, b = daily.alias("a"), daily.alias("b")
    prod = (F.col("a.x") - F.col("b.x")) * (F.col("a.y") - F.col("b.y"))
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.when(prod > 0, 1).otherwise(0).alias("conc"),
        F.when(prod < 0, 1).otherwise(0).alias("disc"),
        F.when(
            (F.col("a.x") == F.col("b.x")) & (F.col("a.y") != F.col("b.y")), 1
        )
        .otherwise(0)
        .alias("tx"),
        F.when(
            (F.col("a.y") == F.col("b.y")) & (F.col("a.x") != F.col("b.x")), 1
        )
        .otherwise(0)
        .alias("ty"),
    )
    return pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("conc").cast("long").alias("concordant"),
        F.sum("disc").cast("long").alias("discordant"),
        F.sum("tx").cast("long").alias("ties_x_only"),
        F.sum("ty").cast("long").alias("ties_y_only"),
        F.round(
            (F.sum("conc") - F.sum("disc"))
            / F.sqrt(
                (F.count("*") - F.sum("tx")).cast("double")
                * (F.count("*") - F.sum("ty"))
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "warehouse_periodic_snapshot",
    oracle="""
    WITH monthly AS (
        SELECT c.c_mktsegment AS segment,
               STRFTIME(DATE_TRUNC('month', CAST(o.o_orderdate AS DATE)),
                        '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS orders_in_month,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY segment, month
    )
    SELECT segment, month, orders_in_month,
           ROUND(revenue_cents / 100.0, 2) AS month_revenue,
           CAST(SUM(orders_in_month)
                OVER (PARTITION BY segment ORDER BY month) AS BIGINT)
               AS cum_orders,
           ROUND(SUM(revenue_cents)
                 OVER (PARTITION BY segment ORDER BY month) / 100.0, 2)
               AS cum_revenue
    FROM monthly
    """,
)
def warehouse_periodic_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball periodic-snapshot fact (Kimball dimensional modeling,
    public): one row per (market segment, month) carrying both the
    period's flow measures (orders, revenue) and the cumulative
    position at period end — the month-end balance view that
    transaction-grain facts can't answer without re-scanning history.

    Determinism: revenue is exact integer cents; cumulative sums are
    BIGINT window sums; month labels are formatted strings. The
    cumulative window uses the default RANGE framing — (segment, month)
    is unique post-aggregate, so peers can't split.

    Scale shape: the customer dim broadcasts into the orders scan, one
    map-side-combined monthly rollup collapses the fact, and the
    cumulative window runs over the tiny snapshot frame (segments x
    months). At 100 TB the snapshot table is maintained incrementally —
    last month's position + this month's flow — not recomputed."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_format(
                F.date_trunc("month", F.col("o_orderdate").cast("date")), "yyyy-MM"
            ).alias("month"),
        )
        .agg(
            F.count("*").cast("long").alias("orders_in_month"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
    )
    w = Window.partitionBy("segment").orderBy("month")
    return monthly.select(
        "segment",
        "month",
        "orders_in_month",
        F.round(F.col("revenue_cents") / 100.0, 2).alias("month_revenue"),
        F.sum("orders_in_month").over(w).cast("long").alias("cum_orders"),
        F.round(F.sum("revenue_cents").over(w) / 100.0, 2).alias("cum_revenue"),
    )
