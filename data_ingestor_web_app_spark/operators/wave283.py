"""Wave-283: queueing-theory completion — departure-process statistics
from the exact Lindley replay (does the queue SMOOTH the traffic? the
empirical cousin of Burke's theorem) and the Jackson tandem-network
product-form metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_UTIL = 0.8


@query(
    "events_lindley_departures",
    oracle=f"""
    WITH arr AS (
        SELECT epoch_us(ts) AS t,
               ROW_NUMBER() OVER (ORDER BY ts, event_id) AS rn
        FROM events
    ),
    ia AS (
        SELECT rn, t, (t - LAG(t) OVER (ORDER BY rn)) / 1000000.0 AS a
        FROM arr
    ),
    svc AS (SELECT AVG(a) * {_UTIL!r} AS s FROM ia WHERE a IS NOT NULL),
    steps AS (
        SELECT rn, t, svc.s - ia.a AS d, svc.s
        FROM ia CROSS JOIN svc WHERE ia.a IS NOT NULL
    ),
    pref1 AS (
        SELECT rn, t, s, SUM(d) OVER (ORDER BY rn) AS p FROM steps
    ),
    pref AS (
        SELECT rn, t, s, p,
               MIN(p) OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING) AS pmin
        FROM pref1
    ),
    dep AS (
        SELECT rn,
               t / 1000000.0 + GREATEST(0.0, p - LEAST(pmin, 0.0)) + s
                   AS dtime
        FROM pref
    ),
    dia AS (
        SELECT dtime - LAG(dtime) OVER (ORDER BY rn) AS di
        FROM dep
    ),
    amom AS (
        SELECT AVG(a) AS ma,
               SUM(a * a) / COUNT(*) - AVG(a) * AVG(a) AS va
        FROM ia WHERE a IS NOT NULL
    ),
    dmom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(di) AS md,
               SUM(di * di) / COUNT(*) - AVG(di) * AVG(di) AS vd,
               CAST(SUM(CASE WHEN di < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nviol
        FROM dia WHERE di IS NOT NULL
    )
    SELECT d.n AS n_departures,
           ROUND(a.va / (a.ma * a.ma), 6) AS cv2_arrivals,
           ROUND(d.vd / (d.md * d.md), 6) AS cv2_departures,
           ROUND((d.vd / (d.md * d.md)) / (a.va / (a.ma * a.ma)), 6)
               AS smoothing_ratio,
           d.nviol AS n_order_violations
    FROM dmom d CROSS JOIN amom a
    """,
)
def events_lindley_departures(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Departure-process statistics of the wave-275 Lindley queue
    (deterministic service, rho = 0.8): departure time D_n = arrival +
    wait + service from the same prefix-min identity, then the
    squared coefficient of variation of departure gaps against arrival
    gaps. Burke's theorem (1956, public) says an M/M/1 departure
    process is Poisson (ratio 1); with DETERMINISTIC service the queue
    actively SMOOTHS bursts whenever it is busy — smoothing_ratio < 1
    quantifies it, the number that says what a buffering stage buys
    the next stage downstream. FIFO with single-server guarantees
    departures stay ordered (n_order_violations is an in-band zero
    assertion of the identity's correctness).

    Exactness device: the wave-275 window chains extended by one
    addition; moments in one pass; three rounded chains.

    Scale shape: same single total-order window as events_lindley_queue
    plus one more lag window."""
    e = table(spark, sf_dir, "events")
    w0 = Window.orderBy("ts", "event_id")
    arr = e.select(
        F.expr("unix_micros(ts)").alias("t"),
        F.row_number().over(w0).alias("rn"),
    )
    wr = Window.orderBy("rn")
    ia = arr.select(
        "rn",
        "t",
        ((F.col("t") - F.lag("t").over(wr)) / 1000000.0).alias("a"),
    ).where(F.col("a").isNotNull())
    svc = ia.agg((F.avg("a") * _UTIL).alias("s"))
    steps = ia.crossJoin(F.broadcast(svc)).select(
        "rn", "t", "s", (F.col("s") - F.col("a")).alias("d")
    )
    wcum = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    pref = steps.select(
        "rn", "t", "s", F.sum("d").over(wcum).alias("p")
    ).withColumn("pmin", F.min("p").over(wcum))
    dep = pref.select(
        "rn",
        (
            F.col("t") / 1000000.0
            + F.greatest(
                F.lit(0.0), F.col("p") - F.least(F.col("pmin"), F.lit(0.0))
            )
            + F.col("s")
        ).alias("dtime"),
    )
    dia = dep.select(
        (F.col("dtime") - F.lag("dtime").over(wr)).alias("di")
    ).where(F.col("di").isNotNull())
    amom = ia.agg(
        F.avg("a").alias("ma"),
        (
            F.sum(F.col("a") * F.col("a")) / F.count("*")
            - F.avg("a") * F.avg("a")
        ).alias("va"),
    )
    dmom = dia.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("di").alias("md"),
        (
            F.sum(F.col("di") * F.col("di")) / F.count("*")
            - F.avg("di") * F.avg("di")
        ).alias("vd"),
        F.sum(F.when(F.col("di") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_order_violations"),
    )
    cv2a = F.col("va") / (F.col("ma") * F.col("ma"))
    cv2d = F.col("vd") / (F.col("md") * F.col("md"))
    return dmom.crossJoin(F.broadcast(amom)).select(
        F.col("n").alias("n_departures"),
        F.round(cv2a, 6).alias("cv2_arrivals"),
        F.round(cv2d, 6).alias("cv2_departures"),
        F.round(cv2d / cv2a, 6).alias("smoothing_ratio"),
        "n_order_violations",
    )


@query(
    "events_jackson_tandem",
    oracle="""
    WITH ia AS (
        SELECT (epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (ORDER BY ts, event_id)) / 1000000.0 AS a
        FROM events
    ),
    lam AS (
        SELECT 1.0 / AVG(a) AS lam FROM ia WHERE a IS NOT NULL
    ),
    nodes AS (
        SELECT lam,
               lam * (0.7 / lam) AS rho1,
               lam * (0.5 / lam) AS rho2
        FROM lam
    )
    SELECT ROUND(lam, 6) AS lambda_rate,
           ROUND(rho1, 6) AS rho_node1,
           ROUND(rho2, 6) AS rho_node2,
           ROUND(rho1 / (1 - rho1), 6) AS l_node1,
           ROUND(rho2 / (1 - rho2), 6) AS l_node2,
           ROUND((rho1 / (1 - rho1) + rho2 / (1 - rho2)) / lam, 6)
               AS w_end_to_end_s,
           ROUND((1 - rho1) * (1 - rho2), 6) AS p_both_idle
    FROM nodes
    """,
)
def events_jackson_tandem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackson tandem-network metrics (Jackson, Operations Research
    1957, public): two M/M/1 stages in series with service rates sized
    to utilizations 0.7 and 0.5 of the measured arrival rate; by
    Jackson's theorem the stationary distribution FACTORS, so L_i =
    rho_i/(1-rho_i) per node, end-to-end W = (L1+L2)/lambda by Little,
    and P(both idle) = (1-rho1)(1-rho2) — the product form that makes
    pipeline capacity models tractable, here pinned as arithmetic over
    the measured lambda. (Burke's theorem is WHY stage 2 may be
    treated as M/M/1 — the empirical smoothing check is
    events_lindley_departures.)

    Exactness device: lambda from one moment; everything after is a
    literal-ratio chain (the utilizations are exact by construction —
    emitted to prove it).

    Scale shape: one aggregate over the scan."""
    e = table(spark, sf_dir, "events")
    ia = e.select(
        (
            (
                F.expr("unix_micros(ts)")
                - F.lag(F.expr("unix_micros(ts)")).over(
                    Window.orderBy("ts", "event_id")
                )
            )
            / 1000000.0
        ).alias("a")
    ).where(F.col("a").isNotNull())
    lam_df = ia.agg((1.0 / F.avg("a")).alias("lam"))
    lam = F.col("lam")
    rho1 = lam * (0.7 / lam)
    rho2 = lam * (0.5 / lam)
    l1 = rho1 / (1 - rho1)
    l2 = rho2 / (1 - rho2)
    return lam_df.select(
        F.round(lam, 6).alias("lambda_rate"),
        F.round(rho1, 6).alias("rho_node1"),
        F.round(rho2, 6).alias("rho_node2"),
        F.round(l1, 6).alias("l_node1"),
        F.round(l2, 6).alias("l_node2"),
        F.round((l1 + l2) / lam, 6).alias("w_end_to_end_s"),
        F.round((1 - rho1) * (1 - rho2), 6).alias("p_both_idle"),
    )
