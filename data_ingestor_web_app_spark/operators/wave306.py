"""Wave-306: bullwhip variance-amplification ratio across the demand
chain and the c-chart (Poisson attribute control) on daily error counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


def _daily_mom_sql(src: str) -> str:
    return f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               SUM(CAST(x AS HUGEINT) * x) AS s2
        FROM ({src})
    """


@query(
    "events_bullwhip",
    oracle=f"""
    WITH dmom AS ({_daily_mom_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS x FROM events "
        "WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)"
    )}),
    omom AS ({_daily_mom_sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS x FROM orders "
        "GROUP BY o_orderdate"
    )}),
    cv AS (
        SELECT d.n AS n_demand_days, o.n AS n_order_days,
               (CAST(d.s2 AS DOUBLE) / d.n
                - (CAST(d.s1 AS DOUBLE) / d.n) * (CAST(d.s1 AS DOUBLE) / d.n))
               / ((CAST(d.s1 AS DOUBLE) / d.n)
                  * (CAST(d.s1 AS DOUBLE) / d.n)) AS cv2_demand,
               (CAST(o.s2 AS DOUBLE) / o.n
                - (CAST(o.s1 AS DOUBLE) / o.n) * (CAST(o.s1 AS DOUBLE) / o.n))
               / ((CAST(o.s1 AS DOUBLE) / o.n)
                  * (CAST(o.s1 AS DOUBLE) / o.n)) AS cv2_orders
        FROM dmom d CROSS JOIN omom o
    )
    SELECT n_demand_days, n_order_days,
           ROUND(cv2_demand, 6) AS cv2_demand,
           ROUND(cv2_orders, 6) AS cv2_orders,
           ROUND(cv2_orders / cv2_demand, 6) AS bullwhip_ratio,
           cv2_orders / cv2_demand > 1 AS amplifying
    FROM cv
    """,
)
def events_bullwhip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip-effect measurement (Lee, Padmanabhan & Whang, Mgmt Sci
    1997; the CV²-ratio estimator of Chen, Drezner, Ryan & Simchi-Levi,
    Mgmt Sci 2000 — public): the ratio of squared coefficients of
    variation between upstream daily ORDER placements and downstream
    daily customer DEMAND (purchase events). Ratio > 1 = the chain
    amplifies noise as it propagates upstream — the classic whip — and
    the CV² normalization makes the two series comparable despite
    different volumes. Pairs with warehouse_xyz_analysis (which flags
    per-item volatility) by measuring the SYSTEM's volatility transfer.

    Determinism: both daily series are exact integer counts; CV² from
    exact power sums divided once; one rounded ratio; the flag
    compares unrounded.

    Scale shape: two independent daily collapses (each one partial-agg
    shuffle over its scan), then 1-row arithmetic."""
    def mom(df):
        return df.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("x").cast("long").alias("s1"),
            F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("s2"),
        )

    demand = mom(
        table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    orders = mom(
        table(spark, sf_dir, "orders")
        .groupBy("o_orderdate")
        .agg(F.count("*").cast("long").alias("x"))
    )

    def cv2(pfx):
        mean = F.col(f"{pfx}_s1").cast("double") / F.col(f"{pfx}_n")
        return (
            F.col(f"{pfx}_s2").cast("double") / F.col(f"{pfx}_n") - mean * mean
        ) / (mean * mean)

    j = demand.select(
        F.col("n").alias("d_n"), F.col("s1").alias("d_s1"), F.col("s2").alias("d_s2")
    ).crossJoin(
        orders.select(
            F.col("n").alias("o_n"),
            F.col("s1").alias("o_s1"),
            F.col("s2").alias("o_s2"),
        )
    )
    return j.select(
        F.col("d_n").alias("n_demand_days"),
        F.col("o_n").alias("n_order_days"),
        F.round(cv2("d"), 6).alias("cv2_demand"),
        F.round(cv2("o"), 6).alias("cv2_orders"),
        F.round(cv2("o") / cv2("d"), 6).alias("bullwhip_ratio"),
        (cv2("o") / cv2("d") > 1).alias("amplifying"),
    )


@query(
    "events_c_chart",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM events GROUP BY day
    ),
    center AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS DOUBLE) / COUNT(*) AS cbar
        FROM daily
    )
    SELECT ct.n_days,
           ROUND(ct.cbar, 6) AS c_bar,
           ROUND(ct.cbar + 3 * SQRT(ct.cbar), 6) AS ucl,
           ROUND(GREATEST(ct.cbar - 3 * SQRT(ct.cbar), 0), 6) AS lcl,
           CAST(SUM(CASE WHEN d.c > ct.cbar + 3 * SQRT(ct.cbar)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_above_ucl,
           CAST(SUM(CASE WHEN d.c < GREATEST(ct.cbar - 3 * SQRT(ct.cbar), 0)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_below_lcl,
           CAST(MAX(d.c) AS BIGINT) AS max_daily_errors
    FROM daily d CROSS JOIN center ct
    GROUP BY ct.n_days, ct.cbar
    """,
)
def events_c_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """c-chart — the Poisson attribute control chart (Shewhart 1931,
    standardized in Western Electric SQC Handbook 1956, public) — on
    daily error-event counts: center line c-bar, control limits
    c-bar ± 3·sqrt(c-bar) (the Poisson mean-variance identity is the
    whole chart: no separate dispersion estimate needed), and the
    out-of-control day counts. The COUNTED-defects complement to the
    registry's variables charts (Shewhart x-bar, EWMA, CUSUM): those
    watch a measured level, this watches "how many bad things happened
    today" — the form on-call dashboards actually use.

    Determinism: daily counts are exact integers; c-bar and limits are
    one float chain reused verbatim for the comparisons; counts of
    exceedances are integers.

    Scale shape: one daily collapse, one broadcast-center scan of the
    calendar-bounded frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("c")
        )
    )
    center = daily.agg(
        F.count("*").cast("long").alias("n_days"),
        (F.sum("c").cast("double") / F.count("*")).alias("cbar"),
    )
    ucl = F.col("cbar") + 3 * F.sqrt("cbar")
    lcl = F.greatest(F.col("cbar") - 3 * F.sqrt("cbar"), F.lit(0.0))
    return (
        daily.crossJoin(F.broadcast(center))
        .groupBy("n_days", "cbar")
        .agg(
            F.sum(F.when(F.col("c") > ucl, 1).otherwise(0))
            .cast("long")
            .alias("n_above_ucl"),
            F.sum(F.when(F.col("c") < lcl, 1).otherwise(0))
            .cast("long")
            .alias("n_below_lcl"),
            F.max("c").cast("long").alias("max_daily_errors"),
        )
        .select(
            "n_days",
            F.round("cbar", 6).alias("c_bar"),
            F.round(ucl, 6).alias("ucl"),
            F.round(lcl, 6).alias("lcl"),
            "n_above_ucl",
            "n_below_lcl",
            "max_daily_errors",
        )
    )
