"""Wave-122: Cochran's Q test for k related binary outcomes and a
date-function edge-case parity panel. The streaming member lives in
streaming/wave122.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_cochran_q",
    oracle="""
    WITH counts AS (
        SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY user_id, event_type
    ),
    k AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events),
    flags AS (
        SELECT user_id, event_type,
               CASE WHEN c * (SELECT k FROM k)
                         > SUM(c) OVER (PARTITION BY user_id)
                    THEN 1 ELSE 0 END AS hit
        FROM counts
    ),
    rows_l AS (
        SELECT user_id, CAST(SUM(hit) AS BIGINT) AS l
        FROM flags GROUP BY user_id
    ),
    cols_g AS (
        SELECT event_type, CAST(SUM(hit) AS BIGINT) AS g
        FROM flags GROUP BY event_type
    ),
    sums AS (
        SELECT (SELECT k FROM k) AS k,
               (SELECT CAST(SUM(l) AS BIGINT) FROM rows_l) AS sl,
               (SELECT CAST(SUM(l * l) AS BIGINT) FROM rows_l) AS sl2,
               (SELECT CAST(SUM(g * g) AS BIGINT) FROM cols_g) AS sg2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_l) AS n_users
    )
    SELECT n_users, k,
           CAST(k - 1 AS BIGINT) AS df,
           ROUND((k - 1) * CAST(k * sg2 - sl * sl AS DOUBLE)
                 / NULLIF(k * sl - sl2, 0), 6) AS q_stat,
           ROUND((k - 1) * POW(1 - 2.0 / (9 * (k - 1))
                 + 1.959964 * SQRT(2.0 / (9 * (k - 1))), 3), 6) AS crit_05,
           CASE WHEN (k - 1) * CAST(k * sg2 - sl * sl AS DOUBLE)
                     / NULLIF(k * sl - sl2, 0)
                     > (k - 1) * POW(1 - 2.0 / (9 * (k - 1))
                       + 1.959964 * SQRT(2.0 / (9 * (k - 1))), 3)
                THEN 1 ELSE 0 END AS significant
    FROM sums
    """,
)
def agg_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test (Cochran 1950, public) on a user x event-type
    binary outcome matrix: the outcome is "this type claimed MORE than
    the user's fair 1/k share of their events" (c*k > total — an integer
    comparison that guarantees within-user variation, unlike mere
    participation, which saturates on active panels). Q =
    (k-1)[k*sum(G_j^2) - T^2] / (k*T - sum(L_i^2)) with column totals G,
    row totals L, grand total T — the k-treatment generalization of
    McNemar that belongs next to agg_mcnemar_test and agg_fleiss_kappa in
    the related-samples family.

    Determinism: the outcome matrix, G/L totals, and both quadratic
    sums are exact integers; Q is one NULLIF-guarded division. The 5%
    critical value uses the Wilson-Hilferty cube approximation — a fixed
    double chain identical in both engines.

    Scale shape: two map-side-combined aggregates (per-user, per-type)
    over the (user, type) count pairs; no user x type grid is ever
    materialized beyond the observed pairs (absent pairs can never beat
    the fair-share threshold)."""
    counts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").cast("long").alias("c"))
    )
    k_df = counts.agg(
        F.countDistinct("event_type").cast("long").alias("k")
    )
    wuser = Window.partitionBy("user_id")
    flags = counts.crossJoin(F.broadcast(k_df)).select(
        "user_id",
        "event_type",
        F.when(
            F.col("c") * F.col("k") > F.sum("c").over(wuser), 1
        )
        .otherwise(0)
        .alias("hit"),
    )
    rows_l = flags.groupBy("user_id").agg(F.sum("hit").cast("long").alias("l"))
    cols_g = flags.groupBy("event_type").agg(F.sum("hit").cast("long").alias("g"))
    sums = (
        rows_l.agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("l").cast("long").alias("sl"),
            F.sum(F.col("l") * F.col("l")).cast("long").alias("sl2"),
        )
        .crossJoin(
            cols_g.agg(
                F.count("*").cast("long").alias("k"),
                F.sum(F.col("g") * F.col("g")).cast("long").alias("sg2"),
            )
        )
    )
    k = F.col("k")
    q = (
        (k - 1)
        * (k * F.col("sg2") - F.col("sl") * F.col("sl")).cast("double")
        / F.nullif(k * F.col("sl") - F.col("sl2"), F.lit(0))
    )
    crit = (k - 1) * F.pow(
        1 - 2.0 / (9 * (k - 1)) + 1.959964 * F.sqrt(2.0 / (9 * (k - 1))), 3
    )
    return sums.select(
        "n_users",
        k.alias("k"),
        (k - 1).cast("long").alias("df"),
        F.round(q, 6).alias("q_stat"),
        F.round(crit, 6).alias("crit_05"),
        F.when(q > crit, 1).otherwise(0).alias("significant"),
    )


@query(
    "fn_date_edge_cases",
    oracle="""
    WITH d AS (
        SELECT o_orderkey, CAST(o_orderdate AS DATE) AS dt
        FROM orders WHERE o_orderkey < 300
    ),
    iso AS (
        SELECT o_orderkey, dt, CAST(ISODOW(dt) AS BIGINT) AS isodow FROM d
    )
    SELECT o_orderkey,
           STRFTIME(dt, '%Y-%m-%d') AS day,
           STRFTIME(LAST_DAY(dt), '%Y-%m-%d') AS month_end,
           STRFTIME(dt + INTERVAL 1 MONTH, '%Y-%m-%d') AS plus_month,
           CAST(DAYOFYEAR(dt) AS BIGINT) AS doy,
           isodow,
           STRFTIME(dt + CAST(CASE WHEN (8 - isodow) % 7 = 0 THEN 7
                              ELSE (8 - isodow) % 7 END AS INT),
                    '%Y-%m-%d') AS next_monday,
           CAST(YEAR(dt + CAST(4 - isodow AS INT)) AS BIGINT) AS iso_year,
           CAST(QUARTER(dt) AS BIGINT) AS qtr,
           CAST(DATEDIFF('day', DATE '1995-01-01', dt) AS BIGINT)
               AS days_since_1995
    FROM iso
    """,
)
def fn_date_edge_cases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function edge-case parity panel over a bounded order slice:
    month-end clamping (LAST_DAY and the Jan-31 + 1 month -> Feb-28/29
    clamp of add_months), day-of-year across leap years, ISO day-of-week,
    next-Monday (strictly after, the next_day contract), ISO week-year
    via the Thursday rule (the ISO year is the calendar year of the
    week's Thursday — computed from first principles identically in both
    engines rather than trusting dialect-specific EXTRACT variants),
    quarter, and signed day arithmetic against an epoch date.

    Determinism: everything is calendar integer arithmetic on DATE
    values; dates render as strings per the engine's date-as-string
    oracle rule.

    Scale shape: pure per-row projection — scan-speed, pushdown-friendly,
    no shuffle at any scale (the o_orderkey < 300 bound exists only to
    keep the driver's comparison frame small)."""
    d = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 300)
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("dt"))
    )
    # ISO dow from Spark's Sunday=1 dayofweek: ((dow + 5) % 7) + 1
    isodow = ((F.dayofweek("dt") + 5) % 7 + 1).cast("long")
    ahead = F.when((8 - isodow) % 7 == 0, 7).otherwise((8 - isodow) % 7)
    return d.select(
        "o_orderkey",
        F.date_format("dt", "yyyy-MM-dd").alias("day"),
        F.date_format(F.last_day("dt"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months("dt", 1), "yyyy-MM-dd").alias("plus_month"),
        F.dayofyear("dt").cast("long").alias("doy"),
        isodow.alias("isodow"),
        F.date_format(
            F.date_add("dt", ahead.cast("int")), "yyyy-MM-dd"
        ).alias("next_monday"),
        F.year(F.date_add("dt", (4 - isodow).cast("int")))
        .cast("long")
        .alias("iso_year"),
        F.quarter("dt").cast("long").alias("qtr"),
        F.datediff("dt", F.lit("1995-01-01").cast("date"))
        .cast("long")
        .alias("days_since_1995"),
    )
