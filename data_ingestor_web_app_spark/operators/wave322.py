"""Wave-322: Kulldorff temporal scan statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "events_scan_statistic",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY day
    ),
    idx AS (
        SELECT day, x,
               ROW_NUMBER() OVER (ORDER BY day) AS i,
               SUM(x) OVER (ORDER BY day) AS cum
        FROM daily
    ),
    tot AS (
        SELECT CAST(MAX(cum) AS BIGINT) AS ctot,
               CAST(MAX(i) AS BIGINT) AS ndays
        FROM idx
    ),
    wins AS (
        SELECT a.day AS win_start, b.day AS win_end,
               b.i - a.i + 1 AS len,
               b.cum - a.cum + a.x AS c,
               CAST(t.ctot AS DOUBLE) * (b.i - a.i + 1) / t.ndays AS e,
               t.ctot AS ctot
        FROM idx a JOIN idx b ON b.i >= a.i CROSS JOIN tot t
    ),
    llr AS (
        SELECT win_start, win_end, len, c, e,
               CASE WHEN c > e AND c < ctot THEN
                 c * LN(c / e)
                 + (ctot - c) * LN((ctot - c) / (ctot - e))
               ELSE 0 END AS llr
        FROM wins
    ),
    best AS (
        SELECT win_start, win_end, len, c, e, llr,
               ROW_NUMBER() OVER (ORDER BY llr DESC, win_start, win_end)
                   AS rk
        FROM llr
    )
    SELECT CAST(STRFTIME(win_start, '%Y-%m-%d') AS VARCHAR) AS win_start,
           CAST(STRFTIME(win_end, '%Y-%m-%d') AS VARCHAR) AS win_end,
           CAST(len AS BIGINT) AS window_days,
           CAST(c AS BIGINT) AS observed,
           ROUND(e, 6) AS expected,
           ROUND(llr, 6) AS llr,
           ROUND(c / e, 6) AS relative_risk
    FROM best WHERE rk = 1
    """,
)
def events_scan_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kulldorff's temporal scan statistic (Kulldorff, Comm. in Stat.
    1997, public): over ALL contiguous day windows, maximize the
    Poisson log-likelihood ratio c·ln(c/e) + (C-c)·ln((C-c)/(C-e))
    against the uniform-intensity expectation e = C·len/N — the
    most-anomalous cluster WITHOUT pre-specifying its size, which is
    exactly what fixed-window alarms (c-chart, burn rates) cannot do.
    Emits the winning window, its observed/expected counts, the LLR
    and the relative risk (only hotspots — windows with c > e —
    compete; the LLR's significance is usually Monte-Carlo'd, here the
    value itself is the artifact).

    Determinism: daily prefix sums exact; the window set is the
    calendar-squared pair join; the argmax is totally ordered
    (llr desc, start, end); ROUND 6.

    Scale shape: daily collapse first; the all-windows frame is
    calendar², never corpus-sized; one top-1 selection."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    w = Window.orderBy("day")
    idx = daily.select(
        "day",
        "x",
        F.row_number().over(w).alias("i"),
        F.sum("x").over(w).alias("cum"),
    )
    tot = idx.agg(
        F.max("cum").cast("long").alias("ctot"),
        F.max("i").cast("long").alias("ndays"),
    )
    a = idx.select(
        F.col("day").alias("win_start"),
        F.col("i").alias("ia"),
        F.col("cum").alias("cuma"),
        F.col("x").alias("xa"),
    )
    b = idx.select(
        F.col("day").alias("win_end"),
        F.col("i").alias("ib"),
        F.col("cum").alias("cumb"),
    )
    wins = (
        a.join(b, F.col("ib") >= F.col("ia"))
        .crossJoin(F.broadcast(tot))
        .select(
            "win_start",
            "win_end",
            (F.col("ib") - F.col("ia") + 1).alias("len"),
            (F.col("cumb") - F.col("cuma") + F.col("xa")).alias("c"),
            (
                F.col("ctot").cast("double")
                * (F.col("ib") - F.col("ia") + 1)
                / F.col("ndays")
            ).alias("e"),
            "ctot",
        )
    )
    llr = wins.select(
        "win_start",
        "win_end",
        "len",
        "c",
        "e",
        F.when(
            (F.col("c") > F.col("e")) & (F.col("c") < F.col("ctot")),
            F.col("c") * F.log(F.col("c") / F.col("e"))
            + (F.col("ctot") - F.col("c"))
            * F.log(
                (F.col("ctot") - F.col("c")) / (F.col("ctot") - F.col("e"))
            ),
        )
        .otherwise(0.0)
        .alias("llr"),
    )
    best = llr.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("llr").desc(), "win_start", "win_end"))
        .alias("rk"),
    ).where(F.col("rk") == 1)
    return best.select(
        F.date_format("win_start", "yyyy-MM-dd").alias("win_start"),
        F.date_format("win_end", "yyyy-MM-dd").alias("win_end"),
        F.col("len").cast("long").alias("window_days"),
        F.col("c").cast("long").alias("observed"),
        F.round("e", 6).alias("expected"),
        F.round("llr", 6).alias("llr"),
        F.round(F.col("c") / F.col("e"), 6).alias("relative_risk"),
    )
