"""Wave-290: Tukey's one-degree-of-freedom test for non-additivity (is
the event_type x weekday layout really additive, or do effects
multiply?) and the madogram with Gneiting's fractal-dimension estimate
(the first-order structure function completing the Hurst/DFA/variance-
time roughness suite).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_tukey_additivity",
    oracle="""
    WITH cells AS (
        SELECT event_type AS r, DAYOFWEEK(ts) + 1 AS c, AVG(value) AS y
        FROM events GROUP BY 1, 2
    ),
    gm AS (SELECT AVG(y) AS g FROM cells),
    rows_e AS (
        SELECT r, AVG(y) AS yr FROM cells GROUP BY r
    ),
    cols_e AS (
        SELECT c, AVG(y) AS yc FROM cells GROUP BY c
    ),
    dec AS (
        SELECT cl.r, cl.c,
               cl.y - re.yr - ce.yc + g.g AS resid,
               re.yr - g.g AS a,
               ce.yc - g.g AS b
        FROM cells cl
        JOIN rows_e re ON re.r = cl.r
        JOIN cols_e ce ON ce.c = cl.c
        CROSS JOIN gm g
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               SUM(resid * a * b) AS sab,
               SUM(a * a) / 7 AS sa2,
               SUM(b * b) / 5 AS sb2,
               SUM(resid * resid) AS ss_resid
        FROM dec
    ),
    tstat AS (
        SELECT n_cells, ss_resid,
               sab * sab / (sa2 * sb2) AS ss_nonadd
        FROM sums
    )
    SELECT n_cells,
           ROUND(ss_nonadd, 6) AS ss_nonadd,
           ROUND(ss_resid, 6) AS ss_resid,
           ROUND(ss_nonadd / ((ss_resid - ss_nonadd) / (35 - 5 - 7)), 6)
               AS f_stat,
           ss_nonadd / ((ss_resid - ss_nonadd) / (35 - 5 - 7)) > 4.279344
               AS non_additive
    FROM tstat
    """,
)
def agg_tukey_additivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's one-degree-of-freedom test for non-additivity (Tukey,
    Biometrics 1949, public) on the event_type x weekday table of mean
    values: decompose cell means into grand + row + column effects,
    then regress the residuals on the single synthetic regressor
    a_i*b_j — SS_nonadd = (sum r_ij a_i b_j)^2 / (sum a_i^2 * sum
    b_j^2) takes exactly one df, and F = SS_nonadd / ((SS_resid -
    SS_nonadd)/(rc - r - c)) against the literal F(1, 23) 5% point
    4.279344. Rejection means effects MULTIPLY (a log transform would
    fix it) — the one-line answer to "can I model type and weekday
    additively?", which agg_median_polish assumes and never tests.

    Exactness device: effects and residuals are exact AVG chains over
    the 35-cell frame; SS_nonadd's normalizer sum(a^2)*sum(b^2)
    computes from the same 35-cell frame (each row effect repeats over
    7 columns, hence the /7 and /5 de-duplications); the flag compares the identical unrounded F.

    Scale shape: one fact rollup + bounded-frame arithmetic."""
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.col("event_type").alias("r"),
            F.dayofweek("ts").cast("long").alias("c"),
        )
        .agg(F.avg("value").alias("y"))
    )
    gm = cells.agg(F.avg("y").alias("g"))
    rows_e = cells.groupBy("r").agg(F.avg("y").alias("yr"))
    cols_e = cells.groupBy("c").agg(F.avg("y").alias("yc"))
    dec = (
        cells.join(rows_e, "r")
        .join(cols_e, "c")
        .crossJoin(F.broadcast(gm))
        .select(
            (F.col("y") - F.col("yr") - F.col("yc") + F.col("g")).alias(
                "resid"
            ),
            (F.col("yr") - F.col("g")).alias("a"),
            (F.col("yc") - F.col("g")).alias("b"),
        )
    )
    sums = dec.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum(F.col("resid") * F.col("a") * F.col("b")).alias("sab"),
        (F.sum(F.col("a") * F.col("a")) / 7).alias("sa2"),
        (F.sum(F.col("b") * F.col("b")) / 5).alias("sb2"),
        F.sum(F.col("resid") * F.col("resid")).alias("ss_resid"),
    )
    ss_nonadd = F.col("sab") * F.col("sab") / (F.col("sa2") * F.col("sb2"))
    fstat = ss_nonadd / (
        (F.col("ss_resid") - ss_nonadd) / (35 - 5 - 7)
    )
    return sums.select(
        "n_cells",
        F.round(ss_nonadd, 6).alias("ss_nonadd"),
        F.round("ss_resid", 6).alias("ss_resid"),
        F.round(fstat, 6).alias("f_stat"),
        (fstat > 4.279344).alias("non_additive"),
    )


_MADO_LAGS = [1, 2, 4, 8, 24]


@query(
    "events_madogram",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_us(ts) // 3600000000 AS hidx, AVG(value) AS x
        FROM events GROUP BY 1
    ),
    lags AS (SELECT UNNEST(ARRAY{_MADO_LAGS}) AS k),
    idx AS (
        SELECT x, ROW_NUMBER() OVER (ORDER BY hidx) AS rn FROM hourly
    ),
    pairs AS (
        SELECT l.k, ABS(a.x - b.x) AS d
        FROM idx a
        CROSS JOIN lags l
        JOIN idx b ON b.rn = a.rn + l.k
    )
    SELECT k AS lag_h,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(AVG(d), 6) AS madogram
    FROM pairs GROUP BY k ORDER BY k
    """,
)
def events_madogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The madogram — the first-order structure function gamma_1(k) =
    E|x_t - x_{{t+k}}| at lags 1/2/4/8/24 hours (Gneiting, Sevcikova &
    Percival, Statistical Science 2012, public): its log-log slope
    alpha gives the fractal dimension D = 2 - alpha (the madogram
    estimator — ROBUST where the variogram's squared differences let
    single spikes dominate). Read with events_hurst_rs / events_dfa /
    events_variance_time_curve this completes the roughness panel:
    four estimators, one phenomenon, mutual cross-checks (the test
    fits the slope and brackets D in (1, 2), the admissible range for
    a 1-d series graph).

    Exactness device: exact row-number lag join (all lags from one
    literal fan-out); one ABS-mean per lag.

    Scale shape: hourly rollup + an O(T * L) lag join on the bounded
    frame."""
    hourly = (
        table(spark, sf_dir, "events")
        .groupBy(F.expr("unix_micros(ts) div 3600000000").alias("hidx"))
        .agg(F.avg("value").alias("x"))
    )
    idx = hourly.select(
        "x", F.row_number().over(Window.orderBy("hidx")).alias("rn")
    )
    lags = F.array(*[F.lit(k) for k in _MADO_LAGS])
    a = idx.select(F.col("x").alias("xa"), F.col("rn").alias("ra"))
    b = idx.select(F.col("x").alias("xb"), F.col("rn").alias("rb"))
    pairs = (
        a.withColumn("k", F.explode(lags))
        .join(b, F.col("rb") == F.col("ra") + F.col("k"))
        .select("k", F.abs(F.col("xa") - F.col("xb")).alias("d"))
    )
    return (
        pairs.groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(F.avg("d"), 6).alias("madogram"),
        )
        .select(F.col("k").alias("lag_h"), "n_pairs", "madogram")
        .orderBy("lag_h")
    )
