"""Wave-323: sequential-halving best-arm identification on the replay and
coarsened exact matching (CEM).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_sequential_halving",
    oracle="""
    WITH span AS (
        SELECT MIN(ts) AS t0,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 3.0 AS seg
        FROM events
    ),
    seg AS (
        SELECT event_type,
               LEAST(CAST(FLOOR((epoch_us(ts) - epoch_us(s.t0)) / s.seg)
                          AS BIGINT), 2) AS r,
               value
        FROM events CROSS JOIN span s
    ),
    m AS (
        SELECT r, event_type,
               AVG(value) AS mu, CAST(COUNT(*) AS BIGINT) AS n
        FROM seg GROUP BY r, event_type
    ),
    r1 AS (
        SELECT event_type, mu, n,
               ROW_NUMBER() OVER (ORDER BY mu DESC, event_type) AS rk
        FROM m WHERE r = 0
    ),
    r2 AS (
        SELECT m.event_type, m.mu, m.n,
               ROW_NUMBER() OVER (ORDER BY m.mu DESC, m.event_type) AS rk
        FROM m JOIN r1 ON m.event_type = r1.event_type
        WHERE m.r = 1 AND r1.rk <= 3
    ),
    r3 AS (
        SELECT m.event_type, m.mu, m.n,
               ROW_NUMBER() OVER (ORDER BY m.mu DESC, m.event_type) AS rk
        FROM m JOIN r2 ON m.event_type = r2.event_type
        WHERE m.r = 2 AND r2.rk <= 2
    ),
    truth AS (
        SELECT event_type,
               ROW_NUMBER() OVER (ORDER BY AVG(value) DESC, event_type)
                   AS rk
        FROM events GROUP BY event_type
    )
    SELECT (SELECT event_type FROM r3 WHERE rk = 1) AS best_arm,
           ROUND((SELECT mu FROM r3 WHERE rk = 1), 6) AS final_round_mean,
           CAST((SELECT n FROM r3 WHERE rk = 1) AS BIGINT)
               AS final_round_pulls,
           (SELECT event_type FROM truth WHERE rk = 1) AS full_data_best,
           (SELECT event_type FROM r3 WHERE rk = 1)
             = (SELECT event_type FROM truth WHERE rk = 1) AS halving_found_it
    """,
)
def model_sequential_halving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential halving best-arm identification (Karnin, Koren &
    Somekh, ICML 2013; the successive-halving engine inside Hyperband —
    public), replayed deterministically on the event stream: split the
    time span into three equal rounds; round 1 ranks all five
    event-type 'arms' by mean value and keeps the top 3, round 2 keeps
    the top 2, round 3 picks the winner — each round only spends budget
    on survivors, the whole point of the algorithm. Emitted next to the
    full-data best arm, so halving_found_it measures what the
    budget-capped tournament gives up (on a stationary fixture it
    should almost always agree).

    Determinism: round boundaries are exact epoch-micro arithmetic
    (the final microsecond clamps into round 2); per-round means are
    fixed aggregates with (mean desc, name) tie order; the flag is a
    string equality.

    Scale shape: one (round, arm) partial-agg groupBy over the scan —
    the tournament itself runs on a 15-row frame."""
    e = table(spark, sf_dir, "events")
    span = e.agg(
        F.expr("unix_micros(min(ts))").alias("t0us"),
        (
            (F.expr("unix_micros(max(ts))") - F.expr("unix_micros(min(ts))"))
            / 3.0
        ).alias("seg"),
    )
    seg = e.crossJoin(F.broadcast(span)).select(
        "event_type",
        F.least(
            F.floor(
                (F.expr("unix_micros(ts)") - F.col("t0us")) / F.col("seg")
            ).cast("long"),
            F.lit(2),
        ).alias("r"),
        "value",
    )
    m = seg.groupBy("r", "event_type").agg(
        F.avg("value").alias("mu"), F.count("*").cast("long").alias("n")
    ).cache()  # 15 rows, read by every round below

    def rnd(df, r, survivors, keep):
        base = m.where(F.col("r") == r)
        if survivors is not None:
            base = base.join(
                F.broadcast(survivors.select("event_type")), "event_type"
            )
        w = Window.orderBy(F.col("mu").desc(), "event_type")
        ranked = base.select(
            "event_type", "mu", "n", F.row_number().over(w).alias("rk")
        )
        return ranked.where(F.col("rk") <= keep)

    r1 = rnd(m, 0, None, 3)
    r2 = rnd(m, 1, r1, 2)
    r3 = rnd(m, 2, r2, 1)
    truth = (
        e.groupBy("event_type")
        .agg(F.avg("value").alias("mu"))
        .select(
            "event_type",
            F.row_number()
            .over(Window.orderBy(F.col("mu").desc(), "event_type"))
            .alias("rk"),
        )
        .where(F.col("rk") == 1)
        .select(F.col("event_type").alias("full_data_best"))
    )
    return (
        r3.select(
            F.col("event_type").alias("best_arm"),
            F.round("mu", 6).alias("final_round_mean"),
            F.col("n").alias("final_round_pulls"),
        )
        .crossJoin(F.broadcast(truth))
        .select(
            "best_arm",
            "final_round_mean",
            "final_round_pulls",
            "full_data_best",
            (F.col("best_arm") == F.col("full_data_best")).alias(
                "halving_found_it"
            ),
        )
    )


@query(
    "model_cem_matching",
    oracle="""
    WITH units AS (
        SELECT CASE WHEN DAYOFWEEK(ts) IN (0, 6) THEN 1 ELSE 0 END AS t,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CAST(FLOOR(EXTRACT(hour FROM ts) / 6) AS BIGINT) AS hband,
               LEAST(CAST(FLOOR(value / 50) AS BIGINT), 4) AS vband
        FROM events
    ),
    strata AS (
        SELECT hband, vband,
               CAST(SUM(t) AS BIGINT) AS nt,
               CAST(SUM(1 - t) AS BIGINT) AS nc,
               CAST(SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS yt,
               CAST(SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS yc
        FROM units GROUP BY hband, vband
    ),
    tots AS (
        SELECT CAST(SUM(nt) AS BIGINT) AS ta, CAST(SUM(nc) AS BIGINT) AS ca
        FROM strata
    ),
    matched AS (SELECT * FROM strata WHERE nt > 0 AND nc > 0),
    l1 AS (
        SELECT SUM(ABS(CAST(s.nt AS DOUBLE) / t.ta
                       - CAST(s.nc AS DOUBLE) / t.ca)) / 2 AS l1_before
        FROM strata s CROSS JOIN tots t
    ),
    att AS (
        SELECT CAST(SUM(nt) AS BIGINT) AS mt,
               CAST(SUM(nc) AS BIGINT) AS mc,
               SUM((CAST(yt AS DOUBLE) / nt - CAST(yc AS DOUBLE) / nc)
                   * nt)
                 / SUM(nt) AS att
        FROM matched
    )
    SELECT CAST((SELECT COUNT(*) FROM strata) AS BIGINT) AS n_strata,
           CAST((SELECT COUNT(*) FROM matched) AS BIGINT) AS n_matched_strata,
           a.mt AS treated_matched, a.mc AS control_matched,
           ROUND(l.l1_before, 6) AS l1_imbalance,
           ROUND(a.att, 6) AS att_weekend_on_purchase
    FROM att a CROSS JOIN l1 l
    """,
)
def model_cem_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarsened exact matching (Iacus, King & Porro, Political
    Analysis 2012, public): coarsen the covariates (hour into four
    6-hour bands, value into $50 bands capped at 5) into strata,
    keep only strata containing BOTH weekend-treated and weekday-
    control units, and estimate the ATT of 'weekend' on purchase as
    the treated-weighted within-stratum outcome difference. The L1
    multivariate imbalance (Iacus-King-Porro's own diagnostic — half
    the L1 distance between the treated and control stratum
    histograms) is emitted for the raw data; within matched strata it
    is zero BY CONSTRUCTION, which is CEM's selling point over
    propensity scores (the registry's IPW row re-weights; CEM prunes).

    Determinism: strata are exact integer bins; all counts integer;
    two rounded chains.

    Scale shape: one (stratum, arm) conditional groupBy over the scan;
    matching and the estimate run on the stratum frame (<=20 rows)."""
    units = table(spark, sf_dir, "events").select(
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("t"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.floor(F.hour("ts") / 6).cast("long").alias("hband"),
        F.least(
            F.floor(F.col("value") / 50).cast("long"), F.lit(4)
        ).alias("vband"),
    )
    strata = units.groupBy("hband", "vband").agg(
        F.sum("t").cast("long").alias("nt"),
        F.sum(1 - F.col("t")).cast("long").alias("nc"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yt"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yc"),
    ).cache()  # <=20 strata, read by the L1, match and ATT passes
    tots = strata.agg(
        F.sum("nt").cast("long").alias("ta"),
        F.sum("nc").cast("long").alias("ca"),
    )
    l1 = (
        strata.crossJoin(F.broadcast(tots))
        .agg(
            (
                F.sum(
                    F.abs(
                        F.col("nt").cast("double") / F.col("ta")
                        - F.col("nc").cast("double") / F.col("ca")
                    )
                )
                / 2
            ).alias("l1_before")
        )
    )
    matched = strata.where((F.col("nt") > 0) & (F.col("nc") > 0))
    att = matched.agg(
        F.sum("nt").cast("long").alias("mt"),
        F.sum("nc").cast("long").alias("mc"),
        (
            F.sum(
                (
                    F.col("yt").cast("double") / F.col("nt")
                    - F.col("yc").cast("double") / F.col("nc")
                )
                * F.col("nt")
            )
            / F.sum("nt")
        ).alias("att"),
    )
    n_strata = strata.agg(F.count("*").cast("long").alias("n_strata"))
    n_matched = matched.agg(F.count("*").cast("long").alias("n_matched"))
    return (
        att.crossJoin(F.broadcast(l1))
        .crossJoin(F.broadcast(n_strata))
        .crossJoin(F.broadcast(n_matched))
        .select(
            "n_strata",
            F.col("n_matched").alias("n_matched_strata"),
            F.col("mt").alias("treated_matched"),
            F.col("mc").alias("control_matched"),
            F.round("l1_before", 6).alias("l1_imbalance"),
            F.round("att", 6).alias("att_weekend_on_purchase"),
        )
    )
