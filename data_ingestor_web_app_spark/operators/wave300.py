"""Wave-300: Banzhaf voting power over the event-type weighted game and a
Bertrand ballot-problem audit on the daily lead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_banzhaf_power",
    oracle="""
    WITH w AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS wt,
               CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS BIGINT)
                   AS idx
        FROM events GROUP BY event_type
    ),
    q AS (
        SELECT CAST(SUM(wt) // 2 + 1 AS BIGINT) AS quota,
               CAST(COUNT(*) AS BIGINT) AS np
        FROM w
    ),
    masks AS (SELECT UNNEST(RANGE(0, 32)) AS m),
    coal AS (
        SELECT m, CAST(COALESCE(SUM(CASE WHEN (m // CAST(ROUND(POWER(2, idx))
                                                    AS BIGINT)) % 2 = 1
                                         THEN wt END), 0) AS BIGINT) AS cw
        FROM masks CROSS JOIN w
        WHERE m < CAST(ROUND(POWER(2, (SELECT np FROM q))) AS BIGINT)
        GROUP BY m
    ),
    swings AS (
        SELECT w.event_type, w.wt,
               CAST(SUM(CASE WHEN (c.m // CAST(ROUND(POWER(2, w.idx))
                                        AS BIGINT)) % 2 = 1
                              AND c.cw >= q.quota
                              AND c.cw - w.wt < q.quota
                             THEN 1 ELSE 0 END) AS BIGINT) AS eta
        FROM w CROSS JOIN coal c CROSS JOIN q
        GROUP BY w.event_type, w.wt
    ),
    tot AS (SELECT CAST(SUM(eta) AS BIGINT) AS eta_sum FROM swings)
    SELECT s.event_type, s.wt AS weight, s.eta AS n_swings,
           ROUND(CAST(s.eta AS DOUBLE) / t.eta_sum, 6) AS banzhaf_index,
           ROUND(CAST(s.wt AS DOUBLE)
                 / (SELECT SUM(wt) FROM w), 6) AS weight_share
    FROM swings s CROSS JOIN tot t
    """,
)
def model_banzhaf_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banzhaf power index (Banzhaf, Rutgers L. Rev. 1965; Penrose 1946
    — public) of the weighted majority game whose players are the event
    types, weights their event counts, quota a strict majority: a
    player's power is the number of coalitions it SWINGS (member, the
    coalition meets quota, and leaving breaks it), normalized. The
    classic demonstration that voting power is NOT proportional to
    weight — a 49/49/2 game gives all three players equal power — here
    as the audit comparing banzhaf_index against weight_share per type.

    Determinism: the 2^k coalition lattice (k = 5 types -> 32 masks) is
    enumerated by integer bitmask with exact integer weights; the only
    floats are the two display shares.

    Scale shape: one partial-agg groupBy for the weights; the lattice
    is 2^|alphabet| literal rows joined against a k-row dim — bounded
    by the type alphabet, never the corpus."""
    w = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("wt"))
        .select(
            "event_type",
            "wt",
            (F.row_number().over(Window.orderBy("event_type")) - 1)
            .cast("long")
            .alias("idx"),
        )
    )
    q = w.agg(
        (F.expr("sum(wt) div 2") + 1).cast("long").alias("quota"),
        F.count("*").cast("long").alias("np"),
        F.sum("wt").cast("long").alias("wt_sum"),
    )
    masks = spark.range(32).select(F.col("id").alias("m"))
    bit = F.expr("(m div cast(round(power(2, idx)) as bigint)) % 2")
    coal = (
        masks.crossJoin(F.broadcast(q.select("np")))
        .where(F.col("m") < F.expr("cast(round(power(2, np)) as bigint)"))
        .crossJoin(F.broadcast(w))
        .groupBy("m")
        .agg(
            F.coalesce(
                F.sum(F.when(bit == 1, F.col("wt"))), F.lit(0)
            )
            .cast("long")
            .alias("cw")
        )
    )
    swings = (
        w.crossJoin(coal)
        .crossJoin(F.broadcast(q.select("quota")))
        .groupBy("event_type", "wt")
        .agg(
            F.sum(
                F.when(
                    (bit == 1)
                    & (F.col("cw") >= F.col("quota"))
                    & (F.col("cw") - F.col("wt") < F.col("quota")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("eta")
        )
    )
    tot = swings.agg(F.sum("eta").cast("long").alias("eta_sum"))
    return (
        swings.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(q.select("wt_sum")))
        .select(
            "event_type",
            F.col("wt").alias("weight"),
            F.col("eta").alias("n_swings"),
            F.round(F.col("eta").cast("double") / F.col("eta_sum"), 6).alias(
                "banzhaf_index"
            ),
            F.round(F.col("wt").cast("double") / F.col("wt_sum"), 6).alias(
                "weight_share"
            ),
        )
    )


@query(
    "events_ballot_problem",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM events GROUP BY day
    ),
    cum AS (
        SELECT day,
               SUM(a) OVER (ORDER BY day) AS ca,
               SUM(b) OVER (ORDER BY day) AS cb
        FROM daily
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN ca > cb THEN 1 ELSE 0 END) AS BIGINT)
                   AS lead_days,
               CAST(MAX(ca) AS BIGINT) AS total_a,
               CAST(MAX(cb) AS BIGINT) AS total_b
        FROM cum
    )
    SELECT n_days, lead_days, total_a, total_b,
           ROUND(CAST(lead_days AS DOUBLE) / n_days, 6) AS lead_frac,
           ROUND(CAST(total_a - total_b AS DOUBLE)
                 / (total_a + total_b), 6) AS ballot_probability,
           lead_days = n_days AS always_ahead
    FROM agg
    """,
)
def events_ballot_problem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bertrand ballot-problem audit (Bertrand 1887; André's reflection
    proof — public) on the daily click-vs-purchase race: the theorem
    says a candidate finishing with a votes against b < a stays
    STRICTLY ahead throughout a uniformly-random count order with
    probability (a-b)/(a+b). Emitted: the empirical fraction of days
    the cumulative click count strictly leads, the theoretical ballot
    probability from the final totals, and the always-ahead flag —
    a time-ordered count is NOT a random shuffle, so the gap between
    lead_frac and the theorem's number measures how un-exchangeable
    the arrival order is (the same exchangeability premise bootstrap
    and permutation rows lean on).

    Determinism: daily counts and prefix sums are exact integers; two
    display ratios.

    Scale shape: daily collapse first; the cumulative window runs over
    the calendar-bounded Aggregate frame."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )
    w = Window.orderBy("day")
    cum = daily.select(
        F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
    )
    agg = cum.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum(F.when(F.col("ca") > F.col("cb"), 1).otherwise(0))
        .cast("long")
        .alias("lead_days"),
        F.max("ca").cast("long").alias("total_a"),
        F.max("cb").cast("long").alias("total_b"),
    )
    return agg.select(
        "n_days",
        "lead_days",
        "total_a",
        "total_b",
        F.round(F.col("lead_days").cast("double") / F.col("n_days"), 6).alias(
            "lead_frac"
        ),
        F.round(
            (F.col("total_a") - F.col("total_b")).cast("double")
            / (F.col("total_a") + F.col("total_b")),
            6,
        ).alias("ballot_probability"),
        (F.col("lead_days") == F.col("n_days")).alias("always_ahead"),
    )
