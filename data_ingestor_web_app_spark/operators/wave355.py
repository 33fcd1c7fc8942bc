"""Wave-355: the remaining classical power indices on the weighted
majority game of model_banzhaf_power — Shapley-Shubik (APSR 1954),
Johnston (Environment & Planning A 1978), and Deegan-Packel (IJGT
1978).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# (s-1)!(k-s)! for k = 5 and coalition size s = 1..5 (sums to 5! = 120
# across each player's swing distribution); Johnston/Deegan-Packel use
# exact sixtieths (60 is divisible by every coalition size <= 5).
_SS_W = {1: 24, 2: 6, 3: 4, 4: 6, 5: 24}


def _ss_case(var: str) -> str:
    whens = " ".join(f"WHEN {s} THEN {w}" for s, w in _SS_W.items())
    return f"CASE {var} {whens} END"


@query(
    "model_power_indices_extra",
    oracle=f"""
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
    masks AS (SELECT UNNEST(RANGE(1, 32)) AS m),
    membership AS (
        SELECT m.m, w.event_type, w.wt, w.idx,
               (m.m // CAST(ROUND(POWER(2, w.idx)) AS BIGINT)) % 2 = 1
                   AS inc
        FROM masks m CROSS JOIN w
    ),
    coal AS (
        SELECT m,
               CAST(SUM(CASE WHEN inc THEN wt ELSE 0 END) AS BIGINT) AS cw,
               CAST(SUM(CASE WHEN inc THEN 1 ELSE 0 END) AS BIGINT) AS s
        FROM membership GROUP BY m
    ),
    flags AS (
        SELECT mem.m, mem.event_type, mem.wt, c.cw, c.s, mem.inc,
               mem.inc AND c.cw >= q.quota AND c.cw - mem.wt < q.quota
                   AS swing,
               c.cw >= q.quota AS winning
        FROM membership mem
        JOIN coal c ON c.m = mem.m
        CROSS JOIN q
    ),
    cstats AS (
        SELECT m, CAST(SUM(CASE WHEN swing THEN 1 ELSE 0 END) AS BIGINT)
                   AS ns
        FROM flags GROUP BY m
    ),
    per AS (
        SELECT f.event_type, MAX(f.wt) AS wt,
               CAST(SUM(CASE WHEN f.swing
                             THEN {_ss_case("f.s")} ELSE 0 END) AS BIGINT)
                   AS ss_num,
               CAST(SUM(CASE WHEN f.swing THEN 60 // cs.ns ELSE 0 END)
                    AS BIGINT) AS johnston_units,
               CAST(SUM(CASE WHEN f.winning AND f.inc AND cs.ns = f.s
                             THEN 60 // f.s ELSE 0 END) AS BIGINT)
                   AS dp_units
        FROM flags f JOIN cstats cs ON cs.m = f.m
        GROUP BY f.event_type
    ),
    tot AS (
        SELECT CAST(SUM(johnston_units) AS BIGINT) AS jt,
               CAST(SUM(dp_units) AS BIGINT) AS dt
        FROM per
    )
    SELECT per.event_type, per.wt AS weight, per.ss_num,
           ROUND(CAST(per.ss_num AS DOUBLE) / 120.0, 6) AS shapley_shubik,
           per.johnston_units,
           ROUND(CAST(per.johnston_units AS DOUBLE) / tot.jt, 6)
               AS johnston_index,
           per.dp_units,
           ROUND(CAST(per.dp_units AS DOUBLE) / tot.dt, 6)
               AS deegan_packel
    FROM per CROSS JOIN tot
    ORDER BY per.event_type
    """,
)
def model_power_indices_extra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rest of the classical power-index shelf on the SAME weighted
    majority game as model_banzhaf_power (players = event types,
    weights = counts, strict-majority quota): Shapley-Shubik (APSR
    1954 — swings weighted by (s−1)!(k−s)!/k!, the ordering-based
    index), Johnston (1978 — each winning coalition's unit of power
    split equally among its swingers), and Deegan-Packel (IJGT 1978 —
    only MINIMAL winning coalitions count, split equally among
    members, minimality detected as 'every member swings'). All three
    disagree with Banzhaf and with raw weight — that four-way
    disagreement IS the voting-power literature.

    Determinism: the 2^5 lattice is exact integer bitmask algebra;
    Shapley numerators are exact (sum to 120 — pinned in pytest);
    Johnston/DP accrue in exact sixtieths; only display shares divide,
    rounded 6dp.

    Scale shape: one weights groupBy; the 31-mask × 5-player frame is
    alphabet-bounded; two joins and two folds on it."""
    w = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").cast("long").alias("wt"))
        .select(
            "event_type",
            "wt",
            (
                F.row_number().over(Window.orderBy("event_type")) - 1
            )
            .cast("long")
            .alias("idx"),
        )
    )
    q = w.agg(
        (F.floor(F.sum("wt") / 2) + 1).cast("long").alias("quota"),
        F.count("*").cast("long").alias("np"),
    )
    masks = table(spark, sf_dir, "events").sparkSession.range(1, 32).select(
        F.col("id").cast("long").alias("m")
    )
    membership = masks.crossJoin(F.broadcast(w)).select(
        "m",
        "event_type",
        "wt",
        (
            (F.col("m") / F.pow(F.lit(2.0), F.col("idx")).cast("long"))
            .cast("long")
            % 2
            == 1
        ).alias("inc"),
    )
    coal = membership.groupBy("m").agg(
        F.sum(F.when(F.col("inc"), F.col("wt")).otherwise(0))
        .cast("long")
        .alias("cw"),
        F.sum(F.when(F.col("inc"), 1).otherwise(0)).cast("long").alias("s"),
    )
    flags = (
        membership.join(coal, "m")
        .crossJoin(F.broadcast(q))
        .select(
            "m",
            "event_type",
            "wt",
            "s",
            (
                F.col("inc")
                & (F.col("cw") >= F.col("quota"))
                & (F.col("cw") - F.col("wt") < F.col("quota"))
            ).alias("swing"),
            (F.col("cw") >= F.col("quota")).alias("winning"),
            "inc",
        )
    )
    cstats = flags.groupBy("m").agg(
        F.sum(F.when(F.col("swing"), 1).otherwise(0))
        .cast("long")
        .alias("ns")
    )
    ssw = F.coalesce(
        *[
            F.when(F.col("s") == s, F.lit(wgt))
            for s, wgt in _SS_W.items()
        ]
    )
    per = (
        flags.join(cstats, "m")
        .groupBy("event_type")
        .agg(
            F.max("wt").alias("wt"),
            F.sum(F.when(F.col("swing"), ssw).otherwise(0))
            .cast("long")
            .alias("ss_num"),
            F.sum(
                F.when(
                    F.col("swing"),
                    F.floor(60 / F.col("ns")).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("johnston_units"),
            F.sum(
                F.when(
                    F.col("winning")
                    & F.col("inc")
                    & (F.col("ns") == F.col("s")),
                    F.floor(60 / F.col("s")).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("dp_units"),
        )
    )
    tot = per.agg(
        F.sum("johnston_units").cast("long").alias("jt"),
        F.sum("dp_units").cast("long").alias("dt"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("wt").alias("weight"),
            "ss_num",
            F.round(F.col("ss_num").cast("double") / 120.0, 6).alias(
                "shapley_shubik"
            ),
            "johnston_units",
            F.round(
                F.col("johnston_units").cast("double") / F.col("jt"), 6
            ).alias("johnston_index"),
            "dp_units",
            F.round(
                F.col("dp_units").cast("double") / F.col("dt"), 6
            ).alias("deegan_packel"),
        )
        .orderBy("event_type")
    )
