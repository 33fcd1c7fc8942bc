"""Wave-328: highest-averages seat apportionment (D'Hondt and
Sainte-Laguë), the disproportionality shelf (Gallagher least-squares,
Loosemore–Hanby, effective number of parties), and Copeland's
pairwise-duel rank aggregation. All public-domain electoral-systems
classics, run with event types as 'parties' and event counts as
'votes'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.operators.rank_utils import (
    RANKERS_SQL as _RANKERS_SQL,
)
from data_ingestor_web_app_spark.registry import query

_SEATS = 10

# votes + the two divisor ladders, as a shared CTE: D'Hondt divides by
# 1,2,3,...,S; Sainte-Laguë by 1,3,5,...,2S-1. A quotient wins a seat
# when it ranks in the top S; integer cross-products keep the compare
# exact (votes * other_divisor, no doubles anywhere).
_APPORTION_SQL = f"""
    votes AS (
        SELECT event_type AS party, CAST(COUNT(*) AS BIGINT) AS v
        FROM events GROUP BY 1
    ),
    quot AS (
        SELECT party, v, d.i AS i,
               CAST(d.i AS BIGINT) AS dh_div,
               CAST(2 * d.i - 1 AS BIGINT) AS sl_div
        FROM votes, (SELECT UNNEST(RANGE(1, {_SEATS} + 1)) AS i) d
    ),
    dh AS (
        SELECT party, ROW_NUMBER() OVER (
                   ORDER BY CAST(v AS DOUBLE) / dh_div DESC, v DESC, party, i
               ) AS rk
        FROM quot
    ),
    sl AS (
        SELECT party, ROW_NUMBER() OVER (
                   ORDER BY CAST(v AS DOUBLE) / sl_div DESC, v DESC, party, i
               ) AS rk
        FROM quot
    ),
    seats AS (
        SELECT votes.party, votes.v,
               CAST((SELECT COUNT(*) FROM dh
                     WHERE dh.party = votes.party AND dh.rk <= {_SEATS})
                    AS BIGINT) AS seats_dhondt,
               CAST((SELECT COUNT(*) FROM sl
                     WHERE sl.party = votes.party AND sl.rk <= {_SEATS})
                    AS BIGINT) AS seats_sainte_lague
        FROM votes
    )
"""


def _apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """party, v, seats_dhondt, seats_sainte_lague (k=5 party frame)."""
    votes = (
        table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").alias("party"))
        .agg(F.count("*").cast("long").alias("v"))
    )
    quot = votes.select(
        "party",
        "v",
        F.explode(F.sequence(F.lit(1), F.lit(_SEATS))).alias("i"),
    ).select(
        "party",
        "v",
        "i",
        F.col("i").cast("long").alias("dh_div"),
        (2 * F.col("i") - 1).cast("long").alias("sl_div"),
    )
    out = votes
    for meth, col in (("dh_div", "seats_dhondt"), ("sl_div", "seats_sainte_lague")):
        rk = quot.select(
            "party",
            F.row_number()
            .over(
                Window.orderBy(
                    (F.col("v").cast("double") / F.col(meth)).desc(),
                    F.col("v").desc(),
                    "party",
                    "i",
                )
            )
            .alias("rk"),
        )
        won = (
            rk.where(F.col("rk") <= _SEATS)
            .groupBy("party")
            .agg(F.count("*").cast("long").alias(col))
        )
        out = out.join(won, "party", "left").na.fill({col: 0})
    return out


@query(
    "model_seats_apportionment",
    oracle=f"""
    WITH {_APPORTION_SQL}
    SELECT party, v AS votes, seats_dhondt, seats_sainte_lague,
           ROUND(CAST(v AS DOUBLE) / SUM(v) OVER (), 6) AS vote_share,
           ROUND(CAST(seats_dhondt AS DOUBLE) / {_SEATS}, 6)
               AS seat_share_dhondt
    FROM seats
    ORDER BY party
    """,
)
def model_seats_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highest-averages proportional seat apportionment: D'Hondt
    (1882; divisors 1,2,3,…) and Sainte-Laguë (1910; odd divisors
    1,3,5,…) allocating S=10 seats to the event-type 'parties' by event
    count. Each method ranks the votes/divisor quotient ladder and
    awards the top-S quotients; Sainte-Laguë's steeper ladder is the
    classic small-party-friendly contrast to D'Hondt's large-party
    bias. The same top-S-quotients shape apportions shard counts or
    token budgets to sources at 100 TB.

    Determinism: quotients of exact integers; the rank has a
    (quotient, votes, party, divisor-index) total order so equal
    quotients break identically in both engines.

    Scale shape: one groupBy collapses the stream; the quotient ladder
    is k·S = 50 rows."""
    seats = _apportion(spark, sf_dir)
    return seats.select(
        "party",
        F.col("v").alias("votes"),
        "seats_dhondt",
        "seats_sainte_lague",
        F.round(
            F.col("v").cast("double") / F.sum("v").over(Window.partitionBy()),
            6,
        ).alias("vote_share"),
        F.round(F.col("seats_dhondt").cast("double") / _SEATS, 6).alias(
            "seat_share_dhondt"
        ),
    ).orderBy("party")


@query(
    "model_gallagher_enp",
    oracle=f"""
    WITH {_APPORTION_SQL},
    shares AS (
        SELECT party,
               CAST(v AS DOUBLE) / SUM(v) OVER () AS vs,
               CAST(seats_dhondt AS DOUBLE) / {_SEATS} AS ss
        FROM seats
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parties,
           ROUND(SQRT(0.5 * SUM((vs - ss) * (vs - ss))) * 100, 6)
               AS gallagher_index,
           ROUND(0.5 * SUM(ABS(vs - ss)) * 100, 6) AS loosemore_hanby,
           ROUND(1.0 / SUM(vs * vs), 6) AS enp_votes,
           ROUND(1.0 / SUM(ss * ss), 6) AS enp_seats
    FROM shares
    """,
)
def model_gallagher_enp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The disproportionality shelf on the D'Hondt allocation:
    Gallagher's least-squares index (1991), the Loosemore–Hanby index
    (1971), and Laakso–Taagepera effective number of parties (1979)
    for both vote shares and seat shares — the standard trio for
    quantifying how much an allocation rule distorts proportionality
    (identical math audits shard- or budget-allocation skew).

    Determinism: shares are exact-integer ratios; 5-term fixed sums
    rounded 6dp.

    Scale shape: everything after the vote groupBy is a k=5 frame."""
    seats = _apportion(spark, sf_dir)
    shares = seats.select(
        (F.col("v").cast("double") / F.sum("v").over(Window.partitionBy())).alias("vs"),
        (F.col("seats_dhondt").cast("double") / _SEATS).alias("ss"),
    )
    d = F.col("vs") - F.col("ss")
    return shares.agg(
        F.count("*").cast("long").alias("n_parties"),
        F.round(F.sqrt(0.5 * F.sum(d * d)) * 100, 6).alias("gallagher_index"),
        F.round(0.5 * F.sum(F.abs(d)) * 100, 6).alias("loosemore_hanby"),
        F.round(1.0 / F.sum(F.col("vs") * F.col("vs")), 6).alias("enp_votes"),
        F.round(1.0 / F.sum(F.col("ss") * F.col("ss")), 6).alias("enp_seats"),
    )


@query(
    "model_rank_copeland",
    oracle=f"""
    WITH {_RANKERS_SQL},
    duels AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN (CASE WHEN a.r1 < b.r1 THEN 1 ELSE 0 END
                                   + CASE WHEN a.r2 < b.r2 THEN 1 ELSE 0 END
                                   + CASE WHEN a.r3 < b.r3 THEN 1 ELSE 0 END)
                                  >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS wins,
               CAST(SUM(CASE WHEN (CASE WHEN a.r1 > b.r1 THEN 1 ELSE 0 END
                                   + CASE WHEN a.r2 > b.r2 THEN 1 ELSE 0 END
                                   + CASE WHEN a.r3 > b.r3 THEN 1 ELSE 0 END)
                                  >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS losses
        FROM r a JOIN r b ON a.event_type <> b.event_type
        GROUP BY a.event_type
    )
    SELECT event_type, wins, losses,
           CAST(wins - losses AS BIGINT) AS copeland_score,
           CASE WHEN wins - losses = (SELECT MAX(wins - losses) FROM duels)
                THEN TRUE ELSE FALSE END AS copeland_winner
    FROM duels
    ORDER BY event_type
    """,
)
def model_rank_copeland(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copeland's method (1951, public): rank aggregation by pairwise
    majority duels scored wins − losses, over the same three metric
    'voters' (volume, value, reach) as the Borda/Condorcet row — the
    Condorcet-consistent committee rule that never cycles because it
    scores the tournament instead of chasing a beats-all candidate.

    Determinism: ranks are total-ordered; duel counting is exact
    integers; the winner flag compares integers.

    Scale shape: one groupBy collapses the stream; duels run on the
    k=5 frame."""
    m = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("v_milli"),
            F.count_distinct("user_id").cast("long").alias("reach"),
        )
    )
    r = m.select(
        "event_type",
        F.row_number()
        .over(Window.orderBy(F.col("n_events").desc(), "event_type"))
        .alias("r1"),
        F.row_number()
        .over(Window.orderBy(F.col("v_milli").desc(), "event_type"))
        .alias("r2"),
        F.row_number()
        .over(Window.orderBy(F.col("reach").desc(), "event_type"))
        .alias("r3"),
    )
    a, b = r.alias("a"), r.alias("b")

    def _maj(op):
        return (
            F.when(op(F.col("a.r1"), F.col("b.r1")), 1).otherwise(0)
            + F.when(op(F.col("a.r2"), F.col("b.r2")), 1).otherwise(0)
            + F.when(op(F.col("a.r3"), F.col("b.r3")), 1).otherwise(0)
        )

    duels = (
        a.join(b, F.col("a.event_type") != F.col("b.event_type"))
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.when(_maj(lambda x, y: x < y) >= 2, 1).otherwise(0))
            .cast("long")
            .alias("wins"),
            F.sum(F.when(_maj(lambda x, y: x > y) >= 2, 1).otherwise(0))
            .cast("long")
            .alias("losses"),
        )
    )
    score = duels.withColumn(
        "copeland_score", (F.col("wins") - F.col("losses")).cast("long")
    )
    best = score.agg(F.max("copeland_score").alias("best"))
    return (
        score.crossJoin(F.broadcast(best))
        .select(
            "event_type",
            "wins",
            "losses",
            "copeland_score",
            (F.col("copeland_score") == F.col("best")).alias("copeland_winner"),
        )
        .orderBy("event_type")
    )
