"""Wave-144: rank aggregation — Borda/Condorcet voting, rank-biased
overlap, and footrule/Kendall rank distances.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

from data_ingestor_web_app_spark.operators.rank_utils import (
    RANKERS_SQL as _RANKERS_SQL,
)


@query(
    "model_rank_borda_condorcet",
    oracle=f"""
    WITH {_RANKERS_SQL},
    borda AS (
        SELECT event_type, r1, r2, r3, k,
               CAST((k - r1) + (k - r2) + (k - r3) AS BIGINT) AS borda_score
        FROM r
    ),
    duels AS (
        SELECT a.event_type,
               CAST(SUM(CASE WHEN (CASE WHEN a.r1 < b.r1 THEN 1 ELSE 0 END
                                   + CASE WHEN a.r2 < b.r2 THEN 1 ELSE 0 END
                                   + CASE WHEN a.r3 < b.r3 THEN 1 ELSE 0 END)
                                  >= 2
                        THEN 1 ELSE 0 END) AS BIGINT) AS pairwise_wins
        FROM borda a JOIN borda b ON a.event_type <> b.event_type
        GROUP BY a.event_type
    )
    SELECT b.event_type, b.borda_score, d.pairwise_wins,
           CASE WHEN d.pairwise_wins = b.k - 1 THEN TRUE ELSE FALSE END
               AS condorcet_winner
    FROM borda b JOIN duels d USING (event_type)
    """,
)
def model_rank_borda_condorcet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank aggregation by Borda count (Borda 1781) with a Condorcet
    check (Condorcet 1785) — both public-domain social-choice classics:
    three metric 'voters' (event volume, value, user reach) rank the
    event types; Borda awards k−rank points per voter; a type beating
    every other in majority pairwise duels is the Condorcet winner
    (which Borda can famously fail to elect). The ensemble-ranking
    fusion shape leaderboards and multi-metric model selection use.

    Determinism: ranks are total-ordered (name tie-break); scores and
    duels are exact integer counting.

    Scale shape: one groupBy collapses the stream; everything else runs
    on the k=5 type frame."""
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
        F.row_number().over(Window.orderBy(F.col("n_events").desc(), "event_type")).alias("r1"),
        F.row_number().over(Window.orderBy(F.col("v_milli").desc(), "event_type")).alias("r2"),
        F.row_number().over(Window.orderBy(F.col("reach").desc(), "event_type")).alias("r3"),
        F.count("*").over(Window.partitionBy()).alias("k"),
    )
    borda = r.select(
        "event_type",
        "r1",
        "r2",
        "r3",
        "k",
        ((F.col("k") - F.col("r1")) + (F.col("k") - F.col("r2")) + (F.col("k") - F.col("r3")))
        .cast("long")
        .alias("borda_score"),
    )
    a, b = borda.alias("a"), borda.alias("b")
    maj = (
        F.when(F.col("a.r1") < F.col("b.r1"), 1).otherwise(0)
        + F.when(F.col("a.r2") < F.col("b.r2"), 1).otherwise(0)
        + F.when(F.col("a.r3") < F.col("b.r3"), 1).otherwise(0)
    )
    duels = (
        a.join(b, F.col("a.event_type") != F.col("b.event_type"))
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(F.when(maj >= 2, 1).otherwise(0)).cast("long").alias("pairwise_wins")
        )
    )
    return borda.join(duels, "event_type").select(
        "event_type",
        "borda_score",
        "pairwise_wins",
        (F.col("pairwise_wins") == F.col("k") - 1).alias("condorcet_winner"),
    )


_RBO_P_MILLI = 900  # p = 0.9


@query(
    "model_rbo_rank_similarity",
    oracle=f"""
    WITH {_RANKERS_SQL},
    depths AS (SELECT UNNEST(RANGE(1, 6)) AS d),
    ov AS (
        SELECT dp.d,
               CAST((SELECT COUNT(*) FROM r x JOIN r y
                     ON x.event_type = y.event_type
                     AND x.r1 <= dp.d AND y.r2 <= dp.d) AS BIGINT) AS agree
        FROM depths dp
    ),
    terms AS (
        SELECT d, agree,
               CAST(ROUND(1000000000 * (1 - {_RBO_P_MILLI} / 1000e0)
                    * POW({_RBO_P_MILLI} / 1000e0, d - 1)
                    * (agree * 1e0 / d)) AS BIGINT) AS rbo_nano
        FROM ov
    )
    SELECT CAST(SUM(CASE WHEN d = 5 THEN agree END) AS BIGINT)
               AS overlap_at_5,
           CAST(SUM(rbo_nano) AS BIGINT) AS rbo_nano_sum,
           ROUND(SUM(rbo_nano) / 1e9, 6) AS rbo_trunc5
    FROM terms
    """,
)
def model_rbo_rank_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel, TOIS 2010, public)
    between the volume ranking and the value ranking of event types,
    truncated at depth 5 with persistence p = 0.9: RBO = (1−p) Σ_d
    p^{{d−1}}·|A_1..d ∩ B_1..d|/d — the top-weighted, non-conjoint-safe
    similarity for comparing rankers (unlike Kendall/Spearman it doesn't
    need both lists to be permutations of each other).

    Determinism: overlaps are exact counts; each depth's term collapses
    to one rounded nano-int; the sum is exact.

    Scale shape: one stream collapse, then a 5-depth fan-out over the
    5-row rank frame."""
    m = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("v_milli"),
        )
    )
    r = m.select(
        "event_type",
        F.row_number().over(Window.orderBy(F.col("n_events").desc(), "event_type")).alias("r1"),
        F.row_number().over(Window.orderBy(F.col("v_milli").desc(), "event_type")).alias("r2"),
    )
    depths = m.sparkSession.range(1, 6).select(F.col("id").cast("int").alias("d"))
    x, y = r.alias("x"), r.alias("y")
    pairs = x.join(y, F.col("x.event_type") == F.col("y.event_type")).select(
        F.col("x.r1").alias("r1"), F.col("y.r2").alias("r2")
    )
    ov = (
        F.broadcast(depths)
        .crossJoin(pairs)
        .groupBy("d")
        .agg(
            F.sum(
                F.when((F.col("r1") <= F.col("d")) & (F.col("r2") <= F.col("d")), 1).otherwise(0)
            )
            .cast("long")
            .alias("agree")
        )
    )
    p = _RBO_P_MILLI / 1000e0
    terms = ov.select(
        "d",
        "agree",
        F.round(
            1000000000
            * (1 - F.lit(p))
            * F.pow(F.lit(p), F.col("d") - 1)
            * (F.col("agree") * F.lit(1.0) / F.col("d"))
        )
        .cast("long")
        .alias("rbo_nano"),
    )
    return terms.agg(
        F.sum(F.when(F.col("d") == 5, F.col("agree"))).cast("long").alias("overlap_at_5"),
        F.sum("rbo_nano").cast("long").alias("rbo_nano_sum"),
        F.round(F.sum("rbo_nano") / 1e9, 6).alias("rbo_trunc5"),
    )


@query(
    "agg_rank_distances",
    oracle=f"""
    WITH {_RANKERS_SQL},
    foot AS (
        SELECT CAST(SUM(ABS(r1 - r2)) AS BIGINT) AS footrule,
               CAST(MAX(k) AS BIGINT) AS k
        FROM r
    ),
    kend AS (
        SELECT CAST(SUM(CASE WHEN (a.r1 - b.r1) * (a.r2 - b.r2) < 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS kendall_dist
        FROM r a JOIN r b ON a.event_type < b.event_type
    )
    SELECT f.k, f.footrule, kd.kendall_dist,
           ROUND(f.footrule * 2e0 / (f.k * f.k), 6) AS footrule_norm,
           ROUND(kd.kendall_dist * 2e0 / (f.k * (f.k - 1)), 6)
               AS kendall_norm
    FROM foot f CROSS JOIN kend kd
    """,
)
def agg_rank_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman footrule and Kendall tau rank DISTANCES (Diaconis &
    Graham 1977 relate the two within a factor of 2, public) between
    the volume and value rankings: footrule = Σ|r1−r2| (display
    displacement), Kendall distance = discordant pair count (bubble-sort
    swaps), both with their standard normalizations. The permutation-
    distance view of the same two rankers RBO compares top-weighted.

    Determinism: pure integer rank arithmetic; two rounded divisions.

    Scale shape: stream collapse, then a 5-row frame and its 10-pair
    join."""
    m = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.round(F.col("value") * 1000).cast("long"))
            .cast("long")
            .alias("v_milli"),
        )
    )
    r = m.select(
        "event_type",
        F.row_number().over(Window.orderBy(F.col("n_events").desc(), "event_type")).alias("r1"),
        F.row_number().over(Window.orderBy(F.col("v_milli").desc(), "event_type")).alias("r2"),
        F.count("*").over(Window.partitionBy()).alias("k"),
    )
    foot = r.agg(
        F.sum(F.abs(F.col("r1") - F.col("r2"))).cast("long").alias("footrule"),
        F.max("k").cast("long").alias("k"),
    )
    a, b = r.alias("a"), r.alias("b")
    kend = a.join(b, F.col("a.event_type") < F.col("b.event_type")).agg(
        F.sum(
            F.when(
                (F.col("a.r1") - F.col("b.r1")) * (F.col("a.r2") - F.col("b.r2")) < 0,
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("kendall_dist")
    )
    return foot.crossJoin(kend).select(
        "k",
        "footrule",
        "kendall_dist",
        F.round(F.col("footrule") * 2.0 / (F.col("k") * F.col("k")), 6).alias(
            "footrule_norm"
        ),
        F.round(
            F.col("kendall_dist") * 2.0 / (F.col("k") * (F.col("k") - 1)), 6
        ).alias("kendall_norm"),
    )
