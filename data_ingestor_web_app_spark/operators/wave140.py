"""Wave-140: Bradley-Terry strength estimation and an edit-distance
function-parity row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_bradley_terry",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, day
    ),
    duel AS (
        SELECT a.event_type AS i, b.event_type AS j,
               CAST(SUM(CASE WHEN a.x > b.x THEN 1 ELSE 0 END) AS BIGINT)
                   AS wins,
               CAST(SUM(CASE WHEN a.x <> b.x THEN 1 ELSE 0 END) AS BIGINT)
                   AS decided
        FROM daily a
        JOIN daily b ON a.day = b.day AND a.event_type <> b.event_type
        GROUP BY a.event_type, b.event_type
    ),
    mm AS (
        SELECT i AS event_type,
               CAST(SUM(wins) AS BIGINT) AS total_wins,
               CAST(SUM(decided) AS BIGINT) AS total_decided,
               SUM(decided) / 2e0 AS denom
        FROM duel GROUP BY i
    ),
    p AS (
        SELECT event_type, total_wins, total_decided,
               total_wins / denom AS raw
        FROM mm
    ),
    z AS (SELECT SUM(raw) AS s FROM p)
    SELECT p.event_type, p.total_wins, p.total_decided,
           ROUND(p.raw / z.s, 6) AS bt_strength
    FROM p CROSS JOIN z
    """,
)
def model_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry paired-comparison strengths (Bradley & Terry 1952,
    public), one MM/Zermelo update from the uniform start: event types
    "duel" daily (higher count wins); with uniform initial strengths the
    first minorization-maximization step reduces to p_i ∝ W_i / (D_i/2)
    (W = wins, D = decided duels), normalized to sum 1. The ranking
    model behind chess ratings and pairwise-preference reward models.

    Determinism: duel tallies are exact integers; the update and
    normalization are one double chain (sums over 5 values — exact-
    representable integer ratios).

    Scale shape: the duel join fans out only within a day across k=5
    types (bounded k² per day); everything else is a 5-row fold."""
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").cast("long").alias("x"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    duel = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") != F.col("b.event_type")),
        )
        .groupBy(F.col("a.event_type").alias("i"))
        .agg(
            F.sum(F.when(F.col("a.x") > F.col("b.x"), 1).otherwise(0))
            .cast("long")
            .alias("total_wins"),
            F.sum(F.when(F.col("a.x") != F.col("b.x"), 1).otherwise(0))
            .cast("long")
            .alias("total_decided"),
        )
    )
    p = duel.select(
        F.col("i").alias("event_type"),
        "total_wins",
        "total_decided",
        (F.col("total_wins") / (F.col("total_decided") / F.lit(2.0))).alias("raw"),
    )
    z = p.agg(F.sum("raw").alias("s"))
    return p.crossJoin(F.broadcast(z)).select(
        "event_type",
        "total_wins",
        "total_decided",
        F.round(F.col("raw") / F.col("s"), 6).alias("bt_strength"),
    )


@query(
    "fn_edit_distance",
    oracle="""
    WITH pairs AS (
        SELECT c1.c_custkey AS k1, c2.c_custkey AS k2,
               c1.c_name AS n1, c2.c_name AS n2
        FROM customer c1
        JOIN customer c2 ON c2.c_custkey = c1.c_custkey + 1
        WHERE c1.c_custkey % 10 = 0
    )
    SELECT k1, k2,
           CAST(LEVENSHTEIN(n1, n2) AS BIGINT) AS edit_distance,
           CAST(GREATEST(LEN(n1), LEN(n2)) AS BIGINT) AS max_len,
           ROUND(1 - LEVENSHTEIN(n1, n2) * 1e0
                 / GREATEST(LEN(n1), LEN(n2)), 6) AS similarity
    FROM pairs
    """,
)
def fn_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance function parity (Levenshtein 1965,
    public; Wagner-Fischer DP, implemented natively in BOTH engines):
    consecutive customer-name pairs scored with the raw distance and the
    normalized similarity 1 − d/max_len. The engine-builtin fuzzy-match
    primitive the blocking-based dedup ops (dedup_fuzzy_names) refine —
    this row certifies the primitive itself agrees across engines.

    Scale shape: pure per-row string DP after a keyed self-join on
    adjacent keys (no fan-out)."""
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    c1 = c.where(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("k1"), F.col("c_name").alias("n1")
    )
    c2 = c.select(F.col("c_custkey").alias("k2"), F.col("c_name").alias("n2"))
    pairs = c1.join(c2, F.col("k2") == F.col("k1") + 1)
    d = F.levenshtein("n1", "n2")
    mx = F.greatest(F.length("n1"), F.length("n2"))
    return pairs.select(
        "k1",
        "k2",
        d.cast("long").alias("edit_distance"),
        mx.cast("long").alias("max_len"),
        F.round(1 - d * F.lit(1.0) / mx, 6).alias("similarity"),
    )
