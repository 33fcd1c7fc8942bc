"""Wave-361: knee-point detection by maximum chord distance (the
Kneedle principle, Satopää, Albrecht, Irwin & Raghavan, ICDCS
workshops 2011).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_knee_detection",
    oracle="""
    WITH curve AS (
        SELECT ROW_NUMBER() OVER (ORDER BY tot DESC, user_id) AS i,
               tot
        FROM (
            SELECT user_id,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       AS tot
            FROM events GROUP BY user_id
        )
    ),
    ends AS (
        SELECT CAST(MIN(i) AS BIGINT) AS i1, CAST(MAX(i) AS BIGINT) AS i2,
               MAX(CASE WHEN rn = 1 THEN tot END) AS y1,
               MAX(CASE WHEN rn = n THEN tot END) AS y2
        FROM (
            SELECT i, tot, ROW_NUMBER() OVER (ORDER BY i) AS rn,
                   COUNT(*) OVER () AS n
            FROM curve
        )
    ),
    dist AS (
        SELECT c.i, c.tot,
               -- perpendicular distance to the chord (numerator only:
               -- the chord length is shared, so argmax is unchanged)
               ABS(CAST(e.y2 - e.y1 AS DOUBLE) * (c.i - e.i1)
                   - CAST(e.i2 - e.i1 AS DOUBLE) * (c.tot - e.y1))
                   AS d_num
        FROM curve c CROSS JOIN ends e
    ),
    best AS (SELECT MAX(d_num) AS dmax FROM dist)
    SELECT (SELECT CAST(MIN(i) AS BIGINT) FROM dist, best
            WHERE dist.d_num = best.dmax) AS knee_rank,
           (SELECT ROUND(tot / 100.0, 2) FROM dist, best
            WHERE dist.d_num = best.dmax
            ORDER BY i LIMIT 1) AS knee_value,
           CAST((SELECT COUNT(*) FROM curve) AS BIGINT) AS n_points,
           ROUND((SELECT dmax FROM best), 6) AS chord_distance_num
    """,
)
def model_knee_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knee/elbow detection by maximum distance to the chord — the
    geometric core of the Kneedle algorithm (Satopää et al. 2011):
    sort users by total spend (the scree curve), draw the chord from
    the first to the last point, and the knee is the point farthest
    from it (cross-product numerator only — the shared chord length
    cannot change the argmax, so the score stays an exact integer-
    derived chain). The 'how many top users matter' / 'how many
    clusters' cutoff every capacity review eyeballs, made
    deterministic; smallest-rank tie-break.

    Determinism: curve points are exact integers with a (total, user)
    total order; distances are |integer cross products| in doubles
    well inside 6dp; the argmax has a MIN(i) tie-break.

    Scale shape: one groupBy collapses the corpus to the user frame;
    the rank uses the user-frame window (aggregate input — guard
    shape); the chord scan is one linear pass plus a 1-row argmax."""
    curve = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("tot")
        )
        .select(
            F.row_number()
            .over(Window.orderBy(F.col("tot").desc(), "user_id"))
            .alias("i"),
            "tot",
        )
    )
    ends = curve.agg(
        F.min("i").cast("long").alias("i1"),
        F.max("i").cast("long").alias("i2"),
        F.expr("max_by(tot, -i)").alias("y1"),
        F.expr("max_by(tot, i)").alias("y2"),
    )
    dist = curve.crossJoin(F.broadcast(ends)).select(
        "i",
        "tot",
        F.abs(
            (F.col("y2") - F.col("y1")).cast("double") * (F.col("i") - F.col("i1"))
            - (F.col("i2") - F.col("i1")).cast("double")
            * (F.col("tot") - F.col("y1"))
        ).alias("d_num"),
    )
    best = dist.agg(F.max("d_num").alias("dmax"))
    pick = (
        dist.crossJoin(F.broadcast(best))
        .where(F.col("d_num") == F.col("dmax"))
        .agg(
            F.min("i").cast("long").alias("knee_rank"),
            (F.expr("min_by(tot, i)") / 100.0).alias("kv"),
            F.max("dmax").alias("dmax"),
        )
    )
    n = curve.agg(F.count("*").cast("long").alias("n_points"))
    return pick.crossJoin(F.broadcast(n)).select(
        "knee_rank",
        F.round(F.col("kv"), 2).alias("knee_value"),
        "n_points",
        F.round(F.col("dmax"), 6).alias("chord_distance_num"),
    )
