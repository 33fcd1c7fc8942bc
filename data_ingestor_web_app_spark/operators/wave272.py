"""Wave-272: split-half reliability with the Spearman-Brown prophecy
(is per-user activity a stable trait or noise?) and the Chung-Lu
null-model calibration of the triangle count (is the co-occurrence
graph's clustering real, or just what its degree sequence forces?).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "model_splithalf_reliability",
    oracle="""
    WITH halves AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN DAYOFMONTH(ts) % 2 = 1 THEN 1 ELSE 0
                        END) AS DOUBLE) AS odd_n,
               CAST(SUM(CASE WHEN DAYOFMONTH(ts) % 2 = 0 THEN 1 ELSE 0
                        END) AS DOUBLE) AS even_n
        FROM events GROUP BY user_id
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(odd_n) AS mx, AVG(even_n) AS my,
               SUM(odd_n * odd_n) AS sxx, SUM(even_n * even_n) AS syy,
               SUM(odd_n * even_n) AS sxy
        FROM halves
    ),
    r AS (
        SELECT n,
               (sxy - n * mx * my)
               / SQRT((sxx - n * mx * mx) * (syy - n * my * my)) AS rh
        FROM mom
    )
    SELECT n AS n_users,
           ROUND(rh, 6) AS splithalf_r,
           ROUND(2 * rh / (1 + rh), 6) AS spearman_brown,
           2 * rh / (1 + rh) >= 0.7 AS trait_stable
    FROM r
    """,
)
def model_splithalf_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-half reliability with the Spearman-Brown prophecy (Spearman
    1910; Brown 1910, public): each user's activity is split into odd-
    and even-calendar-day halves, the halves' correlation r is stepped
    up to full-length reliability 2r/(1+r), and compared to the 0.7
    convention. High reliability means per-user activity is a stable
    TRAIT (safe to use as a feature / segment key); low means one
    month of it is mostly noise — the measurement-theory question
    every "power user" segmentation silently assumes away.

    Exactness device: half-counts are integers; one moment pass; the
    prophecy formula is one rounded chain; the flag compares the
    identical unrounded value.

    Scale shape: one user rollup with two conditional sums, one 1-row
    aggregate."""
    halves = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.dayofmonth("ts") % 2 == 1, 1).otherwise(0)
            )
            .cast("double")
            .alias("odd_n"),
            F.sum(
                F.when(F.dayofmonth("ts") % 2 == 0, 1).otherwise(0)
            )
            .cast("double")
            .alias("even_n"),
        )
    )
    mom = halves.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("odd_n").alias("mx"),
        F.avg("even_n").alias("my"),
        F.sum(F.col("odd_n") * F.col("odd_n")).alias("sxx"),
        F.sum(F.col("even_n") * F.col("even_n")).alias("syy"),
        F.sum(F.col("odd_n") * F.col("even_n")).alias("sxy"),
    )
    rh = (F.col("sxy") - F.col("n") * F.col("mx") * F.col("my")) / F.sqrt(
        (F.col("sxx") - F.col("n") * F.col("mx") * F.col("mx"))
        * (F.col("syy") - F.col("n") * F.col("my") * F.col("my"))
    )
    sb = 2 * rh / (1 + rh)
    return mom.select(
        F.col("n").alias("n_users"),
        F.round(rh, 6).alias("splithalf_r"),
        F.round(sb, 6).alias("spearman_brown"),
        (sb >= 0.7).alias("trait_stable"),
    )


@query(
    "graph_triangle_nullmodel",
    oracle="""
    WITH buckets AS (
        SELECT DISTINCT user_id, event_type, DATE_TRUNC('minute', ts) AS m
        FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM buckets a
        JOIN buckets b ON b.event_type = a.event_type AND b.m = a.m
                      AND a.user_id < b.user_id
    ),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v AS node FROM edges)
        GROUP BY node
    ),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM edges e1 JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    mom AS (
        SELECT CAST(SUM(k) AS BIGINT) AS sk,
               SUM(CAST(k AS DOUBLE) * (k - 1)) AS skk1
        FROM deg
    )
    SELECT t.n_tri AS observed_triangles,
           ROUND((m.skk1 / m.sk) * (m.skk1 / m.sk) * (m.skk1 / m.sk)
                 / 6.0, 6) AS expected_chung_lu,
           ROUND(t.n_tri / ((m.skk1 / m.sk) * (m.skk1 / m.sk)
                            * (m.skk1 / m.sk) / 6.0), 6)
               AS clustering_excess
    FROM tri t CROSS JOIN mom m
    """,
)
def graph_triangle_nullmodel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triangle count calibrated against the Chung-Lu / configuration
    null model (Chung & Lu, PNAS 2002; the E[triangles] ~ (1/6) *
    (sum k(k-1) / sum k)^3 moment formula per Newman, SIAM Review
    2003, public): a graph's raw triangle count (graph_triangle_count)
    is meaningless without knowing how many triangles its DEGREE
    SEQUENCE alone would produce; the emitted excess ratio is the
    real clustering signal. Excess >> 1 = genuine community structure;
    ~1 = the "clustering" was degree heterogeneity all along — the
    null-model discipline network papers require.

    Exactness device: degree moments stay exact; the null expectation
    is one rational chain; two rounded outputs.

    Scale shape: the same bucket join as graph_triangle_count plus a
    degree-moment aggregate — the calibration costs one extra rollup."""
    e = table(spark, sf_dir, "events")
    buckets = e.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    a = buckets.select(F.col("user_id").alias("u"), "event_type", "m")
    b = buckets.select(F.col("user_id").alias("v"), "event_type", "m")
    edges = (
        a.join(b, ["event_type", "m"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("k"))
    )
    e1 = edges
    e2 = edges.select(F.col("u").alias("u2"), F.col("v").alias("v2"))
    e3 = edges.select(F.col("u").alias("u3"), F.col("v").alias("v3"))
    tri = (
        e1.join(e2, F.col("u2") == F.col("v"))
        .join(e3, (F.col("u3") == F.col("u")) & (F.col("v3") == F.col("v2")))
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    mom = deg.agg(
        F.sum("k").cast("long").alias("sk"),
        F.sum(F.col("k").cast("double") * (F.col("k") - 1)).alias("skk1"),
    )
    lam = F.col("skk1") / F.col("sk")
    expected = lam * lam * lam / 6.0
    return tri.crossJoin(F.broadcast(mom)).select(
        F.col("n_tri").alias("observed_triangles"),
        F.round(expected, 6).alias("expected_chung_lu"),
        F.round(F.col("n_tri") / expected, 6).alias("clustering_excess"),
    )
