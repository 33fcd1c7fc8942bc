"""Wave-353: inverse-distance-weighted spatial interpolation (Shepard,
ACM 1968) and the Clark-Evans nearest-neighbour aggregation index
(Clark & Evans, Ecology 1954).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# planar station layout from the nation key (bounded 50x60 region) with
# the supplier count as the observed surface value
_STATIONS_SQL = """
    stations AS (
        SELECT n.n_nationkey AS sid,
               CAST((n.n_nationkey * 7) % 50 AS BIGINT) AS x,
               CAST((n.n_nationkey * 37) % 60 AS BIGINT) AS y,
               CAST(COALESCE(s.cnt, 0) AS BIGINT) AS z
        FROM nation n LEFT JOIN (
            SELECT s_nationkey, COUNT(*) AS cnt FROM supplier
            GROUP BY s_nationkey
        ) s ON s.s_nationkey = n.n_nationkey
    )
"""

_QUERY_PTS = [(11, 13), (24, 31), (41, 52)]


def _stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sid"))
        .agg(F.count("*").alias("cnt"))
    )
    return (
        table(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("sid"))
        .join(sup, "sid", "left")
        .select(
            "sid",
            ((F.col("sid") * 7) % 50).cast("long").alias("x"),
            ((F.col("sid") * 37) % 60).cast("long").alias("y"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("z"),
        )
    )


@query(
    "spatial_idw_interpolation",
    oracle=f"""
    WITH {_STATIONS_SQL},
    q AS (
        SELECT UNNEST([{",".join(str(p[0]) for p in _QUERY_PTS)}]) AS qx,
               UNNEST([{",".join(str(p[1]) for p in _QUERY_PTS)}]) AS qy
    ),
    wts AS (
        SELECT q.qx, q.qy, s.z,
               CAST((s.x - q.qx) * (s.x - q.qx)
                    + (s.y - q.qy) * (s.y - q.qy) AS BIGINT) AS d2
        FROM q CROSS JOIN stations s
    ),
    interp AS (
        SELECT qx, qy,
               CAST(COUNT(*) AS BIGINT) AS n_stations,
               CAST(SUM(CASE WHEN d2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact,
               SUM(CASE WHEN d2 = 0 THEN z END) AS z_exact,
               SUM(CASE WHEN d2 > 0 THEN CAST(z AS DOUBLE) / d2 END)
                   AS num,
               SUM(CASE WHEN d2 > 0 THEN 1.0 / d2 END) AS den
        FROM wts GROUP BY qx, qy
    )
    SELECT CAST(qx AS BIGINT) AS qx, CAST(qy AS BIGINT) AS qy, n_stations,
           ROUND(CASE WHEN n_exact > 0 THEN CAST(z_exact AS DOUBLE)
                      ELSE num / den END, 6) AS z_idw
    FROM interp ORDER BY qx, qy
    """,
)
def spatial_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted interpolation (Shepard, ACM National
    Conf. 1968 — THE baseline spatial interpolator): the supplier-count
    surface observed at 25 key-mixed stations is estimated at three
    literal query points with power-2 weights w = 1/d²; a query point
    that lands exactly on a station returns that station's value (the
    standard degenerate-distance convention, guarded identically in
    both engines).

    Determinism: coordinates and d² are exact integers; the weighted
    mean is a bounded 25-term double fold rounded 6dp.

    Scale shape: query-points × stations is a broadcast fan-out;
    production IDW adds a k-nearest or radius cutoff so each query
    touches a bounded neighbourhood — the 25-station frame already is
    one."""
    stations = _stations(spark, sf_dir)
    q = spark.createDataFrame(_QUERY_PTS, "qx long, qy long")
    d2 = (
        (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx"))
        + (F.col("y") - F.col("qy")) * (F.col("y") - F.col("qy"))
    ).cast("long")
    wts = q.crossJoin(F.broadcast(stations)).select(
        "qx", "qy", "z", d2.alias("d2")
    )
    interp = wts.groupBy("qx", "qy").agg(
        F.count("*").cast("long").alias("n_stations"),
        F.sum(F.when(F.col("d2") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(F.when(F.col("d2") == 0, F.col("z"))).alias("z_exact"),
        F.sum(
            F.when(F.col("d2") > 0, F.col("z").cast("double") / F.col("d2"))
        ).alias("num"),
        F.sum(F.when(F.col("d2") > 0, 1.0 / F.col("d2"))).alias("den"),
    )
    return interp.select(
        "qx",
        "qy",
        "n_stations",
        F.round(
            F.when(
                F.col("n_exact") > 0, F.col("z_exact").cast("double")
            ).otherwise(F.col("num") / F.col("den")),
            6,
        ).alias("z_idw"),
    ).orderBy("qx", "qy")


@query(
    "spatial_clark_evans",
    oracle=f"""
    WITH {_STATIONS_SQL},
    nn AS (
        SELECT a.sid,
               MIN(SQRT(CAST((a.x - b.x) * (a.x - b.x)
                             + (a.y - b.y) * (a.y - b.y) AS DOUBLE)))
                   AS d
        FROM stations a JOIN stations b ON b.sid <> a.sid
        GROUP BY a.sid
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(d) / COUNT(*) AS dbar
        FROM nn
    )
    SELECT n AS n_points,
           ROUND(dbar, 6) AS mean_nn_dist,
           ROUND(0.5 / SQRT(n / 3000.0), 6) AS expected_nn_dist,
           ROUND(dbar / (0.5 / SQRT(n / 3000.0)), 6) AS clark_evans_r,
           ROUND((dbar - 0.5 / SQRT(n / 3000.0))
                 / (0.26136 / SQRT(CAST(n AS DOUBLE) * n / 3000.0)), 6)
               AS z_stat,
           dbar / (0.5 / SQRT(n / 3000.0)) > 1.0 AS dispersed
    FROM agg
    """,
)
def spatial_clark_evans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Clark-Evans nearest-neighbour index (Ecology 1954 — the
    first point-pattern statistic): R = observed mean NN distance over
    the CSR expectation 0.5/√(n/A) on the literal 50×60 study region,
    with the standard z = (d̄ − E)/(0.26136/√(n²/A)). R < 1 flags
    clustering, R > 1 regular dispersion — the spatial companion to
    the registry's Moran/Geary/Getis-Ord autocorrelation rows.

    Determinism: squared distances are exact integers; the min/mean
    fold is a 25-row frame; fixed chains rounded 6dp.

    Scale shape: the NN search is an all-pairs join on the bounded
    station frame (production uses the registry's spatial_knn_bounded
    grid-bucketed join for corpus-sized point sets)."""
    stations = _stations(spark, sf_dir)
    a = stations.select(
        F.col("sid").alias("sa"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = stations.select(
        F.col("sid").alias("sb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    nn = (
        a.join(b, F.col("sb") != F.col("sa"))
        .groupBy("sa")
        .agg(
            F.min(
                F.sqrt(
                    (
                        (F.col("xa") - F.col("xb"))
                        * (F.col("xa") - F.col("xb"))
                        + (F.col("ya") - F.col("yb"))
                        * (F.col("ya") - F.col("yb"))
                    ).cast("double")
                )
            ).alias("d")
        )
    )
    agg = nn.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("d") / F.count("*")).alias("dbar"),
    )
    n = F.col("n")
    exp = 0.5 / F.sqrt(n / 3000.0)
    se = 0.26136 / F.sqrt(n.cast("double") * n / 3000.0)
    return agg.select(
        n.alias("n_points"),
        F.round(F.col("dbar"), 6).alias("mean_nn_dist"),
        F.round(exp, 6).alias("expected_nn_dist"),
        F.round(F.col("dbar") / exp, 6).alias("clark_evans_r"),
        F.round((F.col("dbar") - exp) / se, 6).alias("z_stat"),
        (F.col("dbar") / exp > 1.0).alias("dispersed"),
    )
