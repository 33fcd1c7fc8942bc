"""Wave-341: great-circle navigation (haversine distance + initial
bearing — public spherical trigonometry), ray-casting point-in-polygon
(the Jordan curve crossing test), and the order-4 Hilbert curve index
(Hilbert 1891; the xy2d bit algorithm) — the spatial/locality shelf.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_R_KM = 6371.0088  # IUGG mean earth radius


@query(
    "fn_haversine_bearing",
    oracle=f"""
    WITH pts AS (
        SELECT n_nationkey AS id,
               CAST(-60 + (n_nationkey * 7) % 120 AS DOUBLE) AS lat,
               CAST(-170 + (n_nationkey * 37) % 340 AS DOUBLE) AS lon
        FROM nation
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               RADIANS(a.lat) AS la1, RADIANS(a.lon) AS lo1,
               RADIANS(b.lat) AS la2, RADIANS(b.lon) AS lo2
        FROM pts a JOIN pts b ON b.id = a.id + 1
    ),
    hav AS (
        SELECT id_a, id_b, la1, lo1, la2, lo2,
               SIN((la2 - la1) / 2) * SIN((la2 - la1) / 2)
               + COS(la1) * COS(la2)
                 * SIN((lo2 - lo1) / 2) * SIN((lo2 - lo1) / 2) AS h
        FROM pairs
    )
    SELECT id_a, id_b,
           ROUND(2.0 * {_R_KM} * ASIN(SQRT(h)), 6) AS distance_km,
           ROUND(DEGREES(ATAN2(
                   SIN(lo2 - lo1) * COS(la2),
                   COS(la1) * SIN(la2)
                   - SIN(la1) * COS(la2) * COS(lo2 - lo1))), 6)
               AS initial_bearing_deg
    FROM hav
    """,
)
def fn_haversine_bearing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle distance by the haversine formula and the initial
    bearing (forward azimuth) — the public spherical-trigonometry pair
    every geo pipeline ships — between consecutive synthetic nation
    coordinates (lat/lon derived from the key by a fixed mixing
    formula; IUGG mean radius 6371.0088 km).

    Determinism: both outputs are the identical SIN/COS/ASIN/ATAN2
    literal chains in both engines over exact-integer-derived degrees,
    rounded 6dp (cross-checked exact on both fixture SFs — same
    empirical contract as the LN/EXP rows).

    Scale shape: shifted-key equi self-join + a per-row trig
    projection — no shuffle beyond the join."""
    pts = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("id"),
        (-60 + (F.col("n_nationkey") * 7) % 120).cast("double").alias("lat"),
        (-170 + (F.col("n_nationkey") * 37) % 340)
        .cast("double")
        .alias("lon"),
    )
    a = pts.select(
        F.col("id").alias("id_a"),
        F.radians("lat").alias("la1"),
        F.radians("lon").alias("lo1"),
    )
    b = pts.select(
        F.col("id").alias("id_b"),
        F.radians("lat").alias("la2"),
        F.radians("lon").alias("lo2"),
    )
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    dla = (F.col("la2") - F.col("la1")) / 2
    dlo = (F.col("lo2") - F.col("lo1")) / 2
    h = F.sin(dla) * F.sin(dla) + F.cos("la1") * F.cos("la2") * F.sin(
        dlo
    ) * F.sin(dlo)
    bearing = F.degrees(
        F.atan2(
            F.sin(F.col("lo2") - F.col("lo1")) * F.cos("la2"),
            F.cos("la1") * F.sin("la2")
            - F.sin("la1") * F.cos("la2") * F.cos(F.col("lo2") - F.col("lo1")),
        )
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.round(2.0 * _R_KM * F.asin(F.sqrt(h)), 6).alias("distance_km"),
        F.round(bearing, 6).alias("initial_bearing_deg"),
    )


# literal pentagon for the crossing test (counter-clockwise)
_POLY = [(0, 0), (40, 10), (50, 40), (20, 60), (-10, 30)]


def _crossing_sql(x: str, y: str) -> str:
    terms = []
    for i in range(len(_POLY)):
        xi, yi = _POLY[i]
        xj, yj = _POLY[(i + 1) % len(_POLY)]
        terms.append(
            f"(CASE WHEN (({yi} > {y}) <> ({yj} > {y})) AND "
            f"({x} < ({xj} - {xi}) * CAST({y} - {yi} AS DOUBLE) "
            f"/ ({yj} - {yi}) + {xi}) THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


def _crossing_col(x: Column, y: Column) -> Column:
    acc = F.lit(0)
    for i in range(len(_POLY)):
        xi, yi = _POLY[i]
        xj, yj = _POLY[(i + 1) % len(_POLY)]
        cond = ((F.lit(yi) > y) != (F.lit(yj) > y)) & (
            x
            < (xj - xi) * (y - yi).cast("double") / (yj - yi) + xi
        )
        acc = acc + F.when(cond, 1).otherwise(0)
    return acc


@query(
    "fn_point_in_polygon",
    oracle=f"""
    WITH pts AS (
        SELECT p_partkey,
               CAST((p_partkey * 13) % 71 - 10 AS BIGINT) AS x,
               CAST((p_partkey * 29) % 73 - 5 AS BIGINT) AS y
        FROM part WHERE p_partkey % 3 = 0
    )
    SELECT p_partkey, x, y,
           CAST({_crossing_sql('x', 'y')} AS BIGINT) AS crossings,
           {_crossing_sql('x', 'y')} % 2 = 1 AS inside
    FROM pts
    """,
)
def fn_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ray-casting point-in-polygon (the Jordan-curve crossing test,
    public since Shimrat's 1962 CACM algorithm): count how many of the
    literal pentagon's edges a horizontal ray from each synthetic
    point crosses — odd means inside. The edge loop is unrolled into
    one fixed 5-term conditional chain, identical in both engines
    (integer vertices, one guarded division per edge).

    Determinism: points and vertices are exact integers; each crossing
    test divides exact integers in the same chain; the parity is
    integer.

    Scale shape: a pure per-row projection over a pruned scan — the
    canonical spatial filter shape, no shuffle."""
    pts = (
        table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 3 == 0)
        .select(
            "p_partkey",
            ((F.col("p_partkey") * 13) % 71 - 10).cast("long").alias("x"),
            ((F.col("p_partkey") * 29) % 73 - 5).cast("long").alias("y"),
        )
    )
    cross = _crossing_col(F.col("x"), F.col("y"))
    return pts.select(
        "p_partkey",
        "x",
        "y",
        cross.cast("long").alias("crossings"),
        (cross % 2 == 1).alias("inside"),
    )


@query(
    "fn_hilbert_curve",
    oracle="""
    WITH cells AS (
        SELECT CAST(i AS BIGINT) AS cell_id,
               CAST(i % 16 AS BIGINT) AS x0,
               CAST(i // 16 AS BIGINT) AS y0
        FROM (SELECT UNNEST(RANGE(0, 256)) AS i)
    ),
    r8 AS (
        SELECT cell_id, x0, y0,
               CASE WHEN x0 >= 8 THEN 1 ELSE 0 END AS rx,
               CASE WHEN y0 >= 8 THEN 1 ELSE 0 END AS ry
        FROM cells
    ),
    s8 AS (
        SELECT cell_id, x0, y0,
               64 * (CASE WHEN rx = 0 AND ry = 0 THEN 0 WHEN rx = 0 AND ry = 1 THEN 1 WHEN rx = 1 AND ry = 1 THEN 2 ELSE 3 END) AS d8,
               CASE WHEN ry = 0 THEN
                   CASE WHEN rx = 1 THEN 7 - (y0 % 8) ELSE y0 % 8 END
               ELSE x0 % 8 END AS x1,
               CASE WHEN ry = 0 THEN
                   CASE WHEN rx = 1 THEN 7 - (x0 % 8) ELSE x0 % 8 END
               ELSE y0 % 8 END AS y1
        FROM r8
    ),
    s4 AS (
        SELECT cell_id, x0, y0, d8,
               16 * (CASE WHEN (CASE WHEN x1 >= 4 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN y1 >= 4 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN x1 >= 4 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN y1 >= 4 THEN 1 ELSE 0 END) = 1 THEN 1 WHEN (CASE WHEN x1 >= 4 THEN 1 ELSE 0 END) = 1 AND (CASE WHEN y1 >= 4 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS d4,
               CASE WHEN y1 < 4 THEN
                   CASE WHEN x1 >= 4 THEN 3 - (y1 % 4) ELSE y1 % 4 END
               ELSE x1 % 4 END AS x2,
               CASE WHEN y1 < 4 THEN
                   CASE WHEN x1 >= 4 THEN 3 - (x1 % 4) ELSE x1 % 4 END
               ELSE y1 % 4 END AS y2
        FROM s8
    ),
    s2 AS (
        SELECT cell_id, x0, y0, d8, d4,
               4 * (CASE WHEN (CASE WHEN x2 >= 2 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN y2 >= 2 THEN 1 ELSE 0 END) = 0 THEN 0 WHEN (CASE WHEN x2 >= 2 THEN 1 ELSE 0 END) = 0 AND (CASE WHEN y2 >= 2 THEN 1 ELSE 0 END) = 1 THEN 1 WHEN (CASE WHEN x2 >= 2 THEN 1 ELSE 0 END) = 1 AND (CASE WHEN y2 >= 2 THEN 1 ELSE 0 END) = 1 THEN 2 ELSE 3 END) AS d2,
               CASE WHEN y2 < 2 THEN
                   CASE WHEN x2 >= 2 THEN 1 - (y2 % 2) ELSE y2 % 2 END
               ELSE x2 % 2 END AS x3,
               CASE WHEN y2 < 2 THEN
                   CASE WHEN x2 >= 2 THEN 1 - (x2 % 2) ELSE x2 % 2 END
               ELSE y2 % 2 END AS y3
        FROM s4
    ),
    s1 AS (
        SELECT cell_id, x0, y0,
               CAST(d8 + d4 + d2 + (CASE WHEN x3 = 0 AND y3 = 0 THEN 0 WHEN x3 = 0 AND y3 = 1 THEN 1 WHEN x3 = 1 AND y3 = 1 THEN 2 ELSE 3 END) AS BIGINT) AS d
        FROM s2
    )
    SELECT cell_id, x0 AS x, y0 AS y, d AS hilbert_d
    FROM s1 ORDER BY cell_id
    """,
)
def fn_hilbert_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The order-4 Hilbert curve index (Hilbert 1891; the standard
    xy2d bit-interleave-with-rotation algorithm): map each 16×16 grid
    cell (derived from the first 256 part keys) to its position d ∈
    [0, 255] along the curve. Hilbert beats the registry's Morton/
    Z-order rows on locality (every curve step is a grid step — pinned
    in pytest), which is why it's the layout key of choice for spatial
    clustering at scale. The four scale rounds (s = 8,4,2,1) are
    unrolled with the quadrant XOR and the reflect-or-swap rotation as
    explicit integer CASE chains.

    Determinism: pure integer bit arithmetic end-to-end.

    Scale shape: per-row projection over a pruned scan; the unroll is
    log2(order) stages of the SAME row — no shuffle."""
    cells = spark.range(0, 256).select(
        F.col("id").cast("long").alias("cell_id"),
        (F.col("id") % 16).cast("long").alias("x"),
        (F.col("id") / 16).cast("long").alias("y"),
    )
    df = (
        cells.withColumn("xc", F.col("x"))
        .withColumn("yc", F.col("y"))
        .withColumn("dacc", F.lit(0).cast("long"))
    )
    for s in (8, 4, 2, 1):
        rx = F.when(F.col("xc") >= s, 1).otherwise(0)
        ry = F.when(F.col("yc") >= s, 1).otherwise(0)
        # materialize this round's contribution BEFORE rotating — the
        # expressions are late-bound by column name
        df = df.withColumn(
            "dacc",
            F.col("dacc") + F.lit(s * s) * (3 * rx).bitwiseXOR(ry),
        )
        if s > 1:
            xm = F.col("xc") % s
            ym = F.col("yc") % s
            nx = F.when(
                ry == 0, F.when(rx == 1, s - 1 - ym).otherwise(ym)
            ).otherwise(xm)
            ny = F.when(
                ry == 0, F.when(rx == 1, s - 1 - xm).otherwise(xm)
            ).otherwise(ym)
            df = df.withColumn("nx", nx).withColumn("ny", ny)
            df = (
                df.drop("xc", "yc")
                .withColumnRenamed("nx", "xc")
                .withColumnRenamed("ny", "yc")
            )
    return df.select(
        "cell_id",
        "x",
        "y",
        F.col("dacc").cast("long").alias("hilbert_d"),
    ).orderBy("cell_id")
