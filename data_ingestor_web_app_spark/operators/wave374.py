"""Wave-374: Ripley's K / Besag's L point-pattern statistics (Ripley,
J. Royal Stat. Soc. B 1977) and join-count statistics for lattice
autocorrelation (Moran, Biometrika 1948; Cliff & Ord 1973) over a
deterministic user-behavior grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_GRID = 32  # behaviour grid is 32 x 32 cells

# Shared oracle prelude: each user becomes a point at integer cell
# (x, y) = (#clicks mod 32, #views mod 32) — data-driven, deterministic.
_CELLS_SQL = f"""
    pts AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    % {_GRID} AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    % {_GRID} AS BIGINT) AS y
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS m FROM pts GROUP BY x, y
    )
"""


@query(
    "spatial_ripley_k",
    oracle=f"""
    WITH {_CELLS_SQL},
    n AS (SELECT CAST(SUM(m) AS BIGINT) AS n_pts FROM cells),
    radii AS (SELECT UNNEST([2, 4, 8]) AS r),
    pairs AS (
        SELECT r.r,
               SUM(CASE
                   WHEN a.x = b.x AND a.y = b.y
                       THEN a.m * (a.m - 1)
                   WHEN (a.x - b.x) * (a.x - b.x)
                        + (a.y - b.y) * (a.y - b.y) <= r.r * r.r
                       THEN a.m * b.m
                   ELSE 0 END) AS ord_pairs
        FROM cells a
        JOIN cells b
          ON ABS(a.x - b.x) <= 8 AND ABS(a.y - b.y) <= 8
        CROSS JOIN radii r
        GROUP BY r.r
    )
    SELECT p.r AS radius,
           CAST(p.ord_pairs AS BIGINT) AS n_pairs_leq_r,
           ROUND({_GRID * _GRID} * CAST(p.ord_pairs AS DOUBLE)
                 / (n.n_pts * (n.n_pts - 1)), 6) AS k_hat,
           ROUND(SQRT({_GRID * _GRID} * CAST(p.ord_pairs AS DOUBLE)
                 / (n.n_pts * (n.n_pts - 1)) / PI()), 6) AS l_hat,
           ROUND(PI() * p.r * p.r, 6) AS k_csr
    FROM pairs p, n
    ORDER BY p.r
    """,
)
def spatial_ripley_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K̂(r) = A·#ordered pairs within r / (n(n−1)) at radii
    2/4/8 over the user behaviour grid (click-count × view-count cells,
    mod 32), with Besag's variance-stabilized L̂(r) = √(K̂/π) and the
    CSR reference πr² — the clustered-vs-dispersed diagnostic spatial
    statistics starts from (no edge correction; the CSR column is the
    comparison the pytest exercises).

    Determinism: pair counts are exact integers computed on the CELL grid
    (same-cell pairs m(m−1), cross-cell m_a·m_b gated by the integer
    squared distance); K̂/L̂ are single double expressions ROUND 6.

    Scale shape: points collapse to ≤ 32×32 = 1,024 cells FIRST, so the
    pair stage is a banded cell-cell join (|Δx| ≤ 8) over a bounded frame
    — row count never enters the join; the same grid-collapse trick as
    spatial_knn_bounded."""
    pts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
                % _GRID
            )
            .cast("long")
            .alias("x"),
            (
                F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
                % _GRID
            )
            .cast("long")
            .alias("y"),
        )
    )
    cells = pts.groupBy("x", "y").agg(F.count("*").cast("long").alias("m"))
    n = cells.agg(F.sum("m").cast("long").alias("n_pts"))
    radii = spark.range(1).select(
        F.explode(F.array(F.lit(2), F.lit(4), F.lit(8))).alias("r")
    )
    a = cells.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("m").alias("am")
    )
    b = cells.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("m").alias("bm")
    )
    d2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    pairs = (
        a.join(
            b,
            (F.abs(F.col("ax") - F.col("bx")) <= 8)
            & (F.abs(F.col("ay") - F.col("by")) <= 8),
        )
        .crossJoin(F.broadcast(radii))
        .groupBy("r")
        .agg(
            F.sum(
                F.when(
                    (F.col("ax") == F.col("bx")) & (F.col("ay") == F.col("by")),
                    F.col("am") * (F.col("am") - 1),
                )
                .when(d2 <= F.col("r") * F.col("r"), F.col("am") * F.col("bm"))
                .otherwise(0)
            )
            .cast("long")
            .alias("ord_pairs")
        )
    )
    area = float(_GRID * _GRID)
    k_hat = area * F.col("ord_pairs").cast("double") / (
        F.col("n_pts") * (F.col("n_pts") - 1)
    )
    return (
        pairs.crossJoin(F.broadcast(n))
        .select(
            F.col("r").cast("int").alias("radius"),
            F.col("ord_pairs").alias("n_pairs_leq_r"),
            F.round(k_hat, 6).alias("k_hat"),
            F.round(F.sqrt(k_hat / F.lit(3.141592653589793)), 6).alias("l_hat"),
            F.round(
                F.lit(3.141592653589793) * F.col("r") * F.col("r"), 6
            ).alias("k_csr"),
        )
        .orderBy("radius")
    )


@query(
    "spatial_join_counts",
    oracle=f"""
    WITH {_CELLS_SQL},
    lattice AS (
        SELECT gx.x, gy.y, COALESCE(c.m, 0) AS m,
               CASE WHEN COALESCE(c.m, 0) % 2 = 1 THEN 1 ELSE 0 END AS black
        FROM (SELECT UNNEST(RANGE({_GRID})) AS x) gx
        CROSS JOIN (SELECT UNNEST(RANGE({_GRID})) AS y) gy
        LEFT JOIN cells c ON c.x = gx.x AND c.y = gy.y
    ),
    edges AS (
        SELECT a.black AS ba, b.black AS bb
        FROM lattice a JOIN lattice b
          ON (b.x = a.x + 1 AND b.y = a.y)
          OR (b.x = a.x AND b.y = a.y + 1)
    ),
    obs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS j,
               CAST(SUM(ba * bb) AS BIGINT) AS bb_cnt,
               CAST(SUM((1 - ba) * (1 - bb)) AS BIGINT) AS ww_cnt,
               CAST(SUM(CASE WHEN ba <> bb THEN 1 ELSE 0 END) AS BIGINT)
                   AS bw_cnt
        FROM edges
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nc,
               CAST(SUM(black) AS BIGINT) AS nb
        FROM lattice
    )
    SELECT o.bb_cnt AS bb, o.bw_cnt AS bw, o.ww_cnt AS ww,
           t.nb AS n_black, t.nc - t.nb AS n_white,
           ROUND(o.j * CAST(t.nb AS DOUBLE) * (t.nb - 1)
                 / (t.nc * CAST(t.nc - 1 AS DOUBLE)), 4) AS e_bb,
           ROUND(o.j * 2.0 * t.nb * (t.nc - t.nb)
                 / (t.nc * CAST(t.nc - 1 AS DOUBLE)), 4) AS e_bw,
           ROUND(o.j * CAST(t.nc - t.nb AS DOUBLE) * (t.nc - t.nb - 1)
                 / (t.nc * CAST(t.nc - 1 AS DOUBLE)), 4) AS e_ww
    FROM obs o, tot t
    """,
)
def spatial_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-count statistics on the 32×32 behaviour lattice colored by
    cell-occupancy parity (black = odd user count): observed BB / BW / WW
    counts over the rook-adjacency edges against their expectations under
    nonfree (hypergeometric) sampling — E[BB] = J·n_B(n_B−1)/(N(N−1)),
    E[BW] = 2J·n_B·n_W/(N(N−1)) — the binary-lattice autocorrelation test
    that predates (and grounds) Moran's I.

    Determinism: edge counts and color margins are exact integers on the
    fixed lattice (J = 2·32·31 rook edges); expectations are one double
    expression each, ROUND 4.

    Scale shape: the lattice is a generated 1,024-row frame left-joined
    with the data-driven cell counts; the edge join is lattice-sized and
    bounded regardless of event volume."""
    pts = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
                % _GRID
            )
            .cast("long")
            .alias("x"),
            (
                F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
                % _GRID
            )
            .cast("long")
            .alias("y"),
        )
    )
    cells = pts.groupBy("x", "y").agg(F.count("*").cast("long").alias("m"))
    gx = spark.range(_GRID).select(F.col("id").alias("x"))
    gy = spark.range(_GRID).select(F.col("id").alias("y"))
    lattice = (
        gx.crossJoin(gy)
        .join(cells, ["x", "y"], "left")
        .select(
            "x",
            "y",
            F.when(F.coalesce(F.col("m"), F.lit(0)) % 2 == 1, 1)
            .otherwise(0)
            .alias("black"),
        )
    )
    a = lattice.select(
        F.col("x").alias("ax"), F.col("y").alias("ay"), F.col("black").alias("ba")
    )
    b = lattice.select(
        F.col("x").alias("bx"), F.col("y").alias("by"), F.col("black").alias("bb")
    )
    edges = a.join(
        b,
        ((F.col("bx") == F.col("ax") + 1) & (F.col("by") == F.col("ay")))
        | ((F.col("bx") == F.col("ax")) & (F.col("by") == F.col("ay") + 1)),
    )
    obs = edges.agg(
        F.count("*").cast("long").alias("j"),
        F.sum(F.col("ba") * F.col("bb")).cast("long").alias("bb_cnt"),
        F.sum((1 - F.col("ba")) * (1 - F.col("bb"))).cast("long").alias("ww_cnt"),
        F.sum(F.when(F.col("ba") != F.col("bb"), 1).otherwise(0))
        .cast("long")
        .alias("bw_cnt"),
    )
    tot = lattice.agg(
        F.count("*").cast("long").alias("nc"),
        F.sum("black").cast("long").alias("nb"),
    )
    o = obs.crossJoin(F.broadcast(tot))
    nn = F.col("nc").cast("double") * (F.col("nc") - 1)
    return o.select(
        F.col("bb_cnt").alias("bb"),
        F.col("bw_cnt").alias("bw"),
        F.col("ww_cnt").alias("ww"),
        F.col("nb").alias("n_black"),
        (F.col("nc") - F.col("nb")).alias("n_white"),
        F.round(F.col("j") * F.col("nb").cast("double") * (F.col("nb") - 1) / nn, 4).alias("e_bb"),
        F.round(F.col("j") * 2.0 * F.col("nb") * (F.col("nc") - F.col("nb")) / nn, 4).alias("e_bw"),
        F.round(
            F.col("j")
            * (F.col("nc") - F.col("nb")).cast("double")
            * (F.col("nc") - F.col("nb") - 1)
            / nn,
            4,
        ).alias("e_ww"),
    )
