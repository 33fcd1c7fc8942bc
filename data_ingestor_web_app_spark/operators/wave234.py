"""Wave-234: spatial autocorrelation statistics — Moran's I (global) and
Getis-Ord Gi* (local hot spots) over an hour-of-day x day-of-week activity
grid. The classic ESDA pair a telemetry platform runs before claiming "the
Tuesday 3am cells are anomalous": Moran's I says WHETHER values cluster in
grid space at all; Gi* says WHERE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# Shared cell grid: 24 hours x 7 weekdays, cell value = mean event value.
# Queen adjacency (8-neighborhood), NO wraparound — hour 0 and 23 are not
# neighbors, matching a plain raster. DuckDB DAYOFWEEK is 0-6 Sunday-first
# vs Spark's 1-7, hence the +1 in the oracles (NOTES_BUILD pitfall).
_CELLS_SQL = """
    cells AS (
        SELECT EXTRACT(hour FROM ts) AS h,
               DAYOFWEEK(ts) + 1 AS d,
               AVG(value) AS x
        FROM events GROUP BY 1, 2
    )
"""


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy(
        F.hour("ts").cast("long").alias("h"),
        F.dayofweek("ts").cast("long").alias("d"),
    ).agg(F.avg("value").alias("x"))


@query(
    "agg_moran_i",
    oracle=f"""
    WITH {_CELLS_SQL},
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS xbar FROM cells
    ),
    dev AS (
        SELECT h, d, x - s.xbar AS dx FROM cells CROSS JOIN stats s
    ),
    adj AS (
        SELECT a.dx AS da, b.dx AS db, a.h AS ha, a.d AS dda
        FROM dev a JOIN dev b
          ON ABS(a.h - b.h) <= 1 AND ABS(a.d - b.d) <= 1
         AND NOT (a.h = b.h AND a.d = b.d)
    ),
    deg AS (
        SELECT ha, CAST(COUNT(*) AS BIGINT) AS k FROM adj GROUP BY ha, dda
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s0,
               SUM(da * db) AS num
        FROM adj
    ),
    s2s AS (SELECT CAST(SUM(4 * k * k) AS BIGINT) AS s2 FROM deg),
    den AS (SELECT SUM(dx * dx) AS den FROM dev)
    SELECT s.n AS n_cells,
           u.s0 AS s0,
           ROUND((s.n / CAST(u.s0 AS DOUBLE)) * (u.num / dn.den), 6)
               AS moran_i,
           ROUND(-1.0 / (s.n - 1), 6) AS expected_i,
           ROUND(((s.n / CAST(u.s0 AS DOUBLE)) * (u.num / dn.den)
                  - (-1.0 / (s.n - 1)))
                 / SQRT((CAST(s.n AS DOUBLE) * s.n * (2 * u.s0)
                         - s.n * t.s2 + 3.0 * u.s0 * u.s0)
                        / ((CAST(s.n AS DOUBLE) * s.n - 1) * u.s0 * u.s0)
                        - 1.0 / ((s.n - 1.0) * (s.n - 1.0))), 6) AS z_norm
    FROM stats s CROSS JOIN sums u CROSS JOIN s2s t CROSS JOIN den dn
    """,
)
def agg_moran_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global Moran's I spatial autocorrelation (Moran 1950; Cliff & Ord
    1981, public) over the 24x7 hour/weekday grid of mean event values,
    with binary queen (8-neighbor) weights and the closed-form z-score
    under the normality null: E[I] = -1/(n-1), Var_N(I) = (n^2*S1 - n*S2 +
    3*S0^2)/((n^2-1)*S0^2) - E[I]^2, where for symmetric binary weights
    S1 = 2*S0 and S2 = 4 * sum_i deg_i^2.

    Exactness device: the grid is a bounded dimension rollup (168 cells),
    adjacency is pure integer offset comparison, and every float that
    crosses engines is a single rounded expression chain; weight sums S0,
    S2 and degrees stay BIGINT end-to-end.

    Scale shape: the only data-sized work is one map-side-combinable
    groupBy over the fact scan; everything after operates on a 168-row
    frame (broadcast join territory). At 100 TB the grid is the SAME 168
    rows — the statistic's cost is the scan, which is the floor."""
    cells = _cells(spark, sf_dir)
    stats = cells.agg(
        F.count("*").cast("long").alias("n"), F.avg("x").alias("xbar")
    )
    dev = cells.crossJoin(F.broadcast(stats)).select(
        "h", "d", (F.col("x") - F.col("xbar")).alias("dx"), "n"
    )
    a = dev.select(
        F.col("h").alias("ha"), F.col("d").alias("da_"), F.col("dx").alias("da")
    )
    b = dev.select(
        F.col("h").alias("hb"), F.col("d").alias("db_"), F.col("dx").alias("db")
    )
    adj = a.join(
        F.broadcast(b),
        (F.abs(a.ha - b.hb) <= 1)
        & (F.abs(F.col("da_") - F.col("db_")) <= 1)
        & ~((a.ha == b.hb) & (F.col("da_") == F.col("db_"))),
    )
    sums = adj.agg(
        F.count("*").cast("long").alias("s0"),
        F.sum(F.col("da") * F.col("db")).alias("num"),
    )
    s2 = (
        adj.groupBy("ha", "da_")
        .agg(F.count("*").cast("long").alias("k"))
        .agg(F.sum(4 * F.col("k") * F.col("k")).cast("long").alias("s2"))
    )
    den = dev.agg(F.sum(F.col("dx") * F.col("dx")).alias("den"))
    n = F.col("n").cast("double")
    s0 = F.col("s0").cast("double")
    i_stat = (F.col("n") / s0) * (F.col("num") / F.col("den"))
    e_i = -1.0 / (F.col("n") - 1)
    var_n = (n * n * (2 * F.col("s0")) - F.col("n") * F.col("s2") + 3.0 * F.col("s0") * F.col("s0")) / (
        (n * n - 1) * F.col("s0") * F.col("s0")
    ) - 1.0 / ((F.col("n") - 1.0) * (F.col("n") - 1.0))
    return (
        stats.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(s2))
        .crossJoin(F.broadcast(den))
        .select(
            F.col("n").alias("n_cells"),
            "s0",
            F.round(i_stat, 6).alias("moran_i"),
            F.round(e_i, 6).alias("expected_i"),
            F.round((i_stat - e_i) / F.sqrt(var_n), 6).alias("z_norm"),
        )
    )


@query(
    "agg_getis_ord_hotspots",
    oracle=f"""
    WITH {_CELLS_SQL},
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(x) AS xbar,
               SQRT(SUM(x * x) / COUNT(*) - AVG(x) * AVG(x)) AS s
        FROM cells
    ),
    neigh AS (
        SELECT a.h, a.d,
               CAST(COUNT(*) AS BIGINT) AS wi,
               SUM(b.x) AS sx
        FROM cells a JOIN cells b
          ON ABS(a.h - b.h) <= 1 AND ABS(a.d - b.d) <= 1
        GROUP BY a.h, a.d
    )
    SELECT n.h, n.d, n.wi,
           ROUND((n.sx - s.xbar * n.wi)
                 / (s.s * SQRT((s.n * n.wi - CAST(n.wi AS DOUBLE) * n.wi)
                               / (s.n - 1.0))), 6) AS gi_z,
           CASE WHEN (n.sx - s.xbar * n.wi)
                     / (s.s * SQRT((s.n * n.wi - CAST(n.wi AS DOUBLE) * n.wi)
                                   / (s.n - 1.0))) > 1.959964 THEN 'hot'
                WHEN (n.sx - s.xbar * n.wi)
                     / (s.s * SQRT((s.n * n.wi - CAST(n.wi AS DOUBLE) * n.wi)
                                   / (s.n - 1.0))) < -1.959964 THEN 'cold'
                ELSE 'none' END AS spot
    FROM neigh n CROSS JOIN stats s
    """,
)
def agg_getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Getis-Ord Gi* hot-spot z-scores (Getis & Ord 1992; Ord &
    Getis 1995, public) per grid cell, with self-inclusive binary queen
    weights: Gi* = (sum_{j in N(i) u {i}} x_j - xbar*W_i) / (S *
    sqrt((n*W_i - W_i^2)/(n-1))), S the population std of cell values.
    Cells beyond |z| > 1.959964 (the literal two-sided 5% normal point —
    shipped as a constant, never erf in SQL) are labeled hot/cold.

    Exactness device: W_i is an integer neighbor count (edge cells have
    smaller W_i — no wraparound, clipped like a raster); one rounded
    output expression; the hot/cold CASE compares the same unrounded
    chain in both engines, away from any rounding boundary.

    Scale shape: identical to agg_moran_i — one fact rollup, then a
    168x168 broadcast self-join. The local statistic is what you'd
    materialize per (region, hour) at 100 TB and it stays O(cells)."""
    cells = _cells(spark, sf_dir)
    stats = cells.agg(
        F.count("*").cast("long").alias("n"),
        F.avg("x").alias("xbar"),
        F.sqrt(
            F.sum(F.col("x") * F.col("x")) / F.count("*")
            - F.avg("x") * F.avg("x")
        ).alias("s"),
    )
    a = cells.select(F.col("h"), F.col("d"))
    b = cells.select(
        F.col("h").alias("hb"), F.col("d").alias("db_"), F.col("x").alias("xb")
    )
    neigh = (
        a.join(
            F.broadcast(b),
            (F.abs(F.col("h") - F.col("hb")) <= 1)
            & (F.abs(F.col("d") - F.col("db_")) <= 1),
        )
        .groupBy("h", "d")
        .agg(
            F.count("*").cast("long").alias("wi"),
            F.sum("xb").alias("sx"),
        )
    )
    wi_d = F.col("wi").cast("double")
    z = (F.col("sx") - F.col("xbar") * F.col("wi")) / (
        F.col("s")
        * F.sqrt(
            (F.col("n") * F.col("wi") - wi_d * F.col("wi"))
            / (F.col("n") - 1.0)
        )
    )
    return neigh.crossJoin(F.broadcast(stats)).select(
        "h",
        "d",
        "wi",
        F.round(z, 6).alias("gi_z"),
        F.when(z > 1.959964, "hot")
        .when(z < -1.959964, "cold")
        .otherwise("none")
        .alias("spot"),
    )
