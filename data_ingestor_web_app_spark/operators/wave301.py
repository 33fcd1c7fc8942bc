"""Wave-301: Geary's C (the local-contrast companion to Moran's I on the
same hour/weekday grid) and Lotka's inverse-square productivity law.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.operators.wave234 import _CELLS_SQL, _cells
from data_ingestor_web_app_spark.registry import query


@query(
    "agg_geary_c",
    oracle=f"""
    WITH {_CELLS_SQL},
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS xbar FROM cells
    ),
    dev AS (
        SELECT h, d, x, x - s.xbar AS dx FROM cells CROSS JOIN stats s
    ),
    adj AS (
        SELECT a.x AS xa, b.x AS xb, a.h AS ha, a.d AS dda
        FROM dev a JOIN dev b
          ON ABS(a.h - b.h) <= 1 AND ABS(a.d - b.d) <= 1
         AND NOT (a.h = b.h AND a.d = b.d)
    ),
    deg AS (
        SELECT ha, CAST(COUNT(*) AS BIGINT) AS k FROM adj GROUP BY ha, dda
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s0,
               SUM((xa - xb) * (xa - xb)) AS num
        FROM adj
    ),
    s2s AS (SELECT CAST(SUM(4 * k * k) AS BIGINT) AS s2 FROM deg),
    den AS (SELECT SUM(dx * dx) AS den FROM dev),
    c AS (
        SELECT s.n, u.s0, t.s2,
               (s.n - 1.0) * u.num / (2.0 * u.s0 * dn.den) AS geary_c
        FROM stats s CROSS JOIN sums u CROSS JOIN s2s t CROSS JOIN den dn
    )
    SELECT CAST(n AS BIGINT) AS n_cells, s0,
           ROUND(geary_c, 6) AS geary_c,
           ROUND((geary_c - 1.0)
                 / SQRT(((2.0 * (2 * s0) + s2) * (n - 1) - 4.0 * s0 * s0)
                        / (2.0 * (n + 1) * s0 * s0)), 6) AS z_norm,
           geary_c < 1 AS positive_autocorr
    FROM c
    """,
)
def agg_geary_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geary's contiguity ratio C (Geary, The Incorporated Statistician
    1954, public) on the 24×7 hour/weekday grid of mean event values
    with queen (8-neighbor) weights: C = (n-1)·Σw_ij(x_i-x_j)² /
    (2S0·Σ(x_i-x̄)²) — E[C] = 1, C < 1 means neighbors AGREE. The
    local-contrast companion to agg_moran_i (same grid, same weights):
    Moran is a covariance and feels global structure, Geary is a
    squared difference and feels local breaks, so the pair separates
    smooth gradients from patchwork. z uses the Cliff-Ord normality
    variance with S1 = 2S0, S2 = 4Σdeg² for symmetric binary weights.

    Exactness device: the grid is the same bounded 168-cell rollup as
    Moran; adjacency is integer offset comparison; S0/S2 stay BIGINT;
    one rounded chain per output; the flag compares unrounded C to 1.

    Scale shape: one map-side-combinable groupBy over the scan, then a
    168-row frame joined to itself — bounded by the calendar grid."""
    cells = _cells(spark, sf_dir)
    stats = cells.agg(
        F.count("*").cast("long").alias("n"), F.avg("x").alias("xbar")
    )
    dev = cells.crossJoin(F.broadcast(stats)).select(
        "h", "d", "x", (F.col("x") - F.col("xbar")).alias("dx")
    )
    a = dev.select(
        F.col("h").alias("ha"), F.col("d").alias("da"), F.col("x").alias("xa")
    )
    b = dev.select(
        F.col("h").alias("hb"), F.col("d").alias("db"), F.col("x").alias("xb")
    )
    adj = a.join(
        b,
        (F.abs(F.col("ha") - F.col("hb")) <= 1)
        & (F.abs(F.col("da") - F.col("db")) <= 1)
        & ~((F.col("ha") == F.col("hb")) & (F.col("da") == F.col("db"))),
    )
    deg = adj.groupBy("ha", "da").agg(F.count("*").cast("long").alias("k"))
    sums = adj.agg(
        F.count("*").cast("long").alias("s0"),
        F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))).alias(
            "num"
        ),
    )
    s2s = deg.agg(F.sum(4 * F.col("k") * F.col("k")).cast("long").alias("s2"))
    den = dev.agg(F.sum(F.col("dx") * F.col("dx")).alias("den"))
    c = (
        stats.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(s2s))
        .crossJoin(F.broadcast(den))
        .select(
            "n",
            "s0",
            "s2",
            (
                (F.col("n") - 1.0)
                * F.col("num")
                / (2.0 * F.col("s0") * F.col("den"))
            ).alias("geary_c"),
        )
    )
    var = (
        (2.0 * (2 * F.col("s0")) + F.col("s2")) * (F.col("n") - 1)
        - 4.0 * F.col("s0") * F.col("s0")
    ) / (2.0 * (F.col("n") + 1) * F.col("s0") * F.col("s0"))
    return c.select(
        F.col("n").alias("n_cells"),
        "s0",
        F.round("geary_c", 6).alias("geary_c"),
        F.round((F.col("geary_c") - 1.0) / F.sqrt(var), 6).alias("z_norm"),
        (F.col("geary_c") < 1).alias("positive_autocorr"),
    )


@query(
    "model_lotka_law",
    oracle="""
    WITH per_user AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    ),
    fof AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS f
        FROM per_user GROUP BY n
    ),
    pts AS (
        SELECT LN(CAST(n AS DOUBLE)) AS lx, LN(CAST(f AS DOUBLE)) AS ly
        FROM fof
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               / (SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx)) AS slope,
               (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               * (SUM(lx * ly) - COUNT(*) * AVG(lx) * AVG(ly))
               / ((SUM(lx * lx) - COUNT(*) * AVG(lx) * AVG(lx))
                  * (SUM(ly * ly) - COUNT(*) * AVG(ly) * AVG(ly))) AS r2
        FROM pts
    ),
    heads AS (
        SELECT CAST(SUM(f) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN n = 1 THEN f ELSE 0 END) AS BIGINT)
                   AS singletons
        FROM fof
    )
    SELECT h.n_users, f.m AS n_distinct_counts,
           ROUND(-f.slope, 6) AS lotka_alpha,
           ROUND(f.r2, 6) AS loglog_r2,
           ROUND(CAST(h.singletons AS DOUBLE) / h.n_users, 6)
               AS frac_singletons
    FROM fit f CROSS JOIN heads h
    """,
)
def model_lotka_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lotka's inverse-power productivity law (Lotka, J. Wash. Acad.
    Sci. 1926, public): the number of producers with n works follows
    f(n) ∝ n^(-alpha), alpha ≈ 2 for scientific authorship — here over
    per-user event production. Fitted as log-log OLS on the
    frequency-of-frequencies with the classic companion number: under
    exact Lotka-2, 6/pi² ≈ 61% of producers are single-event users
    (frac_singletons). Completes the registry's power-law corner
    (Zipf rank-frequency, Heaps vocabulary growth, Pareto cutoff,
    Benford digits) with the productivity axis.

    Determinism: the frequency-of-frequencies is exact integers; the
    OLS runs over <=|distinct count values| points in fixed closed
    form; ROUND 6.

    Scale shape: two nested partial-agg groupBys (user -> count,
    count -> frequency); the regression sees only the bounded
    count-value alphabet, never the corpus."""
    per_user = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("n"))
    )
    fof = per_user.groupBy("n").agg(F.count("*").cast("long").alias("f"))
    pts = fof.select(
        F.log(F.col("n").cast("double")).alias("lx"),
        F.log(F.col("f").cast("double")).alias("ly"),
    )
    sxx = F.sum(F.col("lx") * F.col("lx")) - F.count("*") * F.avg("lx") * F.avg(
        "lx"
    )
    syy = F.sum(F.col("ly") * F.col("ly")) - F.count("*") * F.avg("ly") * F.avg(
        "ly"
    )
    sxy = F.sum(F.col("lx") * F.col("ly")) - F.count("*") * F.avg("lx") * F.avg(
        "ly"
    )
    fit = pts.agg(
        F.count("*").cast("long").alias("m"),
        (sxy / sxx).alias("slope"),
        (sxy * sxy / (sxx * syy)).alias("r2"),
    )
    heads = fof.agg(
        F.sum("f").cast("long").alias("n_users"),
        F.sum(F.when(F.col("n") == 1, F.col("f")).otherwise(0))
        .cast("long")
        .alias("singletons"),
    )
    return fit.crossJoin(F.broadcast(heads)).select(
        "n_users",
        F.col("m").alias("n_distinct_counts"),
        F.round(-F.col("slope"), 6).alias("lotka_alpha"),
        F.round("r2", 6).alias("loglog_r2"),
        F.round(
            F.col("singletons").cast("double") / F.col("n_users"), 6
        ).alias("frac_singletons"),
    )
