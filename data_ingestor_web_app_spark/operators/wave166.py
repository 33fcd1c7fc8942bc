"""Wave-166: optimization and robust location — a 2-variable LP solved by
vertex enumeration, the Weiszfeld geometric median (2 fixed iterations),
and a Gumbel extreme-value fit from L-moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

# LP: maximize 5x + 4y subject to data-derived resource rows
#   capacity_i:  a_i x + b_i y <= c_i   (one row per part brand group)
# plus x >= 0, y >= 0. The optimum of a 2-var LP sits on a vertex — the
# intersection of two constraint lines (or a line with an axis) — so the
# solver is: enumerate O(k²) candidate vertices, keep feasible ones,
# take the objective argmax. Pure closed-form arithmetic.
_LP_CONS_SQL = """cons AS (
        SELECT p_brand,
               ROUND(AVG(p_size), 2) AS a,
               ROUND(AVG(p_retailprice) / 100, 2) AS b,
               ROUND(SUM(p_size) * 1e0, 2) AS c
        FROM part GROUP BY p_brand
    )"""


@query(
    "opt_lp_vertex_2var",
    oracle=f"""
    WITH {_LP_CONS_SQL},
    lines AS (
        SELECT p_brand, a, b, c FROM cons
        UNION ALL SELECT 'x_axis', 0e0, 1e0, 0e0
        UNION ALL SELECT 'y_axis', 1e0, 0e0, 0e0
    ),
    verts AS (
        SELECT l1.p_brand AS c1, l2.p_brand AS c2,
               (l1.c * l2.b - l2.c * l1.b)
                   / (l1.a * l2.b - l2.a * l1.b) AS x,
               (l1.a * l2.c - l2.a * l1.c)
                   / (l1.a * l2.b - l2.a * l1.b) AS y
        FROM lines l1 JOIN lines l2 ON l1.p_brand < l2.p_brand
        WHERE l1.a * l2.b - l2.a * l1.b <> 0
    ),
    feas AS (
        SELECT v.c1, v.c2, v.x, v.y
        FROM verts v
        WHERE v.x >= -1e-9 AND v.y >= -1e-9
          AND NOT EXISTS (
              SELECT 1 FROM cons k
              WHERE k.a * v.x + k.b * v.y > k.c + 1e-6
          )
    )
    SELECT c1, c2, ROUND(x, 4) AS x, ROUND(y, 4) AS y,
           ROUND(5 * x + 4 * y, 4) AS objective
    FROM feas
    ORDER BY 5 * x + 4 * y DESC, c1, c2
    LIMIT 1
    """,
)
def opt_lp_vertex_2var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-variable linear program solved by VERTEX ENUMERATION (the
    fundamental theorem of LP: an optimum lies on a vertex of the
    feasible polygon — Dantzig-era textbook material, public): maximize
    5x+4y subject to per-brand resource constraints derived from the
    part table (avg size, price-scaled coefficient, total-size budget)
    plus nonnegativity. Candidate vertices are all O(k²) pairwise line
    intersections (Cramer), filtered by feasibility against every
    constraint, then the objective argmax with a total-order tie-break.

    This is the LP shape a planner embeds IN the warehouse: constraints
    are aggregates of live data, and the solve is a self-join + filter —
    no external solver, fully distributed, and exactly replayable (the
    coefficient aggregates are rounded to 2dp BEFORE the solve so both
    engines intersect identical lines).

    Scale shape: k constraint rows (k = #brands, tiny) — the O(k²)
    vertex join is on an aggregate, the fact scan happens once."""
    p = table(spark, sf_dir, "part")
    cons = p.groupBy("p_brand").agg(
        F.round(F.avg("p_size"), 2).alias("a"),
        F.round(F.avg("p_retailprice") / 100, 2).alias("b"),
        F.round(F.sum("p_size") * F.lit(1.0), 2).alias("c"),
    )
    lines = cons.unionByName(
        spark.createDataFrame(
            [("x_axis", 0.0, 1.0, 0.0), ("y_axis", 1.0, 0.0, 0.0)],
            "p_brand string, a double, b double, c double",
        )
    )
    l1 = lines.select(
        F.col("p_brand").alias("c1"), F.col("a").alias("a1"),
        F.col("b").alias("b1"), F.col("c").alias("cc1"),
    )
    l2 = lines.select(
        F.col("p_brand").alias("c2"), F.col("a").alias("a2"),
        F.col("b").alias("b2"), F.col("c").alias("cc2"),
    )
    det = F.col("a1") * F.col("b2") - F.col("a2") * F.col("b1")
    # division guarded INSIDE when(): ANSI mode may evaluate the projection
    # for det=0 rows regardless of a separate filter's position in the plan
    verts = (
        l1.join(F.broadcast(l2), F.col("c1") < F.col("c2"))
        .select(
            "c1",
            "c2",
            F.when(
                det != 0,
                (F.col("cc1") * F.col("b2") - F.col("cc2") * F.col("b1")) / det,
            ).alias("x"),
            F.when(
                det != 0,
                (F.col("a1") * F.col("cc2") - F.col("a2") * F.col("cc1")) / det,
            ).alias("y"),
        )
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
    )
    k = cons.select(
        F.col("a").alias("ka"), F.col("b").alias("kb"), F.col("c").alias("kc")
    )
    viol = (
        verts.crossJoin(F.broadcast(k))
        .where(F.col("ka") * F.col("x") + F.col("kb") * F.col("y") > F.col("kc") + 1e-6)
        .select("c1", "c2")
        .distinct()
    )
    feas = (
        verts.where((F.col("x") >= -1e-9) & (F.col("y") >= -1e-9))
        .join(viol, ["c1", "c2"], "left_anti")
    )
    w = Window.orderBy(
        (5 * F.col("x") + 4 * F.col("y")).desc(), "c1", "c2"
    )
    return (
        feas.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "c1",
            "c2",
            F.round("x", 4).alias("x"),
            F.round("y", 4).alias("y"),
            F.round(5 * F.col("x") + 4 * F.col("y"), 4).alias("objective"),
        )
    )


@query(
    "model_weiszfeld_2step",
    oracle="""
    WITH pts AS (
        SELECT l_quantity * 1e0 AS px, l_extendedprice / 1000 AS py
        FROM lineitem
    ),
    c0 AS (SELECT AVG(px) AS cx, AVG(py) AS cy FROM pts),
    it1 AS (
        SELECT SUM(px / SQRT((px - cx) * (px - cx) + (py - cy) * (py - cy)))
                   / SUM(1 / SQRT((px - cx) * (px - cx) + (py - cy) * (py - cy)))
                   AS ncx,
               SUM(py / SQRT((px - cx) * (px - cx) + (py - cy) * (py - cy)))
                   / SUM(1 / SQRT((px - cx) * (px - cx) + (py - cy) * (py - cy)))
                   AS ncy
        FROM pts CROSS JOIN c0
        WHERE (px - cx) * (px - cx) + (py - cy) * (py - cy) > 0
    ),
    it2 AS (
        SELECT SUM(px / SQRT((px - ncx) * (px - ncx) + (py - ncy) * (py - ncy)))
                   / SUM(1 / SQRT((px - ncx) * (px - ncx) + (py - ncy) * (py - ncy)))
                   AS mcx,
               SUM(py / SQRT((px - ncx) * (px - ncx) + (py - ncy) * (py - ncy)))
                   / SUM(1 / SQRT((px - ncx) * (px - ncx) + (py - ncy) * (py - ncy)))
                   AS mcy
        FROM pts CROSS JOIN it1
        WHERE (px - ncx) * (px - ncx) + (py - ncy) * (py - ncy) > 0
    )
    SELECT ROUND(c0.cx, 6) AS mean_x, ROUND(c0.cy, 6) AS mean_y,
           ROUND(it2.mcx, 6) AS gmed_x, ROUND(it2.mcy, 6) AS gmed_y
    FROM c0 CROSS JOIN it2
    """,
)
def model_weiszfeld_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median via two fixed Weiszfeld iterations (Weiszfeld
    1937, public): starting from the centroid, each step re-weights every
    point by 1/distance — the L1-norm center that outliers cannot drag
    the way they drag the mean (the robust facility-location / embedding-
    center primitive). Two iterations is the engine's fixed-iteration
    contract (the wave-156 Huber precedent): deterministic, and pytest
    verifies contraction toward the scipy-free python fixpoint.

    Determinism: each iteration is two SUM ratios over identical double
    chains; exact-coincidence points (distance 0) are excluded from the
    weights in both engines; ROUND 6 at readout only.

    Scale shape: per-iteration one map-side-combinable aggregation with a
    broadcast scalar center — k iterations = k passes, never a collect."""
    pts = table(spark, sf_dir, "lineitem").select(
        (F.col("l_quantity") * 1.0).alias("px"),
        (F.col("l_extendedprice") / 1000).alias("py"),
    )
    c = pts.agg(F.avg("px").alias("cx"), F.avg("py").alias("cy"))
    mean = c
    for _ in range(2):
        d2 = (F.col("px") - F.col("cx")) * (F.col("px") - F.col("cx")) + (
            F.col("py") - F.col("cy")
        ) * (F.col("py") - F.col("cy"))
        dist = F.sqrt(d2)
        c = (
            pts.crossJoin(F.broadcast(c))
            .where(d2 > 0)
            .agg(
                (F.sum(F.col("px") / dist) / F.sum(F.lit(1) / dist)).alias("cx"),
                (F.sum(F.col("py") / dist) / F.sum(F.lit(1) / dist)).alias("cy"),
            )
        )
    return (
        mean.select(
            F.round("cx", 6).alias("mean_x"), F.round("cy", 6).alias("mean_y")
        )
        .crossJoin(
            c.select(F.round("cx", 6).alias("gmed_x"), F.round("cy", 6).alias("gmed_y"))
        )
    )


@query(
    "agg_gumbel_lmom",
    oracle="""
    WITH mx AS (
        SELECT CAST(ts AS DATE) AS d, MAX(value) AS m
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m, d) AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM mx
    ),
    lmom AS (
        SELECT ANY_VALUE(n) AS n,
               AVG(m) AS l1,
               2e0 * SUM((r - 1e0) * m) / (ANY_VALUE(n) * (ANY_VALUE(n) - 1e0))
                   - AVG(m) AS l2
        FROM ranked
    )
    SELECT n AS n_blocks,
           ROUND(l1, 6) AS l1, ROUND(l2, 6) AS l2,
           ROUND(l2 / LN(2e0), 6) AS beta_scale,
           ROUND(l1 - 0.5772156649015329 * l2 / LN(2e0), 6) AS mu_location,
           ROUND(l1 - 0.5772156649015329 * l2 / LN(2e0)
                 - l2 / LN(2e0) * LN(LN(1 / 0.99)) , 6) AS ret_level_100d
    FROM lmom
    """,
)
def agg_gumbel_lmom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit by L-moments (Hosking 1990, public) on
    daily block maxima: β = λ₂/ln2, μ = λ₁ − γβ (γ = Euler-Mascheroni),
    plus the 100-day return level μ − β·ln(ln(1/0.99)) — "the daily peak
    you'll exceed about once per 100 days", the capacity number SRE
    planning actually wants. L-moments are the order-statistics route: λ₂
    comes from one rank-weighted sum, no iterative MLE.

    Determinism: ranks are a total order (max, then date); the weighted
    sums are single aggregations; constants are IEEE literals; ROUND 6.

    Scale shape: block maxima = one groupBy; ranking a day-count-sized
    series; the fit is O(1)."""
    e = table(spark, sf_dir, "events")
    mx = e.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.max("value").alias("m")
    )
    w = Window.orderBy("m", "d")
    ranked = mx.select(
        "m",
        F.row_number().over(w).alias("r"),
    )
    # n folded into the same single aggregation (no build-time count job);
    # the l2 float chain keeps the identical op order
    lmom0 = ranked.agg(
        F.avg("m").alias("l1"),
        (2.0 * F.sum((F.col("r") - 1.0) * F.col("m"))).alias("s2w"),
        F.count("*").cast("long").alias("n_blocks"),
    )
    lmom = lmom0.select(
        "l1",
        "n_blocks",
        (
            F.col("s2w") / (F.col("n_blocks") * (F.col("n_blocks") - 1.0))
            - F.col("l1")
        ).alias("l2"),
    )
    import math

    euler = 0.5772156649015329
    beta = F.col("l2") / F.lit(math.log(2.0))
    mu = F.col("l1") - euler * beta
    return lmom.select(
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.round("l1", 6).alias("l1"),
        F.round("l2", 6).alias("l2"),
        F.round(beta, 6).alias("beta_scale"),
        F.round(mu, 6).alias("mu_location"),
        F.round(mu - beta * F.lit(math.log(math.log(1 / 0.99))), 6).alias(
            "ret_level_100d"
        ),
    )
