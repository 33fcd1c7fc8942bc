"""Wave-81: degree assortativity in exact moments, DBSCAN core-point
classification via grid hashing, and an exhaustive decision-stump split
search from cumulative class counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query


@query(
    "graph_degree_assortativity",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
    ),
    sdeg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ds FROM edges GROUP BY s),
    pdeg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS dp FROM edges GROUP BY p),
    joined AS (
        SELECT ds, dp FROM edges
        JOIN sdeg USING (s) JOIN pdeg USING (p)
    ),
    m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ds) AS BIGINT) AS sx,
               CAST(SUM(dp) AS BIGINT) AS sy,
               CAST(SUM(ds * ds) AS BIGINT) AS sxx,
               CAST(SUM(dp * dp) AS BIGINT) AS syy,
               CAST(SUM(ds * dp) AS BIGINT) AS sxy
        FROM joined
    )
    SELECT n AS n_edges,
           ROUND(CAST(sx AS DOUBLE) / n, 4) AS mean_supp_degree,
           ROUND(CAST(sy AS DOUBLE) / n, 4) AS mean_part_degree,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
                ELSE ROUND((n * sxy - sx * sy)
                           / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE)), 6)
           END AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002, public) of the supplier-part
    bipartite graph: the Pearson correlation between endpoint degrees
    across edges — positive means high-degree suppliers ship
    high-degree (widely-sourced) parts, the structural question behind
    supply-chain concentration risk and social-graph mixing analysis.

    Determinism: degrees are exact BIGINT counts; the six edge-level
    moment sums are exact integers (degrees < 1e3, edges < 1e7 at these
    SFs — no overflow), and the correlation is one fixed double formula
    with a zero-variance guard, rounded 6dp.

    Scale shape: distinct-edges is one shuffle; each degree table is a
    map-side-combined groupBy on its own key; the two degree joins are
    keyed equi-joins (broadcastable when the node set is small, shuffle
    otherwise — Catalyst/AQE chooses); the moments collapse to one
    scalar row. No all-pairs anything."""
    edges = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    sdeg = edges.groupBy("s").agg(F.count("*").cast("long").alias("ds"))
    pdeg = edges.groupBy("p").agg(F.count("*").cast("long").alias("dp"))
    joined = edges.join(sdeg, "s").join(pdeg, "p")
    m = joined.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("ds").cast("long").alias("sx"),
        F.sum("dp").cast("long").alias("sy"),
        F.sum(F.col("ds") * F.col("ds")).cast("long").alias("sxx"),
        F.sum(F.col("dp") * F.col("dp")).cast("long").alias("syy"),
        F.sum(F.col("ds") * F.col("dp")).cast("long").alias("sxy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        F.col("n").alias("n_edges"),
        F.round(F.col("sx").cast("double") / F.col("n"), 4).alias("mean_supp_degree"),
        F.round(F.col("sy").cast("double") / F.col("n"), 4).alias("mean_part_degree"),
        F.when((vx == 0) | (vy == 0), F.lit(0.0))
        .otherwise(F.round(cov / F.sqrt(vx.cast("double") * vy.cast("double")), 6))
        .alias("assortativity"),
    )


@query(
    "spatial_dbscan_core",
    oracle="""
    WITH pts AS (
        SELECT event_id AS pid, value AS x, CAST(user_id AS DOUBLE) AS y
        FROM events WHERE event_id < 2000
    )
    SELECT a.pid,
           CAST(COUNT(b.pid) AS BIGINT) AS n_neighbors,
           COUNT(b.pid) >= 4 AS is_core
    FROM pts a LEFT JOIN pts b
      ON b.pid <> a.pid
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 4.0
    GROUP BY a.pid
    ORDER BY a.pid
    """,
)
def spatial_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN core-point classification (Ester et al. 1996, public):
    a point is CORE when >= minPts (4) other points sit within eps (2)
    — the density primitive from which DBSCAN clusters grow, and the
    per-point twin of join_spatial_grid's pair enumeration. Same grid
    hashing: each point replicates to its 3x3 neighborhood of eps-sized
    cells, candidates meet on an EQUI cell key, the exact squared
    distance verifies, and neighbor counts aggregate per point. The
    oracle is the brute-force quadratic join — identical output.

    Determinism: neighbor counting is integer; the eps test compares
    exact doubles identically in both engines (same expression).

    Scale shape: constant 9x replication, shuffle on cell id (density
    skew = key skew, AQE splits hot cells), per-candidate O(1) verify,
    then one groupBy on pid. The quadratic plan exists only in the
    oracle."""
    eps = 2.0
    pts = (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select(
            F.col("event_id").alias("pid"),
            F.col("value").alias("x"),
            F.col("user_id").cast("double").alias("y"),
        )
    )
    # owner cell of each point
    owned = pts.withColumn("cx", F.floor(F.col("x") / eps)).withColumn(
        "cy", F.floor(F.col("y") / eps)
    )
    # replicate each point to its 3x3 neighborhood as JOIN PROBES
    off = spark.range(-1, 2).select(F.col("id").alias("ox")).crossJoin(
        spark.range(-1, 2).select(F.col("id").alias("oy"))
    )
    probes = owned.crossJoin(F.broadcast(off)).select(
        F.col("pid").alias("apid"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.col("cx") + F.col("ox")).alias("jcx"),
        (F.col("cy") + F.col("oy")).alias("jcy"),
    )
    cand = probes.join(
        owned.select(
            F.col("pid").alias("bpid"),
            F.col("x").alias("bx"),
            F.col("y").alias("by"),
            F.col("cx").alias("jcx"),
            F.col("cy").alias("jcy"),
        ),
        ["jcx", "jcy"],
    ).where(
        (F.col("bpid") != F.col("apid"))
        & (
            (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            <= eps * eps
        )
    )
    counts = cand.groupBy(F.col("apid").alias("pid")).agg(
        F.count("*").cast("long").alias("n_neighbors")
    )
    return (
        pts.select("pid")
        .join(counts, "pid", "left")
        .select(
            "pid",
            F.coalesce("n_neighbors", F.lit(0).cast("long")).alias("n_neighbors"),
            (F.coalesce("n_neighbors", F.lit(0)) >= 4).alias("is_core"),
        )
        .orderBy("pid")
    )


@query(
    "model_decision_stump",
    oracle="""
    WITH x AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    per_q AS (
        SELECT q, CAST(COUNT(*) AS BIGINT) AS n_q,
               CAST(SUM(y) AS BIGINT) AS pos_q
        FROM x GROUP BY q
    ),
    cum AS (
        SELECT q,
               SUM(n_q) OVER (ORDER BY q
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS nl,
               SUM(pos_q) OVER (ORDER BY q
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS pl,
               SUM(n_q) OVER () AS n,
               SUM(pos_q) OVER () AS pos
        FROM per_q
    ),
    scored AS (
        SELECT q AS threshold, nl, n - nl AS nr,
               ROUND((nl - (CAST(pl AS DOUBLE) * pl + CAST(nl - pl AS DOUBLE) * (nl - pl)) / nl
                    + (n - nl) - (CAST(pos - pl AS DOUBLE) * (pos - pl)
                                  + CAST((n - nl) - (pos - pl) AS DOUBLE) * ((n - nl) - (pos - pl)))
                                 / (n - nl)) / n, 6) AS weighted_gini,
               ROUND((n - (CAST(pos AS DOUBLE) * pos
                           + CAST(n - pos AS DOUBLE) * (n - pos)) / n) / n, 6)
                   AS parent_gini
        FROM cum WHERE nl < n
    )
    SELECT threshold, CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           weighted_gini, parent_gini,
           ROUND(parent_gini - weighted_gini, 6) AS gini_gain
    FROM scored
    ORDER BY weighted_gini, threshold
    LIMIT 1
    """,
)
def model_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive decision-stump training (the CART split search,
    Breiman et al., public): the best `l_quantity <= t` split for
    predicting returns, chosen by minimum weighted Gini impurity — one
    tree level of every gradient-boosting / random-forest trainer, in
    exactly the histogram-then-scan form distributed GBM
    implementations (LightGBM/XGBoost hist mode) use: aggregate class
    counts per feature value, then sweep thresholds via cumulative
    sums.

    Determinism: per-value counts and their cumulative sums are exact
    BIGINTs; Gini is one fixed double formula (n - (p² + q²)/n form
    keeps every product integer-exact before the single division),
    rounded 6dp; the argmin orders by (impurity, threshold) so ties
    break deterministically.

    Scale shape: one map-side-combined groupBy on the feature value
    (50 groups here; histogram-binned continuous features cap this at
    ~256 at any scale), a window over those few rows, and a top-1 —
    the 100 TB cost is entirely the first aggregate, one pass."""
    x = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).cast("long").alias("y"),
    )
    per_q = x.groupBy("q").agg(
        F.count("*").cast("long").alias("n_q"),
        F.sum("y").cast("long").alias("pos_q"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = per_q.select(
        "q",
        F.sum("n_q").over(w).alias("nl"),
        F.sum("pos_q").over(w).alias("pl"),
        F.sum("n_q").over(wall).alias("n"),
        F.sum("pos_q").over(wall).alias("pos"),
    ).where(F.col("nl") < F.col("n"))
    nl, pl = F.col("nl"), F.col("pl")
    n, pos = F.col("n"), F.col("pos")
    nr, pr = n - nl, pos - pl
    gini_l = nl - (pl.cast("double") * pl + (nl - pl).cast("double") * (nl - pl)) / nl
    gini_r = nr - (pr.cast("double") * pr + (nr - pr).cast("double") * (nr - pr)) / nr
    scored = cum.select(
        F.col("q").alias("threshold"),
        nl.cast("long").alias("n_left"),
        nr.cast("long").alias("n_right"),
        F.round((gini_l + gini_r) / n, 6).alias("weighted_gini"),
        F.round(
            (n - (pos.cast("double") * pos + (n - pos).cast("double") * (n - pos)) / n) / n,
            6,
        ).alias("parent_gini"),
    )
    return (
        scored.withColumn(
            "gini_gain", F.round(F.col("parent_gini") - F.col("weighted_gini"), 6)
        )
        .orderBy("weighted_gini", "threshold")
        .limit(1)
    )
