"""Wave-196: training-feature preparation — calendar-exact lag/rolling
features per user, leave-one-out smoothed target encoding — plus the
per-node local clustering coefficient on the co-purchase graph.

Lag features use integer day indices and RANGE window frames, so "7 days
ago" means calendar days (a gap-aware lag), not "7 rows ago"; all values
move as exact integer cents. Target encoding is the standard
leave-one-out + additive-smoothing form used to feed categorical columns
to gradient boosters without leakage. Local CC closes the graph family:
triangles/wedges per node, not just the global count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_ALPHA = 10  # smoothing pseudo-count for target encoding


@query(
    "pipeline_lag_features",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day_idx,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT user_id, day_idx, n_events, cents,
           MAX(cents) OVER (PARTITION BY user_id ORDER BY day_idx
               RANGE BETWEEN 1 PRECEDING AND 1 PRECEDING) AS lag1_cents,
           MAX(cents) OVER (PARTITION BY user_id ORDER BY day_idx
               RANGE BETWEEN 7 PRECEDING AND 7 PRECEDING) AS lag7_cents,
           ROUND(SUM(cents) OVER (PARTITION BY user_id ORDER BY day_idx
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                 / (100.0e0 * COUNT(*) OVER (PARTITION BY user_id
                     ORDER BY day_idx
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)), 6)
               AS roll7_avg,
           MAX(cents) OVER (PARTITION BY user_id ORDER BY day_idx
               RANGE BETWEEN 1 FOLLOWING AND 1 FOLLOWING) AS target_cents
    FROM daily
    """,
)
def pipeline_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-learning feature matrix from the event stream: per
    (user, day) — event count, spend cents, CALENDAR lag-1 and lag-7
    spend (null when that exact day is absent — a gap-aware lag, which
    row-based LAG() silently gets wrong), 7-day rolling average over
    observed days, and tomorrow's spend as the training target. The
    standard churn/spend-forecast feature block.

    Determinism: day index is an exact integer datediff; cents are
    floor(x*100+0.5) integers (half-up in BOTH engines — never bankers'
    rounding); the RANGE frames are integer-bounded so both engines pick
    identical window contents; one rounded division for the average.

    Scale shape: one groupBy(user, day) with map-side partials, then all
    five features come from windows PARTITIONED BY user — embarrassingly
    parallel across users, no global window, no self-joins."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("day_idx"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    byday = Window.partitionBy("user_id").orderBy("day_idx")
    return daily.select(
        "user_id",
        "day_idx",
        "n_events",
        "cents",
        F.max("cents").over(byday.rangeBetween(-1, -1)).alias("lag1_cents"),
        F.max("cents").over(byday.rangeBetween(-7, -7)).alias("lag7_cents"),
        F.round(
            F.sum("cents").over(byday.rangeBetween(-6, 0))
            / (F.lit(100.0) * F.count("*").over(byday.rangeBetween(-6, 0))),
            6,
        ).alias("roll7_avg"),
        F.max("cents").over(byday.rangeBetween(1, 1)).alias("target_cents"),
    )


@query(
    "pipeline_target_encode",
    oracle=f"""
    WITH c AS (
        SELECT c_custkey, c_nationkey,
               CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
        FROM customer
    ),
    nat AS (
        SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s
        FROM c GROUP BY c_nationkey
    ),
    g AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS gs,
               CAST(COUNT(*) AS BIGINT) AS gn
        FROM c
    )
    SELECT c.c_custkey, c.c_nationkey,
           ROUND(((nat.s - c.cents)
                  + {_ALPHA}.0e0 * g.gs / g.gn)
                 / ((nat.n - 1 + {_ALPHA}) * 100.0e0), 6) AS te_loo
    FROM c JOIN nat ON nat.c_nationkey = c.c_nationkey, g
    """,
)
def pipeline_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer's nation against the
    account-balance target, with additive smoothing toward the global
    mean: te(x) = (sum_category - x + alpha*global_mean) /
    (n_category - 1 + alpha). The no-leakage categorical encoder for
    gradient boosters — the row's own target never contributes to its
    own feature, and rare categories shrink to the prior.

    Determinism: balances quantize to half-up integer cents; category
    sums/counts are exact BIGINTs; the one double expression at the end
    has identical shape in both engines.

    Scale shape: one groupBy(category) (map-side partials) produces a
    dim-table-sized frame that BROADCASTS back onto the fact table —
    a single shuffle-free encode pass at any scale."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long").alias("cents"),
    )
    nat = cust.groupBy("c_nationkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    g = cust.agg(
        F.sum("cents").cast("long").alias("gs"),
        F.count("*").cast("long").alias("gn"),
    )
    return (
        cust.join(F.broadcast(nat), "c_nationkey")
        .crossJoin(F.broadcast(g))
        .select(
            "c_custkey",
            "c_nationkey",
            F.round(
                (
                    (F.col("s") - F.col("cents"))
                    + F.lit(float(_ALPHA)) * F.col("gs") / F.col("gn")
                )
                / ((F.col("n") - 1 + _ALPHA) * F.lit(100.0)),
                6,
            ).alias("te_loo"),
        )
    )


@query(
    "graph_clustering_coefficient",
    oracle="""
    WITH e AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey)
        GROUP BY u, v HAVING COUNT(DISTINCT l_orderkey) >= 2
    ),
    sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym GROUP BY u),
    tri AS (
        SELECT w.u, CAST(COUNT(*) AS BIGINT) AS triangles
        FROM (SELECT a.u, a.v AS x, b.v AS y
              FROM sym a JOIN sym b ON a.u = b.u AND a.v < b.v) w
        JOIN e ON e.u = w.x AND e.v = w.y
        GROUP BY w.u
    )
    SELECT d.u AS node, d.degree,
           COALESCE(t.triangles, 0) AS triangles,
           ROUND(2.0e0 * COALESCE(t.triangles, 0)
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coef
    FROM deg d LEFT JOIN tri t ON t.u = d.u
    WHERE d.degree >= 2
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient on the co-purchase graph
    (same edge semantics as graph_triangle_count / wave-158: parts
    co-ordered in >= 2 distinct orders): cc(u) = 2 * triangles(u) /
    (deg(u) * (deg(u)-1)). The node-level "is my neighborhood a clique"
    score that the global triangle count averages away — the standard
    input to spam/bot neighborhood detection.

    Determinism: triangle counting is exact (wedge join against the
    canonical v<w edge list); degree is exact; one rounded division.

    Scale shape: the wedge join fans out deg^2 per node — bounded by the
    co-purchase HAVING >= 2 support filter, and the closing probe joins
    the canonical edge list on its (u,v) key (hash join, never
    cartesian). Nodes with degree 1 are excluded (cc undefined)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.countDistinct("l_orderkey").alias("supp"))
        .where(F.col("supp") >= 2)
        .select("u", "v")
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("degree"))
    w1 = sym.select(F.col("u"), F.col("v").alias("x"))
    w2 = sym.select(F.col("u"), F.col("v").alias("y"))
    wedges = w1.join(w2, "u").where(F.col("x") < F.col("y"))
    tri = (
        wedges.join(
            e.select(F.col("u").alias("x"), F.col("v").alias("y")),
            ["x", "y"],
        )
        .groupBy("u")
        .agg(F.count("*").cast("long").alias("triangles"))
    )
    return (
        deg.join(tri, "u", "left")
        .where(F.col("degree") >= 2)
        .select(
            F.col("u").alias("node"),
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coef"),
        )
    )
