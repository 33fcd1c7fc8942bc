"""Wave-240: graph structure metrics over the behavioral co-occurrence
graph (same edge device as graph_triangle_count, dq.py:138 — users
linked by shared (event_type, minute) activity buckets): the rich-club
coefficient ladder, directed-edge reciprocity, and the Molloy-Reed
percolation criterion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_EDGES_SQL = """
    buckets AS (
        SELECT DISTINCT user_id, event_type, DATE_TRUNC('minute', ts) AS m
        FROM events
    ),
    edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM buckets a
        JOIN buckets b ON b.event_type = a.event_type AND b.m = a.m
                      AND a.user_id < b.user_id
    )
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    buckets = e.select(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).distinct()
    a = buckets.select(
        F.col("user_id").alias("u"), "event_type", "m"
    )
    b = buckets.select(
        F.col("user_id").alias("v"), "event_type", "m"
    )
    return (
        a.join(b, ["event_type", "m"])
        .where(F.col("u") < F.col("v"))
        .select("u", "v")
        .distinct()
    )


_RC_KS = [1, 2, 3, 5, 8]


@query(
    "graph_rich_club",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v AS node FROM edges)
        GROUP BY node
    ),
    ks AS (SELECT UNNEST(ARRAY{_RC_KS}) AS kmin),
    nk AS (
        SELECT kmin, CAST(COUNT(*) AS BIGINT) AS n_k
        FROM ks JOIN deg ON deg.k > ks.kmin GROUP BY kmin
    ),
    ek AS (
        SELECT ks.kmin, CAST(COUNT(*) AS BIGINT) AS e_k
        FROM ks, edges e
        JOIN deg du ON du.node = e.u
        JOIN deg dv ON dv.node = e.v
        WHERE du.k > ks.kmin AND dv.k > ks.kmin
        GROUP BY ks.kmin
    )
    SELECT k.kmin, COALESCE(n.n_k, 0) AS n_k, COALESCE(e.e_k, 0) AS e_k,
           CASE WHEN COALESCE(n.n_k, 0) >= 2
                THEN ROUND(2.0 * COALESCE(e.e_k, 0)
                           / (n.n_k * (n.n_k - 1)), 6)
                ELSE 0.0 END AS phi
    FROM ks k LEFT JOIN nk n ON n.kmin = k.kmin
              LEFT JOIN ek e ON e.kmin = k.kmin
    """,
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient ladder (Zhou & Mondragon, IEEE Comm Letters
    2004; Colizza et al., Nature Physics 2006, public): for each degree
    threshold k, phi(k) = 2*E_k / (N_k*(N_k-1)) — the edge density of
    the subgraph induced on nodes of degree > k. Rising phi(k) means
    hubs preferentially interconnect (a "rich club"), the structural
    fact behind hub-and-spoke shuffle skew in co-occurrence graphs.

    Exactness device: pure integer counts until the single density
    division; the threshold ladder ships as a literal array; empty clubs
    emit 0 via the same guarded CASE in both engines.

    Scale shape: degrees are one map-side-combinable groupBy; the
    induced-subgraph edge count is edges JOIN degree (broadcast the
    degree frame or bucket both on node at 100 TB); the k-ladder is a
    constant 5x fan-out."""
    edges = _edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("k"))
    )
    ks = spark.createDataFrame([(k,) for k in _RC_KS], "kmin int").select(
        F.col("kmin").cast("long").alias("kmin")
    )
    nk = (
        ks.join(F.broadcast(deg), deg.k > ks.kmin)
        .groupBy("kmin")
        .agg(F.count("*").cast("long").alias("n_k"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("k").alias("ku"))
    dv = deg.select(F.col("node").alias("v"), F.col("k").alias("kv"))
    ek = (
        edges.join(du, "u")
        .join(dv, "v")
        .crossJoin(F.broadcast(ks))
        .where((F.col("ku") > F.col("kmin")) & (F.col("kv") > F.col("kmin")))
        .groupBy("kmin")
        .agg(F.count("*").cast("long").alias("e_k"))
    )
    out = (
        ks.join(nk, "kmin", "left")
        .join(ek, "kmin", "left")
        .select(
            "kmin",
            F.coalesce("n_k", F.lit(0)).cast("long").alias("n_k"),
            F.coalesce("e_k", F.lit(0)).cast("long").alias("e_k"),
        )
    )
    return out.select(
        "kmin",
        "n_k",
        "e_k",
        F.when(
            F.col("n_k") >= 2,
            F.round(
                2.0 * F.col("e_k") / (F.col("n_k") * (F.col("n_k") - 1)), 6
            ),
        )
        .otherwise(0.0)
        .alias("phi"),
    )


@query(
    "graph_reciprocity",
    oracle="""
    WITH buckets AS (
        SELECT user_id, event_type, DATE_TRUNC('minute', ts) AS m,
               MIN(ts) AS first_ts
        FROM events GROUP BY 1, 2, 3
    ),
    darc AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM buckets a
        JOIN buckets b ON b.event_type = a.event_type AND b.m = a.m
        WHERE a.user_id <> b.user_id
          AND (a.first_ts < b.first_ts
               OR (a.first_ts = b.first_ts AND a.user_id < b.user_id))
    ),
    mut AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual
        FROM darc x JOIN darc y ON y.u = x.v AND y.v = x.u
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM darc) AS n_arcs,
           n_mutual,
           CASE WHEN (SELECT COUNT(*) FROM darc) = 0 THEN 0.0
                ELSE ROUND(n_mutual
                           / CAST((SELECT COUNT(*) FROM darc) AS DOUBLE), 6)
           END AS reciprocity
    FROM mut
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-edge reciprocity (Garlaschelli & Loffredo, PRL 2004,
    public) over "who-acted-first" arcs: within each shared activity
    bucket the earlier-starting user points at the later one (ties break
    by user id), and a pair that co-occurs in several buckets with
    opposite orderings produces a MUTUAL arc pair. r = mutual arcs /
    all arcs — the follow-back rate of the behavioral graph.

    Exactness device: arc direction is a deterministic (timestamp, id)
    comparison; everything else is integer counting with one division.

    Scale shape: the bucket self-join shuffles on the (event_type,
    minute) key like graph_triangle_count; the mutual check is a
    self-equi-join on the arc key — both AQE-skew-splittable."""
    e = table(spark, sf_dir, "events")
    buckets = e.groupBy(
        "user_id", "event_type", F.date_trunc("minute", "ts").alias("m")
    ).agg(F.min("ts").alias("first_ts"))
    a = buckets.select(
        F.col("user_id").alias("u"),
        "event_type",
        "m",
        F.col("first_ts").alias("ta"),
    )
    b = buckets.select(
        F.col("user_id").alias("v"),
        "event_type",
        "m",
        F.col("first_ts").alias("tb"),
    )
    darc = (
        a.join(b, ["event_type", "m"])
        .where(
            (F.col("u") != F.col("v"))
            & (
                (F.col("ta") < F.col("tb"))
                | ((F.col("ta") == F.col("tb")) & (F.col("u") < F.col("v")))
            )
        )
        .select("u", "v")
        .distinct()
    )
    rev = darc.select(F.col("v").alias("u"), F.col("u").alias("v"))
    mut = darc.join(rev, ["u", "v"]).agg(
        F.count("*").cast("long").alias("n_mutual")
    )
    tot = darc.agg(F.count("*").cast("long").alias("n_arcs"))
    return tot.crossJoin(F.broadcast(mut)).select(
        "n_arcs",
        "n_mutual",
        F.when(F.col("n_arcs") == 0, F.lit(0.0))
        .otherwise(
            F.round(F.col("n_mutual") / F.col("n_arcs").cast("double"), 6)
        )
        .alias("reciprocity"),
    )


@query(
    "graph_molloy_reed",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT u AS node FROM edges
              UNION ALL SELECT v AS node FROM edges)
        GROUP BY node
    ),
    mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(COALESCE(SUM(k), 0) AS BIGINT) AS sk,
               CAST(COALESCE(SUM(k * k), 0) AS BIGINT) AS sk2
        FROM deg
    )
    SELECT n_nodes,
           CASE WHEN n_nodes = 0 THEN 0.0
                ELSE ROUND(sk / CAST(n_nodes AS DOUBLE), 6) END AS mean_k,
           CASE WHEN sk = 0 THEN 0.0
                ELSE ROUND(sk2 / CAST(sk AS DOUBLE), 6) END AS kappa,
           CASE WHEN sk = 0 THEN FALSE
                ELSE sk2 / CAST(sk AS DOUBLE) > 2.0 END
               AS giant_component_expected,
           CASE WHEN sk = 0 OR sk2 / CAST(sk AS DOUBLE) <= 1.0 THEN 0.0
                ELSE ROUND(1.0 - 1.0 / (sk2 / CAST(sk AS DOUBLE) - 1.0), 6)
           END AS critical_removal_fraction
    FROM mom
    """,
)
def graph_molloy_reed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Molloy-Reed percolation criterion (Molloy & Reed, Random
    Structures & Algorithms 1995; Cohen et al., PRL 2000, public):
    kappa = <k^2>/<k> from the degree distribution alone. kappa > 2
    predicts a giant component in a random graph with this degree
    sequence, and f_c = 1 - 1/(kappa - 1) is the random-node-removal
    fraction at which it fragments — the resilience one-liner that
    needs NO traversal, only degree moments (contrast with
    graph_connected_components, which computes the thing itself).

    Exactness device: degree moments stay BIGINT; two divisions, each
    rounded once; the boolean compares the identical unrounded chain.

    Scale shape: one groupBy for degrees, one 1-row moment aggregate —
    strictly cheaper than any traversal; the screening query you run
    FIRST at 100 TB to decide whether components are worth computing."""
    edges = _edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("k"))
    )
    mom = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.coalesce(F.sum("k"), F.lit(0)).cast("long").alias("sk"),
        F.coalesce(F.sum(F.col("k") * F.col("k")), F.lit(0))
        .cast("long")
        .alias("sk2"),
    )
    kappa = F.col("sk2") / F.col("sk").cast("double")
    return mom.select(
        "n_nodes",
        F.when(F.col("n_nodes") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("sk") / F.col("n_nodes").cast("double"), 6))
        .alias("mean_k"),
        F.when(F.col("sk") == 0, F.lit(0.0))
        .otherwise(F.round(kappa, 6))
        .alias("kappa"),
        F.when(F.col("sk") == 0, F.lit(False))
        .otherwise(kappa > 2.0)
        .alias("giant_component_expected"),
        F.when((F.col("sk") == 0) | (kappa <= 1.0), F.lit(0.0))
        .otherwise(F.round(1.0 - 1.0 / (kappa - 1.0), 6))
        .alias("critical_removal_fraction"),
    )
