"""Wave-342: weighted rendezvous (highest-random-weight) hashing
(Thaler & Ravishankar, IEEE/ACM ToN 1998) with the minimal-disruption
proof under node removal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_N_NODES = 8
_REMOVED = 7  # the node taken down for the disruption audit
# Knuth multiplicative mixing into (0,1): both engines evaluate the
# identical integer chain, so u and -w/ln(u) are bit-identical.
_M31 = 2147483648  # 2^31


@query(
    "pipeline_rendezvous_hashing",
    oracle=f"""
    WITH nodes AS (
        SELECT UNNEST(RANGE(0, {_N_NODES})) AS node
    ),
    nw AS (
        SELECT CAST(node AS BIGINT) AS node,
               CAST(1 + node % 3 AS BIGINT) AS w
        FROM nodes
    ),
    scored AS (
        SELECT e.event_id AS k, nw.node, nw.w,
               -CAST(nw.w AS DOUBLE)
               / LN(CAST((e.event_id * 2654435761 + nw.node * 40503)
                         % {_M31} + 1 AS DOUBLE) / ({_M31} + 2.0)) AS score
        FROM events e CROSS JOIN nw
    ),
    ranked AS (
        SELECT k, node, w,
               ROW_NUMBER() OVER (PARTITION BY k
                                  ORDER BY score DESC, node) AS rk,
               ROW_NUMBER() OVER (PARTITION BY k,
                                  CASE WHEN node = {_REMOVED} THEN 1
                                       ELSE 0 END
                                  ORDER BY score DESC, node) AS rk7
        FROM scored
    ),
    assign AS (
        SELECT a.k,
               MAX(CASE WHEN rk = 1 THEN node END) AS win_all,
               MAX(CASE WHEN rk7 = 1 AND node <> {_REMOVED} THEN node END)
                   AS win_m7
        FROM ranked a GROUP BY a.k
    ),
    per_node AS (
        SELECT nw.node, nw.w,
               CAST(COALESCE(SUM(CASE WHEN a.win_all = nw.node
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_keys,
               CAST(COALESCE(SUM(CASE WHEN a.win_m7 = nw.node
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_keys_after,
               CAST(COALESCE(SUM(CASE WHEN a.win_m7 = nw.node
                                      AND a.win_all <> nw.node
                                      AND a.win_all <> {_REMOVED}
                                      THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS stolen_from_live
        FROM nw LEFT JOIN assign a
          ON a.win_all = nw.node OR a.win_m7 = nw.node
        GROUP BY nw.node, nw.w
    ),
    tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS wsum,
               CAST((SELECT COUNT(*) FROM assign) AS BIGINT) AS nk
        FROM nw
    )
    SELECT p.node, p.w AS weight, p.n_keys,
           ROUND(CAST(p.n_keys AS DOUBLE) / t.nk, 6) AS share,
           ROUND(CAST(p.w AS DOUBLE) / t.wsum, 6) AS expected_share,
           p.n_keys_after, p.stolen_from_live
    FROM per_node p CROSS JOIN tot t
    ORDER BY p.node
    """,
)
def pipeline_rendezvous_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted rendezvous / highest-random-weight hashing (Thaler &
    Ravishankar 1998): every event key scores each of 8 weighted nodes
    by -w/ln(u) with u a Knuth-mixed uniform, and lands on the argmax
    — the coordination-free sharding rule (used by Ceph CRUSH,
    load balancers, cache rings) whose guarantee this query PROVES on
    the data: when node 7 is removed, only node 7's keys move
    (stolen_from_live = 0 for every node — the minimal-disruption
    property) and each node's share tracks w/Σw.

    Determinism: the mixing hash is exact integer arithmetic; the
    score is the identical -w/LN(u) chain both engines; the argmax
    has a (score DESC, node) total order; all counts are integers.

    Scale shape: an 8× key fan-out (broadcast node table), per-key
    8-row windows (bounded partitions), then one groupBy — linear in
    keys, no corpus-wide window, no self-join on the corpus."""
    nw = spark.range(0, _N_NODES).select(
        F.col("id").cast("long").alias("node"),
        (1 + F.col("id") % 3).cast("long").alias("w"),
    )
    e = table(spark, sf_dir, "events").select(F.col("event_id").alias("k"))
    u = (
        (F.col("k") * 2654435761 + F.col("node") * 40503) % _M31 + 1
    ).cast("double") / (_M31 + 2.0)
    scored = e.crossJoin(F.broadcast(nw)).select(
        "k", "node", "w", (-F.col("w").cast("double") / F.log(u)).alias("score")
    )
    wall = Window.partitionBy("k").orderBy(F.col("score").desc(), "node")
    w7 = Window.partitionBy(
        "k", F.when(F.col("node") == _REMOVED, 1).otherwise(0)
    ).orderBy(F.col("score").desc(), "node")
    ranked = scored.select(
        "k",
        "node",
        F.row_number().over(wall).alias("rk"),
        F.row_number().over(w7).alias("rk7"),
    )
    assign = ranked.groupBy("k").agg(
        F.max(F.when(F.col("rk") == 1, F.col("node"))).alias("win_all"),
        F.max(
            F.when(
                (F.col("rk7") == 1) & (F.col("node") != _REMOVED),
                F.col("node"),
            )
        ).alias("win_m7"),
    )
    stats = assign.groupBy("win_all", "win_m7").agg(
        F.count("*").cast("long").alias("c")
    )
    per_node = nw.join(
        stats,
        (stats.win_all == nw.node) | (stats.win_m7 == nw.node),
        "left",
    ).groupBy("node", "w").agg(
        F.coalesce(
            F.sum(F.when(F.col("win_all") == F.col("node"), F.col("c"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_keys"),
        F.coalesce(
            F.sum(F.when(F.col("win_m7") == F.col("node"), F.col("c"))),
            F.lit(0),
        )
        .cast("long")
        .alias("n_keys_after"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("win_m7") == F.col("node"))
                    & (F.col("win_all") != F.col("node"))
                    & (F.col("win_all") != _REMOVED),
                    F.col("c"),
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("stolen_from_live"),
    )
    tot = nw.agg(F.sum("w").cast("long").alias("wsum")).crossJoin(
        assign.agg(F.count("*").cast("long").alias("nk"))
    )
    return (
        per_node.crossJoin(F.broadcast(tot))
        .select(
            "node",
            F.col("w").alias("weight"),
            "n_keys",
            F.round(F.col("n_keys").cast("double") / F.col("nk"), 6).alias(
                "share"
            ),
            F.round(F.col("w").cast("double") / F.col("wsum"), 6).alias(
                "expected_share"
            ),
            "n_keys_after",
            "stolen_from_live",
        )
        .orderBy("node")
    )
