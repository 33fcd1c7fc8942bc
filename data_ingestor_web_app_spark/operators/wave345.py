"""Wave-345: SimRank structural similarity (Jeh & Widom, KDD 2002) by
fixed-point integer iteration on the circulant nation graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_N = 25
_UNIT = 1_000_000  # 1.0 in micro-units
# C = 0.8 and |I(a)| = |I(b)| = 3 for every node, so each update is
# s' = (8 * sum) // 90 in exact integer micro-units.


def _simrank_round_sql(i: int) -> str:
    p = i - 1
    return f"""
    s{i} AS (
        SELECT ea.dst AS a, eb.dst AS b,
               CASE WHEN ea.dst = eb.dst THEN {_UNIT}
                    ELSE CAST(8 * SUM(s{p}.s) // 90 AS BIGINT) END AS s
        FROM edges ea
        JOIN edges eb ON TRUE
        JOIN s{p} ON s{p}.a = ea.src AND s{p}.b = eb.src
        GROUP BY ea.dst, eb.dst
    )"""


@query(
    "graph_simrank_unrolled",
    oracle=f"""
    WITH nodes AS (SELECT n_nationkey AS v FROM nation),
    edges AS (
        SELECT v AS src, (v + k) % {_N} AS dst
        FROM nodes CROSS JOIN (SELECT unnest([1, 2, 3]) AS k)
    ),
    s0 AS (
        SELECT a.v AS a, b.v AS b,
               CAST(CASE WHEN a.v = b.v THEN {_UNIT} ELSE 0 END AS BIGINT)
                   AS s
        FROM nodes a CROSS JOIN nodes b
    ),{",".join(_simrank_round_sql(i) for i in range(1, 4))}
    SELECT a, b, s AS sim_micro, ROUND(s / 1e6, 6) AS simrank
    FROM s3
    WHERE a < b
    ORDER BY s DESC, a, b
    LIMIT 10
    """,
)
def graph_simrank_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimRank (Jeh & Widom, KDD 2002 — 'two objects are similar if
    they are referenced by similar objects'): three unrolled
    iterations of s(a,b) = C/(|I(a)||I(b)|)·Σ s(u,v) over in-neighbor
    pairs on the circulant graph v → (v+k) mod 25. Same fixed-point
    integer contract as graph_pagerank_unrolled: C = 0.8 with the
    uniform in-degree 3 makes every update (8·Σ)//90 in exact
    micro-units — associative-exact, identical across engines and
    partitionings. Returns the top-10 most structurally similar
    distinct pairs.

    Determinism: pure integer arithmetic; the top-k has a
    (score, a, b) total order.

    Scale shape: each iteration is pairs ⋈ in-edges on both sides +
    a groupBy partial sum — the O(n²·d²) SimRank join plan, unrolled
    into one Catalyst plan over the bounded 625-pair frame (real
    deployments block this with similarity pruning; the plan shape is
    the same)."""
    nodes = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("v")
    )
    edges = nodes.select(
        F.col("v").alias("src"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("k"),
    ).select("src", ((F.col("src") + F.col("k")) % _N).alias("dst"))
    a = nodes.select(F.col("v").alias("a"))
    b = nodes.select(F.col("v").alias("b"))
    s = a.crossJoin(b).select(
        "a",
        "b",
        F.when(F.col("a") == F.col("b"), _UNIT)
        .otherwise(0)
        .cast("long")
        .alias("s"),
    )
    ea = edges.select(F.col("src").alias("ua"), F.col("dst").alias("da"))
    eb = edges.select(F.col("src").alias("ub"), F.col("dst").alias("db"))
    for _ in range(3):
        s = (
            s.join(F.broadcast(ea), s.a == ea.ua)
            .join(F.broadcast(eb), F.col("b") == F.col("ub"))
            .groupBy(F.col("da").alias("na"), F.col("db").alias("nb"))
            .agg(F.sum("s").alias("tot"))
            .select(
                F.col("na").alias("a"),
                F.col("nb").alias("b"),
                F.when(F.col("na") == F.col("nb"), _UNIT)
                .otherwise(
                    F.floor(8 * F.col("tot") / 90).cast("long")
                )
                .cast("long")
                .alias("s"),
            )
            .cache()
        )
    return (
        s.where(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.col("s").alias("sim_micro"),
            F.round(F.col("s") / 1e6, 6).alias("simrank"),
        )
        .orderBy(F.col("sim_micro").desc(), "a", "b")
        .limit(10)
    )
