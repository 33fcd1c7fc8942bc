"""Wave-208: personalized PageRank from a seed node (unrolled power
iteration with restart).

graph_pagerank_unrolled scores GLOBAL importance; PPR answers the
node-centric question — "which parts co-matter from THIS part's point of
view" — the primitive behind graph-based recommendation and local
community scoring. Same co-purchase edge semantics as the rest of the
graph family (wave158 et al.: parts co-ordered in >= 2 distinct orders).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_ALPHA_NUM, _ALPHA_DEN = 15, 100  # restart probability 0.15
_ROUNDS = 8
_TOPK = 20
_SCALE = 10**12  # fixed-point pico units: every mass value is an integer

_EDGES_SQL = """e AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey)
        GROUP BY u, v HAVING COUNT(DISTINCT l_orderkey) >= 2
    ),
    sym AS MATERIALIZED (
        SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ),
    deg AS MATERIALIZED (
        SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
    ),
    seed AS MATERIALIZED (
        SELECT u AS s FROM deg ORDER BY d DESC, u LIMIT 1
    )"""


def _ppr_oracle() -> str:
    ctes = [
        _EDGES_SQL,
        f"""p0 AS MATERIALIZED (
        SELECT deg.u,
               CASE WHEN deg.u = seed.s THEN CAST({_SCALE} AS HUGEINT)
                    ELSE CAST(0 AS HUGEINT) END AS m
        FROM deg, seed
    )""",
    ]
    prev = "p0"
    for r in range(1, _ROUNDS + 1):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
        SELECT deg.u,
               CASE WHEN deg.u = seed.s THEN
                   CAST({_ALPHA_NUM} AS HUGEINT) * {_SCALE}
                       // {_ALPHA_DEN}
               ELSE CAST(0 AS HUGEINT) END
               + ({_ALPHA_DEN} - {_ALPHA_NUM})
                 * COALESCE((SELECT SUM(q.m // d2.d)
                             FROM sym
                             JOIN {prev} q ON q.u = sym.u
                             JOIN deg d2 ON d2.u = sym.u
                             WHERE sym.v = deg.u), 0)
                 // {_ALPHA_DEN} AS m
        FROM deg, seed
    )"""
        )
        prev = f"p{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT u AS node, CAST(m AS BIGINT) AS ppr_pico,
           ROUND(CAST(m AS DOUBLE) / {_SCALE}, 6) AS ppr,
           CAST(ROW_NUMBER() OVER (ORDER BY m DESC, u) AS BIGINT) AS rank
    FROM {prev}
    ORDER BY m DESC, u LIMIT {_TOPK}
    """
    )


@query("graph_ppr_unrolled", oracle=_ppr_oracle())
def graph_ppr_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from the highest-degree part: {_ROUNDS}
    unrolled power-iteration rounds of p = 0.15*e_seed + 0.85*W^T p on
    the co-purchase graph, emitting the top-{_TOPK} parts by PPR mass.
    The node-centric relevance primitive ("what belongs in THIS part's
    neighborhood") behind graph recommenders — global PageRank
    (graph_pagerank_unrolled) can't answer it because its mass
    concentrates on hubs regardless of the query node.

    Determinism: mass is fixed-point pico-units — every push divides
    integers with floor semantics (HUGEINT // in DuckDB, BIGINT DIV in
    Spark, identical truncation on nonnegative mass), so all {_ROUNDS} rounds are
    exact integer arithmetic and the final ranking cannot drift by a
    float ulp. Mass leaks ~1 pico per division (floor) — identically in
    both engines.

    Scale shape: each round is one join of the mass frame against the
    edge list grouped by destination (hash shuffle on node id), the
    standard distributed PageRank step; {_ROUNDS} rounds = {_ROUNDS}
    bounded stages, no driver-side state beyond the seed."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
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
    # r11 lineage truncation (graph_bfs_layers idiom): sym/deg/seed are
    # referenced by every unrolled round, each reference otherwise
    # re-expanding (and risking re-execution of) the lineitem self-join
    # edge build; the per-round mass frame is checkpointed below for the
    # same reason. Integer arithmetic is unchanged by materialization.
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    deg = (
        sym.groupBy("u")
        .agg(F.count("*").cast("long").alias("d"))
        .localCheckpoint(eager=True)
    )
    seed = (
        deg.orderBy(F.col("d").desc(), "u")
        .limit(1)
        .select(F.col("u").alias("s"))
        .localCheckpoint(eager=True)
    )
    # total mass is bounded by _SCALE = 1e12, so every intermediate fits
    # comfortably in a plain BIGINT — no decimal needed
    restart = _ALPHA_NUM * _SCALE // _ALPHA_DEN  # exact python int
    p = deg.crossJoin(F.broadcast(seed)).select(
        "u",
        F.when(F.col("u") == F.col("s"), F.lit(_SCALE))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("m"),
    )
    out_share = sym.join(deg, "u")  # static: per-edge source degree
    # fence every SECOND round: one eager checkpoint is one job; p is only
    # referenced once per round, so two un-fenced rounds keep the plan tiny
    for r in range(_ROUNDS):
        pushed = (
            out_share.join(p, "u")
            .select(
                F.col("v").alias("u"),
                F.expr("m DIV d").cast("long").alias("contrib"),
            )
            .groupBy("u")
            .agg(F.sum("contrib").cast("long").alias("inmass"))
        )
        p = (
            deg.join(pushed, "u", "left")
            .crossJoin(F.broadcast(seed))
            .select(
                "u",
                (
                    F.when(F.col("u") == F.col("s"), F.lit(restart))
                    .otherwise(F.lit(0))
                    .cast("long")
                    + F.expr(
                        f"(({_ALPHA_DEN} - {_ALPHA_NUM})"
                        f" * coalesce(inmass, 0L)) DIV {_ALPHA_DEN}"
                    ).cast("long")
                ).alias("m"),
            )
        )
        if r % 2 == 1 or r == _ROUNDS - 1:
            p = p.localCheckpoint(eager=True)
    top = p.orderBy(F.col("m").desc(), "u").limit(_TOPK)
    # bounded: rank window over the _TOPK survivors only
    w = Window.orderBy(F.col("m").desc(), "u")
    return top.select(
        F.col("u").alias("node"),
        F.col("m").alias("ppr_pico"),
        F.round(F.col("m").cast("double") / _SCALE, 6).alias("ppr"),
        F.row_number().over(w).cast("long").alias("rank"),
    )
