"""Wave-180: 3-hop harmonic centrality on the co-purchase graph.
Its edge set is shared with wave-158's components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.operators.wave158 import _EDGES_SQL
from data_ingestor_web_app_spark.registry import query

_HOPS = 3

_ORACLE = f"""
    WITH {_EDGES_SQL},
    sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    d1 AS MATERIALIZED (SELECT u AS s, v AS t FROM sym),
    r2 AS MATERIALIZED (
        SELECT DISTINCT a.s, b.v AS t
        FROM d1 a JOIN sym b ON b.u = a.t WHERE b.v <> a.s
    ),
    d2 AS MATERIALIZED (
        SELECT r2.s, r2.t FROM r2
        LEFT JOIN d1 ON d1.s = r2.s AND d1.t = r2.t
        WHERE d1.s IS NULL
    ),
    r3 AS MATERIALIZED (
        SELECT DISTINCT a.s, b.v AS t
        FROM d2 a JOIN sym b ON b.u = a.t WHERE b.v <> a.s
    ),
    d3 AS (
        SELECT r3.s, r3.t FROM r3
        LEFT JOIN d1 ON d1.s = r3.s AND d1.t = r3.t
        LEFT JOIN d2 ON d2.s = r3.s AND d2.t = r3.t
        WHERE d1.s IS NULL AND d2.s IS NULL
    ),
    n1 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM d1 GROUP BY s),
    n2 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM d2 GROUP BY s),
    n3 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM d3 GROUP BY s)
    SELECT n1.s AS part_key,
           n1.c AS n_d1,
           CAST(COALESCE(n2.c, 0) AS BIGINT) AS n_d2,
           CAST(COALESCE(n3.c, 0) AS BIGINT) AS n_d3,
           CAST(6 * n1.c + 3 * COALESCE(n2.c, 0) + 2 * COALESCE(n3.c, 0)
                AS BIGINT) AS h6,
           CAST(6 * n1.c + 3 * COALESCE(n2.c, 0) + 2 * COALESCE(n3.c, 0)
                AS DOUBLE) / 6 AS harmonic
    FROM n1
    LEFT JOIN n2 ON n2.s = n1.s
    LEFT JOIN n3 ON n3.s = n1.s
    """


@query("graph_harmonic_closeness", oracle=_ORACLE)
def graph_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality with a 3-hop horizon on the co-purchase graph
    (same edge set as graph_giant_component/label_propagation: part pairs
    sharing >= 2 orders): H(u) = sum over v within distance 3 of 1/d(u,v).
    Harmonic — not classic closeness — because it is well-defined on
    disconnected graphs (Boldi & Vigna 2014), and hop-bounded because
    that is the only formulation that distributes: each frontier is one
    self-join on the adjacency, exactly how landmark/ego-net centrality
    is computed at scale (full APSP is off the table at 100 TB).

    Determinism: distances are exact set differences (distinct frontier
    minus closer hops via anti-joins); the score is integer sixths
    (6/d per reached node: 6, 3, 2) summed as BIGINT, with the double
    `harmonic` one IEEE divide of identical operands.

    Scale shape: frontier joins are equi-joins on node id (shuffle keyed
    on the frontier's far endpoint); each hop's DISTINCT caps the frontier
    at |V|x|reach| — never a cartesian; anti-joins are broadcast-eligible
    at fixture scale and shuffle-hash at 100 TB."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count_distinct("a.l_orderkey").alias("no"))
        .where(F.col("no") >= 2)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    d1 = sym.select(F.col("u").alias("s"), F.col("v").alias("t"))

    def frontier(prev: DataFrame, *closer: DataFrame) -> DataFrame:
        nxt = (
            prev.alias("p")
            .join(sym.alias("e"), F.col("e.u") == F.col("p.t"))
            .where(F.col("e.v") != F.col("p.s"))
            .select(F.col("p.s").alias("s"), F.col("e.v").alias("t"))
            .distinct()
        )
        for c in closer:
            nxt = nxt.join(c, ["s", "t"], "left_anti")
        return nxt

    d2 = frontier(d1, d1).localCheckpoint(eager=True)
    d3 = frontier(d2, d1, d2)

    def counts(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("s").agg(F.count("*").cast("long").alias(name))

    n1, n2, n3 = counts(d1, "n_d1"), counts(d2, "n_d2"), counts(d3, "n_d3")
    joined = (
        n1.join(n2, "s", "left")
        .join(n3, "s", "left")
        .select(
            F.col("s").alias("part_key"),
            "n_d1",
            F.coalesce("n_d2", F.lit(0)).cast("long").alias("n_d2"),
            F.coalesce("n_d3", F.lit(0)).cast("long").alias("n_d3"),
        )
    )
    h6 = (
        F.lit(6) * F.col("n_d1") + F.lit(3) * F.col("n_d2") + F.lit(2) * F.col("n_d3")
    ).cast("long")
    return joined.select(
        "part_key",
        "n_d1",
        "n_d2",
        "n_d3",
        h6.alias("h6"),
        (h6.cast("double") / F.lit(6)).alias("harmonic"),
    )
