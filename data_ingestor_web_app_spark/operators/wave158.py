"""Wave-158: connected components (min-label propagation) and label
propagation community detection on the co-purchase graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_EDGES_SQL = """e AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey
            FROM lineitem a
            JOIN lineitem b ON a.l_orderkey = b.l_orderkey
                           AND a.l_partkey < b.l_partkey)
        GROUP BY u, v HAVING COUNT(DISTINCT l_orderkey) >= 2
    )"""

_CC_ROUNDS = 12


def _cc_oracle() -> str:
    ctes = [
        _EDGES_SQL,
        "sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        """l0 AS MATERIALIZED (
        SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM sym)
    )""",
    ]
    prev = "l0"
    for r in range(1, _CC_ROUNDS + 1):
        ctes.append(
            f"""l{r} AS MATERIALIZED (
        SELECT p.u,
               LEAST(p.lbl, COALESCE(m.nmin, p.lbl)) AS lbl
        FROM {prev} p
        LEFT JOIN (
            SELECT sym.v AS u, MIN(q.lbl) AS nmin
            FROM sym JOIN {prev} q ON q.u = sym.u
            GROUP BY sym.v
        ) m ON m.u = p.u
    )"""
        )
        prev = f"l{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    , sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz
                FROM {prev} GROUP BY lbl)
    SELECT CAST((SELECT COUNT(*) FROM {prev}) AS BIGINT) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(MAX(sz) AS BIGINT) AS giant_size,
           ROUND(MAX(sz) * 1e0 / (SELECT COUNT(*) FROM {prev}), 6)
               AS giant_frac
    FROM sizes"""
    )


@query("graph_giant_component", oracle=_cc_oracle())
def graph_giant_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by min-label propagation (Shiloach-Vishkin
    lineage; the hash-to-min MapReduce formulation, public) on the
    co-purchase graph: every node starts as its own label; each of 12
    rounds takes the min of its own and its neighbors' labels. Output:
    component count, giant-component size and fraction — the percolation
    summary (is the co-purchase universe one connected market or
    islands?) that also drives dedup cluster assembly.

    Fixed-iteration contract: 12 rounds bounds the propagation radius
    from each component's minimum-id node; pytest asserts the fixture
    reaches the true fixpoint (round 12 == round 11).

    Scale shape: each round is one message aggregation (MIN over
    neighbor labels) + a merge — the Pregel CC superstep —
    localCheckpoint-truncated; the oracle chain is MATERIALIZED."""
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
    )
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    lbl = sym.select("u").distinct().select("u", F.col("u").alias("lbl")).localCheckpoint(
        eager=True
    )
    for _ in range(_CC_ROUNDS):
        msgs = (
            sym.join(lbl.select(F.col("u").alias("qu"), "lbl"), F.col("qu") == sym.u)
            .groupBy(F.col("v").alias("u"))
            .agg(F.min("lbl").alias("nmin"))
        )
        lbl = (
            lbl.join(msgs, "u", "left")
            .select(
                "u",
                F.least(F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))).alias(
                    "lbl"
                ),
            )
            .localCheckpoint(eager=True)
        )
    sizes = lbl.groupBy("lbl").agg(F.count("*").cast("long").alias("sz"))
    # node count folded in as a 1-row broadcast (no extra build-time job —
    # the iterative label propagation above is the documented driver loop)
    nnf = lbl.agg(F.count("*").cast("long").alias("n_nodes"))
    return (
        sizes.agg(
            F.count("*").cast("long").alias("n_components"),
            F.max("sz").cast("long").alias("giant_size"),
        )
        .crossJoin(F.broadcast(nnf))
        .select(
            "n_nodes",
            "n_components",
            "giant_size",
            F.round(
                F.col("giant_size") * F.lit(1.0) / F.col("n_nodes"), 6
            ).alias("giant_frac"),
        )
    )


_LPA_ROUNDS = 5


def _lpa_oracle() -> str:
    ctes = [
        _EDGES_SQL,
        "sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e)",
        """c0 AS MATERIALIZED (
        SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM sym)
    )""",
    ]
    prev = "c0"
    for r in range(1, _LPA_ROUNDS + 1):
        ctes.append(
            f"""c{r} AS MATERIALIZED (
        SELECT p.u, COALESCE(m.best, p.lbl) AS lbl
        FROM {prev} p
        LEFT JOIN (
            SELECT u, lbl AS best FROM (
                SELECT sym.v AS u, q.lbl,
                       ROW_NUMBER() OVER (PARTITION BY sym.v
                           ORDER BY COUNT(*) DESC, q.lbl) AS rn
                FROM sym JOIN {prev} q ON q.u = sym.u
                GROUP BY sym.v, q.lbl
            ) t WHERE rn = 1
        ) m ON m.u = p.u
    )"""
        )
        prev = f"c{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    , sizes AS (SELECT lbl, CAST(COUNT(*) AS BIGINT) AS sz
                FROM {prev} GROUP BY lbl)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(MAX(sz) AS BIGINT) AS largest,
           CAST(SUM(CASE WHEN sz = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS singletons,
           CAST(SUM(sz * sz) AS BIGINT) AS sq_size_sum
    FROM sizes"""
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation community detection (Raghavan,
    Albert & Kumara, Phys. Rev. E 2007, public), DERANDOMIZED: each of
    5 rounds every node adopts its neighborhood's modal label with the
    tie broken toward the smallest label — the near-linear community
    detector that needs no objective function. Output: community count,
    largest community, singleton count, and Σ size² (the Simpson
    concentration of the partition).

    Determinism: modal labels are exact counts with a total-order
    tie-break — the randomized original's only nondeterminism removed.

    Scale shape: each round is one (node, label) count aggregation +
    per-node top-1 window — the Pregel LPA superstep,
    localCheckpoint-truncated; oracle chain MATERIALIZED."""
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
    )
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)
    lbl = sym.select("u").distinct().select("u", F.col("u").alias("lbl")).localCheckpoint(
        eager=True
    )
    for _ in range(_LPA_ROUNDS):
        counted = (
            sym.join(lbl.select(F.col("u").alias("qu"), "lbl"), F.col("qu") == sym.u)
            .groupBy(F.col("v").alias("u"), "lbl")
            .agg(F.count("*").alias("c"))
        )
        wv = Window.partitionBy("u").orderBy(F.col("c").desc(), "lbl")
        best = (
            counted.withColumn("rn", F.row_number().over(wv))
            .where(F.col("rn") == 1)
            .select("u", F.col("lbl").alias("best"))
        )
        lbl = (
            lbl.join(best, "u", "left")
            .select("u", F.coalesce(F.col("best"), F.col("lbl")).alias("lbl"))
            .localCheckpoint(eager=True)
        )
    sizes = lbl.groupBy("lbl").agg(F.count("*").cast("long").alias("sz"))
    return sizes.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.max("sz").cast("long").alias("largest"),
        F.sum(F.when(F.col("sz") == 1, 1).otherwise(0)).cast("long").alias("singletons"),
        F.sum(F.col("sz") * F.col("sz")).cast("long").alias("sq_size_sum"),
    )
