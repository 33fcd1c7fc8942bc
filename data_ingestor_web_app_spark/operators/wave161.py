"""Wave-161: link prediction on the co-purchase graph — common
neighbors, Adamic-Adar, and neighborhood Jaccard for NON-adjacent pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.operators.wave158 import _EDGES_SQL
from data_ingestor_web_app_spark.registry import query

# Shared SQL prologue: undirected edge set, symmetric adjacency, degrees,
# and candidate pairs = two-hop non-adjacent pairs with their common-
# neighbor sets. Wedge counting (sym JOIN sym through the middle node) is
# the standard distributed formulation — never an all-pairs product.
_LP_PROLOGUE = f"""{_EDGES_SQL},
    sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
    wedges AS (
        SELECT a.u AS x, b.u AS y, a.v AS w
        FROM sym a JOIN sym b ON a.v = b.v AND a.u < b.u
    ),
    nonadj AS (
        SELECT w.x, w.y, w.w FROM wedges w
        LEFT JOIN e ON e.u = w.x AND e.v = w.y
        WHERE e.u IS NULL
    )"""


def _spark_link_base(spark: SparkSession, sf_dir: str):
    """Spark twin of the SQL prologue: edges -> sym -> degrees -> wedges ->
    non-adjacent candidate pairs (x, y, common-neighbor w rows)."""
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
    deg = sym.groupBy("u").agg(F.count("*").cast("long").alias("d"))
    sa, sb = sym.alias("sa"), sym.alias("sb")
    wedges = sa.join(
        sb, (F.col("sa.v") == F.col("sb.v")) & (F.col("sa.u") < F.col("sb.u"))
    ).select(F.col("sa.u").alias("x"), F.col("sb.u").alias("y"), F.col("sa.v").alias("w"))
    nonadj = wedges.join(
        e, (e.u == wedges.x) & (e.v == wedges.y), "left_anti"
    )
    return e, sym, deg, nonadj


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH {_LP_PROLOGUE},
    scored AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS cn
        FROM nonadj GROUP BY x, y
    )
    SELECT x, y, cn FROM (
        SELECT x, y, cn,
               ROW_NUMBER() OVER (ORDER BY cn DESC, x, y) AS rk
        FROM scored) t
    WHERE rk <= 25
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction (Liben-Nowell & Kleinberg 2003,
    public): for part pairs NEVER co-purchased together, count the parts
    both are co-purchased with — the simplest "you may also like" score.
    Top-25 with a total-order tie-break.

    Scale shape: candidates come from wedge enumeration (sym ⋈ sym on the
    middle node) minus existing edges via LEFT ANTI — work is Σ deg(w)²
    over middle nodes, the triangle-counting bound, never |V|². Hub
    middles dominating that sum are handled in production by the standard
    degree-cap/sampling guard (documented, not needed at fixture scale)."""
    e, sym, deg, nonadj = _spark_link_base(spark, sf_dir)
    scored = nonadj.groupBy("x", "y").agg(F.count("*").cast("long").alias("cn"))
    w = Window.orderBy(F.col("cn").desc(), "x", "y")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 25)
        .select("x", "y", "cn")
    )


@query(
    "graph_adamic_adar",
    oracle=f"""
    WITH {_LP_PROLOGUE},
    scored AS (
        SELECT n.x, n.y,
               ROUND(SUM(1e0 / LN(d.d)), 6) AS aa
        FROM nonadj n JOIN deg d ON d.u = n.w
        WHERE d.d >= 2
        GROUP BY n.x, n.y
    )
    SELECT x, y, aa FROM (
        SELECT x, y, aa,
               ROW_NUMBER() OVER (ORDER BY aa DESC, x, y) AS rk
        FROM scored) t
    WHERE rk <= 25
    """,
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003, public): common
    neighbors weighted by 1/ln(degree) — a shared RARE neighbor is strong
    evidence, a shared hub is weak. Degree-1 middles are excluded (ln 1 =
    0 would divide by zero; a degree-1 node cannot be a common neighbor
    anyway — guard kept for clarity).

    Determinism: per-pair sum of 1/ln(d) doubles, rounded to 6dp before
    ranking; ties break on (x, y).

    Scale shape: same wedge enumeration as graph_common_neighbors plus
    one broadcast-size degree join on the middle node."""
    e, sym, deg, nonadj = _spark_link_base(spark, sf_dir)
    scored = (
        nonadj.join(deg.where(F.col("d") >= 2), nonadj.w == deg.u)
        .groupBy("x", "y")
        .agg(F.round(F.sum(F.lit(1.0) / F.log(F.col("d"))), 6).alias("aa"))
    )
    w = Window.orderBy(F.col("aa").desc(), "x", "y")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 25)
        .select("x", "y", "aa")
    )


@query(
    "graph_jaccard_links",
    oracle=f"""
    WITH {_LP_PROLOGUE},
    cn AS (
        SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
        FROM nonadj GROUP BY x, y
    ),
    scored AS (
        SELECT cn.x, cn.y, cn.c,
               ROUND(cn.c * 1e0 / (dx.d + dy.d - cn.c), 6) AS jac
        FROM cn
        JOIN deg dx ON dx.u = cn.x
        JOIN deg dy ON dy.u = cn.y
    )
    SELECT x, y, c, jac FROM (
        SELECT x, y, c, jac,
               ROW_NUMBER() OVER (ORDER BY jac DESC, x, y) AS rk
        FROM scored) t
    WHERE rk <= 25
    """,
)
def graph_jaccard_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction: |N(x)∩N(y)| / |N(x)∪N(y)|
    for non-adjacent pairs — the degree-normalized variant that doesn't
    favor hubs the way raw common-neighbor counts do. (x,y non-adjacent
    means the union is dx + dy − c exactly: neither node is in the
    other's neighborhood, and simple-graph neighborhoods exclude self.)

    Determinism: one double division rounded to 6dp; ties break (x, y).

    Scale shape: wedge counts + two broadcast-size degree joins."""
    e, sym, deg, nonadj = _spark_link_base(spark, sf_dir)
    cn = nonadj.groupBy("x", "y").agg(F.count("*").cast("long").alias("c"))
    dx = deg.select(F.col("u").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("u").alias("y"), F.col("d").alias("dy"))
    scored = (
        cn.join(dx, "x")
        .join(dy, "y")
        .select(
            "x",
            "y",
            "c",
            F.round(
                F.col("c") * F.lit(1.0) / (F.col("dx") + F.col("dy") - F.col("c")), 6
            ).alias("jac"),
        )
    )
    w = Window.orderBy(F.col("jac").desc(), "x", "y")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 25)
        .select("x", "y", "c", "jac")
    )
