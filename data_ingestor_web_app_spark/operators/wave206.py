"""Wave-206: item-item collaborative filtering (co-rater cosine) and the
Slope One rating-deviation model over the customer x part basket matrix.

The registry's recsys coverage stopped at ALS half-steps and association
rules; these add the two classic memory-based recommenders. Both build
on the same co-rating pair frame: a USER-KEYED self-join, so the pair
explosion is bounded by per-user basket size (the standard item-CF scale
posture — never an item x item cartesian).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_FOCUS = 10  # most-popular items to emit neighbors for
_TOPK = 5
_TOP_PAIRS = 20

_RATINGS_SQL = """ratings AS (
        SELECT o.o_custkey AS u, l.l_partkey AS it,
               CAST(SUM(CAST(FLOOR(l.l_quantity * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS r
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey, l.l_partkey
    ),
    item_n AS (
        SELECT it, CAST(COUNT(*) AS BIGINT) AS n FROM ratings GROUP BY it
    ),
    copairs AS (
        SELECT a.it AS i, b.it AS j,
               CAST(COUNT(*) AS BIGINT) AS support,
               CAST(SUM(a.r - b.r) AS BIGINT) AS diffsum
        FROM ratings a JOIN ratings b
          ON a.u = b.u AND a.it < b.it
        GROUP BY a.it, b.it
    )"""


@query(
    "model_item_cf_cosine",
    oracle=f"""
    WITH {_RATINGS_SQL},
    focus AS (
        SELECT it FROM item_n ORDER BY n DESC, it LIMIT {_FOCUS}
    ),
    nbrs AS (
        SELECT f.it AS focus_item,
               CASE WHEN c.i = f.it THEN c.j ELSE c.i END AS neighbor,
               c.support
        FROM focus f
        JOIN copairs c ON c.i = f.it OR c.j = f.it
    ),
    scored AS (
        SELECT n.focus_item, n.neighbor, n.support,
               n.support / SQRT(CAST(a.n AS DOUBLE) * b.n) AS cosine
        FROM nbrs n
        JOIN item_n a ON a.it = n.focus_item
        JOIN item_n b ON b.it = n.neighbor
    )
    SELECT focus_item, neighbor, support,
           ROUND(cosine, 6) AS cosine,
           CAST(rnk AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY focus_item
              ORDER BY cosine DESC, neighbor) AS rnk
          FROM scored)
    WHERE rnk <= {_TOPK}
    """,
)
def model_item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: binary co-rater cosine
    sim(i,j) = |buyers of both| / sqrt(|buyers i| * |buyers j|), emitting
    the top-{_TOPK} neighbors for the {_FOCUS} most-bought parts. The
    "customers who bought X also bought" model, memory-based variant —
    the workhorse recommender that needs no training loop.

    Determinism: supports and per-item rater counts are exact integers;
    the cosine is one double expression; both top-k orderings carry item
    tie-breaks.

    Scale shape: co-rating pairs come from a USER-keyed self-join (pair
    count bounded by basket size squared per user, never item x item);
    the focus set is a TakeOrdered-{_FOCUS}; neighbor ranking windows
    partition by focus item."""
    ratings = _ratings(spark, sf_dir)
    item_n = ratings.groupBy("it").agg(F.count("*").cast("long").alias("n"))
    focus = (
        item_n.orderBy(F.col("n").desc(), "it")
        .limit(_FOCUS)
        .select(F.col("it").alias("focus_item"))
    )
    # r11 (guide §2.3/§3): generate only the DIRECTED (focus, other) co-rater
    # pairs instead of aggregating the full item x item copairs frame and
    # filtering it with an OR-condition join (a BroadcastNestedLoopJoin over
    # every pair). The original OR join emitted one row per matching focus
    # side — i.e. BOTH directions when two focus items co-occur — which is
    # exactly one row per (focus rating, same-user other rating), so the
    # directed groupBy below reproduces the identical neighbor/support set
    # while the pair aggregation touches ~|focus raters| x basket rows, not
    # every basket-squared pair in the corpus.
    fr = ratings.join(
        F.broadcast(focus), ratings.it == F.col("focus_item")
    ).select("u", F.col("it").alias("fi"))
    nbrs = (
        fr.join(ratings.select("u", F.col("it").alias("oit")), "u")
        .where(F.col("oit") != F.col("fi"))
        .groupBy(
            F.col("fi").alias("focus_item"), F.col("oit").alias("neighbor")
        )
        .agg(F.count("*").cast("long").alias("support"))
    )
    scored = (
        nbrs.join(
            F.broadcast(item_n.select(F.col("it").alias("focus_item"), F.col("n").alias("na"))),
            "focus_item",
        )
        .join(
            F.broadcast(item_n.select(F.col("it").alias("neighbor"), F.col("n").alias("nb"))),
            "neighbor",
        )
        .select(
            "focus_item",
            "neighbor",
            "support",
            (
                F.col("support")
                / F.sqrt(F.col("na").cast("double") * F.col("nb"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("focus_item").orderBy(
        F.col("cosine").desc(), "neighbor"
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOPK)
        .select(
            "focus_item",
            "neighbor",
            "support",
            F.round("cosine", 6).alias("cosine"),
            "rank",
        )
    )


@query(
    "model_slope_one",
    oracle=f"""
    WITH {_RATINGS_SQL}
    SELECT i AS item_i, j AS item_j, support,
           ROUND(diffsum / (100.0e0 * support), 6) AS avg_dev
    FROM copairs
    ORDER BY support DESC, i, j
    LIMIT {_TOP_PAIRS}
    """,
)
def model_slope_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slope One deviation table (Lemire & Maclachlan): for each co-rated
    item pair, the average rating difference dev(i,j) =
    mean(r_ui - r_uj) over shared raters — the entire "model" of the
    simplest competitive rating predictor (predict r_ui = mean over j of
    r_uj + dev(i,j), support-weighted). Emits the {_TOP_PAIRS}
    best-supported pairs; quantities in exact centi-units are the
    rating proxy.

    Determinism: supports and diff sums are exact integers; one rounded
    division; the top-pairs ordering ties on (i, j).

    Scale shape: identical to item-CF — user-keyed self-join bounded by
    basket size; the deviation table is one groupBy over those pairs."""
    copairs = _copairs(_ratings(spark, sf_dir))
    return (
        copairs.select(
            F.col("i").alias("item_i"),
            F.col("j").alias("item_j"),
            "support",
            F.round(
                F.col("diffsum") / (F.lit(100.0) * F.col("support")), 6
            ).alias("avg_dev"),
        )
        .orderBy(F.col("support").desc(), "item_i", "item_j")
        .limit(_TOP_PAIRS)
    )


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("it")
        )
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("r")
        )
    )


def _copairs(ratings: DataFrame) -> DataFrame:
    a = ratings.select("u", F.col("it").alias("i"), F.col("r").alias("ra"))
    b = ratings.select("u", F.col("it").alias("j"), F.col("r").alias("rb"))
    return (
        a.join(b, "u")
        .where(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.count("*").cast("long").alias("support"),
            F.sum(F.col("ra") - F.col("rb")).cast("long").alias("diffsum"),
        )
    )
