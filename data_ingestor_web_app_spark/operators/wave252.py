"""Wave-252: bounded-radius k-nearest-neighbor join via grid blocking
(the join_spatial_grid device extended from radius-join to kNN), and the
LIFO/FIFO cost-allocation comparison with the LIFO reserve (extending
warehouse_fifo_cogs' window allocator, wave181.py:20).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_KNN_K = 3
_KNN_R = 4.0  # L-inf search radius = 2 grid cells of size 2


@query(
    "spatial_knn_bounded",
    oracle=f"""
    WITH pts AS (
        SELECT event_id AS pid, value AS x,
               CAST(user_id AS DOUBLE) AS y
        FROM events WHERE event_id < 2000
    ),
    queries AS (SELECT * FROM pts WHERE pid < 40),
    cand AS (
        SELECT q.pid AS qid, p.pid,
               (q.x - p.x) * (q.x - p.x) + (q.y - p.y) * (q.y - p.y) AS d2
        FROM queries q JOIN pts p
          ON p.pid <> q.pid
         AND ABS(p.x - q.x) <= {_KNN_R!r} AND ABS(p.y - q.y) <= {_KNN_R!r}
    ),
    ranked AS (
        SELECT qid, pid, d2,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY d2, pid) AS rk
        FROM cand
    )
    SELECT qid, CAST(rk AS BIGINT) AS rk, pid,
           ROUND(SQRT(d2), 6) AS dist
    FROM ranked WHERE rk <= {_KNN_K}
    """,
)
def spatial_knn_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius k-nearest-neighbor join (k=3 within L-inf radius
    4): for each query point, the k closest points no farther than R in
    either coordinate — the semantics every distributed kNN actually
    ships (PostGIS KNN with a bounding box, ES geo knn with a filter),
    because unbounded kNN cannot be blocked. Spark side: points land in
    R-sized grid cells, queries replicate to their 3x3 cell
    neighborhood (which EXACTLY covers the L-inf ball — no recall
    loss), candidates join ON THE CELL KEY, and a per-query top-k
    window finishes. The oracle is the brute-force theta-join.

    Determinism: the top-k has a total order (d2, pid); the squared
    distance is one identical chain; dist rounds once.

    Scale shape: constant 9x query replication, equi-join on cell id,
    per-query window — skew is ordinary key skew (AQE-splittable), and
    the plan never degenerates to all-pairs."""
    cell = _KNN_R
    pts = (
        table(spark, sf_dir, "events")
        .where(F.col("event_id") < 2000)
        .select(
            F.col("event_id").alias("pid"),
            F.col("value").alias("x"),
            F.col("user_id").cast("double").alias("y"),
        )
        .withColumn("cx", F.floor(F.col("x") / cell))
        .withColumn("cy", F.floor(F.col("y") / cell))
    )
    offsets = F.expr(
        "explode(transform(sequence(0, 8),"
        " i -> struct(i div 3 - 1 as dx, i % 3 - 1 as dy)))"
    )
    q = (
        pts.where(F.col("pid") < 40)
        .select(
            F.col("pid").alias("qid"),
            F.col("x").alias("qx"),
            F.col("y").alias("qy"),
            "cx",
            "cy",
            offsets.alias("o"),
        )
        .select(
            "qid",
            "qx",
            "qy",
            (F.col("cx") + F.col("o.dx")).alias("cx"),
            (F.col("cy") + F.col("o.dy")).alias("cy"),
        )
    )
    cand = (
        q.join(pts, ["cx", "cy"])
        .where(
            (F.col("pid") != F.col("qid"))
            & (F.abs(F.col("x") - F.col("qx")) <= _KNN_R)
            & (F.abs(F.col("y") - F.col("qy")) <= _KNN_R)
        )
        .select(
            "qid",
            "pid",
            (
                (F.col("qx") - F.col("x")) * (F.col("qx") - F.col("x"))
                + (F.col("qy") - F.col("y")) * (F.col("qy") - F.col("y"))
            ).alias("d2"),
        )
    )
    ranked = cand.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy("d2", "pid")
        ),
    )
    return ranked.where(F.col("rk") <= _KNN_K).select(
        "qid",
        F.col("rk").cast("long").alias("rk"),
        "pid",
        F.round(F.sqrt("d2"), 6).alias("dist"),
    )


@query(
    "warehouse_lifo_reserve",
    oracle="""
    WITH layers AS (
        SELECT l_partkey,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cost_cents,
               STRFTIME(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS d,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    cum AS (
        SELECT l_partkey, qty, cost_cents,
               SUM(qty) OVER (PARTITION BY l_partkey
                              ORDER BY d, l_orderkey, l_linenumber,
                                       cost_cents, qty
                              ROWS UNBOUNDED PRECEDING) - qty AS fifo_before,
               SUM(qty) OVER (PARTITION BY l_partkey
                              ORDER BY d DESC, l_orderkey DESC,
                                       l_linenumber DESC,
                                       cost_cents DESC, qty DESC
                              ROWS UNBOUNDED PRECEDING) - qty AS lifo_before,
               SUM(qty) OVER (PARTITION BY l_partkey) AS total_qty
        FROM layers
    ),
    alloc AS (
        SELECT l_partkey, total_qty, total_qty // 2 AS demand,
               GREATEST(0, LEAST(qty, total_qty // 2 - fifo_before))
                   AS c_fifo,
               GREATEST(0, LEAST(qty, total_qty // 2 - lifo_before))
                   AS c_lifo,
               qty, cost_cents
        FROM cum
    )
    SELECT l_partkey AS part_key,
           CAST(MIN(total_qty) AS BIGINT) AS total_qty,
           CAST(SUM(c_fifo * cost_cents // qty) AS BIGINT)
               AS cogs_fifo_cents,
           CAST(SUM(c_lifo * cost_cents // qty) AS BIGINT)
               AS cogs_lifo_cents,
           CAST(SUM(c_lifo * cost_cents // qty)
                - SUM(c_fifo * cost_cents // qty) AS BIGINT)
               AS lifo_reserve_cents
    FROM alloc
    GROUP BY l_partkey
    """,
)
def warehouse_lifo_reserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIFO vs FIFO cost allocation and the LIFO reserve (ASC 330 /
    Davis & Wilson inventory-accounting framing, public): the same
    half-of-total demand consumed against receipt layers LAST-in-first-
    out and FIRST-in-first-out, both as closed-form clamps over ONE
    partitioned frame carrying two opposite-order cumulative windows
    (warehouse_fifo_cogs' allocator, run both directions at once). The
    reserve = COGS_LIFO - COGS_FIFO is the disclosure number: under
    rising prices LIFO charges newer, costlier layers to COGS.

    Determinism: the wave-181 discipline — integral quantities, exact
    cents, totally ordered windows (value tie-breaks make duplicated
    line identities order-invariant), floor-div apportionment.

    Scale shape: one l_partkey shuffle; BOTH cumulative windows and the
    final rollup reuse that partitioning (single-exchange plan)."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cost_cents"),
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM-dd").alias(
            "d"
        ),
        "l_orderkey",
        "l_linenumber",
    )
    asc = [
        F.col("d"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("cost_cents"),
        F.col("qty"),
    ]
    desc = [c.desc() for c in asc]
    w_fifo = (
        Window.partitionBy("l_partkey")
        .orderBy(*asc)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lifo = (
        Window.partitionBy("l_partkey")
        .orderBy(*desc)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("l_partkey")
    cum = li.select(
        "l_partkey",
        "qty",
        "cost_cents",
        (F.sum("qty").over(w_fifo) - F.col("qty")).alias("fifo_before"),
        (F.sum("qty").over(w_lifo) - F.col("qty")).alias("lifo_before"),
        F.sum("qty").over(w_tot).alias("total_qty"),
    )
    demand = F.floor(F.col("total_qty") / 2).cast("long")
    c_fifo = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("qty"), demand - F.col("fifo_before")),
    )
    c_lifo = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("qty"), demand - F.col("lifo_before")),
    )
    alloc = cum.select(
        "l_partkey",
        "total_qty",
        "qty",
        "cost_cents",
        c_fifo.alias("c_fifo"),
        c_lifo.alias("c_lifo"),
    )
    fifo_cents = F.sum(
        F.expr("c_fifo * cost_cents div qty")
    ).cast("long")
    lifo_cents = F.sum(
        F.expr("c_lifo * cost_cents div qty")
    ).cast("long")
    return alloc.groupBy(F.col("l_partkey").alias("part_key")).agg(
        F.min("total_qty").cast("long").alias("total_qty"),
        fifo_cents.alias("cogs_fifo_cents"),
        lifo_cents.alias("cogs_lifo_cents"),
        (lifo_cents - fifo_cents).cast("long").alias("lifo_reserve_cents"),
    )
