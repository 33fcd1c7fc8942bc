"""Wave-359: bin-packing lower bounds L1 and L2 (Martello & Toth,
Knapsack Problems, Wiley 1990) by an exact integer alpha-sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestor_web_app_spark.io import table
from data_ingestor_web_app_spark.registry import query

_C = 1000  # bin capacity


@query(
    "opt_bin_packing_bounds",
    oracle=f"""
    WITH items AS (
        SELECT CAST(1 + CAST(ROUND(o_totalprice * 100) AS BIGINT) % 700
                    AS BIGINT) AS s
        FROM orders
        WHERE EXTRACT(year FROM o_orderdate) = 1998
          AND EXTRACT(month FROM o_orderdate) = 1
    ),
    sizes AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS c FROM items GROUP BY s
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(s * c) AS BIGINT) AS ssum
        FROM sizes
    ),
    alphas AS (
        SELECT DISTINCT s AS a FROM sizes WHERE s <= {_C} // 2
        UNION SELECT 0
    ),
    sweep AS (
        SELECT al.a,
               CAST(SUM(CASE WHEN z.s > {_C} - al.a THEN z.c ELSE 0 END)
                    AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN z.s > {_C} // 2 AND z.s <= {_C} - al.a
                             THEN z.c ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN z.s > {_C} // 2 AND z.s <= {_C} - al.a
                             THEN z.s * z.c ELSE 0 END) AS BIGINT) AS s2,
               CAST(SUM(CASE WHEN z.s >= al.a AND z.s <= {_C} // 2
                             THEN z.s * z.c ELSE 0 END) AS BIGINT) AS s3
        FROM alphas al CROSS JOIN sizes z
        GROUP BY al.a
    ),
    l2s AS (
        SELECT a,
               n1 + n2 + CASE WHEN s3 - (n2 * {_C} - s2) > 0
                              THEN (s3 - (n2 * {_C} - s2) + {_C} - 1)
                                   // {_C}
                              ELSE 0 END AS l2a
        FROM sweep
    ),
    best AS (SELECT MAX(l2a) AS l2 FROM l2s)
    SELECT tot.n AS n_items,
           CAST({_C} AS BIGINT) AS capacity,
           CAST((tot.ssum + {_C} - 1) // {_C} AS BIGINT) AS l1_bound,
           CAST(best.l2 AS BIGINT) AS l2_bound,
           CAST((SELECT MIN(a) FROM l2s, best WHERE l2s.l2a = best.l2)
                AS BIGINT) AS alpha_star,
           best.l2 >= (tot.ssum + {_C} - 1) // {_C} AS l2_dominates
    FROM tot, best
    """,
)
def opt_bin_packing_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-packing lower bounds (Martello & Toth 1990): L1 = ⌈Σs/C⌉
    (the continuous bound) and L2 = max_α over item sizes ≤ C/2 of
    N1(α) + N2(α) + ⌈max(0, S3 − (N2·C − S2))/C⌉ — large items
    (> C−α) each take a bin, half-open items (C/2, C−α] take a bin
    with their slack credited, and the small mass ≥ α fills what's
    left. Items are January-1998 orders with key-mixed sizes,
    capacity {_C}. The Martello-Toth dominance L2 ≥ L1 is audited in
    the output and pinned in pytest together with a first-fit
    feasibility upper bound.

    Determinism: sizes, counts, and both bounds are pure integer
    arithmetic; the α argmax has a smallest-α tie-break.

    Scale shape: one size-histogram groupBy collapses the items; the
    α-sweep is distinct-sizes × distinct-sizes (bounded by the ≤700
    size alphabet, never item count)."""
    items = (
        table(spark, sf_dir, "orders")
        .where(
            (F.year("o_orderdate") == 1998) & (F.month("o_orderdate") == 1)
        )
        .select(
            (
                1 + F.round(F.col("o_totalprice") * 100).cast("long") % 700
            )
            .cast("long")
            .alias("s")
        )
    )
    sizes = items.groupBy("s").agg(F.count("*").cast("long").alias("c"))
    tot = sizes.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("s") * F.col("c")).cast("long").alias("ssum"),
    )
    alphas = (
        sizes.where(F.col("s") <= _C // 2)
        .select(F.col("s").alias("a"))
        .distinct()
        .unionAll(
            items.sparkSession.range(1).select(
                F.lit(0).cast("long").alias("a")
            )
        )
        .distinct()
    )
    z = sizes.select(F.col("s").alias("zs"), F.col("c").alias("zc"))
    sweep = (
        alphas.crossJoin(z)
        .groupBy("a")
        .agg(
            F.sum(F.when(F.col("zs") > _C - F.col("a"), F.col("zc")).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(
                F.when(
                    (F.col("zs") > _C // 2)
                    & (F.col("zs") <= _C - F.col("a")),
                    F.col("zc"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("n2"),
            F.sum(
                F.when(
                    (F.col("zs") > _C // 2)
                    & (F.col("zs") <= _C - F.col("a")),
                    F.col("zs") * F.col("zc"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("s2"),
            F.sum(
                F.when(
                    (F.col("zs") >= F.col("a")) & (F.col("zs") <= _C // 2),
                    F.col("zs") * F.col("zc"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("s3"),
        )
    )
    resid = F.col("s3") - (F.col("n2") * _C - F.col("s2"))
    l2a = F.col("n1") + F.col("n2") + F.when(
        resid > 0, F.floor((resid + _C - 1) / _C).cast("long")
    ).otherwise(0)
    l2s = sweep.select("a", l2a.alias("l2a"))
    best = l2s.agg(F.max("l2a").alias("l2"))
    astar = (
        l2s.crossJoin(F.broadcast(best))
        .where(F.col("l2a") == F.col("l2"))
        .agg(F.min("a").cast("long").alias("alpha_star"))
    )
    l1 = F.floor((F.col("ssum") + _C - 1) / _C).cast("long")
    return (
        tot.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(astar))
        .select(
            F.col("n").alias("n_items"),
            F.lit(_C).cast("long").alias("capacity"),
            l1.alias("l1_bound"),
            F.col("l2").cast("long").alias("l2_bound"),
            "alpha_star",
            (F.col("l2") >= l1).alias("l2_dominates"),
        )
    )
